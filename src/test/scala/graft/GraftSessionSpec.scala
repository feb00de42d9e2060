package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** The one session factory: what every entry point's session carries,
  * and that no entry point builds its own. */
class GraftSessionSpec extends AnyFunSuite {

  test("a factory-built session runs UTC with nanosAsLong and graft's SQL functions registered") {
    val spark = SparkTestSession.spark
    spark.sessionState.functionRegistry.dropFunction(FunctionIdentifier("cosine_sim"))
    assert(!spark.catalog.functionExists("cosine_sim"))
    // one SparkContext per JVM: the factory hands back the running
    // session, and registers the functions on it again
    val s = GraftSession(4)
    assert(s eq spark)
    assert(s.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(s.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(s.catalog.functionExists("cosine_sim"))
    assert(s.sql("SELECT cosine_sim(array(1.0D, 0.0D), array(1.0D, 0.0D))").head().getDouble(0) == 1.0)
  }

  test("no file in src/main but GraftSession.scala calls SparkSession.builder") {
    val main = Paths.get("src/main")
    assert(Files.isRegularFile(main.resolve("scala/graft/GraftSession.scala")))
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val copies = Files.walk(main).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
      .filter(p => builder.findFirstIn(Files.readString(p)).isDefined)
      .toList
    assert(copies.isEmpty, s"build the session with GraftSession instead: ${copies.mkString(", ")}")
  }
}
