package graft

import org.scalatest.funsuite.AnyFunSuite

/** Input checks of the command-line mains. */
class CliSpec extends AnyFunSuite {

  test("Main flags: the six documented flags parse; unknown or unpaired ones fail, named") {
    val all = Main.parseArgs(Seq("--input", "w.csv", "--config", "m.json",
      "--codebook", "cb.csv", "--out", "o", "--format", "csv", "--save-config", "d.json"))
    assert(all == Map("input" -> "w.csv", "config" -> "m.json", "codebook" -> "cb.csv",
      "out" -> "o", "format" -> "csv", "save-config" -> "d.json"))
    def rejects(args: String*)(named: String): Unit = {
      val e = intercept[IllegalArgumentException](Main.parseArgs(args))
      assert(e.getMessage.contains(named), e.getMessage)
    }
    rejects("--input", "w.csv", "--ouput", "o")("--ouput")
    rejects("--input", "w.csv", "--out")("--out")
    rejects("--input", "--out", "o")("--input")
    rejects("w.csv", "--input", "w.csv")("w.csv")
  }

  test("Explain registers graft's SQL functions on its session") {
    val s = SparkTestSession.spark.newSession()
    assert(!s.catalog.functionExists("cosine_sim"))
    Explain.run(s, "unused", Nil)
    assert(s.catalog.functionExists("cosine_sim"))
  }
}
