package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class LayoutSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("mortonKey: hand-computed interleavings, wrap, null passthrough") {
    val df = Seq((1L, 0L), (0L, 1L), (3L, 5L), (65536L + 3L, 5L)).toDF("x", "y")
    val got = df.select(Layout.mortonKey(col("x"), col("y"))).as[Long].collect()
    // morton(3,5): i0 -> (1 + 2*1)*1 = 3; i1 -> (1 + 0)*4 = 4; i2 -> (0 + 2)*16 = 32
    assert(got.toSeq == Seq(1L, 2L, 39L, 39L)) // 65539 wraps to 3
    val n = Seq((Option.empty[Long], Option(1L))).toDF("x", "y")
      .select(Layout.mortonKey(col("x"), col("y"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("zOrderLayoutAudit: buckets are the tight quadrants of the grid") {
    // full 4x4 grid at bits=2, bucketBits=2 -> each bucket is one 2x2 quadrant
    val grid = (for (x <- 0L until 4L; y <- 0L until 4L) yield (x, y)).toDF("x", "y")
    val got = Layout.zOrderLayoutAudit(grid, "x", "y", bits = 2, bucketBits = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet == Set(0L, 1L, 2L, 3L))
    assert(got(0L) == ((4L, 0L, 1L, 0L, 1L))) // x in [0,1], y in [0,1]
    assert(got(1L) == ((4L, 2L, 3L, 0L, 1L)))
    assert(got(2L) == ((4L, 0L, 1L, 2L, 3L)))
    assert(got(3L) == ((4L, 2L, 3L, 2L, 3L)))
  }

  test("z-order rectangles beat a single-key layout on the second dimension") {
    // 32x32 grid: single-key ranges are full-width on y; z-buckets are not
    val grid = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    val z = Layout.zOrderLayoutAudit(grid, "x", "y", bits = 5, bucketBits = 4)
      .collect().map(r => (r.getLong(3) - r.getLong(2), r.getLong(5) - r.getLong(4)))
    // every bucket's rectangle is a quarter of the keyspace per dimension
    assert(z.forall { case (xe, ye) => xe <= 7L && ye <= 7L })
  }

  test("compactionPlan: contiguous start-offset binning per directory") {
    val man = Seq(
      ("a", "p0", 100L), ("a", "p1", 100L), ("a", "p2", 300L), ("a", "p3", 50L),
      ("b", "q0", 5000L), ("b", "q1", 10L)
    ).toDF("dir", "path", "bytes")
    val got = Layout.compactionPlan(man, "dir", "path", "bytes", targetBytes = 250L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    // dir a starts: 0, 100, 200, 500 -> groups 0, 0, 0, 2 (group 1 empty:
    // p2 straddles the 250 boundary but files are atomic)
    assert(got == Map(
      ("a", "p0") -> 0L, ("a", "p1") -> 0L, ("a", "p2") -> 0L, ("a", "p3") -> 2L,
      // an oversized file keeps a group to itself; its successor starts a new one
      ("b", "q0") -> 0L, ("b", "q1") -> 20L))
    // append-stability: new files at the end never reshuffle earlier groups
    val appended = man.union(Seq(("a", "p4", 10L)).toDF("dir", "path", "bytes"))
    val got2 = Layout.compactionPlan(appended, "dir", "path", "bytes", 250L)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(3)).toMap
    assert(got.forall { case (k, g) => got2(k) == g } && got2(("a", "p4")) == 2L)
  }

  test("compactionSummary: per-group file counts, byte mass, path range") {
    val man = Seq(
      ("a", "p0", 100L), ("a", "p1", 100L), ("a", "p2", 300L), ("a", "p3", 50L)
    ).toDF("dir", "path", "bytes")
    val got = Layout.compactionSummary(man, "dir", "path", "bytes", 250L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(got == Map(
      ("a", 0L) -> ((3L, 500L, "p0", "p2")),
      ("a", 2L) -> ((1L, 50L, "p3", "p3"))))
  }
}
