package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Referential-integrity audit: orphans and null keys are separate
  * counters, and a consistent pair reports clean.
  */
class ContractsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("referentialAudit: orphans vs null keys, clean pair reports zeros") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(2L), Some(9L), Some(8L), None)
      .toDF("fk")
    val r = Contracts.referentialAudit(child, "fk", parent, "pk", "child->parent")
      .collect().head
    assert(r.getString(0) === "child->parent")
    assert(r.getLong(1) === 6L)  // n_child counts every row incl. null key
    assert(r.getLong(2) === 1L)  // one null key
    assert(r.getLong(3) === 2L)  // 9 and 8 are orphans
    val clean = Contracts.referentialAudit(
      Seq(1L, 2L).toDF("fk"), "fk", parent, "pk", "ok").collect().head
    assert((clean.getLong(1), clean.getLong(2), clean.getLong(3)) === ((2L, 0L, 0L)))
  }

  test("sequenceGapAudit: missing = span - distinct, dupes = rows - distinct") {
    val df = Seq(1L, 2L, 2L, 5L, 7L).toDF("id")
    val r = Contracts.sequenceGapAudit(df, "id", "events-dense").collect().head
    assert(r.getString(0) === "events-dense")
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) === ((5L, 4L, 1L, 7L)))
    assert(r.getLong(5) === 3L) // 3, 4, 6 missing
    assert(r.getLong(6) === 1L) // one duplicate
  }

  test("referentialAudit: duplicate parent keys never inflate the child count") {
    val parent = Seq(1L, 1L, 1L, 2L).toDF("pk")
    val child = Seq(1L, 1L, 2L, 3L).toDF("fk")
    val r = Contracts.referentialAudit(child, "fk", parent, "pk", "dup-parent")
      .collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((4L, 0L, 1L)))
  }

  test("uniquenessAudit: compound key, null components their own class, excess rows counted") {
    val df = Seq(
      (Some(1L), "a"), (Some(1L), "a"), (Some(1L), "a"), // 3x same key
      (Some(1L), "b"),                                   // unique
      (Some(2L), "a"), (Some(2L), "a"),                  // 2x same key
      (None, "a"), (None, "a")                           // null component rows
    ).toDF("k1", "k2")
    val r = Contracts.uniquenessAudit(df, Seq("k1", "k2"), "pk").collect().head
    assert(r.getString(0) === "pk")
    assert(r.getLong(1) === 8L)  // n_rows
    assert(r.getLong(2) === 2L)  // n_null_keys (any-null rows)
    assert(r.getLong(3) === 3L)  // n_distinct non-null keys
    assert(r.getLong(4) === 2L)  // n_dupe_keys: (1,a) and (2,a)
    assert(r.getLong(5) === 3L)  // n_dupe_rows: 2 excess of (1,a) + 1 of (2,a)
  }

  test("enumDomainAudit: invalid values counted with a deterministic witness") {
    val df = Seq(Some("ok"), Some("ok"), Some("bad2"), Some("bad1"),
      Some("bad1"), None).toDF("v")
    val r = Contracts.enumDomainAudit(df, "v", Seq("ok", "fine"), "enum").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((6L, 1L, 3L, 2L)))
    assert(r.getString(5) === "bad1") // min, not a sample
    val clean = Contracts.enumDomainAudit(
      Seq("ok", "fine").toDF("v"), "v", Seq("ok", "fine"), "c").collect().head
    assert((clean.getLong(3), clean.getLong(4)) === ((0L, 0L)))
    assert(clean.isNullAt(5))
  }

  test("rangeAudit: both-sided violations, nulls separate, long-cast extremes") {
    val df = Seq(Some(1L), Some(5L), Some(45L), Some(46L), Some(100L), None)
      .toDF("v")
    val r = Contracts.rangeAudit(df, "v", 5L, 45L, "range").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ===
      ((6L, 1L, 1L, 2L)))
    assert((r.getLong(5), r.getLong(6)) === ((1L, 100L)))
  }

  test("freshnessAudit: lag vs a passed-in as-of; empty delivery is stale") {
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val df = Seq((1L, ts)).toDF("id", "ts")
    val asOf = 1704067200000000L + 7200L * 1000000L // as-of = max ts + 2h
    val fresh = Contracts.freshnessAudit(df, "ts", asOf, 86400L, "daily").collect().head
    assert(fresh.getLong(1) === 1L && fresh.getLong(3) === 7200L)
    assert(fresh.getBoolean(4))
    val stale = Contracts.freshnessAudit(df, "ts", asOf, 3600L, "hourly").collect().head
    assert(!stale.getBoolean(4))
    val empty = Contracts.freshnessAudit(df.filter("id < 0"), "ts", asOf, 86400L, "none")
      .collect().head
    assert(empty.getLong(1) === 0L && !empty.getBoolean(4))
  }

  test("reconciliationAudit: drift vs source, tolerance boundary, empty-source semantics") {
    val src = spark.range(100).toDF("id")
    val dst = src.filter("id <> 0")
    def run(s: org.apache.spark.sql.DataFrame, d: org.apache.spark.sql.DataFrame, tol: Long) =
      Contracts.reconciliationAudit(s, d, "r", tol).collect().head
    val r = run(src, dst, 10000L) // 1 of 100 lost = exactly 10000 micro
    assert(r.getLong(1) === 100L && r.getLong(2) === 99L && r.getLong(3) === -1L)
    assert(r.getLong(4) === 10000L && r.getBoolean(5), "boundary is inclusive")
    assert(!run(src, dst, 9999L).getBoolean(5))
    // growth counts as drift too (a duplicating join is also a bug)
    assert(!run(dst, src, 0L).getBoolean(5))
    // empty source: drift undefined; reconciles only with an empty sink
    val none = src.filter("id < 0")
    val e1 = run(none, none, 0L)
    assert(e1.isNullAt(4) && e1.getBoolean(5))
    assert(!run(none, src, 1000000L).getBoolean(5))
    intercept[IllegalArgumentException](Contracts.reconciliationAudit(src, dst, "r", -1L))
  }
}
