package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Cleaning.qcol

/** Data-contract validation — the ingest gate a pipeline runs before
  * anything downstream trusts a delivery (beyond-reference, the QC
  * sibling of the profile/drift family): referential integrity between
  * fact and dimension tables, counted exactly in one pass per rule.
  * A violation here means silently dropped rows in every inner join
  * downstream — the failure mode that looks like "the numbers are a
  * bit low" and costs days.
  */
object Contracts {

  /** Referential-integrity audit: one summary row per call —
    * `(rule, n_child, n_null_keys, n_orphans)` where an orphan is a
    * NON-NULL child key with no matching parent key (null keys are
    * counted separately: they are a different contract violation with
    * a different fix). Compose several calls with `union` for the
    * delivery-level contract report.
    *
    * Scale: the parent side reduces to DISTINCT keys first (dimension
    * keys are the small side — broadcast when they fit), then ONE left
    * join + ONE aggregate over the child. Never an anti-join pass per
    * rule on top of a count pass — one scan of the child covers all
    * three counters.
    */
  def referentialAudit(
      child: DataFrame, childKey: String,
      parent: DataFrame, parentKey: String, rule: String): DataFrame = {
    val c = child.select(qcol(childKey).as("__ck"))
    val p = parent.select(qcol(parentKey).as("__ck"))
      .filter(col("__ck").isNotNull).distinct()
      .withColumn("__hit", lit(1L))
    c.join(p, Seq("__ck"), "left")
      .agg(
        count(lit(1)).as("n_child"),
        coalesce(sum(when(col("__ck").isNull, 1L)), lit(0L)).as("n_null_keys"),
        coalesce(sum(when(col("__ck").isNotNull && col("__hit").isNull, 1L)), lit(0L))
          .as("n_orphans"))
      .select(lit(rule).as("rule"), col("n_child"), col("n_null_keys"),
        col("n_orphans"))
  }

  /** Compound-key uniqueness audit — the dbt `unique` test at delivery
    * grain: `(rule, n_rows, n_null_keys, n_distinct, n_dupe_keys,
    * n_dupe_rows)` where a null key is a row with ANY null component
    * (its own violation class, as in [[referentialAudit]]),
    * `n_dupe_keys` counts keys seen more than once, and `n_dupe_rows`
    * counts the EXCESS rows (rows − distinct over non-null keys) — the
    * number a dedup step would delete.
    *
    * Scale: one hash aggregate on the key tuple (map-side partials) to
    * |keys| rows, then one summary aggregate — never a window or a
    * self-join.
    */
  def uniquenessAudit(
      df: DataFrame, keyCols: Seq[String], rule: String): DataFrame = {
    require(keyCols.nonEmpty, "uniquenessAudit: keyCols must be non-empty")
    val anyNull = keyCols.map(c => qcol(c).isNull).reduce(_ || _)
    val perKey = df.withColumn("__isnull", anyNull)
      .groupBy(col("__isnull") +: keyCols.map(qcol): _*)
      .agg(count(lit(1)).as("__c"))
    perKey.agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("__isnull"), col("__c"))), lit(0L)).as("n_null_keys"),
        coalesce(sum(when(!col("__isnull"), 1L)), lit(0L)).as("n_distinct"),
        coalesce(sum(when(!col("__isnull") && col("__c") > 1L, 1L)), lit(0L))
          .as("n_dupe_keys"),
        coalesce(sum(when(!col("__isnull"), col("__c") - 1L)), lit(0L))
          .as("n_dupe_rows"))
      .select(lit(rule).as("rule"), col("n_rows"), col("n_null_keys"),
        col("n_distinct"), col("n_dupe_keys"), col("n_dupe_rows"))
  }

  /** Enum-domain audit — the dbt `accepted_values` test: `(rule,
    * n_rows, n_null, n_invalid, n_invalid_values, min_invalid)` where
    * an invalid row holds a NON-NULL value outside `allowed` (nulls are
    * their own class), `n_invalid_values` counts the distinct offending
    * values and `min_invalid` names the lexicographically first one —
    * a deterministic witness, not a sample.
    *
    * Scale: one hash aggregate on the (small by contract) value domain,
    * then one summary aggregate — the value column of an enum audit is
    * categorical by definition.
    */
  def enumDomainAudit(
      df: DataFrame, colName: String, allowed: Seq[String],
      rule: String): DataFrame = {
    require(allowed.nonEmpty, "enumDomainAudit: allowed must be non-empty")
    val v = qcol(colName).cast("string")
    val perVal = df.select(v.as("__v")).groupBy(col("__v"))
      .agg(count(lit(1)).as("__c"))
      .withColumn("__bad", col("__v").isNotNull && !col("__v").isin(allowed: _*))
    perVal.agg(
        coalesce(sum(col("__c")), lit(0L)).as("n_rows"),
        coalesce(sum(when(col("__v").isNull, col("__c"))), lit(0L)).as("n_null"),
        coalesce(sum(when(col("__bad"), col("__c"))), lit(0L)).as("n_invalid"),
        coalesce(sum(when(col("__bad"), 1L)), lit(0L)).as("n_invalid_values"),
        min(when(col("__bad"), col("__v"))).as("min_invalid"))
      .select(lit(rule).as("rule"), col("n_rows"), col("n_null"),
        col("n_invalid"), col("n_invalid_values"), col("min_invalid"))
  }

  /** Numeric range audit — the dbt `accepted_range` test on an
    * integral column: `(rule, n_rows, n_null, n_below, n_above, min_v,
    * max_v)`. Values compare on the long cast (the
    * [[sequenceGapAudit]] integral contract; a non-numeric column
    * fails the cast loudly under ANSI).
    *
    * Scale: ONE aggregate, no shuffle beyond the final reduce. */
  def rangeAudit(
      df: DataFrame, colName: String, lo: Long, hi: Long,
      rule: String): DataFrame = {
    require(lo <= hi, s"rangeAudit: lo=$lo must be <= hi=$hi")
    val v = qcol(colName).cast("long")
    df.agg(
        count(lit(1)).as("n_rows"),
        coalesce(sum(when(v.isNull, 1L)), lit(0L)).as("n_null"),
        coalesce(sum(when(v < lo, 1L)), lit(0L)).as("n_below"),
        coalesce(sum(when(v > hi, 1L)), lit(0L)).as("n_above"),
        min(v).as("min_v"), max(v).as("max_v"))
      .select(lit(rule).as("rule"), col("n_rows"), col("n_null"),
        col("n_below"), col("n_above"), col("min_v"), col("max_v"))
  }

  /** Freshness audit — "did this delivery actually bring new data?":
    * `(rule, n_rows, max_epoch_us, lag_s, is_fresh)` where `lag_s` is
    * the whole seconds between the newest timestamp and `asOfEpochUs`
    * (the caller's clock — passed in, never read inside the plan, so
    * the audit replays deterministically) and `is_fresh` compares it
    * against `maxLagSec`. An empty/all-null delivery is stale by
    * definition (NULL max → lag NULL → is_fresh false).
    *
    * Scale: ONE aggregate. */
  def freshnessAudit(
      df: DataFrame, tsCol: String, asOfEpochUs: Long, maxLagSec: Long,
      rule: String): DataFrame = {
    require(maxLagSec >= 0, "freshnessAudit: maxLagSec must be >= 0")
    df.agg(
        count(lit(1)).as("n_rows"),
        max(unix_micros(qcol(tsCol))).as("max_epoch_us"))
      .select(lit(rule).as("rule"), col("n_rows"), col("max_epoch_us"),
        // integer div, truncating toward zero; the oracle replays the
        // possibly-negative case (future timestamps) via the
        // sign-factored // form — the x_ts_trend pattern
        expr(s"(${asOfEpochUs}L - max_epoch_us) div 1000000L").as("lag_s"))
      .withColumn("is_fresh",
        coalesce(col("lag_s") <= maxLagSec, lit(false)))
  }

  /** Row-count reconciliation between two pipeline stages — the "did
    * the transform lose rows" gate (source vs sink, pre-dedup vs the
    * expected survivor count, yesterday's partition vs today's):
    * one row (rule, n_src, n_dst, delta = n_dst − n_src, drift_micro =
    * |delta|·1e6 div n_src — NULL on an empty source, within_tolerance
    * against the caller's budget; an empty source reconciles only with
    * an empty sink). A zero-tolerance call is the exact-count
    * assertion; a positive one tolerates sampled/filtered stages with
    * a declared budget.
    *
    * Scale: ONE count aggregate per side, cross-joined at one row
    * each — never a join of the frames themselves.
    */
  def reconciliationAudit(
      src: DataFrame, dst: DataFrame, rule: String,
      toleranceMicro: Long = 0L): DataFrame = {
    require(toleranceMicro >= 0, "reconciliationAudit: toleranceMicro must be >= 0")
    src.agg(count(lit(1)).as("n_src"))
      .crossJoin(dst.agg(count(lit(1)).as("n_dst")))
      .select(lit(rule).as("rule"), col("n_src"), col("n_dst"),
        (col("n_dst") - col("n_src")).as("delta"),
        when(col("n_src") > 0L,
          expr("(abs(n_dst - n_src) * 1000000L) div n_src")).as("drift_micro"))
      .withColumn("within_tolerance",
        when(col("n_src") > 0L, col("drift_micro") <= toleranceMicro)
          .otherwise(col("n_dst") === 0L))
  }

  /** Id-sequence gap/duplicate audit — the completeness side of the
    * contract: a surrogate-key column that should be dense (event ids,
    * row sequence numbers) is summarized as
    * `(rule, n_rows, n_distinct, min_id, max_id, n_missing, n_dupes)`
    * where `n_missing = span − distinct` (ids absent from the range)
    * and `n_dupes = rows − distinct`. Nonzero missing on a
    * should-be-dense key means a delivery dropped rows upstream.
    *
    * Scale: ONE aggregate (count-distinct adds its standard two-phase
    * expand); no window, no join.
    */
  def sequenceGapAudit(df: DataFrame, idCol: String, rule: String): DataFrame =
    df.filter(qcol(idCol).isNotNull)
      .agg(
        count(lit(1)).as("n_rows"),
        // distinct over the SAME long cast as min/max: a non-integral
        // id column (strings '01' vs '1') would otherwise make
        // n_missing/n_dupes internally inconsistent. A non-numeric id
        // column fails the cast loudly (ANSI) on every counter alike —
        // the audit's contract is an integral sequence
        countDistinct(qcol(idCol).cast("long")).as("n_distinct"),
        min(qcol(idCol).cast("long")).as("min_id"),
        max(qcol(idCol).cast("long")).as("max_id"))
      .select(lit(rule).as("rule"), col("n_rows"), col("n_distinct"),
        col("min_id"), col("max_id"),
        (col("max_id") - col("min_id") + 1L - col("n_distinct")).as("n_missing"),
        (col("n_rows") - col("n_distinct")).as("n_dupes"))
}
