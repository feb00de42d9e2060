package graft.scale

import org.apache.spark.sql.DataFrame

/** Materialization barrier for frames a query consumes through MORE
  * THAN ONE downstream branch (both sides of a self-join, a sizing
  * pass plus the join it guards, an audit fan-out) — without a barrier
  * each branch re-executes the whole upstream segment, which for the
  * dedup/e2e compositions means re-running tokenize+shingle text
  * passes per branch (measured 2–5× in rounds 11–14).
  *
  * The barrier is `localCheckpoint(eager = false)` by default (the
  * round-14 advice fix): the logical plan is truncated at CONSTRUCTION
  * time — so iterative callers keep bounded plans — but no Spark job
  * runs until a real action needs the frame, so `explain`/plan-only
  * callers pay nothing, and the first consuming action materializes
  * the RDD once for every later branch to reuse. Values are identical
  * in every mode; only the caching/lineage strategy changes.
  *
  * Cluster deployments that need executor-loss fault tolerance for
  * long jobs can switch the strategy per session via
  * `spark.graft.reuseBarrier`:
  *   - `lazy`    (default) non-eager localCheckpoint: plan truncated,
  *               blocks non-replicated — recompute after executor loss
  *               is NOT possible past the barrier (the localCheckpoint
  *               contract); right for short/local/bench runs.
  *   - `eager`   the pre-round-15 behavior: materialize at construction.
  *   - `persist` MEMORY_AND_DISK persist with lineage KEPT: branches
  *               reuse the cache, and an executor loss recomputes from
  *               source — the fault-tolerant production setting (plans
  *               are not truncated, so extremely deep iterative chains
  *               may re-analyze more).
  *   - `none`    no barrier: every branch recomputes (the measurement
  *               escape hatch).
  * Any other value fails loudly rather than silently picking a strategy.
  */
private[graft] object Reuse {
  def barrier(df: DataFrame): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.reuseBarrier")
      .getOrElse("lazy") match {
      case "lazy"    => df.localCheckpoint(eager = false)
      case "eager"   => df.localCheckpoint()
      case "persist" => df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      case "none"    => df
      case other     => throw new IllegalArgumentException(
        s"spark.graft.reuseBarrier must be one of lazy|eager|persist|none, got '$other'")
    }

  /** `.reuseBarrier()` postfix syntax so call sites read like the
    * `.localCheckpoint()` they replace. */
  implicit class BarrierOps(private val df: DataFrame) extends AnyVal {
    def reuseBarrier(): DataFrame = Reuse.barrier(df)
  }
}
