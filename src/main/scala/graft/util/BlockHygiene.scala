package graft.util

import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic between-queries release of leaked storage blocks.
  *
  * Many graft operators freeze their RESULT with an eager
  * `localCheckpoint(true)` — required so the result survives the
  * synchronous unpersist of its upstream intermediates (the marginMine
  * discipline). The operator cannot release that final checkpoint
  * itself: only the caller knows when the frame has been consumed.
  * Inside one query that is fine; across a 196-query benchmark session
  * it is not — the blocks are reclaimed only when the ContextCleaner's
  * weak references get collected AND its async queue drains, and its
  * periodic-GC backstop (`spark.cleaner.periodicGC.interval`) defaults
  * to 30 min, roughly ONCE per full-suite run. The round-18 driver run
  * showed the result: gram-stream queries late in the alphabet (q142,
  * q154, q170) ran 2–3x their clean-session medians purely from
  * accumulated storage pressure.
  *
  * [[sweep]] makes the release deterministic: unpersist every RDD still
  * registered with the SparkContext, EXCEPT ids [[pin]]ned by the
  * builds behind [[IndexMemo]], the owner of every pinned frame (session
  * index state — bounded, intentionally immortal, and — being
  * lineage-truncated checkpoints — UNRECOVERABLE if swept). Harnesses
  * (Bench, Verify) call it between queries, off-timer; library users
  * with long sessions can call it at their own batch boundaries.
  *
  * Safety: by the end of a query every surviving unpinned entry is
  * either a leaked result checkpoint (fully consumed — nothing will
  * re-execute it) or a CacheManager-backed Dataset persist whose
  * lineage is intact (re-materializes on next use; the operator suite
  * releases these synchronously anyway, see `cacheIsEmpty` probes).
  * Do NOT call mid-query or while a streaming query is active.
  */
object BlockHygiene {

  // Pins are keyed by (applicationId, rddId), not rddId alone (advisor
  // round 19): RDD ids restart from 0 per SparkContext, so a bare-id pin
  // from a stopped session would shield an unrelated RDD that happens to
  // get the same id in a later session in the same JVM.
  private val pinned =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(String, Int)]()

  /** Mark a localCheckpoint'd frame as process-lifetime index state:
    * [[sweep]] will never unpersist its backing RDD. Returns the frame
    * for call-site chaining.
    *
    * FAILS LOUDLY when the frame carries no checkpoint RDD (advisor
    * round 19): every current call site pins the direct result of
    * `localCheckpoint(true)`, so a miss means a future cache site
    * returned a plan wrapping the checkpoint (e.g. a projection over
    * it) — silently not pinning there would let [[sweep]] destroy a
    * lineage-truncated checkpoint, which is unrecoverable. Pin the
    * checkpointed frame itself, then derive from it.
    */
  def pin(df: Dataset[_]): df.type = {
    val rdd = org.apache.spark.sql.graftshim.GraftColumns.checkpointRdd(df)
    require(rdd.nonEmpty,
      "BlockHygiene.pin: frame has no checkpoint RDD in its plan — pin " +
        "the localCheckpoint(true) result directly, then derive from it " +
        "(an unpinned checkpoint would be unrecoverably swept)")
    rdd.foreach(r => pinned.add((r.sparkContext.applicationId, r.id)))
    df
  }

  /** Unpersist every registered-but-unpinned RDD (non-blocking block
    * removal). Returns the number of RDDs released — harnesses log it
    * so a regression back to leaking is visible in the bench stderr.
    */
  def sweep(spark: SparkSession): Int = {
    val app = spark.sparkContext.applicationId
    val doomed = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pinned.contains((app, id)) }
    doomed.valuesIterator.foreach(_.unpersist(blocking = false))
    doomed.size
  }
}
