package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Registry of operator-INTERNAL cached frames.
  *
  * Several operators cache an intermediate frame that feeds two or
  * three plan branches (the distinct edge set in [[Joins.coOccurrence]],
  * prepared vectors in [[Similarity]], shingle/signature frames in
  * [[Dedup]]) — without the cache each branch re-runs the upstream
  * scan. Those caches outlive the operator call: they are referenced by
  * the RETURNED lazy DataFrame, so the operator cannot unpersist them
  * itself without un-caching the very plan it hands back.
  *
  * This registry makes the lifetime explicit instead of leaking:
  * operators register every internal cache via [[track]]; a caller in
  * a long-lived session calls [[releaseAll]] after consuming operator
  * output (as `Bench`/`Verify` do between queries) to return executor
  * storage without nuking caches the APPLICATION created
  * (`spark.catalog.clearCache()` drops those too).
  */
object OperatorCaches {
  private val frames =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Cache `df` and register it for later [[releaseAll]]. A frame whose
    * plan is already cached (tracked before, or cached by the caller)
    * is returned as is: caching it again only logs a warning, and a
    * second registration would double-count it.
    */
  private[graft] def track(df: DataFrame): DataFrame = {
    if (df.storageLevel == StorageLevel.NONE) frames.add(df.cache())
    df
  }

  /** Unpersist every tracked operator-internal cache. Safe to call at
    * any time: already-consumed plans simply recompute if re-run.
    */
  def releaseAll(blocking: Boolean = false): Unit = {
    var f = frames.poll()
    while (f != null) {
      try f.unpersist(blocking)
      catch { case scala.util.control.NonFatal(_) => () }
      f = frames.poll()
    }
  }

  /** Number of live tracked caches (test/observability hook). */
  def trackedCount: Int = frames.size()
}
