package graft.operators

import graft.Memo
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Tracked persistence for operator-internal intermediates.
  *
  * Operators persist subtrees that are consumed more than once (pair
  * mining feeding both candidate generation and verification, edge
  * lists driving iterative label propagation, …) — without the
  * persist the expensive upstream recomputes per consumer (measured
  * 2-3× on every clustering/graph query in round 5). The frames are
  * held in [[graft.Memo.Intermediates]]; [[release]] unpersists and
  * forgets them all, and is safe at any point after the consuming
  * action (Spark recomputes an unpersisted subtree if it is ever
  * re-used). References are STRONG on purpose: a weakly-held frame
  * that got collected could never be unpersisted, which is exactly the
  * executor-block leak this path exists to close.
  *
  * Bench/Verify call this between queries; library users composing
  * operators in a long-lived session call it at their own batch
  * boundaries.
  */
object Caching {

  /** `df.persistTracked` — MEMORY_AND_DISK persist + registration. */
  implicit final class TrackedDf(private val df: DataFrame) extends AnyVal {
    def persistTracked: DataFrame =
      Memo.get(df.sparkSession, Memo.Intermediates, df)(df.persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Unpersist every tracked intermediate and replay checkpoint
    * (lazily — no job, executor blocks are dropped asynchronously) and
    * drop the refs. Every other memo family is left alone.
    */
  def release(): Unit = { Memo.evict(Memo.Intermediates); Memo.evict(Memo.Replays) }
}
