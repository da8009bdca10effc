package graft

import java.util.concurrent.{ExecutionException, FutureTask}

import scala.util.hashing.MurmurHash3

import graft.operators.Similarity.BisectTree
import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** The work graft reuses across the queries of one session, in one
  * place. Every entry is keyed by (session, family, key), and the
  * families are fixed here:
  *
  *  - [[Tables]]: parquet reads per path. Repeated queries in one run
  *    skip re-listing files and re-reading footers, the per-query
  *    fixed cost that dominates a benchmark sweep.
  *  - [[Schemas]]: the schema per file-source open (format, reader
  *    options, path), with the [[listingHash]] it was inferred over
  *    (`Sources.open`). A repeat open reads with that schema and runs
  *    no inference job (a footer merge for parquet, a full scan for
  *    JSON and CSV); an open whose listing has changed infers again.
  *  - [[ProbeWidths]]: knn_join_ivf's calibrated probe width per data
  *    dir: calibrate once, deploy many.
  *  - [[BpeMerges]]: the learned BPE merge table per (dir, word-source
  *    variant). It is exactly `bpeSteps` (≤ 16) rows, a bounded
  *    driver-side collect. Only the first BPE query of a session pays
  *    the per-step pair-count and argmax rounds; encode and vocab
  *    derive from the literal, hash-identical to a retrain.
  *  - [[Trees]]: the bisecting tree per (corpus plan, params), shared
  *    by the kNN and SemDeDup queries that would otherwise retrain the
  *    identical tree. Its row and kid tables are localCheckpoint'ed
  *    RDDs (lineage-free, MEMORY_AND_DISK, executor-side), so reuse
  *    reads the same blocks; the entry also holds the tree's
  *    `FlatTree` broadcast, collected and shipped once per tree.
  *  - [[Intermediates]]: frames an operator persists because it reads
  *    them more than once (`Caching.persistTracked`). The operator,
  *    not the caller, owns those blocks, so they need a release path
  *    that leaves the caller's own caches alone, which
  *    `spark.catalog.clearCache()` does not.
  *  - [[Rows]]: the row count per frame ([[rows]]; keyed by
  *    [[planKey]], like trees), the one input of the self-scaling size
  *    rules (`Similarity.cellsPlan`, `Similarity.lshPlanBits`,
  *    `Multimodal.nearDupKeysPlan`). The first query of a session over
  *    a (table, filter) pays the count; later builds plan with no job.
  *  - [[Replays]]: `Streams.replay`'s micro-batch checkpoints, read
  *    by the caller's action after the stream ends.
  *
  * [[get]] builds each key once, even under concurrent callers: the
  * first caller runs the build outside the lock (a tree build is a
  * multi-job Spark run, so holding the lock across it would serialize
  * every build and block [[evict]]), later callers of the same key
  * wait for that build, and other keys build in parallel. Every
  * `get` first drops the entries of stopped sessions, so a long-lived
  * JVM that cycles sessions does not pin their SparkContext graphs;
  * only references are dropped, as a stopped context has no executors
  * to message.
  *
  * [[evict]] drops one family in every session and runs its release
  * hook: trees and replays unpersist their checkpoint blocks (trees
  * also destroy the broadcast), intermediates unpersist.
  * `Caching.release()` evicts intermediates and replays only, so the
  * other families survive the per-query hygiene of Bench and Verify
  * by design: derived queries measure reuse. `SparkEntry.evictTrainerMemo`
  * evicts a family before every pass of its trainer query, so that
  * query measures a real build.
  *
  * Trees keep two behaviours of their own:
  *  - at most 4 entries, least recently used first out. Capacity
  *    eviction drops the reference only: the tables are lineage-free,
  *    so unpersisting would break a frame already handed to a caller,
  *    whose handle keeps the RDDs reachable until the ContextCleaner
  *    frees the blocks with the last one.
  *  - a hit is served only while every checkpoint RDD reports all
  *    partitions cached (a driver-side check, no job). Executor loss
  *    drops blocks of a lineage-free RDD for good; a stale entry is
  *    released and rebuilt.
  */
object Memo {

  /** One kind of memoized value: its release hook and its stale check. */
  sealed abstract class Family[V](private[Memo] val cap: Int = Int.MaxValue) {
    private[Memo] def release(v: V): Unit = ()
    private[Memo] def intact(v: V): Boolean = true
    private[Memo] val entries =
      new java.util.LinkedHashMap[(SparkSession, Any), V](16, 0.75f, /* accessOrder = */ true)
  }

  case object Tables extends Family[DataFrame]
  case object Schemas extends Family[(Int, StructType)]
  case object ProbeWidths extends Family[Int]
  case object BpeMerges extends Family[Seq[Row]]
  case object Trees extends Family[BisectTree](cap = 4) {
    override private[Memo] def release(t: BisectTree): Unit = t.release()
    override private[Memo] def intact(t: BisectTree): Boolean = t.blocksIntact
  }
  case object Intermediates extends Family[DataFrame] {
    override private[Memo] def release(df: DataFrame): Unit = { df.unpersist(blocking = false); () }
  }
  case object Rows extends Family[Long]
  case object Replays extends Family[DataFrame] {
    override private[Memo] def release(df: DataFrame): Unit =
      GraftBridge.checkpointRdds(df).foreach(_.unpersist(blocking = false))
  }

  private val families: Seq[Family[_]] =
    Seq(Tables, Schemas, ProbeWidths, BpeMerges, Trees, Intermediates, Rows, Replays)

  /** A hash of every file `df` reads: path, length and modification
    * time. File indexes compare equal by root path alone, so a key
    * without the listing would match a rewritten path's old entry.
    * The index lists its files when the read is built, so this runs
    * no job.
    */
  private[graft] def listingHash(df: DataFrame): Int =
    MurmurHash3.unorderedHash(df.queryExecution.analyzed.collect {
      case LogicalRelation(h: HadoopFsRelation, _, _, _, _) => h.location
    }.flatMap {
      case idx: PartitioningAwareFileIndex =>
        idx.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      case idx => idx.inputFiles.toSeq
    })

  /** `df`'s memo key: its canonicalized analyzed plan, the plan's
    * semantic hash (the string elides wide field lists) and its
    * [[listingHash]].
    */
  private[graft] def planKey(df: DataFrame): String = {
    val plan = df.queryExecution.analyzed
    s"${plan.semanticHash()}:${plan.canonicalized}:${listingHash(df)}"
  }

  /** `df`'s row count, counted once per (session, [[planKey]]). */
  def rows(df: DataFrame): Long = get(df.sparkSession, Rows, planKey(df))(df.count())

  private val inFlight = new java.util.HashMap[(Family[_], SparkSession, Any), FutureTask[Any]]()

  /** The entry for `key`, built by `build` on a miss. */
  def get[V](s: SparkSession, f: Family[V], key: Any)(build: => V): V = {
    val k = (s, key)
    val (hit, task, owner) = synchronized {
      families.foreach(_.entries.keySet.removeIf(e => (e._1 ne s) && e._1.sparkContext.isStopped))
      val h = f.entries.get(k)
      if (h != null && f.intact(h)) (Some(h), null, false)
      else {
        if (h != null) { f.entries.remove(k); f.release(h) }
        inFlight.get((f, s, key)) match {
          case null =>
            val t = new FutureTask[Any](() => build)
            inFlight.put((f, s, key), t)
            (None, t, true)
          case running => (None, running, false)
        }
      }
    }
    hit.getOrElse {
      if (owner) {
        task.run()
        synchronized {
          inFlight.remove((f, s, key))
          scala.util.Try(task.get()).foreach(v => store(f, k, v.asInstanceOf[V]))
        }
      }
      try task.get().asInstanceOf[V]
      catch { case e: ExecutionException => throw e.getCause }
    }
  }

  /** Replace `key`'s entry with `v`, releasing the entry it held. */
  def put[V](s: SparkSession, f: Family[V], key: Any, v: V): Unit = synchronized(store(f, (s, key), v))

  private def store[V](f: Family[V], k: (SparkSession, Any), v: V): Unit = {
    val old = f.entries.put(k, v)
    if (old != null) f.release(old)
    if (f.entries.size > f.cap) f.entries.remove(f.entries.keySet.iterator.next())
  }

  /** Drop family `f` in every session, running its release hook. */
  def evict(f: Family[_]): Unit = synchronized {
    f.entries.values.forEach(v => f.asInstanceOf[Family[Any]].release(v))
    f.entries.clear()
  }

  /** Entries of family `f` across sessions. */
  def size(f: Family[_]): Int = synchronized(f.entries.size)
}
