package graft.streaming

import graft.operators.Caching.TrackedDf
import org.apache.spark.sql.{Column, DataFrame, Dataset, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.jdk.CollectionConverters._

/** Structured-Streaming mirrors of the batch operators.
  *
  * Laygo's `buffer`/iterator pipelines approximate streaming on one
  * machine (pipeline.py:221,264); the Spark-native reading is
  * Structured Streaming: the same declarative transforms applied to an
  * unbounded source with watermark-bounded state. Every `Transformer`
  * built from Column expressions (map/filter/flatten/…) already works
  * on a streaming DataFrame unchanged — these helpers add the
  * state-bound pieces (windows, sessionization) that need watermarks.
  *
  * State design for scale: all aggregations are keyed, watermarks
  * bound state size, and sessionization uses per-key timeouts —
  * nothing accumulates unboundedly on a 1000-executor cluster.
  *
  * Output follows the same rule: [[replay]] hands a finished stream's
  * rows back as executor-side checkpoints, never through the driver.
  */
object Streams {

  /** Tumbling-window aggregate with watermark — the streaming
    * `reducePerKey`. Late data beyond `watermarkDelay` is dropped and
    * window state is evicted, keeping state bounded.
    */
  def windowedAgg(
      events: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      windowLength: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((window(col(tsCol), windowLength) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Session windows via the built-in gap-based session_window — the
    * streaming mirror of the batch `events_sessionize` query.
    */
  def sessionWindowAgg(
      events: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      gap: String,
      keys: Seq[Column],
      aggs: Seq[Column]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy((session_window(col(tsCol), gap) +: keys): _*)
      .agg(aggs.head, aggs.tail: _*)

  /** Running per-key state with explicit `GroupState` — laygo's
    * mutable shared-context pattern (context/parallel.py:21) done the
    * way that scales: state is partitioned by key, checkpointed, and
    * timed out, never a process-global dict.
    *
    * Emits (key, runningCount, runningSum) on every update.
    */
  def runningTotals(
      events: Dataset[(String, Double)]): Dataset[(String, Long, Double)] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (String, Long, Double)](
        GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[(Long, Double)]) =>
          val (c0, s0) = state.getOption.getOrElse((0L, 0.0))
          var c = c0
          var s = s0
          rows.foreach { r => c += 1; s += r._2 }
          state.update((c, s))
          (key, c, s)
      }
  }

  /** Watermarked streaming dedup — exact dedup for unbounded sources:
    * duplicate keys arriving within the watermark horizon are dropped;
    * state for keys older than the watermark is evicted, keeping the
    * dedup table bounded (the streaming mirror of `Dedup.exact`).
    */
  def dedupWithinWatermark(
      events: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      keyCols: Seq[String]): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Windowed stream-stream inner join: both sides watermarked, join
    * condition bounded by an event-time range so each side's buffered
    * state is evicted once the other side's watermark passes — the
    * only join shape that runs unbounded without unbounded state.
    */
  def streamStreamJoin(
      left: DataFrame,
      right: DataFrame,
      leftTs: String,
      rightTs: String,
      watermarkDelay: String,
      key: String,
      maxLag: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermarkDelay)
    val r = right.withWatermark(rightTs, watermarkDelay)
    l.join(r,
      l(key) === r(key) &&
        r(rightTs) >= l(leftTs) &&
        r(rightTs) <= l(leftTs) + expr(s"INTERVAL $maxLag"))
  }

  /** Streaming as-of join input: `side` 0 = right (reference) rows,
    * 1 = left (probe) rows; `id` doubles as the deterministic
    * tie-breaker, `value` is the left payload.
    */
  case class AsofIn(key: Long, ts: Long, side: Int, id: Long, value: Double)

  /** One joined probe row: the most recent reference row at or before
    * `ts` (None when no reference row preceded it).
    */
  case class AsofOut(key: Long, ts: Long, id: Long, value: Double,
      matchId: Option[Long], matchTs: Option[Long])

  /** Internal per-key state: the latest reference row's (ts, id).
    * Public because Spark's state-store encoder instantiates it from
    * generated code.
    */
  case class AsofState(ts: Long, id: Long)

  /** Streaming as-of join — the unbounded mirror of
    * [[graft.operators.Temporal.asofJoin]]. Per-key state is ONE
    * (ts, id) pair: the latest reference row seen, exactly the state
    * bound the batch operator's window walk was designed around, so a
    * 1000-executor stream holds |keys| tuples of state, not a buffer
    * of history. Rows are replayed in (ts, side, id) order within each
    * micro-batch (reference rows at equal ts join to probes, ties to
    * the largest id — identical tie-break to batch); the reference
    * state only ever advances, so late micro-batches can't regress a
    * match. Probe rows that arrive before their reference row's
    * micro-batch resolve to the reference state as of processing time
    * (the streaming-inherent semantics; batch equivalence holds when
    * each key's rows arrive in one batch or in event order).
    */
  def asofJoinStream(in: Dataset[AsofIn]): Dataset[AsofOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (key, rows, state: GroupState[AsofState]) =>
          val sorted = rows.toSeq.sortBy(r => (r.ts, r.side, r.id))
          val out = Seq.newBuilder[AsofOut]
          var st = state.getOption
          sorted.foreach { r =>
            if (r.side == 0) {
              if (st.forall(s => (r.ts > s.ts) || (r.ts == s.ts && r.id > s.id)))
                st = Some(AsofState(r.ts, r.id))
            } else {
              val m = st.filter(_.ts <= r.ts)
              out += AsofOut(key, r.ts, r.id, r.value, m.map(_.id), m.map(_.ts))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  /** One funnel event: `step` is the 0-based index in the ordered
    * step list (view=0, click=1, …). Public: state-store encoders
    * instantiate these from generated code.
    */
  case class FunnelIn(user: Long, ts: Long, step: Int)

  /** Per-user funnel progress: how many ordered steps completed, and
    * the event time of the last completed step.
    */
  case class FunnelProgress(user: Long, completed: Int, lastTs: Long)

  /** Streaming conversion funnel — the unbounded mirror of the batch
    * `events_funnel` query. Per-user state is TWO values (steps
    * completed, ts of last completed step): each micro-batch replays
    * its rows in (ts, step) order and advances the state machine when
    * the next expected step arrives at/after the last completion —
    * exactly the batch min-chain semantics under per-user in-order
    * arrival (the asof-stream contract). State is O(1) per user —
    * never a buffer of events — so a 1000-executor stream holds
    * |users| pairs, and completed-step counts fall out of the latest
    * emissions.
    */
  def funnelStream(in: Dataset[FunnelIn], nSteps: Int): Dataset[FunnelProgress] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user)
      .mapGroupsWithState[(Int, Long), FunnelProgress](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Int, Long)]) =>
          var (done, lastTs) = state.getOption.getOrElse((0, Long.MinValue))
          rows.toSeq.sortBy(r => (r.ts, r.step)).foreach { r =>
            if (done < nSteps && r.step == done && r.ts >= lastTs) {
              done += 1
              lastTs = r.ts
            }
          }
          state.update((done, lastTs))
          FunnelProgress(user, done, lastTs)
      }
  }

  /** One sessionization event (epoch-µs event time). Public: state-
    * store encoders instantiate these from generated code.
    */
  case class SessIn(user: Long, eventId: Long, ts: Long, value: Double)

  /** Per-event session assignment emitted by [[sessionizeStream]]. */
  case class SessAssign(user: Long, eventId: Long, sessionSeq: Long, value: Double)

  /** Streaming sessionization — the unbounded mirror of the batch
    * `events_sessionize` lag-rule (a NEW session when the gap since
    * the PREVIOUS event exceeds gapUs), chosen over the built-in
    * session_window because the lag rule's boundary semantics
    * (gap == gapUs stays in-session) must match the batch oracle
    * bit-exactly. Per-user state is TWO longs (last event time,
    * session counter) — never a buffer of events — so the state store
    * holds |users| pairs at any stream length. Each micro-batch
    * replays its rows in (ts, id) order, the asof-stream contract.
    */
  def sessionizeStream(in: Dataset[SessIn], gapUs: Long): Dataset[SessAssign] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user)
      .flatMapGroupsWithState[(Long, Long), SessAssign](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[(Long, Long)]) =>
          var (lastTs, seq) = state.getOption.getOrElse((0L, 0L))
          // stable (ts, eventId) sort on primitive compares, no tuple per row
          val out = rows.toArray.sortWith((a, b) =>
            a.ts < b.ts || (a.ts == b.ts && a.eventId < b.eventId)).map { r =>
            // seq == 0 means "no previous event": short-circuits before
            // the subtraction so the sentinel can't fake a gap
            if (seq == 0L || r.ts - lastTs > gapUs) seq += 1
            lastTs = r.ts
            SessAssign(user, r.eventId, seq, r.value)
          }
          state.update((lastTs, seq))
          out.iterator
      }
  }

  /** One telemetry event for windowed dedup. */
  case class WDedupIn(user: Long, eventType: String, eventId: Long, ts: Long)

  /** Keep/drop verdict per event from [[dedupWindowStream]]. */
  case class WDedupOut(user: Long, eventType: String, eventId: Long, keep: Boolean)

  /** Streaming windowed telemetry dedup — the unbounded mirror of the
    * batch `events_dedup_window` rule: an event is kept iff the
    * previous event of the same (user, event_type) — kept or not — is
    * more than windowUs older. State is ONE long per key (the previous
    * event's time), updated on every event, so unlike watermarked
    * dropDuplicates the state never grows with event volume.
    */
  def dedupWindowStream(in: Dataset[WDedupIn], windowUs: Long): Dataset[WDedupOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(r => (r.user, r.eventType))
      .flatMapGroupsWithState[Long, WDedupOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case ((user, etype), rows, state: GroupState[Long]) =>
          var lastTs = state.getOption.getOrElse(0L)
          var seen = state.exists
          val out = rows.toArray.sortWith((a, b) =>
            a.ts < b.ts || (a.ts == b.ts && a.eventId < b.eventId)).map { r =>
            val keep = !seen || r.ts - lastTs > windowUs
            lastTs = r.ts
            seen = true
            WDedupOut(user, etype, r.eventId, keep)
          }
          state.update(lastTs)
          out.iterator
      }
  }

  /** Stream-static incremental near-dup — the unbounded mirror of
    * [[graft.operators.Dedup.minHashNearDupsIncremental]]: a stream of
    * new docs banded against the accumulated corpus's STATIC minhash
    * index (in production a persisted table, refreshed between runs).
    *
    * STATELESS by construction: the batch side dedups band collisions
    * with distinct(), which on a stream would mean unbounded
    * dropDuplicates state. Instead each pair is emitted exactly once,
    * at its FIRST matching band — both sides carry their full band-hash
    * array (bands·8 bytes), so "no earlier band also matched" is a
    * row-local predicate. No watermark, zero streaming state, and the
    * per-micro-batch plan is the same band equi-join as batch.
    */
  def incrementalNearDupStream(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32): DataFrame = {
    import graft.operators.Dedup
    val rowsPerBand = numHashes / bands
    def withBands(df: DataFrame, idAs: String, setAs: String, bhAs: String) = {
      val sig = Dedup.minHashSignature(col("__set"), numHashes)
      val bandHashes = (0 until bands).map(b =>
        xxhash64(lit(b), slice(col("__sig"), b * rowsPerBand + 1, rowsPerBand)))
      df.select(col(idCol).as(idAs),
        Dedup.hashedShingleSet(col(textCol), shingleSize).as("__set"))
        .withColumn("__sig", sig)
        .select(col(idAs), col("__set").as(setAs), array(bandHashes: _*).as(bhAs))
    }
    val s = withBands(newDocs, "id_new", "set_a", "bh_new")
      .select(col("id_new"), col("set_a"), col("bh_new"),
        posexplode(col("bh_new")).as(Seq("band", "band_sig")))
    val c = withBands(corpus, "id_old", "set_b", "bh_old")
      .persistTracked
      .select(col("id_old"), col("set_b"), col("bh_old"),
        posexplode(col("bh_old")).as(Seq("band", "band_sig")))
    val firstMatch = !exists(
      zip_with(
        slice(col("bh_new"), lit(1), col("band")),
        slice(col("bh_old"), lit(1), col("band")),
        (x, y) => x === y),
      b => b)
    s.join(c, Seq("band", "band_sig"))
      .where(firstMatch)
      .withColumn("inter",
        graft.functions.VectorExprs.sortedIntersectSize(col("set_a"), col("set_b"))
          .cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("set_a")) + size(col("set_b")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_old"), col("jaccard"))
  }

  /** Streaming incremental fingerprint (SimHash / image dHash)
    * near-dup — the Hamming-channel twin of
    * [[incrementalNearDupStream]], mirroring the batch
    * [[graft.operators.Dedup.hashNearDupsIncremental]]: each
    * micro-batch of (id, 64-bit hash) rows joins the STATIC corpus
    * band index on (band, band_val) — the same stride-4 16-bit bands
    * as batch — with exact popcount verify on collisions. STATELESS
    * exactly-once pair emission via the first-matching-band trick:
    * both sides carry their full 4-value band array, so "no earlier
    * band also matched" is a row-local predicate, not a stateful
    * distinct. No watermark, zero streaming state.
    *
    * PRECONDITION (the price of statelessness): each stream id must
    * arrive ONCE. The batch twin runs `.distinct()` on (id, hash), so
    * a REPLAYED stream id (duplicate within a micro-batch, an
    * at-least-once source re-delivering across micro-batches) would
    * emit its pairs again and diverge from the batch contract the
    * oracle grades against. Exactly-once sources (files, Kafka with
    * unique keys) satisfy this; for at-least-once sources, dedupe
    * upstream (`dropDuplicatesWithinWatermark` on the id) — pushing
    * that state into THIS operator would silently re-introduce the
    * per-key state the first-matching-band design exists to avoid.
    */
  def incrementalHashNearDupStream(
      newHashed: DataFrame,
      corpusHashed: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3): DataFrame = {
    import graft.operators.Dedup
    require(maxHamming <= 3, "4x16-bit banding guarantees recall only for Hamming <= 3")
    def withBands(df: DataFrame, idAs: String, hAs: String, baAs: String) =
      df.select(col(idCol).as(idAs), col(hashCol).as(hAs),
        array(Dedup.strideBandVals(col(hashCol)): _*).as(baAs))
    val s = withBands(newHashed, "id_new", "sh_a", "ba_new")
      .select(col("id_new"), col("sh_a"), col("ba_new"),
        posexplode(col("ba_new")).as(Seq("band", "band_val")))
    val c = withBands(corpusHashed, "id_old", "sh_b", "ba_old")
      .persistTracked
      .select(col("id_old"), col("sh_b"), col("ba_old"),
        posexplode(col("ba_old")).as(Seq("band", "band_val")))
    // band is 0-based: slice length `band` = bands strictly before it
    val firstMatch = !exists(
      zip_with(
        slice(col("ba_new"), lit(1), col("band")),
        slice(col("ba_old"), lit(1), col("band")),
        (x, y) => x === y),
      b => b)
    s.join(c, Seq("band", "band_val"))
      .where(firstMatch)
      .withColumn("hamming", expr("bit_count(sh_a ^ sh_b)").cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("id_new"), col("id_old"), col("hamming"))
  }

  /** Streaming incremental cosine near-dup — the embedding-channel
    * twin of [[incrementalNearDupStream]], mirroring the batch
    * [[graft.operators.Similarity.nearDupCosineBandedIncremental]]:
    * each micro-batch of new vectors joins the STATIC corpus
    * hyperplane band index (stream-static equi-join on (tbl, bucket)),
    * exact cosine verify on collisions. STATELESS exactly-once pair
    * emission: a pair colliding in several tables is emitted only from
    * its FIRST matching table — both sides carry their full bucket
    * arrays, so "no earlier table matched" is a row-local predicate,
    * not a stateful distinct.
    *
    * `nBits` comes from the corpus size via
    * [[graft.operators.Similarity.lshPlanBits]] — the caller derives
    * it once per index build (a stream cannot count the corpus).
    */
  def incrementalCosineNearDupStream(
      newVecs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      nBits: Int,
      nTables: Int = 6): DataFrame = {
    import graft.operators.Similarity
    def withBuckets(df: DataFrame, idAs: String, vAs: String, bAs: String) = {
      val tableBuckets = (0 until nTables).map(tb =>
        graft.functions.VectorExprs.hyperplaneBucketAt(
          Similarity.asDouble(col(vecCol)), nBits, tb * nBits))
      df.select(col(idCol).as(idAs),
        Similarity.asDouble(col(vecCol)).as(vAs),
        array(tableBuckets: _*).as(bAs))
    }
    val s = withBuckets(newVecs, "id_new", "va", "bk_new")
      .select(col("id_new"), col("va"), col("bk_new"),
        posexplode(col("bk_new")).as(Seq("tbl", "bucket")))
    val c = withBuckets(corpus, "id_old", "vb", "bk_old")
      .persistTracked
      .select(col("id_old"), col("vb"), col("bk_old"),
        posexplode(col("bk_old")).as(Seq("tbl", "bucket")))
    // tbl is 0-based, slice length `tbl` = tables strictly before it
    val firstMatch = !exists(
      zip_with(
        slice(col("bk_new"), lit(1), col("tbl")),
        slice(col("bk_old"), lit(1), col("tbl")),
        (x, y) => x === y),
      b => b)
    s.join(c, Seq("tbl", "bucket"))
      .where(firstMatch)
      .withColumn("cosine", Similarity.cosine(col("va"), col("vb")))
      .where(col("cosine") >= threshold)
      .select(col("id_new"), col("id_old"), col("cosine"))
  }

  /** Streaming daily-volume anomaly gate — the unbounded mirror of
    * [[graft.operators.Temporal.dailyAnomaly]] in the lambda shape:
    * the per-type volume moments come from the BATCH side
    * ([[graft.operators.Temporal.dailyStats]] over the accumulated
    * history — in production a persisted table refreshed between
    * runs), the stream maintains one watermarked tumbling day-window
    * count per type, and each closed window is z-scored row-locally
    * against the static stats via the SAME shared expression the
    * batch gate uses, so the two sides cannot diverge.
    *
    * State: one count per (type, open day window), evicted at
    * watermark — O(types) live state regardless of volume.
    */
  def dailyAnomalyStream(
      events: DataFrame,
      stats: DataFrame,
      eventTimeCol: String,
      typeCol: String,
      zThreshold: Double): DataFrame = {
    val daily = events
      .withWatermark(eventTimeCol, "1 day")
      .groupBy(col(typeCol).as("event_type"),
        window(col(eventTimeCol), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("event_type"),
        expr("unix_micros(w.start) DIV 86400000000").as("day"), col("n_events"))
    graft.operators.Temporal
      .zFlag(daily.join(broadcast(stats), "event_type"), zThreshold)
      .select(col("event_type"), col("day"), col("n_events"),
        (floor(col("z") * 10000 + lit(0.5)) / 10000).as("z"))
  }

  /** Streaming linear-counting distinct sketch — bounded-state
    * streaming COUNT(DISTINCT): the only per-group state is the m-bit
    * slot bitmap (m/8 bytes; 512 B at m = 4096), never the value set,
    * so state stays O(m) on an unbounded stream. Hash, slot selection,
    * and the −m·ln(1 − v/m) MLE are the exact arithmetic of the batch
    * [[graft.operators.Corpus.distinctSketch]] (equivalence-tested).
    * Emits the updated (group, v_filled, n_est) after each batch;
    * n_est is None once the bitmap saturates (the batch NULL).
    */
  def distinctSketchStream(
      toks: Dataset[(String, String)],
      m: Int): Dataset[(String, Long, Option[Long])] = {
    require(m > 0 && (m & (m - 1)) == 0, "m must be a power of two")
    import toks.sparkSession.implicits._
    val words = math.max(m / 64, 1)
    toks.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (String, Long, Option[Long])](
        GroupStateTimeout.NoTimeout) {
        case (g, rows, state: GroupState[Array[Long]]) =>
          val bm = state.getOption.getOrElse(new Array[Long](words))
          rows.foreach { case (_, tok) =>
            val h = graft.functions.Fnv.mixBytes(graft.functions.Fnv.Offset,
              tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val slot = (h & (m - 1)).toInt
            bm(slot >> 6) |= 1L << (slot & 63)
          }
          state.update(bm)
          var v = 0L
          var i = 0
          while (i < words) { v += java.lang.Long.bitCount(bm(i)); i += 1 }
          val est =
            if (v < m) Some(math.floor(-m * math.log(1.0 - v.toDouble / m) + 0.5).toLong)
            else None
          (g, v, est)
      }
  }

  /** Streaming mirror of `Corpus.hllSketch`: per-group HLL registers
    * as mapGroupsWithState state — m BYTES per group at any vocabulary
    * size (contrast [[distinctSketchStream]]'s linear-counting bitmap,
    * which saturates once every slot fills) — with the estimate
    * recomputed per micro-batch from the SAME integer-Z + estimator
    * arithmetic as the batch kernel, so the final micro-batch's row is
    * bit-identical to the batch query over the same data. Emits
    * (group, seq, est): `seq` counts state updates, so the LAST
    * emission (max seq) is the complete-corpus estimate regardless of
    * how the replay splits into micro-batches.
    */
  def hllSketchStream(
      toks: Dataset[(String, String)],
      p: Int): Dataset[(String, Long, Long)] = {
    // verified envelope: the alpha table covers m in {16,32,64} exactly
    // and the closed form from m=128 up, and the engine<->oracle
    // bit-identity of the 32-bit rank window is pinned at the deployed
    // p=8 -- widening p past 8 needs its own oracle replay, so reject
    // it rather than estimate subtly off
    require(p >= 4 && p <= 8, "p (register address bits) must be in [4, 8]")
    import toks.sparkSession.implicits._
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _  => 0.7213 / (1.0 + 1.079 / m.toDouble)
    }
    val fmix = graft.functions.Fmix64(
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    toks.groupByKey(_._1)
      .mapGroupsWithState[(Long, Array[Byte]), (String, Long, Long)](
        GroupStateTimeout.NoTimeout) {
        case (g, rows, state: GroupState[(Long, Array[Byte])]) =>
          val (seq0, regs) = state.getOption.getOrElse((0L, new Array[Byte](m)))
          rows.foreach { case (_, tok) =>
            val h = fmix.compute(graft.functions.Fnv.mixBytes(
              graft.functions.Fnv.Offset,
              tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
            val j = (h >>> (64 - p)).toInt
            val w = (h << p) >>> 32
            // rho: FIRST r in 1..32 with w >= 2^(32-r), else 33 — the
            // batch CASE chain verbatim
            var r = 33
            if (w != 0) { r = 1; while (w < (1L << (32 - r))) r += 1 }
            if (r > regs(j)) regs(j) = r.toByte
          }
          state.update((seq0 + 1L, regs))
          // harmonic denominator in exact 2^-33 integer units + the
          // estimator with small-range correction, matching the batch
          // expression's operand order exactly (IEEE ops are
          // deterministic given the same order)
          var z = 0L; var v0 = 0L; var i = 0
          while (i < m) {
            val mr = regs(i); z += 1L << (33 - mr); if (mr == 0) v0 += 1; i += 1
          }
          val eRaw = alpha * (m.toDouble * m) * 8589934592.0 / z.toDouble
          val est =
            if (eRaw <= 2.5 * m && v0 > 0)
              math.floor(m.toDouble * math.log(m.toDouble / v0.toDouble) + 0.5).toLong
            else math.floor(eRaw + 0.5).toLong
          (g, seq0 + 1L, est)
      }
  }

  /** Streaming Count-Min frequency sketch — bounded-state streaming
    * heavy-hitter counts: the only state is d rows × w counters
    * (d·w·8 bytes total; 32 KB at 4×1024), never a per-token count
    * table, so state is constant on an unbounded stream. Group = sketch
    * row i (d groups); each token routes to slot ((aᵢ·h + bᵢ) mod P)
    * mod w with the SAME FNV-1a token hash and SplitMix64 permutation
    * constants as the batch [[graft.operators.TextAnalysis
    * .freqSketchEval]] (equivalence-tested — counter arrays must be
    * bit-identical because both sides are order-independent integer
    * sums). Emits each updated (i, counters) row after every batch;
    * estimate(tok) = min over i of counters(i)(slotᵢ(tok)).
    */
  def freqSketchStream(
      toks: Dataset[String],
      d: Int,
      w: Int): Dataset[(Int, Array[Long])] = {
    import toks.sparkSession.implicits._
    val (as, bs) = graft.functions.MinHashSig.coeffs(d)
    val p = graft.functions.MinHashSig.P
    toks.flatMap { tok =>
      val h = math.floorMod(
        graft.functions.Fnv.mixBytes(graft.functions.Fnv.Offset,
          tok.getBytes(java.nio.charset.StandardCharsets.UTF_8)), p)
      (0 until d).map(i => (i, (((as(i) * h + bs(i)) % p) % w).toInt))
    }.groupByKey(_._1)
      .mapGroupsWithState[Array[Long], (Int, Array[Long])](
        GroupStateTimeout.NoTimeout) {
        case (i, rows, state: GroupState[Array[Long]]) =>
          val c = state.getOption.getOrElse(new Array[Long](w))
          rows.foreach { case (_, slot) => c(slot) += 1L }
          state.update(c)
          (i, c)
      }
  }

  /** Streaming histogram quantile sketch — bounded-state streaming
    * percentiles: state is ONE nBins-counter histogram (8 KB at 1024
    * bins) regardless of stream volume, where exact streaming
    * percentiles would buffer every distinct value. Bin arithmetic is
    * the batch [[graft.operators.Corpus.quantileSketch]]'s exactly
    * (integer cents div bin width, clamped to [0, nBins−1]), and the
    * per-batch emission replays its cumulative walk: for each q,
    * rank = ⌈q·n⌉ and est_upper = the upper edge of the first bin
    * whose cumulative count reaches the rank — so after the final
    * batch the (q, rank, est_upper) rows equal the batch operator's
    * (equivalence-tested).
    */
  def quantileSketchStream(
      vals: Dataset[Double],
      binWidthCents: Long,
      nBins: Int,
      qs: Seq[Double]): Dataset[(Double, Long, Double)] = {
    import vals.sparkSession.implicits._
    vals.map { v =>
      val cents = math.floor(v * 100 + 0.5).toLong
      math.min(math.max(cents / binWidthCents, 0L), nBins - 1L)
    }.groupByKey(_ => 0)
      .mapGroupsWithState[Array[Long], Seq[(Double, Long, Double)]](
        GroupStateTimeout.NoTimeout) {
        case (_, bins, state: GroupState[Array[Long]]) =>
          val hist = state.getOption.getOrElse(new Array[Long](nBins))
          bins.foreach(b => hist(b.toInt) += 1L)
          state.update(hist)
          val n = hist.sum
          qs.map { q =>
            val rank = math.ceil(q * n).toLong
            var bin = 0
            var cum = hist(0)
            while (cum < rank && bin < nBins - 1) { bin += 1; cum += hist(bin) }
            (q, rank, ((bin + 1) * binWidthCents).toDouble / 100)
          }
      }
      .flatMap(identity)
  }

  /** Streaming incremental clustering — the unbounded mirror of
    * [[graft.operators.Dedup.clustersIncremental]], closing the daily
    * label-maintenance loop: the (id, cluster) label table is the
    * persisted BATCH-side artifact, link mining runs per micro-batch
    * (batch-internal pairs + batch×accumulated-corpus, the same banded
    * operators the batch twin uses), and star-edge maintenance folds
    * the new links into the labels without ever re-mining or
    * re-propagating the accumulated graph.
    *
    * Why foreachBatch and not a pure streaming plan: label propagation
    * is iterative and GLOBAL (a link can merge two old families), which
    * no watermark-bounded streaming state can express. The star-edge
    * theorem (each prior label = one depth-1 edge, components and
    * min-labels preserved exactly — Dedup.clustersIncremental) makes
    * the per-batch job BOUNDED: propagation converges in O(1) rounds
    * over the increment's link depth, and applied inductively per
    * micro-batch it equals a full recompute over everything seen — the
    * equivalence StreamingEquivalenceSpec proves against the
    * oracle-checked batch clustering.
    *
    * State lives in two lineage-cut tables (8-byte id pairs for
    * labels, the corpus index side), localCheckpointed per batch so
    * the plan does not grow with stream length; operator-internal
    * persists are released after each batch's labels materialize.
    */
  final class IncrementalClusterState(
      corpus0: DataFrame,
      labels0: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32) {
    import graft.operators.Dedup
    private var corpus = corpus0.select(col(idCol), col(textCol)).localCheckpoint()
    @volatile private var labelsDf = labels0.localCheckpoint()
    /** Current (id, cluster) — the persisted daily artifact. */
    def labels: DataFrame = labelsDf

    def processBatch(batch: DataFrame, batchId: Long): Unit = synchronized {
      val b = batch.select(col(idCol), col(textCol)).localCheckpoint()
      if (b.isEmpty) return
      val cross = Dedup.minHashNearDupsIncremental(
        b, corpus, idCol, textCol, threshold, shingleSize, numHashes, bands)
        .select(col("id_new").as("id_a"), col("id_old").as("id_b"))
      val within = Dedup.minHashNearDups(
        b, idCol, textCol, threshold, shingleSize, numHashes, bands)
        .select(col("id_a"), col("id_b"))
      val allIds = corpus.select(col(idCol)).unionByName(b.select(col(idCol)))
      // eager localCheckpoint materializes the new labels BEFORE the
      // miners' tracked persists are dropped
      labelsDf = Dedup.clustersIncremental(
        labelsDf, cross.unionByName(within), allIds, idCol).localCheckpoint()
      corpus = corpus.unionByName(b).localCheckpoint()
      // the miners' persists only: a replay's frames must outlive this
      graft.Memo.evict(graft.Memo.Intermediates)
    }
  }

  /** Wire a stream of new documents into an [[IncrementalClusterState]]:
    * returns the state handle plus the configured writer — caller
    * `.start()`s it and reads `state.labels` between/after batches.
    */
  def incrementalClusterStream(
      newDocs: DataFrame,
      corpus: DataFrame,
      labels0: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      shingleSize: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32): (IncrementalClusterState, org.apache.spark.sql.streaming.DataStreamWriter[Row]) = {
    val st = new IncrementalClusterState(
      corpus, labels0, idCol, textCol, threshold, shingleSize, numHashes, bands)
    val w = newDocs.writeStream
      .foreachBatch((b: Dataset[Row], id: Long) => st.processBatch(b, id))
    (st, w)
  }

  /** Runs `df` once over everything available now
    * (`Trigger.AvailableNow`, possibly several micro-batches) and
    * returns its output as a frame of the caller's session whose rows
    * stay on the executors: each batch is one eager `localCheckpoint()`
    * in `foreachBatch`, so its job returns a row count to the driver,
    * where Spark's `memory` sink returned every row. As in that sink,
    * batches are keyed by id (a re-delivered id replaces its frame);
    * Append and Update keep every batch, Complete the last. With no
    * batch the frame is empty, with the stream's schema. The
    * checkpoints live in [[graft.Memo.Replays]] until
    * `graft.operators.Caching.release()`.
    *
    * Streaming plans get no AQE: a micro-batch runs exactly
    * `spark.sql.shuffle.partitions` tasks per shuffle and as many
    * RocksDB state stores. `shufflePartitions`, sized by the caller to
    * the input ([[graft.sources.Sources.sizedShufflePartitions]]),
    * replaces the session value while the query runs; keyed state is
    * partition-count-independent, so results are identical.
    */
  def replay(df: DataFrame, outputMode: OutputMode, shufflePartitions: Int): DataFrame = {
    val spark = df.sparkSession
    val batches = new java.util.TreeMap[Long, DataFrame]()
    def drop(b: DataFrame): Unit = GraftBridge.checkpointRdds(b).foreach(_.unpersist(blocking = false))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toString)
    try df.writeStream
      .outputMode(outputMode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val cp = b.localCheckpoint()
        graft.Memo.get(spark, graft.Memo.Replays, cp)(cp)
        batches.synchronized {
          if (outputMode == OutputMode.Complete()) batches.values.removeIf { old => drop(old); true }
          Option(batches.put(id, cp)).foreach(drop)
        }
      }
      .start()
      .awaitTermination()
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    if (batches.isEmpty) spark.createDataFrame(java.util.List.of[Row](), df.schema)
    else GraftBridge.unionIn(spark, batches.values.asScala.toSeq)
  }
}
