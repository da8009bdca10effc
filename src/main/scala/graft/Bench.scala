package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // warm JIT/classloading/codegen so the first measured query isn't
    // charged one-time setup. Measured (RunOne, sf0.1): a cold
    // dedup_clusters run costs 10.8s vs 1.9s steady-state — and a
    // sf0.001 warmup does NOT close that gap (tiny inputs pick
    // different AQE plans and never push the hot loops into C2). So
    // warm at the MEASURED scale with the query that subsumes the
    // heavy kernel classes: dedup_multisignal covers shingling,
    // PPJoin candidates, merge-walk verify, cosine bucketing, and the
    // label-propagation loop; entry() covers the join/agg paths.
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    try SparkEntry.queries("dedup_multisignal")(spark, sfDir).count()
    catch { case _: Throwable => () }
    spark.catalog.clearCache()
    // median-of-3 per query: a single pass is dominated by scheduler /
    // co-tenant noise (observed 12x on individual queries between runs
    // of the SAME commit — r5 driver vs builder snapshots), which
    // drowns the round-over-round regression signal. Three passes with
    // the cache cleared between them (so every pass pays the full
    // plan, not an InMemoryRelation substitution) and the median taken
    // is robust to one bad pass in either direction.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "3").toInt
    // provenance: co-tenant load is the dominant noise source (±25%
    // observed between runs of the same commit), so the snapshot
    // carries the 1-min load average at start and end plus the pass
    // count — a reader can judge how much to trust a given number
    def loadAvg(): Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val loadStart = loadAvg()
    // co-tenant contamination, measured DIRECTLY rather than inferred
    // from load average (which our own local[32] run dominates): total
    // machine busy jiffies (/proc/stat) minus this JVM's own CPU
    // (/proc/self/stat utime+stime) = CPU burned by OTHER processes
    // while we benched. A high foreign share means the numbers are
    // noise, and the snapshot must say so itself — the r8 graded bench
    // was a load-contaminated rerun that read as a phantom regression.
    // shared with RunOne (graft.ProcCpu) so adjudication reps and the
    // graded bench can never disagree on the accounting
    val run0 = ProcCpu.snapshot()
    val wall0 = System.nanoTime()
    // a throwing query must NOT be recorded as a (tiny) time — the r7
    // driver run hit exactly that: seven analysis-failed queries showed
    // up as implausible 2-9ms entries instead of errors. Failed passes
    // go to `errors` (first message kept) and are excluded from the
    // median; a query with zero successful passes is excluded from
    // `queries` entirely and surfaces in the errors map + stdout count.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val coldTimes = scala.collection.mutable.LinkedHashMap[String, Double]()
    // observe()-metric capture (LSH candidate counts etc.): operators
    // publish counts under "prefix#seq" names; the listener folds them
    // by prefix. Scaling evidence by exact COUNTS, not seconds — the
    // per-sf values land in bench.json's queries_observed and the
    // 3-point report fits their exponent directly.
    val observedBuf = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    val queriesObserved =
      scala.collection.mutable.LinkedHashMap[String, Map[String, Long]]()
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.contains('#') && row.length > 0) row.get(0) match {
            case l: java.lang.Long =>
              observedBuf.merge(name.takeWhile(_ != '#'), l,
                (a: java.lang.Long, b: java.lang.Long) => java.lang.Long.valueOf(a + b))
            case _ => ()
          }
        }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    })
    // per-query foreign CPU (core-seconds other processes burned while
    // the query's passes ran): a burst that corrupts two of three
    // passes shows up HERE even when it is too brief to move the
    // whole-run ratio — the exact failure mode of the r8/r9 snapshots
    val foreignByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    // per-query wall seconds (all passes, failed included — the same
    // window foreignByQuery accumulates over): the denominator for the
    // per-query contamination gate below
    val wallByQuery = scala.collection.mutable.LinkedHashMap[String, Double]()
    val selected = GraftSession.selected(SparkEntry.queries)
    // chain hygiene (r14): in the shared-JVM sweep a heavy query's
    // garbage is collected DURING the next query and reads as that
    // query's regression — most r13 sf3 flags dissolved in isolation
    // for exactly this reason. SPARK_GRAFT_GC_SETTLE=1 inserts an
    // untimed full-GC barrier between queries so each query starts
    // from a settled heap; default off (the graded protocol), the
    // scaling chain's sf1/sf3 legs turn it on and stamp the field.
    val gcSettle = sys.env.get("SPARK_GRAFT_GC_SETTLE").contains("1")
    def settleHeap(): Unit = if (gcSettle) {
      System.gc(); Thread.sleep(300); System.gc(); Thread.sleep(200)
    }
    val results: Map[String, Double] = selected.flatMap { case (name, fn) =>
      settleHeap()
      val times = (0 until passes).flatMap { i =>
        SparkEntry.evictTrainerMemo(name)
        val q0 = ProcCpu.snapshot()
        val t0 = System.nanoTime()
        val ok =
          // noop WRITE, not count(): a count-star lets the optimizer
          // prune count-irrelevant subtrees — semdedup_prune's entire
          // dominance join vanished under count() (left join with a
          // provably-unique right side preserves cardinality), so the
          // timing measured assignment only, 3.4× under the real query.
          // The noop sink materializes every output column (the same
          // action Pipeline.consume runs), so the timed plan is the
          // plan a real sink pays, minus I/O.
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            if (!errors.contains(name))
              errors(name) = (e.getClass.getSimpleName + ": " +
                String.valueOf(e.getMessage).replaceAll("\\s+", " ")).take(200)
            false
          }
        // release intermediates persisted inside operators: unpersist
        // AND drop the registry's strong refs (clearCache alone would
        // leave the IdentityHashMap growing across the 153×3 sweep)
        graft.operators.Caching.release()
        spark.catalog.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        wallByQuery(name) = wallByQuery.getOrElse(name, 0.0) + dt
        val qForeign = ProcCpu.foreignCoreSecs(q0)
        if (qForeign >= 0)
          foreignByQuery(name) = foreignByQuery.getOrElse(name, 0.0) + qForeign
        // pass 0 is the cold run for this query (data cache cleared by
        // the previous query; only JIT/codegen carry over) — record it
        // next to the median so cache-amortization is visible
        if (ok && i == 0) {
          coldTimes(name) = dt
          // deterministic counts: one pass is enough; drain the async
          // delivery before reading, then keep the buffer clear so a
          // later pass can't double-fold
          org.apache.spark.GraftListenerBridge
            .waitListenerBusEmpty(spark.sparkContext, 10000)
          if (!observedBuf.isEmpty) {
            val snap = scala.jdk.CollectionConverters
              .MapHasAsScala(observedBuf).asScala.map { case (k, v) => k -> v.longValue }
            queriesObserved(name) = snap.toMap
          }
        }
        observedBuf.clear()
        if (ok) Some(dt) else None
      }.sorted
      // lower median: passes=3 -> median, 2 -> best-of-2, 1 -> the pass
      if (times.isEmpty) None else Some(name -> times((times.length - 1) / 2))
    }
    // OUTPUT-BOUND adjudications must be reproducible from the
    // committed artifact alone: when the timed sweep ran in default
    // posture (observe off, codegen spans intact), run one extra
    // UNTIMED pass over just the queries whose plans carry observe()
    // channels (detected by CollectMetrics in the analyzed plan —
    // plan construction triggers no jobs) so queries_observed is
    // populated without perturbing any recorded timing.
    if (!graft.operators.LshObserve.enabled && GraftSession.only.isEmpty) {
      sys.props("graft.observe") = "1"
      try selected.foreach { case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          val hasObs = df.queryExecution.analyzed.collectFirst {
            case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics => c
          }.nonEmpty
          if (hasObs) {
            // noop write, not count(): count-star pruning can remove
            // the CollectMetrics subtree itself (semdedup_prune)
            df.write.format("noop").mode("overwrite").save()
            org.apache.spark.GraftListenerBridge
              .waitListenerBusEmpty(spark.sparkContext, 10000)
            if (!observedBuf.isEmpty)
              queriesObserved(name) = scala.jdk.CollectionConverters
                .MapHasAsScala(observedBuf).asScala
                .map { case (k, v) => k -> v.longValue }.toMap
          }
        // counts are best-effort extras — but only NON-fatal failures
        // are swallowed; a dying JVM (OOM) or an interrupt propagates
        } catch { case scala.util.control.NonFatal(_) => () }
        finally {
          graft.operators.Caching.release()
          spark.catalog.clearCache()
          observedBuf.clear()
        }
      } finally sys.props.remove("graft.observe")
    }
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def fmt(v: Double): String = {
      // 3 decimals, trailing zeros stripped: ms precision, minimal chars
      val s = f"$v%.3f".reverse.dropWhile(_ == '0').reverse
      if (s.endsWith(".")) s + "0" else s
    }
    def line(rs: Seq[(String, Double)], omitted: Int, flag: String): String = {
      val qs = rs.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
      val om = if (omitted > 0) s""","queries_omitted":$omitted""" else ""
      val er = if (errors.nonEmpty) s""","errors":${errors.size}""" else ""
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs$om$er$flag,"sf":"$sfDir"}"""
    }
    def jmap(m: Iterable[(String, String)]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def jstr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    // close the foreign-CPU window: anything another process burned
    // during the sweep, in core-seconds and as a share of the machine
    val wallSecs = (System.nanoTime() - wall0) / 1e9
    val foreignCoreSecs = ProcCpu.foreignCoreSecs(run0)
    val foreignRatio =
      if (foreignCoreSecs < 0) -1.0
      else foreignCoreSecs / (wallSecs * Runtime.getRuntime.availableProcessors())
    // self-flag, two gates (r16 lesson: the global 0.08 ratio read
    // `false` while a burst CONCENTRATED — stream_sessionize absorbed
    // 358 foreign core-s, 77% of its own wall×cores — so a brief burst
    // that corrupts a handful of queries never moves the whole-run
    // ratio). A query is contaminated when other processes burned more
    // than half of its own wall×cores during its passes (with a
    // 10 core-s absolute floor so a scheduler blip on a sub-second
    // query doesn't trip it); the run is contaminated when the global
    // ratio exceeds 8% OR any query tripped the per-query gate.
    val cores = Runtime.getRuntime.availableProcessors()
    val queriesContaminated = foreignByQuery.collect {
      case (q, f) if f > 10.0 &&
        f > 0.5 * wallByQuery.getOrElse(q, 0.0) * cores => q
    }.toSeq
    val contaminated = foreignRatio > 0.08 || queriesContaminated.nonEmpty
    // full-precision record for humans/judge, with noise context:
    // per-query medians, cold (first-pass) times, pass count, load
    // averages, foreign-CPU provenance, and any failed queries with
    // their first error message
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":${
      jmap(results.map { case (k, v) => k -> v.toString })
    },"queries_cold":${
      jmap(coldTimes.map { case (k, v) => k -> v.toString })
    },"queries_foreign_cpu":${
      jmap(foreignByQuery.collect { case (k, v) if v > 1.0 => k -> f"$v%.1f" })
    },"queries_observed":${
      jmap(queriesObserved.map { case (q, m) =>
        q -> jmap(m.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString })
      })
    },"errors":${
      jmap(errors.map { case (k, v) => k -> jstr(v) })
    },"queries_contaminated":${
      queriesContaminated.map(jstr).mkString("[", ",", "]")
    },"sf":"$sfDir","passes":$passes,"agg":"median","gc_settle":$gcSettle,"bench_protocol":"noop-write-r12","bench_protocol_note":"timed action is a noop WRITE of the full result (since r12); benches at r11 and earlier timed count(), which let Catalyst prune count-irrelevant subtrees (e.g. semdedup_prune's whole dominance join - a left join with a provably-unique right side preserves cardinality), so r11-era per-query times are NOT comparable for queries whose output stage a count() could skip (the semdedup/knn family, window-topn shapes)","load_avg_start":$loadStart,"load_avg_end":${loadAvg()},"wall_secs":${f"$wallSecs%.1f"},"foreign_cpu_core_secs":${f"$foreignCoreSecs%.1f"},"foreign_cpu_ratio":${f"$foreignRatio%.4f"},"contaminated":$contaminated}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] file write failed: ${e.getMessage}") }
    // stdout line must fit the driver's 2000-char tail capture alongside
    // sbt's trailing "[success] ..." line, or its JSON parse comes back
    // null (r02/r03 both hit this). Emit slowest-first and drop the
    // fastest entries until the line fits a conservative budget; the
    // full map is always in bench.json.
    val budget = 1750
    // a contaminated run must say so on the driver-captured line itself
    val flag = (if (contaminated) ""","contaminated":true""" else "") +
      (if (queriesContaminated.nonEmpty)
         s""","queries_contaminated":${queriesContaminated.size}""" else "")
    val bySlow = results.toSeq.sortBy(-_._2)
    var keep = bySlow.length
    while (keep > 1 && line(bySlow.take(keep), bySlow.length - keep, flag).length > budget) keep -= 1
    val stdoutLine = line(bySlow.take(keep), bySlow.length - keep, flag)
    // shutdown BEFORE the metric println — r16's official bench signal
    // was lost because a streaming StateStore maintenance thread raced
    // spark.stop() and dumped an RpcEnvStoppedException stack trace
    // into stdout AFTER the metric line, flooding the driver's
    // 2000-char tail capture (BENCH_r16 parsed:null). Stop any live
    // streaming queries, then the StateStore maintenance task, then
    // the session; only when the JVM can no longer emit Spark noise
    // does the metric line print — physically the last stdout line.
    try spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    } catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
    println(stdoutLine)
  }
}
