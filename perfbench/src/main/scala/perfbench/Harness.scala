package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.ProcCpu

/** One benchmark run of one workload in a fresh JVM:
  *
  *   set up (session + inputs registered) → canary → cold pass →
  *   a fixed number of warm passes → full GC → canary → gate outputs.
  *
  * The warm pass count is fixed per workload (perfbench/layers.json),
  * not a time budget, so a faster or slower program is measured at the
  * same pass indices. `perfbench/run.py` prepares the inputs, launches
  * this main, checks the outputs and prints the metrics. With
  * `--trace 1` it records spans and listener counters (see [[Tracer]]);
  * without, no listener is registered.
  *
  * Usage: Harness --workload W --input DIR --out DIR --warm-passes N
  *          --counted M --trace 0|1 --run-id ID --launch-us EPOCH_MICROS
  */
object Harness {
  /** Set-ups timed inside the JVM, after the one from process launch. */
  private val SetupSamples = 3
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  def session(cores: Int, scratch: String): SparkSession = {
    // graft.Bench's session configuration; local dirs inside the run's
    // scratch directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The machine canary: a fixed single-thread integer kernel that
    * calls no graft or Spark code. Median of 5 timed repetitions after
    * one untimed, in seconds.
    */
  def canary(): Double = {
    def kernel(): Long = {
      val table = new Array[Long](1 << 16)
      var h = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 30000000) {
        h ^= h << 13; h ^= h >>> 7; h ^= h << 17
        val j = (h & 0xFFFF).toInt
        table(j) = table(j) * 31 + h
        i += 1
      }
      table.sum
    }
    var sink = kernel()
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); sink ^= kernel(); (System.nanoTime() - t0) / 1e9
    }.sorted
    if (sink == 42) println("") // keeps the kernel's result live
    times(2)
  }

  /** Old-generation occupancy after full collections, in MB. Called
    * once, after the last warm pass, so no timed pass starts on a heap
    * the benchmark collected for it. Spark's ContextCleaner frees
    * shuffles and broadcasts only after a collection finds them
    * unreachable, so collections repeat until the occupancy settles.
    */
  private def oldGenAfterGcMb(): Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    def collect(): Double = {
      System.gc()
      pools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
        .sum / (1024.0 * 1024.0)
    }
    var prev = Double.MaxValue
    var cur = collect()
    var rounds = 1
    while (rounds < 8 && prev - cur > 0.5) {
      Thread.sleep(200)
      prev = cur; cur = collect(); rounds += 1
    }
    cur
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workloadName = opt("workload")
    val input = opt("input")
    val out = opt("out")
    val traced = opt.get("trace").contains("1")
    val launchUs = opt("launch-us").toLong
    val warmPasses = opt("warm-passes").toInt
    val counted = opt("counted").toInt
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up: a session with the inputs registered. The first is timed
    // from process launch (start_s); the session is then stopped and set
    // up again SetupSamples times in this JVM (setup_s is their median).
    def setUp(): (SparkSession, Workload) = {
      val spark = session(cores, out)
      val workload = Workloads(workloadName, spark, input, out)
      workload.register()
      (spark, workload)
    }
    var (spark, workload) = setUp()
    val startS = (nowUs() - launchUs) / 1e6
    val setups = mutable.ArrayBuffer[Double]()
    while (setups.length < SetupSamples) {
      spark.stop()
      val t0 = System.nanoTime()
      val next = setUp()
      setups += (System.nanoTime() - t0) / 1e9
      spark = next._1; workload = next._2
    }

    val counters = if (traced) Some(new Counters(spark.sparkContext)) else None
    counters.foreach { c =>
      spark.sparkContext.addSparkListener(c)
      spark.streams.addListener(c.streams)
    }
    val tracer = new Tracer(counters)

    val busy0 = ProcCpu.totalBusyJiffies(); val self0 = ProcCpu.selfJiffies()
    val wall0 = System.nanoTime()
    val canaryBefore = canary()

    var attempted = 0
    val failedCalls = mutable.LinkedHashSet[String]()
    val errors = mutable.LinkedHashMap[String, String]()

    val callSeconds = mutable.ArrayBuffer[Map[String, Double]]()
    def pass(i: Int): Double = {
      val t0 = System.nanoTime()
      val seconds = mutable.LinkedHashMap[String, Double]()
      tracer.span("pass", s"pass$i") {
        workload.calls.foreach { call =>
          attempted += 1
          val c0 = System.nanoTime()
          try tracer.span("call", call.name) {
            val built = tracer.span("build", call.name)(call.build())
            if (traced) built.planned.foreach { ds =>
              tracer.span("plan", call.name)(ds.queryExecution.executedPlan)
            }
            tracer.span("exec", call.name)(built.exec())
          } catch {
            case NonFatal(e) =>
              failedCalls += call.name
              errors.getOrElseUpdate(call.name,
                (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
          } finally {
            seconds(call.name) = (System.nanoTime() - c0) / 1e9
            graft.operators.Caching.release()
            spark.catalog.clearCache()
          }
        }
      }
      callSeconds += seconds.toMap
      (System.nanoTime() - t0) / 1e9
    }

    val warm = mutable.ArrayBuffer[Double]()
    var coldS = 0.0
    tracer.span("run", "run") {
      tracer.span("workload", workloadName) {
        coldS = pass(0)
        while (warm.length < warmPasses) warm += pass(warm.length + 1)
      }
    }
    val heapMb = oldGenAfterGcMb()

    val canaryAfter = canary()
    val wallS = (System.nanoTime() - wall0) / 1e9
    val busy1 = ProcCpu.totalBusyJiffies(); val self1 = ProcCpu.selfJiffies()
    val foreignShare =
      if (Seq(busy0, self0, busy1, self1).exists(_ < 0)) -1.0
      else ((busy1 - busy0) - (self1 - self0)) / 100.0 / (wallS * cores)

    val gate: Map[String, Any] =
      try workload.finish()
      catch { case NonFatal(e) =>
        errors("finish") = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
        Map.empty
      }

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workloadName, "cores" -> cores, "traced" -> traced,
      "setup_s" -> setups.toSeq, "cold_pass_s" -> coldS, "pass_s" -> warm.toSeq,
      "start_s" -> startS, "heap_after_gc_mb" -> heapMb,
      "attempted" -> attempted, "failed_calls" -> failedCalls.toSeq, "errors" -> errors,
      "calls" -> workload.calls.map(_.name), "call_s" -> callSeconds.toSeq,
      "canary_s" -> Seq(canaryBefore, canaryAfter), "foreign_cpu_share" -> foreignShare,
      "gate" -> gate)
    if (traced) {
      val summary = Summary(opt("run-id"), tracer.spans.toSeq, counters.get, cores,
        workload.calls.map(_.name), counted)
      result("per_layer") = summary.perLayer
      result("self_time_s") = summary.selfTime
      Files.writeString(Paths.get(out, "trace.json"), json.writeValueAsString(summary.traceFile))
    }

    // stop streams and the state-store maintenance thread before the
    // session, so nothing races the shutdown
    try spark.streams.active.foreach(_.stop()) catch { case NonFatal(_) => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case NonFatal(_) => () }
    spark.stop()
    Files.writeString(Paths.get(out, "result.json"), json.writeValueAsString(result))
    // Spark leaves non-daemon threads that can hold the JVM for seconds
    sys.exit(0)
  }

  /** Per-layer numbers from a traced run's spans. Each metric is the
    * median of its per-pass value over the last `counted` warm passes
    * (the passes run.py counts for pass_s).
    */
  final case class Summary(runId: String, spans: Seq[Span], counters: Counters, cores: Int,
      calls: Seq[String], counted: Int) {
    private val passes = spans.filter(_.layer == "pass").sortBy(_.startNs)
    private val warm = passes.drop(1).takeRight(counted)
    private def within(p: Span)(s: Span): Boolean =
      s.startNs >= p.startNs && s.endNs <= p.endNs
    private def layerSeconds(p: Span, layer: String): Double =
      spans.filter(s => s.layer == layer && within(p)(s)).map(_.seconds).sum
    private def callSpan(p: Span, name: String): Option[Span] =
      spans.find(s => s.layer == "call" && s.name == name && within(p)(s))

    /** Pass wall time not covered by any job: driver-side work. */
    private def driverGap(p: Span): Double = {
      val jobs = counters.jobIntervals(p.c0.jobsClosed, p.c1.jobsClosed)
        .map { case (a, b) => (math.max(a, p.startMs), math.min(b, p.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = Long.MinValue
      jobs.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      math.max(0.0, p.seconds - covered / 1000.0)
    }

    private def perPass(p: Span): Map[String, Double] = {
      val d = p.c1.minus(p.c0)
      val prog = counters.progressSlice(p.c0.progresses, p.c1.progresses)
      Map(
        "api.build_s" -> layerSeconds(p, "build"),
        "api.plan_s" -> layerSeconds(p, "plan"),
        "sinks.exec_s" -> layerSeconds(p, "exec"),
        "sources.input_rows" -> d("sources.input_rows").toDouble,
        "sources.input_bytes" -> d("sources.input_bytes").toDouble,
        "sched.jobs" -> d("sched.jobs").toDouble,
        "sched.stages" -> d("sched.stages").toDouble,
        "sched.tasks" -> d("sched.tasks").toDouble,
        "sched.driver_gap_s" -> driverGap(p),
        "sched.busy_ratio" -> d("exec.run_ms") / 1000.0 / (p.seconds * cores),
        "shuffle.write_bytes" -> d("shuffle.write_bytes").toDouble,
        "shuffle.read_bytes" -> d("shuffle.read_bytes").toDouble,
        "shuffle.spill_bytes" -> d("shuffle.spill_bytes").toDouble,
        "jvm.gc_s" -> d("jvm.gc_ms") / 1000.0,
        "jvm.task_cpu_s" -> d("jvm.task_cpu_ns") / 1e9,
        "stream.batches" -> d("stream.batches").toDouble,
        "stream.input_rows" -> d("stream.input_rows").toDouble,
        "stream.batch_s" -> median(prog.map(_._1 / 1000.0)),
        "stream.state_rows" -> d("stream.state_rows").toDouble,
        "stream.state_commit_s" -> d("stream.state_commit_ms") / 1000.0,
        "stream.state_mem_bytes" -> (if (prog.isEmpty) 0.0 else prog.map(_._2.toDouble).max)
      ) ++ calls.flatMap { c =>
        callSpan(p, c).toSeq.flatMap { s =>
          Seq(s"q.$c.s" -> s.seconds, s"q.$c.jobs" -> s.c1.minus(s.c0)("sched.jobs").toDouble)
        }
      }
    }

    private val warmValues = warm.map(perPass)
    private def warmMedian(k: String): Double = median(warmValues.flatMap(_.get(k)))

    val perLayer: Map[String, Double] = {
      val keys = warmValues.headOption.map(_.keys.toSeq.sorted).getOrElse(Nil)
      val coldJobs = passes.headOption.map(p => p.c1.minus(p.c0)("sched.jobs").toDouble)
      mutable.LinkedHashMap(keys.map(k => k -> warmMedian(k)): _*).toMap ++
        Map("memo.cold_extra_jobs" -> (coldJobs.getOrElse(0.0) - warmMedian("sched.jobs")))
    }

    /** Span duration minus the part its direct children cover, summed
      * per layer over the whole run.
      */
    val selfTime: Map[String, Double] = {
      val childSum = spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.seconds).sum }
      spans.groupBy(_.layer).map { case (layer, ss) =>
        layer -> ss.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum
      }
    }

    def traceFile: Map[String, Any] = {
      val t0 = spans.map(_.startNs).minOption.getOrElse(0L)
      Map(
        "run_id" -> runId,
        "spans" -> spans.sortBy(_.startNs).map(s => mutable.LinkedHashMap[String, Any](
          "run_id" -> runId, "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
          "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
          "counters_start" -> s.c0.values, "counters_end" -> s.c1.values)),
        "self_time_s" -> selfTime,
        "per_layer" -> perLayer,
        "passes" -> passes.zipWithIndex.map { case (p, i) =>
          Map("name" -> p.name, "kind" -> (if (i == 0) "cold" else "warm"),
            "pass_s" -> p.seconds)
        })
    }
  }
}
