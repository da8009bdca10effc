package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** Dev profiler: time, profile and optionally explain registered
  * queries in one JVM.
  *
  * `sbt "runMain graft.RunOne <q1,q2,...> [sfDir] [--reps N] [--json P] [--explain DIR/SUFFIX]"`
  *
  * Builds Bench's session (graft.GraftSession) and evicts a trainer
  * query's memo before every rep as Bench does
  * (`SparkEntry.evictTrainerMemo`), so a number measured here
  * predicts the per-query number in bench.json. Repetitions clear the
  * cache between runs (like Bench does between queries) so the
  * steady-state rep isolates query cost from JIT/classload warmup.
  * Every rep prints each Spark job's wall time, the bytes its tasks
  * returned to the driver as results, its stage count and the
  * action behind it (the SQL execution's description, e.g. `count at
  * SparkEntry.scala:833`; a job outside any SQL execution prints its
  * stages' call sites and task counts) — where a multi-level plan
  * spends its fixed overhead (job scheduling, checkpoint
  * materialization, broadcast builds).
  *
  * `--explain plans/r20/before` writes each query's formatted plan,
  * line-capped like graft.Plans, to `plans/r20/<query>_before.txt`
  * before the reps (`--reps 0` writes the plans only).
  * `--json P` appends one row per query to P: the rep times, per-rep
  * foreign CPU and the warm lower-median (tools/adjudicate.py).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val valued = Set("--reps", "--json", "--explain")
    val opt = args.sliding(2).collect { case Array(k, v) if valued(k) => k -> v }.toMap
    // drop flags AND their values ("--reps 3" must not leak "3" into
    // the positional sfDir slot)
    val pos = args.zipWithIndex.filterNot { case (a, i) =>
      a.startsWith("--") || (i > 0 && valued(args(i - 1)))
    }.map(_._1)
    val names = pos.headOption.getOrElse(sys.error(
      "usage: RunOne <q1,q2,...> [sfDir] [--reps N] [--json P] [--explain DIR/SUFFIX]"))
      .split(',').map(_.trim).filter(_.nonEmpty)
    val sfDir = pos.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = opt.get("--reps").map(_.toInt).getOrElse(2)
    val spark = GraftSession.local(GraftSession.cpus)
    val sc = spark.sparkContext

    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new SparkListener {
      private val starts = scala.collection.mutable.Map[Int, (Long, String)]()
      // per job, the bytes its tasks returned to the driver as results
      private val stageJob = scala.collection.mutable.Map[Int, Int]()
      private val resultBytes = scala.collection.mutable.Map[Int, Long]().withDefaultValue(0L)
      // the action behind each running SQL execution (`count at
      // SparkEntry.scala:833`): under AQE a job's own call site is the
      // stage-materialization thread's, the same for every job
      private val actions = scala.collection.mutable.Map[Long, String]()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => actions(x.executionId) = x.description
        case x: SparkListenerSQLExecutionEnd => actions.remove(x.executionId)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val action = Option(js.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => actions.get(id.toLong)).filter(_.nonEmpty)
        val site = action.getOrElse(js.stageInfos
          .map(si => s"${si.name.takeWhile(_ != '\n').take(60)}/${si.numTasks}")
          .mkString(" | "))
        starts(js.jobId) = (js.time, s"stages=${js.stageInfos.size} $site")
        js.stageIds.foreach(stageJob(_) = js.jobId)
      }
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        for (m <- Option(te.taskMetrics); j <- stageJob.get(te.stageId))
          resultBytes(j) += m.resultSize
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        starts.remove(je.jobId).foreach { case (t0, site) =>
          val bytes = resultBytes.remove(je.jobId).getOrElse(0L)
          jobLines.add(
            f"[job] id=${je.jobId}%-4d dt=${(je.time - t0) / 1e3}%7.3fs result=${bytes}%dB  $site")
        }
    })
    def drainJobs(): Seq[String] = {
      GraftListenerBridge.waitListenerBusEmpty(sc, 10000)
      Iterator.continually(jobLines.poll()).takeWhile(_ != null).toSeq
    }

    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query: $name"))
      opt.get("--explain").foreach { spec =>
        val p = Paths.get(spec)
        val dir = Option(p.getParent).getOrElse(Paths.get("."))
        Files.createDirectories(dir)
        val txt =
          try Plans.formatted(fn(spark, sfDir))
          catch { case e: Throwable => s"error: ${e.getMessage}" }
        Files.writeString(dir.resolve(s"${name}_${p.getFileName}.txt"), txt + "\n")
        graft.operators.Caching.release()
        spark.catalog.clearCache()
      }
      // foreign CPU per rep (core-seconds other processes burned while
      // the rep ran) — the ONE shared /proc accounting (graft.ProcCpu)
      // Bench uses, steal included; an adjudication number is only
      // evidence if it carries its own contamination measurement
      // (co-tenant bursts on this box fake 3-10x regressions within a
      // single JVM's reps)
      val times = Array.ofDim[Double](reps)
      val foreigns = Array.ofDim[Double](reps)
      (1 to reps).foreach { i =>
        SparkEntry.evictTrainerMemo(name)
        drainJobs()
        val s0 = ProcCpu.snapshot()
        val t0 = System.nanoTime()
        // noop write = Bench's action (count-star pruning can skip
        // count-irrelevant subtrees and fake the timing)
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        graft.operators.Caching.release()
        spark.catalog.clearCache()
        val foreign = ProcCpu.foreignCoreSecs(s0)
        times(i - 1) = dt; foreigns(i - 1) = foreign
        val jobs = drainJobs()
        jobs.foreach(println)
        println(f"[runone] rep=$i $name t=$dt%.3fs foreign=$foreign%.1fs jobs=${jobs.size}")
      }
      if (reps > 0) opt.get("--json").foreach { path =>
        // iso_mid = lower median of the WARM reps (rep 1 is the cold
        // JIT/classload run) — the same statistic the hand-written
        // adjudication rows have always reported
        val warm = (if (reps > 1) times.drop(1) else times).sorted
        val isoMid = warm((warm.length - 1) / 2)
        def arr(a: Array[Double]) = a.map(v => f"$v%.3f").mkString("[", ",", "]")
        val row = s"""{"query":"$name","sf":"$sfDir","reps":${arr(times)},""" +
          s""""foreign_cpu":${arr(foreigns)},"iso_mid":${f"$isoMid%.3f"}}"""
        Files.writeString(Paths.get(path), row + "\n",
          StandardOpenOption.CREATE, StandardOpenOption.APPEND)
      }
    }
    spark.stop()
  }
}
