package graft

import org.apache.spark.sql.DataFrame

/** Dev tool: dump the formatted physical plan of EVERY registered
  * query to stdout (redirect to PLANS.md). Evidence for the SURVEY §4
  * scale rules — pushdown, pruning, broadcast choice, partial
  * aggregation, absence of cartesian products — reviewable without
  * running Spark. Runs the graded session at `SPARK_GRAFT_CPUS` cores,
  * so the dump is the plan the graded sweep runs.
  */
object Plans {

  /** `df`'s formatted plan, stable across runs and across edits that
    * leave the plan alone: object addresses, RDD ids and call sites are
    * masked, and expression, exchange and plan ids renumbered from 0 in
    * order of first appearance (their JVM-wide counters depend on every
    * plan built before). Lines are then capped at 2000 chars: the
    * full-PSL InSet literals print as ~230 KB single lines, and the plan
    * SHAPE is what a dump exists to audit.
    */
  def formatted(df: DataFrame): String =
    stable(df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode))
      .linesIterator.map(l =>
        if (l.length > 2000) l.take(2000) + s" ...[line truncated, ${l.length} chars total]"
        else l).mkString("\n")

  private val masks = Seq(
    """\$Lambda\$\d+/0x\p{XDigit}+@\p{XDigit}+""".r -> "\\$Lambda",
    """(\[+(?:[BCDFIJSZ]|L[\w.$]+;))@\p{XDigit}+""".r -> "$1@_",
    """RDD\[\d+\]""".r -> "RDD[_]",
    """ at ([\w$]+)\.(scala|java):\d+""".r -> " at $1.$2:_")

  private val renumbered =
    Seq("""(?<=plan_id=)\d+""".r, """(?<=id=#)\d+""".r, """(?<!id=#)(?<=#)\d+""".r)

  private def stable(plan: String): String =
    renumbered.foldLeft(masks.foldLeft(plan) { case (t, (re, to)) => re.replaceAllIn(t, to) }) {
      (t, re) =>
        val ids = scala.collection.mutable.Map[String, Int]()
        re.replaceAllIn(t, m => ids.getOrElseUpdate(m.matched, ids.size).toString)
    }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.cpus)
    spark.sparkContext.setLogLevel("ERROR")
    println("# Physical plans (generated by graft.Plans; driver data at " + sfDir + ")")
    // EVERY registered query, alphabetical — the r12 rule: PLANS.md
    // covers the full graded surface, not a curated headline subset
    SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
      println(s"\n## $name\n")
      println("```")
      try println(formatted(SparkEntry.queries(name)(spark, sfDir)))
      catch { case e: Throwable => println(s"error: ${e.getMessage}") }
      println("```")
      // as Bench does: no plan may read an earlier query's cached frames
      graft.operators.Caching.release()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
