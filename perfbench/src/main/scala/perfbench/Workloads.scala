package perfbench

import org.apache.spark.sql.{Dataset, Encoders, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._

import graft.{Pipeline, SparkEntry, Transformer, TypedPipeline, TypedTransformer}
import graft.sources.Sources

/** The result of a call's build step. `planned` is the Dataset whose
  * query execution the sink runs, when the sink reuses it: the traced
  * run forces its physical plan on its own. Sinks that plan a new
  * Dataset (`consume()`'s write command, `first(n)`'s limit) leave it
  * empty, and their planning stays inside the exec step.
  */
final case class Built(exec: () => Unit, planned: Option[Dataset[_]] = None)

/** One pipeline call of a pass. */
final case class Call(name: String, build: () => Built)

trait Workload {
  /** Opens every input through graft's sources and resolves its schema,
    * as a user's job does at start-up.
    */
  def register(): Unit
  def calls: Seq[Call]
  /** Untimed, after the passes: leaves what the correctness gate checks. */
  def finish(): Map[String, Any]
}

object Workloads {
  /** Registered queries per workload, in call order. As in graft.Bench,
    * knn_recall_curve reuses the ANN tree memoized by its cold pass.
    */
  val curation: Seq[String] = Seq("knn_recall_curve", "span_corrupt")
  val streamReplay: Seq[String] = Seq("stream_sessionize")

  def apply(name: String, spark: SparkSession, input: String, out: String): Workload =
    name match {
      case "laygo_chain"   => new LaygoChain(spark, input)
      case "curation"      => new Queries(spark, input, out, curation, Seq("documents", "embeddings"))
      case "stream_replay" => new Queries(spark, input, out, streamReplay, Seq("events"))
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

  /** Registered graft queries. The sink is `Pipeline.toList()`; the last
    * pass's rows are written to parquet, untimed, for the correctness
    * gate to compare with each query's oracle.
    */
  final class Queries(spark: SparkSession, dir: String, out: String,
      names: Seq[String], tables: Seq[String]) extends Workload {
    def register(): Unit = {
      tables.foreach(t => Sources.parquet(spark, s"$dir/$t.parquet").toDF.schema)
      // the registry the calls look their queries up in
      require(names.forall(SparkEntry.queries.contains), "query missing from the registry")
    }

    private val last = collection.mutable.Map[String, (StructType, Seq[Row])]()

    val calls: Seq[Call] = names.map { q =>
      Call(q, () => {
        val df = SparkEntry.queries(q)(spark, dir)
        Built(() => last(q) = (df.schema, Pipeline(df).toList()._1), Some(df))
      })
    }

    def finish(): Map[String, Any] = {
      last.foreach { case (q, (schema, rows)) =>
        spark.createDataFrame(rows.asJava, schema).write.mode("overwrite")
          .parquet(s"$out/results/$q")
      }
      val oracles = SparkEntry.oracleSql
      Map("oracle_sql" -> names.filter(oracles.contains).map(q => q -> oracles(q)).toMap)
    }
  }

  /** laygo's own shapes over a generated table `laygo` (x long, k int):
    * the performance_test chain through Transformer and through typed
    * Scala lambdas, tap + catchErrors + reducePerKey, and first(n).
    */
  final class LaygoChain(spark: SparkSession, dir: String) extends Workload {
    private val path = s"$dir/laygo"
    private def source(): Pipeline = Sources.parquet(spark, path)
    def register(): Unit = source().toDF.schema

    // performance_test.py: filter even -> x2 -> keep > 100 -> +1
    private val chain: Transformer = Transformer.identity
      .filter(col("x") % 2 === 0).map((col("x") * 2).as("x"))
      .filter(col("x") > 100).map((col("x") + 1).as("x"))
    private val typedChain: TypedTransformer[Long, Long] = {
      implicit val enc = Encoders.scalaLong
      TypedTransformer.identity[Long].filter(_ % 2 == 0).map(_ * 2).filter(_ > 100).map(_ + 1)
    }
    private def typedSource(): TypedPipeline[Long] =
      TypedPipeline(source().apply(Transformer.identity.map(col("x"))).toDS[Long](Encoders.scalaLong))
    // rows with k % 7 == 0 fail the attempted division and are dropped
    private def tapCatchReduce(obs: Observation): Transformer = Transformer.identity
      .tapInto(obs, count(lit(1)).as("rows"))
      .catchErrors(Transformer.identity.withField("q", try_divide(col("x"), col("k") % 7)),
        isError = col("q").isNull)
      .reducePerKey(Seq(col("k")), Seq(count(lit(1)).as("n"), sum(col("x")).as("sx")))

    private var perKey: Seq[Row] = Nil
    private var tapRows = -1L
    private var firstRows: Seq[Row] = Nil

    val calls: Seq[Call] = Seq(
      Call("chain_transformer", () => {
        val p = source().apply(chain)
        Built(() => p.consume())
      }),
      Call("chain_typed", () => {
        val p = typedSource().transform(typedChain)
        Built(() => p.consume())
      }),
      Call("tap_catch_reduce", () => {
        val obs = Observation("laygo_tap")
        val p = source().apply(tapCatchReduce(obs))
        Built(() => {
          perKey = p.toList()._1
          tapRows = obs.get("rows").asInstanceOf[Long]
        }, Some(p.toDF))
      }),
      Call("first_n", () => {
        val p = source().apply(chain)
        Built(() => firstRows = p.first(100)._1)
      }))

    /** The last pass's outputs, plus count and sum of both consume()
      * chains re-run with a terminal reduce (consume returns nothing).
      */
    def finish(): Map[String, Any] = {
      val totals = source().apply(chain.reduceGlobal(count(lit(1)), sum(col("x"))))
        .toList()._1.head
      val typedTotals = {
        implicit val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
        typedSource().transform(typedChain.reduce[(Long, Long)]((0L, 0L),
          (b, v) => (b._1 + 1, b._2 + v), (a, b) => (a._1 + b._1, a._2 + b._2))).toList().head
      }
      Map(
        "chain_transformer" -> Seq(totals.getLong(0), totals.getLong(1)),
        "chain_typed" -> Seq(typedTotals._1, typedTotals._2),
        "tap_catch_reduce" -> Map(
          "tap_rows" -> tapRows,
          "per_key" -> perKey.map(r => Seq(r.getInt(0).toLong, r.getLong(1), r.getLong(2)))),
        "first_n" -> firstRows.map(_.getLong(0)))
    }
  }
}
