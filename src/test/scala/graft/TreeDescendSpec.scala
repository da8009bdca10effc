package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test}
import graft.functions.VectorExprs
import graft.operators.Similarity

/** The compiled tree descent ([[graft.functions.TreeDescend]]) against
  * the declarative per-level loop (`Similarity.treeDescendDeclarative`)
  * it replaced: the same (cell_id, sc, pm) rows, scores compared as raw
  * double bits, on generated trees with pass-through extension levels,
  * single-child nodes, duplicate vectors (tied scores) and zero vectors
  * (zero divisors), at the widths {1}, {3} and {2,4,8,16}.
  */
class TreeDescendSpec extends SparkSpec {

  private type Level = Seq[(Long, Seq[(Int, Array[Double])])]

  private val kidsType = ArrayType(StructType(Seq(
    StructField("child", IntegerType, nullable = false),
    StructField("ctv", ArrayType(DoubleType, containsNull = false)))),
    containsNull = false)

  private def levelDf(level: Level): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(level.map { case (n, kids) =>
        Row(n, kids.map { case (c, v) => Row(c, v.toSeq) })
      }, 2),
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("kids", kidsType))))

  private def queryDf(qs: Seq[(Long, Array[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        qs.map { case (id, v) => Row(id, Option(v).map(_.toSeq).orNull) }, 2),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("qv", ArrayType(DoubleType, containsNull = false)))))

  private def rows(df: DataFrame): Set[(Long, Long, Option[Long], Int)] =
    df.collect().map { r =>
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))),
        r.getInt(3))
    }.toSet

  private def compiled(queries: DataFrame, levels: Seq[DataFrame],
      widths: Seq[Int]): DataFrame = {
    val bc = spark.sparkContext.broadcast(Similarity.collectFlat(levels))
    queries.select(col("query_id"),
        explode(VectorExprs.treeDescend(col("qv"), bc, widths)).as("b"))
      .select(col("query_id"), col("b.cell_id"), col("b.sc"), col("b.pm"))
  }

  private val widthSets = Seq(Seq(1), Seq(3), Seq(2, 4, 8, 16))

  private val zero = Array(0.0, 0.0, 0.0)

  /** Three dims over five values: identical vectors recur (exact ties),
    * and one draw in nine is the zero vector.
    */
  private val vecGen: Gen[Array[Double]] = Gen.frequency(
    1 -> Gen.const(zero),
    8 -> Gen.listOfN(3, Gen.oneOf(-1.0, 0.0, 0.5, 1.0, 2.0)).map(_.toArray))

  /** Levels over a heap-numbered frontier: each frontier node splits
    * into one or two kids, or passes through the level unsplit. Kid
    * centroids come from a six-vector pool that always holds the zero
    * vector, so NULL scores compete with real ones in the beam order.
    */
  private val treeGen: Gen[Seq[Level]] = for {
    depth <- Gen.choose(1, 5)
    seed <- Gen.choose(0L, Long.MaxValue)
    pool <- Gen.listOfN(5, vecGen).map(zero +: _)
  } yield {
    val rnd = new scala.util.Random(seed)
    var frontier = Seq(1L)
    (0 until depth).map { l =>
      val split = frontier.filter(_ => l == 0 || rnd.nextInt(4) != 0)
      val level = split.map { n =>
        val kids = rnd.nextInt(3) match {
          case 0 => Seq(0)
          case 1 => Seq(1)
          case _ => Seq(0, 1)
        }
        n -> kids.map(c => c -> pool(rnd.nextInt(pool.size)))
      }
      frontier = frontier.filterNot(split.contains) ++
        level.flatMap { case (n, kids) => kids.map(k => 2L * n + k._1) }
      level
    }
  }

  private val caseGen: Gen[(Seq[Level], Seq[(Long, Array[Double])])] = for {
    tree <- treeGen
    nq <- Gen.choose(1, 8)
    qs <- Gen.listOfN(nq, Gen.frequency(
      6 -> vecGen,
      2 -> Gen.oneOf(tree.flatMap(_.flatMap(_._2.map(_._2)))),
      1 -> Gen.const(null: Array[Double])))
  } yield (tree, qs.zipWithIndex.map { case (v, i) => (i.toLong, v) })

  private def withAnsi[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body
    finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("TreeDescend equals the declarative per-level descent bit-exactly on generated trees") {
    // non-ANSI: a zero divisor scores NULL on both sides, so zero
    // vectors exercise the NULL-last order instead of failing the run
    withAnsi(on = false) {
      val prop = Prop.forAllNoShrink(caseGen) { case (tree, qs) =>
        val levels = tree.map(levelDf)
        val queries = queryDf(qs)
        Prop.all(widthSets.map { ws =>
          val want = rows(Similarity.treeDescendDeclarative(queries, levels, ws))
          val got = rows(compiled(queries, levels, ws))
          Prop(got == want) :| (s"widths $ws, tree ${tree.map(_.map { case (n, k) =>
            n -> k.map { case (c, v) => c -> v.toSeq } })}, " +
            s"queries ${qs.map { case (i, v) => i -> Option(v).map(_.toSeq) }}:\n" +
            s"compiled ${got.toSeq.sorted}\ndeclarative ${want.toSeq.sorted}")
        }: _*)
      }
      val res = Test.check(Test.Parameters.default
        .withMinSuccessfulTests(12).withInitialSeed(20261019L).withWorkers(1), prop)
      assert(res.passed, res.status.toString)
    }
  }

  test("TreeDescend and the declarative descent score a zero divisor NULL under ANSI") {
    withAnsi(on = true) {
      val levels = Seq(levelDf(Seq(1L -> Seq(0 -> Array(1.0, 0.0, 0.0),
        1 -> Array(0.0, 1.0, 0.0)))))
      val queries = queryDf(Seq(0L -> Array(1.0, 1.0, 0.0), 1L -> Array(0.0, 0.0, 0.0)))
      val want = rows(Similarity.treeDescendDeclarative(queries, levels, Seq(1)))
      assert(want.filter(_._1 == 1L).map(_._3) == Set(None),
        "the zero query must score NULL on the declarative path")
      assert(rows(compiled(queries, levels, Seq(1))) == want,
        "both paths must agree row for row, the zero query included")
    }
  }

  test("TreeDescend equals the declarative descent on a trained size-guarded tree") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val tree = Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
      Similarity.cellsPlan(corpus.count(), 64), iters = 1, targetRows = 64)
    val queries = emb.where(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    for (ws <- widthSets) {
      val want = rows(Similarity.treeDescendDeclarative(queries, tree.levels, ws))
      assert(want.nonEmpty)
      assert(rows(compiled(queries, tree.levels, ws)) == want, s"widths $ws")
    }
  }
}
