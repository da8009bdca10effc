package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f)),  // close to 1
    (3L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal to 1
    (4L, Array(-1.0f, 0.0f, 0.0f))  // opposite of 1
  ).toDF("vec_id", "embedding")

  test("cosine kernel matches hand-computed values") {
    val df = vecs.where(col("vec_id").isin(1, 2))
    val c = Similarity.nearDupCosineExact(df, "vec_id", "embedding", -1.0)
      .collect().head.getAs[Double]("cosine")
    val expected = 0.9 / math.sqrt(0.81 + 0.01) // 0.9939...
    assert(math.abs(c - expected) < 1e-9)
  }

  test("near-dup exact finds only pairs above threshold") {
    val pairs = Similarity.nearDupCosineExact(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force topk ranks by cosine desc with deterministic ties") {
    val out = Similarity.annTopKBruteForce(
      vecs.where(col("vec_id") === 1), vecs.where(col("vec_id") =!= 1),
      "vec_id", "embedding", 3).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(out.toSeq == Seq((1, 2L), (2, 3L), (3, 4L)))
  }

  test("topKByScore aggregate equals the row_number window on ties and NaN-free data") {
    import spark.implicits._
    // duplicate vectors force EXACT cosine ties -> id-asc tie-break;
    // the r18 partial-aggregating top-k must rank identically to the
    // window formulation it replaced
    val corpus = Seq(
      (10L, Array(1.0, 0.0, 0.0)), (11L, Array(1.0, 0.0, 0.0)),
      (12L, Array(1.0, 0.0, 0.0)), (13L, Array(0.9, 0.1, 0.0)),
      (14L, Array(0.0, 1.0, 0.0)), (15L, Array(0.5, 0.5, 0.0)))
      .toDF("vec_id", "embedding")
    val qs = Seq((1L, Array(1.0, 0.0, 0.0)), (2L, Array(0.3, 0.7, 0.0)))
      .toDF("vec_id", "embedding")
    val got = Similarity.annTopKBruteForce(qs, corpus, "vec_id", "embedding", 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    // window reference, computed inline
    import org.apache.spark.sql.expressions.Window
    val q = qs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val c = corpus.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
    val scored = c.crossJoin(q).withColumn("cosine",
      graft.functions.VectorExprs.dotp(col("qv"), col("cv")) /
        sqrt(graft.functions.VectorExprs.dotp(col("qv"), col("qv")) *
          graft.functions.VectorExprs.dotp(col("cv"), col("cv"))))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    val want = scored.withColumn("rank", row_number().over(w)).where(col("rank") <= 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSet
    assert(got == want)
    // the tie block ranks 10 < 11 < 12
    assert(got.contains((1L, 1, 10L)) && got.contains((1L, 2, 11L))
      && got.contains((1L, 3, 12L)))
  }

  test("LSH near-dup finds the close pair (bucketed, no full cross)") {
    val pairs = Similarity.nearDupCosineLsh(vecs, "vec_id", "embedding", 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH recall < 1 in general, but vectors this close share all 8
    // hyperplane signs with overwhelming probability
    assert(pairs == Set((1L, 2L)))
  }

  test("bucketed near-dup = exact near-dup restricted to shared sign buckets") {
    // the graded scale path's contract: identical pairs/cosines as the
    // all-pairs O(n²) verifier wherever the deterministic sign bucket
    // agrees — exact(df) is spec-only from round 3 on
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").where(col("vec_id") < 200)
    val bits = 4
    val exact = Similarity.nearDupCosineExact(emb, "vec_id", "embedding", 0.3)
    val sameBucket = {
      val v = emb.select(col("vec_id"),
        Similarity.signBucket(Similarity.asDouble(col("embedding")), bits).as("bucket"))
      exact
        .join(v.select(col("vec_id").as("id_a"), col("bucket").as("ba")), "id_a")
        .join(v.select(col("vec_id").as("id_b"), col("bucket").as("bb")), "id_b")
        .where(col("ba") === col("bb"))
        .select("id_a", "id_b", "cosine")
    }
    val bucketed = Similarity.nearDupCosineBucketed(emb, "vec_id", "embedding", 0.3, bits)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(key(bucketed) == key(sameBucket))
    assert(key(bucketed).subsetOf(key(exact)))
  }

  test("multi-table LSH pairs are a superset of the single table's (table 0 = bits 0-7)") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = key(Similarity.nearDupCosineLsh(emb, "vec_id", "embedding", 0.4, 8))
    val multi = key(Similarity.nearDupCosineLshMulti(emb, "vec_id", "embedding", 0.4, 8, 3))
    assert(single.subsetOf(multi),
      s"multi-table must dominate: missing ${single.diff(multi)}")
    // every multi pair is a true near-dup (verify step is exact)
    val exact = key(Similarity.nearDupCosineExact(emb, "vec_id", "embedding", 0.4))
    assert(multi.subsetOf(exact), s"false positives: ${multi.diff(exact)}")
  }

  test("lshPlanBits: bucket-size-bounded bits at every scale") {
    // the graded scale rule: smallest nBits with 2^nBits >= ceil(n/B)
    assert(Similarity.lshPlanBits(500, 64) == 3)    // sf0.01: 8 buckets
    assert(Similarity.lshPlanBits(2000, 64) == 5)   // sf0.1: 32 buckets
    assert(Similarity.lshPlanBits(64, 64) == 1)     // degenerate floor
    assert(Similarity.lshPlanBits(0, 64) == 1)
    assert(Similarity.lshPlanBits(1L << 30, 1024) == 20)  // 1B rows -> 20 bits
    assert(Similarity.lshPlanBits(100L * (1L << 30), 1024) == 27) // ~100B rows
    // exact power boundary: 2^nb == m must not round up
    assert(Similarity.lshPlanBits(512, 64) == 3)
    assert(Similarity.lshPlanBits(513, 64) == 4)
  }

  test("cellsPlan: cell-size-bounded cluster count at every scale") {
    // the k-means twin of lshPlanBits: ceil(n / targetCellRows), min 1
    assert(Similarity.cellsPlan(500, 64) == 8)      // sf0.01 embeddings
    assert(Similarity.cellsPlan(2000, 64) == 32)    // sf0.1
    assert(Similarity.cellsPlan(250, 64) == 4)      // knn corpus side
    assert(Similarity.cellsPlan(64, 64) == 1)       // exact boundary
    assert(Similarity.cellsPlan(65, 64) == 2)
    assert(Similarity.cellsPlan(0, 64) == 1)        // degenerate floor
    assert(Similarity.cellsPlan(1L << 30, 4096) == 262144) // 1B rows
    // expected cell size never exceeds the target for any n
    for (n <- Seq(1L, 63L, 64L, 1000L, 999999L)) {
      val cells = Similarity.cellsPlan(n, 64)
      assert(n <= cells.toLong * 64, s"n=$n cells=$cells overflows target")
    }
  }

  test("banded near-dup: no false positives, recall measured at deployed params") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded =
      key(Similarity.nearDupCosineBanded(emb, "vec_id", "embedding", 0.4, Memo.rows(emb)))
    val exact = key(Similarity.nearDupCosineExact(emb, "vec_id", "embedding", 0.4))
    // verify step is exact: every emitted pair is a true near-dup
    assert(banded.subsetOf(exact), s"false positives: ${banded.diff(exact)}")
    assert(banded.nonEmpty, "deployed config found no pairs at all")
    // the deployed-parameter harness agrees with a direct recount
    val r = Similarity.bandedRecallEval(emb, "vec_id", "embedding", 0.4, 64, 6, 2)
      .collect().head
    assert(r.getAs[Long]("n_bits") == Similarity.lshPlanBits(emb.count(), 64))
    assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n_exact"))
    assert(r.getAs[Double]("recall") > 0.0)
  }

  test("cosine rate curve: monotone in threshold, consistent with the deployed join") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val curve = Similarity.nearDupCosineRateCurve(emb, "vec_id", "embedding",
      Seq(0.3, 0.4, 0.5)).collect()
      .map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Long]("n_candidates"), r.getAs[Long]("n_pairs")))).toMap
    // one candidate count across the whole ladder (one pair join)
    assert(curve.values.map(_._1).toSet.size == 1)
    // verified mass is monotone non-increasing in the threshold and
    // bounded by the candidate mass
    val ns = Seq(0.3, 0.4, 0.5).map(t => curve(t)._2)
    assert(ns == ns.sorted.reverse, s"not monotone: $ns")
    assert(ns.head <= curve(0.3)._1)
    // the 0.4 ladder point recounts the graded bucketed join exactly
    val deployed =
      Similarity.nearDupCosineBanded(emb, "vec_id", "embedding", 0.4, Memo.rows(emb)).count()
    assert(curve(0.4)._2 == deployed,
      s"curve point ${curve(0.4)._2} != deployed join $deployed")
  }

  test("incremental banded near-dup links only across the batch/corpus boundary") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val batch = emb.where(col("vec_id") % 10 === 0)
    val corpus = emb.where(col("vec_id") % 10 =!= 0)
    val links = Similarity.nearDupCosineBandedIncremental(
      batch, corpus, "vec_id", "embedding", 0.3, Memo.rows(corpus))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(links.nonEmpty, "no cross links found at 0.3")
    links.foreach { case (n, o) =>
      assert(n % 10 == 0 && o % 10 != 0, s"within-side pair ($n,$o) leaked")
    }
    // every emitted link is a true near-dup (exact verify)
    val exact = Similarity.nearDupCosineExact(emb, "vec_id", "embedding", 0.3)
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    links.foreach { case (n, o) =>
      assert(exact.contains(Set(n, o)), s"false positive ($n,$o)")
    }
  }

  test("hyperplane bitOffset selects distinct tables from the global sign stream") {
    // table t at offset t*nBits must reproduce the bit-slice of one
    // packed wide call — the identity the banded operator relies on
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(50)
    val v = emb.select(col("vec_id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val nb = 8
    val cols = graft.functions.VectorExprs.hyperplaneBucket(col("v"), 3 * nb).as("packed") +:
      (0 until 3).map(t =>
        graft.functions.VectorExprs.hyperplaneBucketAt(col("v"), nb, t * nb)
          .as(s"t$t"))
    val checked = v.select(cols: _*)
    checked.collect().foreach { r =>
      val packed = r.getAs[Long]("packed")
      (0 until 3).foreach { t =>
        assert(r.getAs[Long](s"t$t") == ((packed >> (t * nb)) & ((1L << nb) - 1)),
          s"table $t bucket != packed bit-slice")
      }
    }
  }

  test("IVF+PQ two-stage: well-formed top-k, candidates confined to probed cells") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val out = Similarity.annIvfPq(
      emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
      "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4,
      dims = 64, nSub = 8, nCodes = 16, shortlist = 20)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val byQuery = out.groupBy(_._1)
    assert(byQuery.size == 10 && byQuery.values.forall(_.length == 5),
      s"expected 10 queries x 5 results, got ${out.length}")
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to 5), "ranks must be 1..5")
      assert(sorted.sliding(2).forall(w => w(0)._4 >= w(1)._4),
        "cosines must descend with rank (exact rerank)")
    }
    // the rerank is exact, so every emitted cosine must equal the
    // brute-force cosine for that (query, neighbor) pair
    val brute = Similarity.annTopKBruteForce(
      emb.where(col("vec_id") < 10), emb.where(col("vec_id") >= 10),
      "vec_id", "embedding", 490)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    out.foreach { case (q, _, n, cs) =>
      assert(math.abs(brute((q, n)) - cs) < 1e-12, s"cosine mismatch for ($q,$n)")
    }
  }

  test("IVF ANN achieves high recall vs brute force on real embeddings") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val c = emb.where(col("vec_id") >= 5)
    val brute = Similarity.annTopKBruteForce(q, c, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.annIvf(q, c, "vec_id", "embedding", 5, nCells = 8, nProbe = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall (probing 6/8 cells)")
  }

  test("recall curve: fused-mask ladder matches the sequential single-point harness") {
    // the curve computes EVERY width from ONE masked descent; this
    // pins it against knnJoinRecallEval's independent one-beam path
    // (sum of per-query hits == the curve's corpus-level hit count)
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") % 2 === 0)
    val c = emb.where(col("vec_id") % 2 === 1)
    val nCells = Similarity.cellsPlan(c.count(), 16)
    val curve = Similarity.knnJoinRecallCurve(q, c, "vec_id", "embedding",
      k = 3, nCells = nCells, nProbes = Seq(2, 4, 8), iters = 1,
      sampleMod = 1, targetRows = 16)
      .collect().map(r => r.getInt(0) -> (r.getLong(3), r.getDouble(4))).toMap
    for (p <- Seq(2, 4, 8)) {
      val eval = Similarity.knnJoinRecallEval(q, c, "vec_id", "embedding",
        k = 3, nCells = nCells, nProbe = p, iters = 1, sampleMod = 1,
        targetRows = 16)
      val hits = eval.agg(sum(col("n_hit"))).collect()(0).getLong(0)
      assert(curve(p)._1 == hits,
        s"curve n_hit at p=$p: ${curve(p)._1} != sequential $hits")
    }
    // per-width beams are NOT nested (knnJoinRecallCurve doc): a
    // narrow-beam survivor can be displaced from a wider beam, so
    // recall is only approximately monotone — allow a 5pp dip
    assert(curve(2)._2 <= curve(4)._2 + 0.05 && curve(4)._2 <= curve(8)._2 + 0.05,
      s"recall regressed beyond non-nested-beam tolerance: $curve")
  }

  test("nProbeForRecall: smallest measured width meeting the target, widest as fallback") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") % 2 === 0)
    val c = emb.where(col("vec_id") % 2 === 1)
    val nCells = Similarity.cellsPlan(c.count(), 16)
    val curve = Similarity.knnJoinRecallCurve(q, c, "vec_id", "embedding",
      k = 3, nCells = nCells, nProbes = Seq(2, 4, 8), iters = 1,
      sampleMod = 1, targetRows = 16)
      .collect().map(r => r.getInt(0) -> r.getDouble(4)).sortBy(_._1)
    val chosen = Similarity.nProbeForRecall(q, c, "vec_id", "embedding",
      3, nCells, Seq(2, 4, 8), 1, 1, 16, targetRecall = 0.9)
    assert(chosen == curve.find(_._2 >= 0.9).map(_._1).getOrElse(8),
      s"selector $chosen vs curve ${curve.toSeq}")
    // an unreachable target degrades to the widest measured width
    assert(Similarity.nProbeForRecall(q, c, "vec_id", "embedding",
      3, nCells, Seq(2, 4, 8), 1, 1, 16, targetRecall = 2.0) == 8)
    // the recall-targeted deployment IS knnJoinIvf at the chosen width
    val dep = Similarity.knnJoinIvfAtRecall(q, c, "vec_id", "embedding",
      3, nCells, 1, 16).collect().toSet
    val ref = Similarity.knnJoinIvf(q, c, "vec_id", "embedding",
      3, nCells, chosen, 1, 16).collect().toSet
    assert(dep == ref)
  }

  test("semdedup rate curve: ladder point equals an independent semDedup run, monotone in eps") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nCells = Similarity.cellsPlan(emb.count(), 16)
    val curve = Similarity.semDedupRateCurve(emb, "vec_id", "embedding",
      nCells = nCells, iters = 1, epss = Seq(0.2, 0.4, 0.6), targetRows = 16)
      .collect().map(r => r.getDouble(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = nCells, iters = 1, eps = 0.4, targetRows = 16)
    val pruned = full.where(!col("kept")).count()
    assert(curve(0.4)._2 == pruned,
      s"curve n_pruned at deployed eps: ${curve(0.4)._2} != semDedup's $pruned")
    assert(curve(0.4)._1 == full.count())
    // a stricter threshold can only prune fewer
    assert(curve(0.2)._2 >= curve(0.4)._2 && curve(0.4)._2 >= curve(0.6)._2)
  }

  test("dot/norm fold is bit-deterministic (fixed operation order)") {
    val df = Seq((1L, Array(0.1f, 0.2f, 0.3f, 0.4f))).toDF("id", "v")
    val d1 = df.select(Similarity.dot(Similarity.asDouble(col("v")),
      Similarity.asDouble(col("v"))).as("d")).collect().head.getDouble(0)
    val expected = Seq(0.1f, 0.2f, 0.3f, 0.4f)
      .map(_.toDouble).foldLeft(0.0)((acc, x) => acc + x * x)
    assert(d1 == expected) // exact equality, not approx
  }

  test("kmeans centroids converge to obvious cluster centers") {
    import spark.implicits._
    // three tight clusters around orthogonal directions
    val pts = (0 until 30).map { i =>
      val base = i % 3 match {
        case 0 => Array(1.0f, 0.0f, 0.0f)
        case 1 => Array(0.0f, 1.0f, 0.0f)
        case _ => Array(0.0f, 0.0f, 1.0f)
      }
      val eps = 0.01f * ((i / 3) % 5)
      (i.toLong, base.map(_ + eps))
    }.toDF("vec_id", "embedding")
    val cents = Similarity.kmeansCentroids(pts, "vec_id", "embedding", 3, iters = 4)
      .collect().map(_.getSeq[Double](1).toArray)
    assert(cents.length == 3)
    // each centroid should be dominated by one axis
    val domAxes = cents.map(c => c.indexOf(c.max)).sorted
    assert(domAxes.toSeq == Seq(0, 1, 2), s"centroids not separated: ${cents.map(_.mkString(",")).mkString(" | ")}")
  }

  test("kmeans-trained IVF matches brute force better than or equal to untrained") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") < 5)
    val c = emb.where(col("vec_id") >= 5)
    val brute = Similarity.annTopKBruteForce(q, c, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cents = Similarity.kmeansCentroids(c, "vec_id", "embedding", 8, iters = 3)
    val trained = Similarity.annIvfWithCentroids(q, c, cents, "vec_id", "embedding", 5, nProbe = 6)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute & trained).size.toDouble / brute.size
    assert(recall >= 0.5, s"trained IVF recall too low: $recall")
  }

  test("annRecallEval: exact counts, bounded recall, bit-stable across partition layouts") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(parts: Int) = Similarity.annRecallEval(
      emb.where(col("vec_id") < 10).repartition(parts),
      emb.where(col("vec_id") >= 10).repartition(parts),
      "vec_id", "embedding", k = 5, nCells = 16, nProbe = 4, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1).toSeq
    val a = run(2)
    a.foreach { case (_, nTruth, nHit, recall) =>
      assert(nTruth == 5 && nHit >= 0 && nHit <= nTruth)
      assert(recall == math.floor(nHit.toDouble / nTruth * 10000 + 0.5) / 10000)
    }
    // the integer-frozen k-means means make the WHOLE harness (training
    // included) independent of partitioning — the property that lets
    // the DuckDB oracle replay it
    assert(a == run(7), "trained-path recall not partition-invariant")
  }

  // two clean clusters around the axis seeds (ids 1 and 2); iters=0
  // keeps the seeds as centroids so every assignment and centroid
  // cosine is hand-checkable
  private val semVecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f)),
    (3L, Array(0.9f, 0.1f, 0.0f)),
    (4L, Array(0.95f, 0.05f, 0.0f)),
    (5L, Array(0.0f, 0.9f, 0.1f)),
    (6L, Array(0.0f, 0.1f, 0.9f))
  ).toDF("vec_id", "embedding")

  test("semDedup keeps the farthest-from-centroid member of each duplicate neighborhood") {
    val out = Similarity.semDedup(semVecs, "vec_id", "embedding",
      nCells = 2, iters = 0, eps = 0.99)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    // cell 1 = {1,3,4}, all pairwise ≥0.99: id3 has the lowest
    // centroid-cosine (0.9938) so it is the keeper; 1 and 4 are
    // dominated by it. cell 2 = {2,5,6}: 5 dominates 2 (cos 0.9938),
    // 6 is nobody's eps-neighbor (cos ≤ 0.22) and keeps.
    assert(out == Map(1L -> false, 2L -> false, 3L -> true,
      4L -> false, 5L -> true, 6L -> true), s"kept map: $out")
  }

  test("bisecting-tree memo: reuse is hash-identical to a fresh build and skips the build") {
    // the train-once contract (r15 verdict #3): the five kNN/SemDeDup
    // graded queries share one tree per (session, corpus, params); the
    // memo must change NOTHING but the build count
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .where(col("vec_id") < 300)
    def run() = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = 8, iters = 1, eps = 0.4, targetRows = 16)
      .collect().map(_.toString).sorted.toSeq
    Memo.evict(Memo.Trees)
    val b0 = Similarity.treeBuilds.get()
    val first = run()
    assert(Similarity.treeBuilds.get() == b0 + 1, "first run trains the tree")
    val second = run()
    assert(Similarity.treeBuilds.get() == b0 + 1,
      "second run must reuse the memoized tree, not retrain")
    assert(second == first, "memoized outputs must be hash-identical")
    Memo.evict(Memo.Trees)
    val freshAgain = run()
    assert(Similarity.treeBuilds.get() == b0 + 2)
    assert(freshAgain == first, "fresh rebuild must be hash-identical too")
    // the trainer hook Bench and RunOne run before every pass of
    // semdedup_prune: each pass pays a real build
    SparkEntry.evictTrainerMemo("semdedup_prune")
    run()
    assert(Similarity.treeBuilds.get() == b0 + 3)
    SparkEntry.evictTrainerMemo("semdedup_prune")
    run()
    assert(Similarity.treeBuilds.get() == b0 + 4,
      "the trainer hook must force a fresh build on every run")
    Memo.evict(Memo.Trees)
    // the flat-tree broadcast every descent reads: built at a memoized
    // tree's first descent, shared by later descents, destroyed with
    // the entry (explicit eviction and the stale-entry path)
    val corpus = emb.where(col("vec_id") % 2 === 1)
    def curve() = Similarity.knnJoinRecallCurve(emb.where(col("vec_id") % 2 === 0),
      corpus, "vec_id", "embedding", k = 3, nCells = 8, nProbes = Seq(1, 2),
      iters = 1, sampleMod = 1, targetRows = 16).collect().map(_.toString).sorted.toSeq
    def tree() = Similarity.bisectAssignedCached(corpus, "vec_id", "embedding",
      nCells = 8, iters = 1, targetRows = 16)
    val f0 = Similarity.treeFlatBuilds.get()
    val c1 = curve()
    assert(Similarity.treeFlatBuilds.get() == f0 + 1, "first descent builds the broadcast")
    assert(curve() == c1)
    assert(Similarity.treeFlatBuilds.get() == f0 + 1,
      "second run must reuse the memoized tree's broadcast")
    val bc = tree().flat
    Memo.evict(Memo.Trees)
    assert(intercept[Exception](bc.value).getMessage.contains("destroyed"),
      "evict(Trees) must destroy the broadcast")
    assert(curve() == c1, "rebuilt tree and broadcast must be hash-identical")
    assert(Similarity.treeFlatBuilds.get() == f0 + 2,
      "after eviction the next run builds a new broadcast")
    // lost blocks: the stale entry is rebuilt and its broadcast destroyed
    val stale = tree()
    val staleBc = stale.flat
    org.apache.spark.sql.GraftBridge.checkpointRdds(stale.assigned)
      .foreach(_.unpersist(blocking = true))
    val t1 = Similarity.treeBuilds.get()
    assert(tree() ne stale)
    assert(Similarity.treeBuilds.get() == t1 + 1, "a stale entry must be rebuilt")
    assert(intercept[Exception](staleBc.value).getMessage.contains("destroyed"),
      "the stale-entry path must destroy the broadcast")
    Memo.evict(Memo.Trees)
  }

  test("an all-zero vector scores a NULL cosine in knnJoinIvf and semDedup under ANSI mode") {
    // Spark 4's default ANSI mode raised DIVIDE_BY_ZERO on the zero
    // norm, failing the whole query; the zero row now scores NULL
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    val withZero = semVecs.union(Seq((7L, Array(0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding"))
    val knn = Similarity.knnJoinIvf(withZero, withZero, "vec_id", "embedding",
      k = 2, nCells = 2, nProbe = 1, iters = 0).collect()
    val zeroQuery = knn.filter(_.getLong(0) == 7L)
    assert(zeroQuery.nonEmpty && zeroQuery.forall(_.isNullAt(3)),
      s"zero query rows: ${zeroQuery.toSeq}")
    assert(knn.filter(_.getLong(0) != 7L).forall(r => r.isNullAt(3) == (r.getLong(2) == 7L)),
      "only pairs with the zero vector score NULL")
    val sem = Similarity.semDedup(withZero, "vec_id", "embedding",
      nCells = 2, iters = 0, eps = 0.99).collect().map(r => r.getLong(0) -> r).toMap
    assert(sem.size == 7 && sem(7L).isNullAt(2) && sem(7L).getBoolean(3),
      s"semDedup rows: ${sem.values.toSeq}")
  }

  test("semDedup keeps everything when eps exceeds every intra-cell cosine") {
    val out = Similarity.semDedup(semVecs, "vec_id", "embedding",
      nCells = 2, iters = 0, eps = 0.9999)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(out.values.forall(identity), s"kept map: $out")
  }

  test("size-guarded splitting hard-bounds every cell at targetRows") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    // without the guard, one Lloyd refinement per level only bounds
    // the EXPECTED cell size — imbalanced splits can leave cells well
    // over target (the measured r12 gap vs flat Lloyd cells)
    val unguarded = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = Similarity.cellsPlan(500, 16), iters = 1, eps = 0.4)
      .groupBy(col("cell_id")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(unguarded > 16,
      s"expected the unguarded tree to overshoot the 16-row target, got $unguarded")
    // the guarded extension splits exactly the oversized nodes until
    // every cell is at or under target (or split-stuck / out of slack
    // — neither occurs on this data)
    val sizes = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = Similarity.cellsPlan(500, 16), iters = 1, eps = 0.4,
      targetRows = 16)
      .groupBy(col("cell_id")).count()
      .select(col("count")).collect().map(_.getLong(0))
    assert(sizes.sum == 500, "every vector still lands in exactly one cell")
    assert(sizes.max <= 16, s"cell over target survived: max ${sizes.max}")
    // and the guarded run stays partition-invariant like everything
    // else in the family (integer counts + frozen means + unique-id
    // tie-breaks)
    val a = Similarity.semDedup(emb.repartition(2), "vec_id", "embedding",
      nCells = Similarity.cellsPlan(500, 16), iters = 1, eps = 0.4,
      targetRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val b = Similarity.semDedup(emb.repartition(7), "vec_id", "embedding",
      nCells = Similarity.cellsPlan(500, 16), iters = 1, eps = 0.4,
      targetRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    assert(a == b, "size-guarded semDedup not partition-invariant")
  }

  test("split-stuck corpus (all-identical vectors) terminates and dedups to one keeper") {
    import spark.implicits._
    // every split sends all rows to child 0 (identical seeds → tied
    // cosines → child 0), so the size guard can never make progress:
    // the cap must end the loop, the rows must stay one cell, and
    // dominance must keep exactly the best-priority (lowest-id)
    // member of what is one big eps-duplicate class
    val emb = (1L to 100L).map(i => (i, Array(0.6f, 0.8f))).toDF("vec_id", "embedding")
    val out = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = Similarity.cellsPlan(100, 16), iters = 1, eps = 0.99,
      targetRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    assert(out.length == 100)
    assert(out.map(_._2).distinct.length == 1, "identical rows must share one cell")
    assert(out.filter(_._3).map(_._1).toSeq == Seq(1L),
      s"exactly the lowest id survives: ${out.filter(_._3).toSeq}")
  }

  test("bisect family degenerate inputs: empty and single-row corpora") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.semDedup(empty, "vec_id", "embedding",
      nCells = 4, iters = 1, eps = 0.5, targetRows = 16).count() == 0)
    val one = Seq((7L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.semDedup(one, "vec_id", "embedding",
      nCells = 4, iters = 1, eps = 0.5, targetRows = 16).collect()
    assert(r.length == 1 && r(0).getBoolean(3), "a lone vector is always kept")
    // kNN join against a 1-row corpus: every query retrieves that row
    val q = Seq((2L, Array(0.0f, 1.0f)), (4L, Array(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val knn = Similarity.knnJoinIvf(q, one, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 2, iters = 1, targetRows = 16)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(knn.toSet == Set((2L, 7L), (4L, 7L)), s"got ${knn.toSeq}")
  }

  test("semDedup kept set is partition-invariant") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    def run(parts: Int) = Similarity.semDedup(emb.repartition(parts),
      "vec_id", "embedding", nCells = 16, iters = 2, eps = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val a = run(2)
    assert(a.exists(!_._3), "expected at least one pruned vector")
    assert(a.count(_._3) > a.size / 2, "expected most vectors kept")
    assert(a == run(7), "semDedup not partition-invariant")
  }

  test("semDedupFidelityEval detects dominance-vs-greedy divergence on an eps-chain") {
    import spark.implicits._
    // one cell, an eps-chain v1–v2–v3 (unit vectors at 0°, 50°, 100°,
    // eps = 0.5 = cos 60°: cos(v1,v2) = cos(v2,v3) = 0.643 ≥ eps,
    // cos(v1,v3) = −0.174 < eps) plus a 295°–310° mass that drags the
    // centroid so the chain MIDDLE (v2) outranks the endpoint v1.
    // Visit order by (priority, id): 3, 2, 4, 5, 6, 7, 1.
    // GREEDY: keeps 3; prunes 2 (vs 3); keeps 4; prunes 5,6,7 (vs 4);
    //   keeps 1 (its only eps-neighbor 2 was itself pruned) → {3,4,1}.
    // DOMINANCE: prunes 1 too (better-priority 2 is an eps-neighbor,
    //   kept or not) → {3,4}. The divergence the harness must measure.
    def v(deg: Double) = Array(
      math.cos(math.toRadians(deg)).toFloat, math.sin(math.toRadians(deg)).toFloat)
    val emb = Seq(
      (1L, v(0)), (2L, v(50)), (3L, v(100)),
      (4L, v(295)), (5L, v(300)), (6L, v(305)), (7L, v(310))
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDedupFidelityEval(emb, "vec_id", "embedding",
      nCells = 1, iters = 2, eps = 0.5)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(out.toSeq == Seq((7L, 2L, 3L, 2L)),
      s"(n_items, dom, greedy, both): ${out.toSeq}")
    // and the dominance channel must agree with semDedup itself
    val kept = Similarity.semDedup(emb, "vec_id", "embedding",
      nCells = 1, iters = 2, eps = 0.5)
      .where(col("kept")).select("vec_id").as[Long].collect().toSet
    assert(kept == Set(3L, 4L), s"semDedup kept: $kept")
  }

  test("knnJoinRecallEval: probing all cells yields recall 1.0, deployed point below") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val queries = emb.where(col("vec_id") % 2 === 0)
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val full = Similarity.knnJoinRecallEval(queries, corpus, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 4, iters = 2, sampleMod = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(full.nonEmpty)
    assert(full.forall { case (_, t, h, rec) => t == 3L && h == 3L && rec == 1.0 },
      s"full-probe recall must be exact: ${full.filterNot(_._4 == 1.0).take(3).toSeq}")
    val partial = Similarity.knnJoinRecallEval(queries, corpus, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 1, iters = 2, sampleMod = 8)
      .collect().map(r => (r.getLong(2), r.getLong(1)))
    val recall = partial.map(_._1).sum.toDouble / partial.map(_._2).sum
    assert(recall < 1.0 && recall > 0.0,
      s"1-of-4-probe recall should be measured strictly between 0 and 1: $recall")
  }

  test("knnJoinIvf probing all cells equals brute-force top-k") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") % 2 === 0)
    val c = emb.where(col("vec_id") % 2 === 1)
    val knn = Similarity.knnJoinIvf(q, c, "vec_id", "embedding",
      k = 3, nCells = 4, nProbe = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val brute = Similarity.annTopKBruteForce(q, c, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(knn == brute, "probe-all kNN join must be exact")
  }

  test("knnJoinIvf emits at most k ranked rows per query, every query present") {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = emb.where(col("vec_id") % 2 === 0)
    val c = emb.where(col("vec_id") % 2 === 1)
    val rows = Similarity.knnJoinIvf(q, c, "vec_id", "embedding",
      k = 3, nCells = 8, nProbe = 2, iters = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val byQ = rows.groupBy(_._1)
    assert(byQ.size == q.count(), "every query must retrieve something")
    byQ.foreach { case (qid, rs) =>
      val ranks = rs.map(_._2).sorted.toSeq
      assert(ranks == (1 to ranks.size), s"ranks not dense for $qid: $ranks")
      assert(ranks.size <= 3)
    }
  }

  test("assignIncremental: descending the tree reproduces the stored assignment") {
    // the incremental-refresh invariant: the greedy width-1 descent IS
    // the assignment rule, so a corpus row sent through the batch path
    // lands in its stored cell bit-exactly — incremental assignment
    // and full assignment agree on the union by construction
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val nCells = Similarity.cellsPlan(corpus.count(), 64)
    val stored = Similarity.cellAssignments(corpus, "vec_id", "embedding",
      nCells, iters = 1, targetRows = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val descended = Similarity.assignIncremental(corpus, corpus,
      "vec_id", "embedding", nCells, iters = 1, targetRows = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(descended.size == stored.size, "every corpus row must descend to a cell")
    val diffs = stored.collect { case (id, c) if descended(id) != c =>
      (id, c, descended(id)) }
    assert(diffs.isEmpty, s"${diffs.size} rows diverge, e.g. ${diffs.take(3)}")
    // and a genuinely NEW batch (even ids) gets a total assignment
    val batch = emb.where(col("vec_id") % 2 === 0)
    val asg = Similarity.assignIncremental(batch, corpus, "vec_id", "embedding",
      nCells, iters = 1, targetRows = 64)
    assert(asg.count() == batch.count(), "assignment must be total over the batch")
  }

  test("annIvfDrift: corpus-as-batch reports zero drift in every cell") {
    // descend(corpus row) ≡ stored assignment (the spec above), so a
    // drift report of the corpus against ITSELF must show per-cell
    // n_batch == n_corpus, batch mean == corpus mean, drift == 0 —
    // any nonzero cell would mean the two cosine channels (cent_cos
    // vs beam sc) disagree on identical rows
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val nCells = Similarity.cellsPlan(corpus.count(), 64)
    val rep = Similarity.annIvfDrift(corpus, corpus, "vec_id", "embedding",
      nCells, iters = 1, targetRows = 64).collect()
    assert(rep.nonEmpty)
    rep.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"cell ${r.getLong(0)}: n_batch ${r.getLong(2)} != n_corpus ${r.getLong(1)}")
      assert(r.getLong(5) == r.getLong(6),
        s"cell ${r.getLong(0)}: batch mean != corpus mean")
      assert(r.getLong(7) == 0L, s"cell ${r.getLong(0)}: drift != 0")
    }
    assert(rep.map(_.getLong(1)).sum == corpus.count(),
      "per-cell corpus occupancy must sum to the corpus")
    // occupancy skew: the unweighted mean of n_total/ideal is 1 by
    // construction — Σ skew_micro = n_cells·10⁶ up to one floor unit
    // per cell
    val nCellsGot = rep.length.toLong
    val ssum = rep.map(_.getLong(4)).sum
    assert(math.abs(ssum - nCellsGot * 1000000L) <= nCellsGot,
      "occupancy skew must average to one across cells")
  }

  test("assignIncrementalStream equals assignIncremental (batch-equivalence)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val corpus = emb.where(col("vec_id") % 2 === 1)
    val batch = emb.where(col("vec_id") % 2 === 0)
    val nCells = Similarity.cellsPlan(corpus.count(), 64)
    val want = Similarity.assignIncremental(batch, corpus, "vec_id", "embedding",
      nCells, iters = 1, targetRows = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = batch.select(col("vec_id"),
      col("embedding").cast("array<double>")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Seq[Double])]
    val out = Similarity.assignIncrementalStream(
      in.toDS().toDF("vec_id", "embedding"), corpus, "vec_id", "embedding",
      nCells, iters = 1, targetRows = 64)
    val q = out.writeStream.format("memory").queryName("eq_annassign")
      .outputMode(OutputMode.Append()).start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      in.addData(b1.toIndexedSeq)
      q.processAllAvailable()
      in.addData(b2.toIndexedSeq)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("eq_annassign")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want,
      "streaming width-1 descent diverged from the batch assignment")
  }
}
