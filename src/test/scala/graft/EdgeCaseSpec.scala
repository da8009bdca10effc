package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Empty/degenerate inputs — the failure modes chunk libraries hit
  * (laygo guards empty chunks at transformer.py:445,454).
  */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("map/filter/reduce on empty input yield empty/zero results") {
    val p = Pipeline(Seq.empty[Int].toDF("x"))
    assert(p.transform(_.map((col("x") * 2).as("x"))).toList()._1.isEmpty)
    assert(p.transform(_.filter(col("x") > 0)).toList()._1.isEmpty)
    val (rows, _) = p.transform(_.reduceGlobal(count(lit(1)).as("n"))).toList()
    assert(rows.head.getLong(0) == 0L)
  }

  test("dedup operators tolerate empty corpora") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.minHashNearDups(emptyDocs, "doc_id", "text", 0.6).count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 0.6).count() == 0)
    assert(Dedup.simHashNearDups(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("single-token and empty-text docs don't break shingling") {
    val tiny = Seq((1L, "word"), (2L, ""), (3L, "two words")).toDF("doc_id", "text")
    val sets = tiny.select(col("doc_id"),
      Dedup.hashedShingleSet(col("text"), 3).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).length).toMap
    assert(sets(1L) == 1) // whole-doc shingle
    assert(sets(2L) == 1) // empty text -> one empty-string whole-doc shingle (matches oracle)
    assert(sets(3L) == 1)
    // and the pair ops run without error
    assert(Dedup.ngramJaccardPairs(tiny, "doc_id", "text", 0.5).count() == 0)
  }

  test("repetitionStats tolerates empty and single-token docs") {
    val tiny = Seq((1L, "word"), (2L, ""), (3L, "a a a")).toDF("doc_id", "text")
    val got = graft.operators.Corpus.repetitionStats(tiny, "doc_id", "text", 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(1L) == ((1L, 1L, 1L)), "single token -> whole-doc shingle")
    assert(got(2L) == ((1L, 1L, 1L)), "empty text -> one empty whole-doc shingle")
    assert(got(3L) == ((2L, 1L, 2L)), "'a a'×2 -> 2 shingles, 1 distinct, max 2")
  }

  test("piiRedact scrubs each pattern kind with its typed tag") {
    val df = Seq(
      (1L, "mail me at jo.na+x@ex-ample.org today"),
      (2L, "call 555-123-4567 or visit 10.0.0.1"),
      (3L, "ssn 123-45-6789 end"),
      (4L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
      graft.operators.TextAnalysis.piiRedact(col("text")).as("r"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "mail me at <EMAIL> today")
    assert(got(2L) == "call <PHONE> or visit <IPV4>")
    assert(got(3L) == "ssn <SSN> end")
    assert(got(4L) == "nothing sensitive here")
  }

  test("catchErrors with every row failing yields only handled rows") {
    val attempt = Transformer.identity.map(col("x"), try_divide(lit(1), lit(0)).as("r"))
    val (rows, _) = Pipeline(Seq(1, 2).toDF("x"))
      .transform(_.catchErrors(attempt, col("r").isNull,
        ErrorHandler.quarantine((bad, _) => bad.withColumn("status", lit("error")))))
      .toList()
    assert(rows.size == 2 && rows.forall(_.getAs[String]("status") == "error"))
  }

  test("branch over empty source yields empty branches, not failures") {
    val (outs, _) = Pipeline(Seq.empty[Int].toDF("x"))
      .branchRouter(Seq(
        ("neg", col("x") < 0, Transformer.identity),
        ("rest", lit(true), Transformer.identity)))
    assert(outs("neg").count() == 0 && outs("rest").count() == 0)
  }

  test("similarity ops on empty corpus yield empty results") {
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.nearDupCosineExact(empty, "vec_id", "embedding", 0.5).count() == 0)
    assert(Similarity.annTopKBruteForce(empty, empty, "vec_id", "embedding", 3).count() == 0)
  }

  test("loop with zero iterations allowed returns input unchanged") {
    val out = Pipeline(Seq(5).toDF("x"))
      .transform(_.loop(Transformer.identity.map((col("x") * 2).as("x")), _ => true, 0))
      .toList()._1.map(_.getInt(0))
    assert(out == Seq(5))
  }

  test("langId and fingerprint handle empty token arrays") {
    val r = Seq("").toDF("t").select(
      TextAnalysis.langId(TextAnalysis.tokens(col("t"))).as("l"),
      TextAnalysis.fingerprint(TextAnalysis.tokens(col("t"))).as("fp"))
      .collect().head
    assert(r.getString(0) == "en") // zero hits everywhere -> first tiebreak
    assert(r.getLong(1) == 0L)     // empty fold -> initial value
  }

  test("round-5 operators tolerate empty and degenerate inputs") {
    import graft.operators.{Corpus, Embeddings}
    val docs3 = Seq((1L, "a b c d", "s")).toDF("doc_id", "text", "source")
    // empty batch against a corpus, and a batch against an empty corpus
    assert(Dedup.minHashNearDupsIncremental(
      emptyDocs, docs3.drop("source"), "doc_id", "text", 0.8).count() == 0)
    assert(Dedup.minHashNearDupsIncremental(
      docs3.drop("source"), emptyDocs, "doc_id", "text", 0.8).count() == 0)
    // zero budget keeps nothing; huge budget keeps everything
    assert(Corpus.budgetSelect(docs3, "doc_id", "text", "source", 0L).count() == 0)
    assert(Corpus.budgetSelect(docs3, "doc_id", "text", "source", 1000L).count() == 1)
    // single doc: everything novel
    val nov = Corpus.shingleNovelty(docs3, "doc_id", "text", 3).collect().head
    assert(nov.getLong(2) == nov.getLong(1) && nov.getDouble(3) == 1.0)
    // PQ with fewer vectors than codebook slots: codebook shrinks, every
    // vector still gets a code per subspace (its own slice at dist 0)
    val vecs = Seq((1L, Array.fill(8)(0.5f)), (2L, Array.fill(8)(-0.25f)))
      .toDF("vec_id", "embedding")
    val pq = Embeddings.pqEncode(vecs, "vec_id", "embedding", dims = 8, nSub = 2, nCodes = 16)
    assert(pq.count() == 4)
    assert(pq.where(col("dist2") > 0).count() == 0,
      "each of 2 vectors must code to itself exactly when both seed the codebook")
  }

  test("round-5b operators tolerate empty and degenerate inputs") {
    import graft.operators.{Corpus, Embeddings, Temporal, TextAnalysis}
    // empty / singleton baskets produce no pairs, not failures
    assert(Corpus.basketPairs(
      Seq.empty[(Long, Long)].toDF("g", "i"), "g", "i", 1L).count() == 0)
    assert(Corpus.basketPairs(
      Seq((1L, 7L)).toDF("g", "i"), "g", "i", 1L).count() == 0)
    // one source: no pairs to overlap
    assert(Corpus.sourceOverlap(
      Seq((1L, "a b c d", "s")).toDF("doc_id", "text", "source"),
      "source", "text", 3).count() == 0)
    // all docs single-token: no bigrams
    assert(TextAnalysis.bigramCondProb(
      Seq((1L, "solo"), (2L, "")).toDF("doc_id", "text"), "text", 1L, 10).count() == 0)
    // empty log and single-day types (variance 0) flag nothing
    assert(Temporal.dailyAnomaly(
      Seq.empty[(String, Long)].toDF("event_type", "ts"), "ts", "event_type", 2.0)
      .count() == 0)
    assert(Temporal.dailyAnomaly(
      Seq(("A", 5L), ("A", 6L)).toDF("event_type", "ts"), "ts", "event_type", 2.0)
      .count() == 0)
    // diversity drops token-less docs; uniform doc has simpson = 1 - 1/n
    val div = Corpus.tokenDiversity(
      Seq((1L, "a b c d"), (2L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()
    assert(div.length == 1 && div.head.getLong(0) == 1L)
    assert(div.head.getDouble(4) == 0.75, s"uniform 4-token simpson: ${div.head}")
    // recall harness on a corpus with zero near-dup pairs: vacuous recall 1
    val rec = Dedup.minHashRecallEval(
      Seq((1L, "a b c d e"), (2L, "v w x y z")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6).collect().head
    assert(rec.getLong(0) == 0L && rec.getDouble(2) == 1.0, s"got $rec")
    // identical snapshots: drift cosine exactly 1, L2 shift exactly 0
    val snap = Seq((1, Array(0.6f, -0.2f, 0.1f)), (2, Array(0.3f, 0.4f, -0.5f)))
      .toDF("label", "embedding").withColumn("label", lit(7))
    val drift = Embeddings.centroidDrift(snap, snap, "embedding", "label")
      .collect().head
    assert(drift.getDouble(3) == 1.0 && drift.getDouble(4) == 0.0, s"got $drift")
  }

  test("backoff trigram LM: hand-checked trigram/bigram/unigram levels") {
    import graft.operators.TextAnalysis
    // train doc 0: trigrams {abc, bca, cab, abd}, bigrams {ab:2, bc,
    // ca, bd}, unigrams N=6 V=4. Doc 1 "a b c x": (a,b,c) is a
    // trigram hit at -log2(1/2) = 1 bit; (b,c,x) falls through to the
    // OOV floor -log2(0.16/10) = 5.965784 bits. Doc 3 "b a b":
    // (b,a,b) is unseen as a trigram but (a,b) is a seen bigram ->
    // -log2(0.4*2/2) = 1.321928 bits.
    val docs = Seq((0L, "a b c a b d"), (1L, "a b c x"), (3L, "b a b"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.docPerplexityTrigram(docs, "doc_id", "text",
      pmod(col("doc_id"), lit(2)) === 0)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(out(1L) == ((2L, 0L, 1L, 3.482892)), s"got ${out(1L)}")
    assert(out(3L) == ((1L, 1L, 0L, 1.321928)), s"got ${out(3L)}")
  }

  test("round-5c operators tolerate empty and degenerate inputs") {
    import graft.operators.{Corpus, Embeddings, TextAnalysis}
    // no bigrams anywhere: empty LM, empty result — not a crash
    assert(TextAnalysis.docPerplexity(emptyDocs, "doc_id", "text").count() == 0)
    assert(TextAnalysis.docPerplexity(
      Seq((1L, "solo")).toDF("doc_id", "text"), "doc_id", "text").count() == 0)
    // gate over an empty corpus: all five rules report zero
    val gate = Corpus.corpusGate(
      emptyDocs.withColumn("lang", lit("en")), "doc_id", "text", "lang", 30, 0.6, 2L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(gate.size == 5 && gate.values.forall(_ == 0L), s"got $gate")
    // buckets over one lang with identical scores: everything is head
    val same = Seq((1L, "en", 2.0), (2L, "en", 2.0), (3L, "en", 2.0))
      .toDF("doc_id", "lang", "score")
    val b = Corpus.qualityBuckets(same, "doc_id", "lang", "score")
      .collect().map(_.getString(3))
    assert(b.length == 3 && b.forall(_ == "head"), s"got ${b.toSeq}")
    // covariance of an empty table: no rows (never divide-by-zero)
    assert(Embeddings.covarianceMatrix(
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "embedding", 4).count() == 0)
    // covariance of a single vector: zero variance on the diagonal
    val one = Embeddings.covarianceMatrix(
      Seq((1L, Array(0.5f, -0.5f))).toDF("vec_id", "embedding"), "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(one.values.forall(math.abs(_) < 1e-4), s"got $one")
    // sketches over empty inputs: empty results, no division-by-zero
    assert(TextAnalysis.freqSketchEval(emptyDocs, "text", 4, 1024, 10).count() == 0)
    assert(Corpus.quantileSketch(
      Seq.empty[(Long, Double)].toDF("id", "price"), "price", 1000L, 16,
      Seq(0.5)).count() == 0)
  }

  test("round-6 operators tolerate empty and degenerate inputs") {
    import graft.operators.Corpus
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    // banded near-dup on an empty corpus: count()=0 -> 1-bit plan, no rows
    assert(Similarity.nearDupCosineBanded(
      emptyVecs, "vec_id", "embedding", 0.4, graft.Memo.rows(emptyVecs)).count() == 0)
    // a single vector can never pair with itself
    val one = Seq((1L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.nearDupCosineBanded(
      one, "vec_id", "embedding", 0.4, graft.Memo.rows(one)).count() == 0)
    // recall harness on empty: n_exact=0 reports recall 1.0 by contract
    val r = Similarity.bandedRecallEval(
      emptyVecs, "vec_id", "embedding", 0.4, 64, 6, 2).collect().head
    assert(r.getAs[Long]("n_exact") == 0L && r.getAs[Double]("recall") == 1.0)
    // semantic contamination with an EMPTY benchmark: max over an
    // empty packed array is null -> flag must be null-safe-false rows,
    // or no rows at all; either way it must not throw
    val sc = Similarity.semanticContamination(
      Seq((10L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding"),
      emptyVecs, "vec_id", "embedding", 0.5)
    assert(sc.where(col("contaminated")).count() == 0)
    // substring stats on empty / sub-window docs
    assert(Dedup.substringDupStats(emptyDocs, "doc_id", "text", 16).count() == 0)
    val tiny = Dedup.substringDupStats(
      Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text"), "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(tiny == Map(1L -> 1.0, 2L -> 1.0), s"got $tiny") // whole-doc dup
    // sketch-gated quantile filter: empty corpus -> no rows, no NPE
    assert(Corpus.quantileFilterSketch(
      Seq.empty[(Long, Double)].toDF("id", "score"), "score", 0.75, 100L, 64)
      .count() == 0)
    // DSIR with an EMPTY target partition: add-one smoothing makes the
    // target LM uniform, so common corpus bigrams score negative (and
    // rare ones may legitimately score positive — uniform beats the
    // corpus LM on its own tail). One row per scoreable doc, no crash;
    // the doc made of the most common bigram must be negative.
    val d = TextAnalysis.dsirWeights(
      Seq((1L, "a b c"), (2L, "a b")).toDF("doc_id", "text"),
      "doc_id", "text", lit(false))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(d.size == 2 && d(2L) < 0, s"got $d")
  }
}
