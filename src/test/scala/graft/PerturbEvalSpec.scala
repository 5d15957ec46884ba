package graft

import graft.operators.{Bm25, RagSearch, Rm3}
import graft.plans.VecExprs
import graft.plans.VecExprs.HashEmbedAlg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Perturbation-truth retrieval eval — the DISCRIMINATIVE matrix: queries
  * are corrupted copies of corpus docs, truth is the source doc, so a
  * working ranker must separate from the random baseline (the label-proxy
  * matrix cannot — its synthetic labels are text-independent, which
  * scores every text arm at chance). Arms share ONE query batch via
  * [[RagSearch.perturbQueries]].
  */
class PerturbEvalSpec extends SparkSpecBase {

  private val k = 10
  private val nQ = 10
  private def docs: DataFrame = Tables.documents(spark, sf)
  private lazy val qRows = RagSearch.perturbQueries(docs, nQ, 4)

  private lazy val labels: DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id").as("vec_id"), col("doc_id").as("label"))
      .union(qRows.map { case (qid, _) =>
        (qid, RagSearch.perturbSource(qid)) }.toDF("vec_id", "label"))
  }
  private lazy val qIds: DataFrame = {
    import spark.implicits._
    qRows.map(_._1).toDF("query_id")
  }

  /** A dense arm under ANY [[graft.Embedder]]: embed the corpus TEXT and
    * each perturbed query in that model's space, rank by 4dp cosine (the
    * C1 conventions).
    */
  private def rankedFor(emb: graft.Embedder): DataFrame = {
    import spark.implicits._
    val corpus = emb.embedFrame(docs, "text", "emb")
      .select(col("doc_id").as("vec_id"), col("emb"))
    val qv = qRows.map { case (qid, toks) =>
      (qid, emb.embedText(toks.mkString(" ")).toSeq)
    }.toDF("query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(qv))
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  /** Hash-embed arm — the C1 space. */
  private def denseRanked: DataFrame = rankedFor(graft.HashEmbedder(64))

  /** Lexical arm as a RANKING (the driver query's scorer shape re-run for
    * fusion and the matrix; the driver query itself emits the metrics).
    */
  private def bm25Ranked: DataFrame = {
    import spark.implicits._
    val qTermPairs = qRows.flatMap { case (qid, toks) =>
      toks.distinct.map(t => (qid, t)) }.toDF("query_id", "term")
    val termSet = qRows.flatMap(_._2).distinct
    val prepped = docs
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        filter(col("toks"), t => t.isin(termSet.map(lit): _*)).as("hits"))
    val stats = prepped.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = prepped
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    tf.join(broadcast(qTermPairs), "term")
      .join(broadcast(dfq), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", Bm25.bm25Weight)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")) + lit(1e-9), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
  }

  /** RM3 arm (r16 — the one retrieval family the matrix lacked, and the
    * one whose MECHANISM the perturbation construction directly tests:
    * expansion terms from feedback docs can recover exactly the
    * vocabulary the corruption dropped): the batch RM3 loop over the
    * shared perturbed queries, query ids remapped from batch index back
    * to the negative perturbation ids.
    */
  private def rm3Ranked(lambda: Double = Rm3.Lambda): DataFrame = {
    import spark.implicits._
    val ordered = qRows.sortBy(_._1)
    val idMap = ordered.map(_._1).zipWithIndex
      .map { case (qid, i) => (i.toLong, qid) }.toDF("query_id", "qid")
    val scores = Rm3.rm3ScoresBatchOver(docs, "text",
      ordered.map(_._2.mkString(" ")), lambda = lambda)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scores.join(broadcast(idMap), "query_id")
      .select(col("qid").as("query_id"), col("doc_id").as("vec_id"),
        round(col("bm25") + lit(1e-9), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  /** Hybrid arm: RRF fusion of the lexical and dense pools. */
  private def fusedRanked: DataFrame = {
    val bm = bm25Ranked.withColumnRenamed("rank", "bm_rank")
    val dr = denseRanked.withColumnRenamed("rank", "cos_rank")
    bm.join(dr, Seq("query_id", "vec_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (col("bm_rank") + Bm25.RrfC), lit(0.0)) +
          coalesce(lit(1.0) / (col("cos_rank") + Bm25.RrfC), lit(0.0)))
      .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rrf").desc, col("vec_id").asc)))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  private lazy val bm25Metrics =
    RagSearch.retrievalEvalPerturb(spark, sf, nQ, k).collect()

  private def meanOf(rows: Array[org.apache.spark.sql.Row],
                     idx: Int): Double =
    rows.map(_.getDouble(idx)).sum / rows.length

  test("bm25 arm: near-perfect source recovery on 25%-dropped queries") {
    assert(bm25Metrics.length == nQ, "one metric row per query")
    val recall = meanOf(bm25Metrics, 2)
    val mrr = meanOf(bm25Metrics, 3)
    assert(recall >= 0.8, s"BM25 must recover the source doc: recall=$recall")
    // the synthetic corpus reuses a small vocabulary heavily, so longer
    // docs sharing the query's terms can outrank the true source — the
    // honest floor is "source in the top few", not "source first"
    // (measured 0.51 at sf0.001)
    assert(mrr >= 0.4, s"BM25 must rank the source near the top: mrr=$mrr")
    // the driver query and the ranking arm agree (one scorer, two shapes)
    val viaRanking = RagSearch.evalRankingOver(bm25Ranked, labels, k, Some(qIds))
      .collect()
    assert(viaRanking.map(_.toSeq).toSeq == bm25Metrics.map(_.toSeq).toSeq,
      "bm25 ranking arm must reproduce the driver query's metrics")
  }

  test("dense hash-embed arm separates from the random baseline") {
    val m = RagSearch.evalRankingOver(denseRanked, labels, k, Some(qIds))
      .collect()
    assert(m.length == nQ)
    val recall = meanOf(m, 2)
    // random recall@10 with 1 relevant in a |corpus| pool is ~10/|corpus|;
    // a 75%-token-overlap hash embedding must be far above it
    val nDocs = docs.count().toDouble
    val random = math.min(1.0, k / nDocs)
    assert(recall >= math.max(0.5, 3 * random),
      s"dense arm at chance: recall=$recall random=$random")
  }

  test("hybrid RRF of the two arms is at least as good as the weaker arm") {
    val d = RagSearch.evalRankingOver(denseRanked, labels, k, Some(qIds)).collect()
    val h = RagSearch.evalRankingOver(fusedRanked, labels, k, Some(qIds)).collect()
    val dRecall = meanOf(d, 2)
    val bRecall = meanOf(bm25Metrics, 2)
    val hRecall = meanOf(h, 2)
    // RRF over two pools can't do worse than both constituents on a truth
    // both recover: assert the weaker-arm floor rather than a fragile
    // dominance claim
    assert(hRecall >= math.min(dRecall, bRecall) - 1e-9,
      s"hybrid recall $hRecall below both arms ($bRecall lexical, $dRecall dense)")
    assert(hRecall >= 0.5, s"hybrid arm at chance: $hRecall")
  }

  test("perturbation matrix: every text arm separates from chance; w2v-init moves the tx row") {
    // numPartitions=1: bit-stable weights, so the tx_w2v_init vs tx_seeded
    // comparison below is deterministic (parallel training's run-dependent
    // float merges moved the row by ±0.05 MRR between runs)
    val w2v = graft.Word2VecEmbedder.train(spark, docs, numPartitions = 1)
    val arms = Seq(
      "bm25" -> bm25Ranked,
      "dense_hash" -> denseRanked,
      "hybrid_rrf" -> fusedRanked,
      // the learned/seeded embedding spaces on the same truth — the
      // cross-ranker wiring the label proxy could not discriminate
      "rm3" -> rm3Ranked(),
      "w2v" -> rankedFor(w2v),
      "tx_seeded" -> rankedFor(graft.TransformerEmbedder.seeded(spark)),
      // r16: the converter-seam receipt — the SAME encoder stack with its
      // token-embedding table initialized from the corpus-trained Word2Vec
      // vectors (the one unblocked move against the trained-weights gap)
      "tx_w2v_init" -> rankedFor(
        graft.TransformerEmbedder.word2vecInitialized(spark, w2v)))
    val matrix = arms.map { case (name, ranked) =>
      val r = RagSearch.evalMatrixRow(name, ranked, labels, k, Some(qIds))
        .collect().head
      (name, r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }
    val random = math.min(1.0, k / docs.count().toDouble)
    matrix.foreach { case (name, recall, mrr, ndcg) =>
      info(f"$name%-12s recall@$k=$recall%.3f mrr=$mrr%.3f ndcg=$ndcg%.3f (random=$random%.3f)")
      assert(recall >= 3 * random,
        s"$name does not separate from the random baseline: $recall vs $random")
      assert(ndcg > 0.0 && mrr > 0.0, s"$name produced degenerate metrics")
    }
    // the receipt the r15 verdict asked for: learned token embeddings
    // through the converter seam must beat the seeded table on corrupted
    // queries — input meaning survives the (still-seeded) attention stack
    val mrrOf = matrix.map(m => m._1 -> m._3).toMap
    assert(mrrOf("tx_w2v_init") > mrrOf("tx_seeded"),
      s"w2v-initialized tx must beat seeded tx: ${mrrOf("tx_w2v_init")} vs ${mrrOf("tx_seeded")}")
  }

  test("rm3 perturbation row: expansion HURTS on a reused-vocabulary corpus, monotonically in (1-lambda)") {
    // The r15 verdict asked whether expansion beats plain BM25's 0.512 MRR
    // on corrupted queries. Measured answer on THIS corpus: it does not —
    // it collapses (lambda=0.6: recall 0.100, mrr 0.025) — and the sweep
    // shows the MECHANISM. The synthetic corpus reuses a tiny vocabulary,
    // so the feedback docs' expansion terms are corpus-UNIVERSAL; BM25's
    // idf ln((N-df+0.5)/(df+0.5)) is NEGATIVE for df > N/2, so expansion
    // mass actively penalizes docs containing those terms and scrambles
    // the ranking, monotonically in the expansion share (1-lambda). RM3's
    // premise — feedback docs share DISTINCTIVE vocabulary with the
    // answer — simply doesn't hold on a reused-vocabulary corpus; on real
    // corpora (Zipf vocabularies, df << N/2 for content terms) the
    // premise does, which is why the driver query keeps lambda=0.6.
    def metricsAt(lambda: Double): (Double, Double) = {
      val m = RagSearch.evalRankingOver(rm3Ranked(lambda), labels, k, Some(qIds))
        .collect()
      (meanOf(m, 2), meanOf(m, 3))
    }
    val (r10, m10) = metricsAt(1.0)
    val (r09, m09) = metricsAt(0.9)
    val (r06, m06) = metricsAt(0.6)
    // lambda=1 is EXACTLY plain BM25 (per-query uniform scaling preserves
    // order) — the degeneration anchor that proves the arm wiring
    assert(r10 == meanOf(bm25Metrics, 2) && m10 == meanOf(bm25Metrics, 3),
      s"lambda=1 must reproduce the bm25 arm: ($r10,$m10)")
    // the measured monotone degradation — pinned so a corpus or scorer
    // change that flips the direction gets re-derived, not assumed
    assert(m10 > m09 && m09 > m06,
      s"expansion-hurt direction changed — re-derive this receipt: $m10, $m09, $m06")
    assert(r06 >= k / docs.count().toDouble, s"rm3 fully degenerate: $r06")
  }

  test("perturb eval is deterministic and metric-bounded") {
    val a = RagSearch.retrievalEvalPerturb(spark, sf, nQ, k)
      .collect().map(_.toSeq).toSeq
    val b = RagSearch.retrievalEvalPerturb(spark, sf, nQ, k)
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    a.foreach { r =>
      assert(r(1) == 1L, s"n_relevant must be 1 by construction: $r")
      Seq(2, 3, 4).foreach { i =>
        val v = r(i).asInstanceOf[Double]
        assert(v >= 0.0 && v <= 1.0 + 1e-9, s"metric out of [0,1]: $r")
      }
    }
  }
}
