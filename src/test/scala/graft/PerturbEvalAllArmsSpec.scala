package graft

import graft.operators._
import graft.operators.AnnPq.{OpqIters, OpqRounds}
import graft.plans.VecExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Perturbation-truth coverage for the rankers the r14 matrix left on the
  * label proxy (VERDICT #3): late interaction, cross-encoder, MMR, LSH,
  * and every served/compressed ANN family. Two truth constructions:
  *
  *   - TEXT arms answer the shared 25%-dropped-token queries
  *     ([[RagSearch.perturbQueries]] — same batch as PerturbEvalSpec);
  *   - VECTOR arms answer ±5% componentwise-jittered copies of corpus
  *     embeddings (the ANN-benchmark "query = noisy copy" construction;
  *     cosine(source, query) ≈ 0.999, so an arm that cannot put the
  *     source in its top k is losing it to quantization/probing, not to
  *     the truth).
  *
  * Every arm must separate from the random baseline; the served/dense
  * arms carry tighter honest floors (measured, then pinned).
  */
class PerturbEvalAllArmsSpec extends SparkSpecBase {
  import spark.implicits._

  private val k = 10
  private val nQ = 10
  private def docs: DataFrame = Tables.documents(spark, sf)
  private lazy val nDocs = docs.count().toDouble
  private lazy val random = math.min(1.0, k / nDocs)

  // ------------------------------------------------------------ text truth

  private lazy val qRows = RagSearch.perturbQueries(docs, nQ, 4)
  private lazy val textLabels: DataFrame =
    docs.select(col("doc_id").as("vec_id"), col("doc_id").as("label"))
      .union(qRows.map { case (qid, _) => (qid, RagSearch.perturbSource(qid)) }
        .toDF("vec_id", "label"))
  private lazy val textQIds: DataFrame = qRows.map(_._1).toDF("query_id")

  /** Dense hash-embed pool (the C1 space) with vectors and relevance —
    * the stage-1 retriever the rerankers consume.
    */
  private def densePool(poolK: Int): DataFrame = {
    val emb = graft.HashEmbedder(64)
    val corpus = emb.embedFrame(docs, "text", "emb")
      .select(col("doc_id").as("vec_id"), col("emb"))
    val qv = qRows.map { case (qid, toks) =>
      (qid, emb.embedText(toks.mkString(" ")).toSeq) }.toDF("query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(qv))
      .withColumn("rel", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= poolK)
      .select(col("query_id"), col("vec_id"), col("emb"), col("rel"))
  }

  private def metricsOf(name: String, ranked: DataFrame,
                        labels: DataFrame, qIds: DataFrame): (Double, Double, Double) = {
    val r = RagSearch.evalMatrixRow(name, ranked, labels, k, Some(qIds))
      .collect().head
    val t = (r.getDouble(1), r.getDouble(2), r.getDouble(3))
    info(f"$name%-14s recall@$k=${t._1}%.3f mrr=${t._2}%.3f ndcg=${t._3}%.3f (random=$random%.3f)")
    t
  }

  test("late interaction separates from chance on perturbed text queries") {
    // queries ride as NEGATIVE-id rows of the doc frame (nQueries = 0
    // selects exactly doc_id < 0); candidates re-ranked to corpus-only
    val qDocs = qRows.map { case (qid, toks) => (qid, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val docsPlus = docs.select(col("doc_id"), col("text")).unionByName(qDocs)
    val tx = graft.TransformerEmbedder.seeded(spark)
    val raw = RagSearch.ragTopKLateOver(docsPlus, tx, nQueries = 0, k = k + nQ)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rank").asc)
    val ranked = raw.filter(col("vec_id") >= 0) // other queries are not corpus
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
    val (recall, mrr, _) = metricsOf("late_maxsim", ranked, textLabels, textQIds)
    // measured 0.300 recall / 0.170 MRR at sf0.001 — 15x above chance but
    // WELL below the lexical/dense arms: the seeded transformer
    // contextualizes every token, so dropping 25% of them shifts the
    // surviving tokens' vectors too (the same trained-weights gap the
    // pooled tx_seeded row quantifies at 0.183 MRR). The honest claim is
    // chance-separation, not parity with trained arms.
    assert(recall >= 3 * random, s"late arm at chance: $recall vs $random")
    assert(mrr > 0.0)
  }

  test("late interaction with w2v-initialized token embeddings: the converter-seam receipt on the MaxSim row") {
    val qDocs = qRows.map { case (qid, toks) => (qid, toks.mkString(" ")) }
      .toDF("doc_id", "text")
    val docsPlus = docs.select(col("doc_id"), col("text")).unionByName(qDocs)
    def lateRanked(tx: graft.TransformerEmbedder): DataFrame = {
      val raw = RagSearch.ragTopKLateOver(docsPlus, tx, nQueries = 0, k = k + nQ)
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank").asc)
      raw.filter(col("vec_id") >= 0)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    }
    val w2v = graft.Word2VecEmbedder.train(spark, docs, dim = 32,
      minCount = 2, maxIter = 1, numPartitions = 1)
    val (rS, mS, _) = metricsOf("late_seeded",
      lateRanked(graft.TransformerEmbedder.seeded(spark)), textLabels, textQIds)
    val (rW, mW, _) = metricsOf("late_w2v_init",
      lateRanked(graft.TransformerEmbedder.word2vecInitialized(spark, w2v)),
      textLabels, textQIds)
    assert(rW >= 3 * random, s"late w2v-init arm at chance: $rW vs $random")
    assert(rS >= 3 * random && mS > 0.0 && mW > 0.0)
    // the MEASURED receipt, recorded as found: w2v init moves the POOLED
    // row up (0.183→0.225 MRR, PerturbEvalSpec) but the MaxSim row DOWN
    // (0.170→0.100 here) — a near-orthogonal random table is itself a
    // strong token-IDENTITY code (each id ≈ a basis vector, so max_d q·d
    // spikes exactly on surviving tokens), while w2v clusters related
    // tokens and trades that exact-identity signal for semantic smoothness
    // this synthetic exact-recovery truth cannot reward. Pin the direction
    // so a future "improvement" that silently flips it gets reviewed.
    assert(mW < mS,
      s"measured direction changed — re-derive this receipt: w2v $mW vs seeded $mS")
  }

  test("cross-encoder rerank: pool-preserving recall, measured head quality") {
    val pool = densePool(k).cache()
    val tx = graft.TransformerEmbedder.seeded(spark)
    val ce = new graft.CrossEncoder(tx)
    val qText = qRows.map { case (qid, toks) => (qid, toks.mkString(" ")) }.toMap
    val dText = docs.select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) "" else r.getString(1))).toMap
    // bounded: |pool| = nQ * k rows scored driver-side in the spec (the
    // operator's distributed path is C1x; this measures the HEAD)
    val rescored = pool.select("query_id", "vec_id").collect().map { r =>
      val (qid, vid) = (r.getLong(0), r.getLong(1))
      (qid, vid, ce.score(qText(qid), dText(vid)))
    }.toSeq.toDF("query_id", "vec_id", "cross")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cross").desc, col("vec_id").asc)
    val ranked = rescored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k).select("query_id", "vec_id", "rank")
    val (recall, mrr, _) = metricsOf("cross_rerank", ranked, textLabels, textQIds)
    val (poolRecall, poolMrr, _) = metricsOf("dense_pool",
      pool.withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("vec_id").asc)))
        .select("query_id", "vec_id", "rank"), textLabels, textQIds)
    // reranking a k-sized pool cannot change recall@k — the invariant that
    // makes the cross arm safe to deploy over a good retriever even when
    // its head is seeded; MRR is the head's honest (seeded) quality row
    assert(math.abs(recall - poolRecall) < 1e-9,
      s"rerank changed pool recall: $recall vs $poolRecall")
    assert(recall >= 3 * random, s"cross arm at chance: $recall")
    assert(mrr > 0.0 && poolMrr > 0.0)
    pool.unpersist()
  }

  test("MMR rerank keeps source recovery above chance at lambda=0.7") {
    val pool = densePool(2 * k)
      .select(col("query_id"), col("vec_id"),
        col("emb").cast("array<double>").as("emb"),
        col("rel").cast("double").as("rel"))
    val ranked = RagSearch.mmrGreedy(pool, k, 0.7)
      .select("query_id", "vec_id", "rank")
    val (recall, mrr, _) = metricsOf("mmr_0.7", ranked, textLabels, textQIds)
    // MMR's first pick is the pool's relevance top-1, so a source the
    // dense arm puts first stays first; diversity may push a lower-ranked
    // source out of the final k — the floor is chance-separation
    assert(recall >= math.max(0.5, 3 * random), s"mmr arm at chance: $recall")
    assert(mrr > 0.0)
  }

  // ---------------------------------------------------------- vector truth

  private lazy val vecQRows: Seq[(Long, Seq[Double])] =
    Tables.embeddings(spark, sf).filter(col("vec_id") < nQ)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map { r =>
        val id = r.getLong(0)
        val v = r.getSeq[Double](1)
        val qv = v.zipWithIndex.map { case (x, j) =>
          x * (1.0 + ((id * 131 + j * 17) % 101 - 50) / 1000.0) }
        (-(id + 1L), qv)
      }.toSeq
  private lazy val vecQueries: DataFrame = vecQRows.toDF("query_id", "qv")
  private lazy val vecQIds: DataFrame = vecQRows.map(_._1).toDF("query_id")
  private lazy val vecLabels: DataFrame =
    Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("vec_id").as("label"))
      .union(vecQRows.map { case (qid, _) => (qid, -qid - 1L) }
        .toDF("vec_id", "label"))

  private def bruteVec: DataFrame = {
    val corpus = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(vecQueries))
      .withColumn("score",
        round(VecExprs.cosineSim(col("embedding").cast("array<double>"), col("qv")), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "vec_id", "rank")
  }

  test("vector perturbation matrix: every served/compressed ANN family separates from chance") {
    // the driver queries' default stores — manifest-gated, built once
    val ivfPath = AnnIvf.defaultIndexPath(sf); AnnIvf.ensureIvfIndex(spark, sf, ivfPath)
    val pqPath = AnnPq.defaultIndexPath(sf); AnnPq.ensurePqIndex(spark, sf, pqPath)
    val opqPath = AnnPq.defaultIndexPath(sf, rounds = OpqRounds)
    AnnPq.ensurePqIndex(spark, sf, opqPath, iters = OpqIters, rounds = OpqRounds)
    val ivfpqPath = AnnIvfPq.defaultIndexPath(sf); AnnIvfPq.ensureIvfPqIndex(spark, sf, ivfpqPath)
    val sqPath = AnnSq.defaultIndexPath(sf); AnnSq.ensureSqIndex(spark, sf, sqPath)
    val graphPath = AnnGraph.defaultIndexPath(sf); AnnGraph.ensureGraphIndex(spark, sf, graphPath)
    val hnswPath = AnnHnsw.defaultIndexPath(sf); AnnHnsw.ensureHnswIndex(spark, sf, hnswPath)

    // LSH arm, the annLsh bucketing with external queries
    val lshRanked = {
      val e = Tables.embeddings(spark, sf)
        .withColumn("bucket", VecExprs.lshBucket(col("embedding"), 6))
      val qb = vecQueries
        .select(col("query_id"), col("qv").cast("array<float>").as("qv"))
        .withColumn("qbucket", VecExprs.lshBucket(col("qv"), 6))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("vec_id").asc)
      e.join(broadcast(qb), col("bucket") === col("qbucket"))
        .withColumn("score", round(VecExprs.cosineSim(col("embedding"), col("qv")), 4))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select("query_id", "vec_id", "rank")
    }

    val arms: Seq[(String, DataFrame, Double)] = Seq(
      // (name, ranking, honest recall floor — measured then pinned)
      ("brute", bruteVec, 0.9),
      ("ivf_served", AnnIvf.annIvfServedOver(spark, ivfPath, vecQueries,
        topK = k, nprobe = 2), 0.8),
      ("ivfpq_served", AnnIvfPq.annIvfPqServedOver(spark, ivfpqPath, vecQueries,
        topK = k, nprobe = 2), 3 * random),
      ("pq_served", AnnPq.annPqServedOver(spark, pqPath, vecQueries,
        topK = k), 3 * random),
      ("opq_served", AnnPq.annPqServedOver(spark, opqPath, vecQueries,
        topK = k), 3 * random),
      ("sq8_served", AnnSq.annSq8ServedOver(spark, sqPath, vecQueries,
        k = k), 0.8),
      ("graph_served", AnnGraph.annGraphServedOver(spark, graphPath, vecQueries,
        topK = k, nprobe = 2), 0.6),
      ("hnsw_served", AnnHnsw.annHnswServedOver(spark, hnswPath, vecQueries,
        topK = k), 0.6),
      ("lsh", lshRanked, 3 * random))

    val rows = arms.map { case (name, ranked, floor) =>
      val (recall, mrr, ndcg) = metricsOf(name,
        ranked.select("query_id", "vec_id", "rank"), vecLabels, vecQIds)
      assert(recall >= floor, s"$name below its floor: $recall < $floor")
      assert(recall >= 3 * random, s"$name at chance: $recall vs $random")
      assert(mrr > 0.0 && ndcg > 0.0, s"$name degenerate metrics")
      (name, recall)
    }.toMap
    // the exact scan anchors the matrix: nothing beats brute force
    rows.foreach { case (name, recall) =>
      assert(recall <= rows("brute") + 1e-9, s"$name outranked brute force")
    }
  }
}
