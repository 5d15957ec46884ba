package graft.operators

import graft.Tables
import graft.functions.Text
import graft.plans.VecExprs
import graft.plans.VecExprs.HashEmbedAlg
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** BM25 lexical scoring and hybrid lexical+dense retrieval — the
  * "hybrid BM25 + embedding search" the reference plans but defers
  * (reference: README.md:32).
  *
  * BM25 (k1=1.2, b=0.75) over whitespace terms; every statistic (df, N,
  * avgdl) is computed in-plan — the per-term document frequencies are a
  * tiny broadcast frame, and the corpus-level scalars ride a 1-row cross
  * join, so nothing collects to the driver. Hybrid fusion is reciprocal
  * rank fusion (RRF, c=60) of the BM25 ranking and the hash-embedding
  * cosine ranking — rank-based, so the two score scales never need
  * calibration, and integer-rank math is reproducible in the oracle.
  *
  * Scale: the term explode is the only row-multiplying step and is filtered
  * to query terms at the scan edge; everything downstream is per-doc. At
  * 100 TB an inverted index (term-bucketed) would replace the explode; the
  * scoring algebra is unchanged.
  */
object Bm25 {
  val K1 = 1.2
  val B = 0.75
  val RrfC = 60
  val DefaultQuery = "hash join table scan data"

  /** THE BM25 weight of one (tf, df, dl) posting under corpus scalars
    * (n_docs, avgdl) — single-sourced so the in-plan scorers and the
    * postings store ([[Bm25Store]]) can never drift apart on the algebra
    * their value-identity contract rests on. Expects those five columns
    * in scope.
    */
  private[graft] def bm25Weight: org.apache.spark.sql.Column =
    log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
      col("tf") * lit(K1 + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))

  /** BM25 scores over any (keyCols..., textCol) frame — used doc-level for
    * the oracle query and chunk-level by the facade's serving path.
    */
  def bm25ScoresOver(units: DataFrame, keyCols: Seq[String], textCol: String,
                     query: String): DataFrame = {
    val terms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    val key = keyCols.map(col)
    // ONE tokenize pass: the corpus statistics (N, avgdl), the tf frame, and
    // the df frame all derive from this narrow (keys, dl, hits) projection —
    // naively each re-derivation re-tokenizes the full text column, which is
    // the dominant cost of the whole scorer. The checkpoint is tiny: per
    // doc, a length plus the handful of query-term hits.
    // filter INSIDE the array before exploding: the explode then emits only
    // query-term hits (a handful per doc) instead of the full token stream
    // LAZY checkpoint: eager would run a Spark job at DataFrame-construction
    // time and pin blocks even when the caller never executes the plan; lazy
    // materializes on the first action, is still computed once within it,
    // and the pinned blocks are released by the ContextCleaner once the
    // returned frame is unreferenced
    val prepped = units
      .select(key :+ Text.tokens(col(textCol)).as("toks"): _*)
      .select(key ++ Seq(size(col("toks")).cast("double").as("dl"),
        filter(col("toks"), t => t.isin(terms.map(lit): _*)).as("hits")): _*)
      .localCheckpoint(false)
    val stats = prepped.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = prepped
      .select(key ++ Seq(col("dl"), explode(col("hits")).as("term")): _*)
      .groupBy(key ++ Seq(col("dl"), col("term")): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight)
      .groupBy(key: _*)
      .agg(sum(col("w")).as("bm25"))
  }

  /** WEIGHTED BM25 over a term-weight set — the stage-2 scorer of RM3
    * pseudo-relevance feedback ([[Rm3]]): identical single-tokenize-pass
    * shape to [[bm25ScoresOver]], but each term's BM25 contribution is
    * scaled by its query-model weight before the per-doc sum (Lavrenko &
    * Croft 2001 §3's weighted query execution). The weight frame is a
    * bounded driver-side literal (|q| + M rows) broadcast into the tf
    * join — the same bounded-query-params discipline as the batch
    * scorer's (query_id, term) frame.
    */
  def bm25ScoresWeightedOver(units: DataFrame, keyCols: Seq[String],
                             textCol: String,
                             weights: Seq[(String, Double)]): DataFrame = {
    require(weights.nonEmpty, "bm25ScoresWeightedOver: empty weight set")
    val spark = units.sparkSession
    import spark.implicits._
    val terms = weights.map(_._1)
    require(terms.distinct.length == terms.length,
      "bm25ScoresWeightedOver: duplicate term in weight set")
    val key = keyCols.map(col)
    val wF = weights.toDF("term", "qw")
    val prepped = units
      .select(key :+ Text.tokens(col(textCol)).as("toks"): _*)
      .select(key ++ Seq(size(col("toks")).cast("double").as("dl"),
        filter(col("toks"), t => t.isin(terms.map(lit): _*)).as("hits")): _*)
      .localCheckpoint(false)
    val stats = prepped.agg(
      count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl"))
    val tf = prepped
      .select(key ++ Seq(col("dl"), explode(col("hits")).as("term")): _*)
      .groupBy(key ++ Seq(col("dl"), col("term")): _*)
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    tf.join(broadcast(df), "term")
      .join(broadcast(wF), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", bm25Weight * col("qw"))
      .groupBy(key: _*)
      .agg(sum(col("w")).as("bm25"))
  }

  /** BM25 scores for the documents matching ≥1 query term — the doc-level
    * instance of [[bm25ScoresOver]] (one scoring body, no drift risk; the
    * `df` aggregates are equivalent because the tf frame is already unique
    * per (doc, term)).
    */
  def bm25Scores(spark: SparkSession, sfDir: String,
                 query: String = DefaultQuery): DataFrame =
    bm25ScoresOver(Tables.documents(spark, sfDir), Seq("doc_id"), "text", query)

  /** A10: BM25 top-10 with snippets. */
  def ragBm25(spark: SparkSession, sfDir: String,
              query: String = DefaultQuery, topK: Int = 10): DataFrame =
    ragBm25From(spark, sfDir, bm25Scores(spark, sfDir, query), topK)

  /** A10s: the SERVED twin — scores come from the persisted postings
    * store (pruned to the query terms' buckets) instead of the per-call
    * corpus tokenize; value-identical output, so it rides rag_bm25's
    * DuckDB oracle unchanged. The build is paid once behind the manifest
    * gate (like every `*_served` driver entry); the timed serve reads
    * ~|query terms|/buckets of the postings.
    */
  def ragBm25Served(spark: SparkSession, sfDir: String,
                    query: String = DefaultQuery, topK: Int = 10): DataFrame = {
    val path = Bm25Store.defaultIndexPath(sfDir)
    Bm25Store.ensureDocLexIndex(spark, sfDir, path)
    ragBm25From(spark, sfDir,
      Bm25Store.scoresFromStore(spark, path, query).drop("chunk_idx"), topK)
  }

  private def ragBm25From(spark: SparkSession, sfDir: String,
                          scores: DataFrame, topK: Int): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    scores
      .join(d, "doc_id")
      .select(col("doc_id"), round(col("bm25") + lit(1e-9), 4).as("bm25"),
        substring(col("text"), 1, 80).as("snippet"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** Hybrid retrieval over a prebuilt chunk index `(doc_id, chunk_idx,
    * chunk_text, emb)` — the facade's serving path: BM25 and cosine both
    * read the cached index, no corpus re-scan, chunk-granular results that
    * line up with `ragQuery`.
    */
  def ragHybridOver(index: DataFrame, query: String,
                    topK: Int = 10, dim: Int = 64, candDepth: Int = 200,
                    queryVec: Option[Array[Double]] = None,
                    bm25From: Option[DataFrame] = None,
                    denseFrom: Option[DataFrame] = None): DataFrame = {
    // queryVec = the facade's Embedder seam (a swapped model must score the
    // cosine leg in ITS vector space); default stays the hash embed so the
    // driver entry is byte-unchanged
    // bm25From = a precomputed raw-score (doc_id, chunk_idx, bm25) frame —
    // the persisted postings store's serve ([[Bm25Store.scoresFromStore]]),
    // so the lexical leg reads only the query terms' buckets instead of
    // re-tokenizing the corpus; default stays the in-plan scorer
    // denseFrom = an alternative (doc_id, chunk_idx, emb) candidate SOURCE
    // for the cosine leg — the facade's fully-served hybrid passes the
    // chunk-IVF index's pruned probe read here, so neither leg scans the
    // corpus; scoring semantics are identical, only the candidate set
    // changes (and at nprobe = k it doesn't — spec-pinned row identity)
    val qv = queryVec.getOrElse(HashEmbedAlg.embed(query, dim))
    val qvCol = array(qv.map(lit): _*)
    val keys = Seq("doc_id", "chunk_idx")
    // candidate-pool fusion: each signal contributes its distributed top-N
    // (orderBy.limit = TakeOrderedAndProject, per-partition partial top-k);
    // a global row_number over the whole corpus would single-partition the
    // index. Ranks below candDepth contribute 0 — standard RRF-over-pools.
    // pools are ≤ candDepth rows by construction — ranking them on a
    // constant (non-foldable, see Ranks.onePartitionKey) partition key is
    // intended, not the corpus-wide window cliff
    val wPool = Window.partitionBy(Ranks.onePartitionKey(col("doc_id")))
    val cosTop = denseFrom.getOrElse(index)
      .select(col("doc_id"), col("chunk_idx"),
        round(VecExprs.cosineSim(col("emb"), qvCol) + lit(1e-9), 4).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(candDepth)
      .withColumn("cos_rank", row_number().over(
        wPool.orderBy(col("cos").desc, col("doc_id").asc, col("chunk_idx").asc)).cast("long"))
    val bmTop = bm25From.getOrElse(bm25ScoresOver(index, keys, "chunk_text", query))
      .withColumn("bm25", round(col("bm25") + lit(1e-9), 4))
      .orderBy(col("bm25").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(candDepth)
      .withColumn("bm25_rank", row_number().over(
        wPool.orderBy(col("bm25").desc, col("doc_id").asc, col("chunk_idx").asc)).cast("long"))
    cosTop.join(bmTop, keys, "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("bm25_rank") + RrfC), lit(0.0)) +
          coalesce(lit(1.0) / (col("cos_rank") + RrfC), lit(0.0)) + lit(1e-12), 6))
      .select(col("doc_id"), col("chunk_idx"), col("rrf"), col("bm25_rank"), col("cos_rank"))
      .orderBy(col("rrf").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(topK)
  }

  /** Batched hybrid retrieval (r11): ONE index scan serves a whole query
    * batch, completing the batch family (exact `ragQueryBatch`, ANN
    * `ragQueryAnnBatch`, graph — and now hybrid). Row-identical per query
    * to [[ragHybridOver]] (spec-asserted), because every shared statistic
    * is query-independent: the tokenize pass filters hits against the
    * UNION of all queries' terms, tf/df/N/avgdl come out identical, and
    * the bounded (query_id, term) frame broadcast into the tf join
    * restricts each query to its own terms. Candidate pools are per-query
    * `row_number ≤ candDepth` over `partitionBy(query_id)` — the
    * [[graft.Graft.ragQueryBatchOver]] shape, bounded by the optimizer's
    * WindowGroupLimit rank pushdown (plan-asserted in the spec), never a
    * single-partition corpus sort.
    */
  def ragHybridBatchOver(index: DataFrame, queries: Seq[String],
                         topK: Int = 10, dim: Int = 64, candDepth: Int = 200,
                         queryVecs: Option[Seq[Array[Double]]] = None,
                         bm25From: Option[DataFrame] = None,
                         denseFrom: Option[DataFrame] = None): DataFrame = {
    require(queries.nonEmpty, "ragHybridBatchOver: empty query batch")
    val spark = index.sparkSession
    import spark.implicits._
    val keys = Seq("doc_id", "chunk_idx")
    val qvs = queryVecs.getOrElse(queries.map(q => HashEmbedAlg.embed(q, dim)))
    require(qvs.length == queries.length, "one query vector per query")
    // bm25From = the postings store's batched serve
    // ([[Bm25Store.scoresFromStoreBatch]]): raw (query_id, doc_id,
    // chunk_idx, bm25) — the in-plan corpus tokenize below is skipped
    // entirely and the lexical leg reads only the query terms' buckets
    val bmRaw = bm25From.getOrElse {
      val qTerms = queries.zipWithIndex.flatMap { case (q, i) =>
        q.split(" ").filter(_.nonEmpty).distinct.map(t => (i.toLong, t))
      }.toDF("query_id", "term")
      val termSet = queries.flatMap(_.split(" ").filter(_.nonEmpty)).distinct.toSeq
      // one tokenize pass shared by every query (the single-query scorer's
      // checkpoint note applies unchanged)
      val prepped = index
        .select(col("doc_id"), col("chunk_idx"), Text.tokens(col("chunk_text")).as("toks"))
        .select(col("doc_id"), col("chunk_idx"),
          size(col("toks")).cast("double").as("dl"),
          filter(col("toks"), t => t.isin(termSet.map(lit): _*)).as("hits"))
        .localCheckpoint(false)
      val stats = prepped.agg(
        count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
      // per-(chunk, term) tf and per-term df are QUERY-INDEPENDENT — computed
      // once, expanded to queries by the bounded broadcast join below
      val tf = prepped
        .select(col("doc_id"), col("chunk_idx"), col("dl"), explode(col("hits")).as("term"))
        .groupBy(col("doc_id"), col("chunk_idx"), col("dl"), col("term"))
        .agg(count(lit(1)).cast("double").as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
      tf.join(broadcast(qTerms), "term")
        .join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("w", bm25Weight)
        .groupBy(col("query_id") +: keys.map(col): _*)
        .agg(sum(col("w")).as("bm25"))
    }
    val wq = Window.partitionBy(col("query_id"))
    val bmTop = bmRaw
      .withColumn("bm25", round(col("bm25") + lit(1e-9), 4))
      .withColumn("bm25_rank", row_number().over(
        wq.orderBy(col("bm25").desc, col("doc_id").asc, col("chunk_idx").asc)).cast("long"))
      .filter(col("bm25_rank") <= candDepth)
      .select(col("query_id") +: keys.map(col) :+ col("bm25_rank"): _*)
    val qvF = qvs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }
      .toDF("query_id", "qv")
    // denseFrom = per-query PAIRED candidates (query_id, doc_id,
    // chunk_idx, emb, qv) — the fully-served batch passes each query's
    // pruned probe read here so the dense leg never scans the index;
    // scoring semantics identical, only the candidate pairs change
    val cosTop = denseFrom.getOrElse(index.crossJoin(broadcast(qvF)))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        round(VecExprs.cosineSim(col("emb"), col("qv")) + lit(1e-9), 4).as("cos"))
      .withColumn("cos_rank", row_number().over(
        wq.orderBy(col("cos").desc, col("doc_id").asc, col("chunk_idx").asc)).cast("long"))
      .filter(col("cos_rank") <= candDepth)
      .select(col("query_id") +: keys.map(col) :+ col("cos_rank"): _*)
    cosTop.join(bmTop, "query_id" +: keys, "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("bm25_rank") + RrfC), lit(0.0)) +
          coalesce(lit(1.0) / (col("cos_rank") + RrfC), lit(0.0)) + lit(1e-12), 6))
      .withColumn("rn", row_number().over(
        wq.orderBy(col("rrf").desc, col("doc_id").asc, col("chunk_idx").asc)))
      .filter(col("rn") <= topK).drop("rn")
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        col("rrf"), col("bm25_rank"), col("cos_rank"))
      .orderBy(col("query_id").asc, col("rrf").desc,
        col("doc_id").asc, col("chunk_idx").asc)
  }

  /** A11: hybrid retrieval — RRF of the BM25 ranking and the hash-embedding
    * cosine ranking for the same query string.
    */
  def ragHybrid(spark: SparkSession, sfDir: String,
                query: String = DefaultQuery, topK: Int = 10, dim: Int = 64,
                bm25From: Option[DataFrame] = None): DataFrame = {
    val qv = HashEmbedAlg.embed(query, dim)
    val qvCol = array(qv.map(lit): _*)
    // rank over ROUNDED scores: the BM25 per-doc sum is order-nondeterministic
    // at the last bit, so raw-double ordering could disagree with the oracle;
    // 4dp-rounded scores are stable in both engines (same trick as the ANN
    // queries), with doc_id as the total-order tiebreak
    // full-corpus ranking WITHOUT an unpartitioned window: Ranks.globalRankDesc
    // decomposes the global row_number into a distinct-score prefix sum plus a
    // per-score tiebreak window (row-for-row equal to the oracle's single
    // row_number — see Ranks scaladoc)
    val bmScored = bm25From.getOrElse(bm25Scores(spark, sfDir, query))
      .withColumn("bm25", round(col("bm25") + lit(1e-9), 4))
    val bmRanked = Ranks.globalRankDesc(bmScored, "bm25", Seq("doc_id"), "bm25_rank",
        materialize = true)
      .select(col("doc_id"), col("bm25_rank"))
    // Prefilter before the cosine rank: docs with no lexical hit AND
    // non-positive cosine carry no retrieval signal — on a real corpus the
    // rounded score 0.0 is a corpus-fraction peer group, and globalRankDesc's
    // per-score tiebreak window would funnel it through one task. Ranks are
    // DEFINED over the signal-bearing subset (the oracle applies the same
    // filter). "Has a lexical hit" is tested scan-side with `exists` over
    // the token array — the exact set bm25Scores emits rows for, but as a
    // codegen'd filter instead of a join against the bm25 subtree (which
    // globalRankDesc would evaluate twice).
    val terms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        round(VecExprs.cosineSim(VecExprs.hashEmbed(col("text"), dim), qvCol) + lit(1e-9), 4)
          .as("cos"),
        exists(Text.tokens(col("text")), t => t.isin(terms.map(lit): _*)).as("__hit"))
      .filter(col("cos") > 0 || col("__hit"))
      .select(col("doc_id"), col("cos"))
    Ranks.globalRankDesc(base, "cos", Seq("doc_id"), "cos_rank", materialize = true)
      .join(bmRanked, Seq("doc_id"), "left_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (col("bm25_rank") + RrfC), lit(0.0)) +
          lit(1.0) / (col("cos_rank") + RrfC) + lit(1e-12), 6))
      .select(col("doc_id"), col("rrf"), col("bm25_rank"), col("cos_rank"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
      .limit(topK)
  }

  /** A11s: [[ragHybrid]] with the LEXICAL leg served from the persisted
    * postings store — the BM25 ranking derives from a pruned read of the
    * query terms' buckets, never a corpus tokenize; value-identical
    * output, so it rides rag_hybrid's DuckDB oracle unchanged (the cosine
    * leg's scan is shared by both variants — its served twin is the ANN
    * index family).
    */
  def ragHybridServed(spark: SparkSession, sfDir: String,
                      query: String = DefaultQuery, topK: Int = 10,
                      dim: Int = 64): DataFrame = {
    val path = Bm25Store.defaultIndexPath(sfDir)
    Bm25Store.ensureDocLexIndex(spark, sfDir, path)
    ragHybrid(spark, sfDir, query, topK, dim,
      bm25From = Some(Bm25Store.scoresFromStore(spark, path, query).drop("chunk_idx")))
  }
}
