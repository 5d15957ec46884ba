package graft.operators

import graft.Tables
import graft.functions.Vec
import graft.plans.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Semantic search — the Spark re-expression of the reference's `rag_query`
  * (reference: src/index.ts:260-284): score every chunk vector against the
  * query embedding by cosine, sort desc, take k, join back the snippet
  * metadata.
  *
  * Scale design: the query side is always tiny (1..q vectors) and broadcast;
  * the corpus scan is embarrassingly parallel; top-k is per-partition partial
  * top-k merged once (`orderBy.limit` plans as TakeOrderedAndProject — no
  * global sort). C2 (`annLsh`) adds the 100 TB path: bucket by deterministic
  * hyperplane signs so each probe touches one bucket, and the bucket id is
  * the shuffle/cluster key.
  */
object RagSearch {

  /** A3: top-10 chunks for a single query vector (vec_id 0 plays the role of
    * the embedded query string), with snippet metadata joined from
    * `documents` — mirrors the reference result shape
    * (path→source, score, snippet, fileSize→n_chars).
    */
  def ragTopK(spark: SparkSession, sfDir: String, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") === queryId).select(col("embedding").as("qv"))
    val d = Tables.documents(spark, sfDir)
    val scored = e.crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("score"))
    scored.join(d, scored("vec_id") === d("doc_id"))
      .select(col("vec_id"), col("score"), col("source"),
        substring(col("text"), 1, 80).as("snippet"), col("n_chars").as("file_size"))
      .orderBy(col("score").desc, col("vec_id").asc)
      .limit(k)
  }

  /** The ONE scoring step every brute-force/pool surface shares: cross
    * the corpus frame (must carry `vec_id`, `embedding`) with a broadcast
    * query frame (`query_id`, `qv`, + any extra columns), exclude
    * self-matches, append the 4 dp-quantized cosine as `scoreCol`, drop
    * `qv`. All other columns of both sides survive.
    *
    * `nudged` selects the +1e-9 midpoint-nudge convention — used where
    * the score feeds FURTHER quantized arithmetic (the MMR greedy and
    * cross-encoder pools, whose oracle replay once split at an exact
    * .00005 midpoint); the SERVED C1-family rankings and the evaluation
    * harness use the bare convention, single-sourced here, so the
    * harness measures exactly the ranking C1 serves.
    */
  private[graft] def withCosineScore(e: DataFrame, q: DataFrame,
      scoreCol: String, nudged: Boolean): DataFrame = {
    val cos = VecExprs.cosineSim(col("embedding"), col("qv"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn(scoreCol, round(if (nudged) cos + lit(1e-9) else cos, 4))
      .drop("qv")
  }

  /** C1: brute-force batch ANN — top-5 neighbors for each of the first 10
    * vectors. Rank over rounded scores so ordering is reproducible in the
    * oracle; self-matches excluded.
    */
  def annTopKBatch(spark: SparkSession, sfDir: String,
                   nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = withCosineScore(e, q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C1w (r12): the C1 brute-force batch ANN re-run in a LEARNED vector
    * space — MLlib Word2Vec trained on the documents corpus itself through
    * the [[graft.Embedder]] seam (the reference's whole point is a trained
    * space, reference: src/embeddings.ts:7,62-67; this is the public,
    * no-download equivalent). Training is corpus-parallel by default
    * (`trainPartitions=0` → `spark.defaultParallelism` skip-gram shards —
    * the 100 TB shape); the learned weights are not SQL-expressible, so
    * this is a declared rows-only query; the recall/identity/serving
    * receipts live in Word2VecEmbedderSpec. Parallel float merges make the
    * exact weights run-dependent — safe here (shape-only contract) and
    * safe for stores (the fingerprint gates reuse); pass
    * `trainPartitions=1` where a bit-stable result is itself under test.
    * Scale shape: training is one MLlib fit (vocabulary-bounded driver
    * state), embedding is the batched mapPartitions seam, scoring is the
    * same broadcast-queries pattern as C1.
    */
  def ragTopKW2v(spark: SparkSession, sfDir: String,
                 nQueries: Int = 5, k: Int = 5,
                 trainPartitions: Int = 0): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val w2v = graft.Word2VecEmbedder.train(spark, docs,
      dim = 32, minCount = 2, maxIter = 1, numPartitions = trainPartitions)
    val e = w2v.embedFrame(docs.select("doc_id", "text"), "text", "embedding")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = withCosineScore(e, q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C1t: C1's top-k on a TRANSFORMER-encoded space ([[graft.TransformerEmbedder]]
    * — the from-scratch encoder forward pass: multi-head self-attention +
    * FFN + mean-pool, the reference's actual inference shape, reference:
    * src/embeddings.ts:26-67). Weights are the deterministic seeded
    * stand-in (no checkpoint downloads here), so the QUERY is run-stable
    * end-to-end — but a forward pass is not SQL-expressible, so declared
    * rows-only; the determinism/position-awareness/identity-gating/serving
    * receipts live in TransformerEmbedderSpec. Scale shape: zero training,
    * per-executor weight materialization (nothing ships), batched
    * mapPartitions inference with the O(L²·d + L·d²) per-text cost a
    * 100 TB embed stage budgets for, then the C1 broadcast-queries scoring.
    */
  def ragTopKTx(spark: SparkSession, sfDir: String,
                nQueries: Int = 5, k: Int = 5): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val tx = graft.TransformerEmbedder.seeded(spark)
    // inference cost is per-ROW compute, so parallelism must come from
    // repartition, not file layout: a small corpus in one parquet file
    // would otherwise serialize the whole forward-pass stage through one
    // task (the §4g receipt caught exactly that — 35 s single-threaded
    // at sf0.1 vs 0.6 s repartitioned). Guarded like the facade's
    // embedFrom: a WELL-partitioned corpus is never reshuffled — the
    // blanket repartition is the 100 TB anti-pattern.
    val e = tx.embedFrame(
        widenForInference(docs.select("doc_id", "text")), "text", "embedding")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    // query vectors via the driver-side seam twin (embedText ≡ embedFrame,
    // EmbedderSpec's contract) — a bounded query batch, not a second
    // corpus-wide embed branch
    val q = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), tx.embedText(if (r.isNullAt(1)) "" else r.getString(1)).toSeq))
      .toSeq.toDF("query_id", "qv")
    val scored = withCosineScore(e, q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C1x: cross-encoder reranking (Nogueira & Cho 2019 — the BERT
    * passage-reranking recipe): stage 1 retrieves a bounded candidate
    * pool with the BI-encoder (indexable, O(1) per doc at serve time);
    * stage 2 re-scores each (query, doc) PAIR by encoding the joint
    * `q ‖ SEP ‖ d` sequence through the same transformer — self-attention
    * reads the query against the document token-by-token, the
    * interaction signal no pair of independent encodes can carry — and
    * ranks by the scalar head's projection.
    *
    * Scale shape: the O(L²) joint encode is paid ONLY on
    * nQueries × candDepth pairs (why two-stage retrieval exists); pair
    * scoring is batched mapPartitions over the pool join — inference
    * parallelism from the pool's partitioning, query texts a bounded
    * driver map. Weights are deterministic-seeded (checkpoint downloads
    * impossible here) so the query is run-stable; rows-only (a forward
    * pass is not SQL) with the receipts in CrossEncoderSpec.
    */
  def ragRerankCross(spark: SparkSession, sfDir: String,
                     nQueries: Int = 5, candDepth: Int = 20,
                     k: Int = 5): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val tx = graft.TransformerEmbedder.seeded(spark)
    val ce = new graft.CrossEncoder(tx)
    // stage 1: bi-encoder pool (the C1t shape — wide inference, bounded
    // driver-side query batch through the seam's embedText twin); the
    // repartition is guarded like the facade's embedFrom — an already
    // wide corpus never reshuffles
    val e = tx.embedFrame(widenForInference(docs), "text", "embedding")
      .select(col("doc_id").as("vec_id"), col("embedding"))
    val qDocs = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id"), col("text")).collect()
    val qFrame = qDocs
      .map(r => (r.getLong(0), tx.embedText(if (r.isNullAt(1)) "" else r.getString(1)).toSeq))
      .toSeq.toDF("query_id", "qv")
    val wRel = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("vec_id").asc)
    val pool = withCosineScore(e, qFrame, "rel", nudged = true)
      .select(col("query_id"), col("vec_id"), col("rel"))
      .withColumn("rn", row_number().over(wRel))
      .filter(col("rn") <= candDepth)
      .select(col("query_id"), col("vec_id"))
    // stage 2: joint-sequence scoring over the bounded pool
    val qTexts: Map[Long, String] = qDocs
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) "" else r.getString(1))).toMap
    val withText = pool.join(docs, pool("vec_id") === docs("doc_id"))
      .select(col("query_id"), col("vec_id"), col("text"))
    val scored = withCrossScores(withText, ce,
      r => qTexts(r.getLong(0)),
      r => if (r.isNullAt(2)) "" else r.getString(2))
    val wOut = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.select(col("query_id"), col("vec_id"),
        round(col("cross") + lit(1e-9), 4).as("score"))
      .withColumn("rank", row_number().over(wOut).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C1l: late-interaction retrieval (Khattab & Zaharia 2020, ColBERT,
    * arXiv:2004.12832) — the THIRD scoring paradigm, completing the
    * taxonomy: the bi-encoder compares two pooled vectors (indexable,
    * blurs word-level evidence into one mean), the cross-encoder encodes
    * the joint pair (exact interaction, pool-bounded cost), and LATE
    * INTERACTION keeps every TOKEN's contextual vector and scores
    * `Σ_{q∈Q} max_{d∈D} q·d` (MaxSim) — word-level matching at corpus
    * scan cost, no joint encode per pair.
    *
    * Shape: ONE corpus pass, no crossJoin — each document is encoded once
    * in `mapPartitions` and scored against ALL broadcast query token
    * matrices inside the same task (encode and score fused, so per-token
    * vectors never materialize corpus-wide; a SERVED variant would
    * persist them like the ANN stores persist pooled vectors, trading
    * L× index size for scan-free queries — the ColBERT index trade,
    * declared). Per-row state is one L×d matrix; the query side is a
    * tiny nQueries×L×d broadcast. Rows-only (forward pass); receipts in
    * LateInteractionSpec.
    */
  def ragTopKLate(spark: SparkSession, sfDir: String,
                  nQueries: Int = 5, k: Int = 5): DataFrame =
    ragTopKLateOver(Tables.documents(spark, sfDir).select(col("doc_id"), col("text")),
      graft.TransformerEmbedder.seeded(spark), nQueries, k)

  /** [[ragTopKLate]] over an explicit `(doc_id, text)` frame + encoder. */
  def ragTopKLateOver(docs: DataFrame, tx: graft.TransformerEmbedder,
                      nQueries: Int, k: Int): DataFrame = {
    val spark = docs.sparkSession
    val qMats = docs.filter(col("doc_id") < nQueries).collect()
      .map(r => (r.getLong(0),
        tx.forwardTokenVecs(tx.tokenIds(if (r.isNullAt(1)) "" else r.getString(1)))))
    val bc = spark.sparkContext.broadcast(qMats)
    val parts = spark.sparkContext.defaultParallelism
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("raw", org.apache.spark.sql.types.DoubleType, nullable = false)))
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val scored = docs.repartition(parts).mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val dToks = tx.tokenIds(if (r.isNullAt(1)) "" else r.getString(1))
        val dVecs = if (dToks.isEmpty) Array.empty[Array[Double]]
          else tx.forwardTokenVecs(dToks)
        bc.value.iterator.filter(_._1 != id).map { case (qid, qm) =>
          org.apache.spark.sql.Row(qid, id, maxSim(qm, dVecs))
        }
      }
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.select(col("query_id"), col("vec_id"), round(col("raw"), 4).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** ColBERT MaxSim: `Σ_{q∈Q} max_{d∈D} q·d` — the ONE scoring loop both
    * the fused scan and the served store use, so their exact-equality
    * contract is structural, not two hand-copied loops staying in sync
    * (the single-source rule the cosine convention already follows).
    * Empty document matrices contribute 0 (no best match per query token).
    */
  private[graft] def maxSim(qm: Array[Array[Double]],
                            dVecs: Array[Array[Double]]): Double = {
    var s = 0.0
    var qi = 0
    while (qi < qm.length) {
      val qv = qm(qi)
      var best = Double.NegativeInfinity
      var di = 0
      while (di < dVecs.length) {
        val dv = dVecs(di)
        var dot = 0.0; var t = 0
        while (t < qv.length) { dot += qv(t) * dv(t); t += 1 }
        if (dot > best) best = dot
        di += 1
      }
      if (best != Double.NegativeInfinity) s += best
      qi += 1
    }
    s
  }

  /** Routing vector for the late-interaction store: L2-normalized MEAN of
    * the (already normalized) token vectors — one forward pass yields
    * both the token matrix and its routing key. This is a ROUTING space
    * only (cell assignment + probe selection), deliberately not the
    * bi-encoder's `forwardPooled` (which pools the raw encoder output):
    * queries and documents pool identically, which is all coarse
    * quantization needs.
    */
  private[graft] def poolTokenVecs(tvs: Array[Array[Double]], dim: Int): Array[Double] = {
    val out = new Array[Double](dim)
    if (tvs.isEmpty) return out
    var i = 0
    while (i < tvs.length) {
      val v = tvs(i)
      var j = 0
      while (j < dim) { out(j) += v(j); j += 1 }
      i += 1
    }
    var ss = 0.0
    var j = 0
    while (j < dim) { out(j) /= tvs.length; ss += out(j) * out(j); j += 1 }
    val inv = if (ss > 0) 1.0 / StrictMath.sqrt(ss) else 0.0
    j = 0
    while (j < dim) { out(j) *= inv; j += 1 }
    out
  }

  /** The late-interaction corpus encode: ONE batched forward pass per
    * document emits `(vec_id, embedding, tokvecs)` — the routing vector
    * plus the full L×d token matrix (the ColBERT index payload; the L×
    * storage is the declared trade for scan-free serving).
    */
  private[graft] def lateCorpusEncode(docs: DataFrame,
                                      tx: graft.TransformerEmbedder): DataFrame = {
    import org.apache.spark.sql.types._
    // columns beyond (id, text) pass through — a derived chunk index's
    // metadata rides the store so the facade can serve it from the
    // pruned cell read (the AnnIvf.writeIndexOver payload convention)
    val payloadFields = docs.schema.fields.drop(2)
    val schema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false),
      StructField("tokvecs", ArrayType(ArrayType(DoubleType, containsNull = false),
        containsNull = false), nullable = false)) ++ payloadFields)
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    val nPayload = payloadFields.length
    widenForInference(docs).mapPartitions { rows =>
      rows.map { r =>
        val id = r.getLong(0)
        val toks = tx.tokenIds(if (r.isNullAt(1)) "" else r.getString(1))
        val tvs = if (toks.isEmpty) Array.empty[Array[Double]]
          else tx.forwardTokenVecs(toks)
        org.apache.spark.sql.Row.fromSeq(
          Seq(id, poolTokenVecs(tvs, tx.dim).toSeq, tvs.map(_.toSeq).toSeq) ++
            (0 until nPayload).map(i => r.get(i + 2)))
      }
    }
  }

  private[graft] def lateManifest(kCells: Int, model: String, fp: String): String =
    AnnStore.manifest("late_ivf", Seq("k" -> kCells, "model" -> model), fp)

  /** Build-once gate for the late-interaction store. The layout IS an IVF
    * store whose payload carries the token matrices, so build, refresh
    * ([[AnnIvf.refreshIndexOver]] — affected cells only, pinned
    * centroids), compaction, and crash heal all ride the shared AnnStore
    * contract unchanged; the model identity in the manifest gates an
    * encoder swap into a rebuild.
    */
  private[graft] def ensureLateIndex(spark: SparkSession, docs: DataFrame,
                                     tx: graft.TransformerEmbedder, path: String,
                                     kCells: Int, fp: String): Unit = {
    val m = lateManifest(kCells, tx.name, fp)
    AnnStore.ensureIndex(spark, path, m) {
      // materialize the transformer encode ONCE: trainOver caches only its
      // narrow projection, so an uncheckpointed frame re-runs the most
      // expensive forward pass in the repo for the vectors write
      AnnStore.releasingPinned(spark) {
        val enc = AnnStore.trackedCheckpoint(lateCorpusEncode(docs, tx))
        AnnIvf.writeIndexOver(spark, enc, path, kCells, m): Unit
      }
    }
  }

  /** C1ls: SERVED late interaction — the declared ColBERT index trade
    * ([[ragTopKLateOver]]'s docstring): per-token vectors persist
    * cid-partitioned (routing vector = coarse-quantizer key), so a serve
    * encodes only the bounded QUERY batch and computes MaxSim over the
    * pruned probe read's STORED token matrices — the corpus is never
    * re-encoded per query (the fused scan pays one forward pass per
    * document per batch; this path paid it once, at build). Recall vs
    * the fused exact scan is the IVF probe bound (spec-bounded in
    * LateInteractionSpec); scores of returned candidates are EXACT MaxSim
    * (same math over the same vectors, spec-pinned).
    */
  def ragTopKLateServed(spark: SparkSession, sfDir: String,
                        nQueries: Int = 5, k: Int = 5, nprobe: Int = 4,
                        kCells: Int = 16): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val tx = graft.TransformerEmbedder.seeded(spark)
    val path = AnnStore.defaultPath("late", sfDir)
    ensureLateIndex(spark, docs, tx, path, kCells,
      AnnStore.pathFingerprint(spark,
        new org.apache.hadoop.fs.Path(sfDir, "documents.parquet").toString))
    val qs = docs.filter(col("doc_id") < nQueries).collect().map { r =>
      val toks = tx.tokenIds(if (r.isNullAt(1)) "" else r.getString(1))
      val qm = if (toks.isEmpty) Array.empty[Array[Double]]
        else tx.forwardTokenVecs(toks)
      (r.getLong(0), qm, poolTokenVecs(qm, tx.dim))
    }
    ragTopKLateServedOver(spark, path, qs, k, nprobe, excludeSelf = true)
  }

  /** Serve MaxSim over a persisted late-interaction store for a bounded
    * driver-side query batch `(query_id, token matrix, routing vector)`.
    * Shape: probe selection against the k-row centroid table is
    * driver-local; the candidate read is a PARTITION-PRUNED scan of the
    * probed cells; scoring is in-task against the broadcast query
    * matrices (per-task state = one stored matrix row at a time).
    */
  private[graft] def ragTopKLateServedOver(spark: SparkSession, indexPath: String,
                                           queries: Array[(Long, Array[Array[Double]], Array[Double])],
                                           k: Int, nprobe: Int,
                                           excludeSelf: Boolean): DataFrame =
    ragTopKLateServedOverCells(spark, indexPath, queries, k, nprobe,
      excludeSelf).drop("cid")

  /** [[ragTopKLateServedOver]] with each hit's cell id riding as `cid` —
    * the facade's pruned-metadata handle (the graph/HNSW Cells twins).
    */
  private[graft] def ragTopKLateServedOverCells(spark: SparkSession, indexPath: String,
                                           queries: Array[(Long, Array[Array[Double]], Array[Double])],
                                           k: Int, nprobe: Int,
                                           excludeSelf: Boolean): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val centroids = AnnStore.servedCentroids(spark, indexPath)
    val probes: Map[Long, Set[Int]] = queries.map { case (qid, _, pooled) =>
      qid -> AnnIvf.probeIds(pooled, centroids, nprobe).toSet
    }.toMap
    val cids = probes.values.flatten.toSeq.distinct.sorted
    val pruned = AnnIvf.probeCells(spark, indexPath, cids)
      .select(col("vec_id"), col("cid"), col("tokvecs"))
    val bcQ = spark.sparkContext.broadcast(
      queries.map { case (qid, qm, _) => (qid, qm, probes(qid)) })
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("raw",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    val scored = pruned.mapPartitions { rows =>
      rows.flatMap { r =>
        val id = r.getLong(0)
        val cid = r.getInt(1)
        lazy val dVecs = r.getSeq[scala.collection.Seq[Double]](2)
          .map(_.toArray).toArray
        bcQ.value.iterator
          .filter { case (qid, _, ps) =>
            ps.contains(cid) && !(excludeSelf && qid == id) }
          .map { case (qid, qm, _) =>
            org.apache.spark.sql.Row(qid, id, cid, maxSim(qm, dVecs))
          }
      }
    }
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.select(col("query_id"), col("vec_id"), col("cid"),
        round(col("raw"), 4).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"), col("cid"))
      .orderBy("query_id", "rank")
  }

  /** C1e: retrieval evaluation — recall@k, MRR, and nDCG@k of the C1
    * retriever against the embeddings table's LABEL ground truth
    * (relevant(q, d) ⇔ label(d) = label(q), the standard ANN-benchmark
    * proxy; self excluded). The harness every retrieval stack needs
    * before swapping rankers: C1m/C1x/C2..C6 all claim to improve
    * something — this is the operator that measures it.
    *
    * Scale shape: one broadcast-queries scoring pass (the C1 shape), one
    * rank window, one per-query aggregate — metrics never materialize
    * more than a row per query. Fully deterministic (4 dp-quantized
    * ranking scores, vec_id ties) and SQL-expressible end-to-end, so the
    * whole metric pipeline sits under the DuckDB oracle (metric columns
    * are doubles — the gate's 1e-9 float tolerance absorbs cross-engine
    * sum-order ulps).
    */
  def retrievalEval(spark: SparkSession, sfDir: String,
                    nQueries: Int = 10, k: Int = 10): DataFrame =
    retrievalEvalOver(Tables.embeddings(spark, sfDir), nQueries, k)

  /** [[retrievalEval]] over an explicit `(vec_id, embedding, label)` frame. */
  def retrievalEvalOver(e: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("label").as("qlabel"))
    // bare (un-nudged) quantization: the harness must rank EXACTLY as the
    // served C1 family does, or boundary cases would score a retrieval C1
    // never returns
    val scored = withCosineScore(e, q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("score"),
        (col("label") === col("qlabel")).as("rel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rn", row_number().over(w))
      .groupBy("query_id")
      .agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_relevant"),
        sum(when(col("rel") && col("rn") <= k, 1L).otherwise(0L)).as("hits"),
        coalesce(max(when(col("rel") && col("rn") <= k, lit(1.0) / col("rn"))),
          lit(0.0)).as("mrr"),
        coalesce(sum(when(col("rel") && col("rn") <= k, lit(1.0) / log2(col("rn") + 1))),
          lit(0.0)).as("dcg"))
      .select(col("query_id"), col("n_relevant"),
        when(col("n_relevant") > 0,
          col("hits").cast("double") / least(lit(k.toLong), col("n_relevant")))
          .otherwise(lit(0.0)).as("recall_at_k"),
        col("mrr"),
        when(col("n_relevant") > 0,
          col("dcg") / expr(
            s"aggregate(sequence(1, int(least($k, n_relevant))), 0D, (a, x) -> a + 1D / log2(double(x) + 1D))"))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("query_id")
  }

  /** Metrics of ANY `(query_id, vec_id, rank, …)` top-k ranking frame
    * against an explicit `(vec_id, label)` truth — the generic core
    * behind [[retrievalEvalOver]], so EVERY ranker in the repo (exact,
    * LSH, IVF, PQ, graph, MMR, learned/transformer/late/cross text
    * spaces) lands in one comparable table instead of each arm claiming
    * recall against a different yardstick. relevant(q, d) ⇔
    * label(d) = label(q) ∧ d ≠ q; a self row in the ranking is dropped
    * and the remaining order re-ranked, so self-including and
    * self-excluding rankers compare at equal depth.
    *
    * `queries` (optional) pins the evaluation universe: a query the
    * ranker returned NO rows for scores 0 on every metric instead of
    * silently vanishing from the mean — the honest accounting for
    * bucket-miss arms like LSH.
    */
  def evalRankingOver(ranked: DataFrame, labels: DataFrame, k: Int,
                      queries: Option[DataFrame] = None): DataFrame = {
    val labelCounts = labels.groupBy(col("label")).agg(count(lit(1)).as("n_label"))
    val qFrame = queries.getOrElse(ranked.select(col("query_id")).distinct())
    val qInfo = qFrame.select(col("query_id"))
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("qlabel")),
        Seq("query_id"))
      .join(labelCounts.select(col("label").as("qlabel"), col("n_label")), Seq("qlabel"))
      .select(col("query_id"), col("qlabel"), (col("n_label") - 1).as("n_relevant"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("rank").asc, col("vec_id").asc)
    val perQ = ranked.filter(col("vec_id") =!= col("query_id"))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= k)
      .join(labels, Seq("vec_id"))
      .join(qInfo.select(col("query_id"), col("qlabel")), Seq("query_id"))
      .withColumn("rel", col("label") === col("qlabel"))
      .groupBy("query_id")
      .agg(
        sum(when(col("rel"), 1L).otherwise(0L)).as("hits"),
        coalesce(max(when(col("rel"), lit(1.0) / col("rn"))), lit(0.0)).as("mrr"),
        coalesce(sum(when(col("rel"), lit(1.0) / log2(col("rn") + 1))), lit(0.0)).as("dcg"))
    qInfo.join(perQ, Seq("query_id"), "left_outer")
      .select(col("query_id"), col("n_relevant"),
        when(col("n_relevant") > 0,
          coalesce(col("hits"), lit(0L)).cast("double") /
            least(lit(k.toLong), col("n_relevant")))
          .otherwise(lit(0.0)).as("recall_at_k"),
        coalesce(col("mrr"), lit(0.0)).as("mrr"),
        when(col("n_relevant") > 0,
          coalesce(col("dcg"), lit(0.0)) / expr(
            s"aggregate(sequence(1, int(least($k, n_relevant))), 0D, (a, x) -> a + 1D / log2(double(x) + 1D))"))
          .otherwise(lit(0.0)).as("ndcg"))
      .orderBy("query_id")
  }

  /** Mean metrics of one ranker — a single `(ranker, recall_at_k, mrr,
    * ndcg)` row for the eval MATRIX (the table that makes every arm's
    * claim comparable; RetrievalEvalSpec builds the full matrix and
    * SURVEY records it).
    */
  def evalMatrixRow(name: String, ranked: DataFrame, labels: DataFrame,
                    k: Int, queries: Option[DataFrame] = None): DataFrame =
    evalRankingOver(ranked, labels, k, queries)
      .agg(round(avg("recall_at_k") + lit(1e-9), 4).as("recall_at_k"),
        round(avg("mrr") + lit(1e-9), 4).as("mrr"),
        round(avg("ndcg") + lit(1e-9), 4).as("ndcg"))
      .withColumn("ranker", lit(name))
      .select(col("ranker"), col("recall_at_k"), col("mrr"), col("ndcg"))

  /** C1ep: PERTURBATION-truth retrieval eval — the discriminative
    * counterpart of [[retrievalEval]]'s label proxy. Queries are
    * deterministically corrupted copies of corpus documents (every
    * `dropEvery`-th token removed — the ANN-benchmark "query = noisy
    * point" construction); the ground truth is the SOURCE document, so a
    * working retriever must separate from the random baseline (the label
    * proxy scores every text ranker at chance because the synthetic
    * labels are text-independent — the r14 eval-matrix finding this
    * operator answers).
    *
    * The BM25 arm is evaluated here because it is fully SQL-expressible
    * end-to-end (hash-matched); PerturbEvalSpec runs the same truth over
    * the dense and hybrid arms with honest floors.
    *
    * The query batch is a bounded driver collect (`nQueries` rows — the
    * k-means-centroid discipline); corpus cost is ONE tokenize pass with
    * term hits filtered at the scan edge ([[Bm25.bm25ScoresOver]]'s
    * shape). n_relevant is 1 per query by construction (source doc).
    */
  /** The perturbed query batch: `(query_id = -(doc_id+1), kept tokens)`
    * for the first `nQueries` docs — shared by the driver query and
    * PerturbEvalSpec's dense/hybrid arms so every arm answers the SAME
    * corrupted queries. NEGATED ids (not an additive offset) so the query
    * id space can never collide with a corpus doc_id at any scale — an
    * offset constant would break silently once ids pass it.
    */
  private[graft] def perturbSource(queryId: Long): Long = -queryId - 1L
  private[graft] def perturbQueries(docs: DataFrame, nQueries: Int,
                                    dropEvery: Int): Seq[(Long, Seq[String])] =
    docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id"),
        filter(graft.functions.Text.tokens(col("text")),
          (_, i) => i % dropEvery =!= dropEvery - 1).as("ptoks"))
      .collect()
      .map(r => (-(r.getLong(0) + 1L), r.getSeq[String](1).toSeq)).toSeq

  def retrievalEvalPerturb(spark: SparkSession, sfDir: String,
                           nQueries: Int = 10, k: Int = 10,
                           dropEvery: Int = 4): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir)
    val qRows = perturbQueries(docs, nQueries, dropEvery)
    require(qRows.nonEmpty, s"retrievalEvalPerturb: no docs with doc_id < $nQueries")
    val qTermPairs = qRows
      .flatMap { case (qid, toks) => toks.distinct.map(t => (qid, t)) }
      .toDF("query_id", "term")
    val termSet = qRows.flatMap(_._2).distinct
    val prepped = docs
      .select(col("doc_id"), graft.functions.Text.tokens(col("text")).as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("double").as("dl"),
        filter(col("toks"), t => t.isin(termSet.map(lit): _*)).as("hits"))
      .localCheckpoint(false)
    val stats = prepped.agg(
      count(lit(1)).cast("double").as("n_docs"), avg(col("dl")).as("avgdl"))
    val tf = prepped
      .select(col("doc_id"), col("dl"), explode(col("hits")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))
    val scores = tf.join(broadcast(qTermPairs), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", Bm25.bm25Weight)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(round(sum(col("w")) + lit(1e-9), 4).as("score"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val ranked = scores.withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("doc_id").as("vec_id"), col("rank"))
    val labels = docs.select(col("doc_id").as("vec_id"), col("doc_id").as("label"))
      .union(qRows.map { case (qid, _) => (qid, perturbSource(qid)) }
        .toDF("vec_id", "label"))
    val qIds = qRows.map(_._1).toDF("query_id")
    evalRankingOver(ranked, labels, k, Some(qIds))
  }

  /** Append `cross` = cross-encoder score of (query, doc) text extracted
    * per row — the ONE batched mapPartitions scoring loop the driver
    * query and the facade serve share ([[graft.CrossEncoder.ScoreBatchSize]]
    * pairs per inference call).
    */
  private[graft] def withCrossScores(df: DataFrame, ce: graft.CrossEncoder,
      queryTextOf: org.apache.spark.sql.Row => String,
      docTextOf: org.apache.spark.sql.Row => String): DataFrame = {
    val outSchema = df.schema.add("cross",
      org.apache.spark.sql.types.DoubleType, nullable = false)
    implicit val enc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.grouped(graft.CrossEncoder.ScoreBatchSize).flatMap { batch =>
        val scores = ce.scoreBatch(
          batch.map(r => (queryTextOf(r), docTextOf(r))).toArray)
        batch.iterator.zip(scores.iterator).map { case (r, s) =>
          org.apache.spark.sql.Row.fromSeq(r.toSeq :+ s)
        }
      }
    }
  }

  /** C1m: MMR diversity reranking (Carbonell & Goldstein 1998 — maximal
    * marginal relevance, the classic redundancy-vs-relevance rerank every
    * RAG serving stack bolts onto its retriever): a bounded candidate pool
    * (top-`candDepth` by cosine per query — the C1 shape; at corpus scale
    * the ANN stores feed this pool instead) is greedily re-ranked, each
    * step taking argmax of `λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)` so
    * near-duplicate hits are demoted behind diverse ones.
    *
    * Scale shape: candidate generation is the retriever's problem (brute
    * force here as the oracle anchor); the rerank itself shuffles ONE
    * bounded pool per query (`candDepth` rows) to its group and runs the
    * O(k·candDepth) greedy driver-free inside `flatMapGroups` — per-query
    * state never exceeds the pool, the 100 TB serving shape.
    *
    * Determinism/oracle: rel, pairwise sims, and the combined score are
    * quantized to 4 dp (the house `round` semantics) before every argmax,
    * ties break on vec_id — so the greedy is replicable in ANSI SQL, and
    * the DuckDB oracle replays it with a recursive CTE carrying the
    * selected set (fully hash-matched; the first rows-only-free iterative
    * operator). Step 1's score is the plain relevance; later steps report
    * the MMR objective.
    */
  def ragTopKMmr(spark: SparkSession, sfDir: String,
                 nQueries: Int = 5, k: Int = 5,
                 lambdaRel: Double = 0.7, candDepth: Int = 20): DataFrame =
    ragTopKMmrOver(Tables.embeddings(spark, sfDir), nQueries, k, lambdaRel, candDepth)

  /** [[ragTopKMmr]] over an explicit `(vec_id, embedding)` frame. */
  def ragTopKMmrOver(e: DataFrame, nQueries: Int, k: Int,
                     lambdaRel: Double, candDepth: Int): DataFrame = {
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    // nudged: every rounded value in the MMR path must land off the
    // .00005 midpoint, or Spark's shortest-decimal rounding and DuckDB's
    // multiply-based rounding can split a boundary case (observed once in
    // 620 scores at sf0.1)
    val rel = withCosineScore(e, q, "rel", nudged = true)
      .select(col("query_id"), col("vec_id"), col("embedding"), col("rel"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("rel").desc, col("vec_id").asc)
    val pool = rel.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= candDepth)
      .select(col("query_id"), col("vec_id"),
        col("embedding").cast("array<double>").as("embedding"), col("rel"))
    mmrGreedy(pool, k, lambdaRel)
      .orderBy("query_id", "rank")
  }

  /** The MMR greedy over a BOUNDED per-query candidate pool
    * `(query_id, vec_id, embedding: array<double>, rel)`: per query,
    * select k rows by argmax `λ·rel − (1−λ)·max sim-to-selected`, every
    * compared score quantized to 4 dp and ties broken on vec_id (the
    * determinism that makes the greedy SQL-replicable). One shuffle by
    * query_id; per-group state never exceeds the pool. Float→double
    * column widening is exact, so a float-vector pool scores identically.
    */
  private[graft] def mmrGreedy(pool: DataFrame, k: Int, lambdaRel: Double): DataFrame = {
    val spark = pool.sparkSession
    import spark.implicits._
    pool.groupByKey(_.getLong(0))
      .flatMapGroups { (qid, it) =>
        val cands = it.map(r =>
            (r.getLong(1), r.getSeq[Double](2).toArray, r.getDouble(3)))
          .toArray.sortBy(c => (-c._3, c._1))
        val selIds = new scala.collection.mutable.ArrayBuffer[Long]
        val selVecs = new scala.collection.mutable.ArrayBuffer[Array[Double]]
        val rows = new scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]
        var step = 1
        while (step <= k && selIds.length < cands.length) {
          var bestIdx = -1; var bestScore = 0.0
          var i = 0
          while (i < cands.length) {
            val c = cands(i)
            if (!selIds.contains(c._1)) {
              val score =
                if (selVecs.isEmpty) c._3
                else {
                  var ms = Double.NegativeInfinity
                  selVecs.foreach(s => ms = math.max(ms, round4(cosineOf(c._2, s))))
                  round4(lambdaRel * c._3 - (1 - lambdaRel) * ms)
                }
              if (bestIdx < 0 || score > bestScore ||
                  (score == bestScore && c._1 < cands(bestIdx)._1)) {
                bestIdx = i; bestScore = score
              }
            }
            i += 1
          }
          val b = cands(bestIdx)
          selIds += b._1; selVecs += b._2
          rows += ((qid, step.toLong, b._1, bestScore))
          step += 1
        }
        rows.iterator
      }
      .toDF("query_id", "rank", "vec_id", "score")
  }

  /** Spark `round(_ + 1e-9, 4)` semantics (BigDecimal HALF_UP with the
    * house midpoint nudge), for greedy steps that must agree bit-for-bit
    * with the expression path and the oracle.
    */
  /** Per-row INFERENCE parallelism must come from partitioning, not file
    * layout (the §4g single-task forward-pass bug) — but only widen when
    * the input is narrower than the cluster: at corpus scale a blanket
    * repartition is the anti-pattern (same guard as the facade's
    * `embedFrom`, Graft.scala).
    */
  private def widenForInference(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  private[graft] def round4(x: Double): Double =
    AnnGraph.round4(x + 1e-9) // same double nudge, then the shared guarded
                              // HALF_UP-at-4dp (see AnnGraph.round4)

  /** Exactly [[VecExprs.CosineSim]]'s numerics (same accumulation order,
    * same `+ 1e-10` guard) so pool scores and in-group sims live in one
    * quantization — and the driver-side kernel of the probe rule
    * ([[AnnIvf.probeIds]]).
    */
  private[graft] def cosineOf(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = a(i); val yi = b(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-10)
  }

  /** C2: LSH-bucketed ANN — 6 deterministic hyperplanes → 64 buckets;
    * candidates = same bucket as the query; exact cosine rerank within the
    * bucket. The bucket id is the join key, so at scale this is a
    * co-partitioned join over bounded candidate sets instead of a full scan
    * per query (the n² → n·(n/buckets) reduction the reference's README
    * defers to "ANN acceleration").
    */
  def annLsh(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5, planes: Int = 6, dim: Int = 64): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("bucket", VecExprs.lshBucket(col("embedding"), planes))
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"), col("bucket").as("qbucket"))
    val scored = e.join(broadcast(q), col("bucket") === col("qbucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"), col("bucket"),
        round(VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("bucket"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C1f: FILTERED batch ANN — the brute-force correctness anchor for
    * metadata-predicate vector search (the "only docs in source X / label
    * Y" shape every real RAG deployment needs): top-k cosine per query
    * restricted to corpus vectors satisfying the predicate. The filter is
    * applied scan-side (translatable predicates push to the parquet
    * source), queries stay broadcast, and
    * the ranking is the same bounded per-query window as C1 — so the whole
    * plan is "pruned scan + broadcast join + partial top-k" at any scale.
    * Fully oracle-checked (the predicate is plain SQL); the SERVED scale
    * path is [[AnnIvf.annIvfServedOver]]'s `filter` arm, spec-proven
    * row-identical to serving a pre-filtered index.
    */
  def annTopKFiltered(spark: SparkSession, sfDir: String,
                      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val scored = withCosineScore(
        e.filter(col("label") % 4 === 1), // the metadata predicate
        q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("label"), col("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("label"), col("score"))
      .orderBy("query_id", "rank")
  }

  /** C4: int8 vector quantization — per-vector symmetric scale
    * `q = round(127·x/maxabs)` — the 4× memory/IO reduction that makes a
    * 100 TB embedding corpus servable; dequantization error is bounded by
    * scale/254 per component. Exploded to scalar rows for oracle parity.
    */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("maxabs", array_max(transform(col("emb"), x => abs(x))))
    e.select(col("vec_id"), round(col("maxabs") + lit(1e-9), 6).as("scale"),
        posexplode(transform(col("emb"),
          x => when(col("maxabs") > 0, round(x * 127.0 / col("maxabs") + lit(1e-9)))
            .otherwise(lit(0.0)).cast("long"))).as(Seq("dim_idx", "qval")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"),
        col("qval"), col("scale"))
      .orderBy("vec_id", "dim_idx")
  }

  /** A2: chunk → embed pipeline, exploded to scalar rows
    * `(doc_id, chunk_idx, dim_idx, value)` so the oracle compare stays on
    * scalar columns. Embeddings via the [[graft.Embedder]] seam — the
    * default is the codegen'd deterministic HashEmbed, which is what keeps
    * this entry under the DuckDB oracle gate.
    */
  def embedChunks(spark: SparkSession, sfDir: String,
                  size: Int = 100, overlap: Int = 20, dim: Int = 64,
                  embedder: Option[graft.Embedder] = None): DataFrame = {
    embedder.getOrElse(graft.HashEmbedder(dim))
      .embedFrame(Chunker.chunkDocs(spark, sfDir, size, overlap), "chunk_text", "emb")
      .select(col("doc_id"), col("chunk_idx"),
        posexplode(col("emb")).as(Seq("dim_idx", "value")))
      .select(col("doc_id"), col("chunk_idx"), col("dim_idx").cast("long").as("dim_idx"),
        (round(col("value"), 4) + lit(0.0)).as("value"))
      .orderBy("doc_id", "chunk_idx", "dim_idx")
  }
}
