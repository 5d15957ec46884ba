package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) approximate nearest neighbor — the third
  * classic ANN scale path next to C2's LSH and C3's IVF (the "ANN
  * acceleration" the reference defers, reference: README.md:32). PQ is the
  * memory-side story: a 64-dim float vector (256 B) compresses to m=8
  * one-byte codes, so a 100 TB embedding corpus's codes fit in a fraction
  * of cluster RAM while search runs over the codes.
  *
  * Train: per-subspace k-means (m subspaces × ks centroids, deterministic
  * init from the first ks vectors, fixed iterations) — like C3, only the
  * m·ks·(dim/m) codebook matrix ever crosses to the driver.
  *
  * Serve (ADC — asymmetric distance computation): each query precomputes a
  * per-subspace table of dot products against the ks centroids (an m×ks
  * array literal inside the plan); the approximate score of a vector is the
  * sum of m table lookups by its codes — no float vector is touched until
  * the exact rerank of the small candidate pool.
  *
  * No DuckDB oracle (k-means); driver records rows-only; the spec bounds
  * recall against the brute-force C1 baseline.
  */
object AnnPq {

  /** argmin-L2 centroid id: argmax(<x,c> − ||c||²/2). Codebook rides as a
    * plan reference object — see AnnIvf.nearestCentroid for why literals
    * would force a Janino recompile per training iteration.
    */
  private def l2Assign(sub: Column, cents: Array[Array[Double]]): Column =
    VecExprs.centroidAssign(sub, cents, useCosine = false)

  /** Lloyd's iterations for ALL m subspaces in one pass per iteration: the
    * (vec_id, subspace, subvector) frame is built once and each iteration is
    * a single assign+aggregate job whose per-row CASE dispatches to that
    * subspace's codebook — m× fewer Spark jobs than training subspaces
    * one at a time, which dominates wall-clock for small-dim codebooks.
    * Returns books(j) = ks×(dim/m) codebook of subspace j; only the
    * m·ks·(dim/m) matrix crosses to the driver per iteration.
    */
  def trainAll(e: DataFrame, m: Int, sd: Int, ks: Int,
               iters: Int,
               init: Option[Array[Array[Array[Double]]]] = None): Array[Array[Array[Double]]] = {
    val subs = e.select(col("vec_id"),
        posexplode(array((0 until m).map(j =>
          slice(col("emb"), j * sd + 1, sd)): _*)).as(Seq("j", "s")))
      .cache()
    // deterministic init: subvectors of the first ks vectors — unless the
    // caller WARM-starts (OPQ's alternation: after a rotation update the
    // previous codebooks are still valid points in the rotated space, and
    // a fresh init would forfeit the monotone-objective guarantee)
    var books: Array[Array[Array[Double]]] = init.getOrElse {
      val seed = e.filter(col("vec_id") < ks).orderBy("vec_id").collect()
        .map(_.getSeq[Double](1).toArray)
      (0 until m).map(j => seed.map(v => v.slice(j * sd, j * sd + sd))).toArray
    }
    for (_ <- 0 until iters) {
      val assign = VecExprs.pqAssign(col("s"), col("j"), books)
      // centroid update via the fixed-dim VecMean aggregate (primitive
      // buffer → HashAggregate + codegen) — see AnnIvf.train
      val updated = subs.withColumn("cid", assign)
        .groupBy("j", "cid").agg(graft.plans.VecAgg.vecMeanFixed(col("s"), sd).as("mean"))
        .collect()
      // a null subvector yields a null cid/mean group — never a codeword
      val byCell = updated.filter(r => !r.isNullAt(1) && !r.isNullAt(2))
        .map(r => (r.getAs[Int]("j"), r.getAs[Int]("cid")) -> r.getSeq[Double](2)).toMap
      books = books.indices.map { j =>
        books(j).indices.map { i =>
          byCell.get((j, i)).map(_.toArray).getOrElse(books(j)(i))
        }.toArray
      }.toArray
    }
    subs.unpersist()
    books
  }

  /** The flat store's rewrite unit: `cid = pmod(vec_id, buckets)` — a pure
    * hash bucket, NOT a quantizer cell. A flat code table has no natural
    * partition; bucketing by vec_id gives the incremental-refresh dispatch
    * (AnnStore.refreshIndex) a bounded delete+append target, so a corpus
    * trickle rewrites ~|dirty|/buckets of the store instead of retraining
    * and rewriting all of it.
    *
    * The bucket count is DERIVED from the corpus size at manifest time
    * (recorded in the manifest; every reader honors the stored value), so
    * the rewrite unit stays ~[[TargetVectorsPerBucket]] vectors as the
    * corpus grows — the "grows with the corpus the same way IVF's k does"
    * promise, as code. Rounded up to a power of two so the count only
    * changes at geometric corpus-growth points: each threshold crossing is
    * a `full_params` rebuild (pmod re-shards every bucket), which is only
    * amortizable if the corpus roughly doubled since the last one — a
    * linear rule would rebuild every TargetVectorsPerBucket added rows.
    */
  private[graft] val MinBuckets = 16

  /** ~1M vectors/bucket: at dim 64 that is ~8 MB of codes and ~256 MB of
    * raw vectors per bucket — a sane parquet partition either way.
    */
  private[graft] val TargetVectorsPerBucket = 1L << 20

  private[graft] def bucketCountFor(nVectors: Long): Int = {
    val want = math.max(1L,
      (nVectors + TargetVectorsPerBucket - 1) / TargetVectorsPerBucket)
    math.max(MinBuckets, java.lang.Long.highestOneBit(want * 2 - 1)).toInt
  }

  private def bucketCol(buckets: Int): Column =
    pmod(col("vec_id"), lit(buckets)).cast("int")

  /** Persist the PQ index: the per-vector codes (the compressed
    * representation a 100 TB corpus keeps hot), the m×ks codebooks, and the
    * raw vectors for the exact rerank of the small candidate pool — staged
    * and manifest-stamped like every persisted store. Codes and vectors are
    * separate tables on purpose: the ADC scan touches ONLY the codes (m
    * bytes/vector); the float vectors are joined in for the rerank pool
    * alone (nQueries × rerank rows). Both tables are partitioned by the
    * corpus-derived hash bucket ([[bucketCountFor]], recorded in the
    * manifest — see [[manifestBuckets]]) — the refresh path's rewrite unit.
    */
  def writePqIndex(spark: SparkSession, sfDir: String, path: String,
                   m: Int = 8, ks: Int = 16, iters: Int = 3): Unit =
    writePqIndexWith(spark, sfDir, path, m, ks, iters,
      pqManifest(spark, sfDir, m, ks, iters))

  /** Staged write with the caller-computed manifest — the gate computes the
    * corpus fingerprint once and threads it here, so the stamp always
    * describes the corpus the gate checked (see AnnIvf's twin).
    */
  private def writePqIndexWith(spark: SparkSession, sfDir: String, path: String,
                               m: Int, ks: Int, iters: Int,
                               manifest: String): Unit = AnnStore.releasingPinned(spark) {
    import spark.implicits._
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .cache()
    // the manifest's dim claim must describe the DATA, not a constant —
    // otherwise the serving-side m*sd==dim check can never catch a
    // differently-dimensioned corpus
    val dimRow = e.select(size(col("emb"))).limit(1).collect()
    require(dimRow.nonEmpty,
      s"PQ build: embeddings corpus at $sfDir is empty — nothing to index")
    val dim = dimRow.head.getInt(0)
    require(dim == Dim && dim % m == 0,
      s"PQ build: corpus dim $dim must equal manifest dim $Dim and divide by m=$m")
    val sd = dim / m
    val buckets = manifestBuckets(manifest)
    val books = trainAll(e, m, sd, ks, iters)
    AnnStore.writeStaged(spark, path, manifest) { staging =>
      writePqContents(spark, staging,
        Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
        e, books, buckets)
    }
    e.unpersist()
  }

  /** The store tables given PINNED books (no training) — shared by the
    * trained build and [[writePqIndexWithBooks]].
    */
  private def writePqContents(spark: SparkSession, dir: String, raw: DataFrame,
                              e: DataFrame,
                              books: Array[Array[Array[Double]]],
                              buckets: Int): Unit = {
    import spark.implicits._
    val m = books.length
    val sd = books.head.head.length
    val codeCols = (0 until m).map(j =>
      l2Assign(slice(col("emb"), j * sd + 1, sd), books(j)).as(s"c$j"))
    e.select(col("vec_id") +: codeCols :+ bucketCol(buckets).as("cid"): _*)
      .write.partitionBy("cid").parquet(dir + "/codes")
    // the raw frame rides whole — payload columns (a derived chunk
    // index's metadata) land in the exact-rerank table for free
    raw.withColumn("cid", bucketCol(buckets))
      .write.partitionBy("cid").parquet(dir + "/vectors")
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("j", "cid", "centroid").coalesce(1)
      .write.parquet(dir + "/books")
  }

  /** Build over an arbitrary `(vec_id, embedding, payload...)` frame —
    * the derived-index path ([[AnnIvf.writeIndexOver]]'s twin): payload
    * columns ride the vectors table so a facade consumer can serve result
    * metadata from the pruned bucket read.
    */
  private[graft] def writePqIndexOver(spark: SparkSession, e0: DataFrame,
                                      path: String, m: Int, ks: Int,
                                      iters: Int, manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      val e = AnnStore.trackedCheckpoint(e0)
      val emb = e.select(col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      val sd = 64 / m
      val books = trainAll(emb, m, sd, ks, iters)
      AnnStore.writeStaged(spark, path, manifest) { staging =>
        writePqContents(spark, staging, e, emb, books,
          manifestBuckets(manifest))
      }
    }

  /** Pinned-books full rewrite — [[AnnIvf.writeIndexOverWithCentroids]]'s
    * twin: the primitive the refresh-equivalence property is stated
    * against (an incrementally refreshed store must equal this, given the
    * stored books).
    */
  private[graft] def writePqIndexWithBooks(spark: SparkSession, sfDir: String,
                                           path: String,
                                           books: Array[Array[Array[Double]]],
                                           buckets: Int,
                                           manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      AnnStore.writeStaged(spark, path, manifest) { staging =>
        writePqContents(spark, staging,
          Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
          e, books, buckets)
      }
    }

  /** Incremental maintenance of the flat PQ store, riding the shared
    * AnnStore.refreshIndex dispatch like the IVF/graph/IVFADC stores
    * (reference: src/indexer.ts:413-511 — keep the index live): the stored
    * CODEBOOKS stay pinned, the diff runs against the bucketed /vectors
    * table, and only the affected buckets' codes and vectors are recomputed
    * (codes from the pinned books) and rewritten. The bucket id is a pure
    * function of vec_id, so a row can never migrate buckets and change
    * detection needs only the embedding payload. Full retrain on missing
    * store / param change / drift past the bound (stale codebooks degrade
    * ADC quality the same way stale centroids degrade IVF recall).
    */
  def refreshPqIndex(spark: SparkSession, sfDir: String, path: String,
                     m: Int = 8, ks: Int = 16, iters: Int = 3,
                     driftBound: Double = 0.3): DataFrame = {
    val manifest = pqManifest(spark, sfDir, m, ks, iters)
    // params only match when the stored bucket count equals the current
    // manifest's, so assignNew's bucket rule is the STORE's own layout
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("cid", bucketCol(manifestBuckets(manifest))),
      rewrite = (affected, rows) => {
        val books = readBooks(spark, path)
        val sd = books.head.head.length
        val codeCols = books.indices.map(j =>
          l2Assign(slice(col("emb"), j * sd + 1, sd), books(j)).as(s"c$j"))
        // rows arrive materialized (dispatch localCheckpoint) — safe to
        // delete the very partitions they were diffed from
        val enc = rows.withColumn("emb", col("embedding").cast("array<double>"))
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes/cid=$c"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        enc.select(col("vec_id") +: codeCols :+ col("cid"): _*)
          .write.mode("append").partitionBy("cid").parquet(path + "/codes")
        rows.select(col("vec_id"), col("embedding"), col("cid"))
          .write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => writePqIndexWith(spark, sfDir, path, m, ks, iters, manifest),
      driftBound = driftBound)
  }

  /** Compact the flat-PQ store's bucketed codes and vectors tables
    * ([[AnnStore.compactIndex]]) after incremental refreshes.
    */
  def compactPqIndex(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("codes", "vectors"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("pq", sfDir)

  /** The embeddings tables' vector dimensionality (TESTDATA.md) — recorded in
    * the manifest so a serve against a differently-dimensioned build fails
    * loudly instead of mis-slicing query subvectors.
    */
  private val Dim = 64

  /** The manifest records the corpus-derived bucket count; a corpus growing
    * past the next power-of-two threshold changes it, so the refresh
    * dispatch routes to `full_params` (pmod re-shards every row — there IS
    * no incremental path across a bucket-count change) exactly when the
    * rewrite-unit bound would otherwise degrade. The count() is a parquet
    * footer read — metadata-priced, like the fingerprint listing beside it.
    */
  private def pqManifest(spark: SparkSession, sfDir: String,
                         m: Int, ks: Int, iters: Int): String =
    AnnStore.manifest("pq",
      Seq("m" -> m, "ks" -> ks, "iters" -> iters, "dim" -> Dim,
        "buckets" -> bucketCountFor(Tables.embeddings(spark, sfDir).count())),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** The stored bucket count — every writer/refresher derives it from the
    * manifest it is stamping/honoring, never recomputes it from the corpus,
    * so the partition layout and its stamp can never disagree.
    */
  private def manifestBuckets(manifest: String): Int =
    AnnStore.manifestInt(manifest, "buckets").getOrElse(MinBuckets)

  /** Freshness-gated build-once for the persisted PQ layout. The fingerprint
    * is computed once here and reused for the stamp.
    */
  def ensurePqIndex(spark: SparkSession, sfDir: String, path: String,
                    m: Int = 8, ks: Int = 16, iters: Int = 3): Unit = {
    val manifest = pqManifest(spark, sfDir, m, ks, iters)
    AnnStore.ensureIndex(spark, path, manifest) {
      writePqIndexWith(spark, sfDir, path, m, ks, iters, manifest)
    }
  }

  private[graft] def readBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path + "/books").orderBy("j", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray

  /** Serving-path C5: ADC over the persisted codes, row-identical to the
    * in-query [[annPq]] (spec-asserted) with per-subspace training amortized
    * into the index build. The approximate pass scans ONLY the code table
    * (m small ints per vector — the compressed form that fits cluster RAM
    * at 100 TB); the float vectors are joined in for the bounded rerank
    * pool alone, with the pool side broadcast.
    */
  def annPqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                  topK: Int = 5, rerank: Int = 50): DataFrame = {
    val vectors = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    annPqServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("qv")),
      topK, rerank, excludeSelf = true)
  }

  /** The production serving shape: ADC + exact rerank for an arbitrary
    * bounded query frame `queries` = (query_id: long, qv: array&lt;double&gt;).
    * `excludeSelf` is only for corpus-vector queries (the driver-entry
    * contract); external callers leave it false. The stored manifest's `dim`
    * is validated against the codebooks so a serve against a
    * differently-dimensioned build fails loudly instead of mis-slicing.
    */
  def annPqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                      topK: Int = 5, rerank: Int = 50,
                      excludeSelf: Boolean = false): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("codes", "vectors"))
    val books = AnnStore.memoizedRead(spark, indexPath, "books")(
      readBooks(spark, indexPath))
    val m = books.length
    val sd = books.head.head.length
    for (manifest <- AnnStore.readManifest(spark, indexPath);
         dim <- AnnStore.manifestInt(manifest, "dim"))
      require(m * sd == dim,
        s"PQ index at $indexPath: books are $m x sub-dim $sd but manifest dim=$dim")
    val codes = spark.read.parquet(indexPath + "/codes")
    val vectors = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c =>
        VecExprs.dotProd(slice(col("qv"), j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
    // checkpointed: bounded (nQueries rows) and used twice (ADC broadcast +
    // rerank join) with the m×ks table expressions in its lineage.
    // TRACKED so a releasingPinned caller (the facade's kind knob, which
    // consumes before its scope closes) releases it — a raw checkpoint
    // here pinned one block per serve call for the session's lifetime
    val q = AnnStore.trackedCheckpoint(
      queries.select(col("query_id") +: col("qv") +: tableCols: _*))
    val pqScore = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = codes.crossJoin(broadcast(q))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id")).orderBy(col("pq_score").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA)).filter(col("arank") <= rerank)
    val wE = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    vectors.join(broadcast(cands.drop("qv")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
  }

  /** C5: PQ-ADC search for the first `nQueries` vectors: approximate by
    * code-table lookups, exact-rerank the top `rerank` candidates.
    */
  def annPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, topK: Int = 5,
            m: Int = 8, ks: Int = 16, iters: Int = 3, rerank: Int = 50): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .cache()
    val dim = 64
    val sd = dim / m
    val books = trainAll(e, m, sd, ks, iters)
    // training's collect-driven loop was the only cache consumer; the
    // encode/query plans below re-read the (pruned, small) parquet instead
    // of pinning executor storage for the rest of the session
    e.unpersist()

    // encode every vector as m small codes (the compressed representation)
    val codeCols = (0 until m).map(j =>
      l2Assign(slice(col("emb"), j * sd + 1, sd), books(j)).as(s"c$j"))
    val enc = e.select(col("vec_id") +: col("emb") +: codeCols: _*)

    // per-query ADC tables: dot(query subvector, centroid) for every
    // (subspace, centroid) — an m×ks in-plan array computed once per query row
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c =>
        VecExprs.dotProd(slice(col("qv"), j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: col("emb").as("qv") +: tableCols: _*)

    // approximate score = Σ_j t_j[c_j]; broadcast the nQueries-row side
    val pqScore = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val approx = enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id")).orderBy(col("pq_score").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA)).filter(col("arank") <= rerank)

    // exact rerank of the candidate pool only
    val wE = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    cands
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
  }
}
