package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVFADC — the composite of C3's coarse quantizer and C5's product codes,
  * and the canonical production ANN layout at 100 TB (the "ANN structure"
  * evolution the reference names: src/index.ts:265, README.md:32). The flat
  * PQ path (C5) still scans EVERY vector's codes per query batch — O(N)
  * even though the codes are small; here the coarse quantizer prunes the
  * code scan to the probed cells (~nprobe/k of the corpus) and the PQ
  * codebooks encode RESIDUALS (x − centroid(cell)), which are tighter
  * around zero than raw vectors and quantize with less error.
  *
  *   - Build: assign vectors to cells (C3's cosine quantizer, reused),
  *     subtract each vector's cell centroid, train per-subspace codebooks
  *     on the residuals (C5's one-pass-per-iteration trainer, reused),
  *     persist codes AND vectors partitioned by cid.
  *   - Serve (ADC over residuals): a query builds one m×ks lookup table per
  *     PROBED CELL from its own residual against that cell's centroid —
  *     t_j[i] = ‖book_j(i)‖² − 2·⟨qres_j, book_j(i)⟩, the L2 expansion with
  *     the query-constant ‖qres_j‖² dropped (it cannot change the per-query
  *     ranking). Approximate distance = Σ_j t_j[code_j], ascending; the
  *     small pool then exact-reranks by cosine from the SAME pruned cells.
  *
  * Everything bounded: k·dim centroids and m·ks·(dim/m) codebooks
  * driver-side, nQueries×nprobe probe rows broadcast, and both the ADC
  * scan and the rerank read are partition-pruned. Rows-only like C3/C5
  * (k-means); the spec bounds recall vs C1 and asserts exact rerank scores
  * and partition pruning.
  */
object AnnIvfPq {

  private val Dim = 64

  private def ivfPqManifest(spark: SparkSession, sfDir: String,
                            k: Int, m: Int, ks: Int, iters: Int): String =
    AnnStore.manifest("ivfpq",
      Seq("k" -> k, "m" -> m, "ks" -> ks, "iters" -> iters, "dim" -> Dim),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** Compact the IVFADC store's cid-partitioned codes and vectors tables
    * ([[AnnStore.compactIndex]]) after incremental refreshes.
    */
  def compactIvfPqIndex(spark: SparkSession, path: String,
                        targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("codes", "vectors"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("ivfpq", sfDir)

  /** The k-row centroid matrix as a broadcastable (cid, centroid) frame for
    * the residual subtraction joins.
    */
  private def centroidFrame(spark: SparkSession,
                            centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
  }

  /** Build+persist: coarse assignment, residual codebooks, cid-partitioned
    * codes and vectors (both pruned at query time), staged+manifest-stamped
    * like every persisted store.
    */
  def writeIvfPqIndex(spark: SparkSession, sfDir: String, path: String,
                      k: Int = 16, m: Int = 8, ks: Int = 16, iters: Int = 3): Unit =
    writeIvfPqIndexWith(spark, sfDir, path, k, m, ks, iters,
      ivfPqManifest(spark, sfDir, k, m, ks, iters))

  private def writeIvfPqIndexWith(spark: SparkSession, sfDir: String, path: String,
                                  k: Int, m: Int, ks: Int, iters: Int,
                                  manifest: String): Unit = AnnStore.releasingPinned(spark) {
    import spark.implicits._
    // the manifest's dim claim must describe the DATA (see AnnPq's twin) —
    // and m must divide it, or the residual slices silently truncate
    val dimRow = Tables.embeddings(spark, sfDir)
      .select(size(col("embedding"))).limit(1).collect()
    require(dimRow.nonEmpty,
      s"IVFADC build: embeddings corpus at $sfDir is empty — nothing to index")
    val dim = dimRow.head.getInt(0)
    require(dim == Dim && dim % m == 0,
      s"IVFADC build: corpus dim $dim must equal manifest dim $Dim and divide by m=$m")
    val sd = dim / m
    val centroids = AnnIvf.train(spark, sfDir, k)
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"),
        VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
          useCosine = true).as("cid"))
    val withRes0 = e.join(broadcast(centroidFrame(spark, centroids)), "cid")
      .withColumn("res",
        zip_with(col("embedding").cast("array<double>"), col("centroid"), (a, b) => a - b))
    val withRes = AnnStore.trackedCheckpoint(withRes0) // feeds training AND both table writes
    val books = AnnPq.trainAll(
      withRes.select(col("vec_id"), col("res").as("emb")), m, sd, ks, iters)
    AnnStore.writeStaged(spark, path, manifest) { staging =>
      writeIvfPqContents(spark, staging, withRes, centroids, books, sd)
    }
  }

  /** The store tables given PINNED models — shared by the trained build
    * and [[writeIvfPqIndexWithModels]]. `withRes` must carry
    * (vec_id, embedding, cid, res).
    */
  private def writeIvfPqContents(spark: SparkSession, dir: String,
                                 withRes: DataFrame,
                                 centroids: Array[Array[Double]],
                                 books: Array[Array[Array[Double]]],
                                 sd: Int): Unit = {
    val m = books.length
    val codeCols = (0 until m).map(j =>
      VecExprs.centroidAssign(slice(col("res"), j * sd + 1, sd), books(j),
        useCosine = false).as(s"c$j"))
    withRes.select(col("vec_id") +: codeCols :+ col("cid"): _*)
      .write.partitionBy("cid").parquet(dir + "/codes")
    // vectors come from the SAME checkpointed frame as the codes — no
    // second corpus scan+assignment, and the two tables cannot diverge
    // on row membership (a null-cid row drops from both)
    withRes.select(col("vec_id"), col("embedding"), col("cid"))
      .write.partitionBy("cid").parquet(dir + "/vectors")
    AnnPq.writeBooks(spark, dir, books)
    AnnStore.writeCentroids(spark, dir, centroids)
  }

  /** Pinned-models full rewrite (stored coarse centroids + residual
    * books, no training) — the refresh-equivalence property's comparison
    * primitive for the IVFADC store.
    */
  private[graft] def writeIvfPqIndexWithModels(spark: SparkSession, sfDir: String,
                                               path: String,
                                               centroids: Array[Array[Double]],
                                               books: Array[Array[Array[Double]]],
                                               manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      val sd = books.head.head.length
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
            useCosine = true).as("cid"))
      val withRes = AnnStore.trackedCheckpoint(
        e.join(broadcast(centroidFrame(spark, centroids)), "cid")
          .withColumn("res",
            zip_with(col("embedding").cast("array<double>"), col("centroid"),
              (a, b) => a - b)))
      AnnStore.writeStaged(spark, path, manifest) { staging =>
        writeIvfPqContents(spark, staging, withRes, centroids, books, sd)
      }
    }

  /** Freshness-gated build-once (fingerprint computed once, threaded to the
    * stamp — same contract as the other stores).
    */
  def ensureIvfPqIndex(spark: SparkSession, sfDir: String, path: String,
                       k: Int = 16, m: Int = 8, ks: Int = 16, iters: Int = 3): Unit = {
    val manifest = ivfPqManifest(spark, sfDir, k, m, ks, iters)
    AnnStore.ensureIndex(spark, path, manifest) {
      writeIvfPqIndexWith(spark, sfDir, path, k, m, ks, iters, manifest)
    }
  }

  /** Incremental maintenance, riding the shared AnnStore.refreshIndex
    * dispatch like the IVF and graph stores: stored centroids AND stored
    * codebooks stay pinned, the diff runs against the /vectors table, and
    * only the affected cells' vectors and codes are recomputed (codes from
    * the pinned books over fresh residuals) and rewritten. Full retrain on
    * missing store / param change / drift past the bound.
    */
  def refreshIvfPqIndex(spark: SparkSession, sfDir: String, path: String,
                        k: Int = 16, m: Int = 8, ks: Int = 16, iters: Int = 3,
                        driftBound: Double = 0.3): DataFrame = {
    val manifest = ivfPqManifest(spark, sfDir, k, m, ks, iters)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"),
          VecExprs.centroidAssign(col("embedding").cast("array<double>"),
            AnnStore.readCentroids(spark, path), useCosine = true).as("cid")),
      rewrite = (affected, rows) => {
        val centroids = AnnStore.readCentroids(spark, path)
        val books = AnnPq.readBooks(spark, path)
        val sd = books.head.head.length
        // rows arrive materialized (dispatch localCheckpoint) — both table
        // writes read its blocks, never the deleted source partitions
        val withRes = rows.join(broadcast(centroidFrame(spark, centroids)), "cid")
          .withColumn("res",
            zip_with(col("embedding").cast("array<double>"), col("centroid"), (a, b) => a - b))
        val codeCols = books.indices.map(j =>
          VecExprs.centroidAssign(slice(col("res"), j * sd + 1, sd), books(j),
            useCosine = false).as(s"c$j"))
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes/cid=$c"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        withRes.select(col("vec_id") +: codeCols :+ col("cid"): _*)
          .write.mode("append").partitionBy("cid").parquet(path + "/codes")
        rows.write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => writeIvfPqIndexWith(spark, sfDir, path, k, m, ks, iters, manifest),
      driftBound = driftBound)
  }

  /** Serving: probe → per-(query, cell) residual ADC tables → pruned code
    * scan → exact cosine rerank of the bounded pool, also from pruned cells.
    */
  def annIvfPqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                     topK: Int = 5, nprobe: Int = 2, rerank: Int = 50): DataFrame = {
    val vectors = spark.read.parquet(indexPath + "/vectors")
    annIvfPqServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      topK, nprobe, rerank, excludeSelf = true)
  }

  /** External-query serving shape, like the other *ServedOver twins:
    * `queries` = (query_id: long, qv: numeric array); `excludeSelf` only
    * for corpus-vector queries.
    */
  def annIvfPqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                         topK: Int = 5, nprobe: Int = 2, rerank: Int = 50,
                         excludeSelf: Boolean = false): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("codes", "vectors"))
    val centroids = AnnStore.servedCentroids(spark, indexPath)
    val books = AnnStore.memoizedRead(spark, indexPath, "books")(
      AnnPq.readBooks(spark, indexPath))
    val m = books.length
    val sd = books.head.head.length
    for (manifest <- AnnStore.readManifest(spark, indexPath);
         dim <- AnnStore.manifestInt(manifest, "dim"))
      require(m * sd == dim,
        s"IVFADC index at $indexPath: books are $m x sub-dim $sd but manifest dim=$dim")
    // the shared probe rule (AnnIvf.probeIds) — literal per (query, probed
    // cell) rows, picked on the driver from the bounded query frame
    val qs = AnnIvf.collectQueries(queries)
    val (q, cids) = AnnIvf.probeFrame(spark, qs, centroids, nprobe)
    val qr = q.join(broadcast(centroidFrame(spark, centroids)),
        col("probe_cid") === col("cid"))
      .withColumn("qres",
        zip_with(col("qv").cast("array<double>"), col("centroid"), (a, b) => a - b))
    // ADC tables per probed cell: ‖b‖² − 2⟨qres_j, b⟩, plus the per-(query,
    // cell) residual norm ‖qres‖² carried as its own column — it is NOT a
    // query constant (qres differs per probed cell; it equals the coarse
    // distance ‖q−c‖²), and dropping it would bias the pool ranking across
    // cells whenever nprobe > 1: a far cell's candidates would all score an
    // artificially low pq_dist. With it, pq_dist ≈ ‖q − (c + r̂)‖², the full
    // IVFADC estimate, comparable across cells.
    val tableCols = (0 until m).map { j =>
      array(books(j).map { c =>
        lit(c.map(x => x * x).sum) -
          lit(2.0) * VecExprs.dotProd(slice(col("qres"), j * sd + 1, sd),
            array(c.map(lit): _*))
      }: _*).as(s"t$j")
    }
    val qnorm = aggregate(col("qres"), lit(0.0), (acc, x) => acc + x * x).as("qn")
    val qt = qr.select(col("query_id") +: col("probe_cid") +: qnorm +: tableCols: _*)
    val codes = spark.read.parquet(indexPath + "/codes")
      .filter(col("cid").isin(cids: _*))
    val dist = col("qn") + (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = codes.join(broadcast(qt), col("cid") === col("probe_cid"))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id")) else joined)
      .withColumn("pq_dist", dist)
    val wA = Window.partitionBy(col("query_id")).orderBy(col("pq_dist").asc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
      .select(col("query_id"), col("vec_id"), col("pq_dist"))
    // exact rerank from the SAME pruned cells (never a full vector scan)
    val vectors = spark.read.parquet(indexPath + "/vectors")
      .filter(col("cid").isin(cids: _*))
      .select(col("vec_id"), col("embedding"))
    val wE = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    import spark.implicits._
    vectors.join(broadcast(cands), "vec_id")
      // qv pairs from the driver-side query list — the caller's queries
      // lineage is never executed a second time
      .join(broadcast(qs.map { case (id, qv) => (id, qv.toSeq) }.toDF("query_id", "qv")),
        "query_id")
      .withColumn("score", round(VecExprs.cosineSim(col("embedding"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_dist"), 4).as("pq_dist"))
      .orderBy("query_id", "rank")
  }
}
