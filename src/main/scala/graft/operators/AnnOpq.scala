package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C5o: OPTIMIZED product quantization (Ge, He, Ke & Sun, CVPR 2013 —
  * OPQ, the non-parametric alternation). PQ's quantization error depends
  * on how the dimensions split into subspaces: correlated dimensions
  * landing in different subspaces quantize badly. OPQ learns an
  * ORTHOGONAL rotation R so the split quantizes better, alternating
  *
  *   (a) one warm-started k-means sweep of the sub-codebooks in the
  *       rotated space (decreases the shared objective given R — fresh
  *       re-initialization would forfeit the guarantee, hence
  *       [[AnnPq.trainAll]]'s warm-start seam), with
  *   (b) the orthogonal Procrustes rotation update: minimizing
  *       `Σ ‖R·x − ŷ‖²` over orthogonal R given the reconstructions ŷ is
  *       maximizing `tr(R·A)` with `A = Σ x·ŷᵀ`, solved by `R = V·Uᵀ`
  *       from `A = U·S·Vᵀ` (driver-local dim×dim SVD via breeze).
  *
  * Each step is non-increasing in the one objective, so the error trace
  * is MONOTONE (spec-receipted — the coordinate-descent discipline the
  * unigram trainer set), and round 0 IS plain PQ (R = identity), so the
  * final error can never exceed plain PQ's under the same budget
  * (spec-receipted against [[AnnPq]]'s own codebooks).
  *
  * Scale shape: the rotation applies scan-side ([[VecExprs.matVec]],
  * a dim×dim compiled-plan reference object — never a literal matrix);
  * codebook sweeps are [[AnnPq.trainAll]]'s one-job-per-iteration shape;
  * the Procrustes statistics are ONE `treeAggregate` of dim×dim
  * outer-product partials (32 KB of driver state at dim 64 — the
  * dim-bounded training discipline of quality_classifier); the SVD is a
  * 64×64 driver-local call. Serving is plain PQ's ADC with queries
  * rotated first — same serve cost, better codes. Rows-only (k-means +
  * SVD are not SQL).
  */
object AnnOpq {

  final case class OpqModel(rotation: Array[Array[Double]],
                            books: Array[Array[Array[Double]]],
                            errTrace: Array[Double])

  private def identity(dim: Int): Array[Array[Double]] =
    Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)

  /** Mean quantization error and the Procrustes statistics in ONE pass:
    * per row accumulate `‖y − ŷ‖²` and `A += x·ŷᵀ` — both dim-bounded.
    */
  private def errAndA(rows: DataFrame, books: Array[Array[Array[Double]]],
                      dim: Int, sd: Int): (Double, Array[Array[Double]]) = {
    val m = books.length
    val spark = rows.sparkSession
    val bcBooks = spark.sparkContext.broadcast(books)
    type Acc = (Array[Array[Double]], Double, Long)
    val zero: Acc = (Array.fill(dim)(new Array[Double](dim)), 0.0, 0L)
    def seqOp(acc: Acc, r: org.apache.spark.sql.Row): Acc = {
      val x = r.getSeq[Double](0)
      val y = r.getSeq[Double](1)
      val codes = r.getSeq[Int](2)
      val bk = bcBooks.value
      val yhat = new Array[Double](dim)
      var j = 0
      while (j < m) {
        val w = bk(j)(codes(j))
        var t = 0
        while (t < sd) { yhat(j * sd + t) = w(t); t += 1 }
        j += 1
      }
      var err = 0.0
      var i = 0
      while (i < dim) {
        val d = y(i) - yhat(i)
        err += d * d
        val xi = x(i)
        val row = acc._1(i)
        var k = 0
        while (k < dim) { row(k) += xi * yhat(k); k += 1 }
        i += 1
      }
      (acc._1, acc._2 + err, acc._3 + 1)
    }
    def combOp(a: Acc, b: Acc): Acc = {
      var i = 0
      while (i < dim) {
        var k = 0
        while (k < dim) { a._1(i)(k) += b._1(i)(k); k += 1 }
        i += 1
      }
      (a._1, a._2 + b._2, a._3 + b._3)
    }
    val (a, err, n) = rows.rdd.treeAggregate(zero)(seqOp, combOp)
    bcBooks.destroy()
    (if (n > 0) err / n else 0.0, a)
  }

  /** `R = V·Uᵀ` maximizing `tr(R·A)` — the orthogonal Procrustes solve. */
  private def procrustes(a: Array[Array[Double]]): Array[Array[Double]] = {
    val dim = a.length
    val bm = breeze.linalg.DenseMatrix.tabulate(dim, dim)((i, j) => a(i)(j))
    val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(bm)
    val r = vt.t * u.t
    Array.tabulate(dim, dim)((i, j) => r(i, j))
  }

  /** The alternation: `rounds` × { sweep codebooks; measure; rotate },
    * then one final sweep + measure so the returned books match the
    * returned rotation. Trace length = rounds + 1; entry 0 is plain PQ.
    */
  def trainOpq(e: DataFrame, dim: Int, m: Int, ks: Int,
               innerIters: Int, rounds: Int): OpqModel = {
    val sd = dim / m
    var r = identity(dim)
    var books: Option[Array[Array[Array[Double]]]] = None
    val trace = scala.collection.mutable.ArrayBuffer.empty[Double]
    def measure(): (Double, Array[Array[Double]]) = {
      val rot = r
      val bk = books.get
      val y = e.select(col("emb").as("x"),
        VecExprs.matVec(col("emb"), rot).as("y"))
      val codeCols = (0 until m).map(j =>
        VecExprs.centroidAssign(slice(col("y"), j * sd + 1, sd), bk(j),
          useCosine = false))
      errAndA(y.select(col("x"), col("y"), array(codeCols: _*).as("codes")),
        bk, dim, sd)
    }
    for (_ <- 0 until rounds) {
      val rot = r
      val y = e.select(col("vec_id"), VecExprs.matVec(col("emb"), rot).as("emb"))
      books = Some(AnnPq.trainAll(y, m, sd, ks, innerIters, init = books))
      val (err, a) = measure()
      trace += err
      r = procrustes(a)
    }
    val rotF = r
    val yF = e.select(col("vec_id"), VecExprs.matVec(col("emb"), rotF).as("emb"))
    books = Some(AnnPq.trainAll(yF, m, sd, ks, innerIters, init = books))
    trace += measure()._1
    OpqModel(r, books.get, trace.toArray)
  }

  private def opqManifest(spark: SparkSession, sfDir: String, m: Int, ks: Int,
                          innerIters: Int, rounds: Int): String =
    AnnStore.manifest("opq",
      Seq("m" -> m, "ks" -> ks, "iters" -> innerIters, "rounds" -> rounds,
        "dim" -> 64,
        "buckets" -> AnnPq.bucketCountFor(Tables.embeddings(spark, sfDir).count())),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** Persist the OPQ index — [[AnnPq]]'s exact layout (hash-bucketed codes
    * + vectors, books table) plus the learned `rotation/` table. The
    * vectors table stores ORIGINAL vectors (codes come from the rotated
    * space): the exact rerank scores in the original space (cosine is
    * rotation-invariant, so the semantics are identical) AND the
    * incremental-refresh diff runs natively against the embeddings table.
    */
  private def writeOpqIndexWith(spark: SparkSession, sfDir: String, path: String,
                                m: Int, ks: Int, innerIters: Int, rounds: Int,
                                manifest: String): Unit = AnnStore.releasingPinned(spark) {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .filter(col("emb").isNotNull)
    val model = trainOpq(e, 64, m, ks, innerIters, rounds)
    AnnStore.writeStaged(spark, path, manifest) { staging =>
      writeOpqContents(spark, staging,
        Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
        e, model.rotation, model.books, manifest)
    }
  }

  /** The store tables given a PINNED model — the ONE place the staged
    * layout lives (codes from the rotated slices, the raw frame riding
    * whole into the exact-rerank vectors table so derived-index payload
    * columns serve from the pruned bucket read, books + rotation): shared
    * by the trained builds and [[writeOpqIndexWithModel]], so the
    * refresh-equivalence property can never be broken by one copy
    * drifting.
    */
  private def writeOpqContents(spark: SparkSession, dir: String,
                               raw: DataFrame, e: DataFrame,
                               rot: Array[Array[Double]],
                               books: Array[Array[Array[Double]]],
                               manifest: String): Unit = {
    import spark.implicits._
    val m = books.length
    val sd = books.head.head.length
    val buckets = AnnStore.manifestInt(manifest, "buckets")
      .getOrElse(AnnPq.MinBuckets)
    val codeCols = (0 until m).map(j =>
      VecExprs.centroidAssign(
        slice(VecExprs.matVec(col("emb"), rot), j * sd + 1, sd),
        books(j), useCosine = false).as(s"c$j"))
    val bucket = pmod(col("vec_id"), lit(buckets)).cast("int")
    // the four tables are independent (codes/vectors from their own scans,
    // books/rotation from driver arrays) and land in distinct staging
    // subdirs — overlap their driver rounds (r19, guide §2.6); content is
    // byte-identical to the former sequential writes
    AnnStore.inParallel(Seq(
      () => e.select(col("vec_id") +: codeCols :+ bucket.as("cid"): _*)
        .write.partitionBy("cid").parquet(dir + "/codes"),
      () => raw.withColumn("cid", pmod(col("vec_id"), lit(buckets)).cast("int"))
        .write.partitionBy("cid").parquet(dir + "/vectors"),
      () => books.zipWithIndex.flatMap { case (book, j) =>
        book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
      }.toSeq.toDF("j", "cid", "centroid").coalesce(1)
        .write.parquet(dir + "/books"),
      () => rot.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
        .toDF("i", "r").coalesce(1).write.parquet(dir + "/rotation")))
  }

  /** Pinned-model full rewrite (stored rotation + books, no training) —
    * the refresh-equivalence property's comparison primitive.
    */
  private[graft] def writeOpqIndexWithModel(spark: SparkSession, sfDir: String,
                                            path: String,
                                            rot: Array[Array[Double]],
                                            books: Array[Array[Array[Double]]],
                                            manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      val e = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .filter(col("emb").isNotNull)
      AnnStore.writeStaged(spark, path, manifest) { staging =>
        writeOpqContents(spark, staging,
          Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
          e, rot, books, manifest)
      }
    }

  private[graft] def readStoredRotation(spark: SparkSession, path: String)
      : Array[Array[Double]] = readRotation(spark, path)

  /** Build over an arbitrary `(vec_id, embedding, payload...)` frame —
    * the derived-index path: rotation + books trained on the frame,
    * payload riding the exact-rerank vectors table.
    */
  private[graft] def writeOpqIndexOver(spark: SparkSession, e0: DataFrame,
                                       path: String, m: Int, ks: Int,
                                       innerIters: Int, rounds: Int,
                                       manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      val raw = AnnStore.trackedCheckpoint(e0)
      val e = raw
        .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
        .filter(col("emb").isNotNull)
      val model = trainOpq(e, 64, m, ks, innerIters, rounds)
      AnnStore.writeStaged(spark, path, manifest) { staging =>
        writeOpqContents(spark, staging, raw, e, model.rotation, model.books,
          manifest)
      }
    }

  def ensureOpqIndex(spark: SparkSession, sfDir: String, path: String,
                     m: Int = 8, ks: Int = 16, innerIters: Int = 2,
                     rounds: Int = 2): Unit = {
    val manifest = opqManifest(spark, sfDir, m, ks, innerIters, rounds)
    AnnStore.ensureIndex(spark, path, manifest) {
      writeOpqIndexWith(spark, sfDir, path, m, ks, innerIters, rounds, manifest)
    }
  }

  private def readRotation(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path + "/rotation").orderBy("i").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Incremental maintenance — [[AnnPq.refreshPqIndex]]'s shape with the
    * stored ROTATION pinned alongside the stored books: dirty buckets'
    * codes recompute as `assign(slice(R·x))`, vectors rewrite as-is. A
    * param change (incl. the corpus-derived bucket count) or drift past
    * the bound rebuilds, which RETRAINS the rotation — a stale rotation
    * degrades codes exactly like stale codebooks.
    */
  def refreshOpqIndex(spark: SparkSession, sfDir: String, path: String,
                      m: Int = 8, ks: Int = 16, innerIters: Int = 2,
                      rounds: Int = 2, driftBound: Double = 0.3): DataFrame = {
    val manifest = opqManifest(spark, sfDir, m, ks, innerIters, rounds)
    val buckets = AnnStore.manifestInt(manifest, "buckets")
      .getOrElse(AnnPq.MinBuckets)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("cid", pmod(col("vec_id"), lit(buckets)).cast("int")),
      rewrite = (affected, rows) => {
        val books = AnnPq.readBooks(spark, path)
        val rot = readRotation(spark, path)
        val sd = books.head.head.length
        val codeCols = books.indices.map(j =>
          VecExprs.centroidAssign(
            slice(VecExprs.matVec(col("emb"), rot), j * sd + 1, sd),
            books(j), useCosine = false).as(s"c$j"))
        // null embeddings are excluded from codes/ in the full build
        // ([[writeOpqIndexWith]]'s `emb.isNotNull` filter) — mirror it here
        // so a refreshed store stays content-identical to a cold rebuild
        val enc = rows.filter(col("embedding").isNotNull)
          .withColumn("emb", col("embedding").cast("array<double>"))
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
      fullBuild = () =>
        writeOpqIndexWith(spark, sfDir, path, m, ks, innerIters, rounds, manifest),
      driftBound = driftBound)
  }

  def compactOpqIndex(spark: SparkSession, path: String,
                      targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("codes", "vectors"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("opq", sfDir)

  /** Serving: ADC over the stored OPQ codes with the QUERY rotated by the
    * stored rotation (scan-side `matVec`), exact rerank in the ORIGINAL
    * space — row-identical to the in-query [[annOpq]] (spec-asserted).
    */
  def annOpqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                   topK: Int = 5, rerank: Int = 50): DataFrame = {
    val vectors = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    annOpqServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("emb").as("qv")),
      topK, rerank, excludeSelf = true)
  }

  def annOpqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                       topK: Int = 5, rerank: Int = 50,
                       excludeSelf: Boolean = false): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("codes", "vectors"))
    val books = AnnStore.memoizedRead(spark, indexPath, "books")(
      AnnPq.readBooks(spark, indexPath))
    val rot = AnnStore.memoizedRead(spark, indexPath, "rotation")(
      readRotation(spark, indexPath))
    val m = books.length
    val sd = books.head.head.length
    require(m * sd == rot.length,
      s"OPQ index at $indexPath: books are $m x $sd but rotation dim ${rot.length}")
    val codes = spark.read.parquet(indexPath + "/codes")
    val vectors = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c =>
        VecExprs.dotProd(slice(col("qy"), j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
    // tracked for the same reason as AnnPq's serve checkpoint (a
    // releasingPinned facade caller releases it after consuming)
    val q = AnnStore.trackedCheckpoint(queries
      .select(col("query_id") +: col("qv") +:
        VecExprs.matVec(col("qv"), rot).as("qy") +: tableCols: _*)
      .drop("qy"))
    val pqScore = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = codes.crossJoin(broadcast(q))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
      else joined).withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    vectors.join(broadcast(cands.drop("qv")), "vec_id")
      .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
  }

  /** Driver query C5o — the [[AnnPq.annPq]] shape with the learned
    * rotation: rotate scan-side, ADC over the OPQ codes, exact rerank of
    * the candidate pool (scores in the ORIGINAL space — the rotation is
    * orthogonal, so cosine is invariant and results compare 1:1 with
    * every other ANN arm).
    */
  def annOpq(spark: SparkSession, sfDir: String, nQueries: Int = 10,
             topK: Int = 5, m: Int = 8, ks: Int = 16, innerIters: Int = 2,
             rounds: Int = 2, rerank: Int = 50): DataFrame = {
    val dim = 64
    val sd = dim / m
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .filter(col("emb").isNotNull)
    val model = trainOpq(e, dim, m, ks, innerIters, rounds)
    val books = model.books
    val rot = model.rotation
    val rotated = e.select(col("vec_id"), col("emb"),
      VecExprs.matVec(col("emb"), rot).as("y"))
    val codeCols = (0 until m).map(j =>
      VecExprs.centroidAssign(slice(col("y"), j * sd + 1, sd), books(j),
        useCosine = false).as(s"c$j"))
    val enc = rotated.select(col("vec_id") +: col("emb") +: codeCols: _*)
    val tableCols = (0 until m).map { j =>
      array(books(j).map(c =>
        VecExprs.dotProd(slice(col("qy"), j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
    val q = rotated.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: col("emb").as("qv") +:
        col("y").as("qy") +: tableCols: _*)
      .drop("qy")
    val pqScore = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val approx = enc.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col("vec_id").asc)
    val cands = approx.withColumn("arank", row_number().over(wA))
      .filter(col("arank") <= rerank)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    cands
      .withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
  }
}
