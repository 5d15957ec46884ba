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
  * OPTIMIZED PQ (C5o — Ge, He, Ke & Sun, CVPR 2013) is this quantizer
  * applied after a learned ORTHOGONAL rotation R, and lives here as the
  * `rounds` knob: `rounds = 0` is plain PQ (no rotation at all — no
  * scan-side multiply, no `rotation/` table); `rounds > 0` learns R by the
  * non-parametric alternation ([[train]]). PQ's error depends on how the
  * dimensions split into subspaces; R makes the split quantize better.
  * The store says whether it rotates: a serve applies the stored
  * `rotation/` table when there is one.
  *
  * Serve (ADC — asymmetric distance computation): each query precomputes a
  * per-subspace table of dot products against the ks centroids (an m×ks
  * array literal inside the plan), over the rotated query for OPQ; the
  * approximate score of a vector is the sum of m table lookups by its
  * codes — no float vector is touched until the exact rerank of the small
  * candidate pool, which scores in the ORIGINAL space (R is orthogonal, so
  * cosine is rotation-invariant).
  *
  * No DuckDB oracle (k-means, SVD); driver records rows-only; the specs
  * bound recall against the brute-force C1 baseline.
  */
object AnnPq {

  /** A trained quantizer: the optional rotation (None = plain PQ), the
    * m×ks×(dim/m) codebooks, and — from [[train]] only — the OPQ error
    * trace (empty for plain PQ and for a stored model).
    */
  final case class PqModel(rotation: Option[Array[Array[Double]]],
                           books: Array[Array[Array[Double]]],
                           errTrace: Array[Double] = Array.empty)

  /** OPQ's training budget — the `opq` driver entries and the facade's
    * `opq` chunk store: 2 rotation rounds of 2 warm-started sweeps each.
    * Plain PQ is the signatures' defaults, `iters = 3, rounds = 0`.
    */
  val OpqIters = 2
  val OpqRounds = 2

  /** The embeddings tables' vector dimensionality (TESTDATA.md) — recorded in
    * the manifest so a serve against a differently-dimensioned build fails
    * loudly instead of mis-slicing query subvectors.
    */
  private val Dim = 64

  /** The store kind a build stamps and the default path prefix. */
  private def kindOf(rounds: Int): String = if (rounds == 0) "pq" else "opq"

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

  /** Train the quantizer over `(vec_id, emb)` rows. `rounds = 0` is plain
    * PQ: [[trainAll]] and nothing else. `rounds > 0` is OPQ's alternation,
    * `rounds` × { warm sweep the codebooks in the rotated space; measure;
    * rotate }, then one final sweep + measure so the returned books match
    * the returned rotation:
    *
    *   (a) a warm-started k-means sweep decreases the shared objective
    *       given R (a fresh re-init would forfeit the guarantee, hence
    *       [[trainAll]]'s `init` seam);
    *   (b) the orthogonal Procrustes update: minimizing `Σ ‖R·x − ŷ‖²`
    *       over orthogonal R given the reconstructions ŷ is maximizing
    *       `tr(R·A)` with `A = Σ x·ŷᵀ`, solved by `R = V·Uᵀ` from
    *       `A = U·S·Vᵀ` (driver-local dim×dim SVD via breeze).
    *
    * Each step is non-increasing in the one objective, so the error trace
    * (length rounds + 1) is MONOTONE, and its entry 0 is plain PQ's
    * (the alternation starts from R = identity), so OPQ can never end
    * worse than PQ under the same budget (both spec-receipted). Scale
    * shape: the rotation applies scan-side ([[VecExprs.matVec]], a dim×dim
    * compiled-plan reference object — never a literal matrix); the
    * Procrustes statistics are ONE `treeAggregate` of dim×dim
    * outer-product partials (32 KB of driver state at dim 64).
    */
  def train(e: DataFrame, m: Int, ks: Int, iters: Int, rounds: Int): PqModel =
    if (rounds == 0) PqModel(None, trainAll(e, m, Dim / m, ks, iters))
    else {
      val sd = Dim / m
      var r = Array.tabulate(Dim, Dim)((i, j) => if (i == j) 1.0 else 0.0)
      var books: Option[Array[Array[Array[Double]]]] = None
      val trace = scala.collection.mutable.ArrayBuffer.empty[Double]
      def sweep(): Unit = {
        val y = e.select(col("vec_id"), VecExprs.matVec(col("emb"), r).as("emb"))
        books = Some(trainAll(y, m, sd, ks, iters, init = books))
      }
      def measure(): (Double, Array[Array[Double]]) = {
        val bk = books.get
        val y = e.select(col("emb").as("x"), VecExprs.matVec(col("emb"), r).as("y"))
        val codeCols = (0 until m).map(j =>
          l2Assign(slice(col("y"), j * sd + 1, sd), bk(j)))
        errAndA(y.select(col("x"), col("y"), array(codeCols: _*).as("codes")),
          bk, Dim, sd)
      }
      for (_ <- 0 until rounds) {
        sweep()
        val (err, a) = measure()
        trace += err
        r = procrustes(a)
      }
      sweep()
      trace += measure()._1
      PqModel(Some(r), books.get, trace.toArray)
    }

  /** argmin-L2 centroid id: argmax(<x,c> − ||c||²/2). Codebook rides as a
    * plan reference object — see AnnIvf.nearestCentroid for why literals
    * would force a Janino recompile per training iteration.
    */
  private def l2Assign(sub: Column, cents: Array[Array[Double]]): Column =
    VecExprs.centroidAssign(sub, cents, useCosine = false)

  private def rotated(v: Column, rot: Option[Array[Array[Double]]]): Column =
    rot.fold(v)(VecExprs.matVec(v, _))

  /** The m code columns `c0..c{m-1}` of the double vector `emb`. */
  private def codeCols(model: PqModel, emb: Column): Seq[Column] = {
    val sd = model.books.head.head.length
    val y = rotated(emb, model.rotation)
    model.books.indices.map(j =>
      l2Assign(slice(y, j * sd + 1, sd), model.books(j)).as(s"c$j"))
  }

  /** Per-query ADC tables `t0..t{m-1}`: dot(query subvector, centroid) for
    * every (subspace, centroid) — an m×ks in-plan array per query row.
    */
  private def adcTables(model: PqModel, qv: Column): Seq[Column] = {
    val sd = model.books.head.head.length
    val qy = rotated(qv, model.rotation)
    model.books.indices.map { j =>
      array(model.books(j).map(c =>
        VecExprs.dotProd(slice(qy, j * sd + 1, sd), array(c.map(lit): _*))): _*)
        .as(s"t$j")
    }
  }

  /** The ADC candidate pool: `codes` (vec_id, c0..) against the broadcast
    * query tables `q` (query_id, qv, t0..), approximate score Σ_j t_j[c_j],
    * the top `rerank` per query by (pq_score desc, vec_id asc).
    */
  private def adcPool(codes: DataFrame, q: DataFrame, m: Int, rerank: Int,
                      excludeSelf: Boolean): DataFrame = {
    val pqScore = (0 until m).map(j =>
      element_at(col(s"t$j"), col(s"c$j").cast("int") + 1)).reduce(_ + _)
    val joined = codes.crossJoin(broadcast(q))
    val approx = (if (excludeSelf) joined.filter(col("vec_id") =!= col("query_id"))
      else joined).withColumn("pq_score", pqScore)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("pq_score").desc, col("vec_id").asc)
    approx.withColumn("arank", row_number().over(wA)).filter(col("arank") <= rerank)
  }

  /** Exact cosine rerank of a candidate pool carrying (emb, qv, pq_score):
    * the top `topK` per query by (score desc, vec_id asc).
    */
  private def reranked(pool: DataFrame, topK: Int): DataFrame = {
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    pool.withColumn("score", round(VecExprs.cosineSim(col("emb"), col("qv")), 4))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        round(col("pq_score"), 4).as("pq_score"))
      .orderBy("query_id", "rank")
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

  /** The stored bucket count of every hash-bucketed store (PQ, OPQ, SQ8,
    * their chunk twins) — writers, refreshers and the facade's hit-cell
    * rule all derive it from the manifest they stamp or honor, never from
    * the corpus, so the partition layout and its stamp can never disagree.
    */
  private[graft] def manifestBuckets(manifest: String): Int =
    AnnStore.manifestInt(manifest, "buckets").getOrElse(MinBuckets)

  /** The manifest records the corpus-derived bucket count; a corpus growing
    * past the next power-of-two threshold changes it, so the refresh
    * dispatch routes to `full_params` (pmod re-shards every row — there IS
    * no incremental path across a bucket-count change) exactly when the
    * rewrite-unit bound would otherwise degrade. The count() is a parquet
    * footer read — metadata-priced, like the fingerprint listing beside it.
    * `rounds` is recorded for OPQ stores only, so a PQ stamp keeps its
    * parameter list.
    */
  private def pqManifest(spark: SparkSession, sfDir: String, m: Int, ks: Int,
                         iters: Int, rounds: Int): String =
    AnnStore.manifest(kindOf(rounds),
      Seq("m" -> m, "ks" -> ks, "iters" -> iters) ++
        (if (rounds > 0) Seq("rounds" -> rounds) else Nil) ++
        Seq("dim" -> Dim,
          "buckets" -> bucketCountFor(Tables.embeddings(spark, sfDir).count())),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** `(vec_id, emb)` double vectors of a `(vec_id, embedding, ...)` frame;
    * null embeddings have no code and are left out.
    */
  private def vectorsOf(raw: DataFrame): DataFrame =
    raw.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .filter(col("emb").isNotNull)

  /** The `(j, cid, centroid)` books table — the one layout every
    * product-quantized store (this one and IVFADC's residual books) keeps.
    */
  private[graft] def writeBooks(spark: SparkSession, dir: String,
                                books: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("j", "cid", "centroid").coalesce(1)
      .write.parquet(dir + "/books")
  }

  /** Persist the index: the per-vector codes (the compressed representation
    * a 100 TB corpus keeps hot), the m×ks codebooks, the rotation when
    * there is one, and the raw vectors for the exact rerank of the small
    * candidate pool. Codes and vectors are separate tables on purpose: the
    * ADC scan touches ONLY the codes (m bytes/vector); the float vectors
    * are joined in for the rerank pool alone (nQueries × rerank rows). The
    * vectors table stores ORIGINAL vectors (codes come from the rotated
    * space) so the refresh diff runs natively against the embeddings
    * table, and the raw frame rides whole — payload columns (a derived
    * chunk index's metadata) land in it for free. Both tables are
    * partitioned by the corpus-derived hash bucket ([[bucketCountFor]]) —
    * the refresh path's rewrite unit. The tables are independent (codes
    * and vectors from their own scans, books and rotation from driver
    * arrays) and land in distinct subdirs, so their writes overlap.
    * Shared by the trained builds and [[writePqIndexWithModel]], so the
    * refresh-equivalence property cannot be broken by one copy drifting.
    */
  private def writeContents(spark: SparkSession, dir: String, raw: DataFrame,
                            e: DataFrame, model: PqModel, buckets: Int): Unit = {
    import spark.implicits._
    AnnStore.inParallel(Seq(
      () => e.select(col("vec_id") +: codeCols(model, col("emb")) :+
          bucketCol(buckets).as("cid"): _*)
        .write.partitionBy("cid").parquet(dir + "/codes"),
      () => raw.withColumn("cid", bucketCol(buckets))
        .write.partitionBy("cid").parquet(dir + "/vectors"),
      () => writeBooks(spark, dir, model.books)) ++
      model.rotation.map(rot => () =>
        rot.zipWithIndex.map { case (row, i) => (i, row.toSeq) }.toSeq
          .toDF("i", "r").coalesce(1).write.parquet(dir + "/rotation")))
  }

  /** Train over `raw` = `(vec_id, embedding, payload...)` and write the
    * staged store stamped with `manifest`. The data must be non-empty and
    * `Dim`-dimensional with `m` dividing it — the manifest's dim claim
    * describes the DATA, so the serving-side check can catch a
    * differently-dimensioned corpus.
    */
  private def writeTrained(spark: SparkSession, raw: DataFrame, path: String,
                           m: Int, ks: Int, iters: Int, rounds: Int,
                           manifest: String): Unit = {
    val e = vectorsOf(raw).cache()
    val dimRow = e.select(size(col("emb"))).limit(1).collect()
    require(dimRow.nonEmpty, s"PQ build for $path: empty corpus — nothing to index")
    val dim = dimRow.head.getInt(0)
    require(dim == Dim && dim % m == 0,
      s"PQ build for $path: corpus dim $dim must equal manifest dim $Dim and divide by m=$m")
    val model = train(e, m, ks, iters, rounds)
    AnnStore.writeStaged(spark, path, manifest) { staging =>
      writeContents(spark, staging, raw, e, model, manifestBuckets(manifest))
    }
    e.unpersist()
  }

  private def writeIndexWith(spark: SparkSession, sfDir: String, path: String,
                             m: Int, ks: Int, iters: Int, rounds: Int,
                             manifest: String): Unit = AnnStore.releasingPinned(spark) {
    writeTrained(spark, Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
      path, m, ks, iters, rounds, manifest)
  }

  /** Build over an arbitrary `(vec_id, embedding, payload...)` frame —
    * the derived-index path ([[AnnIvf.writeIndexOver]]'s twin): payload
    * columns ride the vectors table so a facade consumer can serve result
    * metadata from the pruned bucket read.
    */
  private[graft] def writePqIndexOver(spark: SparkSession, e0: DataFrame,
                                      path: String, m: Int, ks: Int,
                                      iters: Int, rounds: Int, manifest: String): Unit =
    AnnStore.releasingPinned(spark) {
      writeTrained(spark, AnnStore.trackedCheckpoint(e0), path, m, ks, iters, rounds,
        manifest)
    }

  /** Pinned-model full rewrite (stored rotation + books, no training) —
    * [[AnnIvf.writeIndexOverWithCentroids]]'s twin: the primitive the
    * refresh-equivalence property is stated against (an incrementally
    * refreshed store must equal this, given the stored model).
    */
  private[graft] def writePqIndexWithModel(spark: SparkSession, sfDir: String,
                                           path: String, model: PqModel,
                                           manifest: String): Unit = {
    val raw = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    AnnStore.writeStaged(spark, path, manifest) { staging =>
      writeContents(spark, staging, raw, vectorsOf(raw), model, manifestBuckets(manifest))
    }
  }

  /** Freshness-gated build-once for the persisted layout. The fingerprint
    * is computed once here and reused for the stamp.
    */
  def ensurePqIndex(spark: SparkSession, sfDir: String, path: String,
                    m: Int = 8, ks: Int = 16, iters: Int = 3, rounds: Int = 0): Unit = {
    val manifest = pqManifest(spark, sfDir, m, ks, iters, rounds)
    AnnStore.ensureIndex(spark, path, manifest) {
      writeIndexWith(spark, sfDir, path, m, ks, iters, rounds, manifest)
    }
  }

  /** Incremental maintenance, riding the shared AnnStore.refreshIndex
    * dispatch like the IVF/graph/IVFADC stores (reference:
    * src/indexer.ts:413-511 — keep the index live): the stored MODEL
    * (codebooks, and rotation when there is one) stays pinned, the diff
    * runs against the bucketed /vectors table, and only the affected
    * buckets' codes and vectors are recomputed (codes as
    * `assign(slice(R·x))` from the pinned model) and rewritten. The bucket
    * id is a pure function of vec_id, so a row can never migrate buckets
    * and change detection needs only the embedding payload. Full retrain on
    * missing store / param change (incl. the corpus-derived bucket count) /
    * drift past the bound — stale codebooks or a stale rotation degrade ADC
    * quality the same way stale centroids degrade IVF recall.
    */
  def refreshPqIndex(spark: SparkSession, sfDir: String, path: String,
                     m: Int = 8, ks: Int = 16, iters: Int = 3, rounds: Int = 0,
                     driftBound: Double = 0.3): DataFrame = {
    val manifest = pqManifest(spark, sfDir, m, ks, iters, rounds)
    // params only match when the stored bucket count equals the current
    // manifest's, so assignNew's bucket rule is the STORE's own layout
    val buckets = manifestBuckets(manifest)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding"))
        .withColumn("cid", bucketCol(buckets)),
      rewrite = (affected, rows) => {
        val model = readModel(spark, path)
        // rows arrive materialized (dispatch localCheckpoint) — safe to
        // delete the very partitions they were diffed from
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/codes/cid=$c"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        // null embeddings are left out of codes/ exactly as in the full
        // build, so a refreshed store stays content-identical to a rebuild
        rows.filter(col("embedding").isNotNull)
          .select(col("vec_id") +:
            codeCols(model, col("embedding").cast("array<double>")) :+ col("cid"): _*)
          .write.mode("append").partitionBy("cid").parquet(path + "/codes")
        rows.select(col("vec_id"), col("embedding"), col("cid"))
          .write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => writeIndexWith(spark, sfDir, path, m, ks, iters, rounds, manifest),
      driftBound = driftBound)
  }

  /** Compact the store's bucketed codes and vectors tables
    * ([[AnnStore.compactIndex]]) after incremental refreshes.
    */
  def compactPqIndex(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("codes", "vectors"), targetBytes)

  def defaultIndexPath(sfDir: String, rounds: Int = 0): String =
    AnnStore.defaultPath(kindOf(rounds), sfDir)

  private[graft] def readBooks(spark: SparkSession, path: String): Array[Array[Array[Double]]] =
    spark.read.parquet(path + "/books").orderBy("j", "cid").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3).toArray).toArray

  /** The stored model: books, and the rotation if the store has one. */
  private[graft] def readModel(spark: SparkSession, path: String): PqModel = {
    val rot = new org.apache.hadoop.fs.Path(path + "/rotation")
    PqModel(
      if (!AnnStore.fileSystem(spark, path).exists(rot)) None
      else Some(spark.read.parquet(rot.toString).orderBy("i").collect()
        .map(_.getSeq[Double](1).toArray)),
      readBooks(spark, path))
  }

  /** Serving-path C5/C5o for the first `nQueries` stored vectors (the
    * driver-entry contract: corpus-vector queries, self-match excluded).
    */
  def annPqServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                  topK: Int = 5, rerank: Int = 50): DataFrame = {
    val vectors = spark.read.parquet(indexPath + "/vectors")
    annPqServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv")),
      topK, rerank, excludeSelf = true)
  }

  /** The production serving shape: ADC + exact rerank for an arbitrary
    * bounded query frame `queries` = (query_id: long, qv: numeric array),
    * row-identical to the in-query [[annPq]] (spec-asserted) with training
    * amortized into the index build. The approximate pass scans ONLY the
    * code table (m small ints per vector — the compressed form that fits
    * cluster RAM at 100 TB); the float vectors are joined in for the bounded
    * rerank pool alone, with the pool side broadcast. `excludeSelf` is only
    * for corpus-vector queries; external callers leave it false.
    *
    * The stored model — and with it whether to rotate — is read once per
    * manifest through the serve memo, checked against the manifest's `dim`
    * (else the rotation's) so a serve against a differently-dimensioned
    * build fails loudly instead of mis-slicing. The bounded query frame is
    * collected on the driver (queries with a null `qv` are dropped) and the
    * ADC tables are built over it as a literal frame, so a serve pins no
    * block.
    */
  def annPqServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                      topK: Int = 5, rerank: Int = 50,
                      excludeSelf: Boolean = false): DataFrame = {
    import spark.implicits._
    AnnStore.healCompacted(spark, indexPath, Seq("codes", "vectors"))
    val model = AnnStore.memoizedRead(spark, indexPath, "pq_model") {
      val stored = readModel(spark, indexPath)
      val m = stored.books.length
      val sd = stored.books.head.head.length
      AnnStore.readManifest(spark, indexPath).flatMap(AnnStore.manifestInt(_, "dim"))
        .orElse(stored.rotation.map(_.length))
        .foreach(dim => require(m * sd == dim,
          s"PQ index at $indexPath: books are $m x sub-dim $sd but dim=$dim"))
      stored
    }
    val q = AnnIvf.collectQueries(queries)
      .map { case (id, qv) => (id, qv.toSeq) }.toDF("query_id", "qv")
    val pool = adcPool(spark.read.parquet(indexPath + "/codes"),
      q.select(col("query_id") +: col("qv") +: adcTables(model, col("qv")): _*),
      model.books.length, rerank, excludeSelf)
    reranked(spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .join(broadcast(pool.drop("qv")), "vec_id")
      .join(broadcast(q), "query_id"), topK)
  }

  /** C5 (`rounds = 0`) / C5o (`rounds > 0`): train in-query, then ADC
    * search for the first `nQueries` vectors — approximate by code-table
    * lookups, exact-rerank the top `rerank` candidates in the ORIGINAL
    * space (the rotation is orthogonal, so cosine is invariant and results
    * compare 1:1 with every other ANN arm).
    */
  def annPq(spark: SparkSession, sfDir: String, nQueries: Int = 10, topK: Int = 5,
            m: Int = 8, ks: Int = 16, iters: Int = 3, rounds: Int = 0,
            rerank: Int = 50): DataFrame = {
    val e = vectorsOf(Tables.embeddings(spark, sfDir)).cache()
    val model = train(e, m, ks, iters, rounds)
    // training's collect-driven loop was the only cache consumer; the
    // encode/query plans below re-read the (pruned, small) parquet instead
    // of pinning executor storage for the rest of the session
    e.unpersist()
    val enc = e.select(col("vec_id") +: col("emb") +: codeCols(model, col("emb")): _*)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id") +: col("emb").as("qv") +:
        adcTables(model, col("emb")): _*)
    reranked(adcPool(enc, q, m, rerank, excludeSelf = true), topK)
  }
}
