package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C4q: SQ8 scalar-quantized ANN — brute-force serving over the int8
  * max-abs quantized corpus (the C4 `embed_quantize` artifacts), queries
  * kept full-precision (ASYMMETRIC distance, the SQ convention every
  * vector store ships as its cheapest compression tier).
  *
  * Unlike the trained compression arms (PQ/OPQ/IVFADC — k-means
  * codebooks, rows-only by design), SQ8's encode is closed-form
  * (`round(x·127/maxabs)`), so quantize → dequantize → score is fully
  * deterministic arithmetic and this is the one compressed-serving arm
  * that runs under the DuckDB hash gate end-to-end. The dequantized
  * value rides the STORED artifacts exactly: `qval · scale / 127` with
  * `scale` the 6 dp-rounded per-vector max-abs the C4 driver query
  * persists — serving reads nothing the quantized store doesn't hold.
  *
  * Scale: the quantized corpus is a 4× smaller scan than float32 (the
  * point of SQ8 at 100 TB); scoring stays one broadcast-queries pass
  * with per-partition top-k, the C1 batch shape. AnnSqSpec bounds the
  * quantization error and the recall vs the exact C1 ranking.
  */
object AnnSq {

  /** Dequantized corpus vectors: `(vec_id, demb)` with
    * demb[i] = round(x_i·127/maxabs + 1e-9) · round(maxabs+1e-9, 6) / 127
    * — [[RagSearch.embedQuantize]]'s encode followed by its exact decode.
    */
  private[graft] def dequantized(e: DataFrame): DataFrame =
    e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .withColumn("maxabs", array_max(transform(col("emb"), x => abs(x))))
      .select(col("vec_id"),
        transform(col("emb"), x =>
          when(col("maxabs") > 0, round(x * 127.0 / col("maxabs") + lit(1e-9)))
            .otherwise(lit(0.0))
            * round(col("maxabs") + lit(1e-9), 6) / 127.0).as("embedding"))

  /** C4q: the C1 batch ANN over the SQ8-dequantized corpus — same query
    * set, same rank/tie/round conventions, so recall against C1 is an
    * apples-to-apples compression receipt.
    */
  def annSq8(spark: SparkSession, sfDir: String,
             nQueries: Int = 10, k: Int = 5): DataFrame = {
    val e = Tables.embeddings(spark, sfDir)
    val q = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    rankFrom(dequantized(e), q, k)
  }

  private def rankFrom(corpus: DataFrame, q: DataFrame, k: Int): DataFrame = {
    val scored = RagSearch.withCosineScore(corpus, q, "score", nudged = false)
      .select(col("query_id"), col("vec_id"), col("score"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  // ---------------------------------------------------------------- store

  /** The persisted SQ8 store: ONE table `vectors/` holding
    * `(vec_id, qvals int8[], scale, cid)` — the quantized representation
    * IS the store (no raw-float table; that 4× cut is SQ8's point), cid
    * a corpus-derived hash bucket ([[AnnPq.bucketCountFor]], the flat
    * store's rewrite-unit rule, single-sourced). Because the encode is
    * closed-form there is NO trained model to pin: incremental refresh is
    * just re-quantizing the dirty rows, and the diff compares QUANTIZED
    * payloads — a corpus edit too small to move any int8 code leaves the
    * store byte-identical and correctly restamps instead of rewriting.
    */
  private def quantize(e: DataFrame, buckets: Int): DataFrame = {
    // payload columns (a derived chunk index's metadata) pass through —
    // the int8 cut drops the FLOAT table, not the serving metadata
    val payload = e.columns
      .filterNot(c => c == "vec_id" || c == "embedding").map(col)
    e.withColumn("emb", col("embedding").cast("array<double>"))
      .withColumn("maxabs", array_max(transform(col("emb"), x => abs(x))))
      .select(col("vec_id") +:
        transform(col("emb"), x =>
          when(col("maxabs") > 0, round(x * 127.0 / col("maxabs") + lit(1e-9)))
            .otherwise(lit(0.0)).cast("byte")).as("qvals") +:
        round(col("maxabs") + lit(1e-9), 6).as("scale") +:
        payload.toSeq :+
        pmod(col("vec_id"), lit(buckets)).cast("int").as("cid"): _*)
  }

  /** Build over an arbitrary `(vec_id, embedding, payload...)` frame —
    * the derived-index path: quantized vectors plus riding metadata.
    */
  private[graft] def writeSqIndexOver(spark: SparkSession, e: DataFrame,
                                      path: String, manifestStr: String): Unit =
    AnnStore.writeStaged(spark, path, manifestStr) { staging =>
      quantize(e, AnnPq.manifestBuckets(manifestStr))
        .write.partitionBy("cid").parquet(staging + "/vectors")
    }

  private val Dim = 64

  private def sqManifest(spark: SparkSession, sfDir: String): String =
    AnnStore.manifest("sq8",
      Seq("dim" -> Dim,
        "buckets" -> AnnPq.bucketCountFor(Tables.embeddings(spark, sfDir).count())),
      AnnStore.corpusFingerprint(spark, sfDir))

  private def writeSqIndexWith(spark: SparkSession, sfDir: String,
                               path: String, manifestStr: String): Unit =
    AnnStore.writeStaged(spark, path, manifestStr) { staging =>
      quantize(Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), col("embedding")),
        AnnPq.manifestBuckets(manifestStr))
        .write.partitionBy("cid").parquet(staging + "/vectors")
    }

  /** Freshness-gated build-once for the persisted SQ8 layout. */
  def ensureSqIndex(spark: SparkSession, sfDir: String, path: String): Unit = {
    val m = sqManifest(spark, sfDir)
    AnnStore.ensureIndex(spark, path, m) {
      writeSqIndexWith(spark, sfDir, path, m)
    }
  }

  /** Incremental maintenance under the shared [[AnnStore.refreshIndex]]
    * dispatch — `assignNew` re-quantizes (closed-form, nothing to pin),
    * the rewrite unit is the hash bucket.
    */
  def refreshSqIndex(spark: SparkSession, sfDir: String, path: String,
                     driftBound: Double = 0.3): DataFrame = {
    val manifest = sqManifest(spark, sfDir)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => quantize(
        Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding")),
        AnnPq.manifestBuckets(manifest)),
      rewrite = (affected, rows) => {
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        // write ALL columns (not a hardcoded list): quantize passes payload
        // columns through, and a hardcoded select would silently drop a
        // payload-carrying store's metadata on refresh
        rows.write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => writeSqIndexWith(spark, sfDir, path, manifest),
      driftBound = driftBound)
  }

  def compactSqIndex(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("vectors"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("sq8", sfDir)

  /** C4qs: serving from the persisted store — dequantize scan-side
    * (`qval·scale/127`, the identical ieee expression the in-plan arm
    * computes), score full-precision queries asymmetrically. Value-
    * identical to [[annSq8]] by construction, so it rides the same
    * DuckDB oracle: a store↔scorer drift fails the hash gate.
    */
  def annSq8Served(spark: SparkSession, sfDir: String, indexPath: String,
                   nQueries: Int = 10, k: Int = 5): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val corpus = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"),
        transform(col("qvals"),
          q => q.cast("double") * col("scale") / 127.0).as("embedding"))
    val q = Tables.embeddings(spark, sfDir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))
    rankFrom(corpus, q, k)
  }

  /** External-query serving over the persisted int8 store — the Over
    * contract the other families expose: `queries` = (query_id, qv),
    * scan-side dequant, full-precision asymmetric scoring.
    */
  def annSq8ServedOver(spark: SparkSession, indexPath: String,
                       queries: DataFrame, k: Int = 5): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val corpus = spark.read.parquet(indexPath + "/vectors")
      .select(col("vec_id"),
        transform(col("qvals"),
          q => q.cast("double") * col("scale") / 127.0).as("embedding"))
    rankFrom(corpus,
      queries.select(col("query_id"), col("qv").cast("array<double>").as("qv")), k)
  }
}
