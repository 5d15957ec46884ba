package graft.streaming

import graft.operators.Chunker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming index build — the reference's "incremental watch mode"
  * extension idea (reference: src/index.ts:425-427) as a Structured
  * Streaming job: new corpus files are discovered by the file source,
  * chunked and embedded exactly like the batch pipeline (same Chunker and
  * HashEmbed plan fragments), and appended to a parquet index.
  *
  * Stateless narrow transforms only — no watermark or state store needed;
  * throughput is scan-bound, and the parquet sink provides exactly-once
  * per-file semantics via the checkpoint. At scale the source would be the
  * ingest bus and the sink the bucketed index table.
  */
object IndexStream {

  /** The shared streaming documents schema — NOT a local copy: a pruned
    * schema here once cost the streamed index its byte_size-based
    * file_size, silently diverging from the batch build on PDF/JSONL
    * corpora.
    */
  val docsSchema: StructType = graft.Tables.documentsStreamSchema

  def chunkEmbedStream(spark: SparkSession, sfDir: String,
                       size: Int = 100, overlap: Int = 20, dim: Int = 64,
                       glob: String = "documents.parquet",
                       embedder: Option[graft.Embedder] = None): DataFrame = {
    val docs = spark.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", glob)
      .parquet(sfDir)
    // the batch pipeline's Embedder seam, unchanged in streaming — both
    // embedder shapes are stateless narrow transforms, legal under append
    embedder.getOrElse(graft.HashEmbedder(dim))
      .embedFrame(Chunker.indexBuildFrom(docs, size, overlap), "chunk_text", "emb")
  }

  /** Run the finite input through the streaming pipeline into a parquet
    * index directory; returns the resulting index frame. Restartable: the
    * checkpoint remembers processed files, so re-running against the same
    * outDir is exactly-once (no reprocessing) and picks up only files that
    * arrived since — the spec exercises both.
    */
  def runToParquet(spark: SparkSession, sfDir: String, outDir: String,
                   glob: String = "documents.parquet",
                   embedder: Option[graft.Embedder] = None): DataFrame =
    drainToParquet(chunkEmbedStream(spark, sfDir, glob = glob,
      embedder = embedder), outDir)

  /** Shared parquet-sink drain for the finite-input streaming twins: append
    * mode, checkpoint beside the sink (exactly-once per source file),
    * blocking until the source is exhausted; returns the sunk frame.
    */
  private[streaming] def drainToParquet(stream: DataFrame, outDir: String): DataFrame = {
    val q = stream
      .writeStream
      .outputMode("append")
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", outDir + "_checkpoint")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    stream.sparkSession.read.parquet(outDir)
  }
}
