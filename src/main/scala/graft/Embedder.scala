package graft

import graft.plans.VecExprs
import graft.plans.VecExprs.HashEmbedAlg
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** The pluggable embedding seam — the ONE boundary between "what text
  * becomes a vector" and everything downstream (chunk stores, ANN indexes,
  * serving, streaming twins, incremental reindex).
  *
  * The reference's semantic core is a real transformer (reference:
  * src/embeddings.ts:26-67 — MiniLM, mean-pooled + L2-normalized); this
  * sandbox cannot ship one, so [[HashEmbedder]] (the deterministic,
  * oracle-checkable feature hash) is the default — but the ARCHITECTURE
  * accepts a real model: implement [[BatchEmbedder.embedBatch]] over an
  * inference session held in a `@transient lazy val` and every facade
  * surface (build → query → incremental re-embed) runs through it with no
  * operator changes. Two implementation shapes:
  *
  *   - expression-backed ([[HashEmbedder]]): `embedFrame` appends a
  *     codegen'd Catalyst column — stays inside whole-stage codegen, the
  *     fastest possible shape when the model IS an expression;
  *   - session-backed ([[BatchEmbedder]]): batched `mapPartitions` — the
  *     standard Spark shape for model inference (one session per executor
  *     JVM, `batchSize` texts per inference call), for embedders that hold
  *     native state a Catalyst expression can't.
  *
  * Contract both shapes share:
  *   - `name` is the model IDENTITY: it is stamped into every index
  *     metadata/manifest (IndexStore.Meta.modelName, the chunk-ANN and
  *     chunk-graph manifests), so a store built by one embedder is never
  *     incrementally refreshed or warm-served by another — a swapped
  *     embedder reads as a metadata mismatch and rebuilds.
  *   - `embedText` (driver-side, bounded to the query batch) and
  *     `embedFrame` (executor-side, corpus-scale) MUST compute the same
  *     function: query vectors and corpus vectors live in one space.
  *   - output is a dense `Array[Double]` of exactly `dim` elements; null
  *     text embeds to null (the expression path's null semantics).
  */
trait Embedder extends Serializable {

  /** Stable model identity — part of every store's compatibility metadata. */
  def name: String

  /** Embedding dimensionality; must match the facade's `dim`. */
  def dim: Int

  /** Append `outCol` = embedding of `textCol` to the frame (batch or
    * streaming — implementations must be stateless narrow transforms).
    */
  def embedFrame(df: DataFrame, textCol: String, outCol: String): DataFrame

  /** Driver-side single-text embedding for query vectors. Called once per
    * query in a batch (bounded — never corpus-scale).
    */
  def embedText(s: String): Array[Double]
}

/** The default embedder: the deterministic feature hash as a codegen'd
  * Catalyst expression (plans/VecExprs.HashEmbed). Exactly reproducible in
  * ANSI SQL, which is what keeps the whole embedding pipeline under the
  * DuckDB oracle gate — and its `name` is the historical facade modelName,
  * so pre-seam stores remain metadata-compatible.
  */
final case class HashEmbedder(dim: Int) extends Embedder {
  def name: String = s"graft-hash-embed-v1-d$dim"

  def embedFrame(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    df.withColumn(outCol, VecExprs.hashEmbed(col(textCol), dim))
  }

  def embedText(s: String): Array[Double] = HashEmbedAlg.embed(s, dim)
}

/** Base class for session-backed embedders (ONNX / JNI / any model whose
  * state can't live in a Catalyst expression): subclasses implement ONLY
  * [[embedBatch]], holding their inference session in a `@transient lazy
  * val` so each executor JVM opens it once and every task reuses it.
  *
  * `embedFrame` is batched `mapPartitions`: rows are grouped into
  * `batchSize`-text batches (the unit a real model amortizes over), each
  * batch runs one `embedBatch` call, and the embedding is appended to the
  * otherwise-unchanged row. Narrow and stateless — legal in Structured
  * Streaming, so the streaming twins accept these embedders too.
  *
  * Partitioning is the CALLER's contract: inference cost is per-row
  * compute, so an under-partitioned input (one small parquet file)
  * serializes the stage through one task — repartition to
  * `defaultParallelism` first when the input is narrower than the
  * cluster (`Graft.embedFrom` and `ragTopKTx` do). embedFrame itself
  * never reshuffles: it cannot know whether the frame is streaming or
  * already well-partitioned, and a corpus-wide blanket shuffle at 100 TB
  * is the anti-pattern.
  */
abstract class BatchEmbedder extends Embedder {

  /** Texts per inference call — tune to the model's optimal batch. */
  def batchSize: Int = 64

  /** Embed up to `batchSize` texts, one `dim`-vector per input, in order.
    * Executor-side; must be deterministic for the incremental-reindex
    * diff to stay meaningful (a nondeterministic embedder re-keys nothing
    * — diffs key on content — but makes refreshed cells non-reproducible).
    */
  def embedBatch(texts: Array[String]): Array[Array[Double]]

  final def embedText(s: String): Array[Double] = {
    val out = checkedBatch(Array(s))
    out(0)
  }

  /** [[embedBatch]] with the contract enforced AT the model boundary: one
    * vector per input, each exactly `dim` wide. A wrapper that silently
    * drops empty strings (common embedding-API behavior) or serves a
    * different-dimensionality model would otherwise fail far from its
    * cause — an opaque index error mid-task, or mismatched vectors landing
    * in the store to break cosine at query time.
    */
  private def checkedBatch(texts: Array[String]): Array[Array[Double]] = {
    val out = embedBatch(texts)
    require(out.length == texts.length,
      s"$name.embedBatch returned ${out.length} vectors for ${texts.length} inputs " +
        "— an embedder must emit one vector per input (including empty strings)")
    var i = 0
    while (i < out.length) {
      require(out(i) != null && out(i).length == dim,
        s"$name.embedBatch vector $i has dim " +
          s"${if (out(i) == null) "null" else out(i).length}, expected $dim")
      i += 1
    }
    out
  }

  final def embedFrame(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val textIdx = df.schema.fieldIndex(textCol)
    val outSchema = df.schema.add(outCol, ArrayType(DoubleType, containsNull = false))
    implicit val enc = RowEncoder.encoderFor(outSchema)
    val bs = batchSize
    require(bs > 0, s"BatchEmbedder.batchSize must be positive, got $bs")
    df.mapPartitions { rows =>
      rows.grouped(bs).flatMap { batch =>
        // null texts skip inference and embed to null — the expression
        // path's null semantics, preserved so the two shapes are swappable
        val present = batch.filter(!_.isNullAt(textIdx))
        val embs = if (present.isEmpty) Array.empty[Array[Double]]
          else checkedBatch(present.map(_.getString(textIdx)).toArray)
        var i = 0
        batch.map { r =>
          val e = if (r.isNullAt(textIdx)) null
            else { val v = embs(i).toSeq; i += 1; v }
          Row.fromSeq(r.toSeq :+ e)
        }
      }
    }
  }
}
