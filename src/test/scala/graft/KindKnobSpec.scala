package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The facade's index-kind knob (VERDICT r14 #7): one query batch served
  * across every persisted chunk-index family, same row contract, recall
  * ordered as declared against the exact full-scan reference.
  */
class KindKnobSpec extends SparkSpecBase {

  private lazy val g = new Graft(spark, sf)
  private val queries = Seq(
    "hash join build side",
    "column scan filter pushdown",
    "stream window watermark")
  private val topK = 5

  /** Exact reference: the facade's full-scan cosine top-k per query. */
  private lazy val exact: Map[Long, Set[(Long, Long)]] =
    queries.zipWithIndex.map { case (q, i) =>
      i.toLong -> g.ragQuery(q, topK).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
    }.toMap

  private def overlapOf(df: DataFrame): Double = {
    val got = df.collect().groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) =>
        q -> rs.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
      }
    val per = exact.keys.toSeq.map { q =>
      val e = exact(q)
      (e intersect got.getOrElse(q, Set.empty)).size.toDouble / e.size
    }
    per.sum / per.length
  }

  test("one batch, every index kind: uniform shape, recall ordered as declared") {
    val kinds = Seq("ivf", "graph", "hnsw", "hnsw_exact", "pq", "opq", "sq8")
    val results = kinds.map { kind =>
      val df = g.ragQueryAnnKindBatch(queries, kind, topK)
      // uniform row contract across families
      assert(df.columns.toSeq == Seq("query_id", "doc_id", "chunk_idx",
        "score", "snippet", "total_tokens", "file_size"), s"$kind columns")
      val perQuery = df.groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      queries.indices.foreach { i =>
        assert(perQuery.getOrElse(i.toLong, 0L) > 0, s"$kind: query $i empty")
        assert(perQuery(i.toLong) <= topK, s"$kind: query $i overfilled")
      }
      val ov = overlapOf(df)
      info(f"$kind%-6s overlap vs exact = $ov%.3f")
      kind -> ov
    }.toMap
    // declared ordering, which IS the architecture: the flat arms scan
    // every code (pq/opq add an exact top-50 rerank → near-exact; sq8
    // scores on dequantized values → a boundary hit can flip), while the
    // probed/navigated arms (ivf nprobe=2, graph, hnsw) PAY recall for
    // pruned reads — that trade is the knob's whole point, measured here:
    // pq/opq 1.000, sq8 0.933, ivf 0.667, hnsw 0.600, graph 0.400
    assert(results("pq") >= results("sq8") - 1e-9,
      "exact-reranked pq must not lose to dequant-scored sq8")
    assert(results("opq") >= results("sq8") - 1e-9,
      "exact-reranked opq must not lose to dequant-scored sq8")
    val fullScanMin = Seq("pq", "opq", "sq8").map(results).min
    val prunedMax = Seq("ivf", "graph", "hnsw").map(results).max
    assert(fullScanMin >= prunedMax - 1e-9,
      s"full-scan arms ($fullScanMin) must dominate pruned arms ($prunedMax)")
    assert(results("pq") >= 0.9 && results("opq") >= 0.9,
      s"reranked arms near-exact: pq=${results("pq")} opq=${results("opq")}")
    assert(results("sq8") >= 0.8, s"sq8 near-lossless floor: ${results("sq8")}")
    assert(results("ivf") >= 0.5 && results("hnsw") >= 0.5,
      s"probed floors: ivf=${results("ivf")} hnsw=${results("hnsw")}")
    assert(results("graph") >= 0.3, s"graph floor: ${results("graph")}")
    // the certified arm is not a recall trade at all: provably EXACT
    assert(results("hnsw_exact") == 1.0,
      s"hnsw_exact must equal the exact scan: ${results("hnsw_exact")}")
  }

  test("late kind: token-level MaxSim serves chunk metadata; verbatim chunk self-retrieves") {
    // a verbatim chunk text as the query: MaxSim's exact self-match makes
    // its own chunk the top hit (the LateInteractionSpec invariant,
    // surfaced through the facade)
    val someChunk = g.servingIndex
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
      .filter(length(col("chunk_text")) > 40).orderBy("doc_id", "chunk_idx")
      .head()
    val df = g.ragQueryAnnKindBatch(Seq(someChunk.getString(2)), "late", topK)
    assert(df.columns.toSeq == Seq("query_id", "doc_id", "chunk_idx",
      "score", "snippet", "total_tokens", "file_size"))
    // a near-duplicate document (the chunk's text plus one token) ties the
    // self-match at MaxSim's maximum score, so "top" is read in the
    // facade's presentation order (score desc, doc_id, chunk_idx) — a
    // score-only re-sort leaves the tie to partition completion order
    val top = df.orderBy(col("score").desc, col("doc_id").asc, col("chunk_idx").asc).head()
    assert(df.head() == top, s"result must come back in presentation order, got ${df.head()}")
    assert(top.getAs[Long]("doc_id") == someChunk.getLong(0) &&
      top.getAs[Long]("chunk_idx") == someChunk.getLong(1),
      s"verbatim chunk must self-retrieve, got $top")
  }

  test("unknown kind fails fast") {
    intercept[IllegalArgumentException] {
      g.ragQueryAnnKindBatch(queries, "flat")
    }
  }
}
