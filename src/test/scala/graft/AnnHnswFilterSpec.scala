package graft

import graft.operators.{AnnHnsw, AnnStore}
import graft.plans.VecExprs
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C6hf: the hierarchical arm's FILTERED serving (r17) — the C3f contract
  * extended to the HNSW store. Predicate gates result eligibility at layer
  * 0 only (navigation unfiltered); under-filled queries re-serve through
  * the flat graph family's adaptive arm AGAINST THE SAME STORE (layer 0 is
  * a graph store by construction), terminally exact. Also guards the r17
  * store-layout change: payload columns now ride layer 0 like the IVF
  * store's vectors table.
  */
class AnnHnswFilterSpec extends SparkSpecBase {

  private lazy val path = {
    val p = java.nio.file.Files.createTempDirectory("graft_hfilt").toString + "/idx"
    AnnHnsw.ensureHnswIndex(spark, sf, p)
    p
  }

  private def queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
    .select(col("vec_id").as("query_id"), col("embedding").as("qv"))

  test("store layout: payload columns ride layer 0 (and only layer 0)") {
    val v = spark.read.parquet(path + "/vectors")
    assert(v.columns.contains("label"),
      s"layer 0 must carry the embeddings payload, got ${v.columns.mkString(",")}")
    val l1 = spark.read.parquet(path + "/layer1")
    assert(!l1.columns.contains("label"),
      "upper layers are navigation-only and must NOT carry payload")
  }

  test("filtered hnsw serve: every hit passes the predicate; scores stay brute-exact") {
    import spark.implicits._
    val pred = col("label") % 4 === 1
    // materialize INSIDE the release scope (the refill rounds are tracked
    // checkpoints); bounded: 3 queries × topK rows
    val served = AnnStore.releasingPinned(spark) {
      AnnHnsw.annHnswServedOverFiltered(spark, path, queries,
        topK = 5, filter = Some(pred)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    }.toDF("query_id", "rank", "vec_id", "score")
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
    assert(served.join(labels, "vec_id").filter(!(col("label") % 4 === 1)).count() == 0,
      "a filtered hit violated the predicate")
    assert(served.count() > 0)
    // emitted scores equal brute-force cosine for the same (query, hit)
    // pairs — the descent kernel shares AnnGraph's exact float arithmetic
    val e = Tables.embeddings(spark, sf)
    val bruteScores = e.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        round(VecExprs.cosineSim(col("embedding").cast("array<float>"),
          col("qv").cast("array<float>")), 4).as("score"))
    assert(served.select("query_id", "vec_id", "score")
      .except(bruteScores).count() == 0)
  }

  test("adaptive fill: an unfillable predicate returns the COMPLETE filtered population, exactly ranked") {
    val e = Tables.embeddings(spark, sf)
    val label = e.groupBy("label").count().orderBy(col("count").asc, col("label").asc)
      .head().getInt(0)
    val m = e.filter(col("label") === label).count().toInt
    assert(m >= 2, s"fixture needs a non-trivial label population, got $m")
    val pred = col("label") === label
    val topK = m + 2 // unfillable: must end in the terminal exact round
    val got = AnnStore.releasingPinned(spark) {
      AnnHnsw.annHnswServedOverFiltered(spark, path, queries,
        topK = topK, filter = Some(pred)).collect()
    }
    val perQuery = got.groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.length }
    assert(perQuery.size == 3 && perQuery.values.forall(_ == m),
      s"terminal exact round must return all $m matches per query: $perQuery")
    val matchIds = e.filter(pred).select("vec_id").collect().map(_.getLong(0)).toSet
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(2)).toSet == matchIds, s"query $q id set")
      val ranked = rows.sortBy(_.getLong(1)).map(r => (r.getDouble(3), r.getLong(2)))
      assert(ranked.sameElements(ranked.sortBy { case (s, v) => (-s, v) }),
        s"query $q must rank by score desc, vec_id asc")
    }
  }

  test("no filter: the filtered entry point is row-identical to the plain hierarchical serve") {
    val plain = AnnHnsw.annHnswServedOver(spark, path, queries, topK = 5)
    val viaFiltered = AnnHnsw.annHnswServedOverFiltered(spark, path, queries,
      topK = 5, filter = None)
    assert(viaFiltered.collect().map(_.toSeq).toSeq ==
      plain.collect().map(_.toSeq).toSeq)
  }

  test("driver arm (ann_hnsw_filtered): fills topK per query under the standing predicate") {
    val got = AnnHnsw.annHnswServedFiltered(spark, path, nQueries = 5, topK = 5)
      .collect()
    val e = Tables.embeddings(spark, sf)
    val passing = e.filter(col("label") % 4 === 1).count()
    assert(passing >= 5, s"fixture: need >= 5 passing rows, got $passing")
    val perQuery = got.groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.length }
    assert(perQuery.size == 5 && perQuery.values.forall(_ == 5),
      s"adaptive fill guarantee violated: $perQuery")
    // ranks are 1..topK contiguous per query
    got.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L), s"query $q ranks")
    }
  }
}
