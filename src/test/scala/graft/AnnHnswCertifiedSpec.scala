package graft.operators // cellStatsOf is private[operators]

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C6hc — certified hierarchical serving: the descent's kth score is a
  * lower bound, the cellstats angular radii give a true per-cell upper
  * bound, and exact-scanning every cell the bound cannot rule out yields
  * PROVABLY the exact top-k. These receipts pin (1) row-identity with the
  * brute-force scan, (2) that the guarantee is independent of descent
  * quality (a starved descent only costs more, never returns less), (3)
  * the bound's validity over every stored vector, and (4) that refresh
  * keeps the sidecar consistent with the store.
  */
class AnnHnswCertifiedSpec extends graft.SparkSpecBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def brute(corpus: DataFrame, nQ: Int, topK: Int): DataFrame = {
    val q = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(VecExprs.cosineSim(col("embedding").cast("array<float>"),
          col("qv").cast("array<float>")), 4).as("score"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"))
      .orderBy("query_id", "rank")
  }

  private def freshIndex(path: String): String = {
    AnnStore.fileSystem(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    AnnHnsw.ensureHnswIndex(spark, sfDir, path)
    path
  }

  test("certified serve is row-identical to the brute-force exact scan") {
    val path = freshIndex("/tmp/graft_test_hnsw_cert")
    val got = AnnHnsw.annHnswServedCertified(spark, path).collect().map(_.toSeq)
    val truth = brute(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), 10, 5).collect().map(_.toSeq)
    assert(got.length == truth.length && got.sameElements(truth))
  }

  test("exactness is independent of descent quality: a starved descent " +
    "(ef=1, beam=1, hops=0) still returns the exact rows") {
    val path = "/tmp/graft_test_hnsw_cert" // reuse the suite's store
    AnnHnsw.ensureHnswIndex(spark, sfDir, path)
    val counter = spark.sparkContext.longAccumulator("cert")
    val got = AnnHnsw.annHnswServedCertified(spark, path,
      ef = 1, beam = 1, hops = 0, counter = Some(counter)).collect().map(_.toSeq)
    val truth = brute(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")), 10, 5).collect().map(_.toSeq)
    assert(got.sameElements(truth))
    // the starvation shows up as COST (a weaker s_k passes more cells into
    // the certification scan), never as a row difference
    assert(counter.value > 0)
  }

  test("the cellstats bound really upper-bounds every member's similarity") {
    val path = "/tmp/graft_test_hnsw_cert"
    AnnHnsw.ensureHnswIndex(spark, sfDir, path)
    val centroids = AnnStore.readCentroids(spark, path)
    val stats = AnnStore.readCellStats(spark, path).get
    val delta = stats.map(s => s._1 -> (StrictMath.acos(
      math.min(1.0, math.max(-1.0, s._3))) + 1e-6)).toMap
    val members = spark.read.parquet(path + "/vectors")
      .select(col("vec_id"), col("embedding").cast("array<float>"), col("cid"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    // row counts in the sidecar match the store
    val counts = members.groupBy(_._3).map { case (c, ms) => c -> ms.length.toLong }
    assert(stats.map(s => s._1 -> s._2).toMap == counts)
    // bound validity, for several query vectors incl. out-of-corpus ones
    val queries = members.take(5).map(_._2) :+
      Array.fill(members.head._2.length)(0.37f)
    def clamp(x: Double) = math.min(1.0, math.max(-1.0, x))
    for (qv <- queries; (_, emb, cid) <- members) {
      val theta = StrictMath.acos(clamp(RagSearch.cosineOf(qv.map(_.toDouble), centroids(cid))))
      val bound = StrictMath.cos(math.max(0.0, theta - delta(cid)))
      val actual = AnnGraph.cosineLocal(qv, emb)
      assert(actual <= bound + 1e-9,
        s"cell $cid: member cos $actual exceeds bound $bound")
    }
  }

  test("refresh keeps cellstats consistent with the rewritten store") {
    val work = "/tmp/graft_test_hnsw_cert_refresh"
    val fs = AnnStore.fileSystem(spark, work)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val corpusDir = work + "/corpus"
    val e = Tables.embeddings(spark, sfDir)
    e.write.parquet(corpusDir + "/embeddings.parquet")
    val path = work + "/idx"
    AnnHnsw.ensureHnswIndex(spark, corpusDir, path)
    // edit a few vectors (dirty a subset of cells), then refresh
    fs.delete(new org.apache.hadoop.fs.Path(corpusDir), true)
    e.withColumn("embedding",
      when(col("vec_id") % 97 === 0,
        transform(col("embedding"), x => x * lit(1.25f)))
        .otherwise(col("embedding")))
      .write.parquet(corpusDir + "/embeddings.parquet")
    val stats = AnnHnsw.refreshHnswIndex(spark, corpusDir, path).head()
    assert(stats.getString(0) == "incremental", stats.toString)
    // invariant: the sidecar equals a recomputation from the live store
    // under the stored centroids — for EVERY cell, not just dirty ones
    val centroids = AnnStore.readCentroids(spark, path)
    val expected = AnnGraph.cellStatsOf(
      spark.read.parquet(path + "/vectors")
        .select(col("vec_id"), col("embedding"), col("cid")), centroids)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    val got = AnnStore.readCellStats(spark, path).get.sortBy(_._1)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, x) =>
      assert(g._1 == x._1 && g._2 == x._2 && math.abs(g._3 - x._3) < 1e-12,
        s"cell ${g._1}: sidecar $g vs recomputed $x")
    }
    // and the certified serve over the refreshed store is still exact
    val truth = brute(spark.read.parquet(corpusDir + "/embeddings.parquet")
      .select(col("vec_id"), col("embedding")), 10, 5).collect().map(_.toSeq)
    val served = AnnHnsw.annHnswServedCertified(spark, path)
      .collect().map(_.toSeq)
    assert(served.sameElements(truth))
  }
  // stamp invalidation is covered by the refresh test above: the certified
  // serve after refreshHnswIndex goes through the cache path and must see
  // the REWRITTEN layers, or its exactness assert fails
  test("upper-layer serve cache: cached serve is row-identical to the " +
    "uncached distributed rounds") {
    val path = "/tmp/graft_test_hnsw_cert"
    AnnHnsw.ensureHnswIndex(spark, sfDir, path)
    val cached = AnnHnsw.annHnswServed(spark, path).collect().map(_.toSeq)
    val uncached = AnnHnsw.annHnswServed(spark, path, upperCacheRows = 0)
      .collect().map(_.toSeq)
    assert(cached.sameElements(uncached))
    // a second cached serve (warm cache) is still identical
    val again = AnnHnsw.annHnswServed(spark, path).collect().map(_.toSeq)
    assert(again.sameElements(cached))
  }

}
