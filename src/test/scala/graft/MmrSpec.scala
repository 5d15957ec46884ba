package graft

import graft.operators.RagSearch
import org.apache.spark.sql.functions._

/** Receipts for C1m — MMR diversity reranking (Carbonell & Goldstein
  * 1998): the greedy demotes near-duplicate hits behind diverse ones,
  * reduces to pure relevance at λ=1, and (because every argmax compares
  * 4 dp-quantized scores with vec_id ties) is deterministic enough for
  * the recursive-CTE DuckDB oracle to replay it — the hash-match itself
  * is the driver's check; these specs pin the semantics.
  */
class MmrSpec extends SparkSpecBase {
  import spark.implicits._

  // query 0 = [1,0,0,...]; 10/11 sit ~30° off the query but nearly
  // IDENTICAL to each other (sim ≈ 0.99997), 12 sits ~32° off in an
  // orthogonal plane (sim to 10 only ≈ 0.73). λ=0.7 then flips 11 and
  // 12 at step 2: 0.7·rel gap (0.010) < 0.3·sim gap (0.080). A flat
  // 2-D fixture cannot flip at this λ — rel and sim gaps grow at the
  // same rate along one angle axis; the orthogonal plane is the point.
  private def handcrafted = {
    def v(xs: Double*): Seq[Float] = (xs ++ Seq.fill(6 - xs.length)(0.0)).map(_.toFloat)
    Seq(
      0L -> v(1.0, 0.0, 0.0),
      10L -> v(0.866, 0.5, 0.0),
      11L -> v(0.86, 0.505, 0.02),
      12L -> v(0.848, 0.0, 0.53)
    ).toDF("vec_id", "embedding")
  }

  test("MMR demotes the near-duplicate; plain relevance keeps it") {
    val mmr = RagSearch.ragTopKMmrOver(handcrafted, nQueries = 1, k = 2,
      lambdaRel = 0.7, candDepth = 10).collect()
    assert(mmr.map(_.getLong(2)).toSeq == Seq(10L, 12L),
      s"MMR top-2 must be (closest, diverse): ${mmr.map(_.getLong(2)).mkString(",")}")
    // the control: pure relevance (λ=1) ranks the near-dup second
    val rel = RagSearch.ragTopKMmrOver(handcrafted, nQueries = 1, k = 2,
      lambdaRel = 1.0, candDepth = 10).collect()
    assert(rel.map(_.getLong(2)).toSeq == Seq(10L, 11L),
      s"λ=1 must reduce to relevance order: ${rel.map(_.getLong(2)).mkString(",")}")
  }

  test("λ=1 equals the C1 ordering over the pool on the corpus") {
    val e = Tables.embeddings(spark, sf)
    val out = RagSearch.ragTopKMmrOver(e, nQueries = 5, k = 5,
      lambdaRel = 1.0, candDepth = 20).collect()
    // brute-force reference ordering: top-5 by (round(cos,4) desc, vec_id)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val sc = e.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(graft.plans.VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("s"))
      .collect().groupBy(_.getLong(0))
    for ((qid, rows) <- out.groupBy(_.getLong(0))) {
      val want = sc(qid).map(r => (r.getLong(1), r.getDouble(2)))
        .sortBy(t => (-t._2, t._1)).take(5).map(_._1).toSeq
      val got = rows.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      assert(got == want, s"query $qid: λ=1 order $got vs relevance order $want")
    }
  }

  test("corpus shape: k ranks per query, self excluded, deterministic; diversity measurably improves") {
    val once = RagSearch.ragTopKMmr(spark, sf).collect()
    assert(once.map(_.getLong(0)).distinct.sorted.toSeq == (0L until 5L).toSeq)
    for ((qid, rows) <- once.groupBy(_.getLong(0))) {
      assert(rows.map(_.getLong(1)).sorted.toSeq == (1L to 5L).toSeq, s"query $qid ranks")
      assert(rows.forall(_.getLong(2) != qid), "self-match must be excluded")
    }
    val again = RagSearch.ragTopKMmr(spark, sf).collect()
    assert(once.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // diversity receipt: mean intra-result similarity of the MMR set is
    // never above the plain top-k set's (per query; ties allowed)
    val e = Tables.embeddings(spark, sf)
    val vecs = e.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
        i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb) + 1e-10)
    }
    def meanPairSim(ids: Seq[Long]): Double = {
      val ps = for { i <- ids.indices; j <- i + 1 until ids.length }
        yield cos(vecs(ids(i)), vecs(ids(j)))
      ps.sum / ps.length
    }
    val plain = RagSearch.ragTopKMmr(spark, sf, lambdaRel = 1.0).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSeq }
    val mmr = once.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(2)).toSeq }
    for (q <- mmr.keys)
      assert(meanPairSim(mmr(q)) <= meanPairSim(plain(q)) + 1e-12,
        s"query $q: MMR set must not be LESS diverse than plain top-k")
  }
}
