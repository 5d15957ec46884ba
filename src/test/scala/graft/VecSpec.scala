package graft

import graft.functions.Vec
import graft.operators.{Dedup, RagSearch}
import graft.plans.VecExprs
import org.apache.spark.sql.functions._

class VecSpec extends SparkSpecBase {

  test("codegen CosineSim agrees with built-in higher-order-function cosine") {
    val e = Tables.embeddings(spark, sf)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        VecExprs.cosineSim(col("embedding"), col("qv")).as("fast"),
        Vec.cosine(col("embedding"), col("qv")).as("ref"))
      .withColumn("diff", abs(col("fast") - col("ref")))
    assert(both.agg(max("diff")).head().getDouble(0) < 1e-12)
  }

  test("cosine of a vector with itself is ~1") {
    val e = Tables.embeddings(spark, sf)
    val self = e.select(VecExprs.cosineSim(col("embedding"), col("embedding")).as("c"))
    val mn = self.agg(min("c")).head().getDouble(0)
    assert(mn > 0.9999 && mn <= 1.0)
  }

  test("HashEmbed is L2-normalized, deterministic, zero for empty text") {
    import spark.implicits._
    val df = Seq("hello world hash embed", "hello world hash embed", "", "   ")
      .toDF("t")
      .select(col("t"), VecExprs.hashEmbed(col("t"), 64).as("v"))
      .withColumn("norm", sqrt(aggregate(col("v"), lit(0.0), (a, x) => a + x * x)))
      .collect()
    assert(math.abs(df(0).getAs[Double]("norm") - 1.0) < 1e-9)
    assert(df(0).getSeq[Double](1) == df(1).getSeq[Double](1)) // deterministic
    assert(df(2).getAs[Double]("norm") == 0.0) // empty text -> zero vector
    assert(df(3).getAs[Double]("norm") == 0.0) // whitespace-only -> zero vector
  }

  test("rag_topk returns k descending rows and the query vector itself first") {
    val top = RagSearch.ragTopK(spark, sf).collect()
    assert(top.length == 10)
    // vec_id 0 scored against itself is cosine 1.0 -> rank 1
    assert(top.head.getAs[Long]("vec_id") == 0L && top.head.getAs[Double]("score") >= 0.9999)
    val scores = top.map(_.getAs[Double]("score"))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("ann_lsh results are a subset of brute-force candidates with matching scores") {
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 500)
      .select("query_id", "vec_id", "score")
    val lsh = RagSearch.annLsh(spark, sf).select("query_id", "vec_id", "score")
    // every LSH pair must exist in the brute-force scoring with the same score
    assert(lsh.except(brute).count() == 0)
  }

  test("LshBucket expression agrees with the higher-order-function reference") {
    val e = Tables.embeddings(spark, sf)
    val both = e.select(
      VecExprs.lshBucket(col("embedding"), 6).as("fast"),
      Vec.lshBucket(col("embedding"), 6, 64).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("int8 quantization round-trips within the scale/254 error bound") {
    val q = RagSearch.embedQuantize(spark, sf)
    val orig = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>"))
        .as(Seq("dim_idx", "x")))
      .select(col("vec_id"), col("dim_idx").cast("long").as("dim_idx"), col("x"))
    val joined = q.join(orig, Seq("vec_id", "dim_idx"))
      .withColumn("dequant", col("qval") * col("scale") / 127.0)
      .withColumn("err", abs(col("dequant") - col("x")))
    // symmetric quantization error bound: half a quantization step (+rounding slack)
    val bad = joined.filter(col("err") > col("scale") / 254.0 + 1e-6).count()
    assert(bad == 0)
    assert(q.filter(abs(col("qval")) > 127).count() == 0)
  }

  test("driver entry() smoke: flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_embedding pairs are symmetric-free and above threshold") {
    val d = Dedup.dedupEmbedding(spark, sf).cache()
    assert(d.filter(col("keep_id") >= col("dup_id")).count() == 0)
    assert(d.filter(col("score") < 0.30).count() == 0)
    d.unpersist()
  }

  test("VecMean aggregate equals per-dimension avg, works from SQL") {
    import graft.plans.VecAgg
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        (col("vec_id") % 3).as("g"))
    val viaAgg = e.groupBy("g").agg(VecAgg.vecMean(col("emb")).as("m"))
    val viaExplode = e.select(col("g"), posexplode(col("emb")).as(Seq("d", "v")))
      .groupBy("g", "d").agg(avg("v").as("m"))
    val flat = viaAgg.select(col("g"), posexplode(col("m")).as(Seq("d", "mv")))
    val bad = flat.join(viaExplode, Seq("g", "d"))
      .filter(abs(col("mv") - col("m")) > 1e-9).count()
    assert(bad == 0)
    // SQL path
    graft.plans.GraftFunctions.registerAll(spark)
    e.createOrReplaceTempView("vm_in")
    val n = spark.sql("SELECT g, graft_vec_mean(emb) AS m FROM vm_in GROUP BY g").count()
    assert(n == 3)
    // ragged + null + empty semantics match per-dimension avg (posexplode):
    // each dimension averages over the rows that HAVE it; all-null → NULL
    val ragged = spark.sql(
      """SELECT graft_vec_mean(v) AS m FROM VALUES
        |  (array(1.0D, 3.0D)), (array(5.0D)), (CAST(NULL AS ARRAY<DOUBLE>)) t(v)""".stripMargin)
      .head().getSeq[Double](0)
    assert(ragged == Seq(3.0, 3.0))
    assert(spark.sql(
      "SELECT graft_vec_mean(v) AS m FROM VALUES (CAST(NULL AS ARRAY<DOUBLE>)) t(v)")
      .head().isNullAt(0))
  }

  test("VecMeanFixed (codegen path) produces identical centroids to VecMean") {
    import graft.plans.VecAgg
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        (col("vec_id") % 7).as("g"))
    val obj = e.groupBy("g").agg(VecAgg.vecMean(col("emb")).as("m"))
    val decl = e.groupBy("g").agg(VecAgg.vecMeanFixed(col("emb"), 64).as("m"))
    // bit-identical per dimension (both sum doubles in row order within
    // partitions and merge partials — allow only the 1e-12 merge-order slack)
    val joined = obj.withColumnRenamed("m", "mo").join(decl, "g")
      .select(col("g"), posexplode(arrays_zip(col("mo"), col("m"))).as(Seq("d", "z")))
      .filter(abs(col("z.mo") - col("z.m")) > 1e-12)
    assert(joined.count() == 0)
    // null/ragged semantics: per-dimension contribution, all-null group NULL,
    // missing dimension 0.0 — same contract as VecMean (truncated at dim)
    val ragged = Seq(
      (1, Some(Seq(1.0, 3.0))), (1, Some(Seq(5.0))), (1, None),
      (2, None): (Int, Option[Seq[Double]]))
      .toDF("g", "v")
    val out = ragged.groupBy("g").agg(VecAgg.vecMeanFixed(col("v"), 3).as("m"))
      .collect().map(r => r.getInt(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(1).get == Seq(3.0, 3.0, 0.0))
    assert(out(2).isEmpty)
    // the plan is a HashAggregate (primitive buffer), not ObjectHashAggregate
    val plan = decl.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate") && !plan.contains("ObjectHashAggregate"),
      s"expected HashAggregateExec, got:\n$plan")
  }

  test("Column builders need no installed SQL function and equal their graft_* SQL twins") {
    import graft.plans.{GraftFunctions, TextExprs}
    import org.apache.spark.sql.SparkSession
    def input(s: SparkSession) = {
      import s.implicits._
      Seq((Seq(1.0, 2.0, 0.5), Seq(0.5, -1.0, 2.0), "the quick brown fox jumps over",
          Seq(1L, 3L, 5L, 9L), Seq(3L, 5L, 8L)),
        (Seq(-0.25, 4.0, 1.5), Seq(2.0, 0.0, -3.0), "a b", Seq(7L), Seq.empty[Long]))
        .toDF("a", "b", "t", "x", "y")
    }
    // a new session has its own function registry: nothing graft_* in it
    val fresh = spark.newSession()
    assert(!fresh.catalog.functionExists("graft_cosine"))
    val viaColumns = input(fresh).select(
      VecExprs.cosineSim(col("a"), col("b")), VecExprs.dotProd(col("a"), col("b")),
      VecExprs.hashEmbed(col("t"), 16), VecExprs.lshBucket(col("a"), 6),
      TextExprs.tokenCodes(col("t"), 37), TextExprs.shingleCodes(col("t"), 2),
      TextExprs.minHashSig(col("x"), 8), TextExprs.simHash(col("x"), 24),
      TextExprs.jaccardSorted(col("x"), col("y")))
    GraftFunctions.registerAll(spark)
    input(spark).createOrReplaceTempView("graft_fn_in")
    val viaSql = spark.sql(
      """SELECT graft_cosine(a, b), graft_dot(a, b), graft_hash_embed(t, 16),
        |  graft_lsh_bucket(a, 6), graft_token_codes(t, 37), graft_shingle_codes(t, 2),
        |  graft_minhash_sig(x, 8), graft_simhash(x, 24), graft_jaccard_sorted(x, y)
        |FROM graft_fn_in""".stripMargin)
    assert(viaColumns.columns.toSeq == viaSql.columns.toSeq)
    assert(viaColumns.collect().toSeq == viaSql.collect().toSeq)
  }
}
