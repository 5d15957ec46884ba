package graft

import graft.operators.{Bm25, Dedup, Pipeline}
import org.apache.spark.sql.functions._

/** The sf1-class scale receipt for the r11 TEXT operators (SURVEY §4f) —
  * dedup_spans, quality_lm, sample_pack, and the batched hybrid retrieval
  * had only ever run at sf0.1; this drives each at sf0.1 AND at a
  * synthesized `scale`× corpus and prints both timings, so near-linear
  * scaling (or a found cliff) is a recorded number, not a hope.
  *
  * The driver generates no sf1 testdata, so the corpus is synthesized
  * from sf0.1 for TIMING ONLY: each document is replicated `scale`× with
  * a fresh doc_id and a per-replica suffix token (replicas stay
  * near-duplicates — the realistic shape for dedup at crawl scale — while
  * doc ids and pack offsets stay unique). Correctness stays pinned by the
  * sf0.01 oracle gate; nothing here feeds the driver contract.
  *
  * Usage: runMain graft.TextScaleReceipt [srcSfDir] [workDir] [scale]
  */
object TextScaleReceipt {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_textscale"
    val scale = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.start("graft-textscale-receipt")
    val cpus = spark.sparkContext.defaultParallelism

    val dir = work + "/corpus"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docPath = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    // cache keyed on the actual row count, not bare existence: a rerun
    // with a different `scale` against the same workDir must regenerate,
    // or the receipt would time the old corpus while reporting the new
    // scale value
    val expected = Tables.documents(spark, src).count() * scale
    if (fs.exists(docPath) &&
        spark.read.parquet(docPath.toString).count() != expected)
      fs.delete(docPath, true)
    if (!fs.exists(docPath)) {
      Tables.documents(spark, src)
        .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
        .select(
          (col("doc_id") * scale + col("rep")).as("doc_id"),
          concat(col("text"), lit(" r"), col("rep")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(docPath.toString)
    }
    // scaled EMBEDDINGS for the r12 semantic-dedup leg: replicas keep the
    // source vector verbatim (fresh vec_id) — identical replicas form the
    // densest possible ε-clusters, which is the WORST case for the
    // intra-cluster pair join, exactly what the receipt should stress
    val embPath = new org.apache.hadoop.fs.Path(dir, "embeddings.parquet")
    // scheme marker doubles as the regeneration key: the id layout below
    // changed in r12 (interleaved, see comment) and count alone cannot
    // tell the layouts apart
    val schemeMarker = new org.apache.hadoop.fs.Path(dir, "_emb_scheme_v2")
    val nSrcEmb = Tables.embeddings(spark, src).count()
    val expectedEmb = nSrcEmb * scale
    if (fs.exists(embPath) && (!fs.exists(schemeMarker) ||
        spark.read.parquet(embPath.toString).count() != expectedEmb))
      fs.delete(embPath, true)
    if (!fs.exists(embPath)) {
      // INTERLEAVED ids (vec_id + rep·nSrc), not vec_id·scale+rep: k-means
      // seeds from the first k ids, and the blocked layout would seed 16
      // centroids from ~2 distinct replicated vectors — the scaled leg
      // would then cluster with ~2 effective cells and the receipt would
      // compare structurally different workloads
      Tables.embeddings(spark, src)
        .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
        .select((col("vec_id") + col("rep") * nSrcEmb).as("vec_id"),
          col("embedding"), col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(embPath.toString)
      fs.create(schemeMarker, true).close()
    }

    val nSrc = Tables.documents(spark, src).count()
    val nScaled = spark.read.parquet(docPath.toString).count()

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // one untimed warmup at the small SF covers codegen/class-load costs
    // for both sides; each measurement is the min of 2 runs
    def measure(body: String => Unit): (Double, Double) = {
      body(src)
      val tSrc = (1 to 2).map(_ => time(body(src))).min
      val tScaled = (1 to 2).map(_ => time(body(dir))).min
      (tSrc, tScaled)
    }

    // full-row materialization (not count()): a bare count lets the
    // optimizer prune the computed columns, which would time the joins
    // but not the scoring math the receipt is about
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.executedPlan.execute().count(); ()
    }
    val (spanSrc, spanScaled) = measure(d => run(Dedup.dedupSpans(spark, d)))
    val (lmSrc, lmScaled) = measure(d => run(operators.TextAnalysis.qualityLm(spark, d)))
    val (packSrc, packScaled) = measure(d => run(Pipeline.packSequences(spark, d)))
    val (hybSrc, hybScaled) = measure(d => run(Bm25.ragHybrid(spark, d)))
    // r12 operators: DSIR scoring (distribution build + broadcast join),
    // BPE (training collect + scan-side encode), SemDeDup (train + the
    // worst-case dense-cluster pair join)
    val (dsirSrc, dsirScaled) = measure(d => run(Pipeline.sampleDsir(spark, d)))
    val (bpeSrc, bpeScaled) = measure(d => run(operators.TextAnalysis.tokenBpe(spark, d)))
    val (semSrc, semScaled) = measure(d => run(Dedup.dedupSemantic(spark, d)))
    // the derived-k receipt: k grows with the corpus (pow2 steps of
    // n/TargetVectorsPerSemCluster), so the candidate pair volume Σ|c|²
    // PER VECTOR must stay bounded as n grows — a fixed k would show
    // pairs/vec growing linearly with scale. Measured on the actual
    // trained clustering, not the balanced-cluster idealization.
    def semStats(d: String): (Long, Int, Double) = {
      val n = Tables.embeddings(spark, d).count()
      val k = Dedup.semClusterCountFor(n)
      val cents = graft.operators.AnnIvf.train(spark, d, k)
      val sizes = Tables.embeddings(spark, d)
        .select(col("embedding").cast("array<double>").as("emb"))
        .filter(col("emb").isNotNull)
        .withColumn("cid",
          graft.plans.VecExprs.centroidAssign(col("emb"), cents, useCosine = true))
        .groupBy("cid").count()
        // coalesce: sum over ZERO groups (empty/all-null embeddings) is
        // SQL NULL — report pairs 0, don't NPE the whole receipt
        .agg(coalesce(sum(col("count") * col("count")), lit(0L)).as("pairs"))
        .head().getLong(0)
      (n, k, sizes.toDouble / math.max(n, 1L))
    }
    val (semNSrc, semKSrc, semPvSrc) = semStats(src)
    val (semNScaled, semKScaled, semPvScaled) = semStats(dir)
    // the crawl-to-shards capstone end to end (dedup + gates + sample +
    // pack + shard write + ledger) — the whole-pipeline scaling number
    val (buildSrc, buildScaled) = {
      var i = 0
      def once(d: String): Unit = {
        i += 1
        new Graft(spark, d)
          .buildTrainingSet(work + s"/trainset_$i", numShards = cpus)
          .collect(); ()
      }
      once(src) // warmup
      val a = (1 to 2).map(_ => time(once(src))).min
      val b = (1 to 2).map(_ => time(once(dir))).min
      (a, b)
    }

    def r(x: Double) = math.round(x * 1000) / 1000.0
    def ratio(a: Double, b: Double) = r(b / math.max(a, 1e-9))
    println(
      s"""{"metric":"text_scale_receipt","n_docs_src":$nSrc,"n_docs_scaled":$nScaled,""" +
        s""""scale":$scale,""" +
        s""""dedup_spans_src_sec":${r(spanSrc)},"dedup_spans_scaled_sec":${r(spanScaled)},""" +
        s""""dedup_spans_ratio":${ratio(spanSrc, spanScaled)},""" +
        s""""quality_lm_src_sec":${r(lmSrc)},"quality_lm_scaled_sec":${r(lmScaled)},""" +
        s""""quality_lm_ratio":${ratio(lmSrc, lmScaled)},""" +
        s""""sample_pack_src_sec":${r(packSrc)},"sample_pack_scaled_sec":${r(packScaled)},""" +
        s""""sample_pack_ratio":${ratio(packSrc, packScaled)},""" +
        s""""rag_hybrid_src_sec":${r(hybSrc)},"rag_hybrid_scaled_sec":${r(hybScaled)},""" +
        s""""rag_hybrid_ratio":${ratio(hybSrc, hybScaled)},""" +
        s""""sample_dsir_src_sec":${r(dsirSrc)},"sample_dsir_scaled_sec":${r(dsirScaled)},""" +
        s""""sample_dsir_ratio":${ratio(dsirSrc, dsirScaled)},""" +
        s""""token_bpe_src_sec":${r(bpeSrc)},"token_bpe_scaled_sec":${r(bpeScaled)},""" +
        s""""token_bpe_ratio":${ratio(bpeSrc, bpeScaled)},""" +
        s""""dedup_semantic_src_sec":${r(semSrc)},"dedup_semantic_scaled_sec":${r(semScaled)},""" +
        s""""dedup_semantic_ratio":${ratio(semSrc, semScaled)},""" +
        s""""sem_n_src":$semNSrc,"sem_k_src":$semKSrc,"sem_pairs_per_vec_src":${r(semPvSrc)},""" +
        s""""sem_n_scaled":$semNScaled,"sem_k_scaled":$semKScaled,"sem_pairs_per_vec_scaled":${r(semPvScaled)},""" +
        s""""build_training_set_src_sec":${r(buildSrc)},"build_training_set_scaled_sec":${r(buildScaled)},""" +
        s""""build_training_set_ratio":${ratio(buildSrc, buildScaled)}}""")
    spark.stop()
  }
}
