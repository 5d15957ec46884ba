package graft

import graft.operators.{AnnHnsw, AnnIvf, AnnIvfPq, AnnPq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The sf1-class scale receipt for the persisted ANN stores (SURVEY §4):
  * evidences, in the direction of travel rather than tiny-SF-inverted
  * numbers, that (a) the IVFADC pruned scan overtakes the flat-PQ full
  * code scan once the code table exceeds one cheap pass, and (b) the
  * incremental refresh dispatch's cost tracks the DIRTY set, not the
  * corpus.
  *
  * The driver generates no sf1 testdata, so the corpus is synthesized from
  * sf0.1 for TIMING ONLY: each source vector is replicated `scale`× with a
  * fresh vec_id and a norm-only perturbation — cosine cell assignment is
  * scale-invariant under per-vector scaling, so the replicated corpus
  * keeps the source's cell-occupancy shape while being `scale`× larger.
  * Correctness stays pinned by the sf0.01 oracle gate; nothing here feeds
  * the driver contract.
  *
  * Usage: runMain graft.ScaleReceipt [srcSfDir] [workDir] [scale]
  * Prints one JSON line with build/serve/refresh seconds for both stores.
  */
object ScaleReceipt {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_scale"
    val scale = if (args.length > 2) args(2).toInt else 500
    val spark = LocalSession.start("graft-scale-receipt")
    val cpus = spark.sparkContext.defaultParallelism

    val dir = work + "/corpus"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val embPath = new org.apache.hadoop.fs.Path(dir, "embeddings.parquet")
    if (!fs.exists(embPath)) {
      Tables.embeddings(spark, src)
        .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
        .select(
          (col("vec_id") * scale + col("rep")).as("vec_id"),
          // norm-only perturbation: replica stays in its source's cosine
          // cell, so cell-occupancy shape survives the scale-up
          transform(col("embedding"),
            x => x * (lit(1.0) + (col("rep") % 97) / lit(1000.0))).as("embedding"),
          col("label"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(embPath.toString)
    }
    val n = spark.read.parquet(embPath.toString).count()

    def time[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // distinct SOURCE vectors as queries (replicas of one vector would all
    // ask the same question); bounded: 16 rows
    def queries(path: String): DataFrame =
      spark.read.parquet(path + "/vectors")
        .filter(col("vec_id") % scale === 0 && col("vec_id") < 16L * scale)
        .select(col("vec_id").as("query_id"),
          col("embedding").cast("array<double>").as("qv"))

    val pqPath = work + "/pq"
    val ivfPath = work + "/ivfpq"
    val ivfPlainPath = work + "/ivf"
    // k scales with the corpus (the IVF contract): ~n/16k vectors per cell
    val k = math.max(16, math.min(256, (n / 16384L).toInt))
    val (_, tPqBuild) = time(AnnPq.ensurePqIndex(spark, dir, pqPath))
    val (_, tIvfBuild) = time(AnnIvfPq.ensureIvfPqIndex(spark, dir, ivfPath, k = k))
    val (_, tIvfPlainBuild) = time(AnnIvf.ensureIvfIndex(spark, dir, ivfPlainPath, k = k))

    def serveMin(f: => DataFrame): Double = {
      f.count() // warm: codegen + FS cache
      (1 to 3).map(_ => time(f.count())._2).min
    }
    val tPqServe = serveMin(
      AnnPq.annPqServedOver(spark, pqPath, queries(pqPath), topK = 10))
    val tIvfServe = serveMin(
      AnnIvfPq.annIvfPqServedOver(spark, ivfPath, queries(ivfPath),
        topK = 10, nprobe = math.max(2, k / 16)))
    // r11: FILTERED serving at the same scale — the predicate prunes
    // inside the probed cells, so the filtered serve must track the
    // unfiltered one (it scans the same nprobe/k slice), and the adaptive
    // wrapper's overhead is one bounded count per round
    val nprobePlain = math.max(2, k / 16)
    val tIvfPlainServe = serveMin(
      AnnIvf.annIvfServedOver(spark, ivfPlainPath, queries(ivfPlainPath),
        topK = 10, nprobe = nprobePlain))
    val tIvfFiltServe = serveMin(
      AnnIvf.annIvfServedOver(spark, ivfPlainPath, queries(ivfPlainPath),
        topK = 10, nprobe = nprobePlain, filter = Some(col("label") === 1)))
    val tIvfAdaptServe = serveMin(
      AnnIvf.annIvfServedOverAdaptive(spark, ivfPlainPath, queries(ivfPlainPath),
        topK = 10, nprobe = nprobePlain, filter = Some(col("label") === 1)))

    // r15: the hierarchical arm at the same scale — serve time AND the
    // scored-candidates count vs the IVF probe's read rows (the
    // AnnHnswSpec receipt, re-measured at 1M where cells dwarf the beam).
    // k follows the GRAPH build's capacity rule (~1k vectors/cell), not
    // the IVF receipt's ~16k: the in-cell kNN pair join costs capacity²
    // per cell — at 16k capacity its window sort spills ~8 GB per task
    // and a 32-task wave exceeds local disk (measured: the first r15 run
    // died on No-space-left). Capacity is the graph family's declared
    // scale knob; the receipt must respect its own design rule.
    val hnswPath = work + "/hnsw"
    // ~1k vectors/cell (the graph family's standing capacity rule). r16
    // history note: the former window-based in-cell kNN materialized
    // n·capacity pair rows into shuffle+sort spill (~90 GB at 1M×1024 —
    // two disk-full deaths on this host's ~94 GB budget) before
    // buildGraphOver became the per-cell in-MEMORY top-k, which writes
    // only n·degree edge rows; capacity now prices compute, not disk.
    val kGraph = math.max(64, (n / 1024L).toInt)
    val (_, tHnswBuild) = time(AnnHnsw.ensureHnswIndex(spark, dir, hnswPath, k = kGraph))
    val tHnswServe = serveMin(
      AnnHnsw.annHnswServedOver(spark, hnswPath, queries(hnswPath), topK = 10))
    val hnswAcc = spark.sparkContext.longAccumulator("hnsw_scored")
    AnnHnsw.annHnswServedOver(spark, hnswPath, queries(hnswPath), topK = 10,
      counter = Some(hnswAcc)).count()
    val hnswScored = hnswAcc.value
    // rows the IVF probe READS for the same queries = probed cells' sizes
    val cellSizes = spark.read.parquet(ivfPlainPath + "/vectors")
      .groupBy("cid").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    // r16: the ef-sweep — recall (vs the exact scan, the only honest
    // anchor) against scored candidates as the beam budget grows, at THIS
    // corpus size. One brute-force pass anchors all sweep points; per-point
    // state is 16 queries × topK rows.
    val bruteTop = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
      spark.read.parquet(hnswPath + "/vectors")
        .select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(queries(hnswPath)))
        .withColumn("score", round(graft.plans.VecExprs.cosineSim(
          col("embedding").cast("array<double>"), col("qv")), 4))
        .withColumn("rank", org.apache.spark.sql.functions.row_number().over(w))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    }
    val efSweep = Seq(2, 4, 8, 16, 32).map { ef =>
      val acc = spark.sparkContext.longAccumulator(s"hnsw_scored_ef$ef")
      val got = AnnHnsw.annHnswServedOver(spark, hnswPath, queries(hnswPath),
        topK = 10, ef = ef, counter = Some(acc))
        .select(col("query_id"), col("vec_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
      val recall = bruteTop.map { case (q, truth) =>
        got.getOrElse(q, Set.empty[Long]).count(truth) / truth.size.toDouble
      }.sum / bruteTop.size
      (ef, acc.value, recall)
    }
    val efSweepJson = efSweep.map { case (ef, scored, rec) =>
      s"""{"ef":$ef,"scored":$scored,"recall":${BigDecimal(rec)
        .setScale(3, BigDecimal.RoundingMode.HALF_UP)}}"""
    }.mkString("[", ",", "]")

    // r18: the CERTIFIED serve at the same scale — the r17 verdict's
    // recall-plateau item closed with a proof instead of a knob: descent
    // lower bound + cellstats triangle-inequality upper bound ⇒ exact
    // top-k. Receipts: serve latency (now ~one layer-0 job thanks to the
    // upper-layer cache), total scored work (descent + certification scan,
    // via the counter), and recall vs the exact scan, which must be 1.0 —
    // asserted, not just reported.
    val tCertServe = serveMin(
      AnnHnsw.annHnswServedCertifiedOver(spark, hnswPath, queries(hnswPath),
        topK = 10))
    val certAcc = spark.sparkContext.longAccumulator("cert_scored")
    val gotCert = AnnHnsw.annHnswServedCertifiedOver(spark, hnswPath,
      queries(hnswPath), topK = 10, counter = Some(certAcc))
      .select(col("query_id"), col("vec_id")).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val certRecall = bruteTop.map { case (q, truth) =>
      gotCert.getOrElse(q, Set.empty[Long]).count(truth) / truth.size.toDouble
    }.sum / bruteTop.size
    require(certRecall == 1.0,
      s"certified serve must be exact — measured recall $certRecall")
    val certScored = certAcc.value

    val cents = graft.operators.AnnStore.readCentroids(spark, ivfPlainPath)
    // the probe rule annIvfServedOver routes by (AnnIvf.probeIds), so the
    // receipt counts exactly the cells the serve reads; bounded collect:
    // 16 queries
    val probeRead = AnnIvf.collectQueries(queries(ivfPlainPath))
      .flatMap { case (_, qv) => AnnIvf.probeIds(qv, cents, nprobePlain) }
      .map(cellSizes.getOrElse(_, 0L)).sum

    // refresh receipt: dirty ~1/9973 of the corpus (norm-only change —
    // same cells stay affected), staged swap so the read side never sees a
    // half-written corpus
    val staged = new org.apache.hadoop.fs.Path(dir, "embeddings.parquet.staging")
    spark.read.parquet(embPath.toString)
      .select(col("vec_id"),
        when(col("vec_id") % 9973 === 0,
          transform(col("embedding"), x => x * lit(1.0002)))
          .otherwise(col("embedding")).as("embedding"),
        col("label"))
      .repartition(cpus)
      .write.mode("overwrite").parquet(staged.toString)
    fs.delete(embPath, true)
    fs.rename(staged, embPath)
    val (rPq, tPqRefresh) = time(AnnPq.refreshPqIndex(spark, dir, pqPath).collect())
    val (rIvf, tIvfRefresh) = time(AnnIvfPq.refreshIvfPqIndex(spark, dir, ivfPath, k = k).collect())
    val (rIvfP, tIvfPlainRefresh) =
      time(AnnIvf.refreshIvfIndex(spark, dir, ivfPlainPath, k = k).collect())
    def stat(r: Array[org.apache.spark.sql.Row], c: String) = r.head.getAs[Any](c)

    // r11 compaction receipt: the refresh just rewrote its affected cells
    // from many-partition frames — compact them back to sized files and
    // prove the serve is row-identical before/after
    val servedPre = AnnIvf.annIvfServedOver(spark, ivfPlainPath, queries(ivfPlainPath),
      topK = 10, nprobe = nprobePlain).collect().map(_.toSeq).toSeq
    val (comp, tCompact) = time(AnnIvf.compactIvfIndex(spark, ivfPlainPath).collect())
    val servedPost = AnnIvf.annIvfServedOver(spark, ivfPlainPath, queries(ivfPlainPath),
      topK = 10, nprobe = nprobePlain).collect().map(_.toSeq).toSeq
    require(servedPre == servedPost, "compaction changed serving results")
    val compRow = comp.find(_.getString(0) == "vectors").get

    println(
      s"""{"metric":"scale_receipt","n_vectors":$n,"scale":$scale,"k":$k,""" +
        s""""pq_build_sec":$tPqBuild,"ivfpq_build_sec":$tIvfBuild,""" +
        s""""ivf_build_sec":$tIvfPlainBuild,""" +
        s""""pq_serve_sec":$tPqServe,"ivfpq_serve_sec":$tIvfServe,""" +
        s""""ivf_serve_sec":$tIvfPlainServe,"ivf_filtered_serve_sec":$tIvfFiltServe,""" +
        s""""ivf_adaptive_serve_sec":$tIvfAdaptServe,""" +
        s""""pq_refresh_sec":$tPqRefresh,"pq_refresh_mode":"${stat(rPq, "mode")}",""" +
        s""""pq_cells_rewritten":${stat(rPq, "n_cells_rewritten")},""" +
        s""""ivfpq_refresh_sec":$tIvfRefresh,"ivfpq_refresh_mode":"${stat(rIvf, "mode")}",""" +
        s""""ivfpq_cells_rewritten":${stat(rIvf, "n_cells_rewritten")},""" +
        s""""ivf_refresh_sec":$tIvfPlainRefresh,"ivf_refresh_mode":"${stat(rIvfP, "mode")}",""" +
        s""""hnsw_build_sec":$tHnswBuild,"hnsw_serve_sec":$tHnswServe,""" +
        s""""hnsw_scored_candidates":$hnswScored,"ivf_probe_read_rows":$probeRead,""" +
        s""""hnsw_ef_sweep":$efSweepJson,""" +
        s""""hnsw_certified_serve_sec":$tCertServe,""" +
        s""""hnsw_certified_scored":$certScored,""" +
        s""""hnsw_certified_recall":$certRecall,""" +
        s""""compact_sec":$tCompact,"compact_units":${compRow.getLong(1)},""" +
        s""""compact_files_before":${compRow.getLong(2)},"compact_files_after":${compRow.getLong(3)}}""")
    spark.stop()
  }
}
