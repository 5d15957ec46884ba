package graft

import graft.operators.{AnnHnsw, AnnIvf, AnnStore}
import graft.plans.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C6h hierarchical graph ANN: level distribution, serve contract, recall
  * vs brute force, refresh surgery, and the VERDICT receipt — greedy
  * descent SCORES fewer candidates than the IVF probe READS at equal or
  * better recall, on a corpus big enough for cells to dwarf the beam.
  */
class AnnHnswSpec extends SparkSpecBase {
  import spark.implicits._

  private def brute(corpus: DataFrame, nQ: Int, topK: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = corpus.filter(col("vec_id") < nQ)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    corpus.crossJoin(broadcast(q))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .select(col("query_id"), col("vec_id"),
        round(VecExprs.cosineSim(col("embedding").cast("array<float>"),
          col("qv").cast("array<float>")), 4).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
  }

  private def recallOf(got: DataFrame, truth: DataFrame): Double = {
    val hit = got.select("query_id", "vec_id")
      .join(truth.select("query_id", "vec_id"), Seq("query_id", "vec_id")).count()
    hit.toDouble / truth.count()
  }

  test("hnsw: hashed level distribution matches P(level >= l) = m^-l") {
    val ids = spark.range(0, 20000).select(col("id").as("vec_id"))
    val m = 4
    val counts = ids.withColumn("lvl", AnnHnsw.levelCol(m, 10))
      .groupBy("lvl").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val atLeast1 = counts.filter(_._1 >= 1).values.sum.toDouble / 20000
    val atLeast2 = counts.filter(_._1 >= 2).values.sum.toDouble / 20000
    assert(math.abs(atLeast1 - 0.25) < 0.02, s"P(>=1) = $atLeast1")
    assert(math.abs(atLeast2 - 0.0625) < 0.01, s"P(>=2) = $atLeast2")
    // deterministic: same ids, same levels
    val again = ids.withColumn("lvl", AnnHnsw.levelCol(m, 10))
      .groupBy("lvl").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(again == counts)
  }

  test("hnsw: served results honor the row contract and beat the recall floor") {
    val path = "/tmp/graft_test_hnsw_idx"
    AnnStore.fileSystem(spark, path)
      .delete(new org.apache.hadoop.fs.Path(path), true)
    AnnHnsw.ensureHnswIndex(spark, sf, path)
    val got = AnnHnsw.annHnswServed(spark, path, nQueries = 10, topK = 5).cache()
    assert(got.count() == 50)
    assert(got.filter(col("vec_id") === col("query_id")).count() == 0) // self excluded
    val ranks = got.groupBy("query_id").agg(collect_list("rank").as("rs"))
    assert(ranks.filter(array_sort(col("rs")) =!=
      sequence(lit(1L), lit(5L))).count() == 0)
    // same floor as the flat graph arm (C6)
    val truth = brute(Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding")), 10, 5)
    val rec = recallOf(got, truth)
    assert(rec >= 0.4, s"hnsw recall@5 = $rec")
    // deterministic serve
    val again = AnnHnsw.annHnswServed(spark, path, nQueries = 10, topK = 5)
    assert(got.collect().map(_.toSeq).toSeq == again.collect().map(_.toSeq).toSeq)
    got.unpersist()
  }

  test("hnsw on a tiny corpus (n < k): one-block top layer, serving still fills") {
    // n=6 with default k=16: maxLvl derives from n, so ceil(k/m^maxLvl)
    // would be > 1 — the top layer must still be forced to ONE block and
    // every query must keep its quantizer fallback even when the frontier
    // empties (the r15 review catch)
    val work = "/tmp/graft_test_hnsw_tiny"
    val fs = AnnStore.fileSystem(spark, work)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val corpusDir = work + "/corpus"
    Tables.embeddings(spark, sf).filter(col("vec_id") < 6)
      .write.parquet(corpusDir + "/embeddings.parquet")
    val path = work + "/idx"
    AnnHnsw.ensureHnswIndex(spark, corpusDir, path)
    val maxLvl = AnnStore.readManifest(spark, path)
      .flatMap(AnnStore.manifestInt(_, "max_lvl")).get
    val topBlocks = spark.read.parquet(s"$path/layer$maxLvl")
      .select("cid").distinct().collect().map(_.getInt(0)).toSet
    assert(topBlocks == Set(0), s"top layer must be one block, got $topBlocks")
    val got = AnnHnsw.annHnswServed(spark, path, nQueries = 3, topK = 3).cache()
    // 6 points under k=16 means singleton cells with no in-cell edges —
    // full topK is not reachable by ANY probed arm here; the contract is
    // that no query VANISHES (pre-fix: an emptied frontier dropped the
    // query entirely) and nothing over-fills
    val perQ = got.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 3L).foreach { q =>
      assert(perQ.getOrElse(q, 0L) >= 1, s"query $q returned nothing")
      assert(perQ(q) <= 3, s"query $q overfilled")
    }
    got.unpersist()
  }

  test("hnsw refresh: level-0-only edits leave every upper layer byte-identical") {
    val work = "/tmp/graft_test_hnsw_refresh"
    val fs = AnnStore.fileSystem(spark, work)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val corpusDir = work + "/corpus"
    Tables.embeddings(spark, sf).write.parquet(corpusDir + "/embeddings.parquet")
    val path = work + "/idx"
    AnnHnsw.ensureHnswIndex(spark, corpusDir, path)
    val maxLvl = AnnStore.readManifest(spark, path)
      .flatMap(AnnStore.manifestInt(_, "max_lvl")).get
    def layerState(): Seq[(String, Long, Long)] =
      (1 to maxLvl).flatMap { l =>
        val dir = new org.apache.hadoop.fs.Path(s"$path/layer$l")
        AnnStore.fileSystem(spark, path).listStatus(dir).toSeq.flatMap { st =>
          if (st.isDirectory)
            AnnStore.fileSystem(spark, path).listStatus(st.getPath)
              .filter(_.isFile).toSeq.map(f =>
                (f.getPath.toString, f.getLen, f.getModificationTime))
          else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      }
    // pick a vec_id whose hash level is 0 and which is not the pinned min
    val lvl0Id = spark.range(1, 2000).select(col("id").as("vec_id"))
      .withColumn("lvl", AnnHnsw.levelCol(4, maxLvl))
      .filter(col("lvl") === 0).orderBy("vec_id").head().getLong(0)
    def perturb(id: Long): Unit = {
      val cur = spark.read.parquet(corpusDir + "/embeddings.parquet")
        .select(col("vec_id"),
          when(col("vec_id") === id,
            transform(col("embedding"), x => x * lit(1.01f)))
            .otherwise(col("embedding")).as("embedding"),
          col("label")).cache()
      cur.count()
      cur.write.mode("overwrite").parquet(corpusDir + "/embeddings.parquet.tmp")
      cur.unpersist()
      fs.delete(new org.apache.hadoop.fs.Path(corpusDir + "/embeddings.parquet"), true)
      fs.rename(new org.apache.hadoop.fs.Path(corpusDir + "/embeddings.parquet.tmp"),
        new org.apache.hadoop.fs.Path(corpusDir + "/embeddings.parquet"))
    }
    val before = layerState()
    perturb(lvl0Id)
    val r1 = AnnHnsw.refreshHnswIndex(spark, corpusDir, path).head()
    assert(r1.getAs[String]("mode") == "incremental")
    assert(layerState() == before, "upper layers must be untouched")
    // now a level >= 1 node: upper layers rebuild
    val lvl1Id = spark.range(1, 2000).select(col("id").as("vec_id"))
      .withColumn("lvl", AnnHnsw.levelCol(4, maxLvl))
      .filter(col("lvl") >= 1).orderBy("vec_id").head().getLong(0)
    perturb(lvl1Id)
    val r2 = AnnHnsw.refreshHnswIndex(spark, corpusDir, path).head()
    assert(r2.getAs[String]("mode") == "incremental")
    assert(layerState() != before, "upper layers must have been rebuilt")
    // the refreshed store still serves sanely
    val got = AnnHnsw.annHnswServed(spark, path, nQueries = 5, topK = 5)
    assert(got.count() == 25)
  }

  test("hnsw receipt: descent scores fewer candidates than the IVF probe reads, at >= recall") {
    // 64x-replicated corpus (ScaleReceipt's norm-only perturbation — cosine
    // cell shape survives) so cells dwarf the beam: n = 32k, capacity ~2k
    val work = "/tmp/graft_test_hnsw_receipt"
    val fs = AnnStore.fileSystem(spark, work)
    fs.delete(new org.apache.hadoop.fs.Path(work), true)
    val corpusDir = work + "/corpus"
    val scale = 64
    Tables.embeddings(spark, sf)
      .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
      .select((col("vec_id") * scale + col("rep")).as("vec_id"),
        transform(col("embedding"),
          x => x * (lit(1.0f) + (col("rep") % 97).cast("float") / lit(1000.0f)))
          .as("embedding"),
        col("label"))
      .write.parquet(corpusDir + "/embeddings.parquet")
    val corpus = spark.read.parquet(corpusDir + "/embeddings.parquet")
    val n = corpus.count()
    assert(n == 32000)

    val nQ = 8; val topK = 5; val nprobe = 2
    val qs = corpus.filter(col("vec_id") % scale === 0 && col("vec_id") < nQ * scale)
      .select(col("vec_id").as("query_id"),
        col("embedding").cast("array<double>").as("qv"))

    // IVF side: rows the probe READS = the probed cells' populations
    val ivfPath = work + "/ivf"
    AnnIvf.ensureIvfIndex(spark, corpusDir, ivfPath)
    val ivfGot = AnnIvf.annIvfServedOver(spark, ivfPath, qs, topK = topK,
      nprobe = nprobe).cache()
    val centroids = AnnStore.readCentroids(spark, ivfPath)
    val cellSizes = spark.read.parquet(ivfPath + "/vectors")
      .groupBy("cid").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val qRows = qs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Double](1).map(_.toFloat).toArray)
    val probeRead = qRows.map { case (_, qv) =>
      centroids.indices.map(i => (cosFD(qv, centroids(i)), i))
        .sorted.reverse.take(nprobe).map(t => cellSizes.getOrElse(t._2, 0L)).sum
    }.sum

    // HNSW side: candidates SCORED, counted by the descent itself
    val hnswPath = work + "/hnsw"
    AnnHnsw.ensureHnswIndex(spark, corpusDir, hnswPath)
    val acc = spark.sparkContext.longAccumulator("hnsw_scored")
    val hnswGot = AnnHnsw.annHnswServedOver(spark, hnswPath,
      qs.toDF("query_id", "qv"), topK = topK, ef = 24, hops = 4, beam = 48,
      counter = Some(acc)).cache()
    val scored = acc.value

    val truth = brute(corpus.select(col("vec_id"), col("embedding")), nQ * scale,
      topK, excludeSelf = false)
      .join(qs.select("query_id"), "query_id")
    val ivfRecall = recallOf(ivfGot, truth)
    val hnswRecall = recallOf(hnswGot, truth)
    info(s"n=$n probeRead=$probeRead scored=$scored " +
      s"ivfRecall=$ivfRecall hnswRecall=$hnswRecall")
    assert(hnswRecall >= ivfRecall,
      s"hnsw recall $hnswRecall < ivf recall $ivfRecall")
    assert(scored < probeRead,
      s"descent scored $scored candidates vs $probeRead probe-read rows")
    // and not by a hair: the hierarchy should be several times cheaper
    assert(scored * 2 < probeRead,
      s"expected >= 2x fewer candidates ($scored vs $probeRead)")
    ivfGot.unpersist(); hnswGot.unpersist()
  }

  /** Float-vs-double cosine, the probe selection's operand types. */
  private def cosFD(x: Array[Float], y: Array[Double]): Double = {
    val nn = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < nn) {
      val xi = x(i).toDouble; val yi = y(i)
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-10)
  }
}
