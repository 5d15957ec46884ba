package graft

import graft.operators.{Analytics, Dedup}
import graft.streaming.EventStream
import org.apache.spark.sql.functions._

class DedupStreamSpec extends SparkSpecBase {

  test("minhash-LSH candidates are a superset of high-jaccard blocked pairs it verifies") {
    // every pair minhash-LSH reports must also pass the exact jaccard bar
    val mh = Dedup.dedupMinhashLsh(spark, sf).cache()
    assert(mh.filter(col("jaccard") < 0.4).count() == 0)
    assert(mh.filter(col("a_id") >= col("b_id")).count() == 0)
    mh.unpersist()
  }

  test("simhash: identical docs would collide; reported pairs are within hamming bound") {
    val sh = Dedup.dedupSimhash(spark, sf).cache()
    assert(sh.filter(col("hamming") > 3).count() == 0)
    assert(sh.filter(col("hamming") < 0).count() == 0)
    sh.unpersist()
  }

  test("JVM-loop shingle codes agree with the HOF shingles+stringCode path") {
    val d = Tables.documents(spark, sf).limit(50)
    val both = d.select(
      sort_array(array_distinct(graft.plans.TextExprs.shingleCodes(col("text"), 3))).as("fast"),
      sort_array(array_distinct(transform(
        graft.functions.Text.shingles(col("text"), 3),
        s => graft.functions.Text.stringCode(s)))).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("exact dedup groups partition all docs") {
    val groups = Dedup.dedupExact(spark, sf)
    val total = groups.agg(sum("n_copies")).head().getLong(0)
    assert(total == Tables.documents(spark, sf).count())
  }

  test("stateful sessionization (flatMapGroupsWithState) equals the batch twin") {
    val streamed = graft.streaming.SessionStream.runToCompletion(spark, sf, "sess_spec")
      .select(col("user_id"), col("session_id"), col("n_events"),
        round(col("sum_value") + lit(1e-9), 2).as("sum_value"))
    val batch = Analytics.eventsSessionize(spark, sf)
      .select("user_id", "session_id", "n_events", "sum_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("buffered sessionization survives cross-batch disorder (bounded lateness)") {
    import org.apache.spark.sql.functions._
    // Build a 3-file input where some events arrive one batch LATE (within
    // the 1-hour watermark): tertile time ranges t1/t2, with events in the
    // 30 minutes before each boundary whose event_id % 5 == 0 deferred to
    // the next file. The plain fold's cross-batch in-order assumption is
    // violated; the buffered fold must still equal the batch twin.
    // vintage-neutral: ts may be long nanos (legacy files) or a µs
    // timestamp — split on a derived numeric column either way, and write
    // the files with the ORIGINAL ts so the stream reads its native vintage
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw0 = spark.read.parquet(s"$sf/events.parquet")
    val isNanos = raw0.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val tsNum = if (isNanos) col("ts")
      else unix_micros(col("ts").cast("timestamp"))
    val raw = raw0.withColumn("ts_cmp", tsNum)
    val Array(t1, t2) = raw.stat.approxQuantile("ts_cmp", Array(1.0 / 3, 2.0 / 3), 0.0)
      .map(_.toLong)
    val lateWin = 1800L * (if (isNanos) 1000000000L else 1000000L) // 30 min
    def straggler(bound: Long) =
      col("ts_cmp") >= bound - lateWin && col("ts_cmp") < bound && col("event_id") % 5 === 0
    val f1 = raw.filter(col("ts_cmp") < t1 && !straggler(t1)).drop("ts_cmp")
    val f2 = raw.filter((col("ts_cmp") >= t1 && col("ts_cmp") < t2 && !straggler(t2)) ||
      straggler(t1)).drop("ts_cmp")
    val f3 = raw.filter(col("ts_cmp") >= t2 || straggler(t2)).drop("ts_cmp")
    assert(f1.count() + f2.count() + f3.count() == raw0.count())
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_ooo").toString
    for ((f, i) <- Seq(f1, f2, f3).zipWithIndex) {
      val stage = s"$dir/stage_$i" // unique per run — concurrent-safe
      f.coalesce(1).write.parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(s"$dir/in", f"part$i%02d.parquet")
      dst.getParentFile.mkdirs()
      java.nio.file.Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1000000L * (i + 1)) // deterministic source order
    }
    val streamed = graft.streaming.SessionStream
      .runBufferedToCompletion(spark, s"$dir/in", "sess_buf_spec")
      .select(col("user_id"), col("session_id"), col("n_events"),
        round(col("sum_value") + lit(1e-9), 2).as("sum_value"))
    val batch = Analytics.eventsSessionize(spark, sf)
      .select("user_id", "session_id", "n_events", "sum_value")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("eventsStream serves the adjusted-to-UTC timestamp vintage the batch reader tolerates") {
    import spark.implicits._
    // write ts as a plain TimestampType column — the third vintage (LTZ /
    // INT96 physical): the stream must declare the probed type and serve
    // it as-is instead of mis-declaring NTZ and failing at first read
    val dir = java.nio.file.Files.createTempDirectory("graft_evtltz").toString
    Seq((1L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), 7L, "click", 1.5, "{}"),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:01:00"), 7L, "purchase", 2.5, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.parquet(dir + "/stage")
    // land as a single FILE named events.parquet (the glob the testdata
    // vintage uses), like the driver-generated tables
    val part = new java.io.File(dir + "/stage").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "events.parquet"))
    val q = graft.Tables.eventsStream(spark, dir)
      .writeStream.format("memory").queryName("ltz_vintage")
      .option("checkpointLocation", dir + "_ck").start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("ltz_vintage")
    assert(out.count() == 2)
    assert(out.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("near-dup clusters: pairs share a label, labels are component minima") {
    val labels = Dedup.nearDupClusters(spark, sf).cache()
    val lab = labels.select(col("doc_id"), col("cluster_id"))
    // every verified near-dup pair ends up in the same cluster
    val pairs = Dedup.dedupMinhashLsh(spark, sf).select("a_id", "b_id")
    val split = pairs
      .join(lab.toDF("a_id", "ca"), "a_id")
      .join(lab.toDF("b_id", "cb"), "b_id")
      .filter(col("ca") =!= col("cb")).count()
    assert(split == 0)
    // a label never exceeds its member and is itself a cluster root
    assert(labels.filter(col("cluster_id") > col("doc_id")).count() == 0)
    val roots = lab.toDF("root_id", "root_label")
    val badRoot = lab.join(roots, col("cluster_id") === col("root_id"))
      .filter(col("root_label") =!= col("cluster_id")).count()
    assert(badRoot == 0)
    // survivors = distinct clusters
    assert(labels.filter(col("is_survivor")).count() ==
      lab.select("cluster_id").distinct().count())
    // the distributed label-propagation fallback (forced via
    // maxDriverPairs = -1) produces the identical clustering
    assert(pairs.count() > 0) // a vacuous comparison would prove nothing
    val distributed = Dedup.nearDupClusters(spark, sf, maxDriverPairs = -1L)
    assert(labels.exceptAll(distributed).count() == 0 &&
      distributed.exceptAll(labels).count() == 0)
    labels.unpersist()
  }

  test("star contraction resolves a long chain in O(log diameter) rounds") {
    import spark.implicits._
    // a 200-node path graph is the adversarial case for min-label
    // propagation: the minimum must travel 199 hops, one per round. The
    // large-star/small-star contraction collapses it geometrically, so a
    // 12-round budget (≈ log2(199) + slack) only converges for the
    // logarithmic algorithm — a propagation loop under the same budget
    // would leave most labels wrong and fail the assertions below.
    val n = 200L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val docs = (1L to n + 5).toDF("doc_id") // +5 isolated docs
    val out = Dedup.connectedComponentsOver(spark, chain, docs,
      maxIters = 12, maxDriverPairs = -1L).cache()
    assert(out.count() == n + 5)
    // every chain node labeled with the component minimum
    assert(out.filter(col("doc_id") <= n)
      .filter(col("cluster_id") =!= 1L).count() == 0,
      "chain must fully contract to its minimum within the log-round budget")
    assert(out.filter(col("doc_id") === 1L).head().getAs[Boolean]("is_survivor"))
    // isolated docs are their own singleton components
    assert(out.filter(col("doc_id") > n)
      .filter(col("cluster_id") =!= col("doc_id")).count() == 0)
    // and reversed/duplicated edges canonicalize instead of corrupting
    val messy = Seq((5L, 3L), (3L, 5L), (5L, 5L), (7L, 5L)).toDF("a_id", "b_id")
    val out2 = Dedup.connectedComponentsOver(spark, messy,
      Seq(3L, 5L, 7L).toDF("doc_id"), maxIters = 6, maxDriverPairs = -1L)
    assert(out2.filter(col("cluster_id") =!= 3L).count() == 0)
    out.unpersist()
  }

  test("streaming dedup emits one row per content hash") {
    val out = graft.streaming.DedupStream.runToCompletion(spark, sf, "dedup_stream_spec").cache()
    assert(out.count() > 0)
    assert(out.groupBy("content_hash").count().filter(col("count") > 1).count() == 0)
    // no more rows than distinct payloads in the batch view
    val batchDistinct = Tables.events(spark, sf)
      .select(md5(concat_ws("|", col("user_id"), col("event_type"), col("value"), col("props"))))
      .distinct().count()
    assert(out.count() <= batchDistinct)
    out.unpersist()
  }

  test("streaming index build produces the same chunks+embeddings as batch") {
    val out = java.nio.file.Files.createTempDirectory("graft_idx_stream").toString + "/idx"
    val streamed = graft.streaming.IndexStream.runToParquet(spark, sf, out)
    val batch = new Graft(spark, sf).buildIndex()
    val sCore = streamed.select("doc_id", "chunk_idx", "chunk_text")
    val bCore = batch.select("doc_id", "chunk_idx", "chunk_text")
    assert(sCore.exceptAll(bCore).count() == 0 && bCore.exceptAll(sCore).count() == 0)
    // embeddings identical too (deterministic embedder)
    val je = streamed.select(col("doc_id"), col("chunk_idx"), col("emb").as("s_emb"))
      .join(batch.select(col("doc_id"), col("chunk_idx"), col("emb").as("b_emb")),
        Seq("doc_id", "chunk_idx"))
    assert(je.filter(col("s_emb") =!= col("b_emb")).count() == 0)
  }

  test("streaming PDF round-trip decode equals the batch pdf_decode_real twin") {
    val out = java.nio.file.Files.createTempDirectory("graft_media_stream").toString + "/pdf"
    val streamed = graft.streaming.MediaStream.runToParquet(spark, sf, out)
    val batch = graft.operators.Multimodal.pdfRoundTrip(spark, sf)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0)
    // every document really took the decode path (parsed as a PDF)
    assert(streamed.filter(!col("is_pdf")).count() == 0)
  }

  test("streaming windowed agg equals the batch twin") {
    val streamed = EventStream.runToCompletion(spark, sf, "events_stream_spec")
      .orderBy("window_start", "event_type")
    val batch = Analytics.eventsWindow(spark, sf)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }
}
