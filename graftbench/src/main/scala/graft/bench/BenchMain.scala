package graft.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Graft, IndexStore}

/** One benchmark run of one workload, driven by `run.py`.
  *
  * `BenchMain <config.json>` reads the run's settings and the corpus plan
  * that `corpus.py` wrote, sets the program up, warms up, runs the
  * workload's single closed-loop client for `seconds`, checks every answer,
  * and writes raw samples (and, traced, the spans) as JSON to the config's
  * `out`. `run.py` turns them into metrics.
  */
object BenchMain {
  private val mapper = new ObjectMapper()

  final class Config(node: JsonNode) {
    def str(k: String): String = node.get(k).asText()
    def int(k: String): Int = node.get(k).asInt()
    def dbl(k: String): Double = node.get(k).asDouble()
  }

  def main(args: Array[String]): Unit = {
    val cfg = new Config(mapper.readTree(new File(args(0))))
    val plan = mapper.readTree(new File(cfg.str("plan")))
    val tracer = new Tracer(cfg.int("trace") == 1)
    val run = new Run(cfg, plan, tracer)
    val out = try run.execute() finally run.stop()
    out("spans") = tracer.spans.map { s =>
      Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "seconds" -> s.seconds,
        "counts" -> Meter.Fields.zip(s.counts).toMap, "attrs" -> s.attrs)
    }
    out("job_windows") = tracer.meter.jobWindows.map { case (a, b) => Seq(a, b) }
    Files.writeString(Paths.get(cfg.str("out")), mapper.writeValueAsString(Json.java(out)))
    if (run.failures.nonEmpty) sys.exit(3)
  }
}

/** Scala collections to Jackson-writable Java ones. */
object Json {
  def java(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => k.toString -> java(x) }.toMap.asJava
    case s: Iterable[_] => s.map(java).toSeq.asJava
    case a: Array[_] => a.toSeq.map(java).asJava
    case x => x
  }
}

final class Run(cfg: BenchMain.Config, plan: JsonNode, span: Tracer) {
  private val workload = cfg.str("workload")
  private val corpus = cfg.str("corpus")
  private val workRoot = cfg.str("work")
  private val seconds = cfg.dbl("seconds")
  private val topK = 10
  /** One round of the window. Exact runs twice: its calls are the shortest,
    * about half their time is executor tasks on all four cores, and they
    * vary most from call to call. */
  private val round = Seq("ann", "exact", "hybrid", "exact")
  /** Whole rounds before the window: two calls of ann and hybrid, four of
    * exact. The first call of a kind pays its cold query plans; ann's and
    * hybrid's second call was up to 40% slower than their third, and
    * exact's third call was still 1.3-2 times slower than its later ones.
    * With the JVM on C1 only and a code cache large enough for the run
    * (see run.py) the calls after the warm-up are flat. */
  private val warmupRounds = 2
  /** The window runs at least this many whole rounds. Set-up and warm-up
    * take two thirds of a run, and every run of both workloads must fit
    * the benchmark's time budget. In ten three-round serve runs, medians
    * of the first two rounds spread 0.14-0.16 between runs where medians
    * of all three spread 0.11-0.12. A traced run's window is one round: its per-layer metrics
    * are counts and shares per call, and its time goes to the layer
    * probes, the watch ticks and curation. */
  private val minRounds = 2

  val failures = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failedOps = 0L
  private val out = mutable.Map.empty[String, Any]
  private var spark: SparkSession = _
  /** The facade's work directory: documents table, chunk store, outputs. */
  private var work: String = _

  private def arr(k: String): Seq[JsonNode] = plan.get(k).elements().asScala.toSeq
  private val queries = arr("queries").map(_.asText()).toIndexedSeq
  private var cursor = 0
  private def nextQuery(): String = { val q = queries(cursor % queries.size); cursor += 1; q }

  /** The program's doc_id of a corpus-relative path: abs(xxhash64(path)). */
  private def docId(rel: String): Long = math.abs(
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(rel)), 42L).eval().asInstanceOf[Long])
  private val excludedIds = arr("excluded").map(n => docId(n.asText())).toSet
  private val removedIds = mutable.Set.empty[Long]

  /** Record a check; a failed check fails its op and the run. */
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      if (failures.size < 20) failures += what
      failedOps += 1
    }

  private val started = System.nanoTime()
  /** A progress line on stderr: where a run's time goes. */
  private def note(phase: String): Unit =
    System.err.println(f"[graftbench] $phase done at ${(System.nanoTime() - started) / 1e9}%.1f s")

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.local.dir", s"$workRoot/spark-local")
      .config("spark.sql.warehouse.dir", s"$workRoot/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.addSparkListener(span.meter)
    s
  }

  def stop(): Unit = if (spark != null) spark.stop()

  // ------------------------------------------------------------------ setup

  /** SparkSession start to ready to serve. */
  private def setup(): Graft = {
    work = s"$workRoot/graft"
    val (g, t) = timed {
      span("setup") {
        spark = span("spark.session") { newSession() }
        val g = span("sources.discover") { Graft.forDirectory(spark, corpus, work) }
        span("AnnIvf.build") { g.ensureChunkAnnIndex() }
        span("Bm25Store.build") { g.ensureChunkLexIndex() }
        span("Graft.serving_index") { g.servingIndex }
        g
      }
    }
    out("setup_s") = t
    g
  }

  // ----------------------------------------------------------------- checks

  /** Brute-force exact search over (doc_id, chunk_idx, emb) rows. */
  private final class BruteForce(g: Graft, index: DataFrame) {
    private val rows = index.select("doc_id", "chunk_idx", "emb").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Double](2).toArray))
    private val memo = mutable.Map.empty[String, Seq[((Long, Long), Double)]]

    /** Exact top-k keys with scores, ties broken like the program. */
    def top(q: String): Seq[((Long, Long), Double)] = memo.getOrElseUpdate(q, {
      val v = g.embedder.embedText(q)
      val nv = math.sqrt(v.map(x => x * x).sum)
      rows.map { case (d, c, e) =>
        var dot = 0.0; var ne = 0.0; var i = 0
        val n = math.min(e.length, v.length)
        while (i < n) { dot += e(i) * v(i); ne += e(i) * e(i); i += 1 }
        ((d, c), dot / (math.sqrt(ne) * nv + 1e-10))
      }.sortBy { case ((d, c), s) => (-s, d, c) }.take(topK).toSeq
    })
  }

  private def keys(rows: Seq[Row]): Seq[(Long, Long)] =
    rows.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")))

  /** Top-k equality up to ties: every differing slot scores like the k-th. */
  private def sameTop(got: Seq[Row], want: Seq[((Long, Long), Double)]): Boolean = {
    val g = keys(got)
    g.size == want.size && (g == want.map(_._1) || {
      val kth = want.last._2
      val wantSet = want.map(_._1).toSet
      g.zip(got).forall { case (key, r) =>
        wantSet.contains(key) || math.abs(r.getAs[Double]("score") - kth) < 1e-9 }
    })
  }

  private def clean(rows: Seq[Row], what: String): Unit = {
    val bad = rows.map(_.getAs[Long]("doc_id")).filter(d => excludedIds(d) || removedIds(d))
    check(bad.isEmpty, s"$what returned an excluded or deleted doc ${bad.headOption.getOrElse(0L)}")
  }

  // ------------------------------------------------------------------ run

  def execute(): mutable.Map[String, Any] = {
    require(Set("serve", "batch")(workload), s"unknown workload $workload")
    val g = setup()
    note("setup")
    val bf = new BruteForce(g, g.servingIndex)
    val batchSize = cfg.int("batch_size")

    /** One op: a single query (serve) or a `batchSize` batch (batch). */
    def op(kind: String): Double = {
      attempted += 1
      span.op += 1
      if (workload == "serve") {
        val q = nextQuery()
        val one = Map("queries" -> 1.0)
        val (rows, t) = timed {
          (kind match {
            case "ann" => span("Graft.ann", one) { g.ragQueryAnn(q, topK).collect() }
            case "exact" => span("Graft.exact", one) { g.ragQuery(q, topK).collect() }
            case "hybrid" => span("Graft.hybrid", one) { g.ragQueryHybrid(q, topK).collect() }
          }).toSeq
        }
        check(rows.nonEmpty, s"$kind returned nothing for '$q'")
        if (kind == "exact") check(sameTop(rows, bf.top(q)), s"ragQuery top-$topK differs from brute force for '$q'")
        clean(rows, kind)
        t
      } else {
        val qs = Seq.fill(batchSize)(nextQuery())
        val n = Map("queries" -> qs.size.toDouble)
        val (rows, t) = timed {
          (kind match {
            case "ann" => span("Graft.ann", n) { g.ragQueryAnnBatch(qs, topK).collect() }
            case "exact" => span("Graft.exact", n) { g.ragQueryBatch(qs, topK).collect() }
            case "hybrid" => span("Graft.hybrid", n) { g.ragQueryHybridBatch(qs, topK).collect() }
          }).toSeq
        }
        val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
        check(qs.indices.forall(i => byQuery.contains(i.toLong)), s"$kind batch left a query unanswered")
        if (kind == "exact")
          check(qs.indices.forall(i => sameTop(byQuery.getOrElse(i.toLong, Nil), bf.top(qs(i)))),
            "ragQueryBatch differs from brute force")
        clean(rows, s"$kind batch")
        t
      }
    }

    for (_ <- 0 until warmupRounds) round.foreach(op)
    note("warm-up")

    // the measured window: whole rounds of the op kinds, one client, closed
    // loop, ending on a whole round
    val samples = mutable.ArrayBuffer.empty[(String, Double)]
    val gc0 = gcSeconds()
    val t0 = System.nanoTime()
    val (deadline, rounds) = if (span.on) (t0, 1) else (t0 + (seconds * 1e9).toLong, minRounds)
    var n = 0
    while (System.nanoTime() < deadline || n < rounds * round.size || n % round.size != 0) {
      val kind = round(n % round.size)
      samples += ((kind, op(kind)))
      n += 1
    }
    out("window_s") = (System.nanoTime() - t0) / 1e9
    out("gc_s") = gcSeconds() - gc0
    note("window")
    // what the session retains once the window's garbage is collected; the
    // pause lets Spark's ContextCleaner drop the blocks the first GC freed.
    // An end-to-end metric, so a traced run skips it.
    if (!span.on) {
      System.gc(); Thread.sleep(500); System.gc()
      out("heap_live_bytes") = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    out("samples") = samples.map { case (k, t) => Map("kind" -> k, "s" -> t) }
    out("queries_per_op") = if (workload == "serve") 1 else batchSize

    // recall@k of ANN against exact search on a fixed query set (untimed)
    val recallQs = queries.distinct.take(cfg.int("recall_queries"))
    val hits = g.ragQueryAnnBatch(recallQs, topK).collect().toSeq.groupBy(_.getAs[Long]("query_id"))
    val recall = recallQs.indices.map { i =>
      val want = bf.top(recallQs(i)).map(_._1).toSet
      keys(hits.getOrElse(i.toLong, Nil)).count(want).toDouble / want.size
    }.sum / recallQs.size
    out("recall") = recall
    check(recall >= cfg.dbl("recall_floor"), s"ANN recall@$topK $recall below the floor ${cfg.dbl("recall_floor")}")
    out("index_bytes") = Seq(g.chunkAnnPath, g.chunkLexPath).map(localBytes).sum
    out("corpus_bytes") = corpusBytes()
    note("recall")

    if (span.on) {
      layers(g)
      overhead(g)
      note("layers")
      watchTicks(g)
      note("watch ticks")
      curate(g)
      note("curate")
    }
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    out("peak_rss_kb") = status.find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    out("attempted") = attempted
    out("failed") = failedOps
    out("failures") = failures
    out
  }

  private def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  private def dirBytes(f: File): Long =
    if (f.isDirectory) f.listFiles().map(dirBytes).sum else f.length()

  private def fileCount(f: File): Long =
    if (f.isDirectory) f.listFiles().map(fileCount).sum else 1L

  private def localBytes(path: String): Long = dirBytes(RedirectedFs.redirect(new File(path)))

  private def corpusBytes(): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) {
        if (f.getName == "node_modules") 0L else f.listFiles().map(walk).sum
      } else f.length()
    walk(new File(corpus))
  }

  // ---------------------------------------------------- traced run: layers

  /** The serve layers under one query of each kind, called directly. */
  private def layers(g: Graft): Unit = {
    val session = spark
    import session.implicits._
    for (q <- queries.distinct.take(cfg.int("layer_queries"))) {
      span.op += 1
      val qv = span("Embedder.embed_text") { g.embedder.embedText(q) }
      val qFrame = Seq((0L, qv.toSeq)).toDF("query_id", "qv")
      val hits = span("AnnIvf.serve") {
        graft.operators.AnnIvf.annIvfServedOver(spark, g.chunkAnnPath, qFrame, topK, 2)
          .select("query_id", "vec_id", "cid", "score").collect()
      }
      span("AnnIvf.hit_join", Map("hits" -> hits.length.toDouble)) {
        val hitFrame = hits.map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
          .toDF("query_id", "vec_id", "score")
        graft.operators.AnnIvf.probeCells(spark, g.chunkAnnPath, hits.map(_.getInt(2)).distinct.toSeq)
          .join(broadcast(hitFrame), "vec_id").collect()
      }
      span("Bm25Store.scores") {
        graft.operators.Bm25Store.scoresFromStore(spark, g.chunkLexPath, q).collect()
      }
    }
    span.op += 1
    val batch = queries.distinct.take(cfg.int("recall_queries"))
    span("Graft.batch", Map("queries" -> batch.size.toDouble)) { g.ragQueryBatch(batch, topK).collect() }
    span.op += 1
    span("Chunker.index_build") {
      graft.operators.Chunker.indexBuild(spark, work).agg(count(lit(1))).collect()
    }
    span("Embedder.embed_frame") {
      g.embedder.embedFrame(graft.operators.Chunker.indexBuild(spark, work), "chunk_text", "emb")
        .agg(sum(size(col("emb")))).collect()
    }
  }

  /** The same op sequence untraced, then traced: the wall-time ratio. */
  private def overhead(g: Graft): Unit = {
    val qs = queries.distinct.take(3)
    def ops(): Unit = qs.foreach(q => span("overhead.exact") { g.ragQuery(q, topK).collect() })
    span.on = false
    val plain = try timed(ops())._2 finally span.on = true
    val traced = timed(ops())._2
    out("trace_overhead") = Map("plain_s" -> plain, "traced_s" -> traced)
  }

  // ------------------------------------------------ traced run: watch ticks

  private def appendTo(rel: String, text: String): Unit =
    Files.writeString(Paths.get(corpus, rel), text, UTF_8, StandardOpenOption.APPEND)

  /** Apply one tick of the edit script; returns (dirty paths, probe path). */
  private def edit(spec: JsonNode): (Seq[String], String) = {
    val appends = spec.get("append").elements().asScala.toSeq.map(a => (a.get(0).asText(), a.get(1).asText()))
    appends.foreach { case (rel, text) => appendTo(rel, text) }
    val added = spec.get("add")
    val p = Paths.get(corpus, added.get(0).asText())
    Files.createDirectories(p.getParent)
    Files.writeString(p, added.get(1).asText(), UTF_8)
    val victim = spec.get("delete").asText()
    Files.delete(Paths.get(corpus, victim))
    removedIds += docId(victim)
    (appends.map(_._1).distinct :+ added.get(0).asText(), spec.get("probe").asText())
  }

  /** Two ticks of the edit script over a saved chunk store. The first is a
    * full `reindexDirectory` followed by the freshness query. The second
    * splits one tick into its parts, all on that tick's edits: the rescan
    * and the store update called directly; then `reindexDirectory`, whose
    * diff finds nothing left to do, so its extra work is the refresh of the
    * derived ANN and BM25 indexes; then the rescan and update again on the
    * now settled tree. The derived refresh is the third step's time minus
    * the last two.
    */
  private def watchTicks(g: Graft): Unit = {
    val store = s"$work/store"
    span.op += 1
    span("IndexStore.save") { g.incrementalUpdate(store).collect() }
    // ragQuery against brute force over the store as read back
    val stored = new BruteForce(g, IndexStore.load(spark, store, g.meta)
      .getOrElse(throw new IllegalStateException("chunk store unreadable after save")))
    for (q <- queries.distinct.take(cfg.int("layer_queries"))) {
      attempted += 1
      check(sameTop(g.ragQuery(q, topK).collect().toSeq, stored.top(q)),
        s"ragQuery top-$topK differs from brute force over the saved store for '$q'")
    }
    val ticks = arr("ticks")

    span.op += 1
    attempted += 2
    val (dirty, probe) = edit(ticks.head)
    val stats = span("Graft.reindex") { g.reindexDirectory(store).collect().head }
    check(stats.getAs[Long]("n_added") == 1L && stats.getAs[Long]("n_removed") == 1L &&
      stats.getAs[Long]("n_changed") == dirty.size - 1L, s"reindex stats ${stats.mkString(",")}")
    // every cell probed: a miss means the refresh lost the new text, not
    // that IVF's approximation skipped its cell
    val fresh = ticks.head.get("fresh_query").asText()
    val rows = span("Graft.fresh_ann") {
      g.ragQueryAnn(fresh, topK, nprobe = Graft.DefaultChunkAnnK).collect()
    }.toSeq
    check(rows.exists(_.getAs[Long]("doc_id") == docId(probe)),
      s"the edited file $probe is missing from the fresh top-$topK")
    clean(rows, "fresh query")

    span.op += 1
    attempted += 1
    val (dirty2, _) = edit(ticks(1))
    def rescan(): Unit = Graft.landDocuments(Graft.discoverDocuments(spark, corpus,
      Graft.DefaultAllowedExt, Graft.DefaultExcludedFolders, work), work)
    span("sources.rescan") { rescan() }
    span("IndexStore.incremental_update") { g.incrementalUpdate(store).collect() }
    val settled = span("Graft.reindex_settled") { g.reindexDirectory(store).collect().head }
    check(Seq("n_added", "n_changed", "n_removed").forall(settled.getAs[Long](_) == 0L),
      s"reindex after a direct update still found edits: ${settled.mkString(",")}")
    span("sources.rescan_settled") { rescan() }
    span("IndexStore.update_settled") { g.incrementalUpdate(store).collect() }
    val dirtyIds = dirty2.map(docId).toSet
    val chunks = IndexStore.load(spark, store, g.meta).get.select("doc_id").collect().map(_.getLong(0))
    out("tick") = Map(
      "ann_cells_rewritten" -> stats.getAs[Long]("ann_cells_rewritten"),
      "lex_cells_rewritten" -> stats.getAs[Long]("lex_cells_rewritten"),
      "dirty_chunks" -> chunks.count(dirtyIds),
      "ann_store_files" -> fileCount(RedirectedFs.redirect(new File(g.chunkAnnPath))))
  }

  // ---------------------------------------------------- traced run: curate

  /** Two `buildTrainingSet` passes (the ledger must repeat), the dedup
    * check on the planted exact-duplicate groups, then the curation layers
    * called directly.
    */
  private def curate(g: Graft): Unit = {
    val ledgers = (0 until 2).map { i =>
      attempted += 1
      span.op += 1
      span("Graft.curate") { g.buildTrainingSet(s"$work/train$i").collect().map(_.mkString(":")).toSeq }
    }
    check(ledgers.distinct.size == 1, s"curate ledgers differ: ${ledgers.map(_.mkString(",")).mkString(" vs ")}")
    out("ledger") = ledgers.head
    span.op += 1
    attempted += 1
    val survivors = span("Dedup.clusters") {
      graft.operators.Dedup.nearDupClusters(spark, work).select("doc_id", "is_survivor").collect()
    }.map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    arr("exact_groups").foreach { grp =>
      val ids = grp.elements().asScala.map(n => docId(n.asText())).toSeq.filterNot(removedIds)
      check(ids.isEmpty || ids.count(id => survivors.getOrElse(id, false)) == 1,
        s"exact-duplicate group $grp does not keep exactly one survivor")
    }
    val docs = graft.Tables.documents(spark, work)
    span("TextAnalysis.quality") { graft.operators.TextAnalysis.qualityScoreOver(docs).collect() }
    span("Pipeline.contamination") { graft.operators.Pipeline.contaminationCheck(spark, work).collect() }
    span("Pipeline.mixture") {
      graft.operators.Pipeline.applyMixture(docs, graft.operators.Pipeline.mixtureRates(docs)).collect()
    }
    span("Pipeline.pack") { graft.operators.Pipeline.packSequencesOver(docs).collect() }
    span("Pipeline.shards") { graft.operators.Pipeline.writeShards(docs, s"$work/layer_shards").collect() }
  }
}
