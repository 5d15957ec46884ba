package graft

import org.apache.spark.sql.functions._
import java.nio.file.Files

/** End-to-end facade behavior — the "switch from mcp-rag-server" contract. */
class GraftFacadeSpec extends SparkSpecBase {

  lazy val g = new Graft(spark, sf)

  /** The executed plans (as text) of every query `body` runs, captured by
    * a QueryExecutionListener. Its bus is async: wait until a scan shows
    * up, then settle for the rest.
    */
  private def executedPlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      val deadline = System.nanoTime() + 10L * 1000000000L
      while (!plans.toArray.exists(_.toString.contains("FileScan")) &&
        System.nanoTime() < deadline) Thread.sleep(50)
      Thread.sleep(300)
    } finally spark.listenerManager.unregister(l)
    plans.toArray.map(_.toString).toSeq
  }

  test("buildIndex embeds every chunk with a unit-norm or zero vector") {
    val idx = g.buildIndex().cache()
    assert(idx.count() > 0)
    val norms = idx.select(
      sqrt(aggregate(col("emb"), lit(0.0), (a, x) => a + x * x)).as("n"))
    val off = norms.filter(col("n") > 0.0001 && abs(col("n") - 1.0) > 1e-9).count()
    assert(off == 0)
    idx.unpersist()
  }

  test("ragQuery returns descending scored snippets; exact text of a doc ranks it first") {
    // use the opening tokens of doc 7 as the query — that doc's first chunk must win
    val probe = g.readFile(7, 1, 12)
    val hits = g.ragQuery(probe, topK = 5).collect()
    assert(hits.length == 5)
    assert(hits.head.getAs[Long]("doc_id") == 7L)
    val scores = hits.map(_.getAs[Double]("score"))
    assert(scores.sliding(2).forall { case Array(a, b) => a >= b; case _ => true })
  }

  test("ragQueryMmr: near-duplicate chunk demoted behind the diverse hit; rank 1 matches ragQuery") {
    import spark.implicits._
    // doc 2 is a bag-of-words PERMUTATION of doc 1 (identical hash vector
    // — the realistic shuffled-near-dup); both match the query's FIRST
    // half, doc 3 its SECOND half with disjoint tokens. Plain relevance
    // ranks (1, 2) — the dup ties and loses the doc_id break; MMR keeps 1
    // and swaps the dup for the diverse 3
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta"),
      (2L, "beta alpha beta alpha beta alpha"),
      (3L, "gamma delta gamma delta gamma delta")
    ).toDF("doc_id", "text")
    val work = java.nio.file.Files.createTempDirectory("graft_mmr_facade").toString
    val gm = Graft.forFrame(spark, docs, work, dim = 64)
    val query = "alpha beta gamma delta"
    val plain = gm.ragQuery(query, topK = 2).collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(plain == Seq(1L, 2L), s"plain relevance must keep the near-dup: $plain")
    val mmr = gm.ragQueryMmr(query, topK = 2).collect()
    assert(mmr.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 3L),
      s"MMR must demote the near-dup behind the diverse doc: ${mmr.map(_.getAs[Long]("doc_id")).mkString(",")}")
    assert(mmr.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L))
    // rank 1 always equals the plain retriever's top hit (step 1 IS rel)
    assert(mmr.head.getAs[Long]("doc_id") == plain.head)
  }

  test("ragQueryCross: pool-bounded interaction rerank — shape, determinism, pool containment") {
    val probe = g.readFile(7, 1, 12)
    val once = g.ragQueryCross(probe, topK = 3).collect()
    assert(once.map(_.getAs[Long]("rank")).toSeq == Seq(1L, 2L, 3L))
    assert(once.forall(_.getAs[String]("snippet") != null))
    // deterministic: seeded encoder + head ⇒ identical rerank every call
    val again = g.ragQueryCross(probe, topK = 3).collect()
    assert(once.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    // containment: every reranked hit came from the bi-encoder pool
    // (topK 25 vs the pool's 20 absorbs rounded-vs-raw tie reordering at
    // the pool boundary)
    val pool = g.ragQuery(probe, topK = 25).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx"))).toSet
    assert(once.forall(r =>
      pool((r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_idx")))),
      "cross rerank must only reorder the retrieved pool, never invent hits")
  }

  test("ragQueryCross ranks its bounded pool in keyed windows: no unpartitioned WindowExec") {
    import org.apache.spark.sql.execution.window.WindowExec
    val df = g.ragQueryCross(g.readFile(7, 1, 12), topK = 3)
    assert(df.collect().length == 3)
    val unkeyed = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
      }
    assert(unkeyed.isEmpty, s"unpartitioned windows (WindowExec: No Partition Defined): $unkeyed")
  }

  test("ragQuery carries the doc's total token count (the reference's totalLines analog)") {
    val hit = g.ragQuery(g.readFile(7, 1, 12), topK = 1).head()
    assert(hit.getAs[Long]("doc_id") == 7L)
    val wholeDoc = g.readFile(7)
    assert(hit.getAs[Long]("total_tokens") == wholeDoc.split(" ").count(_.nonEmpty).toLong)
    // and the reference's per-result fileSize (src/index.ts:273)
    val expectSize = Tables.documents(spark, sf)
      .filter(col("doc_id") === 7).head().getAs[Long]("n_chars")
    assert(hit.getAs[Long]("file_size") == expectSize)
  }

  test("ragQuery clamps top_k to [1, MaxTopK] like the reference") {
    assert(Graft.clampTopK(0) == 1 && Graft.clampTopK(-5) == 1)
    assert(Graft.clampTopK(999) == Graft.MaxTopK)
    assert(Graft.clampTopK(7) == 7)
    // topK = 0 still returns one row; an absurd topK caps at MaxTopK
    assert(g.ragQuery("table scan", topK = 0).count() == 1)
    assert(g.ragQuery("table scan", topK = 10000).count() == Graft.MaxTopK)
    assert(g.ragQueryHybrid("table scan", topK = -3).count() == 1)
  }

  test("readFile honors 1-based inclusive token ranges") {
    val whole = g.readFile(3)
    val first5 = g.readFile(3, 1, 5)
    assert(whole.startsWith(first5))
    assert(first5.split(" ").length == 5)
  }

  test("incrementalUpdate: cold build, then no-op, then detects add/change/remove") {
    val dir = Files.createTempDirectory("graft_incr").toString
    // cold path: everything added
    val cold = g.incrementalUpdate(dir).head()
    val nDocs = Tables.documents(spark, sf).count()
    assert(cold.getAs[Long]("n_added") == nDocs && cold.getAs[Long]("n_removed") == 0)
    // warm no-op: nothing changed
    val noop = g.incrementalUpdate(dir).head()
    assert(noop.getAs[Long]("n_added") == 0 && noop.getAs[Long]("n_changed") == 0 &&
      noop.getAs[Long]("n_removed") == 0 && noop.getAs[Long]("n_unchanged") == nDocs)
    // perturb the store: drop docs < 20 (→ added), corrupt sizes of %13 docs
    // (→ changed), inject ghost docs +10000 (→ removed)
    val idx = IndexStore.load(spark, dir, g.meta).get
    val perturbed = idx.filter(col("doc_id") >= 20)
      .withColumn("file_size",
        when(col("doc_id") % 13 === 0, col("file_size") + 3).otherwise(col("file_size")))
      .unionByName(idx.limit(5).withColumn("doc_id", col("doc_id") + 10000))
    IndexStore.save(perturbed, dir, g.meta)
    val stats = g.incrementalUpdate(dir).head()
    val expChanged = Tables.documents(spark, sf)
      .filter(col("doc_id") >= 20 && col("doc_id") % 13 === 0).count()
    assert(stats.getAs[Long]("n_added") == 20)
    assert(stats.getAs[Long]("n_changed") == expChanged)
    assert(stats.getAs[Long]("n_removed") > 0)
    // after the update the store equals a fresh full build
    val healed = IndexStore.load(spark, dir, g.meta).get
      .select("doc_id", "chunk_idx", "chunk_text", "file_size")
    val fresh = g.buildIndex().select("doc_id", "chunk_idx", "chunk_text", "file_size")
    assert(healed.exceptAll(fresh).count() == 0)
    assert(fresh.exceptAll(healed).count() == 0)
  }

  test("ragQueryOver a store-loaded index matches querying the live index") {
    val dir = Files.createTempDirectory("graft_serve").toString
    IndexStore.save(g.buildIndex(), dir, g.meta)
    val loaded = IndexStore.load(spark, dir, g.meta).get
    val q = "window merge spark batch table"
    val live = g.ragQuery(q, topK = 5).select("doc_id", "chunk_idx", "score")
    val warm = g.ragQueryOver(loaded, q, topK = 5).select("doc_id", "chunk_idx", "score")
    assert(live.exceptAll(warm).count() == 0 && warm.exceptAll(live).count() == 0)
  }

  test("forDirectory: a real nested tree drives the full facade end-to-end") {
    val root = Files.createTempDirectory("graft_tree")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    put("readme.md", "alpha beta gamma delta epsilon zeta eta theta")
    put("src/main.txt", "the quick table scan join merges sorted runs of rows")
    put("src/deep/notes.md", "windowed aggregation with watermarks bounds state")
    put("node_modules/skip.txt", "must not be indexed")
    put("redist/keep.txt", "redist must survive a dist exclusion by exact segment")
    put("img/logo.png", "binary-ish, wrong extension")
    val work = Files.createTempDirectory("graft_work").toString
    val g2 = Graft.forDirectory(spark, root.toString, work,
      excludedFolders = Seq("node_modules", "dist"))
    // discovery: extension whitelist + segment-exact exclusion
    val docs = Tables.documents(spark, work)
    assert(docs.count() == 4)
    assert(docs.filter(col("text").contains("must not be indexed")).count() == 0)
    assert(docs.filter(col("text").contains("redist must survive")).count() == 1)
    // query: the matching file's chunk wins
    val expectId = docs.filter(col("text").contains("quick table scan"))
      .head().getAs[Long]("doc_id")
    val hit = g2.ragQuery("the quick table scan join", topK = 1).head()
    assert(hit.getAs[Long]("doc_id") == expectId)
    // status + catalog both serve from the landed table
    assert(g2.status().agg(sum("files_discovered")).head().getLong(0) == 4L)
    assert(g2.listFiles(limit = 100).filter(col("entry_type") === "file").count() == 4)
  }

  test("forDirectory default whitelist: point-at-a-repo indexes code + pdf out of the box") {
    import graft.functions.PdfText
    val root = Files.createTempDirectory("graft_defaults")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    // a mixed real-repo shape: code in several default extensions, config,
    // a PDF — and files the defaults must EXCLUDE (wrong ext, default
    // excluded folders the old Seq("node_modules","dist",".git") missed)
    put("src/Main.scala", "object Main { def run(): Unit = println(42) }".getBytes("UTF-8"))
    put("lib/util.py", "def tokenize(text): return text.split()".getBytes("UTF-8"))
    put("web/app.tsx", "export const App = () => <div>hello</div>".getBytes("UTF-8"))
    put("conf/settings.yaml", "retries: 3\ntimeout_ms: 250".getBytes("UTF-8"))
    put("docs/manual.pdf", PdfText.buildPdf(
      Seq(PdfText.textPage("printed manual body text")), flate = true))
    put("img/logo.png", "not text".getBytes("UTF-8"))
    put("build/out.js", "const built = true".getBytes("UTF-8"))
    put("target/gen.scala", "object Gen".getBytes("UTF-8"))
    put("coverage/lcov.json", "{}".getBytes("UTF-8"))
    val work = Files.createTempDirectory("graft_defaults_work").toString
    // NO allowedExt / excludedFolders: the reference's defaults drive
    val g = Graft.forDirectory(spark, root.toString, work)
    val docs = Tables.documents(spark, work).cache()
    assert(docs.count() == 5, "exactly the five whitelisted files index")
    // source = top-level dir; the five whitelisted files span these five
    val sources = docs.select("source").collect().map(_.getString(0)).toSet
    assert(sources == Set("src", "lib", "web", "conf", "docs"),
      s"default discovery got: $sources")
    // each whitelisted file's content landed; nothing from the excluded set
    for (marker <- Seq("object Main", "def tokenize", "export const App",
      "timeout_ms"))
      assert(docs.filter(col("text").contains(marker)).count() == 1, marker)
    for (excluded <- Seq("not text", "const built", "object Gen"))
      assert(docs.filter(col("text").contains(excluded)).count() == 0, excluded)
    // the PDF leg extracted real text (not raw bytes) under the default
    assert(docs.filter(col("source") === "docs")
      .head().getAs[String]("text").contains("printed manual body text"))
    // and the facade serves queries over the defaults-discovered corpus
    assert(g.ragQuery("printed manual body", topK = 1).count() == 1)
    docs.unpersist()
  }

  test("readFileLines: path+line read_file parity (ranges, clamps, traversal guard, PDF cache)") {
    import graft.functions.PdfText
    val root = Files.createTempDirectory("graft_readfile")
    def put(rel: String, bytes: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    put("sub/multi.txt", "line one\nline two\nline three\nline four\nline five\n".getBytes("UTF-8"))
    put("crlf.md", "alpha\r\nbeta\r\ngamma".getBytes("UTF-8"))
    put("doc.pdf", PdfText.buildPdf(Seq(PdfText.textPage("pdf body text here")), flate = true))
    val work = Files.createTempDirectory("graft_readfile_work").toString
    val g = Graft.forDirectory(spark, root.toString, work,
      allowedExt = Seq("txt", "md", "pdf"))

    // 1-based inclusive range slice over a real multi-line file
    assert(g.readFileLines("sub/multi.txt", Some(2), Some(4)) ==
      "line two\nline three\nline four")
    // full-file read with no range: RAW content, trailing newline intact
    assert(g.readFileLines("sub/multi.txt") ==
      "line one\nline two\nline three\nline four\nline five\n")
    // reference clamp semantics: start<1 clamps to 1; end past EOF clamps
    // to the line count (the trailing "" after the final \n is a line,
    // like the reference's split); start beyond the end yields ""
    assert(g.readFileLines("sub/multi.txt", Some(0), Some(2)) == "line one\nline two")
    assert(g.readFileLines("sub/multi.txt", Some(5), Some(99)) == "line five\n")
    assert(g.readFileLines("sub/multi.txt", Some(42), None) == "")
    // one-sided ranges: start-only reads to EOF, end-only reads from 1
    assert(g.readFileLines("sub/multi.txt", Some(4), None) == "line four\nline five\n")
    assert(g.readFileLines("crlf.md", None, Some(2)) == "alpha\nbeta")
    // `./`-prefixed spelling of the same file resolves identically
    assert(g.readFileLines("./sub/../sub/multi.txt", Some(1), Some(1)) == "line one")
    // traversal escapes are rejected, absolute paths too
    intercept[IllegalArgumentException](g.readFileLines("../outside.txt"))
    intercept[IllegalArgumentException](g.readFileLines("sub/../../etc/passwd"))
    intercept[IllegalArgumentException](g.readFileLines("/etc/passwd"))
    // PDFs serve the EXTRACTED text from the discovery cache
    assert(g.readFileLines("doc.pdf").contains("pdf body text here"))
    // a PDF the index never saw (size mismatch after an edit) is an error,
    // not an inline decode
    put("doc.pdf", PdfText.buildPdf(
      Seq(PdfText.textPage("pdf body text here, now edited longer")), flate = false))
    intercept[IllegalStateException](g.readFileLines("doc.pdf"))
    // only a directory-backed facade has a tree to read
    intercept[IllegalStateException](
      new Graft(spark, work).readFileLines("sub/multi.txt"))
    // a file:-scheme root (accepted by discovery) must read identically —
    // the guard is shared with listFiles' TextCorpus.ensureWithinRoot
    val workF = Files.createTempDirectory("graft_readfile_workf").toString
    val gf = Graft.forDirectory(spark, "file://" + root.toString, workF,
      allowedExt = Seq("txt", "md"))
    assert(gf.readFileLines("sub/multi.txt", Some(2), Some(3)) ==
      "line two\nline three")
    // pdf never whitelisted → no extraction cache: the documented
    // "not indexed" error, not a leaked parquet AnalysisException
    val ex = intercept[IllegalStateException](g2Pdfless().readFileLines("doc.pdf"))
    assert(ex.getMessage.contains("not have been indexed"))
  }

  /** A facade over the readFileLines tree that never ran the PDF leg. */
  private def g2Pdfless(): Graft = {
    val root = Files.createTempDirectory("graft_nopdfcache")
    Files.write(root.resolve("doc.pdf"),
      graft.functions.PdfText.buildPdf(
        Seq(graft.functions.PdfText.textPage("never indexed")), flate = false))
    Files.write(root.resolve("a.txt"), "text only".getBytes("UTF-8"))
    val work = Files.createTempDirectory("graft_nopdfcache_work").toString
    Graft.forDirectory(spark, root.toString, work, allowedExt = Seq("txt"))
  }

  test("forDirectory indexes real PDF files when 'pdf' is whitelisted (reference default)") {
    import graft.functions.PdfText
    val root = Files.createTempDirectory("graft_pdftree")
    def put(rel: String, content: Array[Byte]): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content)
    }
    put("notes.md", "plain markdown about hash joins".getBytes("UTF-8"))
    put("papers/sortmerge.pdf", PdfText.buildPdf(
      Seq(PdfText.textPage("sort merge shuffle exchanges partitions by key")), flate = true))
    put("papers/broken.pdf", "not actually a pdf".getBytes("UTF-8"))
    put("node_modules/skip.pdf", PdfText.buildPdf(
      Seq(PdfText.textPage("excluded folder must stay excluded")), flate = true))
    val work = Files.createTempDirectory("graft_pdfwork").toString
    val g2 = Graft.forDirectory(spark, root.toString, work,
      allowedExt = Seq("md", "pdf"))
    val docs = Tables.documents(spark, work)
    // md + real pdf; the non-PDF .pdf extracts empty and is dropped like an
    // empty text file; the excluded folder never reaches the extractor
    assert(docs.count() == 2)
    assert(docs.filter(col("text") === "sort merge shuffle exchanges partitions by key")
      .count() == 1)
    assert(docs.filter(col("text").contains("excluded folder")).count() == 0)
    // extracted text is first-class: chunked, embedded, and queryable
    val hit = g2.ragQuery("sort merge shuffle partitions", topK = 1).head()
    val pdfId = docs.filter(col("text").contains("sort merge")).head().getAs[Long]("doc_id")
    assert(hit.getAs[Long]("doc_id") == pdfId)
    // and the incremental path sees a PDF content change as 'changed'
    val store = Files.createTempDirectory("graft_pdfstore").toString + "/store"
    assert(g2.reindexDirectory(store).head().getAs[Long]("n_added") == 2)
    put("papers/sortmerge.pdf", PdfText.buildPdf(
      Seq(PdfText.textPage("sort merge shuffle exchanges partitions by key twice")), flate = true))
    val stats = g2.reindexDirectory(store).head()
    assert(stats.getAs[Long]("n_changed") == 1 && stats.getAs[Long]("n_unchanged") == 1)
  }

  test("PDF extraction cache: unchanged files are served without reopening; byte size is the key") {
    import graft.functions.PdfText
    import graft.sources.TextCorpus
    val root = Files.createTempDirectory("graft_pdfcache")
    val pdfBytes = PdfText.buildPdf(
      Seq(PdfText.textPage("cached extraction survives a same-size rewrite")), flate = true)
    val f = root.resolve("doc.pdf")
    Files.write(f, pdfBytes)
    val cache = Files.createTempDirectory("graft_pdfcachework").toString + "/cache"
    def readAll() = TextCorpus.readPdfAsText(spark, root.toString, cachePath = Some(cache))
    val first = readAll().collect()
    assert(first.length == 1 &&
      first(0).getAs[String]("content") == "cached extraction survives a same-size rewrite")
    assert(first(0).getAs[Long]("size") == pdfBytes.length) // FILE bytes, not text length
    // a NO-CHANGE round must be metadata-only: the cache table is not
    // rewritten (at corpus scale the rewrite is a corpus-proportional write
    // per reindex of a stable tree) — pin via the part files' identity+mtime
    def cacheState() = {
      val fs = new org.apache.hadoop.fs.Path(cache)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(new org.apache.hadoop.fs.Path(cache))
        .map(s => (s.getPath.getName, s.getModificationTime)).sortBy(_._1).toSeq
    }
    val before = cacheState()
    readAll().collect()
    assert(cacheState() == before, "no-change discovery must not rewrite the cache")
    // corrupt the file in place, SAME byte size: the cache serves the old
    // text without opening the file (the (path, size) key says unchanged)
    val corrupted = pdfBytes.clone()
    corrupted(pdfBytes.length / 2) = 0x00
    Files.write(f, corrupted)
    val second = readAll().collect()
    assert(second.length == 1 &&
      second(0).getAs[String]("content") == "cached extraction survives a same-size rewrite")
    // grow the file: the key misses, re-extraction sees the new content
    Files.write(f, PdfText.buildPdf(
      Seq(PdfText.textPage("rewritten content with a different byte size")), flate = true))
    val third = readAll().collect()
    assert(third.length == 1 &&
      third(0).getAs[String]("content") == "rewritten content with a different byte size")
  }

  test("PDF leg: an oversized file degrades to empty (never opened), job survives") {
    // ADVICE r9: one multi-GB/hostile PDF must not OOM a task or fail the
    // whole discovery job — the byte_size gate skips it unopened and caches
    // it as empty, exactly like a broken PDF
    import graft.functions.PdfText
    import graft.sources.TextCorpus
    val root = Files.createTempDirectory("graft_pdfbig")
    val small = PdfText.buildPdf(Seq(PdfText.textPage("small document extracts fine")), flate = false)
    val big = PdfText.buildPdf(Seq(PdfText.textPage(
      ("this one is over the size cap " * 40).trim)), flate = false)
    Files.write(root.resolve("small.pdf"), small)
    Files.write(root.resolve("big.pdf"), big)
    val cap: Long = math.max(small.length.toLong, 16L) // big.pdf exceeds, small.pdf fits
    assert(big.length > cap)
    // no-cache path: gated open, oversized row filtered like empty text
    val noCache = TextCorpus.readPdfAsText(spark, root.toString,
      maxFileBytes = cap).collect()
    assert(noCache.length == 1 && noCache(0).getAs[String]("path") == "small.pdf")
    // cache path: the oversized file lands in the cache as EMPTY text (not
    // re-attempted every round) under its (path, byte_size) key
    val cache = Files.createTempDirectory("graft_pdfbigwork").toString + "/cache"
    val cached = TextCorpus.readPdfAsText(spark, root.toString,
      cachePath = Some(cache), maxFileBytes = cap).collect()
    assert(cached.length == 1 && cached(0).getAs[String]("path") == "small.pdf")
    val cacheRows = spark.read.parquet(cache).collect()
    assert(cacheRows.length == 2, "oversized file must be cached (as empty)")
    assert(cacheRows.find(_.getAs[String]("path") == "big.pdf")
      .get.getAs[String]("text") == "")
  }

  test("PDF leg: filenames with spaces and percents survive the cache round trip") {
    // extractFromPaths re-opens files from binaryFile's path string; a name
    // that LOOKS like a URI escape ("%20") or contains spaces must reach
    // the same file, and the cache key must be stable across rescans
    import graft.functions.PdfText
    import graft.sources.TextCorpus
    val root = Files.createTempDirectory("graft_pdfnames")
    val name = "a b%20c+d.pdf"
    Files.write(root.resolve(name), PdfText.buildPdf(
      Seq(PdfText.textPage("odd filename still extracts")), flate = true))
    val cache = Files.createTempDirectory("graft_pdfnamework").toString + "/cache"
    def readAll() = TextCorpus.readPdfAsText(spark, root.toString, cachePath = Some(cache))
      .collect()
    val first = readAll()
    assert(first.length == 1 && first(0).getAs[String]("path") == name)
    assert(first(0).getAs[String]("content") == "odd filename still extracts")
    // second scan: served from cache under the SAME key (no duplicate rows)
    val second = readAll()
    assert(second.length == 1 && second(0).getAs[String]("path") == name)
  }

  test("cross-format dedup: identical text in .md and .pdf shares one blocking key") {
    // regression: when the PDF leg's file byte size leaked into n_chars,
    // identical text in two formats landed in different len_buckets and the
    // near-dup pair was silently unreachable (len_bucket is a dedup JOIN key)
    import graft.functions.PdfText
    val root = Files.createTempDirectory("graft_xfmt")
    def put(rel: String, content: Array[Byte]): Unit =
      Files.write(root.resolve(rel), content)
    val text = "distributed joins shuffle rows by key while broadcast joins " +
      "replicate the small side to every executor for local probing"
    put("notes.md", text.getBytes("UTF-8"))
    put("copy.pdf", PdfText.buildPdf(Seq(PdfText.textPage(text)), flate = true))
    val work = Files.createTempDirectory("graft_xfmtwork").toString
    Graft.forDirectory(spark, root.toString, work, allowedExt = Seq("md", "pdf"))
    val docs = Tables.documents(spark, work).collect()
    assert(docs.length == 2)
    // n_chars = char count for BOTH legs; the pdf doc's change-detection
    // byte_size is its FILE size, genuinely different — so this corpus
    // actually exercises the two-column split
    assert(docs.forall(_.getAs[Long]("n_chars") == text.length.toLong))
    val pdfRow = docs.find(_.getAs[String]("source") == "copy.pdf").get
    assert(pdfRow.getAs[Long]("byte_size") != pdfRow.getAs[Long]("n_chars"))
    val pairs = operators.Dedup.dedupNgramJaccard(spark, work).collect()
    assert(pairs.length == 1 && pairs(0).getAs[Double]("jaccard") == 1.0)
  }

  test("reindexDirectory: live tree mutations are picked up incrementally and equal a cold rebuild") {
    val root = Files.createTempDirectory("graft_live")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    put("readme.md", "alpha beta gamma delta epsilon zeta")
    put("src/a.txt", "the quick table scan join merges sorted runs")
    put("src/b.txt", "windowed aggregation with watermarks bounds state")
    val work = Files.createTempDirectory("graft_livework").toString
    val store = Files.createTempDirectory("graft_livestore").toString + "/store"
    val g2 = Graft.forDirectory(spark, root.toString, work)
    // cold pass: everything is added
    val cold = g2.reindexDirectory(store).head()
    assert(cold.getAs[Long]("n_added") == 3 && cold.getAs[Long]("n_removed") == 0)
    // no-op pass: the tree did not change
    val noop = g2.reindexDirectory(store).head()
    assert(noop.getAs[Long]("n_added") == 0 && noop.getAs[Long]("n_changed") == 0 &&
      noop.getAs[Long]("n_removed") == 0 && noop.getAs[Long]("n_unchanged") == 3)
    // mutate the LIVE tree: add one file, edit one (size change — the
    // reference's change heuristic), remove one
    put("src/new.txt", "a brand new document about broadcast joins")
    put("src/a.txt", "the quick table scan join merges sorted runs of rows and pages")
    Files.delete(root.resolve("readme.md"))
    val stats = g2.reindexDirectory(store).head()
    assert(stats.getAs[Long]("n_added") == 1, s"added=${stats.getAs[Long]("n_added")}")
    assert(stats.getAs[Long]("n_changed") == 1)
    assert(stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[Long]("n_unchanged") == 1)
    // the incrementally-maintained store equals a cold rebuild of the tree
    val work2 = Files.createTempDirectory("graft_livework2").toString
    val fresh = Graft.forDirectory(spark, root.toString, work2).buildIndex()
      .select("doc_id", "chunk_idx", "chunk_text", "file_size")
    val healed = IndexStore.load(spark, store, g2.meta).get
      .select("doc_id", "chunk_idx", "chunk_text", "file_size")
    assert(healed.exceptAll(fresh).count() == 0 && fresh.exceptAll(healed).count() == 0)
    // and serving over the loaded store finds the newly added file
    val hit = g2.ragQueryOver(IndexStore.load(spark, store, g2.meta).get,
      "brand new document about broadcast joins", topK = 1).head()
    val newId = Tables.documents(spark, work)
      .filter(col("text").contains("brand new")).head().getAs[Long]("doc_id")
    assert(hit.getAs[Long]("doc_id") == newId)
  }

  test("watchDirectory: arriving files trigger incremental reindex; serving and ANN index stay live") {
    val root = Files.createTempDirectory("graft_watch")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    for (i <- 1 to 12)
      put(s"doc$i.txt", s"seed document number $i about topic area $i with shared filler words")
    val work = Files.createTempDirectory("graft_watchwork").toString
    val store = Files.createTempDirectory("graft_watchstore").toString + "/store"
    val ckpt = Files.createTempDirectory("graft_watchckpt").toString
    val gw = Graft.forDirectory(spark, root.toString, work)
    gw.reindexDirectory(store)
    gw.ragQueryAnn("seed document", topK = 1) // builds the chunk ANN index
    val manifestCold = operators.AnnStore.readManifest(spark, gw.chunkAnnPath).get
    val q = gw.watchDirectory(store, ckpt)
    try {
      // startup drains the seed files' arrival batch (reindex = no-op diff)
      q.processAllAvailable()
      val n0 = Tables.documents(spark, work).count()
      assert(n0 == 12)
      // drop a NEW file into the live tree: the stream must trigger the
      // reindex tail — corpus table, chunk store, and ANN index all update
      // without any manual call
      put("arrival.txt", "a freshly arrived document about vectorized predicate pushdown")
      q.processAllAvailable()
      assert(Tables.documents(spark, work).count() == 13)
      val hit = gw.ragQueryAnn("freshly arrived document about vectorized predicate pushdown",
        topK = 1).head()
      assert(hit.getAs[String]("snippet").contains("freshly arrived"),
        s"watch must serve the arrival: $hit")
      // the ANN index was REFRESHED (new manifest fingerprint), not rebuilt
      // cold through a serving call — its stamp changed with the reindex
      val manifestNow = operators.AnnStore.readManifest(spark, gw.chunkAnnPath).get
      assert(manifestNow != manifestCold, "reindex must restamp the ANN manifest")
      // an edit alone does not trigger (file-source blindness, declared) —
      // but it rides the NEXT arrival's full-tree diff
      put("doc1.txt", "seed document number 1 rewritten to cover a different area entirely")
      put("arrival2.txt", "second arrival carrying the edit along")
      q.processAllAvailable()
      val docs = Tables.documents(spark, work)
      assert(docs.count() == 14)
      assert(docs.filter(col("text").contains("rewritten to cover")).count() == 1,
        "the pending edit must ride the next arrival's diff")
      // an arrival under an excluded folder must NOT trigger a reindex:
      // the corpus table's files stay byte-for-byte untouched (a no-op
      // reindex would still re-land the table)
      put("node_modules/junk.txt", "noise that must never drive a full-tree reindex")
      val fpBefore = operators.AnnStore.pathFingerprint(spark, work + "/documents.parquet")
      q.processAllAvailable()
      assert(operators.AnnStore.pathFingerprint(spark, work + "/documents.parquet") == fpBefore,
        "an excluded-folder arrival triggered a reindex")
    } finally q.stop()
  }

  test("ragQueryAnn: chunk-ANN index builds once through the gate, reindex refreshes it incrementally, serving stays fresh") {
    val root = Files.createTempDirectory("graft_ann_live")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    // 12 docs so a 3-doc mutation stays under the 30% drift bound
    val topics = Seq(
      "a.txt" -> "the quick table scan join merges sorted runs of rows",
      "b.txt" -> "windowed aggregation with watermarks bounds streaming state",
      "c.txt" -> "columnar parquet encoding with dictionary compression pages",
      "d.txt" -> "broadcast hash joins avoid shuffling the large fact table",
      "e.txt" -> "salting hot keys spreads skewed aggregation work evenly",
      "f.txt" -> "predicate pushdown prunes row groups before any decode",
      "g.txt" -> "adaptive query execution replans shuffles at runtime",
      "h.txt" -> "tungsten codegen fuses operators into tight java loops",
      "i.txt" -> "catalyst rewrites logical plans with rule based passes",
      "j.txt" -> "bucketed tables co locate join keys across both sides",
      "k.txt" -> "zebra stripes migrate south during the winter season",
      "l.txt" -> "checkpointing truncates long lineage chains for recovery")
    topics.foreach { case (n, t) => put(n, t) }
    val work = Files.createTempDirectory("graft_ann_work").toString
    val store = Files.createTempDirectory("graft_ann_store").toString + "/store"
    val g2 = Graft.forDirectory(spark, root.toString, work)
    // cold reindex: no ANN index exists yet → nothing to refresh
    val cold = g2.reindexDirectory(store).head()
    assert(cold.getAs[String]("ann_mode") == "absent")
    // first ANN query builds the index through the ensure gate and hits
    val docs = Tables.documents(spark, work).cache()
    val expectId = docs.filter(col("text").contains("quick table scan"))
      .head().getAs[Long]("doc_id")
    val removedId = docs.filter(col("text").contains("zebra stripes"))
      .head().getAs[Long]("doc_id")
    val hit = g2.ragQueryAnn("the quick table scan join merges", topK = 1).head()
    assert(hit.getAs[Long]("doc_id") == expectId)
    // same result shape as the brute-force ragQuery, minus chunk identity order
    assert(g2.ragQueryAnn("state", topK = 2).columns.toSeq ==
      Seq("doc_id", "chunk_idx", "score", "snippet", "total_tokens", "file_size"))
    docs.unpersist()
    // live mutations: add one, grow one (size-change heuristic), remove one
    put("new.txt", "a brand new document about broadcast join hints")
    put("b.txt", "windowed aggregation with watermarks bounds streaming state and memory")
    Files.delete(root.resolve("k.txt"))
    val stats = g2.reindexDirectory(store).head()
    assert(stats.getAs[Long]("n_added") == 1 && stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[String]("ann_mode") == "incremental",
      s"ann_mode=${stats.getAs[String]("ann_mode")}")
    assert(stats.getAs[Long]("ann_cells_rewritten") >= 1)
    // the refreshed manifest satisfies the gate — ragQueryAnn must NOT rebuild
    val manifestPath = new org.apache.hadoop.fs.Path(g2.chunkAnnPath,
      graft.operators.AnnStore.ManifestFile)
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = fs.getFileStatus(manifestPath).getModificationTime
    // the refreshed index serves the new doc and forgets the removed one
    val newId = Tables.documents(spark, work)
      .filter(col("text").contains("brand new")).head().getAs[Long]("doc_id")
    val hit2 = g2.ragQueryAnn("a brand new document about broadcast join hints",
      topK = 1).head()
    assert(hit2.getAs[Long]("doc_id") == newId)
    val gone = g2.ragQueryAnn("zebra stripes migrate south during the winter season",
      topK = 10).filter(col("doc_id") === removedId).count()
    assert(gone == 0, "removed doc must not be served from the refreshed index")
    assert(fs.getFileStatus(manifestPath).getModificationTime == stamp,
      "post-refresh queries must serve without rebuilding the index")
    // recall vs the brute-force facade path: over a handful of queries, the
    // ANN top-3 (wider probes on this tiny corpus) must recover most of
    // ragQueryOver's exact top-3 on the same fresh index state
    val freshIdx = IndexStore.load(spark, store, g2.meta).get
    val queries = Seq("broadcast hash joins shuffle", "predicate pushdown prunes",
      "catalyst rewrites logical plans", "bucketed tables join keys",
      "checkpointing lineage recovery")
    val recalls = queries.map { q =>
      val brute = g2.ragQueryOver(freshIdx, q, topK = 3)
        .select("doc_id", "chunk_idx").collect().map(_.toSeq).toSet
      val ann = g2.ragQueryAnn(q, topK = 3, nprobe = 4)
        .select("doc_id", "chunk_idx").collect().map(_.toSeq).toSet
      (brute intersect ann).size.toDouble / brute.size
    }
    val meanRecall = recalls.sum / recalls.length
    assert(meanRecall >= 0.6, s"facade ANN recall=$meanRecall vs brute ragQuery")
  }

  test("ragQueryHybrid: lexical postings index builds once through the gate, reindex keeps it live") {
    val root = Files.createTempDirectory("graft_lex_live")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    // 12 docs so a small mutation stays under the 30% drift bound
    val topics = Seq(
      "a.txt" -> "the quick table scan join merges sorted runs of rows",
      "b.txt" -> "windowed aggregation with watermarks bounds streaming state",
      "c.txt" -> "columnar parquet encoding with dictionary compression pages",
      "d.txt" -> "broadcast hash joins avoid shuffling the large fact table",
      "e.txt" -> "salting hot keys spreads skewed aggregation work evenly",
      "f.txt" -> "predicate pushdown prunes row groups before any decode",
      "g.txt" -> "adaptive query execution replans shuffles at runtime",
      "h.txt" -> "tungsten codegen fuses operators into tight java loops",
      "i.txt" -> "catalyst rewrites logical plans with rule based passes",
      "j.txt" -> "bucketed tables co locate join keys across both sides",
      "k.txt" -> "zebra stripes migrate south during the winter season",
      "l.txt" -> "checkpointing truncates long lineage chains for recovery")
    topics.foreach { case (n, t) => put(n, t) }
    val work = Files.createTempDirectory("graft_lex_work").toString
    val store = Files.createTempDirectory("graft_lex_store").toString + "/store"
    val g2 = Graft.forDirectory(spark, root.toString, work)
    // cold reindex: no lexical index exists yet → nothing to refresh
    val cold = g2.reindexDirectory(store).head()
    assert(cold.getAs[String]("lex_mode") == "absent")
    // the first hybrid query builds the postings store through the gate
    // and serves row-identically to the in-plan fusion over the same index
    val q1 = "broadcast hash joins shuffle"
    val served = g2.ragQueryHybrid(q1, topK = 5).collect().map(_.toSeq).toSeq
    val inline = operators.Bm25.ragHybridOver(g2.servingIndex, q1, topK = 5,
        queryVec = Some(g2.embedder.embedText(q1)))
      .collect().map(_.toSeq).toSeq
    assert(served == inline, "store-served facade hybrid must equal in-plan")
    // live mutations: add one doc, remove one — reindex refreshes the
    // postings incrementally (a trickle rewrites term buckets, not the store)
    put("new.txt", "a brand new document about vectorized predicate pushdown")
    Files.delete(root.resolve("k.txt"))
    val stats = g2.reindexDirectory(store).head()
    assert(stats.getAs[String]("lex_mode") == "incremental",
      s"lex_mode=${stats.getAs[String]("lex_mode")}")
    assert(stats.getAs[Long]("lex_cells_rewritten") >= 1)
    // the refreshed manifest satisfies the gate — the next hybrid query
    // must serve WITHOUT rebuilding, and its lexical leg must already see
    // the new doc and have forgotten the removed one
    val manifestPath = new org.apache.hadoop.fs.Path(g2.chunkLexPath,
      graft.operators.AnnStore.ManifestFile)
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stamp = fs.getFileStatus(manifestPath).getModificationTime
    val newScores = operators.Bm25Store.scoresFromStore(spark,
      g2.ensureChunkLexIndex(), "vectorized zebra stripes")
    val newDocId = Tables.documents(spark, work)
      .filter(col("text").contains("brand new")).head().getAs[Long]("doc_id")
    val hitDocs = newScores.select("doc_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(hitDocs.contains(newDocId), "refreshed postings must serve the new doc")
    val removedId = Tables.documents(spark, work).filter(col("text").contains("zebra"))
    assert(removedId.count() == 0 && !hitDocs.exists(_ != newDocId),
      "removed doc's postings must be gone after the incremental refresh")
    assert(fs.getFileStatus(manifestPath).getModificationTime == stamp,
      "post-refresh serving must not rebuild the postings store")
  }

  test("ragQueryAnnGraph: graph-served chunk search, batch delegation, reindex keeps it live") {
    val root = Files.createTempDirectory("graft_anng_live")
    def put(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, content.getBytes("UTF-8"))
    }
    // 12 docs so a 1-doc mutation stays far under the 30% drift bound
    Seq(
      "a.txt" -> "the quick table scan join merges sorted runs of rows",
      "b.txt" -> "windowed aggregation with watermarks bounds streaming state",
      "c.txt" -> "columnar parquet encoding with dictionary compression pages",
      "d.txt" -> "broadcast hash joins avoid shuffling the large fact table",
      "e.txt" -> "salting hot keys spreads skewed aggregation work evenly",
      "f.txt" -> "predicate pushdown prunes row groups before any decode",
      "g.txt" -> "adaptive query execution replans shuffles at runtime",
      "h.txt" -> "tungsten codegen fuses operators into tight java loops",
      "i.txt" -> "catalyst rewrites logical plans with rule based passes",
      "j.txt" -> "bucketed tables co locate join keys across both sides",
      "k.txt" -> "zebra stripes migrate south during the winter season",
      "l.txt" -> "checkpointing truncates long lineage chains for recovery"
    ).foreach { case (n, t) => put(n, t) }
    val work = Files.createTempDirectory("graft_anng_work").toString
    val store = Files.createTempDirectory("graft_anng_store").toString + "/store"
    val g2 = Graft.forDirectory(spark, root.toString, work)
    // cold reindex: neither chunk index exists yet
    val cold = g2.reindexDirectory(store).head()
    assert(cold.getAs[String]("ann_graph_mode") == "absent")
    // first graph query builds the index through the gate and finds the doc
    val expectId = Tables.documents(spark, work)
      .filter(col("text").contains("quick table scan")).head().getAs[Long]("doc_id")
    val top = g2.ragQueryAnnGraph("the quick table scan join merges", topK = 3, nprobe = 4)
    assert(top.filter(col("doc_id") === expectId).count() >= 1)
    assert(top.columns.toSeq ==
      Seq("doc_id", "chunk_idx", "score", "snippet", "total_tokens", "file_size"))
    // batch serving is row-identical to per-query serving
    val qs = Seq("broadcast hash joins shuffle", "predicate pushdown prunes")
    val batch = g2.ragQueryAnnGraphBatch(qs, topK = 3, nprobe = 2).collect()
    for ((q, i) <- qs.zipWithIndex) {
      val single = g2.ragQueryAnnGraph(q, topK = 3, nprobe = 2).collect().map(_.toSeq).toSeq
      assert(batch.filter(_.getAs[Long]("query_id") == i.toLong)
        .map(_.toSeq.drop(1)).toSeq == single, s"graph batch rows for query $i differ")
    }
    // build the IVF chunk index too, so one reindex maintains BOTH derived
    // indexes (shared fingerprint listing, shared chunk-store read)
    g2.ragQueryAnn("adaptive query execution", topK = 1)
    // live mutation → reindex refreshes both indexes incrementally and
    // the refreshed graph index serves the new doc
    put("new.txt", "a brand new document about broadcast join hints")
    val stats = g2.reindexDirectory(store).head()
    assert(stats.getAs[String]("ann_mode") == "incremental",
      s"ann_mode=${stats.getAs[String]("ann_mode")}")
    assert(stats.getAs[String]("ann_graph_mode") == "incremental",
      s"ann_graph_mode=${stats.getAs[String]("ann_graph_mode")}")
    assert(stats.getAs[Long]("ann_graph_cells_rewritten") >= 1)
    val newId = Tables.documents(spark, work)
      .filter(col("text").contains("brand new")).head().getAs[Long]("doc_id")
    val hit2 = g2.ragQueryAnnGraph("a brand new document about broadcast join hints",
      topK = 3, nprobe = 4)
    assert(hit2.filter(col("doc_id") === newId).count() >= 1,
      "refreshed graph index must serve the newly added doc")
  }

  test("ragQueryAnnBatch: per-query rows identical to single-query ragQueryAnn") {
    val queries = Seq(g.readFile(7, 1, 12), g.readFile(11, 1, 12),
      "columnar parquet dictionary compression")
    val batch = g.ragQueryAnnBatch(queries, topK = 3, nprobe = 2).collect()
    assert(batch.map(_.getAs[Long]("query_id")).distinct.sorted
      .sameElements(Array(0L, 1L, 2L)), "every query in the batch must produce rows")
    for ((q, i) <- queries.zipWithIndex) {
      val single = g.ragQueryAnn(q, topK = 3, nprobe = 2).collect().map(_.toSeq).toSeq
      val slice = batch.filter(_.getAs[Long]("query_id") == i.toLong)
        .map(_.toSeq.drop(1)).toSeq // drop query_id; remaining shape matches
      assert(slice == single, s"batch rows for query $i differ from per-query serving")
    }
  }

  test("ragQueryAnn filter: metadata predicate restricts hits inside the probe read") {
    val q = g.readFile(7, 1, 12)
    val unfiltered = g.ragQueryAnn(q, topK = 5, nprobe = 2).collect()
    assert(unfiltered.nonEmpty)
    // restrict to a doc-id slice that the unfiltered top-k only partially
    // covers — the filtered serve must return ONLY matching chunks, found
    // inside the pruned read (not a trim of the unfiltered rows)
    val pred = org.apache.spark.sql.functions.col("doc_id") =!= unfiltered.head.getAs[Long]("doc_id")
    val filtered = g.ragQueryAnn(q, topK = 5, nprobe = 2, filter = Some(pred)).collect()
    assert(filtered.nonEmpty, "filtered serve must still fill from matching candidates")
    assert(filtered.forall(_.getAs[Long]("doc_id") != unfiltered.head.getAs[Long]("doc_id")),
      "a filtered hit violated the predicate")
    // the excluded doc's slot is refilled by the next-best MATCHING chunk,
    // which a post-hoc trim of the unfiltered top-k could not produce
    val trimmed = unfiltered.filter(_.getAs[Long]("doc_id") != unfiltered.head.getAs[Long]("doc_id"))
    assert(filtered.length >= trimmed.length)
  }

  test("ragQueryBatch: one-scan exact batch equals per-query ragQuery; ANN batch metadata read is partition-pruned") {
    val queries = Seq(g.readFile(7, 1, 12), g.readFile(11, 1, 12))
    val batch = g.ragQueryBatch(queries, topK = 4).collect()
    for ((q, i) <- queries.zipWithIndex) {
      val single = g.ragQuery(q, topK = 4).collect().map(_.toSeq).toSeq
      assert(batch.filter(_.getAs[Long]("query_id") == i.toLong)
        .map(_.toSeq.drop(1)).toSeq == single, s"exact batch rows for query $i differ")
    }
    // the ANN batch's one read must touch ONLY the probed cells — assert
    // the partition filter in the plan the call EXECUTES, not by
    // assumption. The call returns an eager literal frame, so the scan's
    // plan is captured while the call runs
    val scans = executedPlans(g.ragQueryAnnBatch(queries, topK = 3).collect())
      .filter(_.contains("FileScan parquet"))
    assert(scans.nonEmpty, "the ANN batch executed no parquet scan")
    assert(scans.forall(_.contains("PartitionFilters: [cid")),
      s"facade ANN read must be partition-pruned, plans:\n${scans.mkString("\n")}")
    // the exact path's per-query top-k must be the map-side WindowGroupLimit
    // rewrite, not a full corpus shuffle into nQueries partitions — assert
    // the optimizer dependency in the executed plan (like the pruning above)
    val exactPlan = g.ragQueryBatch(queries, topK = 4)
      .queryExecution.executedPlan.toString
    assert(exactPlan.contains("WindowGroupLimit"),
      s"exact batch top-k must run under WindowGroupLimit, plan:\n$exactPlan")
  }

  test("forFrame: a caller's DataFrame drives the facade; reindexFrame is incremental and maintains the ANN index") {
    import spark.implicits._
    def corpus(rows: Seq[(String, String, String)]) =
      rows.toDF("id", "text", "lang")
    val v1 = Seq(
      ("a", "the quick table scan join merges sorted runs of rows", "en"),
      ("b", "windowed aggregation with watermarks bounds streaming state", "en"),
      ("c", "columnar parquet encoding with dictionary compression pages", "en"),
      ("d", "broadcast hash joins avoid shuffling the large fact table", "en"),
      ("e", "salting hot keys spreads skewed aggregation work evenly", "en"),
      ("f", "predicate pushdown prunes row groups before any decode", "en"),
      ("g", "adaptive query execution replans shuffles at runtime", "en"),
      ("h", "tungsten codegen fuses operators into tight java loops", "en"),
      ("i", "catalyst rewrites logical plans with rule based passes", "en"),
      ("j", "bucketed tables co locate join keys across both sides", "en"),
      ("k", "zebra stripes migrate south during the winter season", "en"),
      ("l", "checkpointing truncates long lineage chains for recovery", "en"))
    val work = Files.createTempDirectory("graft_frame_work").toString
    val store = Files.createTempDirectory("graft_frame_store").toString + "/store"
    val g2 = Graft.forFrame(spark, corpus(v1), work)
    // the landed table carries the id-hashed identity + passthrough lang
    val docs = Tables.documents(spark, work)
    assert(docs.count() == 12 && docs.select("doc_id").distinct().count() == 12)
    assert(docs.select("lang").distinct().head().getString(0) == "en")
    // facade serves the frame corpus like any other leg
    val hit = g2.ragQuery("the quick table scan join merges", topK = 1).head()
    val expectId = docs.filter(col("text").contains("quick table scan"))
      .head().getAs[Long]("doc_id")
    assert(hit.getAs[Long]("doc_id") == expectId)
    // a frame facade has no tree to re-scan — the dir API must refuse
    intercept[IllegalStateException](g2.reindexDirectory(store))
    // cold reindex from the SAME frame state: all added, no ANN index yet
    val cold = g2.reindexFrame(corpus(v1), store).head()
    assert(cold.getAs[Long]("n_added") == 12 && cold.getAs[String]("ann_mode") == "absent")
    // build the chunk-ANN index through its gate, then mutate the frame:
    // add one record, grow one (n_chars is the frame diff key), remove one
    g2.ragQueryAnn("state", topK = 1)
    val v2 = v1.filterNot(_._1 == "k")
      .map { case ("b", t, l) => ("b", t + " and memory", l); case r => r } :+
      (("m", "a brand new document about broadcast join hints", "en"))
    val stats = g2.reindexFrame(corpus(v2), store).head()
    assert(stats.getAs[Long]("n_added") == 1, s"added=${stats.getAs[Long]("n_added")}")
    assert(stats.getAs[Long]("n_changed") == 1 && stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[Long]("n_unchanged") == 10)
    assert(stats.getAs[String]("ann_mode") == "incremental",
      s"ann_mode=${stats.getAs[String]("ann_mode")}")
    // the refreshed ANN index serves the new doc; the incrementally
    // maintained store equals a cold rebuild from the v2 frame
    val newId = Tables.documents(spark, work)
      .filter(col("text").contains("brand new")).head().getAs[Long]("doc_id")
    val hit2 = g2.ragQueryAnn("a brand new document about broadcast join hints",
      topK = 1).head()
    assert(hit2.getAs[Long]("doc_id") == newId)
    val work2 = Files.createTempDirectory("graft_frame_work2").toString
    val fresh = Graft.forFrame(spark, corpus(v2), work2).buildIndex()
      .select("doc_id", "chunk_idx", "chunk_text", "file_size")
    val healed = IndexStore.load(spark, store, g2.meta).get
      .select("doc_id", "chunk_idx", "chunk_text", "file_size")
    assert(healed.exceptAll(fresh).count() == 0 && fresh.exceptAll(healed).count() == 0)
  }

  test("frameAsDocuments: identity ladder, null/empty drops, duplicate-id collapse") {
    import spark.implicits._
    // explicit doc_id passes through untouched (including negative values)
    val withDocId = Seq((-7L, "alpha"), (9L, "beta")).toDF("doc_id", "text")
    assert(Graft.frameAsDocuments(withDocId).select("doc_id").as[Long]
      .collect().sorted.sameElements(Array(-7L, 9L)))
    // no id at all → content-addressed: same text twice collapses to one doc
    val bare = Seq("same words", "same words", "other words").toDF("text")
    val bareDocs = Graft.frameAsDocuments(bare)
    assert(bareDocs.count() == 2)
    assert(bareDocs.select("source").distinct().head().getString(0) == "frame")
    // null/empty text and null ids drop like malformed JSONL lines
    val dirty = Seq(("x", "kept"), ("y", null), ("z", ""), (null, "no id"))
      .toDF("id", "text")
    assert(Graft.frameAsDocuments(dirty).count() == 1)
    // duplicate ids collapse deterministically to ONE row (max by payload),
    // never two rows sharing a doc_id
    val dup = Seq(("d", "short"), ("d", "the longer of the two payloads"))
      .toDF("id", "text")
    val collapsed = Graft.frameAsDocuments(dup)
    assert(collapsed.count() == 1)
    assert(collapsed.head().getAs[String]("text") == "the longer of the two payloads")
    // a frame without text is a contract error, not a deep AnalysisException
    intercept[IllegalArgumentException](
      Graft.frameAsDocuments(Seq(1L).toDF("doc_id")))
    // a NON-integral doc_id (string UUIDs — the common lakehouse key) must
    // hash, not cast: cast-to-long would null every id and silently land an
    // EMPTY corpus
    val uuidKeyed = Seq(("550e8400-e29b-41d4-a716-446655440000", "alpha"),
      ("f47ac10b-58cc-4372-a567-0e02b2c3d479", "beta")).toDF("doc_id", "text")
    assert(Graft.frameShapeOf(uuidKeyed) == "doc_id_hashed:string/n_chars")
    val uuidDocs = Graft.frameAsDocuments(uuidKeyed)
    assert(uuidDocs.count() == 2 &&
      uuidDocs.filter(col("doc_id").isNull).count() == 0)
  }

  test("forFrame with byte_size: the caller's key drives change detection, including its declared blindness") {
    import spark.implicits._
    // a caller-supplied byte_size is the diff key verbatim — e.g. a real
    // upstream byte count, or xxhash64(text) for exact detection
    def frame(rows: Seq[(String, String, Long)]) =
      rows.toDF("id", "text", "byte_size")
    val v1 = Seq(("a", "alpha document words", 100L), ("b", "beta document words", 200L))
    val work = Files.createTempDirectory("graft_bs_work").toString
    val store = Files.createTempDirectory("graft_bs_store").toString + "/store"
    val gf = Graft.forFrame(spark, frame(v1), work)
    assert(gf.reindexFrame(frame(v1), store).head().getAs[Long]("n_added") == 2)
    // SAME text, bumped byte_size → CHANGED (the key, not the text, decides)
    val bumped = Seq(("a", "alpha document words", 101L), ("b", "beta document words", 200L))
    val s1 = gf.reindexFrame(frame(bumped), store).head()
    assert(s1.getAs[Long]("n_changed") == 1 && s1.getAs[Long]("n_unchanged") == 1)
    // changed text, SAME byte_size → invisible: the size-heuristic family's
    // declared blindness (the reference's watch loop shares it)
    val sneaky = Seq(("a", "ALPHA DOCUMENT WORDS", 101L), ("b", "beta document words", 200L))
    val s2 = gf.reindexFrame(frame(sneaky), store).head()
    assert(s2.getAs[Long]("n_changed") == 0 && s2.getAs[Long]("n_unchanged") == 2)
  }

  test("reindexFrame: refuses non-frame facades and column-set drift") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft_shape_store").toString + "/store"
    // a testdata facade (no forFrame) must refuse outright
    intercept[IllegalStateException](
      g.reindexFrame(Seq(("x", "words")).toDF("id", "text"), store))
    // a frame facade pins its identity/diff rungs at forFrame time; a frame
    // whose column set implies DIFFERENT rungs would re-key or re-embed the
    // whole corpus silently, so it must be an error, not a diff result
    val work = Files.createTempDirectory("graft_shape_work").toString
    val gf = Graft.forFrame(spark, Seq(("x", "some words here")).toDF("id", "text"), work)
    // same shape → accepted (normal reindex)
    assert(gf.reindexFrame(Seq(("x", "some words here")).toDF("id", "text"), store)
      .head().getAs[Long]("n_unchanged") >= 0)
    // id column vanished → identity rung switches to content-addressed
    intercept[IllegalArgumentException](
      gf.reindexFrame(Seq("some words here").toDF("text"), store))
    // byte_size appeared → diff key switches family
    intercept[IllegalArgumentException](
      gf.reindexFrame(Seq(("x", "some words here", 15L)).toDF("id", "text", "byte_size"),
        store))
    // TYPE drift with the column set unchanged: id string→double changes the
    // hash input's rendering ("1" vs "1.0") — every identity silently re-keys
    // unless the pinned shape carries the type, so it must error too
    intercept[IllegalArgumentException](
      gf.reindexFrame(Seq((1.5, "some words here")).toDF("id", "text"), store))
    // ...but integral WIDENING is value-stable under the cast-to-long rung
    // (a harmless upstream int→long migration must not force a rebuild)
    val workI = Files.createTempDirectory("graft_shape_work_i").toString
    val storeI = Files.createTempDirectory("graft_shape_store_i").toString + "/store"
    val gi = Graft.forFrame(spark, Seq((1, "integral words here")).toDF("doc_id", "text"), workI)
    assert(gi.reindexFrame(Seq((1L, "integral words here")).toDF("doc_id", "text"), storeI)
      .head().getAs[Long]("n_added") == 1)
  }

  test("IndexStore round-trips and rejects mismatched metadata") {
    val dir = Files.createTempDirectory("graft_store").toString
    val meta = IndexStore.Meta(IndexStore.Version, 100, 20, g.modelName)
    val idx = g.buildIndex()
    IndexStore.save(idx, dir, meta)
    val back = IndexStore.load(spark, dir, meta)
    assert(back.isDefined)
    assert(back.get.count() == idx.count())
    assert(back.get.columns.sorted.sameElements(idx.columns.sorted))
    // changed chunking params -> incompatible -> None (cold rebuild path)
    val stale = IndexStore.load(spark, dir, meta.copy(chunkSize = 800))
    assert(stale.isEmpty)
    // missing store -> None
    assert(IndexStore.load(spark, dir + "_nope", meta).isEmpty)
  }
}
