package graft.tools

import graft.{Graft, IndexStore, LocalSession}

/** Usage demo — the reference user's session, batch-style:
  * build an index over a corpus, run a semantic query, read a file range,
  * list the catalog, persist and warm-start.
  *
  * runMain graft.tools.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSession.start("graft-demo")

    val g = new Graft(spark, sfDir)

    println("== status ==")
    g.status().show(10, truncate = false)

    println("== rag_query('fast hash join on a big table') top-5 ==")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, cold) = timed(g.ragQuery("fast hash join on a big table", topK = 5).collect())
    g.ragQuery("fast hash join on a big table", topK = 5).show(5, truncate = 60)
    val (_, warm) = timed(g.ragQuery("slow window sort on a small stream", topK = 5).collect())
    println(f"first query (index build + search): $cold%.2fs; next query over cached index: $warm%.2fs")

    println("== hybrid (BM25 + embedding RRF) for the same query ==")
    g.ragQueryHybrid("fast hash join on a big table", topK = 5).show()

    println("== read_file(doc 7, tokens 1-12) ==")
    println(g.readFile(7, 1, 12))

    println("== list_files (first 8) ==")
    g.listFiles(limit = 8).show(truncate = false)

    println("== persistence round-trip ==")
    val dir = java.nio.file.Files.createTempDirectory("graft_demo_store").toString
    val meta = IndexStore.Meta(IndexStore.Version, 100, 20, g.modelName)
    IndexStore.save(g.buildIndex(), dir, meta)
    println(s"warm load (matching meta): rows=" +
      IndexStore.load(spark, dir, meta).map(_.count()).getOrElse(-1L))
    println(s"warm load (chunkSize changed -> expect cold rebuild signal None): " +
      IndexStore.load(spark, dir, meta.copy(chunkSize = 800)).isDefined)

    println("== incremental reindex (cold store -> full build, warm -> no-op) ==")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_demo_incr").toString
    g.incrementalUpdate(dir2).show()
    g.incrementalUpdate(dir2).show()

    println("== curation report (normalize / PII / token stats) ==")
    g.curate().show(5, truncate = 30)

    println("== near-duplicate pairs + clusters ==")
    g.findNearDuplicates().show(5)
    g.dedupClusters().filter(!org.apache.spark.sql.functions.col("is_survivor")).show(5)

    println("== shard export (dedup survivors -> uniform parquet shards) ==")
    val shardDir = java.nio.file.Files.createTempDirectory("graft_demo_shards").toString
    g.exportShards(s"$shardDir/out", numShards = 4).show(truncate = false)

    println("== real-directory corpus (this repo's markdown) ==")
    val corpus = graft.sources.TextCorpus.read(spark, "/root/repo",
      allowedExt = Seq("md"), excludedFolders = Seq("target", ".git", "node_modules"))
    corpus.show(5, truncate = 40)
    println("chunked rows from the md corpus: " +
      graft.operators.Chunker.indexBuildFrom(
        graft.sources.TextCorpus.asDocuments(corpus), 800, 120).count())

    println("== point-at-a-repo facade: index /root/repo's markdown, query it ==")
    val work = java.nio.file.Files.createTempDirectory("graft_demo_dir").toString
    val gDir = Graft.forDirectory(spark, "/root/repo", work, allowedExt = Seq("md"),
      excludedFolders = Seq("target", ".git", "node_modules"),
      chunkSize = 800, chunkOverlap = 120)
    gDir.ragQuery("operator inventory coverage checklist", topK = 3).show(3, truncate = 60)

    println("== list_files over the real tree (recursive, md only) ==")
    graft.sources.TextCorpus.listFiles(spark, "/root/repo",
      recursive = true, maxDepth = 2, includeExtensions = Seq("md"), limit = 8)
      .show(truncate = false)

    println("== catalog with the reference's option surface (ext whitelist) ==")
    g.listFiles(limit = 5, includeExtensions = Seq("en")).show(truncate = false)

    println("== boundary-aware chunking (word-atomic; pass '. ' for prose) ==")
    graft.operators.Chunker.chunkDocsSemantic(spark, sfDir, target = 200).show(3, truncate = 50)

    println("== graph ANN (per-cell kNN graph + beam descent) ==")
    graft.operators.AnnGraph.annGraph(spark, sfDir, nQueries = 3, topK = 3).show()

    println("== batched hybrid serving (one scan, whole batch) ==")
    g.ragQueryHybridBatch(Seq(
      "fast hash join on a big table",
      "columnar parquet dictionary compression"), topK = 3).show()

    println("== filtered ANN over the chunk index (predicate inside the probe read) ==")
    g.ragQueryAnn("fast hash join on a big table", topK = 3,
      filter = Some(org.apache.spark.sql.functions.col("token_count") > 5)).show(3, truncate = 60)

    println("== LM quality scores (corpus-trained bigram NLL, worst 5) ==")
    g.qualityLm().orderBy(org.apache.spark.sql.functions.col("nll").desc).show(5)

    println("== sequence packing (concat-and-split, 512-token bins, first 5) ==")
    g.packSequences(512).show(5)

    println("== index compaction (small-file maintenance for the derived indexes) ==")
    g.compactIndexes().show()

    println("== DSIR importance sample toward the en slice (top 5 by key) ==")
    g.sampleDsir(org.apache.spark.sql.functions.col("lang") === "en")
      .orderBy(org.apache.spark.sql.functions.col("dsir_key").desc).show(5)

    println("== corpus-trained BPE token stats (highest-fertility 5) ==")
    g.tokenStatsBpe(nMerges = 100, vocabLimit = 2000)
      .orderBy(org.apache.spark.sql.functions.col("fertility").desc).show(5)

    println("== semantic near-duplicates over the chunk embedding space ==")
    g.findSemanticDuplicates(k = 8, eps = 0.95)
      .filter(org.apache.spark.sql.functions.col("is_duplicate")).show(5)

    println("== learned quality classifier (held-out rows, most-confident 5) ==")
    graft.operators.TextAnalysis.qualityClassifier(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("held_out"))
      .orderBy(org.apache.spark.sql.functions.col("p_target").desc).show(5)

    println("== CMS heavy hitters (fixed 4x1024 sketch state) ==")
    graft.operators.TextAnalysis.tokensHeavy(spark, sfDir, topK = 8).show()

    println("== MMR-diversified serving (near-dup chunks demoted, r13) ==")
    g.ragQueryMmr("fast hash join on a big table", topK = 3).show(3, truncate = 60)

    println("== cross-encoder rerank (joint q‖SEP‖d interaction scoring, r13) ==")
    g.ragQueryCross("fast hash join on a big table", topK = 3).show(3, truncate = 60)

    println("== unigram-LM (SentencePiece) token stats, highest-fertility 5 (r13) ==")
    g.tokenStatsUnigram(vocabSize = 400, vocabLimit = 2000)
      .orderBy(org.apache.spark.sql.functions.col("fertility").desc).show(5)

    println("== leakage-safe train/val/test assignment (dup groups move as one, r13) ==")
    g.assignSplits().groupBy("split").count().orderBy("split").show()

    println("== end-to-end: crawl -> curated training shards, with ledger ==")
    val trainDir = java.nio.file.Files.createTempDirectory("graft_demo_train").toString
    g.buildTrainingSet(trainDir).show(truncate = false)

    spark.stop()
  }
}
