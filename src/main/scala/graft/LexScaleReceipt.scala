package graft

import graft.operators.{Bm25, Bm25Store}
import org.apache.spark.sql.functions._

/** Scale receipt for the persisted lexical index (SURVEY §4h): the claim
  * is that a store serve reads the query terms' BUCKETS — pruned
  * partitions plus term-sorted row-group skipping — so serve cost tracks
  * the query's posting lists, while the in-plan scorer re-tokenizes the
  * corpus and must grow with it.
  *
  * Corpus synthesis isolates exactly that contrast: the corpus grows
  * `scale`× with documents whose terms all carry a suffix that hashes
  * them AWAY from the query terms' buckets (realistic shape: a corpus
  * grows mostly with documents irrelevant to any one query — a query's
  * posting lists are corpus-fraction tiny). The query buckets' bytes are
  * then scale-INVARIANT, so:
  *   - store serve should be ~flat at `scale`× (it reads the same
  *     buckets; only fixed costs and the one-row stats read ride along);
  *   - the in-plan scorer should grow toward `scale`× (it tokenizes
  *     every document to find the same hits).
  * When growth is instead RELEVANT documents (replicated query hits),
  * both legs grow with the posting lists — the store's win there is the
  * constant-fraction bucket pruning, which the printed bucket-bytes
  * fraction quantifies.
  *
  * Timing only; correctness stays pinned by the sf0.01 oracle gate
  * (rag_bm25_served / rag_hybrid_served ride the A10/A11 oracles).
  *
  * Usage: runMain graft.LexScaleReceipt [srcSfDir] [workDir] [scale]
  */
object LexScaleReceipt {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_lexscale"
    val scale = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.start("graft-lexscale-receipt")
    val cpus = spark.sparkContext.defaultParallelism

    val query = Bm25.DefaultQuery
    val dir = work + "/corpus"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val docPath = new org.apache.hadoop.fs.Path(dir, "documents.parquet")
    val nSrc = Tables.documents(spark, src).count()
    val expected = nSrc * scale
    if (fs.exists(docPath) &&
        scala.util.Try(spark.read.parquet(docPath.toString).count())
          .toOption.forall(_ != expected))
      fs.delete(docPath, true)
    if (!fs.exists(docPath)) {
      // rep 0 keeps the source text verbatim (the query's posting lists);
      // reps ≥1 suffix EVERY token with "q" — a suffixed term is a
      // different vocabulary entry, so none of the growth lands in the
      // query terms' posting lists (and overwhelmingly not in their
      // buckets: a shared bucket would only add skippable row groups)
      Tables.documents(spark, src)
        .withColumn("rep", explode(sequence(lit(0), lit(scale - 1))))
        .select(
          (col("doc_id") * scale + col("rep")).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), "(\\S+)", "$1q")).as("text"),
          col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .repartition(cpus)
        .write.mode("overwrite").parquet(docPath.toString)
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def run(df: org.apache.spark.sql.DataFrame): Unit = {
      df.queryExecution.executedPlan.execute().count(); ()
    }
    // build both doc-level stores (build is O(corpus) — reported honestly;
    // the gate makes a re-run a no-op, so the timing is of the FIRST call)
    val srcIdx = work + "/idx_src"
    val scaledIdx = work + "/idx_scaled"
    val buildSrc = time(Bm25Store.ensureDocLexIndex(spark, src, srcIdx))
    val buildScaled = time(Bm25Store.ensureDocLexIndex(spark, dir, scaledIdx))

    def serveT(path: String): Double = {
      run(Bm25Store.scoresFromStore(spark, path, query)) // warmup
      (1 to 3).map(_ => time(run(
        Bm25Store.scoresFromStore(spark, path, query)))).min
    }
    def inplaneT(d: String): Double = {
      run(Bm25.bm25Scores(spark, d, query))
      (1 to 3).map(_ => time(run(Bm25.bm25Scores(spark, d, query)))).min
    }
    val serveSrc = serveT(srcIdx)
    val serveScaled = serveT(scaledIdx)
    val inSrc = inplaneT(src)
    val inScaled = inplaneT(dir)

    // the structural metric: bytes residing in the query terms' buckets
    // vs the whole postings store — the pruned read's ceiling
    def bucketBytes(path: String): (Long, Long) = {
      val buckets = operators.AnnStore.readManifest(spark, path)
        .flatMap(operators.AnnStore.manifestInt(_, "buckets")).get
      val qBuckets = query.split(" ").filter(_.nonEmpty).distinct
        .map(Bm25Store.termBucket(_, buckets)).distinct.toSet
      val root = new org.apache.hadoop.fs.Path(path + "/postings")
      val parts = fs.listStatus(root).filter(_.getPath.getName.startsWith("cid="))
      def sz(p: org.apache.hadoop.fs.Path): Long =
        fs.listStatus(p).filter(_.isFile).map(_.getLen).sum
      val total = parts.map(s => sz(s.getPath)).sum
      val qb = parts.filter(s =>
        qBuckets.contains(s.getPath.getName.stripPrefix("cid=").toInt))
        .map(s => sz(s.getPath)).sum
      (qb, total)
    }
    val (qbSrc, totSrc) = bucketBytes(srcIdx)
    val (qbScaled, totScaled) = bucketBytes(scaledIdx)

    def r(x: Double) = math.round(x * 1000) / 1000.0
    println(
      s"""{"receipt":"lex_scale","scale":$scale,"n_src":$nSrc,"n_scaled":$expected,
         |"build_sec":{"src":${r(buildSrc)},"scaled":${r(buildScaled)}},
         |"serve_sec":{"src":${r(serveSrc)},"scaled":${r(serveScaled)},"ratio":${r(serveScaled / math.max(serveSrc, 1e-3))}},
         |"inplan_sec":{"src":${r(inSrc)},"scaled":${r(inScaled)},"ratio":${r(inScaled / math.max(inSrc, 1e-3))}},
         |"query_bucket_bytes":{"src":$qbSrc,"src_total":$totSrc,"scaled":$qbScaled,"scaled_total":$totScaled,
         |"scaled_fraction":${r(qbScaled.toDouble / math.max(totScaled, 1L))}}}"""
        .stripMargin.replace("\n", ""))
    spark.stop()
  }
}
