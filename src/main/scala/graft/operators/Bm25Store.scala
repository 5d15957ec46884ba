package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted LEXICAL (BM25) postings index — the serving-side twin of the
  * ANN stores for the hybrid retrieval leg the reference names as a
  * serving capability (reference: README.md:32 "hybrid BM25"). Before
  * this store, every `ragQueryHybrid[Batch]` call re-tokenized the whole
  * corpus ([[Bm25.bm25ScoresOver]] builds its (keys, dl, hits) projection
  * per call) while the dense legs served from pruned persisted stores —
  * the last serving-side scale gap: at 100 TB a corpus scan per lexical
  * query is not servable.
  *
  * Layout, under the shared [[AnnStore]] contract (manifest gate, staged
  * swap, incremental refresh, compaction, crash heal):
  *
  *   - `postings/` — `(term, doc_id, chunk_idx, tf, dl)` partitioned by
  *     `cid = pmod(xxhash64(term), buckets)`: the TERM BUCKET is the
  *     pruned-read unit, so a serve reads only the query terms' buckets
  *     (~|query terms|/buckets of the index) — serve cost scales with the
  *     query's posting lists, never with corpus size. Zipf skew note: a
  *     stopword's posting list makes its bucket large, which is the
  *     declared trade (the scan is still that term's postings, the rows
  *     BM25 must weigh anyway; a deployment can raise `buckets` so a hot
  *     term shares its partition with fewer cold ones).
  *   - `chunks/` — `(doc_id, chunk_idx, dl, sig)` partitioned by
  *     `cid = pmod(xxhash64(doc_id, chunk_idx), buckets)`: the diff table
  *     incremental refresh joins against (sig = xxhash64 of the text —
  *     content change detection without storing text twice), hash-bucketed
  *     so a trickle of dirty chunks rewrites few partitions (the flat-PQ
  *     layout's rewrite unit).
  *   - `stats/` — one row `(n_docs, avgdl)`: the corpus-level scalars.
  *     Per-term document frequency does NOT persist: a bucket holds its
  *     terms' COMPLETE posting lists, so `df(term)` is a row count over
  *     the already-pruned read — a separate `(term, df)` table would be a
  *     second structure to keep consistent for a value the serve derives
  *     for free.
  *
  * Scoring algebra is [[Bm25.bm25ScoresOver]]'s verbatim (k1/b/idf/w), so
  * store-served scores are value-identical to the in-plan scorer
  * (spec-asserted row-identical through the hybrid fusion; the driver's
  * `rag_bm25_served` entry rides the SAME DuckDB oracle as `rag_bm25`).
  */
object Bm25Store {
  val Kind = "lex_bm25"
  val DefaultBuckets = 64

  /** Driver-side twin of the in-plan `pmod(xxhash64(term), buckets)` —
    * the serve computes its query terms' buckets without a Spark job
    * (same XXH64, same seed 42 as the `xxhash64` SQL function).
    */
  def termBucket(term: String, buckets: Int): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(term),
      org.apache.spark.sql.types.StringType, 42L)
    java.lang.Math.floorMod(h, buckets.toLong).toInt
  }

  def manifestFor(buckets: Int, extraParams: Seq[(String, Any)],
                  fingerprint: String): String =
    AnnStore.manifest(Kind, ("buckets" -> buckets) +: extraParams, fingerprint)

  /** Postings rows of a `(doc_id, chunk_idx, textCol)` frame — the
    * serve-time unit. `dl` rides denormalized on every posting so scoring
    * never joins back to the chunk table; tf/dl are doubles because the
    * scoring algebra is [[Bm25.bm25ScoresOver]]'s verbatim.
    */
  private def postingsFrom(units: DataFrame, textCol: String,
                           buckets: Int): DataFrame =
    // tokenization mirrors Bm25.bm25ScoresOver BYTE-FOR-BYTE (no coalesce:
    // null text → null toks → no postings, null dl — the exact rows and
    // stats the in-plan scorer derives, so store-served == in-plan)
    units.select(col("doc_id"), col("chunk_idx"),
        Text.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("chunk_idx"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("cid", pmod(xxhash64(col("term")), lit(buckets.toLong)).cast("int"))

  /** The narrow per-chunk summary the diff table stores: token length for
    * the corpus stats, content hash for change detection (no second copy
    * of the text), id-hash bucket as the rewrite unit.
    */
  private def chunksFrom(units: DataFrame, textCol: String,
                         buckets: Int): DataFrame =
    // dl mirrors the in-plan scorer (null text → null dl, skipped by avg);
    // sig stays NON-null even for null text (xxhash64 skips null inputs
    // and yields the seed) so the diff never mistakes a null-text chunk
    // for an absent row
    units.select(col("doc_id"), col("chunk_idx"),
        size(Text.tokens(col(textCol))).cast("double").as("dl"),
        xxhash64(col(textCol)).as("sig"))
      .withColumn("cid",
        pmod(xxhash64(col("doc_id"), col("chunk_idx")), lit(buckets.toLong)).cast("int"))

  private def statsFrom(chunks: DataFrame): DataFrame =
    chunks.agg(count(lit(1)).cast("double").as("n_docs"),
      avg(col("dl")).as("avgdl")).coalesce(1)

  /** Build+persist over a `(doc_id, chunk_idx, textCol)` frame — staged
    * swap, manifest stamped inside the staging dir, live index keeps
    * serving until the rename ([[AnnStore.writeStaged]]). Two narrow text
    * scans total (postings; chunk summary) — the summary is checkpointed
    * (4 columns, never token arrays) so stats don't pay a third.
    */
  private[graft] def writeLexicalIndexOver(spark: SparkSession, units: DataFrame,
                                           path: String, buckets: Int,
                                           manifestStr: String,
                                           textCol: String = "chunk_text"): Unit =
    AnnStore.writeStaged(spark, path, manifestStr) { staging =>
      AnnStore.releasingPinned(spark) {
        // term-SORTED within each bucket: parquet row-group min/max stats
        // on `term` then let the serve's pushed `term IN (…)` filter skip
        // every row group holding only other terms — within the pruned
        // bucket, read cost tracks the query terms' posting lists, not
        // the bucket's co-tenants (matters once buckets span row groups)
        postingsFrom(units, textCol, buckets)
          .sortWithinPartitions(col("cid"), col("term"))
          .write.partitionBy("cid").parquet(staging + "/postings")
        val chunks = AnnStore.trackedCheckpoint(chunksFrom(units, textCol, buckets))
        chunks.write.partitionBy("cid").parquet(staging + "/chunks")
        statsFrom(chunks).write.parquet(staging + "/stats")
      }
    }

  /** Store-served BM25 scores for one query: a PARTITION-PRUNED read of
    * the query terms' buckets, then the in-plan scorer's exact algebra.
    * Output `(doc_id, chunk_idx, bm25)` — the raw-sum shape
    * [[Bm25.bm25ScoresOver]] emits, rows only for units with ≥1 hit.
    */
  def scoresFromStore(spark: SparkSession, path: String, query: String): DataFrame =
    scoresFromStoreBatch(spark, path, Seq(query))
      .drop("query_id")

  /** Batched store serve: ONE pruned read of the union of all queries'
    * term buckets serves the whole batch; the bounded `(query_id, term)`
    * frame broadcast into the postings join restricts each query to its
    * own terms (the [[Bm25.ragHybridBatchOver]] batch shape). Output
    * `(query_id, doc_id, chunk_idx, bm25)`.
    */
  def scoresFromStoreBatch(spark: SparkSession, path: String,
                           queries: Seq[String]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "scoresFromStoreBatch: empty query batch")
    healStats(spark, path)
    val qTerms = queries.zipWithIndex.flatMap { case (q, i) =>
      q.split(" ").filter(_.nonEmpty).distinct.map(t => (i.toLong, t))
    }.toDF("query_id", "term")
    val termSet = queries.flatMap(_.split(" ").filter(_.nonEmpty)).distinct
    val posts = prunedPostings(spark, path, termSet)
    val stats = spark.read.parquet(path + "/stats")
    val df = dfOf(posts)
    posts.join(broadcast(qTerms), "term")
      .join(broadcast(df), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", Bm25.bm25Weight)
      .groupBy(col("query_id"), col("doc_id"), col("chunk_idx"))
      .agg(sum(col("w")).as("bm25"))
  }

  /** WEIGHTED store serve — the stage-2 read of store-served RM3
    * ([[Rm3.ragBm25Rm3Served]]): one pruned read of the weighted terms'
    * buckets, each term's BM25 contribution scaled by its query-model
    * weight ([[Bm25.bm25ScoresWeightedOver]]'s algebra over stored
    * postings). Output `(doc_id, chunk_idx, bm25)`; serve cost is the
    * |q|+M expanded terms' posting lists, never the corpus.
    */
  def weightedScoresFromStore(spark: SparkSession, path: String,
                              weights: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    require(weights.nonEmpty, "weightedScoresFromStore: empty weight set")
    require(weights.map(_._1).distinct.length == weights.length,
      "weightedScoresFromStore: duplicate term in weight set")
    healStats(spark, path)
    val wF = weights.toDF("term", "qw")
    val posts = prunedPostings(spark, path, weights.map(_._1))
    val stats = spark.read.parquet(path + "/stats")
    val df = dfOf(posts)
    posts.join(broadcast(df), "term")
      .join(broadcast(wF), "term")
      .crossJoin(broadcast(stats))
      .withColumn("w", Bm25.bm25Weight * col("qw"))
      .groupBy(col("doc_id"), col("chunk_idx"))
      .agg(sum(col("w")).as("bm25"))
  }

  /** A frozen per-query scoring snapshot — the BATCH artifact the
    * streaming twin broadcasts (the snapshot-then-stream discipline of
    * the DSIR/Bloom ingest twins): each query term's document frequency
    * from the store plus the corpus scalars. It changes when the INDEX
    * does, not per arrival.
    */
  final case class LexSnapshot(query: String, terms: Seq[(String, Double)],
                               nDocs: Double, avgdl: Double)

  /** Build a [[LexSnapshot]] from a persisted store: one pruned read of
    * the query terms' buckets for df (≤ |terms| rows collect) plus the
    * 1-row stats table.
    */
  def snapshotFor(spark: SparkSession, path: String, query: String): LexSnapshot = {
    val terms = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    val dfMap =
      if (terms.isEmpty) Map.empty[String, Double]
      else dfOf(prunedPostings(spark, path, terms))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val statRows = { healStats(spark, path); spark.read.parquet(path + "/stats").collect() }
    val (n, avg) =
      if (statRows.isEmpty) (0.0, 0.0)
      else (statRows.head.getDouble(0),
        if (statRows.head.isNullAt(1)) 0.0 else statRows.head.getDouble(1))
    LexSnapshot(query, terms.map(t => t -> dfMap.getOrElse(t, 0.0)), n, avg)
  }

  /** THE pruned postings read — manifest bucket count, crash heal, bucket
    * partition pruning, within-bucket term filter — single-sourced so the
    * batch scorer and the snapshot builder can never diverge on the
    * pruning discipline or the df base their value-identity rests on.
    * Empty `terms` yields a schema-correct empty frame with zero buckets
    * read.
    */
  private def prunedPostings(spark: SparkSession, path: String,
                             terms: Seq[String]): DataFrame = {
    val buckets = AnnStore.readManifest(spark, path)
      .flatMap(AnnStore.manifestInt(_, "buckets"))
      .getOrElse(throw new IllegalStateException(
        s"no lexical index manifest at $path — build via writeLexicalIndexOver"))
    AnnStore.healCompacted(spark, path, Seq("postings"))
    val all = spark.read.parquet(path + "/postings")
    if (terms.isEmpty) all.filter(lit(false))
    else all
      .filter(col("cid").isin(terms.map(termBucket(_, buckets)).distinct: _*))
      .filter(col("term").isin(terms.map(lit): _*))
  }

  /** df(term) over a pruned read: exact — the read holds the query
    * terms' COMPLETE posting lists (bucket partitioning is by term).
    */
  private def dfOf(posts: DataFrame): DataFrame =
    posts.groupBy(col("term")).agg(count(lit(1)).cast("double").as("df"))

  /** Stateless scan-side BM25 under a frozen snapshot — a per-row token
    * fold with the snapshot's statistics riding as LITERALS, so the
    * arrival-time twin needs no aggregation, no join, and no state; every
    * row scores (0.0 when no query term hits — arrival routing wants
    * every arrival scored, unlike the corpus scorer's hits-only rows).
    * Same idf/w algebra as [[Bm25.bm25Weight]] with df/N/avgdl pinned.
    */
  def scoreWithSnapshot(docs: DataFrame, textCol: String,
                        snap: LexSnapshot): DataFrame = {
    val toks = Text.tokens(coalesce(col(textCol), lit("")))
    val dl = size(toks).cast("double")
    val w =
      if (snap.avgdl <= 0) lit(0.0) // empty-store snapshot: nothing scores
      else snap.terms.map { case (t, df) =>
        val idf = math.log((snap.nDocs - df + 0.5) / (df + 0.5) + 1.0)
        val tf = size(filter(toks, x => x === lit(t))).cast("double")
        lit(idf) * tf * lit(Bm25.K1 + 1.0) /
          (tf + lit(Bm25.K1) *
            (lit(1.0 - Bm25.B) + lit(Bm25.B) * dl / lit(snap.avgdl)))
      }.reduceOption(_ + _).getOrElse(lit(0.0))
    docs.select(col("doc_id"), round(w + lit(1e-9), 4).as("bm25"))
  }

  /** Incremental maintenance — the [[AnnStore.refreshIndex]] contract
    * re-derived for a store whose unit (a chunk) fans out to MANY
    * partitions (one per distinct term): diff the new corpus against the
    * stored `chunks/` table on (doc_id, chunk_idx, sig), then rewrite
    * exactly (a) the term buckets touched by any dirty chunk's postings —
    * new-side buckets from tokenizing ONLY the dirty new text, old-side
    * buckets from one narrow filter scan of the postings table (their
    * buckets are not recorded anywhere else; the scan is read-only and
    * prunes to the `(doc_id, chunk_idx, cid)` columns) — and (b) the
    * chunk-table hash buckets holding dirty ids. `stats/` recomputes from
    * the updated chunk table (a bounded aggregate over the narrow diff
    * table, never a corpus text re-scan) — N and avgdl legitimately move
    * under ANY change, which re-scores every document AT SERVE TIME
    * because scores are algebra over (tf, dl, df, N, avgdl), none of
    * which is baked into the stored rows.
    *
    * Dispatch modes and crash semantics match the shared contract: the
    * new manifest is stamped LAST, so a crash mid-rewrite leaves a stale
    * manifest whose fingerprint no longer matches — the next ensure sees
    * the mismatch and cold-rebuilds. Returns the shared 1-row stats frame.
    */
  private[graft] def refreshLexicalIndexOver(spark: SparkSession, path: String,
                                             newUnits: DataFrame,
                                             newManifest: String,
                                             driftBound: Double = 0.3,
                                             textCol: String = "chunk_text"): DataFrame =
    AnnStore.releasingPinned(spark) {
      import spark.implicits._
      def stats(mode: String, a: Long, c: Long, r: Long, cells: Long) =
        Seq((mode, a, c, r, cells))
          .toDF("mode", "n_added", "n_changed", "n_removed", "n_cells_rewritten")
      val buckets = AnnStore.manifestInt(newManifest, "buckets")
        .getOrElse(DefaultBuckets)
      def fullBuild(): Unit =
        writeLexicalIndexOver(spark, newUnits, path, buckets, newManifest, textCol)
      // a crashed incremental refresh is NOT self-healing here, unlike the
      // ANN stores: their diff authority IS the data table (lost rows
      // reappear as 'added'), while this store's diff table (chunks/) is
      // decoupled from the postings it guards — a crash between the
      // postings deletes and the append would permanently drop survivor
      // chunks' posting lists and the next diff would see nothing wrong.
      // The intent marker makes that window DETECTABLE: written before the
      // first destructive step, removed after the manifest stamp; finding
      // one means the store may be inconsistent → rebuild, never serve or
      // patch a silently-wrong index (crash costs a rebuild, the shared
      // contract's actual guarantee).
      val intentPath = new org.apache.hadoop.fs.Path(path + "/.refresh.intent")
      val crashed = AnnStore.fileSystem(spark, path).exists(intentPath)
      AnnStore.readManifest(spark, path) match {
        case None =>
          fullBuild(); stats("full_cold", -1, -1, -1, -1)
        case Some(_) if crashed =>
          fullBuild(); stats("full_crash", -1, -1, -1, -1)
        case Some(m) if m == newManifest =>
          stats("fresh", 0, 0, 0, 0)
        case Some(m) if AnnStore.paramsOf(m) != AnnStore.paramsOf(newManifest) =>
          fullBuild(); stats("full_params", -1, -1, -1, -1)
        case Some(_) =>
          val oldChunks = spark.read.parquet(path + "/chunks")
          // a store persisted under a different chunk-table schema cannot
          // diff — rebuild, never crash (the shared contract's rule)
          val expected = Set("doc_id", "chunk_idx", "dl", "sig", "cid")
          if (oldChunks.columns.toSet != expected) {
            fullBuild(); stats("full_schema", -1, -1, -1, -1)
          } else {
            val keys = Seq("doc_id", "chunk_idx")
            // the diff reads SIGNATURES only — one xxhash64 per row, no
            // token arrays; dirty rows re-tokenize later, bounded
            val newSide = newUnits.select(col("doc_id"), col("chunk_idx"),
              xxhash64(col(textCol)).as("new_sig"))
            val oldSide = oldChunks.select(col("doc_id"), col("chunk_idx"),
              col("sig").as("old_sig"))
            val j = oldSide.join(newSide, keys, "full_outer")
            val isAdded = col("old_sig").isNull && col("new_sig").isNotNull
            val isRemoved = col("new_sig").isNull && col("old_sig").isNotNull
            val isChanged = col("old_sig").isNotNull && col("new_sig").isNotNull &&
              col("old_sig") =!= col("new_sig")
            def cnt(c: org.apache.spark.sql.Column) =
              coalesce(sum(when(c, 1L)), lit(0L))
            val s = j.agg(
              cnt(isAdded).as("n_added"), cnt(isChanged).as("n_changed"),
              cnt(isRemoved).as("n_removed"),
              cnt(col("old_sig").isNotNull).as("n_old")).head()
            val nA = s.getLong(0); val nC = s.getLong(1); val nR = s.getLong(2)
            val nOld = s.getLong(3)
            if (nA + nC + nR == 0) {
              // restamp ALSO refreshes the stats table: a crash between a
              // previous refresh's data rewrite and its stats swap leaves
              // NEW data under the OLD manifest — this branch is exactly
              // where that state lands next time, and stamping without
              // re-deriving stats would serve stale N/avgdl silently
              swapStats(spark, path)
              AnnStore.writeManifestFile(AnnStore.fileSystem(spark, path),
                new org.apache.hadoop.fs.Path(path), newManifest)
              stats("restamp", 0, 0, 0, 0)
            } else if (nA + nC + nR > driftBound * math.max(nOld, 1L)) {
              fullBuild(); stats("full_drift", nA, nC, nR, -1)
            } else {
              // the dirty id set, materialized once (it gates three reads
              // whose lineage must not re-run the diff mid-rewrite)
              val dirty = AnnStore.trackedCheckpoint(
                j.filter(isAdded || isChanged || isRemoved)
                  .select(col("doc_id"), col("chunk_idx"),
                    (isAdded || isChanged).as("present_new")))
              // dirty chunks' NEW text rows — bounded by the trickle; only
              // these re-tokenize
              val dirtyNew = newUnits.join(
                dirty.filter(col("present_new")).select(keys.map(col): _*), keys)
              val newPosts = AnnStore.trackedCheckpoint(
                postingsFrom(dirtyNew, textCol, buckets))
              // affected TERM buckets: new-side from the dirty postings
              // themselves; old-side from one narrow filter scan of the
              // stored postings (no other record of a removed term's bucket)
              val newBuckets = newPosts.select(col("cid")).distinct()
                .collect().map(_.getInt(0))
              val oldBuckets = spark.read.parquet(path + "/postings")
                .join(dirty.select(keys.map(col): _*), keys)
                .select(col("cid")).distinct().collect().map(_.getInt(0))
              val affected = (newBuckets ++ oldBuckets).distinct.sorted.toSeq
              val fs = AnnStore.fileSystem(spark, path)
              // postings rewrite: affected buckets' survivors + dirty new
              // rows, materialized BEFORE the deletes sever their lineage
              val postRows = AnnStore.trackedCheckpoint(
                spark.read.parquet(path + "/postings")
                  .filter(col("cid").isin(affected: _*))
                  .join(dirty.select(keys.map(col): _*), keys, "left_anti")
                  .unionByName(newPosts))
              // chunk-table rewrite: same protocol on the id-hash buckets
              val chunkAffected = dirty
                .select(pmod(xxhash64(col("doc_id"), col("chunk_idx")),
                  lit(buckets.toLong)).cast("int").as("cid"))
                .distinct().collect().map(_.getInt(0)).sorted.toSeq
              val chunkRows = AnnStore.trackedCheckpoint(
                oldChunks.filter(col("cid").isin(chunkAffected: _*))
                  .join(dirty.select(keys.map(col): _*), keys, "left_anti")
                  .unionByName(chunksFrom(dirtyNew, textCol, buckets)))
              // destructive phase begins: marker down first (see dispatch)
              fs.create(intentPath, true).close()
              affected.foreach(c => fs.delete(
                new org.apache.hadoop.fs.Path(s"$path/postings/cid=$c"), true))
              postRows.sortWithinPartitions(col("cid"), col("term"))
                .write.mode("append").partitionBy("cid")
                .parquet(path + "/postings")
              chunkAffected.foreach(c => fs.delete(
                new org.apache.hadoop.fs.Path(s"$path/chunks/cid=$c"), true))
              chunkRows.write.mode("append").partitionBy("cid")
                .parquet(path + "/chunks")
              swapStats(spark, path)
              AnnStore.writeManifestFile(fs,
                new org.apache.hadoop.fs.Path(path), newManifest)
              fs.delete(intentPath, false)
              stats("incremental", nA, nC, nR,
                (affected.length + chunkAffected.length).toLong)
            }
          }
      }
    }

  /** Recompute the corpus scalars from the CURRENT chunk table (narrow,
    * bounded aggregate — never a corpus text re-scan) and swap them in
    * via the backup-rename protocol, so a concurrent serve never reads a
    * half-written stats dir and a crash mid-swap is healable from the
    * backup ([[healStats]]).
    */
  private def swapStats(spark: SparkSession, path: String): Unit = {
    val fs = AnnStore.fileSystem(spark, path)
    val newStats = statsFrom(spark.read.parquet(path + "/chunks"))
    val staging = new org.apache.hadoop.fs.Path(path + "/.stats.staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    newStats.write.parquet(staging.toString)
    graft.IndexStore.swapDir(fs, staging,
      new org.apache.hadoop.fs.Path(path + "/stats"))
  }

  /** Serve-side heal: a crash between [[swapStats]]' two renames leaves
    * the stats in `stats.backup` with no live dir — rename it back
    * (the IndexStore.load self-heal pattern; lost races are fine as long
    * as SOMEONE restored the dir).
    */
  private def healStats(spark: SparkSession, path: String): Unit = {
    val fs = AnnStore.fileSystem(spark, path)
    val live = new org.apache.hadoop.fs.Path(path + "/stats")
    val backup = new org.apache.hadoop.fs.Path(path + "/stats.backup")
    if (!fs.exists(live) && fs.exists(backup) &&
        !fs.rename(backup, live) && !fs.exists(live))
      throw new java.io.IOException(s"healStats: cannot restore $live from backup")
  }

  /** Build-once gate for a DOC-granularity postings index over the
    * documents table (chunk_idx pinned 0) — what the driver's served
    * lexical queries use; the facade's chunk-granularity twin is
    * `Graft.ensureChunkLexIndex`.
    */
  def ensureDocLexIndex(spark: SparkSession, sfDir: String, path: String,
                        buckets: Int = DefaultBuckets): Unit = {
    val m = manifestFor(buckets, Seq("unit" -> "doc"),
      AnnStore.pathFingerprint(spark,
        new org.apache.hadoop.fs.Path(sfDir, "documents.parquet").toString))
    AnnStore.ensureIndex(spark, path, m) {
      writeLexicalIndexOver(spark,
        graft.Tables.documents(spark, sfDir)
          .select(col("doc_id"), lit(0).as("chunk_idx"), col("text")),
        path, buckets, m, textCol = "text")
    }
  }

  /** Compact both cid-partitioned tables ([[AnnStore.compactIndex]]) —
    * trickle refreshes fragment hot term buckets exactly like ANN cells.
    */
  def compactLexIndex(spark: SparkSession, path: String,
                      targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("postings", "chunks"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("lex", sfDir)
}
