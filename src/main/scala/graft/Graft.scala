package graft

import graft.operators.Chunker
import graft.plans.VecExprs
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The user-facing facade — what a user of mcp-rag-server switches to.
  *
  * Mirrors the reference's tool surface (reference: src/index.ts:157-419)
  * as batch-friendly calls over a corpus DataFrame:
  *
  *   - `buildIndex()`   ≙ cold build (discover → chunk → embed)
  *   - `ragQuery(text)` ≙ rag_query  (embed query, cosine top-k, snippets)
  *   - `readFile(id)`   ≙ read_file  (token-range slice)
  *   - `listFiles()`    ≙ list_files (catalog with dirs-first ordering)
  *   - `status()`       ≙ /health indexing counters
  *
  * plus `IndexStore` for the persistence/warm-start path. The query string is
  * embedded driver-side with the same [[Embedder]] the executors use, then
  * shipped as a literal — the corpus side never collects.
  */
class Graft(spark: SparkSession, sfDir: String,
            chunkSize: Int = 100, chunkOverlap: Int = 20, dim: Int = 64,
            private val dirSource: Option[Graft.CorpusSource] = None,
            private val frameShape: Option[String] = None,
            embedderOpt: Option[Embedder] = None) {
  /** The facade's embedding seam (see [[Embedder]]) — default is the
    * oracle-checkable feature hash; a session-backed model drops in here
    * and every surface (build, query, incremental re-embed, derived ANN
    * maintenance) routes through it with no operator changes.
    */
  val embedder: Embedder = embedderOpt.getOrElse(HashEmbedder(dim))
  require(embedder.dim == dim,
    s"embedder dim ${embedder.dim} must match facade dim $dim")

  /** Model identity — rides every store's compatibility metadata, so an
    * embedder swap reads as a mismatch and rebuilds instead of silently
    * mixing vector spaces.
    */
  val modelName = embedder.name

  /** Chunked + embedded index (the reference's in-memory `Doc[]`, columnar:
    * doc_id, chunk_idx, chunk_text, file_size, token_count, lang, emb).
    */
  def buildIndex(): DataFrame =
    embedFrom(Chunker.indexBuild(spark, sfDir, chunkSize, chunkOverlap))

  /** The serving index — built once per facade instance and cached, the way
    * the reference keeps `Doc[]` in memory across rag_query calls
    * (reference: src/index.ts:428 builds once at startup). First query pays
    * the build; subsequent queries scan executor memory.
    */
  lazy val servingIndex: DataFrame = {
    val idx = buildIndex().cache()
    idx.count() // materialize eagerly, like the reference's blocking startup
    idx
  }

  /** Embed a (batch) chunk frame. Session-backed embedders do per-ROW
    * inference, so their parallelism must come from partitioning, not
    * file layout: an under-partitioned input (one small parquet file)
    * would serialize the whole forward-pass stage through one task (the
    * §4g receipt measured 35 s vs 0.6 s on exactly this). Expression
    * embedders stay untouched — codegen'd per-row work is scan-cheap and
    * an unconditional shuffle would cost more than it buys; likewise a
    * WELL-partitioned input is never reshuffled (at corpus scale the
    * blanket repartition is the anti-pattern).
    */
  private def embedFrom(chunks: DataFrame): DataFrame = {
    val toEmbed = embedder match {
      case _: BatchEmbedder =>
        val p = spark.sparkContext.defaultParallelism
        if (chunks.rdd.getNumPartitions < p) chunks.repartition(p) else chunks
      case _ => chunks
    }
    embedder.embedFrame(toEmbed, "chunk_text", "emb")
  }

  def meta: IndexStore.Meta =
    IndexStore.Meta(IndexStore.Version, chunkSize, chunkOverlap, modelName)

  /** Warm-start incremental reindex (reference: src/indexer.ts:413-511).
    * Loads the stored index (metadata-gated); diffs stored file sizes
    * against the current scan; re-chunks + re-embeds only new/changed docs,
    * drops removed ones; saves the merged index back. Returns a single-row
    * stats frame (the reference's log line, as data). Cold path: no
    * compatible store → full build + save, everything counts as added.
    *
    * Scale shape: one full-outer join on doc_id (both sides partitioned on
    * it — the store is bucketed by doc_id), then chunk+embed over only the
    * changed subset.
    */
  def incrementalUpdate(storePath: String): DataFrame = {
    import spark.implicits._
    IndexStore.load(spark, storePath, meta) match {
      case None =>
        IndexStore.save(buildIndex(), storePath, meta)
        // count the STORE, not the build DAG: each count over the unsaved
        // frame would re-chunk + re-embed the whole corpus (the ingest
        // pipeline is its lineage); the saved parquet serves the row count
        // from footers and the doc count from one pruned column scan
        val stored = IndexStore.load(spark, storePath, meta)
        val chunks = stored.map(_.count()).getOrElse(-1L)
        val docs = stored.map(_.select("doc_id").distinct().count()).getOrElse(-1L)
        Seq((docs, 0L, 0L, 0L, chunks))
          .toDF("n_added", "n_changed", "n_removed", "n_unchanged", "total_chunks")
      case Some(old) =>
        val cur = Tables.documents(spark, sfDir)
        val oldFiles = old.select(col("doc_id"), col("file_size")).distinct()
        // diff key = the stored file_size's own semantic — the SHARED
        // Tables.changeKey definition Chunker persisted as file_size
        val curFiles = cur.select(col("doc_id"), Tables.changeKey(cur).as("cur_size"))
        // cached for the reindex joins + the stats aggregation; released in
        // the finally so a failed save() can't leak a corpus-sized cache
        // into the session for its lifetime
        val joined = oldFiles.join(curFiles, Seq("doc_id"), "full_outer").cache()
        try {
        // ONE definition per diff predicate — the id frames that drive the
        // reindex and the stats aggregation must never drift apart
        val isRemoved = col("cur_size").isNull
        val isChanged = col("cur_size").isNotNull && col("file_size").isNotNull &&
          col("file_size") =!= col("cur_size")
        val isAdded = col("file_size").isNull
        val removedIds = joined.filter(isRemoved).select("doc_id")
        val changedIds = joined.filter(isChanged).select("doc_id")
        val addedIds = joined.filter(isAdded).select("doc_id")
        val dirtyIds = changedIds.unionAll(addedIds)
        // NO broadcast hint on the dirty-id frames: they are unbounded (a
        // param/clock drift can mark the WHOLE corpus dirty — forcing a
        // broadcast of 1e9 ids is a driver OOM at scale). In the common
        // trickle case AQE converts these anti/semi joins to broadcast at
        // runtime from the observed size; in the everything-dirty case it
        // keeps the co-partitioned shuffle join, which is the right plan.
        val kept = old.join(removedIds.unionAll(changedIds), Seq("doc_id"), "left_anti")
        val reindexed = embedFrom(Chunker.indexBuildFrom(
          cur.join(dirtyIds, Seq("doc_id"), "left_semi"), chunkSize, chunkOverlap))
        val merged = kept.unionByName(reindexed)
        // ONE aggregation for all four stats (the AnnStore.refreshIndex
        // pattern — a count() per stat re-executes the diff per action),
        // taken BEFORE save(): the diff/kept lineage is rooted in the old
        // store files, which save() replaces — recomputing a dropped cache
        // partition afterwards would read deleted parquet
        def cnt(c: org.apache.spark.sql.Column) = coalesce(sum(when(c, 1L)), lit(0L))
        val s = joined.agg(
          cnt(isAdded).as("n_added"),
          cnt(isChanged).as("n_changed"),
          cnt(isRemoved).as("n_removed"),
          cnt(col("file_size") === col("cur_size")).as("n_unchanged")).head()
        val nAdded = s.getLong(0); val nChanged = s.getLong(1)
        val nRemoved = s.getLong(2); val nUnchanged = s.getLong(3)
        IndexStore.save(merged, storePath, meta)
        // count the STORE, not the merge DAG: counting `merged` would re-run
        // the whole diff+chunk+embed pipeline, while count() over the saved
        // parquet is satisfied from row-group footers (no data pages read)
        val total = IndexStore.load(spark, storePath, meta).map(_.count()).getOrElse(-1L)
        Seq((nAdded, nChanged, nRemoved, nUnchanged, total))
          .toDF("n_added", "n_changed", "n_removed", "n_unchanged", "total_chunks")
        } finally joined.unpersist()
    }
  }

  /** The reference's actual operational loop over LIVE files (reference:
    * src/indexer.ts:413-511 — re-scan the watched tree, diff against the
    * stored snapshot, re-embed only what changed): re-discovers the
    * directory this facade was created from (`Graft.forDirectory`), swaps
    * the re-landed documents table in crash-safely (backup-rename, same
    * protocol as the chunk store), then runs [[incrementalUpdate]] so only
    * added/changed files are re-chunked + re-embedded and removed files
    * drop out of the store. Returns the incremental stats frame.
    *
    * Scale shape: the re-scan reads raw files once (the ingest-once rule);
    * the diff is the same single co-partitioned full-outer join on doc_id;
    * chunk+embed touches only the dirty subset. Serving note: a facade's
    * cached [[servingIndex]] predates the reindex by design (the reference
    * also serves its in-memory Doc[] until restart) — warm-serve the fresh
    * index via `ragQueryOver(IndexStore.load(...))` or a new facade.
    */
  def reindexDirectory(storePath: String): DataFrame = {
    val src = dirSource.getOrElse(throw new IllegalStateException(
      "reindexDirectory requires a facade built by Graft.forDirectory/forJsonl"))
    reindexFrom(src.discover(spark, sfDir), storePath)
  }

  /** The reference's WATCH MODE as a running stream (reference:
    * src/index.ts:425-427 names it as the planned extension; the batch
    * [[reindexDirectory]] is the per-tick body): a file-source stream over
    * the corpus root detects ARRIVALS, and each micro-batch triggers one
    * reindexDirectory — full-tree diff, dirty-only re-embed, both derived
    * chunk ANN indexes refreshed affected-cells-only. The batch frame
    * itself is NEVER executed: file contents are not read on the trigger
    * path (discovery re-reads exactly what the diff needs), so the stream
    * is an arrival signal with checkpointed exactly-once bookkeeping, not
    * a second ingest path that could drift from batch semantics.
    *
    * File-source semantics: only NEW files open a micro-batch; an in-place
    * edit of a known file does not trigger by itself (the same blindness
    * as a size-heuristic poll). Because each trigger diffs the WHOLE tree,
    * any pending edits and deletes ride the next arrival's batch — or an
    * interleaved manual reindexDirectory. The stream source cannot prune
    * excluded folders at listing time (one load path, no glob negation),
    * so exclusion is enforced per batch: the arrivals' PATHS are consulted
    * through the binaryFile source with content pruned away — file bytes
    * are never read on the trigger path — and a batch whose every arrival
    * sits under an excluded folder skips the reindex entirely, so
    * node_modules churn can never drive full-tree diffs. (binaryFile's
    * `path` is Hadoop's unescaped form, so the excluded-segment check
    * works for spaces/percent names without URI decoding.) Caller stops
    * the returned query.
    */
  def watchDirectory(storePath: String, checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val (root, exts, excluded) = dirSource match {
      case Some(Graft.DirSource(r, ext, ex)) => (r, ext, ex)
      case Some(Graft.JsonlSource(r, _, _, _, ex)) => (r, Seq("jsonl"), ex)
      case _ => throw new IllegalStateException(
        "watchDirectory requires a facade built by Graft.forDirectory/forJsonl")
    }
    val rootNorm = if (root.endsWith("/")) root else root + "/"
    val isExcludedCol = Graft.excludedPathCol(rootNorm, excluded)
    // binaryFile's fixed schema, declared up front (a streaming source
    // cannot infer one from an empty-at-start directory)
    val binarySchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("path", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("modificationTime",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("length", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    val arrivals = spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", sources.TextCorpus.extGlob(exts))
      .option("recursiveFileLookup", "true")
      .load(root)
      // only the file paths travel to the trigger: binaryFile prunes the
      // content column away, so arrival bytes are never opened here
      .select(col("path"))
    arrivals.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // only the file paths are consulted — the reindex body recomputes
        // the authoritative diff itself, so batch CONTENT is never trusted.
        // The exclusion predicate runs distributed and ONE summary row
        // comes back (see Graft.shouldReindex): the arrival path list is
        // never collected, so a first-batch backfill of a
        // millions-of-files tree costs one map-side-combined aggregate,
        // not a driver materialization.
        if (Graft.shouldReindex(batch, isExcludedCol)) {
          reindexDirectory(storePath)
          ()
        }
      }
      .start()
  }

  /** The table-corpus twin of [[reindexDirectory]] — for a
    * [[Graft.forFrame]] facade there is no tree to re-scan, so the caller
    * hands in the CURRENT state of their upstream table/frame and gets
    * the identical incremental semantics: crash-safe re-land, diff against
    * the stored snapshot, re-chunk+re-embed only the dirty docs, and both
    * derived chunk indexes refreshed affected-cells-only.
    *
    * Only a forFrame facade may call this (a directory/JSONL facade's
    * corpus would be silently clobbered by the frame — its reindex is
    * [[reindexDirectory]]), and the frame's COLUMN SET must imply the same
    * identity/diff-key rungs as the frame the facade was built from: a
    * column appearing or vanishing between calls switches
    * [[Graft.frameAsDocuments]]'s semantics and would remove+re-add or
    * re-embed the entire corpus in one silent sweep, so that drift is an
    * error here, not a diff result.
    */
  def reindexFrame(docs: DataFrame, storePath: String): DataFrame = {
    val pinned = frameShape.getOrElse(throw new IllegalStateException(
      "reindexFrame requires a facade built by Graft.forFrame"))
    val shape = Graft.frameShapeOf(docs)
    require(shape == pinned,
      s"frame shape drifted: the facade pinned '$pinned' but this frame implies " +
        s"'$shape' — a changed column set switches identity/diff semantics and " +
        "would misclassify the whole corpus; rebuild via Graft.forFrame instead")
    reindexFrom(Graft.frameAsDocuments(docs), storePath)
  }

  private def reindexFrom(docs: DataFrame, storePath: String): DataFrame = {
    Graft.landDocuments(docs, sfDir)
    val stats = incrementalUpdate(storePath)
    // derived-index maintenance (reference: src/indexer.ts:413-511 — the
    // watch loop keeps its index live): if a chunk-ANN index was ever built
    // for this corpus, refresh it INCREMENTALLY from the just-updated chunk
    // store — stored centroids, affected cells only — honoring the index's
    // own k (its manifest), not a caller default. No index → no work; the
    // first ragQueryAnn builds one cold through its ensure gate.
    lazy val newE = chunkVectors(IndexStore.load(spark, storePath, meta).getOrElse(
      throw new IllegalStateException("chunk store unreadable after incrementalUpdate")))
    // one fingerprint listing serves BOTH derived-index manifests — and both
    // stamps describe the identical corpus state
    lazy val fp = docsFingerprint
    val (annMode, annCells) =
      storedChunkAnnManifest match {
        case None => ("absent", -1L)
        case Some(stored) =>
          val k = operators.AnnStore.manifestInt(stored, "k").getOrElse(Graft.DefaultChunkAnnK)
          val r = operators.AnnIvf.refreshIndexOver(
            spark, chunkAnnPath, newE, chunkAnnManifest(k, fp)).head()
          (r.getAs[String]("mode"), r.getAs[Long]("n_cells_rewritten"))
      }
    // the chunk-GRAPH index (if one was ever built) rides the same
    // keep-it-live contract — stored k/degree honored from its manifest
    val (gMode, gCells) =
      storedChunkGraphManifest match {
        case None => ("absent", -1L)
        case Some(stored) =>
          val (k, degree) = chunkGraphParams(Some(stored))
          val r = operators.AnnGraph.refreshGraphIndexOver(
            spark, chunkGraphPath, newE, chunkGraphManifest(k, degree, fp)).head()
          (r.getAs[String]("mode"), r.getAs[Long]("n_cells_rewritten"))
      }
    // the LEXICAL postings index rides the same keep-it-live contract —
    // dirty chunks rewrite only the term buckets their postings touch
    val (lexMode, lexCells) =
      storedChunkLexManifest match {
        case None => ("absent", -1L)
        case Some(stored) =>
          val buckets = chunkLexBuckets(Some(stored))
          val r = operators.Bm25Store.refreshLexicalIndexOver(
            spark, chunkLexPath,
            newE.select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
            chunkLexManifest(buckets, fp)).head()
          (r.getAs[String]("mode"), r.getAs[Long]("n_cells_rewritten"))
      }
    stats.withColumn("ann_mode", lit(annMode))
      .withColumn("ann_cells_rewritten", lit(annCells))
      .withColumn("ann_graph_mode", lit(gMode))
      .withColumn("ann_graph_cells_rewritten", lit(gCells))
      .withColumn("lex_mode", lit(lexMode))
      .withColumn("lex_cells_rewritten", lit(lexCells))
  }

  /** Dir-keyed location of the facade's chunk-embedding ANN index. */
  def chunkAnnPath: String = operators.AnnStore.defaultPath("chunkann", sfDir)

  /** Dir-keyed location of the facade's chunk-embedding GRAPH index. */
  def chunkGraphPath: String = operators.AnnStore.defaultPath("chunkgraph", sfDir)

  /** Dir-keyed location of the facade's LEXICAL (BM25 postings) index. */
  def chunkLexPath: String = operators.AnnStore.defaultPath("chunklex", sfDir)

  /** Compact BOTH derived chunk indexes' small files
    * ([[operators.AnnStore.compactIndex]]) — the maintenance pass a long
    * watch loop needs: every incremental reindex rewrites affected cells
    * from many-partition frames, so heavily-refreshed cells accumulate
    * tiny part files and the pruned probe reads pay per-file open costs.
    * No-op for an index that does not exist yet; manifests untouched
    * (serving stays row-identical — spec-asserted).
    */
  def compactIndexes(targetBytes: Long = 128L << 20): DataFrame = {
    val ann = operators.AnnIvf.compactIvfIndex(spark, chunkAnnPath, targetBytes)
      .withColumn("index", lit("chunk_ann"))
    val graph = operators.AnnGraph.compactGraphIndex(spark, chunkGraphPath, targetBytes)
      .withColumn("index", lit("chunk_graph"))
    val lex = operators.Bm25Store.compactLexIndex(spark, chunkLexPath, targetBytes)
      .withColumn("index", lit("chunk_lex"))
    ann.unionByName(graph).unionByName(lex)
      .select(col("index"), col("subdir"), col("n_units_compacted"),
        col("n_files_before"), col("n_files_after"))
  }

  /** The stored manifest at `path`, iff it really describes an index of
    * `kind` — the single gatekeeper for trusting stored build params (a
    * foreign manifest at the path reads as absent, so its k/degree can
    * never be borrowed).
    */
  private def storedManifest(path: String, kind: String): Option[String] =
    operators.AnnStore.readManifest(spark, path)
      .filter(m => operators.AnnStore.paramsOf(m)
        .contains("\"kind\":\"" + kind + "\""))

  private def storedChunkAnnManifest: Option[String] =
    storedManifest(chunkAnnPath, Graft.ChunkIndexKind)

  private def storedChunkGraphManifest: Option[String] =
    storedManifest(chunkGraphPath, Graft.ChunkGraphKind)

  private def storedChunkLexManifest: Option[String] =
    storedManifest(chunkLexPath, operators.Bm25Store.Kind)

  /** The chunk store as an ANN corpus frame: a stable 64-bit vec_id
    * (xxhash64 of (doc_id, chunk_idx) — doc_id is itself a 63-bit path
    * hash, so a shifted composite would overflow; hashing keeps the id
    * stable across rescans, which the incremental diff keys on) plus the
    * result metadata every probe read should carry, so serving never
    * re-chunks the corpus.
    */
  private def chunkVectors(index: DataFrame): DataFrame =
    index.select(xxhash64(col("doc_id"), col("chunk_idx")).as("vec_id"),
      col("emb").as("embedding"), col("doc_id"), col("chunk_idx"),
      col("chunk_text"), col("token_count"), col("file_size"))

  /** Per-file fingerprint of the landed documents table (the corpus every
    * chunk derives from) — computed ONCE per gate/refresh and threaded to
    * every manifest it stamps (the store contract's computed-once rule; a
    * reindex maintaining both chunk indexes lists the table a single time).
    */
  private def docsFingerprint: String =
    operators.AnnStore.pathFingerprint(spark,
      new org.apache.hadoop.fs.Path(sfDir, "documents.parquet").toString)

  /** Chunk-ANN freshness manifest: chunking+embedding+index params plus the
    * caller-computed documents-table fingerprint.
    */
  private def chunkAnnManifest(k: Int, fingerprint: String): String =
    operators.AnnStore.manifest(Graft.ChunkIndexKind,
      Seq("k" -> k, "chunkSize" -> chunkSize, "chunkOverlap" -> chunkOverlap,
        "model" -> modelName),
      fingerprint)

  /** Build-once gate for the chunk-ANN index (manifest freshness: params +
    * documents-table fingerprint). Returns the index path.
    */
  def ensureChunkAnnIndex(k: Int = 16): String = {
    val manifest = chunkAnnManifest(k, docsFingerprint)
    operators.AnnStore.ensureIndex(spark, chunkAnnPath, manifest) {
      operators.AnnIvf.writeIndexOver(spark, chunkVectors(buildIndex()),
        chunkAnnPath, k, manifest): Unit
    }
    chunkAnnPath
  }

  /** [[ensureChunkAnnIndex]] at an existing index's own k (like
    * reindexDirectory's refresh) — the serve paths' gate: a caller who
    * built at k=32 must not get a silent k=16 rebuild from the next query.
    */
  private def ensureStoredChunkAnnIndex(): String =
    ensureChunkAnnIndex(storedChunkAnnManifest
      .flatMap(m => operators.AnnStore.manifestInt(m, "k")).getOrElse(Graft.DefaultChunkAnnK))

  /** Chunk-GRAPH freshness manifest — same contract as [[chunkAnnManifest]]
    * with the graph build's degree riding alongside k.
    */
  private def chunkGraphManifest(k: Int, degree: Int, fingerprint: String): String =
    operators.AnnStore.manifest(Graft.ChunkGraphKind,
      Seq("k" -> k, "degree" -> degree, "chunkSize" -> chunkSize,
        "chunkOverlap" -> chunkOverlap, "model" -> modelName),
      fingerprint)

  /** Stored-or-default (k, degree) of the chunk-graph index — the one place
    * the graph build defaults live for every consumer of the stored params.
    */
  private def chunkGraphParams(stored: Option[String]): (Int, Int) = stored match {
    case Some(m) => (operators.AnnStore.manifestInt(m, "k").getOrElse(Graft.DefaultChunkAnnK),
      operators.AnnStore.manifestInt(m, "degree").getOrElse(8))
    case None => (16, 8)
  }

  /** Build-once gate for the chunk-GRAPH index. Returns the index path. */
  def ensureChunkGraphIndex(k: Int = 16, degree: Int = 8): String = {
    val manifest = chunkGraphManifest(k, degree, docsFingerprint)
    operators.AnnStore.ensureIndex(spark, chunkGraphPath, manifest) {
      operators.AnnGraph.writeGraphIndexOver(spark, chunkVectors(buildIndex()),
        chunkGraphPath, k, degree, manifest)
    }
    chunkGraphPath
  }

  /** Lexical-index freshness manifest: bucket count + chunking params +
    * the documents-table fingerprint. No model identity — the lexical
    * space is embedder-INDEPENDENT, so an embedder swap must not force a
    * postings rebuild (only the two chunking params change what tokenizes).
    */
  private def chunkLexManifest(buckets: Int, fingerprint: String): String =
    operators.Bm25Store.manifestFor(buckets,
      Seq("chunkSize" -> chunkSize, "chunkOverlap" -> chunkOverlap), fingerprint)

  /** Stored-or-default bucket count of the lexical index. */
  private def chunkLexBuckets(stored: Option[String]): Int = stored match {
    case Some(m) => operators.AnnStore.manifestInt(m, "buckets")
      .getOrElse(operators.Bm25Store.DefaultBuckets)
    case None => operators.Bm25Store.DefaultBuckets
  }

  /** Build-once gate for the LEXICAL (BM25 postings) index — the chunk
    * frame comes straight from the chunker (no embedding pass: the
    * lexical leg never needs vectors). Returns the index path.
    *
    * `buckets = 0` (the serve paths' call) means "honor an existing
    * index's own bucket count" — a caller who built at 256 buckets must
    * not get a silent 64-bucket rebuild from the next hybrid query (the
    * same stored-params rule as [[ragQueryAnnBatch]]'s k).
    */
  def ensureChunkLexIndex(buckets: Int = 0): String = {
    val b = if (buckets > 0) buckets else chunkLexBuckets(storedChunkLexManifest)
    val manifest = chunkLexManifest(b, docsFingerprint)
    operators.AnnStore.ensureIndex(spark, chunkLexPath, manifest) {
      operators.Bm25Store.writeLexicalIndexOver(spark,
        operators.Chunker.indexBuild(spark, sfDir, chunkSize, chunkOverlap)
          .select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
        chunkLexPath, b, manifest)
    }
    chunkLexPath
  }

  /** ANN-served semantic search — the sublinear evolution of [[ragQuery]]
    * the reference names (reference: src/index.ts:265 "could evolve to an
    * ANN structure"): the query probes its `nprobe` nearest cells of a
    * persisted IVF index over CHUNK embeddings, so a call reads ~nprobe/k
    * of the corpus instead of scanning every chunk. Same result shape as
    * [[ragQuery]]; recall is the IVF trade (spec-bounded), exactness is
    * not — callers that need the brute-force answer keep using ragQuery.
    * The index rides the AnnStore gate (built on first use, refreshed
    * incrementally by [[reindexDirectory]], rebuilt on param/corpus drift).
    *
    * Freshness contract: after a reindex this serves the CHUNK STORE's
    * state, whose change detection is the reference's size heuristic
    * (src/indexer.ts — a same-size content edit is invisible to the watch
    * loop on both engines); `ragQuery` serves the facade's cached
    * [[servingIndex]], which predates any reindex by design. The two are
    * therefore fresh on different clocks — documented, not accidental.
    */
  def ragQueryAnn(query: String, topK: Int = 5, nprobe: Int = 2,
                  filter: Option[Column] = None): DataFrame =
    ragQueryAnnBatch(Seq(query), topK, nprobe, filter).drop("query_id")

  /** The batched twin of [[ragQueryAnn]]: ONE pruned read serves the
    * whole query batch — the pruned cell read is the UNION of every
    * query's probes, read once, and it scores, ranks and carries each
    * hit's chunk metadata (snippet, `total_tokens`, `file_size`) in the
    * same pass, so no second read joins the metadata back. The ≤
    * nQueries × topK hits collect once and come back as an eager, bounded
    * literal frame sorted on the driver: a `collect()` of the result (or
    * of [[ragQueryAnn]]'s `drop`) starts no Spark job. Selection ranks by
    * (score desc, vec_id asc), presentation sorts by (query_id, score
    * desc, doc_id, chunk_idx). Results carry `query_id` = the query's
    * position in `queries`; within a query the rows are [[ragQueryAnn]]'s
    * exact rows (spec-asserted). The reference serves one query per MCP
    * call (reference: src/index.ts:265); batching is the cluster-side
    * surface a training pipeline actually calls.
    *
    * `filter` restricts hits to chunks satisfying a metadata predicate
    * over the index's payload columns (`doc_id`, `chunk_idx`,
    * `token_count`, `file_size`, `chunk_text`) — applied inside the pruned
    * probe read (source-translatable predicates reach the parquet scan's
    * PushedFilters), never a post-hoc result trim, so a filtered batch
    * still pays only the probed-cell scan and returns up to `topK`
    * matching rows per query (a trim would under-fill).
    */
  def ragQueryAnnBatch(queries: Seq[String], topK: Int = 5,
                       nprobe: Int = 2,
                       filter: Option[Column] = None): DataFrame = {
    require(queries.nonEmpty, "ragQueryAnnBatch: empty query batch")
    val path = ensureStoredChunkAnnIndex()
    // embed driver-side with the executors' exact algorithm — the probe
    // frame ships as a bounded literal, the corpus side never collects
    val qs = queries.zipWithIndex.map { case (q, i) => (i.toLong, embedder.embedText(q)) }
    // one bounded execution of the probe search (≤ nQueries×topK rows);
    // a filtered batch serves ADAPTIVELY — a selective predicate that
    // empties the probed cells widens nprobe for the under-filled queries
    // instead of silently returning fewer than topK matches
    val (hits, schema) = operators.AnnIvf.servedHits(spark, path, qs,
      Graft.clampTopK(topK), nprobe, filter = filter, adaptive = filter.isDefined,
      carry = chunkHitColumns)
    // (query_id, rank, vec_id, cid, score, <chunkHitColumns>) → result shape
    val shape = Seq(0, 5, 6, 4, 7, 8, 9)
    annHitFrame(hits.map(r => Row.fromSeq(shape.map(r.get))),
      StructType(shape.map(schema(_))))
  }

  /** The graph-served twin of [[ragQueryAnn]]: beam descent over a
    * persisted chunk-GRAPH index (AnnGraph's layout — per-cell kNN graphs,
    * metadata riding the partitioned vectors table). Same result shape;
    * the recall trade is the graph search's, not IVF's. Kept live by
    * [[reindexDirectory]] like the IVF chunk index.
    */
  def ragQueryAnnGraph(query: String, topK: Int = 5, nprobe: Int = 2,
                       filter: Option[Column] = None): DataFrame =
    ragQueryAnnGraphBatch(Seq(query), topK, nprobe, filter).drop("query_id")

  /** Batched chunk-graph serving — one pruned cell read + one in-task
    * descent per query for the whole batch (see [[ragQueryAnnBatch]] for
    * the batching rationale). `filter` (r12) restricts hits to chunks
    * satisfying a metadata predicate, served ADAPTIVELY like the IVF arm:
    * descent ranks every visited passing node, under-filled queries widen
    * their probes, and at full widening the answer is the exact filtered
    * result (terminal exact scan — beam descent alone is not exhaustive).
    */
  def ragQueryAnnGraphBatch(queries: Seq[String], topK: Int = 5,
                            nprobe: Int = 2,
                            filter: Option[Column] = None): DataFrame = operators.AnnStore.releasingPinned(spark) {
    // the scope releases the adaptive loop's per-round trackedCheckpoints
    // once the bounded hits collect below consumes them — without it every
    // filtered graph query leaks one pinned block per widening round for
    // the session's lifetime
    require(queries.nonEmpty, "ragQueryAnnGraphBatch: empty query batch")
    // honor the stored index's own build params, like the IVF path
    val (k, degree) = chunkGraphParams(storedChunkGraphManifest)
    val path = ensureChunkGraphIndex(k, degree)
    val qRows = queries.zipWithIndex
      .map { case (q, i) => (i.toLong, embedder.embedText(q).map(_.toFloat)) }
      .toArray
    // bounded: ≤ nQueries×topK hit rows, each carrying its cell id
    val served = filter match {
      case Some(_) => operators.AnnGraph.annGraphServedOverCellsAdaptive(spark, path,
        qRows, Graft.clampTopK(topK), nprobe, beam = 32, hops = 2,
        entriesPerCell = 3, filter = filter)
      case None => operators.AnnGraph.annGraphServedOverCells(spark, path, qRows,
        Graft.clampTopK(topK), nprobe, beam = 32, hops = 2, entriesPerCell = 3)
    }
    val hits = served
      .select(col("query_id"), col("vec_id"), col("cid"), col("score")).collect()
    chunkHitResults(path, hits)
  }

  /** The index-kind knob: one facade surface serving a query batch from
    * ANY persisted chunk-index family, so a caller gets each family's
    * storage/recall trade without dropping below the facade —
    *
    *   - `"ivf"` / `"graph"`: the existing arms (delegated);
    *   - `"hnsw"`: hierarchical descent ([[operators.AnnHnsw]]);
    *   - `"hnsw_exact"` (r18): the CERTIFIED serve over the same hnsw
    *     store — provably exact top-k (descent bound + per-cell angular
    *     radii), for callers that need ground truth at ANN cost;
    *   - `"pq"` / `"opq"` / `"sq8"`: the compressed tiers — codes scanned,
    *     exact rerank (pq/opq) or scan-side dequant (sq8), hit cell ids
    *     recomputed from the bucket rule;
    *   - `"late"`: token-level MaxSim over the late-interaction store
    *     (encodes with the seeded transformer — the one arm whose model is
    *     NOT the facade embedder, because late interaction needs token
    *     matrices, not pooled vectors).
    *
    * Every arm but `ivf` ends in [[chunkHitResults]]' pruned metadata
    * join, and every arm returns [[ragQueryAnnBatch]]'s eager literal
    * frame, rows and order. Each store is
    * manifest-gated at its own kind-keyed path (chunk params + model +
    * documents fingerprint), built on first use.
    */
  def ragQueryAnnKindBatch(queries: Seq[String], indexKind: String = "ivf",
                           topK: Int = 5, nprobe: Int = 2): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "ragQueryAnnKindBatch: empty query batch")
    val kT = Graft.clampTopK(topK)
    def qFrame = queries.zipWithIndex
      .map { case (q, i) => (i.toLong, embedder.embedText(q).toSeq) }
      .toDF("query_id", "qv")
    indexKind match {
      case "ivf" => ragQueryAnnBatch(queries, topK, nprobe)
      case "graph" => ragQueryAnnGraphBatch(queries, topK, nprobe)
      case "hnsw" => operators.AnnStore.releasingPinned(spark) {
        val path = ensureChunkKindIndex("hnsw")
        // the hierarchy's width knob is ef, not nprobe — derive both ef
        // and the beam from (topK, nprobe) so the knob's parameters act
        // monotonically on every arm and a topK=50 call can actually
        // fill 50 rows (the beam bounds the layer-0 pool)
        val ef = math.max(8, math.max(kT, 4 * nprobe))
        val hits = operators.AnnHnsw.annHnswServedOverCells(spark, path, qFrame,
          topK = kT, ef = ef, beam = math.max(32, 2 * kT))
          .select(col("query_id"), col("vec_id"), col("cid"), col("score"))
          .collect()
        chunkHitResults(path, hits)
      }
      // r18: EXACT results at ANN cost over the same hnsw store — the
      // certified serve (descent lower bound + cellstats triangle-
      // inequality upper bound ⇒ provably the exact top-k; AnnHnsw
      // scaladoc). The knob's strongest-recall setting, for callers who
      // need ground truth (eval harnesses, contamination checks) without
      // a corpus scan per query.
      case "hnsw_exact" => operators.AnnStore.releasingPinned(spark) {
        val path = ensureChunkKindIndex("hnsw")
        val ef = math.max(8, math.max(kT, 4 * nprobe))
        val hits = operators.AnnHnsw.annHnswServedCertifiedOverCells(
          spark, path, qFrame, topK = kT, ef = ef,
          beam = math.max(32, 2 * kT))
          .select(col("query_id"), col("vec_id"), col("cid"), col("score"))
          .collect()
        chunkHitResults(path, hits)
      }
      case "pq" | "opq" | "sq8" =>
        val path = ensureChunkKindIndex(indexKind)
        // the store says whether it rotates: one PQ serve for pq and opq
        val served =
          if (indexKind == "sq8") operators.AnnSq.annSq8ServedOver(spark, path, qFrame, kT)
          else operators.AnnPq.annPqServedOver(spark, path, qFrame, kT)
        val buckets = operators.AnnStore.readManifest(spark, path)
          .fold(operators.AnnPq.MinBuckets)(operators.AnnPq.manifestBuckets)
        // hash-bucketed stores: each hit's cell is pure arithmetic on its
        // vec_id — recomputed in-plan, so the metadata read stays pruned
        val hits = served
          .withColumn("cid", pmod(col("vec_id"), lit(buckets)).cast("int"))
          .select(col("query_id"), col("vec_id"), col("cid"), col("score"))
          .collect()
        chunkHitResults(path, hits)
      case "late" => operators.AnnStore.releasingPinned(spark) {
        val path = ensureChunkKindIndex("late")
        val tx = TransformerEmbedder.seeded(spark)
        val qArr = queries.zipWithIndex.map { case (q, i) =>
          val qm = {
            val toks = tx.tokenIds(q)
            if (toks.isEmpty) Array.empty[Array[Double]]
            else tx.forwardTokenVecs(toks)
          }
          (i.toLong, qm, operators.RagSearch.poolTokenVecs(qm, tx.dim))
        }.toArray
        val hits = operators.RagSearch.ragTopKLateServedOverCells(spark, path,
          qArr, kT, nprobe, excludeSelf = false)
          .select(col("query_id"), col("vec_id"), col("cid"), col("score"))
          .collect()
        chunkHitResults(path, hits)
      }
      case other => throw new IllegalArgumentException(
        s"ragQueryAnnKindBatch: unknown indexKind '$other' " +
          "(ivf | graph | hnsw | hnsw_exact | pq | opq | sq8 | late)")
    }
  }

  /** Kind-keyed store path for [[ragQueryAnnKindBatch]]'s families. */
  def chunkKindPath(kind: String): String =
    operators.AnnStore.defaultPath("chunk" + kind, sfDir)

  /** Build-once gate for a [[ragQueryAnnKindBatch]] family: manifest =
    * build params + chunk params + model identity + documents fingerprint,
    * so corpus edits, chunking changes, and embedder swaps each read as a
    * mismatch and rebuild. Corpus-derived size params (bucket counts, the
    * HNSW layer count) derive from the documents-table row count — a cheap
    * footer read at gate time, and only a sizing heuristic (any value
    * serves correctly).
    */
  private def ensureChunkKindIndex(kind: String): String = {
    val path = chunkKindPath(kind)
    val fp = docsFingerprint
    // the index is built over CHUNKS, so corpus-derived size params must
    // size from the chunk count, not the document count — estimated from
    // the chunking arithmetic over n_chars (one cheap single-column agg;
    // a sizing heuristic, so the estimate's rounding is immaterial)
    lazy val nChunksEst = {
      val row = Tables.documents(spark, sfDir)
        .agg(sum(greatest(lit(1L),
          ceil(col("n_chars").cast("double") /
            math.max(1, chunkSize - chunkOverlap)).cast("long"))))
        .head()
      // sum(...) is NULL over zero rows — fail by name at the gate rather
      // than NPE before the per-family empty-corpus errors can fire
      require(!row.isNullAt(0),
        "ensureChunkKindIndex: empty documents table — nothing to index")
      row.getLong(0)
    }
    kind match {
      case "hnsw" =>
        val maxLvl = operators.AnnHnsw.maxLevelFor(nChunksEst, 4)
        // coarse-cell count sized to ~1k vectors/cell (the ScaleReceipt
        // capacity rule: the in-cell pair join is capacity², so oversized
        // cells spill), floored at 16 for tiny corpora
        val kHnsw = math.max(16L, nChunksEst / 1024L).toInt
        val manifest = operators.AnnStore.manifest("chunk_hnsw",
          Seq("k" -> kHnsw, "degree" -> 8, "m" -> 4, "degree_up" -> 8,
            "max_lvl" -> maxLvl, "chunkSize" -> chunkSize,
            "chunkOverlap" -> chunkOverlap, "model" -> modelName,
            // layout 3 (r18): cellstats sidecar — the certified arm's
            // bounds; pre-r18 chunk stores rebuild at the gate
            "layout" -> 3), fp)
        operators.AnnStore.ensureIndex(spark, path, manifest) {
          operators.AnnHnsw.writeHnswIndexOver(spark, chunkVectors(buildIndex()),
            path, k = kHnsw, degree = 8, m = 4, degreeUp = 8, manifest)
        }
      case "pq" | "opq" | "sq8" =>
        val buckets = operators.AnnPq.bucketCountFor(nChunksEst)
        val manifest = operators.AnnStore.manifest("chunk_" + kind,
          Seq("m" -> 8, "ks" -> 16, "buckets" -> buckets,
            "chunkSize" -> chunkSize, "chunkOverlap" -> chunkOverlap,
            "model" -> modelName), fp)
        operators.AnnStore.ensureIndex(spark, path, manifest) {
          val vecs = chunkVectors(buildIndex())
          val opq = kind == "opq"
          if (kind == "sq8") operators.AnnSq.writeSqIndexOver(spark, vecs, path, manifest)
          else operators.AnnPq.writePqIndexOver(spark, vecs, path, m = 8, ks = 16,
            iters = if (opq) operators.AnnPq.OpqIters else 3,
            rounds = if (opq) operators.AnnPq.OpqRounds else 0, manifest)
        }
      case "late" =>
        val tx = TransformerEmbedder.seeded(spark)
        // chunk text as the encode input; metadata rides as payload so the
        // hit join reads it from the pruned cells like every other family
        operators.RagSearch.ensureLateIndex(spark,
          chunkVectors(buildIndex()).select(col("vec_id"),
            col("chunk_text").as("text"), col("doc_id"), col("chunk_idx"),
            col("chunk_text"), col("token_count"), col("file_size")),
          tx, path, kCells = 16,
          fp = s"$fp|cs=$chunkSize|co=$chunkOverlap")
      case other => throw new IllegalArgumentException(
        s"ensureChunkKindIndex: unknown kind '$other'")
    }
    path
  }

  /** The chunk metadata a served hit presents, projected from its
    * vectors-table row — the IVF arm carries these through its ranked scan,
    * the other arms read them in [[chunkHitResults]].
    */
  private def chunkHitColumns: Seq[Column] = Seq(col("doc_id"), col("chunk_idx"),
    substring(col("chunk_text"), 1, 120).as("snippet"),
    col("token_count").as("total_tokens"), col("file_size"))

  /** Tail of the chunk-ANN arms whose serve yields bare hits (graph, HNSW,
    * the compressed tiers, late): join the bounded hit list back to its
    * chunks' metadata, read through [[operators.AnnIvf.probeCells]] from
    * the SAME pruned cells the search touched — no corpus re-chunk, no
    * full index scan; the ≤ nQueries×topK hit frame broadcasts against the
    * pruned cells and the join collects once into [[annHitFrame]].
    */
  private def chunkHitResults(indexPath: String, hits: Array[Row]): DataFrame = {
    import spark.implicits._
    val cids = hits.map(_.getAs[Int]("cid")).distinct.toSeq
    val hitScores = hits.map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("score"))).toSeq.toDF("query_id", "vec_id", "score")
    val joined = operators.AnnIvf.probeCells(spark, indexPath, cids)
      .join(broadcast(hitScores), "vec_id")
      .select(Seq(col("query_id"), col("score")) ++ chunkHitColumns: _*)
      .select("query_id", "doc_id", "chunk_idx", "score", "snippet", "total_tokens",
        "file_size")
    annHitFrame(joined.collect(), joined.schema)
  }

  /** Every chunk-ANN arm's answer: the collected `(query_id, doc_id,
    * chunk_idx, score, snippet, total_tokens, file_size)` hits sorted on the
    * driver by (query_id asc, score desc, doc_id asc, chunk_idx asc; scores
    * compare like Spark's, -0.0 = 0.0 and NaN highest), as a literal frame
    * — eager and bounded (≤ nQueries×topK rows), so acting on it starts no
    * Spark job. `query_id` and `score` are never null.
    */
  private def annHitFrame(hits: Array[Row], schema: StructType): DataFrame = {
    import scala.jdk.CollectionConverters._
    val order: Ordering[Row] = (a, b) => {
      val byQuery = java.lang.Long.compare(a.getLong(0), b.getLong(0))
      lazy val byScore = SQLOrderingUtil.compareDoubles(b.getDouble(3), a.getDouble(3))
      lazy val byDoc = java.lang.Long.compare(a.getLong(1), b.getLong(1))
      if (byQuery != 0) byQuery else if (byScore != 0) byScore
      else if (byDoc != 0) byDoc else java.lang.Long.compare(a.getLong(2), b.getLong(2))
    }
    spark.createDataFrame(hits.sorted(order).toSeq.asJava, StructType(schema.map(f =>
      if (f.name == "query_id" || f.name == "score") f.copy(nullable = false) else f)))
  }

  /** Semantic search for a free-text query: embed driver-side, broadcast the
    * literal vector, cosine against every chunk, top-k with snippet metadata.
    * `topK` is clamped to [1, MaxTopK] like the reference's rag_query
    * (reference: src/index.ts:62, :269 — max(1, min(RAG_QUERY_MAX_RESULTS,
    * top_k))).
    */
  def ragQuery(query: String, topK: Int = 5): DataFrame =
    ragQueryOver(servingIndex, query, topK)

  /** Batched exact search: ONE scan of the cached serving index scores the
    * whole query batch (each chunk row joins the broadcast query-vector
    * frame), where per-query calls scan once per query. Exact like
    * [[ragQuery]] — the ANN batch surfaces trade recall for a pruned read;
    * this one trades nothing and is the right call when the batch is large
    * enough to amortize the full scan. Results carry `query_id` = position
    * in `queries`; per-query rows are [[ragQuery]]'s exact rows (by
    * construction: ragQuery delegates here).
    */
  def ragQueryBatch(queries: Seq[String], topK: Int = 5): DataFrame =
    ragQueryBatchOver(servingIndex, queries, topK)

  /** Same search over an explicitly supplied index frame — e.g. one loaded
    * from `IndexStore` (warm serving without rebuilding).
    */
  def ragQueryOver(index: DataFrame, query: String, topK: Int = 5): DataFrame =
    ragQueryBatchOver(index, Seq(query), topK).drop("query_id")

  /** The one definition of the exact-search result surface — every exact
    * path (single or batch, live or store-loaded index) delegates here, so
    * projection, snippet rule, and tie order cannot drift apart.
    *
    * Boundedness note: the per-query top-k is a `row_number` over
    * `Window.partitionBy(query_id)`, which stays scalable ONLY because
    * Catalyst's `InferWindowGroupLimit` rewrites it to a WindowGroupLimit
    * (per-partition top-k heap before the shuffle — map-side, like a
    * TakeOrdered). That rewrite is gated on `rank <= k` with k below
    * `spark.sql.optimizer.windowGroupLimitThreshold`; topK is clamped to
    * [[Graft.MaxTopK]]=50, far under the default threshold (2^31-1), and
    * the executed plan's WindowGroupLimit is spec-asserted — but a session
    * that disables the threshold reverts this to a full shuffle of the
    * corpus into nQueries partitions (ONE partition for single-query
    * ragQuery). Don't turn that knob off around this path.
    */
  def ragQueryBatchOver(index: DataFrame, queries: Seq[String],
                        topK: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    require(queries.nonEmpty, "ragQueryBatchOver: empty query batch")
    val qFrame = queries.zipWithIndex
      .map { case (q, i) => (i.toLong, embedder.embedText(q).toSeq) }
      .toDF("query_id", "qv")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc, col("chunk_idx").asc)
    index.crossJoin(broadcast(qFrame))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        VecExprs.cosineSim(col("emb"), col("qv")).as("score"),
        substring(col("chunk_text"), 1, 120).as("snippet"),
        // the reference's per-result totalLines + fileSize (src/index.ts:
        // 272-273) — how big the whole source doc is, so a caller can
        // range-read it. Docs are single-line, so the totalLines analog is
        // the doc's total token count (readFile's range unit); both columns
        // already ride every index row, so this is a column surface, not a
        // join or window.
        col("token_count").as("total_tokens"),
        col("file_size"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= Graft.clampTopK(topK))
      .drop("rn")
      .orderBy(col("query_id").asc, col("score").desc,
        col("doc_id").asc, col("chunk_idx").asc)
  }

  /** Hybrid lexical+dense search (BM25 ⊕ embedding cosine via reciprocal
    * rank fusion) — the reference's planned hybrid mode
    * (reference: README.md:32). The LEXICAL leg serves from the persisted
    * postings index ([[operators.Bm25Store]] — built on first use through
    * the manifest gate, kept live incrementally by [[reindexDirectory]]):
    * it reads only the query terms' buckets, so the per-call corpus
    * re-tokenize the in-plan scorer pays is gone — the last serving leg
    * that still scanned the corpus per query. The cosine leg serves from
    * the cached chunk index like `ragQuery`. Results are row-identical to
    * the in-plan hybrid (spec-asserted: same scoring algebra over the
    * same chunk set).
    *
    * Freshness contract: the postings store refreshes with
    * [[reindexDirectory]] (the documents-table clock) while the cached
    * [[servingIndex]] predates any reindex by design — the same two-clock
    * contract [[ragQueryAnn]] documents.
    */
  def ragQueryHybrid(query: String, topK: Int = 10): DataFrame = {
    val lexPath = ensureChunkLexIndex()
    operators.Bm25.ragHybridOver(servingIndex, query, Graft.clampTopK(topK), dim,
      queryVec = Some(embedder.embedText(query)),
      bm25From = Some(operators.Bm25Store.scoresFromStore(spark, lexPath, query)))
  }

  /** The batched twin of [[ragQueryHybrid]] — ONE pruned postings read
    * (the union of every query's term buckets) serves the whole batch's
    * lexical leg, one index scan the cosine leg; per-query rows identical
    * to the single-query serve (spec-asserted). Completes the batch
    * family: exact, ANN, graph, and now hybrid.
    */
  def ragQueryHybridBatch(queries: Seq[String], topK: Int = 10): DataFrame = {
    val lexPath = ensureChunkLexIndex()
    operators.Bm25.ragHybridBatchOver(servingIndex, queries, Graft.clampTopK(topK),
      dim, queryVecs = Some(queries.map(q => embedder.embedText(q))),
      bm25From = Some(operators.Bm25Store.scoresFromStoreBatch(spark, lexPath, queries)))
  }

  /** RM3 pseudo-relevance-feedback search (Lavrenko & Croft 2001;
    * [[operators.Rm3]]) over the CHUNK index — the facade's recall
    * booster for vocabulary-mismatch queries: stage-1 BM25 from the
    * postings store picks top-N feedback chunks, their text (a bounded
    * ≤N-row broadcast join against the cached [[servingIndex]]) yields
    * the relevance-model expansion terms, and ONE weighted pruned
    * postings read scores the λ-interpolated query
    * ([[operators.Bm25Store.weightedScoresFromStore]]). Serve cost is
    * the |q|+M expanded terms' posting buckets — the corpus is never
    * scanned. Freshness rides [[ragQueryHybrid]]'s two-clock contract.
    */
  def ragQueryRm3(query: String, topK: Int = 10,
                  fbDocs: Int = operators.Rm3.FbDocs,
                  fbTerms: Int = operators.Rm3.FbTerms,
                  lambda: Double = operators.Rm3.Lambda): DataFrame = {
    val lexPath = ensureChunkLexIndex()
    val orig = query.split(" ").filter(_.nonEmpty).distinct.toSeq
    require(orig.nonEmpty, "ragQueryRm3: empty query")
    val fbF = operators.Bm25Store.scoresFromStore(spark, lexPath, query)
      .select(col("doc_id"), col("chunk_idx"),
        round(col("bm25") + lit(1e-9), 4).as("s"))
      .orderBy(col("s").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(fbDocs)
    val expTerms = servingIndex.join(broadcast(fbF), Seq("doc_id", "chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"), col("s"),
        functions.Text.tokens(col("chunk_text")).as("toks"))
      .select(col("doc_id"), col("chunk_idx"), col("s"),
        size(col("toks")).cast("double").as("dl"),
        explode(col("toks")).as("term"))
      .filter(!col("term").isin(orig.map(lit): _*))
      .groupBy(col("doc_id"), col("chunk_idx"), col("s"), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .groupBy(col("term"))
      .agg(round(sum(col("tf") / col("dl") * col("s")) + lit(1e-9), 4).as("w"))
      .filter(col("w") > 0)
      .orderBy(col("w").desc, col("term").asc)
      .limit(fbTerms)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val tot = expTerms.map(_._2).sum
    val weights = orig.map(t => t -> lambda / orig.length) ++ {
      if (expTerms.isEmpty || tot <= 0) Nil
      else expTerms.map { case (t, w) => t -> (1.0 - lambda) * w / tot }
    }
    operators.Bm25Store.weightedScoresFromStore(spark, lexPath, weights)
      .join(servingIndex.select(col("doc_id"), col("chunk_idx"), col("chunk_text")),
        Seq("doc_id", "chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        round(col("bm25") + lit(1e-9), 4).as("rm3"),
        substring(col("chunk_text"), 1, 80).as("snippet"))
      .orderBy(col("rm3").desc, col("doc_id").asc, col("chunk_idx").asc)
      .limit(Graft.clampTopK(topK))
  }

  /** FULLY-SERVED hybrid search (r14): both legs read persisted pruned
    * stores — BM25 from the postings index (only the query terms'
    * buckets), cosine from the chunk-IVF index (only the probed cells) —
    * so a hybrid serve touches NO corpus-sized scan at all, the shape a
    * 100 TB deployment actually runs. The scoring algebra and fusion are
    * [[ragQueryHybrid]]'s verbatim; only the dense leg's CANDIDATE SET
    * changes (the IVF probe's recall trade — the lexical leg stays exact
    * over its posting lists), and at `nprobe = k` the dense candidates
    * are the whole corpus, so the result is row-identical to
    * [[ragQueryHybrid]] (spec-pinned). Both indexes build once through
    * their manifest gates and stay live under [[reindexDirectory]].
    */
  /** The fully-served hybrid's index setup, shared by the single and
    * batch twins: both ensure gates (stored params honored), the vector
    * store's crash heal, and the routing centroids.
    */
  private def servedHybridSetup(): (String, String, Array[Array[Double]]) = {
    val lexPath = ensureChunkLexIndex()
    val annPath = ensureStoredChunkAnnIndex()
    operators.AnnStore.healCompacted(spark, annPath, Seq("vectors"))
    (lexPath, annPath, operators.AnnStore.servedCentroids(spark, annPath))
  }

  def ragQueryHybridAnn(query: String, topK: Int = 10, nprobe: Int = 2,
                        candDepth: Int = 200): DataFrame = {
    val (lexPath, annPath, centroids) = servedHybridSetup()
    val qv = embedder.embedText(query)
    val dense = operators.AnnIvf.probeCells(spark, annPath,
      operators.AnnIvf.probeIds(qv, centroids, nprobe))
      .select(col("doc_id"), col("chunk_idx"), col("embedding").as("emb"))
    // the fusion's `index` arg is unused when BOTH legs are overridden —
    // pass the dense frame, never servingIndex: forcing the cached
    // in-memory index build is exactly what the fully-served path avoids
    operators.Bm25.ragHybridOver(dense, query, Graft.clampTopK(topK), dim,
      candDepth, queryVec = Some(qv),
      bm25From = Some(operators.Bm25Store.scoresFromStore(spark, lexPath, query)),
      denseFrom = Some(dense))
  }

  /** The batched twin of [[ragQueryHybridAnn]]: ONE pruned postings read
    * (union of the batch's term buckets) serves every lexical leg and ONE
    * pruned cell read (union of the batch's probe sets, each query gated
    * to its own cells by the bounded broadcast probe frame) serves every
    * dense leg. Per-query rows identical to the single-query serve at the
    * same nprobe (spec-asserted).
    */
  def ragQueryHybridAnnBatch(queries: Seq[String], topK: Int = 10,
                             nprobe: Int = 2, candDepth: Int = 200): DataFrame = {
    require(queries.nonEmpty, "ragQueryHybridAnnBatch: empty query batch")
    val (lexPath, annPath, centroids) = servedHybridSetup()
    val qvs = queries.map(embedder.embedText)
    val (probeFrame, cids) = operators.AnnIvf.probeFrame(spark,
      qvs.zipWithIndex.map { case (qv, i) => (i.toLong, qv) }, centroids, nprobe)
    val dense = operators.AnnIvf.probeCells(spark, annPath, cids)
      .join(broadcast(probeFrame), col("cid") === col("probe_cid"))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"),
        col("embedding").as("emb"), col("qv"))
    operators.Bm25.ragHybridBatchOver(dense, queries, Graft.clampTopK(topK),
      dim, candDepth = candDepth, queryVecs = Some(qvs),
      bm25From = Some(operators.Bm25Store.scoresFromStoreBatch(spark, lexPath, queries)),
      denseFrom = Some(dense))
  }

  /** MMR-diversified search (SURVEY §2 C1m, r13): exact top-`candDepth`
    * retrieval from the cached chunk index, then the maximal-marginal-
    * relevance greedy (Carbonell & Goldstein 1998) reranks the pool so
    * near-duplicate chunks are demoted behind diverse ones — the rerank
    * every RAG serving stack bolts onto its retriever when the corpus
    * carries duplication (and a training-data corpus always does). The
    * pool rides its relevance RANK as the greedy's synthetic key, so
    * chunk identity (`doc_id`, `chunk_idx`) joins back losslessly after
    * selection. Rerank state is one bounded pool per query.
    */
  def ragQueryMmr(query: String, topK: Int = 5, lambdaRel: Double = 0.7,
                  candDepth: Int = 20): DataFrame = {
    import spark.implicits._
    // clamp BEFORE the pool bound: an absurd topK must not widen the
    // bounded pool the greedy collects per group (the invariant every
    // facade path enforces before its expensive stage)
    val kk = Graft.clampTopK(topK)
    val qFrame = Seq((0L, embedder.embedText(query).toSeq)).toDF("query_id", "qv")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc, col("chunk_idx").asc)
    // the pool is read twice (greedy + identity join-back): checkpoint it
    // when a releasingPinned scope can reclaim the pin, else recompute —
    // the bounded pool makes the replayed scan cheap (scopedCheckpoint's
    // standard trade)
    val pool = operators.AnnStore.scopedCheckpoint(
      servingIndex.crossJoin(broadcast(qFrame))
        .select(col("query_id"), col("doc_id"), col("chunk_idx"),
          col("emb"), round(VecExprs.cosineSim(col("emb"), col("qv")) + lit(1e-9), 4).as("rel"),
          substring(col("chunk_text"), 1, 120).as("snippet"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= math.max(candDepth, kk)))
    val picked = operators.RagSearch.mmrGreedy(
      pool.select(col("query_id"), col("rn").cast("long").as("vec_id"),
        col("emb").cast("array<double>").as("embedding"), col("rel")),
      kk, lambdaRel)
    picked.as("m").join(pool.as("p"),
        col("m.query_id") === col("p.query_id") && col("m.vec_id") === col("p.rn"))
      .select(col("m.rank"), col("p.doc_id"), col("p.chunk_idx"),
        col("m.score"), col("p.snippet"))
      .orderBy("rank")
  }

  /** Cross-encoder-reranked search (SURVEY §2 C1x, r13): exact
    * top-`candDepth` retrieval from the cached chunk index, then each
    * (query, chunk) pair re-scored by the joint `q ‖ SEP ‖ d` encode
    * (Nogueira & Cho 2019) — the interaction-aware second stage, paid
    * only on the bounded pool. Completes the facade rerank family:
    * hybrid (RRF), MMR (diversity), cross-encoder (interaction).
    */
  def ragQueryCross(query: String, topK: Int = 5, candDepth: Int = 20,
                    crossEncoder: Option[CrossEncoder] = None): DataFrame = {
    import spark.implicits._
    // clamp BEFORE the pool bound (see ragQueryMmr) — an absurd topK must
    // not widen the pair set the O(L²) joint encode pays for. The default
    // rerank encoder uses ITS OWN architecture defaults: the facade `dim`
    // sizes retrieval vectors, not the cross-encoder (whose score is a
    // scalar) — tying them would reject dims the encoder can't head-split.
    val kk = Graft.clampTopK(topK)
    val ce = crossEncoder.getOrElse(new CrossEncoder(TransformerEmbedder.seeded(spark)))
    val qFrame = Seq((0L, embedder.embedText(query).toSeq)).toDF("query_id", "qv")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("doc_id").asc, col("chunk_idx").asc)
    val pool = servingIndex.crossJoin(broadcast(qFrame))
      .select(col("query_id"), col("doc_id"), col("chunk_idx"), col("chunk_text"),
        round(VecExprs.cosineSim(col("emb"), col("qv")) + lit(1e-9), 4).as("rel"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= math.max(candDepth, kk))
      .select(col("doc_id"), col("chunk_idx"), col("chunk_text"))
    val q = query
    val scored = operators.RagSearch.withCrossScores(pool, ce,
      _ => q, r => if (r.isNullAt(2)) "" else r.getString(2))
    scored.select(col("doc_id"), col("chunk_idx"),
        substring(col("chunk_text"), 1, 120).as("snippet"),
        round(col("cross") + lit(1e-9), 4).as("score"))
      // the pool is bounded (≤ candDepth rows): one partition, keyed so
      // the optimizer cannot fold it into an unpartitioned window
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(operators.Ranks.onePartitionKey(col("doc_id")))
          .orderBy(col("score").desc, col("doc_id").asc, col("chunk_idx").asc))
        .cast("long"))
      .filter(col("rank") <= kk)
      .select(col("rank"), col("doc_id"), col("chunk_idx"), col("score"), col("snippet"))
      .orderBy("rank")
  }

  /** Token-range read of one document (1-based inclusive, like the
    * reference's line ranges). Driver-side scalar — it's a point lookup.
    */
  def readFile(docId: Long, startTok: Int = 1, endTok: Int = Int.MaxValue): String = {
    import graft.functions.Text
    val toks = Text.tokens(col("text"))
    val n = if (endTok == Int.MaxValue) Int.MaxValue - startTok else endTok - startTok + 1
    val rows = Tables.documents(spark, sfDir)
      .filter(col("doc_id") === docId)
      .select(array_join(slice(toks, startTok, n), " "))
      .collect()
    require(rows.nonEmpty, s"doc $docId not found")
    rows.head.getString(0)
  }

  /** Path-addressed LINE-range read over the real tree — the reference's
    * read_file surface (reference: src/index.ts:286-314): relative path
    * resolved under the facade's root with a traversal guard (reference:
    * src/indexer.ts:320-338 ensureWithinRoot — `../` escapes throw), then
    * 1-based inclusive line slicing with the reference's exact clamp
    * (start clamps to 1, end clamps to the line count, start past the end
    * yields ""). No range → the raw file content, byte-for-byte (ranges
    * join with "\n", normalizing CRLF exactly like the reference's
    * split/join). PDFs serve their EXTRACTED text from the discovery
    * cache keyed (relPath, current size) — a PDF the index hasn't seen is
    * an error, never an inline decode (reference: src/index.ts:293-301).
    *
    * Driver-side point lookup by design (one file; the PDF leg is one
    * predicate-pushed parquet point read) — this is the interactive
    * surface, not a corpus operator. Named readFileLines because the
    * token-addressed [[readFile]] keeps its defaulted signature (Scala
    * allows only one defaulted overload per name).
    */
  def readFileLines(relPath: String, startLine: Option[Int] = None,
                    endLine: Option[Int] = None): String = {
    val root = dirSource match {
      case Some(Graft.DirSource(r, _, _)) => r
      case _ => throw new IllegalStateException(
        "readFileLines requires a facade built by Graft.forDirectory (a real tree to read)")
    }
    // the SAME lexical guard discovery/listFiles use (file:-scheme roots
    // accepted, symlink blindness shared with the reference — see
    // TextCorpus.ensureWithinRootRel); relNorm is the cache-key spelling
    val (abs, relNorm) = sources.TextCorpus.ensureWithinRootRel(root, relPath)
    val hPath = new org.apache.hadoop.fs.Path(abs)
    val fs = hPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val content =
      if (relNorm.toLowerCase.endsWith(".pdf")) {
        val size = fs.getFileStatus(hPath).getLen
        val cache = new org.apache.hadoop.fs.Path(sfDir, "pdf_text_cache")
        // no cache directory = the facade never ran the PDF leg (pdf not
        // whitelisted): same "not indexed" contract as a cache miss, not a
        // leaked AnalysisException about an internal parquet path
        val rows =
          if (!fs.exists(cache)) Array.empty[org.apache.spark.sql.Row]
          // point read: path+byte_size predicates push into the parquet scan
          else spark.read.parquet(cache.toString)
            .filter(col("path") === relNorm && col("byte_size") === size)
            .select("text").collect()
        if (rows.isEmpty) throw new IllegalStateException(
          s"PDF text not available for '$relNorm'. File may not have been indexed yet.")
        rows.head.getString(0)
      } else {
        val in = fs.open(hPath)
        val bytes = try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
        new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
      }
    if (startLine.isEmpty && endLine.isEmpty) content
    else {
      // -1 limit: JS split keeps a trailing empty line; Java drops it
      val lines = content.split("\r?\n", -1)
      val s = math.max(0, startLine.getOrElse(1) - 1)
      val e = math.min(lines.length, endLine.getOrElse(lines.length))
      if (s >= e) "" else lines.slice(s, e).mkString("\n")
    }
  }

  /** Decoded image stats for the facade's tree — "what are the dimensions
    * of the images in this repo": (path, byte_size, decoded_ok, width,
    * height, channels, n_pixels, pixel_hash, mean_luma), one row per
    * discovered image file INCLUDING the ones the codec rejects
    * (decoded_ok=false — corrupt/out-of-scope files are visible here even
    * though they never land in the documents corpus). Served from the
    * SAME decode-once cache discovery maintains, so after a build or
    * reindex this is a pure parquet read — no file re-opened, nothing
    * re-decoded (and a call on a never-indexed tree populates the cache
    * discovery will then reuse).
    */
  def imageStats(): DataFrame = {
    val (root, exts, excluded) = dirSource match {
      case Some(Graft.DirSource(r, allowed, ex)) =>
        val img = allowed.filter(e =>
          sources.ImageCorpus.ImageExts.contains(e.toLowerCase))
        (r, if (img.nonEmpty) img else Seq("png"), ex)
      case _ => throw new IllegalStateException(
        "imageStats requires a facade built by Graft.forDirectory (a real tree to read)")
    }
    sources.ImageCorpus.readImageStats(spark, root, excluded, exts,
      cachePath = Some(Graft.imageCachePath(sfDir)))
  }

  /** Catalog listing (dirs = sources), reference ordering contract with the
    * full option surface (reference: src/index.ts:316-413): `recursive`,
    * `maxDepth`, `includeExtensions` (suppresses dir entries), `limit`.
    */
  def listFiles(limit: Int = 500, recursive: Boolean = true,
                maxDepth: Int = Int.MaxValue,
                includeExtensions: Seq[String] = Nil): DataFrame =
    operators.Catalog.corpusCatalog(spark, sfDir, limit, recursive, maxDepth,
      includeExtensions)

  /** Per-document curation report (normalized text, PII counts, token
    * stats) — the §2 F passes as one stateless projection, same code the
    * streaming ingest twin runs on arrival.
    */
  def curate(): DataFrame =
    streaming.CurationStream.curate(Tables.documents(spark, sfDir))

  /** LM-based quality scores over the corpus (corpus-trained bigram
    * model, per-doc mean NLL — SURVEY §2 D6): the standard quality-filter
    * signal; sort descending to find boilerplate/garbage outliers.
    */
  def qualityLm(): DataFrame =
    operators.TextAnalysis.qualityLmOver(Tables.documents(spark, sfDir))

  /** Sequence-packing assignment for the corpus (concat-and-split token
    * bins — SURVEY §2 F7): each doc's straddle-aware start bin + offset
    * for fixed `binTokens` training sequences.
    */
  def packSequences(binTokens: Int = 512): DataFrame =
    operators.Pipeline.packSequencesOver(Tables.documents(spark, sfDir), binTokens)

  /** Exact repeated token spans across the corpus (ExactSubstr-style —
    * SURVEY §2 B7): maximal spans whose `w`-token windows all occur
    * elsewhere; the substring-granular boilerplate report doc-level
    * dedup misses.
    */
  def findRepeatedSpans(w: Int = 8): DataFrame =
    operators.Dedup.dedupSpansOver(Tables.documents(spark, sfDir), w)

  /** Verified near-duplicate pairs over the corpus (MinHash-LSH blocked,
    * exact-Jaccard checked).
    */
  def findNearDuplicates(threshold: Double = 0.4): DataFrame =
    operators.Dedup.dedupMinhashLsh(spark, sfDir, threshold = threshold)

  /** DSIR importance resampling toward a target slice of the corpus
    * (SURVEY §2 F8): documents matching `targetPred` define the target
    * distribution; the rest are scored by hashed-unigram log-likelihood
    * ratio and the deterministic Gumbel-top-`topN` is returned.
    */
  def sampleDsir(targetPred: Column, buckets: Int = 512,
                 topN: Int = 50): DataFrame =
    operators.Pipeline.sampleDsirOver(Tables.documents(spark, sfDir),
      targetPred, buckets, topN)

  /** Corpus-trained BPE token statistics (SURVEY §2 D7): merges learned
    * on THIS corpus, per-document whitespace vs BPE counts + fertility.
    */
  def tokenStatsBpe(nMerges: Int = 200, vocabLimit: Int = 10000): DataFrame =
    operators.TextAnalysis.tokenBpe(spark, sfDir, nMerges, vocabLimit)

  /** Corpus-trained unigram-LM token statistics (SURVEY §2 D10, r13):
    * the SentencePiece-style counterpart of [[tokenStatsBpe]].
    */
  def tokenStatsUnigram(vocabSize: Int = 1000,
                        vocabLimit: Int = 10000): DataFrame =
    operators.TextAnalysis.tokenUnigram(spark, sfDir, vocabSize, vocabLimit)

  /** Leakage-safe train/val/test assignment (SURVEY §2 F9, r13):
    * exact-dup groups assign as ONE unit, so duplicates never straddle
    * train/test — run this BEFORE any eval-set export.
    */
  def assignSplits(testPermille: Int = 100,
                   valPermille: Int = 100): DataFrame =
    operators.Pipeline.splitLeakageSafe(spark, sfDir, testPermille, valPermille)

  /** Semantic near-duplicate report over the CHUNK embedding space
    * (SemDeDup, SURVEY §2 B8, on the same vectors the ANN indexes
    * serve): k-means-blocked ε-pairs with the paper's keeper rule —
    * paraphrase-level duplicates that lexical MinHash blocking misses.
    */
  def findSemanticDuplicates(k: Int = 0, eps: Double = 0.9): DataFrame = {
    // the facade's CACHED index — chunk embedding is the expensive part
    // and must not rerun for a report (train and dedup each materialize
    // the vectors, but both read the cached frame)
    val vecs = chunkVectors(servingIndex)
    // k<=0 → corpus-derived (expected cluster size pinned so candidate
    // pair volume stays linear in the chunk count — see semClusterCountFor)
    val kUse = if (k > 0) k
               else operators.Dedup.semClusterCountFor(vecs.count())
    val cents = operators.AnnIvf.trainOver(
      vecs.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), kUse)
    operators.Dedup.dedupSemanticOver(vecs, cents, eps)
  }

  /** Near-duplicate clusters with survivors (connected components over the
    * verified pair graph; survivor = component minimum).
    */
  def dedupClusters(): DataFrame =
    operators.Dedup.nearDupClusters(spark, sfDir)

  /** Export the corpus (near-dup survivors only) as uniform training
    * shards — the pipeline's last mile: dedup picks the survivor set,
    * writeShards lays out the bytes. (Join `curate()` in first if the
    * shards should carry curation metadata columns.)
    */
  def exportShards(path: String, numShards: Int = 8): DataFrame = {
    val survivors = dedupClusters().filter(col("is_survivor")).select("doc_id")
    operators.Pipeline.writeShards(
      Tables.documents(spark, sfDir).join(survivors, "doc_id"), path, numShards)
  }

  /** Indexing counters (filesDiscovered / chunksTotal / chars per lang). */
  def status(): DataFrame =
    Chunker.indexStatus(spark, sfDir, chunkSize, chunkOverlap)

  /** The END-TO-END curation pipeline as one call (r12 capstone) — the
    * crawl-to-shards run a training-data user performs: near-dup
    * SURVIVORS → heuristic quality gate → benchmark DECONTAMINATION gate
    * (the F5 convention's held-out slice is excluded outright, its
    * contaminated lookalikes dropped by fraction) → tempered mixture
    * SAMPLE → uniform doc_id-hash training SHARDS at `outPath`, with
    * sequence-packing assignments computed over the final set so a
    * loader knows each doc's bin before it reads a byte. Every stage is
    * the same §2 operator the driver gate checks — this method only
    * composes them.
    *
    * Returns the LEDGER: one row per stage with surviving doc and token
    * counts — the provenance record a 100 TB run needs to explain where
    * its data went. Deterministic end to end (every gate is
    * deterministic), so a re-run reproduces both shards and ledger.
    */
  def buildTrainingSet(outPath: String,
                       qualityMin: Double = 0.6,
                       contaminationMax: Double = 0.2,
                       temperature: Double = 2.0,
                       targetFrac: Double = 0.5,
                       binTokens: Int = 512,
                       numShards: Int = 8,
                       testPermille: Int = 0,
                       valPermille: Int = 0): DataFrame = {
    import spark.implicits._
    require(testPermille >= 0 && valPermille >= 0 &&
      testPermille + valPermille < 1000,
      s"split permilles must satisfy 0 <= test($testPermille) + val($valPermille) < 1000")
    // every checkpoint this run pins is released on exit — shards,
    // packing, and the ledger are fully materialized before the scope
    // closes, so nothing pinned is needed afterwards (the leak class the
    // ANN stores' releasingPinned standard exists to close)
    operators.AnnStore.releasingPinned(spark) {
      val docs = Tables.documents(spark, sfDir)
      val ledger = scala.collection.mutable.ArrayBuffer.empty[(String, Long, Long)]
      // gates checkpoint (TRACKED) so each stage builds on the last ONCE;
      // the raw corpus does not — materializing the whole input to
      // executor storage is exactly what a 100 TB run must not do. ONE
      // combined action per ledger row; coalesce, because sum over zero
      // rows is null and an emptied-out stage must record 0, not crash
      def stage(name: String, d: DataFrame, checkpoint: Boolean = true): DataFrame = {
        val kept = if (checkpoint) operators.AnnStore.trackedCheckpoint(d) else d
        val row = kept.agg(count(lit(1)).as("docs"),
          coalesce(sum(size(functions.Text.tokens(coalesce(col("text"), lit(""))))
            .cast("long")), lit(0L)).as("tokens")).head()
        ledger += ((name, row.getLong(0), row.getLong(1)))
        kept
      }
      val s0 = stage("raw", docs, checkpoint = false)
      val survivors = dedupClusters().filter(col("is_survivor")).select("doc_id")
      val s1 = stage("dedup_survivors", s0.join(survivors, "doc_id"))
      val quality = operators.TextAnalysis.qualityScoreOver(s0)
        .filter(col("score") >= qualityMin).select("doc_id")
      val s2 = stage("quality_gate", s1.join(quality, "doc_id"))
      // decontamination: the held-out slice leaves the training set, and a
      // doc overlapping the benchmark beyond the threshold is dropped
      // (contaminationCheck emits only docs with ≥1 hit — absent = clean)
      val contaminated = operators.Pipeline.contaminationCheck(spark, sfDir)
        .filter(col("contamination_frac") > contaminationMax).select("doc_id")
      val s3 = stage("decontaminated",
        s2.filter(!operators.Pipeline.isBenchmark(col("doc_id")))
          .join(contaminated.withColumn("bad", lit(true)), Seq("doc_id"), "left")
          .filter(col("bad").isNull).drop("bad"))
      val rates = operators.Pipeline.mixtureRates(s3, temperature, targetFrac)
      val s4 = stage("mixture_sample",
        s3.join(operators.Pipeline.applyMixture(s3, rates).select("doc_id"), "doc_id"))
      // a re-run in the OTHER mode must not leave the previous mode's
      // shard dirs live next to the new ones — one packing table must
      // never sit beside two inconsistent shard generations
      val fsOut = new org.apache.hadoop.fs.Path(outPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val staleDirs = if (testPermille + valPermille <= 0)
        Seq("shards_train", "shards_val", "shards_test") else Seq("shards")
      staleDirs.foreach(d =>
        fsOut.delete(new org.apache.hadoop.fs.Path(outPath, d), true))
      if (testPermille + valPermille <= 0) {
        // packing assignments over the FINAL set (provenance for the loader)
        operators.Pipeline.packSequencesOver(s4, binTokens)
          .write.mode("overwrite").parquet(outPath + "/packing")
        val inventory = operators.Pipeline.writeShards(s4, outPath + "/shards", numShards)
        ledger += (("shard_files", inventory.count(), ledger.last._3))
      } else {
        // LEAKAGE-SAFE train/val/test emission (F9 — dedup-before-split):
        // the assignment unit is the exact-dup GROUP over the survivor
        // set, so duplicates that passed every gate can still never
        // straddle splits; packing covers the TRAIN split (the set a
        // loader actually packs), val/test ship as plain shards
        val s4Tokens = ledger.last._3
        val splits = operators.Pipeline
          .splitLeakageSafeOver(s4, testPermille, valPermille)
          .select(col("doc_id"), col("split"))
        val labeled = operators.AnnStore.trackedCheckpoint(s4.join(splits, "doc_id"))
        var shardFiles = 0L
        for (split <- Seq("train", "val", "test")) {
          val part = stage(s"split_$split",
            labeled.filter(col("split") === split).drop("split"))
          if (split == "train")
            operators.Pipeline.packSequencesOver(part, binTokens)
              .write.mode("overwrite").parquet(outPath + "/packing")
          shardFiles += operators.Pipeline
            .writeShards(part, outPath + s"/shards_$split", numShards).count()
        }
        ledger += (("shard_files", shardFiles, s4Tokens))
      }
      ledger.toSeq.toDF("stage", "docs", "tokens")
    }
  }
}

object Graft {

  /** The reference's RAG_QUERY_MAX_RESULTS (reference: src/index.ts:62). */
  val MaxTopK = 50

  /** The reference's default ALLOWED_EXT — point-at-a-repo indexes the
    * common code/text formats out of the box, with `pdf` ON by default
    * (routed through the extractor leg, reference: src/config.ts:53-88).
    */
  val DefaultAllowedExt: Seq[String] = Seq(
    "ts", "tsx", "js", "jsx", "py", "cs", "java", "kt", "kts", "go", "rs",
    "cpp", "c", "h", "hpp", "rb", "php", "swift", "scala", "md", "txt",
    "gradle", "groovy", "json", "yaml", "yml", "xml", "proto", "properties",
    "pdf")

  /** The reference's default EXCLUDED_FOLDERS (reference:
    * src/config.ts:90-101) — exact path segments pruned at discovery.
    */
  val DefaultExcludedFolders: Seq[String] = Seq(
    "node_modules", "dist", "build", ".git", "target", "bin", "obj",
    ".cache", "coverage", ".nyc_output")

  /** Manifest `kind` of the facade's chunk-ANN indexes — the one place each
    * literal lives (manifest stamp AND the stored-manifest guard).
    */
  private[graft] val ChunkIndexKind = "chunk_ivf"
  private[graft] val ChunkGraphKind = "chunk_graph"

  /** Default k of the chunk-ANN index — the ONE place the literal lives:
    * `ensureChunkAnnIndex`'s default parameter AND every stored-manifest
    * fallback (`.getOrElse`) read it, so a default change can never leave
    * the served-hybrid setup gating a different k than the rest of the
    * facade.
    */
  private[graft] val DefaultChunkAnnK = 16

  /** Column form of the watch exclusion test, evaluated on the EXECUTORS.
    * A `path` is excluded iff it sits under the watched root AND one of
    * its intermediate directory segments (filename dropped) matches an
    * excluded name; unknown scheme/prefix → not excluded (reindex is the
    * safe side). binaryFile's `path` is Hadoop's unescaped form, so the
    * segment check works for spaces/percent names without URI decoding —
    * same contract as the driver-side check this replaces (r11 VERDICT:
    * the old `.collect()` of arrival paths was the one scale-killer).
    */
  private[graft] def excludedPathCol(rootNorm: String, excluded: Seq[String]): Column = {
    val norm = regexp_replace(col("path"), "^file:/+", "/")
    val rel = norm.substr(lit(rootNorm.length + 1), lit(Integer.MAX_VALUE))
    val segs = split(rel, "/")
    val dirSegs = slice(segs, lit(1), greatest(size(segs) - 1, lit(0)))
    if (excluded.isEmpty) lit(false)
    else norm.startsWith(rootNorm) &&
      arrays_overlap(dirSegs, array(excluded.map(lit): _*))
  }

  /** Watch-mode trigger decision: does this arrival batch contain anything
    * worth a reindex? True when the batch is empty (defensive — reindex is
    * the safe side) or when at least one arrival is NOT under an excluded
    * folder. Runs as ONE map-side-combined aggregate over the batch and
    * returns a single 2-counter row to the driver — the arrival paths
    * themselves are never materialized driver-side, so the first
    * micro-batch after start (which backfills the whole existing tree)
    * stays O(1) in driver memory at any corpus size. Receipt:
    * WatchTriggerSpec counts driver-bound task-result bytes.
    */
  private[graft] def shouldReindex(batch: DataFrame, isExcludedCol: Column): Boolean = {
    val counts = batch.agg(
      count(lit(1)).as("n"),
      count(when(!isExcludedCol, lit(1))).as("live")).head()
    counts.getLong(0) == 0L || counts.getLong(1) > 0L
  }

  /** Clamp a requested top_k to [1, MaxTopK] — the reference's rag_query
    * guard (reference: src/index.ts:269).
    */
  def clampTopK(topK: Int): Int = math.max(1, math.min(MaxTopK, topK))

  /** Where a live-corpus facade's documents came from — kept so
    * [[Graft.reindexDirectory]] can re-run the IDENTICAL discovery. Each
    * variant returns a documents-shaped frame (incl. the char-semantic
    * n_chars / diff-key byte_size split `asDocuments` establishes).
    */
  sealed trait CorpusSource {
    def discover(spark: SparkSession, workDir: String): DataFrame
  }

  case class DirSource(root: String, allowedExt: Seq[String],
                       excludedFolders: Seq[String]) extends CorpusSource {
    def discover(spark: SparkSession, workDir: String): DataFrame =
      discoverDocuments(spark, root, allowedExt, excludedFolders, workDir)
  }

  case class JsonlSource(root: String, textField: String, idField: Option[String],
                         langField: Option[String],
                         excludedFolders: Seq[String]) extends CorpusSource {
    def discover(spark: SparkSession, workDir: String): DataFrame =
      sources.TextCorpus.asDocuments(sources.JsonlCorpus.read(
        spark, root, textField, idField, langField, excludedFolders))
  }

  /** Land a documents frame as the facade's corpus table via staged write +
    * backup-rename swap. The guarantee is CRASH safety: a crash mid-write
    * can never lose the live table (the old data survives as `.backup`
    * until the swap completes, and `IndexStore.load`-style self-heal
    * applies). It is NOT concurrent-reader isolation — a scan that is
    * mid-flight when the swap renames directories out from under it can
    * still fail and must retry; single-writer, retrying-reader is the
    * operating model (at cluster scale a table format's snapshot isolation
    * plays this role).
    */
  private[graft] def landDocuments(docs: DataFrame, workDir: String): Unit = {
    val spark = docs.sparkSession
    val target = new org.apache.hadoop.fs.Path(workDir, "documents.parquet")
    val staging = new org.apache.hadoop.fs.Path(workDir, "documents.parquet.staging")
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(staging)) fs.delete(staging, true)
    docs.write.mode("overwrite").parquet(staging.toString)
    IndexStore.swapDir(fs, staging, target)
  }

  /** Point graft at a REAL directory tree — the reference's actual
    * end-to-end story (point at a repo, index it, query it; reference:
    * src/indexer.ts:350-387 discovery + src/index.ts:428 startup build).
    *
    * Discovery runs through `TextCorpus` (extension whitelist, folder
    * exclusion by exact path segment), the corpus lands as a columnar
    * `documents` table under `workDir` (ingest-once — the 100 TB shape:
    * every downstream operator then scans partitioned parquet, and raw
    * files are read exactly once), and the returned facade serves every
    * graft operator over it unchanged.
    */
  def forDirectory(spark: SparkSession, root: String, workDir: String,
                   allowedExt: Seq[String] = DefaultAllowedExt,
                   excludedFolders: Seq[String] = DefaultExcludedFolders,
                   chunkSize: Int = 100, chunkOverlap: Int = 20,
                   dim: Int = 64, embedder: Option[Embedder] = None): Graft =
    forSource(spark, DirSource(root, allowedExt, excludedFolders), workDir,
      chunkSize, chunkOverlap, dim, embedder)

  /** Point graft at a JSONL corpus — the interchange format training
    * pipelines exchange (one JSON record per line, a `text` field, often a
    * stable `id`). Same contract as [[forDirectory]]: records land as the
    * columnar documents table under `workDir`, every operator runs over
    * them unchanged, and [[Graft.reindexDirectory]] re-discovers the same
    * tree incrementally (with `idField`, an edited record re-chunks as
    * CHANGED; without one, identity is content-addressed and an edit
    * counts as remove+add — see [[sources.JsonlCorpus.read]]).
    */
  def forJsonl(spark: SparkSession, root: String, workDir: String,
               textField: String = "text", idField: Option[String] = None,
               langField: Option[String] = None,
               excludedFolders: Seq[String] = DefaultExcludedFolders,
               chunkSize: Int = 100, chunkOverlap: Int = 20,
               dim: Int = 64, embedder: Option[Embedder] = None): Graft =
    forSource(spark, JsonlSource(root, textField, idField, langField, excludedFolders),
      workDir, chunkSize, chunkOverlap, dim, embedder)

  private def forSource(spark: SparkSession, src: CorpusSource, workDir: String,
                        chunkSize: Int, chunkOverlap: Int, dim: Int,
                        embedder: Option[Embedder] = None): Graft = {
    landDocuments(src.discover(spark, workDir), workDir)
    new Graft(spark, workDir, chunkSize, chunkOverlap, dim, Some(src),
      embedderOpt = embedder)
  }

  /** Point graft at an EXISTING DataFrame/table — the entry point a
    * cluster-scale corpus actually arrives through (the data is already a
    * lakehouse table, not files on a disk graft can walk). The frame needs a
    * `text` column; `doc_id`/`id`, `lang`, `source`, `byte_size` are honored
    * when present (see [[frameAsDocuments]] for the exact contract). The
    * frame's CURRENT rows land as the facade's documents table (ingest-once,
    * like the directory/JSONL legs); later upstream states re-land through
    * [[Graft.reindexFrame]] — a frame is not re-discoverable from inside the
    * facade (re-executing a captured plan would serve a stale file listing,
    * not the live table), so reindex takes the current frame explicitly.
    */
  def forFrame(spark: SparkSession, docs: DataFrame, workDir: String,
               chunkSize: Int = 100, chunkOverlap: Int = 20,
               dim: Int = 64, embedder: Option[Embedder] = None): Graft = {
    landDocuments(frameAsDocuments(docs), workDir)
    // pin the identity/diff-key rungs this frame's columns imply, so a
    // later reindexFrame whose column set drifted fails loudly instead of
    // silently re-keying the corpus
    new Graft(spark, workDir, chunkSize, chunkOverlap, dim, None,
      Some(frameShapeOf(docs)), embedderOpt = embedder)
  }

  /** The (identity rung)/(diff key) a frame's column set implies — computed
    * once at [[forFrame]] time and pinned, then recomputed and compared on
    * every [[Graft.reindexFrame]]: identity ∈ {doc_id (integral,
    * passthrough), doc_id_hashed (non-integral — hashed, never cast: a
    * long cast would null strings and truncate doubles into collisions),
    * id, content} and diff key ∈ {byte_size, n_chars}.
    *
    * The identity and diff-key columns pin their DATA TYPE too, not just
    * their presence: an id column drifting int→double keeps the rung NAME
    * while its hash input changes rendering ("1" vs "1.0") — silently
    * re-keying the whole corpus into one giant remove+add. Type drift must
    * fail the [[Graft.reindexFrame]] require like column drift does. The
    * integral family is one equivalence class (int→long widening is
    * value-stable under the rungs' cast-to-long, so failing it would be a
    * false alarm on a harmless upstream migration); every non-integral type
    * pins its exact name, because the hashed rungs render through
    * cast-to-STRING where each type has its own rendering.
    */
  private[graft] def frameShapeOf(docs: DataFrame): String = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val cols = docs.columns.toSet
    def isIntegral(c: String) = docs.schema(c).dataType match {
      case LongType | IntegerType | ShortType | ByteType => true
      case _ => false
    }
    def typed(name: String, c: String) = s"$name:${docs.schema(c).dataType.simpleString}"
    val idRung =
      if (cols.contains("doc_id")) {
        if (isIntegral("doc_id")) "doc_id" else typed("doc_id_hashed", "doc_id")
      }
      else if (cols.contains("id")) {
        if (isIntegral("id")) "id" else typed("id", "id")
      }
      else "content"
    val diffKey =
      if (cols.contains("byte_size")) {
        if (isIntegral("byte_size")) "byte_size" else typed("byte_size", "byte_size")
      } else "n_chars"
    s"$idRung/$diffKey"
  }

  /** Normalize a caller's frame to the documents schema — the frame leg's
    * analog of [[sources.TextCorpus.asDocuments]].
    *
    * Identity (drives the incremental diff, so it must be stable across
    * [[Graft.reindexFrame]] calls — [[frameShapeOf]] pins the rung): an
    * INTEGRAL `doc_id` is used as-is; a non-integral one (string/UUID/
    * decimal) hashes — a long cast would null strings (silently emptying
    * the corpus) and truncate doubles into collisions; else an `id` hashes
    * to one; else identity is content-addressed (`xxhash64(text)`) and an
    * edit counts as remove+add
    * — the JSONL leg's exact ladder ([[sources.JsonlCorpus.read]]). Rows
    * with a null id or null/empty text drop like malformed JSONL lines.
    * Duplicate ids collapse deterministically (max by payload) rather than
    * corrupting every downstream join — one map-side-combined hash
    * aggregate at ingest, the same collision guard the JSONL leg pays.
    *
    * Change detection: a provided `byte_size` is the diff key
    * ([[Tables.changeKey]]); absent one it falls back to `n_chars`, sharing
    * the size-heuristic family's declared same-length-edit blindness —
    * except on content-addressed frames, where detection is exact by
    * construction. An id-keyed caller who wants exact detection passes
    * `byte_size = xxhash64(text)` — it's just a column.
    */
  private[graft] def frameAsDocuments(docs: DataFrame): DataFrame = {
    val cols = docs.columns.toSet
    require(cols.contains("text"), "forFrame corpus needs a `text` column")
    // xxhash64 IGNORES null inputs (returns its seed), so every hashed rung
    // gates nulls explicitly or id-less rows would all land as doc_id 42
    def hashed(c: org.apache.spark.sql.Column) =
      when(c.isNotNull, abs(xxhash64(c.cast("string"))))
    // rung NAME only — the shape string's `:type` suffix is drift-guard
    // detail (reindexFrame's require), not a dispatch key
    val id = frameShapeOf(docs).split('/')(0).split(':')(0) match {
      case "doc_id" => col("doc_id").cast("long")
      case "doc_id_hashed" => hashed(col("doc_id"))
      case "id" => hashed(col("id"))
      case _ => abs(xxhash64(col("text")))
    }
    val lang = if (cols.contains("lang")) col("lang") else lit("und")
    val source = if (cols.contains("source")) col("source") else lit("frame")
    val byteSize =
      if (cols.contains("byte_size")) col("byte_size").cast("long")
      else length(col("text")).cast("long")
    sources.JsonlCorpus.collapseLargest(
      docs
        .filter(col("text").isNotNull && length(col("text")) > 0)
        .select(id.as("doc_id"), col("text").cast("string").as("text"),
          lang.as("lang"), source.as("source"),
          length(col("text")).cast("long").as("n_chars"),
          byteSize.as("byte_size"))
        .filter(col("doc_id").isNotNull),
      "doc_id", Seq("n_chars", "byte_size", "text", "lang", "source"))
      .select("doc_id", "text", "lang", "source", "n_chars", "byte_size")
  }

  /** Directory discovery with the reference's extension semantics
    * (README.md:257 — the whitelist may include `pdf`, whose files are
    * text-EXTRACTED during indexing rather than read as text): the `pdf`
    * entry routes through the binary scan + real extractor leg
    * ([[sources.TextCorpus.readPdfAsText]]), everything else through the
    * wholetext leg; both land in the same documents shape with consistent
    * path-derived doc_ids, so every downstream operator is source-agnostic.
    */
  private[graft] def discoverDocuments(spark: SparkSession, root: String,
                                       allowedExt: Seq[String],
                                       excludedFolders: Seq[String],
                                       workDir: String): DataFrame = {
    val (imgExts, rest) =
      allowedExt.partition(e => sources.ImageCorpus.ImageExts.contains(e.toLowerCase))
    val (pdfExts, textExts) = rest.partition(_.equalsIgnoreCase("pdf"))
    val legs =
      (if (textExts.nonEmpty)
        Seq(sources.TextCorpus.read(spark, root, textExts, excludedFolders)) else Nil) ++
      (if (pdfExts.nonEmpty)
        // the caller's exact spellings drive the glob (the text leg's glob
        // is case-sensitive; this one must not differ); the extraction
        // cache lands beside the documents table
        Seq(sources.TextCorpus.readPdfAsText(spark, root, excludedFolders,
          exts = pdfExts, cachePath = Some(workDir + "/pdf_text_cache"))) else Nil) ++
      (if (imgExts.nonEmpty)
        // real image files through the real codec: decoded ONCE (stats
        // cache keyed (relPath, byte_size), beside the PDF text cache),
        // landing as metadata documents whose content carries the pixel
        // hash — so a same-size pixel edit still reads as CHANGED in the
        // hash diff
        Seq(sources.ImageCorpus.readImagesAsText(spark, root, excludedFolders,
          exts = imgExts, cachePath = Some(imageCachePath(workDir)))) else Nil)
    require(legs.nonEmpty, "allowedExt must not be empty")
    sources.TextCorpus.asDocuments(legs.reduce(_ unionByName _))
  }

  /** One spelling for the image stats cache location — discovery and the
    * [[Graft.imageStats]] surface must read the SAME cache or the surface
    * would re-decode what discovery already paid for.
    */
  private[graft] def imageCachePath(workDir: String): String =
    workDir + "/img_stats_cache"
}

/** Persistence — the reference's versioned JSON index store re-expressed as
  * partitioned parquet + a metadata file (reference: src/persistence.ts:
  * load returns null unless chunkSize/chunkOverlap/modelName all match,
  * which triggers a cold rebuild; save always writes current metadata).
  */
object IndexStore {
  private val MetaFile = "_graft_meta.json"
  val Version = 1

  case class Meta(version: Int, chunkSize: Int, chunkOverlap: Int, modelName: String)

  private def metaJson(m: Meta): String =
    s"""{"version":${m.version},"chunkSize":${m.chunkSize},"chunkOverlap":${m.chunkOverlap},"modelName":"${m.modelName}"}"""

  /** Write the index partitioned by doc_id bucket (64 buckets — the warm
    * path's join key), plus the compatibility metadata. Writes go to a
    * staging directory first and swap in atomically-per-rename: the
    * incremental path reads the old store lazily while writing the new one,
    * so overwriting in place would delete its own input mid-scan.
    */
  def save(index: DataFrame, path: String, meta: Meta): Unit = {
    val conf = index.sparkSession.sparkContext.hadoopConfiguration
    val finalPath = new org.apache.hadoop.fs.Path(path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val fs = finalPath.getFileSystem(conf)
    if (fs.exists(staging)) fs.delete(staging, true)
    index
      .withColumn("bucket", pmod(col("doc_id"), lit(64)))
      .write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(staging.toString)
    val out = fs.create(new org.apache.hadoop.fs.Path(staging, MetaFile), true)
    out.write(metaJson(meta).getBytes("UTF-8"))
    out.close()
    swapDir(fs, staging, finalPath)
  }

  /** Swap `staging` into place via backup-rename so the data always survives
    * a crash: old → .backup, staging → live, then drop the backup. A crash
    * between the two renames leaves the old data in .backup — load()
    * self-heals the chunk store from there. (Deleting the live directory
    * before the rename would instead strand everything in .staging, which
    * nothing reads.) Shared by the chunk-store save and the landed
    * documents-table swap.
    */
  private[graft] def swapDir(fs: org.apache.hadoop.fs.FileSystem,
                             staging: org.apache.hadoop.fs.Path,
                             finalPath: org.apache.hadoop.fs.Path): Unit = {
    val backup = new org.apache.hadoop.fs.Path(finalPath.toString + ".backup")
    if (fs.exists(backup)) fs.delete(backup, true)
    val hadOld = fs.exists(finalPath)
    if (hadOld && !fs.rename(finalPath, backup))
      throw new java.io.IOException(s"swapDir: could not move old data aside at $finalPath")
    if (!fs.rename(staging, finalPath)) {
      val restored = hadOld && fs.rename(backup, finalPath)
      throw new java.io.IOException(
        s"swapDir: rename $staging -> $finalPath failed (" +
          (if (restored) "old data restored from backup"
           else if (hadOld) s"RESTORE ALSO FAILED — old data is at $backup"
           else "no previous data existed") + ")")
    }
    if (hadOld) fs.delete(backup, true)
  }

  /** Load iff the stored metadata matches the requested parameters — the
    * reference's compatibility gate. None → caller cold-rebuilds. If the
    * live path is missing but a `.backup` exists (a crash hit save()
    * between its two renames), the backup is renamed back in first — the
    * self-heal that makes the backup-swap protocol actually crash-safe.
    */
  def load(spark: SparkSession, path: String, expected: Meta): Option[DataFrame] = {
    val finalPath = new org.apache.hadoop.fs.Path(path)
    val metaPath = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = metaPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(metaPath)) {
      val backup = new org.apache.hadoop.fs.Path(path + ".backup")
      val healed = !fs.exists(finalPath) &&
        fs.exists(new org.apache.hadoop.fs.Path(backup, MetaFile)) &&
        fs.rename(backup, finalPath)
      if (!healed) return None
    }
    val in = fs.open(metaPath)
    val stored = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    if (stored != metaJson(expected)) None
    else Some(spark.read.parquet(path).drop("bucket"))
  }
}
