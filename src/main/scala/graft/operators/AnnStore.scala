package graft.operators

import graft.IndexStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Shared persistence plumbing for the served ANN indexes (C3 IVF, C5 PQ,
  * C6 graph) — the same contract the chunk store's `IndexStore` enforces
  * (reference: src/persistence.ts — load refuses unless the stored metadata
  * matches, which triggers a cold rebuild):
  *
  *   - every persisted index carries a MANIFEST (version, build parameters,
  *     and a cheap fingerprint of the corpus it was built from), so a corpus
  *     mutated or regenerated under the same path can never be silently
  *     served from a stale index;
  *   - every index write goes through the staged-swap protocol
  *     ([[IndexStore.swapDir]]): write to `<path>.staging`, then
  *     backup-rename into place — a crash mid-build can never destroy the
  *     live index, and a crash between the two renames is self-healed on the
  *     next read (backup renamed back).
  *
  * The fingerprint digests the source table's per-file (path, length, mtime)
  * tuples — no Spark job, O(listing) — which catches regeneration and
  * in-place mutation without scanning data, and cannot collide on aggregates
  * the way a (count, total bytes, max mtime) summary could (same file count
  * and byte total, non-increasing timestamps). At cluster scale the same
  * role is played by a table snapshot/transaction id.
  */
private[graft] object AnnStore {
  val ManifestFile = "_graft_ann_meta.json"
  val Version = 1

  def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Cheap data fingerprint of an arbitrary parquet directory: MD5 over the
    * sorted per-file (path, length, mtime) tuples. Listing-only — never a
    * Spark job.
    */
  def pathFingerprint(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return "absent"
    val it = fs.listFiles(p, true)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath.toString}|${f.getLen}|${f.getModificationTime}"
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    entries.sorted.foreach(e => md.update((e + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Fingerprint of the ANN operators' source table, `<sfDir>/embeddings.parquet`. */
  def corpusFingerprint(spark: SparkSession, sfDir: String): String =
    pathFingerprint(spark, new Path(sfDir, "embeddings.parquet").toString)

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Canonical manifest rendering — equality is string-exact, so parameter
    * order is fixed by the caller's Seq (callers pass a stable literal).
    * String values render as escaped JSON strings, numbers raw.
    */
  def manifest(kind: String, params: Seq[(String, Any)], fingerprint: String): String = {
    val ps = params.map {
      case (k, v: String) => s"${jsonStr(k)}:${jsonStr(v)}"
      case (k, v) => s"${jsonStr(k)}:$v"
    }.mkString(",")
    s"""{"version":$Version,"kind":${jsonStr(kind)},$ps,"fingerprint":${jsonStr(fingerprint)}}"""
  }

  /** Pull an integer build parameter back out of a stored manifest (for the
    * incremental-refresh path, which must honor the index's own parameters
    * rather than the caller's defaults).
    */
  def manifestInt(manifest: String, key: String): Option[Int] =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(manifest).map(_.group(1).toInt)

  def writeManifestFile(fs: FileSystem, dir: Path, manifest: String): Unit = {
    val out = fs.create(new Path(dir, ManifestFile), true)
    try out.write(manifest.getBytes("UTF-8")) finally out.close()
  }

  /** Read the live manifest; if the live dir is missing but a `.backup` holds
    * one (a crash hit the swap between its two renames), rename the backup
    * back first — the same self-heal [[IndexStore.load]] performs for the
    * chunk store. None → caller must cold-rebuild. Any read failure
    * (including the manifest vanishing between the exists probe and the
    * open, under a concurrent swap) maps to None — never an exception.
    */
  def readManifest(spark: SparkSession, path: String): Option[String] = {
    val live = new Path(path)
    val metaPath = new Path(live, ManifestFile)
    val fs = fileSystem(spark, path)
    if (!fs.exists(metaPath)) {
      val backup = new Path(path + ".backup")
      val healed = !fs.exists(live) &&
        fs.exists(new Path(backup, ManifestFile)) &&
        fs.rename(backup, live)
      if (!healed) return None
    }
    try {
      val in = fs.open(metaPath)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
      finally in.close()
    } catch { case _: Exception => None }
  }

  /** Build the index contents under a staging root (callback writes its
    * subdirectories there), stamp the manifest, swap into place. The live
    * index keeps serving until the rename; a crash mid-callback leaves only
    * a dead `.staging` that the next write clears.
    */
  def writeStaged(spark: SparkSession, path: String, manifestStr: String)
                 (write: String => Unit): Unit = {
    val fs = fileSystem(spark, path)
    val staging = new Path(path + ".staging")
    if (fs.exists(staging)) fs.delete(staging, true)
    write(staging.toString)
    writeManifestFile(fs, staging, manifestStr)
    IndexStore.swapDir(fs, staging, new Path(path))
  }

  /** Build-once gate with freshness: rebuild iff no live manifest matches
    * `manifestStr` exactly (covering version, build params, AND the corpus
    * fingerprint — the reference's metadata-match-or-cold-rebuild contract).
    */
  def ensureIndex(spark: SparkSession, path: String, manifestStr: String)
                 (build: => Unit): Unit =
    if (!readManifest(spark, path).contains(manifestStr)) build

  /** A manifest with its fingerprint value blanked — equality of `paramsOf`
    * means "same version, kind, and build parameters" regardless of which
    * corpus state the index was built from.
    */
  def paramsOf(manifest: String): String =
    manifest.replaceAll(""""fingerprint":"[^"]*"""", """"fingerprint":""")

  /** Driver-side memo for the serve paths' small sidecar reads — centroids,
    * PQ codebooks, OPQ rotation, cellstats (r19; the HNSW upper-layer cache
    * at AnnHnsw.serveCacheFor is the in-repo precedent): every `*ServedOver`
    * call was re-reading its k-row sidecars with 1–2 tiny Spark jobs each —
    * pure driver-round latency that multiplies with serve QPS (guide §1.2,
    * §5 "the driver should do almost no data work"). Keyed on (storeRoot,
    * tag, LIVE MANIFEST STRING): strictly safer than the HNSW (mtime, len)
    * stamp — the manifest embeds the corpus fingerprint and build params,
    * builds are deterministic given both, and rebuild/refresh/restamp all
    * rewrite the manifest, so any content change rotates the key. Compaction
    * rewrites data FILES without changing row content or the manifest, so a
    * memo surviving it is correct by the same argument the HNSW cache makes.
    * Stores without a live manifest are never cached (nothing to invalidate
    * on). Serve paths only — build/refresh keep direct reads.
    *
    * The memo holds at most [[ServeMemoCapacity]] entries; past that it
    * evicts the least recently used ONE, so the hot sidecars of the stores
    * being served survive a burst of cold ones. A returned value is shared
    * by every caller that hits the same key: callers must not mutate it.
    */
  private[graft] val ServeMemoCapacity = 64

  private val serveReadMemo =
    new java.util.LinkedHashMap[(String, String, String), AnyRef](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String, String), AnyRef]): Boolean =
        size() > ServeMemoCapacity
    }

  private[graft] def serveMemoSize: Int = serveReadMemo.synchronized(serveReadMemo.size())

  private[graft] def memoizedRead[T <: AnyRef](spark: SparkSession,
      storeRoot: String, tag: String)(load: => T): T =
    readManifest(spark, storeRoot) match {
      case None => load
      case Some(m) =>
        val key = (storeRoot, tag, m)
        serveReadMemo.synchronized(Option(serveReadMemo.get(key))) match {
          case Some(v) => v.asInstanceOf[T]
          case None =>
            val v = load // outside the lock: a load may run Spark jobs
            serveReadMemo.synchronized(serveReadMemo.put(key, v))
            v
        }
    }

  /** [[readCentroids]] through the serve memo — the shared probe-selection
    * read every coarse-quantized serve arm starts with.
    */
  private[graft] def servedCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    memoizedRead(spark, path, "centroids")(readCentroids(spark, path))

  /** The release scope for [[trackedCheckpoint]] pins, per thread — a
    * context-wide getPersistentRDDs diff would also sweep up pins a
    * CONCURRENT reader created inside the window (a graph serve's
    * adaptive round, a facade cache), and unpersisting a foreign
    * localCheckpoint is data loss, not a recompute (the lineage is
    * truncated). Thread-locality matches the single-writer operating model:
    * maintenance owns its thread; readers on other threads are invisible
    * to it. The one hand-off is [[inParallel]], whose task threads work for
    * the caller and join its scope.
    */
  private val pinScope =
    new ThreadLocal[scala.collection.mutable.ArrayBuffer[org.apache.spark.rdd.RDD[_]]]

  /** Release the pinned blocks behind a localCheckpoint'd frame the caller
    * has FULLY consumed. The frame must not be acted on afterwards —
    * localCheckpoint truncated the lineage that could recompute it. For
    * iterative loops that supersede a checkpoint per round (the CC
    * contraction), where a [[releasingPinned]] scope would be wrong: the
    * FINAL round's frame must stay pinned for the caller.
    */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }.foreach(_.unpersist(blocking = false))

  /** `df.localCheckpoint()` that registers the pinned RDD with the current
    * thread's [[releasingPinned]] scope (no-op outside one). Eager — the
    * frame is fully materialized when this returns.
    */
  private[graft] def trackedCheckpoint(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    val scope = pinScope.get()
    if (scope != null)
      cp.queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.foreach(rdd => scope.synchronized(scope += rdd))
    cp
  }

  /** Run `body`; afterwards unpersist every [[trackedCheckpoint]] block it
    * pinned. Build and refresh fully materialize their outputs to parquet
    * before returning, so nothing they pinned is needed afterwards —
    * without this, a long-lived session that builds and refreshes several
    * indexes accumulates corpus-sized blocks in executor storage for its
    * whole lifetime. Contract: only wrap code that fully CONSUMES every
    * result derived from its tracked checkpoints before the scope closes —
    * a lazy frame rooted in a tracked checkpoint and returned to the
    * caller would lose its data (localCheckpoint truncates the lineage
    * that could recompute it). Untracked pins — a concurrent serving
    * call's checkpoint, a facade cache — are never touched.
    */
  /** Scope-aware checkpoint for operators that RETURN lazy frames: inside
    * a [[releasingPinned]] scope the materialization is tracked and
    * released with the scope (the pipeline shape — buildTrainingSet fully
    * consumes before its scope closes); with NO scope active the frame is
    * returned unmaterialized, trading a replayed scan for not pinning a
    * block per invocation that nobody can ever release (the accretion
    * class the r12 ADVICE named for sampleDsir/dedupSemantic). At corpus
    * scale the no-pin branch is also the right default on its own terms:
    * localCheckpoint of a corpus-sized frame fills executor storage.
    */
  private[graft] def scopedCheckpoint(df: DataFrame): DataFrame =
    if (pinScope.get() != null) trackedCheckpoint(df) else df

  private[graft] def releasingPinned[T](spark: SparkSession)(body: => T): T = {
    val outer = pinScope.get()
    val scope = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]
    pinScope.set(scope)
    try body
    finally {
      pinScope.set(outer)
      scope.foreach(_.unpersist(blocking = false))
    }
  }

  /** Incremental index maintenance — the shared diff/dispatch skeleton for
    * the persisted stores (IVF vectors, graph vectors+edges, IVFADC
    * codes+vectors, flat-PQ buckets). The reference's watch loop re-embeds
    * only the changed set and keeps its index live (reference:
    * src/indexer.ts:413-511); the cluster analog is: keep the STORED
    * codebook, diff the new corpus against the stored vectors table on
    * vec_id, and hand the operator only the affected cell ids to rewrite —
    * a trickle of changed files touches a handful of cid partitions instead
    * of retraining and rewriting the whole index.
    *
    *   - `assignNew()` → the new corpus with a `cid` column — the rewrite
    *     unit, assigned against the operator's own STORED codebook
    *     (centroids for the coarse-quantized stores, a pure hash bucket for
    *     the flat-PQ store) plus whatever payload columns the operator
    *     persists — every non-cid column participates in change detection,
    *     so a metadata-only edit still refreshes its cell;
    *   - `rewrite(affectedCids, rows)` → surgical delete+append of exactly
    *     those cid partitions; `rows` is the affected cells' full new
    *     contents (payload columns + cid), already MATERIALIZED
    *     (localCheckpoint) — its lineage roots in the very parquet files
    *     the rewrite deletes, so an unmaterialized frame could recompute
    *     from deleted files mid-write;
    *   - `fullBuild()` → the cold path (no usable store, parameter change,
    *     or drift past `driftBound` — stale codebooks degrade recall, so
    *     bulk change forces a retrain).
    *
    * Cost shape at 100 TB: the corpus-sized diff join is executed exactly
    * TWICE and never cached — one aggregation job computes every dispatch
    * stat AND the affected cell-id sets (bounded collect_set, ≤ cell
    * count), then only the incremental branch re-executes it pruned to the
    * affected cells for the rewrite rows. (A cached full-width diff counted
    * once per stat — the previous shape — spills corpus-sized blocks and
    * re-reads them per action.)
    *
    * The new manifest is stamped LAST, after the rewrite: a crash anywhere
    * mid-refresh leaves the old manifest in place, whose fingerprint no
    * longer matches the mutated corpus — the next ensure/refresh sees the
    * mismatch and cold-rebuilds. Crash safety costs a rebuild, never a
    * wrong answer (single-writer, like every store here).
    *
    * Returns a 1-row stats frame: mode ∈ {fresh, restamp, incremental,
    * full_cold, full_params, full_drift, full_nullcell, full_schema},
    * n_added/n_changed/n_removed (−1 when the diff was skipped),
    * n_cells_rewritten.
    */
  private[graft] def refreshIndex(spark: SparkSession, path: String,
                                  newManifest: String,
                                  assignNew: () => DataFrame,
                                  rewrite: (Seq[Int], DataFrame) => Unit,
                                  fullBuild: () => Unit,
                                  driftBound: Double = 0.3,
                                  derivedCols: Seq[String] = Nil): DataFrame = releasingPinned(spark) {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    def stats(mode: String, a: Long, c: Long, r: Long, cells: Long) =
      Seq((mode, a, c, r, cells))
        .toDF("mode", "n_added", "n_changed", "n_removed", "n_cells_rewritten")
    readManifest(spark, path) match {
      case None =>
        fullBuild(); stats("full_cold", -1, -1, -1, -1)
      case Some(m) if m == newManifest =>
        stats("fresh", 0, 0, 0, 0)
      case Some(m) if paramsOf(m) != paramsOf(newManifest) =>
        fullBuild(); stats("full_params", -1, -1, -1, -1)
      case Some(_) =>
        val neu = assignNew()
        // every persisted column except the derived cell id participates in
        // change detection (embedding AND payload metadata). Row presence is
        // judged by the payload struct, NOT the cid — a null embedding gets
        // a null cid yet is still a real row on either side.
        val payloadNames0 = neu.columns.filterNot(_ == "cid")
        val payload = payloadNames0.map(col)
        val oldVectors = spark.read.parquet(path + "/vectors")
        // a store persisted under a DIFFERENT payload schema cannot be
        // refreshed incrementally — that must COST A REBUILD, never a crash
        // or a mixed-schema table (the contract every caller relies on).
        // Both directions matter: a missing old column would crash the diff
        // select; an extra old column (beyond the operator's declared
        // derived columns, e.g. the graph store's nbrs) means an upgrade
        // REMOVED a payload field, and an incremental rewrite would append
        // narrow files into a wide table.
        val schemaDrift =
          !payloadNames0.forall(oldVectors.columns.contains) ||
            oldVectors.columns
              .diff(payloadNames0 ++ derivedCols :+ "cid").nonEmpty
        if (schemaDrift) {
          fullBuild(); stats("full_schema", -1, -1, -1, -1)
        } else {
          val oldSide = oldVectors
            .select(col("vec_id"), struct(payload.toSeq: _*).as("old_payload"),
              col("cid").cast("int").as("old_cid"))
          val newSide = neu
            .select(col("vec_id"), struct(payload.toSeq: _*).as("new_payload"),
              col("cid").cast("int").as("new_cid"))
          val j = oldSide.join(newSide, Seq("vec_id"), "full_outer")
          val isAdded = col("old_payload").isNull
          val isRemoved = col("new_payload").isNull
          val isChanged = col("old_payload").isNotNull && col("new_payload").isNotNull &&
            !(col("old_payload") <=> col("new_payload"))
          def cnt(c: Column) = coalesce(sum(when(c, 1L)), lit(0L))
          // ONE aggregation job over the (uncached) diff join computes every
          // dispatch stat AND the affected cell-id sets; the collect_sets are
          // bounded by the number of cells (≤ k), never by the corpus.
          val s = j.agg(
            cnt(isAdded).as("n_added"),
            cnt(isChanged).as("n_changed"),
            cnt(isRemoved).as("n_removed"),
            cnt(col("old_payload").isNotNull).as("n_old"),
            // a dirty row without a cell (null embedding → null cid) has no
            // partition to rewrite surgically — degenerate, cold-rebuild
            cnt((isAdded && col("new_cid").isNull) ||
              (isRemoved && col("old_cid").isNull) ||
              (isChanged && (col("old_cid").isNull || col("new_cid").isNull))).as("n_nullcell"),
            collect_set(when(isAdded || isChanged, col("new_cid"))).as("new_cells"),
            collect_set(when(isRemoved || isChanged, col("old_cid"))).as("old_cells")
          ).head()
          val nA = s.getLong(0); val nC = s.getLong(1); val nR = s.getLong(2)
          val nOld = s.getLong(3); val nNullCell = s.getLong(4)
          if (nA + nC + nR == 0) {
            // data identical; only the corpus files moved (e.g. a rewrite of
            // the same rows) — stamp the new fingerprint, touch no data
            writeManifestFile(fileSystem(spark, path), new Path(path), newManifest)
            stats("restamp", 0, 0, 0, 0)
          } else if (nNullCell > 0) {
            fullBuild(); stats("full_nullcell", nA, nC, nR, -1)
          } else if (nA + nC + nR > driftBound * math.max(nOld, 1L)) {
            fullBuild(); stats("full_drift", nA, nC, nR, -1)
          } else {
            val affected = (s.getSeq[Int](5) ++ s.getSeq[Int](6)).distinct.sorted
            // the diff join's SECOND (and last) execution, pruned to the
            // affected cells, materialized eagerly BEFORE any rewrite delete:
            // the lineage roots in the stored parquet files the rewrite is
            // about to delete (the hazard Graft.incrementalUpdate documents);
            // releasingPinned frees the blocks once the rewrite lands.
            val rows = trackedCheckpoint(
              j.filter(col("new_cid").isin(affected: _*))
                .select(payloadNames0.map(n => col(s"new_payload.$n").as(n)) :+
                  col("new_cid").as("cid"): _*))
            rewrite(affected, rows)
            writeManifestFile(fileSystem(spark, path), new Path(path), newManifest)
            stats("incremental", nA, nC, nR, affected.length.toLong)
          }
        }
    }
  }

  /** Restore any partition a crashed compaction left moved-aside: a
    * `.cid=N.backup` whose live partition vanished mid-swap renames back.
    * One metadata listing per subdir — cheap enough that the SERVE entry
    * points call it too, so the crash window between the swap's two
    * renames can never silently drop a cell from a pruned read.
    *
    * Serve-path calls are NON-destructive and race-tolerant (concurrent
    * readers are part of the operating model): stale `.compacting`
    * staging is left alone (it may belong to an in-flight compactor —
    * only maintenance clears it via `destructive = true`), and a lost
    * restore race is fine as long as SOMEONE restored the live partition
    * (throw only if it is still missing afterwards).
    */
  private[graft] def healCompacted(spark: SparkSession, path: String,
                                   subdirs: Seq[String],
                                   destructive: Boolean = false): Unit = {
    val fs = fileSystem(spark, path)
    subdirs.foreach { sub =>
      val root = new Path(s"$path/$sub")
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(".") && name.endsWith(".compacting")) {
          if (destructive) fs.delete(st.getPath, true)
        } else if (name.startsWith(".") && name.endsWith(".backup")) {
          val live = new Path(root, name.stripPrefix(".").stripSuffix(".backup"))
          if (!fs.exists(live)) {
            val renamed = fs.rename(st.getPath, live)
            if (!renamed && !fs.exists(live))
              throw new java.io.IOException(
                s"healCompacted: cannot restore $live from backup")
          } else if (destructive) fs.delete(st.getPath, true)
        } else if (st.isDirectory && name.startsWith("cid=") && destructive) {
          // in-place swap markers (the r13 protocol) — maintenance-only:
          // a serve never needs this heal for completeness (mid-crash
          // states are supersets, never missing rows), and touching an
          // in-flight compactor's markers from a reader would race it
          healSwapMarkers(fs, st.getPath)
        }
      }
    }
  }

  private val SwapMarkerRe = "\\.graftcompact-([0-9a-f]+)\\.(intent|committed)".r

  /** Resolve a crashed in-place swap from its markers. `.committed` rolls
    * FORWARD (the run's new files were all visible when it was written —
    * delete every visible file not of that run); `.intent` without a
    * commit rolls BACK (the old set is still complete — delete the run's
    * temp and visible files). Both markers present means the crash fell
    * between the commit write and the intent delete: forward wins.
    */
  private def healSwapMarkers(fs: org.apache.hadoop.fs.FileSystem,
                              dir: Path): Unit = {
    val entries = fs.listStatus(dir)
    val marks = entries.flatMap(e => e.getPath.getName match {
      case SwapMarkerRe(run, kind) => Some((run, kind, e.getPath))
      case _ => None
    })
    if (marks.isEmpty) return
    val committed = marks.filter(_._2 == "committed").map(_._1).distinct
    // the protocol heals at every compaction entry, so two interrupted
    // runs can never stack; refusing the impossible state beats guessing
    // which of two "complete" sets to keep
    if (committed.length > 1)
      throw new java.io.IOException(
        s"healSwapMarkers: multiple committed swaps in $dir: ${committed.mkString(",")}")
    committed.headOption match {
      case Some(run) =>
        entries.foreach { e =>
          val n = e.getPath.getName
          val keep = n.startsWith(s"graftcompact-$run-")
          val hidden = n.startsWith(".") || n.startsWith("_")
          if (e.isFile && !hidden && !keep) fs.delete(e.getPath, false)
          // a stale dot-temp of the committed run is invisible junk — clear it
          if (n.startsWith(s".graftcompact-$run-")) fs.delete(e.getPath, false)
        }
      case None =>
        marks.filter(_._2 == "intent").map(_._1).distinct.foreach { run =>
          entries.foreach { e =>
            val n = e.getPath.getName
            if (n.startsWith(s".graftcompact-$run-") ||
                n.startsWith(s"graftcompact-$run-"))
              fs.delete(e.getPath, false)
          }
        }
    }
    marks.foreach(m => fs.delete(m._3, false))
  }


  /** Small-file COMPACTION for a store's cid-partitioned tables — the
    * maintenance pass incremental refresh makes necessary at scale: every
    * refresh rewrites its affected cells from a ~32-partition frame, so a
    * small cell can land dozens of KB-sized part files, and a
    * trickle-updated store slowly turns its pruned probe reads into
    * open-file storms (at 100 TB the scan cost is files opened as much as
    * bytes read). For each `cid=*` partition whose file count exceeds what
    * `targetBytes` sizing requires, the partition is rewritten to
    * `ceil(bytes/targetBytes)` files and swapped in via the backup-rename
    * protocol. Data-identical (row content unchanged — spec-asserted
    * against the serve path), manifest untouched (the manifest fingerprints
    * the CORPUS, not the index files).
    *
    * Crash safety AND reader atomicity (r13 — closes the r12 declared
    * window): the swap is IN-PLACE with superset visibility, never a
    * partition-dir rename. Compacted files are staged under a dot-dir,
    * moved into the LIVE partition dir under dot-temp names (invisible to
    * Spark's listing convention), flipped visible one rename at a time,
    * and only then are the old part files deleted. The listing invariant
    * at EVERY instant: the visible file set contains at least one
    * complete copy of the partition's rows — old stays complete until the
    * new set is fully visible, new is complete before the first old
    * delete. A concurrent serve can therefore never MISS a cell's rows;
    * mid-swap it may transiently see some rows twice (at-least-once), the
    * strictly weaker failure mode. Run compaction from the maintenance
    * process that owns refreshes; a deployment needing exactly-once reads
    * under concurrent compaction still wants a table format with an
    * atomic-commit log (Iceberg/Delta).
    *
    * Crash heal is decided by two dot markers in the partition dir:
    * `.graftcompact-<run>.intent` (created before any live-dir mutation,
    * removed after the commit point) rolls BACK — the old set is still
    * complete, so the run's temp and visible files are deleted;
    * `.graftcompact-<run>.committed` (created once every new file is
    * visible) rolls FORWARD — the new set is complete, so every visible
    * file not of that run is deleted. Both present (crash between the two
    * marker writes) means the new set was fully visible: forward wins.
    * Partition discovery ignores dot-paths throughout, so no crash state
    * malforms the store's reads.
    * Returns one row per subdir: units compacted, files before/after.
    */
  private[graft] def compactIndex(spark: SparkSession, path: String,
                                  subdirs: Seq[String],
                                  targetBytes: Long = 128L << 20): DataFrame = {
    import spark.implicits._
    val fs = fileSystem(spark, path)
    val results = subdirs.map { sub =>
      val root = new Path(s"$path/$sub")
      var units = 0L; var before = 0L; var after = 0L
      if (fs.exists(root)) {
        healCompacted(spark, path, Seq(sub), destructive = true)
        val parts = fs.listStatus(root)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("cid="))
        parts.foreach { st =>
          val files = fs.listStatus(st.getPath).filter(f => f.isFile && {
            val n = f.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          })
          val bytes = files.map(_.getLen).sum
          val want = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
          before += files.length
          if (files.length > want) {
            units += 1
            val name = st.getPath.getName
            val staging = new Path(root, s".$name.compacting")
            if (fs.exists(staging)) fs.delete(staging, true)
            // partition-dir read: schema is the payload WITHOUT cid, which
            // is exactly what partitioned part files store — written back
            // as-is, the layout is indistinguishable from a fresh build
            spark.read.parquet(st.getPath.toString)
              .coalesce(want).write.parquet(staging.toString)
            val run = java.util.UUID.randomUUID().toString.take(8)
            val intent = new Path(st.getPath, s".graftcompact-$run.intent")
            val committed = new Path(st.getPath, s".graftcompact-$run.committed")
            fs.create(intent, true).close()
            // 1. staged files into the LIVE dir under dot-temp names —
            //    invisible to listings; readers still see the complete old set
            val staged = fs.listStatus(staging).filter(f => f.isFile && {
              val n = f.getPath.getName
              !n.startsWith("_") && !n.startsWith(".")
            })
            val flips = staged.zipWithIndex.map { case (f, i) =>
              val tmp = new Path(st.getPath, s".graftcompact-$run-$i.tmp")
              if (!fs.rename(f.getPath, tmp))
                throw new java.io.IOException(s"compactIndex: cannot stage into $name")
              (tmp, new Path(st.getPath, s"graftcompact-$run-$i.parquet"))
            }
            // 2. flip visible one at a time — readers see the complete old
            //    set plus a growing subset of the new (never missing rows)
            flips.foreach { case (tmp, vis) =>
              if (!fs.rename(tmp, vis))
                throw new java.io.IOException(s"compactIndex: flip failed in $name")
            }
            // 2.5 commit point: from here heal rolls FORWARD
            fs.create(committed, true).close()
            fs.delete(intent, false)
            // 3. retire the old files — readers see the complete new set
            //    plus a shrinking subset of the old
            files.foreach(f => fs.delete(f.getPath, false))
            fs.delete(committed, false)
            fs.delete(staging, true)
            after += want
          } else after += files.length
        }
      }
      (sub, units, before, after)
    }
    results.toDF("subdir", "n_units_compacted", "n_files_before", "n_files_after")
  }

  /** Run independent store-table writes concurrently (guide §2.6 "overlap
    * independent jobs": actions are only sequential because the driver
    * calls them sequentially — a build's tail of small sidecar writes
    * otherwise serializes one driver round each behind the big table
    * writes). Callers pass tasks with NO data dependencies between them,
    * writing to DISTINCT staging subdirectories; content is byte-identical
    * to the sequential order. Each task runs in the caller's
    * [[releasingPinned]] scope, so a checkpoint a task tracks is released
    * when the caller's scope closes, as if the caller had taken it. First
    * failure rethrows after every thread finishes, so a crashed build never
    * leaves a half-written task running behind the raised error; the other
    * tasks' failures ride along as its suppressed exceptions.
    */
  private[graft] def inParallel(tasks: Seq[() => Unit]): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val scope = pinScope.get()
    val threads = tasks.map(t => new Thread(() => {
      pinScope.set(scope)
      try t() catch { case e: Throwable => errs.add(e) }
    }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!errs.isEmpty) {
      val first = errs.poll()
      errs.forEach(e => first.addSuppressed(e))
      throw first
    }
  }

  /** The k-row centroid matrix as a tiny one-file frame — the shared layout
    * for every coarse-quantized index's query-side probe selection.
    */
  def writeCentroids(spark: SparkSession, dir: String,
                     centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid").coalesce(1)
      .write.parquet(dir + "/centroids")
  }

  def readCentroids(spark: SparkSession, path: String): Array[Array[Double]] =
    spark.read.parquet(path + "/centroids").orderBy("cid").collect()
      .map(_.getSeq[Double](1).toArray)

  /** Per-cell geometry sidecar (r18, graph/hnsw layout 3): one row per
    * NON-EMPTY cell, `(cid, n_rows, min_cos)` where `min_cos` is the
    * minimum cosine between a member and its own centroid. acos(min_cos)
    * is the cell's max angular radius δ — the triangle inequality on the
    * sphere then upper-bounds every member's similarity to a query q by
    * cos(max(0, θ(q, centroid) − δ)), which is what lets a serve CERTIFY
    * a top-k result exact by exhausting only the cells whose bound clears
    * the kth score (AnnHnsw.annHnswServedCertified). k rows, one file —
    * the centroid matrix's bounded-driver-state convention.
    */
  def writeCellStats(spark: SparkSession, dir: String, stats: DataFrame): Unit =
    stats.select(col("cid").cast("int"), col("n_rows").cast("long"),
      col("min_cos").cast("double"))
      .coalesce(1).write.mode("overwrite").parquet(dir + "/cellstats")

  /** (cid, n_rows, min_cos) rows, or None when the store predates the
    * sidecar (layout < 3 — the ensure gate rebuilds those).
    */
  def readCellStats(spark: SparkSession, path: String)
      : Option[Array[(Int, Long, Double)]] = {
    val p = new Path(path + "/cellstats")
    if (!fileSystem(spark, path).exists(p)) None
    else Some(spark.read.parquet(p.toString).orderBy("cid").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))))
  }

  /** Dir-keyed default location for a persisted index — the bench/driver
    * entries serve from here; freshness rides the manifest, not the path.
    */
  def defaultPath(prefix: String, sfDir: String): String =
    s"/tmp/graft_${prefix}_index_v1_" +
      java.security.MessageDigest.getInstance("MD5")
        .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
