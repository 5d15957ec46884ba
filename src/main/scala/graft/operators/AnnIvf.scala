package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** IVF (inverted-file) approximate nearest neighbor — the coarse-quantizer
  * scale path (SURVEY §2 C, alongside the LSH variant). This is the "ANN
  * acceleration (HNSW / IVF)" the reference defers to future work
  * (reference: README.md:32, src/index.ts:265 "could evolve to an ANN
  * structure").
  *
  * Train: k-means over the embedding column (deterministic: init = the first
  * k vectors, fixed iteration count). Only the k×dim centroid matrix ever
  * crosses to the driver — per iteration it's a k-row aggregate, which is
  * the textbook bounded-driver-state exception to the no-collect rule.
  *
  * Serve: a query probes its `nprobe` nearest centroids and exact-reranks
  * only the vectors assigned to those cells. At 100 TB the assignment is the
  * partition key: each cell is a contiguous parquet range, so a probe reads
  * `nprobe/k` of the corpus instead of all of it. Which cells a query reads
  * is decided in ONE place, [[probeIds]], on the driver against the k-row
  * centroid matrix — every cell-routed family (IVF, IVF-PQ, graph, HNSW,
  * the late store, the hybrid serve) routes through it, with the tie order
  * of the in-plan assignment ([[VecExprs.centroidAssignEval]]), so a probe
  * never prefers a cell the assignment left empty.
  *
  * No DuckDB oracle (k-means is not sanely SQL-replicable) — the driver
  * records the rows-only check; the spec bounds recall against brute force.
  */
object AnnIvf {

  /** Nearest centroid id for an embedding, by maximum cosine. The codebook
    * rides as a plan reference object (VecExprs.CentroidAssign), not a tree
    * of array literals — centroids change every Lloyd iteration, and a
    * literal tree forces a full Janino recompile per iteration.
    */
  private def nearestCentroid(emb: Column, centroids: Array[Array[Double]]): Column =
    VecExprs.centroidAssign(emb.cast("array<double>"), centroids, useCosine = true)

  /** Lloyd's iterations over the embeddings table; returns the centroid
    * matrix. Deterministic: seeded from the first k vectors by vec_id.
    */
  def train(spark: SparkSession, sfDir: String, k: Int = 16, iters: Int = 3): Array[Array[Double]] = {
    trainOver(Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), k, iters)
  }

  /** The same deterministic k-means over any `(vec_id, emb: array<double>)`
    * frame — the derived-index path trains over chunk embeddings whose ids
    * are hashes, so the seed rule is "first k by vec_id order" (a
    * TakeOrdered, not a full sort; identical to `vec_id < k` on the dense
    * corpus ids).
    */
  def trainOver(e0: DataFrame, k: Int, iters: Int = 3): Array[Array[Double]] = {
    val e = e0.cache()
    var centroids: Array[Array[Double]] = e.orderBy("vec_id").limit(k).collect()
      .map(_.getSeq[Double](1).toArray)
    // degenerate/empty corpus: no seeds → no centroids (and VecMeanFixed
    // requires a positive dim, so don't enter the loop)
    if (centroids.isEmpty) { e.unpersist(); return centroids }
    val dim = centroids.head.length
    for (_ <- 0 until iters) {
      // centroid update via the fixed-dim VecMean aggregate: (dim doubles +
      // dim counts) of PRIMITIVE buffer slots per cell — HashAggregateExec
      // inside whole-stage codegen, no posexplode row multiplication and no
      // per-group object ser/des (see plans.VecMeanFixed)
      val updated = e.withColumn("cid", nearestCentroid(col("emb"), centroids))
        .groupBy("cid").agg(graft.plans.VecAgg.vecMeanFixed(col("emb"), dim).as("m"))
        .collect()
      // a null embedding yields a null cid/mean group — never a centroid
      val byCell = updated.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
        .map(r => r.getAs[Int]("cid") -> r.getSeq[Double](1)).toMap
      centroids = centroids.indices.map { i =>
        byCell.get(i).map(_.toArray).getOrElse(centroids(i)) // empty cell keeps its centroid
      }.toArray
    }
    e.unpersist()
    centroids
  }

  /** Materialize the IVF index as parquet PARTITIONED BY the cell id — the
    * physical layout that makes probing cheap at 100 TB: each cell is its
    * own directory, so a probe of `nprobe` cells is a partition-pruned scan
    * reading nprobe/k of the corpus (AnnIvfSpec asserts the PartitionFilters
    * in the plan). Layout: `<path>/vectors` (partitioned by cid) +
    * `<path>/centroids` (the k-row probe-selection matrix) + the AnnStore
    * manifest. Writes are staged-swapped and manifest-stamped like every
    * other persisted store (reference: src/persistence.ts's
    * metadata-match-or-cold-rebuild). Returns the centroids for query-side
    * probe selection.
    */
  def writePartitionedIndex(spark: SparkSession, sfDir: String, path: String,
                            k: Int = 16): Array[Array[Double]] =
    writePartitionedIndexWith(spark, sfDir, path, k, ivfManifest(spark, sfDir, k))

  /** The staged write with the manifest string supplied by the caller — the
    * gate computes the corpus fingerprint ONCE and threads it through here,
    * so the stamped manifest always describes the corpus state the gate
    * checked (single-writer assumption; a corpus mutated between gate and
    * stamp changes its fingerprint, so the NEXT ensure sees a mismatch).
    */
  private def writePartitionedIndexWith(spark: SparkSession, sfDir: String,
                                        path: String, k: Int,
                                        manifestStr: String): Array[Array[Double]] = {
    writeIndexOver(spark, Tables.embeddings(spark, sfDir), path, k, manifestStr)
  }

  /** Build+persist the IVF layout over an arbitrary `(vec_id, embedding,
    * payload...)` corpus frame — every column rides into the partitioned
    * vectors table, so a derived index (e.g. the facade's chunk index) can
    * serve result metadata straight from the pruned probe read.
    */
  private[graft] def writeIndexOver(spark: SparkSession, e: DataFrame, path: String,
                                    k: Int, manifestStr: String): Array[Array[Double]] = {
    val centroids = trainOver(
      e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), k)
    writeIndexOverWithCentroids(spark, e, path, centroids, manifestStr)
  }

  /** The same staged write with a caller-pinned codebook (no training) —
    * what a full rewrite during incremental maintenance uses, and the
    * primitive the refresh invariant is stated against: an incrementally
    * refreshed index must equal this, given the stored centroids.
    */
  private[graft] def writeIndexOverWithCentroids(spark: SparkSession, e: DataFrame,
                                                 path: String,
                                                 centroids: Array[Array[Double]],
                                                 manifestStr: String): Array[Array[Double]] = {
    AnnStore.writeStaged(spark, path, manifestStr) { staging =>
      e.withColumn("cid", nearestCentroid(col("embedding"), centroids))
        .write.partitionBy("cid").parquet(staging + "/vectors")
      AnnStore.writeCentroids(spark, staging, centroids)
    }
    centroids
  }

  /** Incremental maintenance of a persisted IVF index (reference:
    * src/indexer.ts:413-511 — re-embed only the changed set, keep the index
    * live): keep the STORED centroids, reassign only the diff against the
    * stored vectors table, and delete+append exactly the affected cid
    * partitions. Falls back to a full retrain+rewrite when there is no
    * usable store, the build parameters changed, or the diff exceeds
    * `driftBound` (stale centroids degrade recall under bulk change). The
    * new manifest (whose fingerprint the caller computed from the corpus
    * ONCE) is stamped last — a crash mid-refresh leaves a stale manifest and
    * costs a rebuild, never a wrong answer.
    */
  private[graft] def refreshIndexOver(spark: SparkSession, path: String,
                                      newE: DataFrame, newManifest: String,
                                      driftBound: Double = 0.3): DataFrame = {
    val k = AnnStore.manifestInt(newManifest, "k").getOrElse(16)
    AnnStore.refreshIndex(spark, path, newManifest,
      // assignment pinned to the STORED codebook, read from the index itself
      assignNew = () => newE.withColumn("cid",
        nearestCentroid(col("embedding"), AnnStore.readCentroids(spark, path))),
      rewrite = (affected, rows) => {
        // rows arrive materialized (the dispatch localCheckpoints them), so
        // deleting the partitions they were diffed from cannot sever lineage
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach(c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true))
        rows.write.mode("append").partitionBy("cid").parquet(path + "/vectors")
      },
      fullBuild = () => { writeIndexOver(spark, newE, path, k, newManifest); () },
      driftBound = driftBound)
  }

  private def ivfManifest(spark: SparkSession, sfDir: String, k: Int): String =
    AnnStore.manifest("ivf", Seq("k" -> k), AnnStore.corpusFingerprint(spark, sfDir))

  /** Freshness-gated build-once for the persisted IVF layout — rebuild iff
    * the manifest (params + corpus fingerprint) does not match. The
    * fingerprint is computed once here and reused for the stamp.
    */
  def ensureIvfIndex(spark: SparkSession, sfDir: String, path: String,
                     k: Int = 16): Unit = {
    val m = ivfManifest(spark, sfDir, k)
    AnnStore.ensureIndex(spark, path, m) {
      writePartitionedIndexWith(spark, sfDir, path, k, m): Unit
    }
  }

  /** The refresh twin of [[ensureIvfIndex]]: bring the persisted index up to
    * date with the embeddings table INCREMENTALLY (affected cells only)
    * where ensure would cold-rebuild. Returns the refresh stats frame.
    */
  def refreshIvfIndex(spark: SparkSession, sfDir: String, path: String,
                      k: Int = 16, driftBound: Double = 0.3): DataFrame =
    refreshIndexOver(spark, path, Tables.embeddings(spark, sfDir),
      ivfManifest(spark, sfDir, k), driftBound)

  /** Compact the IVF store's vectors table ([[AnnStore.compactIndex]]) —
    * run after a stretch of incremental refreshes to keep the pruned probe
    * read at O(bytes), not O(small files).
    */
  def compactIvfIndex(spark: SparkSession, path: String,
                      targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("vectors"), targetBytes)

  /** Partition-pruned read of the cells a probe list selects (pure — the
    * serve entries heal crashed-compaction leftovers before any read). The
    * vectors table's schema comes through the serve memo
    * ([[AnnStore.memoizedRead]], keyed on the live manifest), so parquet
    * schema inference — a Spark job — runs once per store state, not once
    * per read; a rebuild or refresh rewrites the manifest and rotates the
    * key. A store with no manifest infers on every read.
    */
  def probeCells(spark: SparkSession, path: String, cids: Seq[Int]): DataFrame = {
    val vectors = path + "/vectors"
    val schema = AnnStore.memoizedRead(spark, path, "vectors_schema")(
      spark.read.parquet(vectors).schema)
    spark.read.schema(schema).parquet(vectors).filter(col("cid").isin(cids: _*))
  }

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("ivf", sfDir)

  /** Serving-path C3: probe search over a [[writePartitionedIndex]]-persisted
    * layout, row-identical to the in-query [[annIvf]] (spec-asserted) with
    * the k-means training amortized into the index build. Probe selection
    * is [[probeIds]] on the driver, so the vector read is a
    * PARTITION-PRUNED scan of nprobe/k of the corpus — the whole point of
    * the layout at 100 TB — followed by one broadcast join of the tiny
    * query frame against only the probed cells.
    */
  def annIvfServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                   topK: Int = 5, nprobe: Int = 2): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val vectors = spark.read.parquet(indexPath + "/vectors")
    annIvfServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      topK, nprobe, excludeSelf = true)
  }

  /** Driver-entry twin of [[annIvfServed]] with the FILTERED-search arm
    * engaged: same first-nQueries query frame, candidates restricted to
    * `label % 4 == 1` (the `rag_topk_filtered` oracle query's predicate,
    * so the spec's recall bound measures the served path against an
    * oracle-gated brute-force anchor).
    */
  def annIvfServedFiltered(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                           topK: Int = 5, nprobe: Int = 2): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val vectors = spark.read.parquet(indexPath + "/vectors")
    annIvfServedOver(spark, indexPath,
      vectors.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv")),
      topK, nprobe, excludeSelf = true, filter = Some(col("label") % 4 === 1))
  }

  /** The production serving shape: probe search for an arbitrary bounded
    * query frame `queries` = (query_id: long, qv: numeric array) — external
    * query vectors, not corpus rows (reference: src/index.ts:265 — queries
    * arrive from outside the index). `excludeSelf` drops candidates whose
    * vec_id equals the query_id — only meaningful when queries ARE corpus
    * vectors (the driver-entry benchmark contract); external callers leave
    * it false, since an id collision between a query and an unrelated
    * corpus vector must not suppress a result.
    *
    * The query frame collects to the driver (bounded: nQueries rows; a
    * literal frame, the facade's shape, starts no job), [[probeIds]] picks
    * each query's cells against the memoized centroids, and the
    * `(query_id, probe_cid, qv)` probe frame rides back as a literal.
    *
    * `filter` is FILTERED ANN search — a metadata predicate over the
    * vectors table's payload columns (label, source, …), applied to the
    * pruned probe read BEFORE scoring. Source-translatable predicates
    * (equality, ranges, IN) reach the parquet scan as PushedFilters
    * (spec-asserted, alongside the cid PartitionFilters); arbitrary
    * expressions evaluate scan-side right after, still never widening
    * the candidate pool.
    * Because cell assignment never depends on the predicate, this is
    * row-identical to serving an index built from the pre-filtered corpus
    * with the same pinned centroids (the filter-then-search ≡
    * search-inside-filter equivalence, spec-proven) — the shape a 100 TB
    * store needs: one index serves every predicate, paying only the
    * probed-cell scan, instead of one index per filterable slice.
    */
  def annIvfServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                       topK: Int = 5, nprobe: Int = 2,
                       excludeSelf: Boolean = false,
                       filter: Option[Column] = None): DataFrame = {
    // heal BEFORE anything executes: the query collect below may itself
    // scan the vectors table (corpus-vector queries)
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    servedRanked(spark, indexPath, collectQueries(queries), topK, nprobe,
      excludeSelf, filter, Nil).orderBy("query_id", "rank")
  }

  /** [[annIvfServedOver]]'s pruned read, scored and ranked, for a query
    * batch already on the driver — unsorted, with the `carry` columns
    * ([[rankedOf]]) riding each hit. Callers heal the store first.
    */
  private def servedRanked(spark: SparkSession, indexPath: String,
                           qs: Seq[(Long, Array[Double])], topK: Int, nprobe: Int,
                           excludeSelf: Boolean, filter: Option[Column],
                           carry: Seq[Column]): DataFrame = {
    val (q, cids) = probeFrame(spark, qs, AnnStore.servedCentroids(spark, indexPath), nprobe)
    val pruned = probeCells(spark, indexPath, cids)
    rankedOf(filter.map(pruned.filter).getOrElse(pruned)
      .join(broadcast(q), col("cid") === col("probe_cid")), topK, excludeSelf, carry)
  }

  /** FILTERED serving with ADAPTIVE probe widening — a selective predicate
    * can empty the probed cells' candidate pool and under-fill topK even
    * though matching vectors exist in unprobed cells (the classic filtered
    * -ANN failure). This wrapper re-serves only the under-filled queries
    * with a doubled nprobe until every query fills or the probes cover all
    * k cells (at which point the result IS the exact filtered answer).
    * Driver-side state stays bounded: each round's hits (≤ nQueries × topK
    * rows, collected once) and the shrinking pending-query list; filled
    * queries never re-serve.
    */
  def annIvfServedOverAdaptive(spark: SparkSession, indexPath: String, queries: DataFrame,
                               topK: Int = 5, nprobe: Int = 2,
                               excludeSelf: Boolean = false,
                               filter: Option[Column] = None): DataFrame = {
    import scala.jdk.CollectionConverters._
    val qs = collectQueries(queries)
    if (qs.isEmpty) // empty batch: one plain serve carries the schema
      annIvfServedOver(spark, indexPath, queries, topK, nprobe, excludeSelf, filter)
    else {
      val (hits, schema) = servedHits(spark, indexPath, qs, topK, nprobe, excludeSelf, filter,
        adaptive = true)
      spark.createDataFrame(hits.toSeq.asJava, schema).orderBy("query_id", "rank")
    }
  }

  /** The served top-`topK` hits of a query batch already on the driver,
    * collected ONCE per probe round (≤ nQueries × topK rows), unsorted, with
    * their schema: [[annIvfServedOver]]'s `(query_id, rank, vec_id, cid,
    * score)` followed by the `carry` columns ([[rankedOf]]) — the facade
    * carries its chunk metadata here, so its answer is one pruned read.
    * `adaptive` re-serves under-filled queries wider
    * ([[annIvfServedOverAdaptive]]); otherwise one round at `nprobe`.
    */
  private[graft] def servedHits(spark: SparkSession, indexPath: String,
                                qs: Seq[(Long, Array[Double])], topK: Int, nprobe: Int,
                                excludeSelf: Boolean = false,
                                filter: Option[Column] = None,
                                adaptive: Boolean = false,
                                carry: Seq[Column] = Nil): (Array[Row], StructType) = {
    AnnStore.healCompacted(spark, indexPath, Seq("vectors"))
    val kCells = AnnStore.servedCentroids(spark, indexPath).length
    @annotation.tailrec
    def widen(pending: Seq[(Long, Array[Double])], np: Int,
              done: Seq[Row]): (Array[Row], StructType) = {
      val served = servedRanked(spark, indexPath, pending, topK, np, excludeSelf, filter, carry)
      val out = served.collect()
      val counts = out.groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.length }
      val unfilled = if (!adaptive) Set.empty[Long]
        else pending.map(_._1).filter(id => counts.getOrElse(id, 0) < topK).toSet
      if (unfilled.isEmpty || np >= kCells) // all-cells probing is exhaustive
        ((done ++ out).toArray, served.schema)
      else widen(pending.filter(q => unfilled(q._1)), math.min(np * 2, kCells),
        done ++ out.filterNot(r => unfilled(r.getLong(0))))
    }
    // probeIds clamps nprobe to [1, k] the same way, so the first round's
    // cells are the plain serve's
    widen(qs, math.min(math.max(1, nprobe), kCells), Nil)
  }

  /** The probe rule — the ONE routing decision of every cell-routed serve:
    * the `nprobe` cells (clamped to [1, k]) whose centroids score highest
    * by cosine against `qv`, ties to the LOWER cell id — the order
    * [[VecExprs.centroidAssignEval]] stores a vector by (strict `>`), so
    * `probeIds(v, cents, 1).head` is the cell v was assigned to. Driver-
    * side: the cost is bounded by the k-row centroid matrix, never the
    * corpus. Cosine numerics are [[RagSearch.cosineOf]] (= CosineSim's).
    */
  def probeIds(qv: Array[Double], centroids: Array[Array[Double]], nprobe: Int): Seq[Int] =
    centroids.indices.map(i => (RagSearch.cosineOf(qv, centroids(i)), i))
      .sortBy { case (s, i) => (-s, i) }
      .take(math.max(1, math.min(nprobe, centroids.length)))
      .map(_._2)

  /** A bounded `(query_id, qv)` frame on the driver, qv widened to double
    * (exact, so every downstream score is unchanged). Queries without a
    * vector have no cells to probe and drop out.
    */
  private[graft] def collectQueries(queries: DataFrame): Seq[(Long, Array[Double])] =
    queries.select(col("query_id").cast("long"), col("qv").cast("array<double>"))
      .collect().toSeq.filterNot(_.isNullAt(1))
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  /** The literal `(query_id, probe_cid, qv)` probe frame — one row per
    * (query, probed cell) by [[probeIds]] — and the sorted distinct probed
    * cell ids the pruned read takes.
    */
  private[graft] def probeFrame(spark: SparkSession, qs: Seq[(Long, Array[Double])],
                                centroids: Array[Array[Double]],
                                nprobe: Int): (DataFrame, Seq[Int]) = {
    import spark.implicits._
    val rows = for ((qid, qv) <- qs; cid <- probeIds(qv, centroids, nprobe))
      yield (qid, cid, qv.toSeq)
    (rows.toDF("query_id", "probe_cid", "qv"), rows.map(_._2).distinct.sorted)
  }

  /** Exact cosine rerank of probe candidates, top-`topK` per query by
    * (score desc, vec_id asc) — the served and in-query searches' shared
    * ranking rule. Rows are `(query_id, rank, vec_id, cid, score)` followed
    * by the `carry` columns, candidate columns that ride each kept hit (the
    * facade's chunk metadata, so presenting a hit needs no second read).
    * Unsorted: callers order or collect as they need.
    */
  private def rankedOf(cands: DataFrame, topK: Int, excludeSelf: Boolean,
                       carry: Seq[Column]): DataFrame = {
    val scored = (if (excludeSelf) cands.filter(col("vec_id") =!= col("query_id")) else cands)
      .select(Seq(col("query_id"), col("vec_id"), col("cid"),
        round(VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("score")) ++ carry: _*)
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select((Seq("query_id", "rank", "vec_id", "cid", "score") ++ scored.columns.drop(4))
        .map(col): _*)
  }

  /** C3: IVF probe search for the first `nQueries` vectors: rank the
    * candidates in each query's `nprobe` nearest cells ([[probeIds]]) by
    * exact cosine.
    */
  def annIvf(spark: SparkSession, sfDir: String, nQueries: Int = 10, topK: Int = 5,
             k: Int = 16, nprobe: Int = 2): DataFrame = {
    val centroids = train(spark, sfDir, k)
    val e = Tables.embeddings(spark, sfDir)
      .withColumn("cid", nearestCentroid(col("embedding"), centroids))
    val (q, _) = probeFrame(spark, collectQueries(e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))), centroids, nprobe)
    rankedOf(e.join(broadcast(q), col("cid") === col("probe_cid")), topK,
      excludeSelf = true, Nil).orderBy("query_id", "rank")
  }
}
