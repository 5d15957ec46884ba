package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C6: graph-based ANN — the HNSW-style structure the reference names as a
  * planned extension (reference: README.md:32, src/index.ts:265 mention
  * HNSW). Re-expressed for a cluster rather than transliterated: a single
  * navigable graph with greedy descent is a pointer-chasing, shared-memory
  * design; the Spark-native shape is a PARTITION-LOCAL graph per IVF cell
  * plus an iterative frontier expansion that is just joins.
  *
  *   - Index build: assign vectors to IVF cells (coarse quantizer reused
  *     from C3), then build a k-NN graph WITHIN each cell — the in-cell
  *     pair join is keyed by `cid`, so the work is embarrassingly parallel
  *     across cells and bounded per cell by the cell capacity (capacity is
  *     held ~constant at scale by growing k with the corpus, the same
  *     argument that sizes IVF itself; an NN-Descent refinement would
  *     replace the in-cell pair join if cells were ever allowed to grow).
  *   - Search: probe the query's nearest cells (same probe rule as C3),
  *     seed the frontier with deterministic entry points per probed cell,
  *     then `hops` rounds of: expand frontier along graph edges → score
  *     neighbors against the query → keep the best `beam` per query.
  *     Each round is a join + window, localCheckpoint keeps plans flat.
  *
  * Rows-only like C3/C5 (k-means + iterative search are not
  * SQL-replicable); recall is spec-bounded against the C1 brute-force
  * baseline in AnnIvfSpec.
  */
object AnnGraph {

  /** Cell assignment shared by the graph build and the search. The base
    * store projects to (vec_id, embedding) — the graph serves ids+scores
    * only, so extra corpus columns (e.g. the embeddings table's label)
    * would only widen the store and make metadata-only edits rewrite cells.
    * Derived indexes that DO serve metadata (the facade's chunk-graph)
    * pass their own pre-projected payload frame to the Over builders.
    */
  /** Every embeddings-table column rides into the store (the IVF layout's
    * convention, r17): metadata predicates (the FILTERED serving arms) and
    * pruned metadata reads need the payload IN the partitioned vectors
    * table — a store without it can only filter on vec_id.
    */
  private def baseCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)

  private def assign(spark: SparkSession, sfDir: String,
                     centroids: Array[Array[Double]]): DataFrame = {
    assignOver(baseCorpus(spark, sfDir), centroids)
  }

  /** The same assignment over an arbitrary (vec_id, embedding, payload...)
    * frame — EVERY column rides into the persisted vectors table (like the
    * IVF store), so a derived index (e.g. the facade's chunk-graph index)
    * can serve result metadata straight from the pruned cell read.
    */
  private def assignOver(e: DataFrame, centroids: Array[Array[Double]]): DataFrame =
    e.withColumn("cid",
      VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
        useCosine = true))

  /** Per-cell k-NN edges: for every vector, its `degree` nearest in-cell
    * neighbors by cosine. Returns (cid, src, dst, sim). Scores are rounded
    * the same way as C1's (plain 4dp — every ANN operator must emit the
    * identical score for the same pair, and the recall spec compares via
    * exact except()).
    */
  def buildGraph(spark: SparkSession, sfDir: String,
                 centroids: Array[Array[Double]], degree: Int = 8): DataFrame =
    buildGraphOver(assign(spark, sfDir, centroids), degree)

  private[graft] def buildGraphOver(assigned: DataFrame, degree: Int): DataFrame = {
    // Per-cell in-MEMORY kNN (r16): the former shape — an in-cell pair
    // equi-join through a row_number window — materializes n·capacity pair
    // rows into shuffle+sort files (O(n·capacity) DISK, ~90 GB at
    // 1M×512/cell: the ScaleReceipt disk-full incident, twice). The kNN of
    // a cell depends on nothing outside the cell and a cell fits executor
    // memory by the build's own capacity rule (512 rows × 64 floats ≈
    // 0.14 MB; even the 16k worst case is ~4 MB), so the pairs are a
    // COMPUTE loop inside one flatMapGroups — capacity² multiplies, but
    // only capacity·degree rows ever exist. Disk drops from O(n·capacity)
    // to O(n·degree); parallelism is by cell, as before.
    //
    // Value-identical to the old plan by construction: the same cosine
    // arithmetic as VecExprs.CosineSim.nullSafeEval (double accumulation
    // over per-element reads, float elements widened per element,
    // dot/(√na·√nb + 1e-10)), the same Round(HALF_UP, 4) Spark applies to
    // doubles (BigDecimal.setScale), the same (sim desc, dst asc) top-
    // degree selection — order-independent, so group iteration order
    // cannot leak into the result.
    val spark = assigned.sparkSession
    val floatElems = assigned.schema("embedding").dataType
      .asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("cid",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("dst",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("sim",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    implicit val rowEnc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    implicit val keyEnc = org.apache.spark.sql.Encoders.scalaInt
    val deg = degree
    assigned.select(col("cid"), col("vec_id"), col("embedding"))
      .groupByKey((r: org.apache.spark.sql.Row) => r.getInt(0))
      .flatMapGroups { (cid: Int, it: Iterator[org.apache.spark.sql.Row]) =>
        val rows = it.map { r =>
          val emb: Array[Double] =
            if (floatElems) r.getSeq[Float](2).iterator.map(_.toDouble).toArray
            else r.getSeq[Double](2).toArray
          (r.getLong(1), emb)
        }.toArray
        val n = rows.length
        // per-row norms hoisted once per cell (the fused loop recomputed
        // both on every pair — capacity× redundant work)
        val norms = rows.map { case (_, e) =>
          var s = 0.0; var i = 0
          while (i < e.length) { s += e(i) * e(i); i += 1 }
          math.sqrt(s)
        }
        // rounding via the shared guarded round4 (AnnGraph.round4): the
        // replica-heavy corpora that matter at scale tie EVERY pair at the
        // buffer's worst, so the contender gate stops filtering and the
        // round runs per pair — the fast path makes that affordable
        rows.iterator.zipWithIndex.flatMap { case ((src, a), ai) =>
          // top-degree by (ROUNDED sim desc, dst asc) in a primitive
          // insertion buffer — deterministic for any input order. The
          // expensive exact round runs only for CONTENDERS: half-up
          // rounding is monotone, so raw < worst − 0.5e-4 (with float
          // slack) can neither exceed the worst rounded sim nor tie it.
          val bSim = new Array[Double](deg)
          val bDst = new Array[Long](deg)
          var size = 0
          var j = 0
          while (j < n) {
            val (dst, b) = rows(j)
            if (dst != src) {
              var dot = 0.0
              var i = 0
              val m = math.min(a.length, b.length)
              while (i < m) { dot += a(i) * b(i); i += 1 }
              val raw = dot / (norms(ai) * norms(j) + 1e-10)
              if (size < deg || raw >= bSim(size - 1) - 0.0000501) {
                val sim = round4(raw)
                // does (sim, dst) beat the current worst?
                if (size < deg || sim > bSim(size - 1) ||
                  (sim == bSim(size - 1) && dst < bDst(size - 1))) {
                  var p = if (size < deg) size else size - 1
                  while (p > 0 && (sim > bSim(p - 1) ||
                    (sim == bSim(p - 1) && dst < bDst(p - 1)))) {
                    bSim(p) = bSim(p - 1); bDst(p) = bDst(p - 1); p -= 1
                  }
                  bSim(p) = sim; bDst(p) = dst
                  if (size < deg) size += 1
                }
              }
            }
            j += 1
          }
          (0 until size).iterator.map(p =>
            org.apache.spark.sql.Row(cid, src, bDst(p), bSim(p)))
        }
      }.toDF("cid", "src", "dst", "sim")
  }

  /** C6 search: beam descent over the per-cell graphs (index built in-query;
    * [[annGraphServed]] is the production shape with the build amortized).
    */
  def annGraph(spark: SparkSession, sfDir: String, nQueries: Int = 10, topK: Int = 5,
               k: Int = 16, nprobe: Int = 2, degree: Int = 8, beam: Int = 32,
               hops: Int = 2, entriesPerCell: Int = 3): DataFrame = {
    val centroids = AnnIvf.train(spark, sfDir, k)
    // one assignment pass serves the graph build, the query collect, and
    // the descent's cell read (buildGraphOver + vectorsWithNbrs each
    // execute it — un-checkpointed, every consumer would re-scan+re-assign)
    val e = assign(spark, sfDir, centroids).localCheckpoint()
    // in-query search = the SAME in-task descent kernel the served arm
    // runs (descentLocal implements the same beam-descent contract, and
    // AnnGraphSpec pins annGraph ≡ annGraphServed row identity) — over the
    // freshly built frames instead of a persisted store. One descent job
    // replaces the old hop loop's join+window+localCheckpoint round per
    // hop (r18; at sf0.1 the loop was ~1.5 s of driver rounds over a
    // 2,000-row corpus).
    val vecs = vectorsWithNbrs(e, buildGraphOver(e, degree))
    // bounded collect: the nQueries corpus query rows (the served arm's
    // exact contract and float precision)
    val qRows = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    servedCoreOver(spark, centroids, vecs,
      qRows.map { case (qid, qv, _) => qid -> qv }.toMap,
      ownCells = qRows.map { case (qid, _, own) => qid -> own }.toMap,
      topK, nprobe, beam, hops, entriesPerCell, excludeSelf = true).drop("cid")
  }

  /** Persist the graph index next to the data — the offline build the
    * in-query path measures inline (k-means training + per-cell kNN graph),
    * done ONCE: vectors WITH their adjacency lists partitioned by cell id
    * (the IVF layout — a probe is a partition-pruned scan), the raw edge
    * list partitioned the same way (for graph consumers), and the k-row
    * centroid matrix as a tiny frame for query-side probe selection. The
    * serving path then pays only the beam search.
    */
  def writeGraphIndex(spark: SparkSession, sfDir: String, path: String,
                      k: Int = 16, degree: Int = 8): Unit =
    writeGraphIndexWith(spark, sfDir, path, k, degree,
      graphManifest(spark, sfDir, k, degree))

  /** Staged write with the caller-computed manifest — the gate computes the
    * corpus fingerprint once and threads it here, so the stamp always
    * describes the corpus the gate checked (see AnnIvf's twin).
    */
  private def writeGraphIndexWith(spark: SparkSession, sfDir: String, path: String,
                                  k: Int, degree: Int, manifestStr: String): Unit = {
    writeGraphIndexOver(spark, baseCorpus(spark, sfDir), path, k, degree,
      manifestStr)
  }

  /** Build+persist the graph layout over an arbitrary (vec_id, embedding)
    * corpus frame.
    */
  private[graft] def writeGraphIndexOver(spark: SparkSession, e: DataFrame,
                                         path: String, k: Int, degree: Int,
                                         manifestStr: String): Unit = {
    val centroids = AnnIvf.trainOver(
      e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), k)
    writeGraphIndexOverWithCentroids(spark, e, path, centroids, degree, manifestStr)
  }

  /** The same staged write with a caller-pinned codebook (no training) — the
    * full-rewrite primitive the incremental-refresh invariant is stated
    * against.
    */
  private[graft] def writeGraphIndexOverWithCentroids(spark: SparkSession, e: DataFrame,
                                                      path: String,
                                                      centroids: Array[Array[Double]],
                                                      degree: Int,
                                                      manifestStr: String): Unit =
    // releasingPinned: the build's localCheckpoint blocks (assignment +
    // edges) are corpus-sized and dead once the staged write lands
    AnnStore.releasingPinned(spark) {
      val assigned = AnnStore.trackedCheckpoint(assignOver(e, centroids))
      // freshness manifest + staged swap (AnnStore): the live index keeps
      // serving until the atomic rename, and a manifest mismatch (params OR
      // corpus fingerprint) forces the cold rebuild — the reference's
      // metadata-match-or-cold-rebuild contract (reference: src/persistence.ts)
      AnnStore.writeStaged(spark, path, manifestStr) { staging =>
        writeGraphContents(spark, staging, assigned, centroids, degree)
      }
    }

  /** The index tables themselves, written under `dir` (a staging root). */
  private[operators] def writeGraphContents(spark: SparkSession, dir: String,
                                            assigned: DataFrame,
                                            centroids: Array[Array[Double]],
                                            degree: Int): Unit = {
    val edges = AnnStore.trackedCheckpoint(buildGraphOver(assigned, degree))
    // once the edge frame is checkpointed, the four tables are independent
    // (edges/vectors read pinned blocks, centroids/cellstats come from the
    // k-row matrix + the assigned checkpoint) and land in distinct staging
    // subdirs — overlap their driver rounds (r19, guide §2.6); content is
    // byte-identical to the former sequential writes. cellstats is the
    // per-cell angular radii sidecar (r18, layout 3): one map-side-combined
    // aggregate over rows the build already scans (AnnStore.writeCellStats)
    AnnStore.inParallel(Seq(
      () => edges.write.partitionBy("cid").parquet(dir + "/edges"),
      () => vectorsWithNbrs(assigned, edges)
        .write.partitionBy("cid").parquet(dir + "/vectors"),
      () => AnnStore.writeCentroids(spark, dir, centroids),
      () => AnnStore.writeCellStats(spark, dir, cellStatsOf(assigned, centroids))))
  }

  /** `(cid, n_rows, min_cos)` over an assigned corpus frame: each row's
    * cosine to ITS OWN centroid via a broadcast of the k-row centroid
    * matrix, then one aggregate — no shuffle beyond the k-bounded combine.
    */
  private[operators] def cellStatsOf(assigned: DataFrame,
                                     centroids: Array[Array[Double]]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cdf = centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
    assigned.select(col("vec_id"), col("embedding"), col("cid"))
      .join(broadcast(cdf), Seq("cid"))
      .groupBy(col("cid"))
      .agg(count(lit(1L)).as("n_rows"),
        min(VecExprs.cosineSim(col("embedding").cast("array<double>"),
          col("centroid"))).as("min_cos"))
  }

  /** Refresh-side cellstats maintenance: recompute the affected cells'
    * rows' stats, keep the untouched cells' stored rows, rewrite the
    * (k-bounded) sidecar. Bounded collects — the sidecar is ≤ k rows by
    * construction. A store predating the sidecar never reaches here (the
    * layout-3 manifest forces its rebuild at the gate).
    */
  private[operators] def refreshCellStats(spark: SparkSession, path: String,
                                          affected: Seq[Int], rows: DataFrame,
                                          centroids: Array[Array[Double]]): Unit = {
    import spark.implicits._
    AnnStore.readCellStats(spark, path) match {
      case None => () // store predates the sidecar (a pre-layout-3 store
      // whose manifest params still match): writing only the affected
      // cells would leave a PARTIAL sidecar that the certified serve
      // would silently trust — keep it absent so that serve fails by
      // name instead
      case Some(old) =>
        val kept = old.filterNot(s => affected.contains(s._1))
        val recomputed = cellStatsOf(rows, centroids).collect()
          .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        AnnStore.writeCellStats(spark, path,
          (kept ++ recomputed).sortBy(_._1).toSeq.toDF("cid", "n_rows", "min_cos"))
    }
  }

  /** Adjacency embedded in the vector row (rank order: sim desc, dst asc —
    * same as the edge build) so serving reads ONE pruned table. Payload
    * columns pass through between the corpus fields and (nbrs, cid).
    */
  private[operators] def vectorsWithNbrs(assigned: DataFrame, edges: DataFrame): DataFrame = {
    val payload = assigned.columns.filterNot(_ == "cid").map(col)
    assigned.join(adjacencyOf(edges), Seq("vec_id"), "left_outer")
      .select(payload.toSeq :+
        coalesce(col("nbrs"), array().cast("array<long>")).as("nbrs") :+ col("cid"): _*)
  }

  /** Incremental maintenance of a persisted graph index: keep the STORED
    * centroids, diff the new corpus against the stored vectors on vec_id,
    * rebuild the in-cell kNN graph for ONLY the affected cells, and
    * delete+append exactly those cid partitions of BOTH tables. The per-cell
    * graph depends on nothing outside its cell, so untouched cells'
    * vectors+edges files are preserved byte-for-byte (spec-asserted). Full
    * retrain on missing store / param change / drift past `driftBound`;
    * manifest stamped last (crash ⇒ stale manifest ⇒ next ensure rebuilds).
    */
  private[graft] def refreshGraphIndexOver(spark: SparkSession, path: String,
                                           newE: DataFrame, newManifest: String,
                                           driftBound: Double = 0.3): DataFrame = {
    val k = AnnStore.manifestInt(newManifest, "k").getOrElse(16)
    val degree = AnnStore.manifestInt(newManifest, "degree").getOrElse(8)
    AnnStore.refreshIndex(spark, path, newManifest,
      assignNew = () => assignOver(newE, AnnStore.readCentroids(spark, path)),
      rewrite = (affected, rows) => {
        // rows arrive materialized (dispatch localCheckpoint); edges are
        // checkpointed because they're executed twice (edge write + the
        // adjacency embed) — releasingPinned frees both after the rewrite
        val edges = AnnStore.trackedCheckpoint(buildGraphOver(rows, degree))
        val fs = AnnStore.fileSystem(spark, path)
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/edges/cid=$c"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        edges.write.mode("append").partitionBy("cid").parquet(path + "/edges")
        vectorsWithNbrs(rows, edges)
          .write.mode("append").partitionBy("cid").parquet(path + "/vectors")
        refreshCellStats(spark, path, affected, rows,
          AnnStore.readCentroids(spark, path))
      },
      fullBuild = () => writeGraphIndexOver(spark, newE, path, k, degree, newManifest),
      driftBound = driftBound,
      // the adjacency column is build-derived, not corpus payload — its
      // presence in the stored table is not schema drift
      derivedCols = Seq("nbrs"))
  }

  /** The refresh twin of [[ensureGraphIndex]] for the embeddings-table store. */
  def refreshGraphIndex(spark: SparkSession, sfDir: String, path: String,
                        k: Int = 16, degree: Int = 8,
                        driftBound: Double = 0.3): DataFrame =
    refreshGraphIndexOver(spark, path, baseCorpus(spark, sfDir),
      graphManifest(spark, sfDir, k, degree), driftBound)

  /** (src → vec_id, nbrs) adjacency lists from a (cid, src, dst, sim) edge
    * frame, neighbor order sim desc / dst asc (the edge build's rank order).
    */
  private def adjacencyOf(edges: DataFrame): DataFrame =
    edges
      .groupBy(col("src"))
      .agg(collect_list(struct((-col("sim")).as("ns"), col("dst"))).as("raw"))
      .select(col("src").as("vec_id"),
        transform(array_sort(col("raw")), s => s.getField("dst")).as("nbrs"))

  /** The graph index's freshness manifest: build params + corpus
    * fingerprint. `layout` versions the STORE SCHEMA (2 = payload columns
    * ride the vectors table, r17; 3 = the per-cell cellstats sidecar the
    * certified serve's bounds need, r18) so a store persisted under an
    * older layout rebuilds at the gate instead of serving without the
    * columns/sidecars the newer arms need.
    */
  private def graphManifest(spark: SparkSession, sfDir: String,
                            k: Int, degree: Int): String =
    AnnStore.manifest("graph", Seq("k" -> k, "degree" -> degree, "layout" -> 3),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** Exact replica of CosineSim's evaluation loop (VecExprs.scala:46-58) for
    * the in-task descent — float elements widened per element, same
    * accumulation order, same 1e-10 guard — so served scores are
    * bit-identical to the join path's codegen output.
    */
  private[operators] def cosineLocal(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xi = x(i).toDouble; val yi = y(i).toDouble
      dot += xi * yi; na += xi * xi; nb += yi * yi; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb) + 1e-10)
  }

  /** Spark's Round(_, 4) on a double, as codegen emits it
    * (BigDecimal.valueOf → HALF_UP at 4 dp) — with a provably-identical
    * fast path. valueOf routes through Double.toString (~1 µs of string
    * work), and the graph builds round EVERY contender pair: on the
    * ScaleReceipt replica corpus (cosine-identical replicas, so everything
    * ties at the insertion buffer's worst and the contender gate never
    * filters) that BigDecimal call dominated the 1M build. Fast path: when
    * x·1e4 sits farther than 1e-9 from every half-integer boundary —
    * vastly beyond the ≤ ~4e-12 combined error of the scaling multiply
    * and valueOf's shortest-decimal conversion — the cheap floor/ceil
    * round lands on the same side of every boundary as the exact decimal,
    * and m/1e4 is the same correctly-rounded double BigDecimal.toDouble
    * returns for the same m; inside the band (exact .5 ties, pathological
    * near-ties) fall back to the BigDecimal arithmetic itself.
    *
    * The band must DOMINATE t's own representation error, which grows with
    * magnitude: half an ulp of t exceeds a fixed 1e-9 once |t| passes ~2^23
    * (the r17 advisor's counterexample: round4(5207.90695) took the fast
    * path against a boundary its ulp had already crossed). The guard is
    * therefore magnitude-aware — 4·ulp(t) covers the scaling multiply's
    * ≤ 0.5 ulp, valueOf's shortest-decimal ≤ 0.5 ulp (of x, ≤ ~1 ulp of t),
    * and slack; + 1e-12 keeps a floor for tiny t where ulp underflows the
    * decimal gap.
    */
  private[operators] def round4(x: Double): Double = {
    val t = x * 10000.0
    val distToHalf = math.abs(t - (math.floor(t) + 0.5))
    if (math.abs(t) < 1e12 && distToHalf > Math.ulp(t) * 4 + 1e-12) {
      val r = (if (t >= 0) math.floor(t + 0.5) else math.ceil(t - 0.5)) / 10000.0
      // BigDecimal has no signed zero — a tiny negative rounds to +0.0
      // there, while ceil gives -0.0 here; normalize so the fast path is
      // BIT-identical (parquet bytes, hash gates), not just ==-equal
      if (r == 0.0) 0.0 else r
    } else
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Serving-path C6: beam descent over a [[writeGraphIndex]]-persisted
    * index, row-identical to the in-query [[annGraph]] (spec-asserted).
    *
    * The cluster shape inverts from the build: probing collects the bounded
    * query rows (nQueries × (dim + nprobe) — the same bounded-driver-state
    * exception the centroid matrix uses), the vector read is
    * PARTITION-PRUNED to the probed cells ∪ each query's own cell, every
    * pruned cell row is routed to its subscribing queries in ONE shuffle,
    * and the descent itself runs in-memory per query inside
    * `flatMapGroups` — graph search is pointer-chasing, and once a query's
    * candidate cells (bounded: cell capacity is held constant by growing k
    * with the corpus) sit in a single task, chasing pointers locally
    * replaces the per-hop join+window+checkpoint job cascade. At 100 TB a
    * query touches nprobe/k of the index and parallelism scales with the
    * query batch, not the corpus. (A production deployment would read
    * queries from their own table instead of `vec_id < nQueries`.)
    */
  def annGraphServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                     topK: Int = 5, nprobe: Int = 2, beam: Int = 32,
                     hops: Int = 2, entriesPerCell: Int = 3): DataFrame = {
    AnnStore.healCompacted(spark, indexPath, Seq("edges", "vectors"))
    val vectors = spark.read.parquet(indexPath + "/vectors")
    // bounded collect: the query rows (corpus vectors by contract)
    val qRows = vectors.filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    servedCore(spark, indexPath,
      qRows.map { case (qid, qv, _) => qid -> qv }.toMap,
      // a query explores its probed cells PLUS its own cell (reachable
      // through its out-edges even when unprobed — the join path scores
      // those too); self-exclusion is on because queries ARE corpus rows
      ownCells = qRows.map { case (qid, _, own) => qid -> own }.toMap,
      topK, nprobe, beam, hops, entriesPerCell, excludeSelf = true).drop("cid")
  }

  /** The production serving shape: beam descent for an arbitrary bounded
    * query frame `queries` = (query_id: long, qv: array&lt;float&gt;) of EXTERNAL
    * vectors (reference: src/index.ts:265 — queries arrive from outside the
    * index). No own-cell union and no self-exclusion: an external query has
    * no corpus row, and an id collision with a corpus vector must not
    * suppress a result or graft a foreign adjacency list onto the query.
    */
  def annGraphServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                         topK: Int = 5, nprobe: Int = 2, beam: Int = 32,
                         hops: Int = 2, entriesPerCell: Int = 3): DataFrame = {
    // bounded collect: the caller-supplied query batch. qv is cast to the
    // index's float precision so any numeric array type is accepted (the
    // IVF/PQ Over twins take double arrays).
    val qRows = queries.select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      "annGraphServedOver: duplicate query_id in the query batch")
    annGraphServedOverCells(spark, indexPath, qRows, topK, nprobe, beam, hops,
      entriesPerCell).drop("cid")
  }

  /** [[annGraphServedOver]] with each hit's cell id riding as a `cid`
    * column — what a metadata-serving consumer (the facade's chunk-graph
    * search) needs to prune its follow-up read to exactly the hit cells.
    * Internal: the public serving surfaces keep the (query_id, rank,
    * vec_id, score) row contract.
    */
  private[graft] def annGraphServedOverCells(spark: SparkSession, indexPath: String,
                                             qRows: Array[(Long, Array[Float])],
                                             topK: Int, nprobe: Int, beam: Int,
                                             hops: Int, entriesPerCell: Int,
                                             filter: Option[Column] = None): DataFrame =
    servedCore(spark, indexPath, qRows.toMap, ownCells = Map.empty,
      topK, nprobe, beam, hops, entriesPerCell, excludeSelf = false, filter)

  /** FILTERED graph serving (r12, the C3f twin for C6): the predicate
    * gates RESULT ELIGIBILITY, not navigation — descent walks every row of
    * the probed cells (a filtered-out node still routes the search, the
    * standard filtered-graph-ANN design; blocking navigation at the
    * predicate strands the beam in sparse regions), while the ranked hits
    * come from every VISITED passing node, not just the final beam. The
    * predicate evaluates scan-side on the pruned read's full payload
    * columns, so metadata filters see the same columns IVF's arm does.
    */
  def annGraphServedOverFiltered(spark: SparkSession, indexPath: String,
                                 queries: DataFrame, topK: Int = 5, nprobe: Int = 2,
                                 beam: Int = 32, hops: Int = 2,
                                 entriesPerCell: Int = 3,
                                 filter: Option[Column] = None): DataFrame = {
    val qRows = queries.select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      "annGraphServedOverFiltered: duplicate query_id in the query batch")
    annGraphServedOverCells(spark, indexPath, qRows, topK, nprobe, beam, hops,
      entriesPerCell, filter).drop("cid")
  }

  /** ADAPTIVE filtered graph serving — closes C6's version of the classic
    * filtered-ANN failure (a selective predicate leaves too few passing
    * nodes among the visited set and under-fills topK): under-filled
    * queries re-serve with doubled nprobe; once every cell is probed and a
    * query is STILL under-filled, its answer comes from an exact scored
    * scan of the passing rows (beam descent is not exhaustive even at full
    * probing, so the terminal round must be — the same "provably exact at
    * full widening" contract the IVF arm gives). Driver state stays
    * bounded: per-round hit counts and the shrinking pending-query list.
    */
  private[graft] def annGraphServedOverCellsAdaptive(spark: SparkSession, indexPath: String,
                                                     qRows: Array[(Long, Array[Float])],
                                                     topK: Int, nprobe: Int, beam: Int,
                                                     hops: Int, entriesPerCell: Int,
                                                     filter: Option[Column]): DataFrame = {
    val kCells = AnnStore.servedCentroids(spark, indexPath).length
    if (qRows.isEmpty)
      return annGraphServedOverCells(spark, indexPath, qRows, topK, nprobe, beam,
        hops, entriesPerCell, filter)
    val done = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var pending = qRows
    var np = math.min(math.max(1, nprobe), kCells)
    var continue = true
    while (continue) {
      val out = AnnStore.trackedCheckpoint(
        annGraphServedOverCells(spark, indexPath, pending, topK, np, beam, hops,
          entriesPerCell, filter))
      val counts = out.groupBy("query_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val unfilled = pending.filter(q => counts.getOrElse(q._1, 0L) < topK)
      if (unfilled.isEmpty) {
        done += out
        continue = false
      } else if (np >= kCells) {
        // all cells probed and still short: descent has no more cells to
        // widen into — the exact scan over passing rows IS the answer
        val filledIds = pending.map(_._1).toSet -- unfilled.map(_._1)
        if (filledIds.nonEmpty) done += out.filter(col("query_id").isin(filledIds.toSeq: _*))
        done += exactFilteredScan(spark, indexPath, unfilled, topK, filter)
        continue = false
      } else {
        val filledIds = pending.map(_._1).toSet -- unfilled.map(_._1)
        if (filledIds.nonEmpty) done += out.filter(col("query_id").isin(filledIds.toSeq: _*))
        pending = unfilled
        np = math.min(np * 2, kCells)
      }
    }
    done.reduce(_ unionByName _).orderBy("query_id", "rank")
  }

  /** The terminal exact round: brute-force cosine over the rows the
    * predicate passes (the whole store only when the adaptive loop already
    * widened to every cell), same float precision and 4dp rounding as the
    * descent so merged results rank consistently.
    */
  private def exactFilteredScan(spark: SparkSession, indexPath: String,
                                qRows: Array[(Long, Array[Float])], topK: Int,
                                filter: Option[Column]): DataFrame = {
    import spark.implicits._
    val vectors = spark.read.parquet(indexPath + "/vectors")
    val qFrame = broadcast(qRows.toSeq.toDF("query_id", "qv"))
    val base = filter.map(vectors.filter).getOrElse(vectors)
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("cid"))
    val scored = base.crossJoin(qFrame)
      .select(col("query_id"), col("vec_id"), col("cid"),
        round(VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("score"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"), col("cid"))
  }

  /** Shared serving core: probe selection (driver-side, the shared
    * [[AnnIvf.probeIds]] rule), one partition-pruned read of the
    * subscribed cells, one shuffle routing cell rows to queries, in-task
    * descent. `ownCells` adds each corpus query's own cell to its explored
    * set (empty for external queries).
    */
  private def servedCore(spark: SparkSession, indexPath: String,
                         qvs: Map[Long, Array[Float]], ownCells: Map[Long, Int],
                         topK: Int, nprobe: Int, beam: Int, hops: Int,
                         entriesPerCell: Int, excludeSelf: Boolean,
                         filter: Option[Column] = None): DataFrame = {
    // every graph serve path funnels through here — heal BEFORE any read
    // so a crashed compaction's moved-aside cell can never silently
    // vanish from descent or the facade's pruned metadata read
    AnnStore.healCompacted(spark, indexPath, Seq("edges", "vectors"))
    servedCoreOver(spark, AnnStore.servedCentroids(spark, indexPath),
      spark.read.parquet(indexPath + "/vectors"),
      qvs, ownCells, topK, nprobe, beam, hops, entriesPerCell, excludeSelf,
      filter)
  }

  /** [[servedCore]] over caller-supplied centroids and a (vec_id, embedding,
    * payload..., nbrs, cid) vectors frame — the persisted-store read stays
    * at the call sites, so the in-query [[annGraph]] build can run the SAME
    * one-job descent over its freshly built in-memory frames (r18: the old
    * in-query search was a per-hop loop of join+window+localCheckpoint jobs
    * — pure driver-round latency at any scale, guide §2.4/§1.2).
    */
  private def servedCoreOver(spark: SparkSession, centroids: Array[Array[Double]],
                             vectors: DataFrame,
                             qvs: Map[Long, Array[Float]], ownCells: Map[Long, Int],
                             topK: Int, nprobe: Int, beam: Int, hops: Int,
                             entriesPerCell: Int, excludeSelf: Boolean,
                             filter: Option[Column] = None): DataFrame = {
    import spark.implicits._
    // probe selection is AnnIvf.probeIds (float → double is exact, so the
    // probe scores are the float query's)
    val probeSet: Map[Long, Set[Int]] = qvs.map { case (qid, qv) =>
      qid -> AnnIvf.probeIds(qv.map(_.toDouble), centroids, nprobe).toSet
    }
    val cellsOf: Map[Long, Set[Int]] = probeSet.map { case (qid, ps) =>
      qid -> (ps ++ ownCells.get(qid))
    }
    val subs: Map[Int, Seq[Long]] = cellsOf.toSeq
      .flatMap { case (q, cs) => cs.map(_ -> q) }
      .groupBy(_._1).map { case (cid, qs) => cid -> qs.map(_._2).sorted }
    val bcQv = spark.sparkContext.broadcast(qvs)
    val bcProbes = spark.sparkContext.broadcast(probeSet)
    val bcSubs = spark.sparkContext.broadcast(subs)
    val cids = subs.keys.toSeq
    val k2 = topK; val b2 = beam; val h2 = hops; val epc = entriesPerCell
    val selfEx = excludeSelf
    val filtered = filter.isDefined
    vectors.filter(col("cid").isin(cids: _*))
      // result eligibility evaluates scan-side on the FULL payload row
      // (before the narrowing select), so metadata predicates see the
      // same columns the IVF arm's filter does; navigation stays
      // unfiltered — the flag only gates which nodes may RANK
      .withColumn("pass", filter.getOrElse(lit(true)))
      // cast: the embeddings store is float-typed already (no-op); a
      // derived index over double-typed vectors (the chunk-graph index)
      // serves at the descent's float precision — same 4dp score contract
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("nbrs"), col("cid"), col("pass"))
      .as[(Long, Array[Float], Array[Long], Int, Boolean)]
      .flatMap { case (vid, emb, nbrs, cid, pass) =>
        bcSubs.value(cid).map(qid => (qid, vid, emb, nbrs, cid, pass)) }
      .groupByKey(_._1)
      .flatMapGroups { (qid, rows) =>
        descentLocal(qid, bcQv.value(qid), bcProbes.value(qid), rows,
          k2, b2, h2, epc, selfEx, filtered)
      }
      .toDF("query_id", "rank", "vec_id", "score", "cid")
      .orderBy("query_id", "rank")
  }

  /** The beam descent for one query's candidate cells, run in-task (the
    * r18-retired distributed hop loop's exact contract): seeding = probed-
    * cell entry points ∪ the query's out-edges with self excluded, per-hop
    * expansion excludes only the CURRENT frontier (a beam-evicted node may
    * be re-scored later), beam and final ranking order (score desc, vec_id
    * asc).
    */
  /** `seedIds` adds explicit entry nodes (the HNSW descent seeds the next
    * layer with the previous layer's frontier); `seedAll` seeds EVERY
    * loaded node (the hierarchy's top-layer entry — one capacity-bounded
    * block); `counter` counts scored candidates (the touched-candidates
    * receipt — each visit increments, so re-scores count as work done).
    */
  private[operators] def descentLocal(qid: Long, qv: Array[Float], probed: Set[Int],
                           rows: Iterator[(Long, Long, Array[Float], Array[Long], Int, Boolean)],
                           topK: Int, beam: Int, hops: Int, entriesPerCell: Int,
                           excludeSelf: Boolean, filtered: Boolean = false,
                           seedIds: Seq[Long] = Seq.empty, seedAll: Boolean = false,
                           counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : Iterator[(Long, Long, Long, Double, Int)] = {
    val emb = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    val nbrs = scala.collection.mutable.HashMap.empty[Long, Array[Long]]
    val cellOf = scala.collection.mutable.HashMap.empty[Long, Int]
    val passes = scala.collection.mutable.HashSet.empty[Long]
    val byCell = scala.collection.mutable.HashMap.empty[Int, scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { case (_, vid, e, nb, cid, pass) =>
      emb(vid) = e; nbrs(vid) = nb; cellOf(vid) = cid
      if (pass) passes += vid
      byCell.getOrElseUpdate(cid, scala.collection.mutable.ArrayBuffer.empty) += vid
    }
    val entrySeeds =
      (if (seedAll) emb.keys.toSeq.sorted
       else probed.toSeq.flatMap(c =>
         byCell.getOrElse(c, scala.collection.mutable.ArrayBuffer.empty[Long])
           .sorted.take(entriesPerCell))) ++ seedIds
    // self-edge seeds and self-exclusion only apply when the query IS a
    // corpus row — for an external query an id match is a coincidence
    val selfSeeds =
      if (excludeSelf) nbrs.getOrElse(qid, Array.empty[Long]).toSeq else Seq.empty[Long]
    def notSelf(v: Long): Boolean = !excludeSelf || v != qid
    // under a filter, every VISITED passing node is a result candidate
    // (not just the final beam — the beam may be dominated by non-passing
    // routers), accumulated as nodes get scored
    val visited = scala.collection.mutable.HashMap.empty[Long, Double]
    def score(vid: Long): Double = {
      counter.foreach(_.add(1L))
      val s = round4(cosineLocal(emb(vid), qv))
      if (filtered && passes.contains(vid) && notSelf(vid)) visited(vid) = s
      s
    }
    var frontier: Vector[(Long, Double)] =
      (entrySeeds ++ selfSeeds).distinct.filter(v => notSelf(v) && emb.contains(v))
        .map(v => (v, score(v))).toVector
    def topN(xs: Vector[(Long, Double)], n: Int) =
      xs.sortBy { case (v, s) => (-s, v) }.take(n)
    for (_ <- 0 until hops) {
      val inF = frontier.map(_._1).toSet
      val expanded = frontier.flatMap { case (v, _) => nbrs.getOrElse(v, Array.empty[Long]) }
        .distinct.filter(v => !inF.contains(v) && notSelf(v) && emb.contains(v))
      frontier = topN(frontier ++ expanded.map(v => (v, score(v))), beam)
    }
    val pool =
      if (filtered) visited.toVector
      else topN(frontier, topK)
    topN(pool, topK).zipWithIndex.iterator.map { case ((v, s), i) =>
      (qid, (i + 1).toLong, v, s, cellOf(v))
    }
  }

  /** Dir-keyed default location for the persisted index, and a build-once
    * guard: the bench/driver entry serves from here, paying the offline
    * build only on the first call per corpus (the warmup run) — so timed
    * runs measure SEARCH, with build cost visible separately in the
    * in-query `ann_graph` entry.
    */
  /** Compact the graph store's cid-partitioned edges and vectors tables
    * ([[AnnStore.compactIndex]]) after incremental refreshes.
    */
  def compactGraphIndex(spark: SparkSession, path: String,
                        targetBytes: Long = 128L << 20): DataFrame =
    AnnStore.compactIndex(spark, path, Seq("edges", "vectors"), targetBytes)

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("graph", sfDir)

  /** Freshness-gated build-once: rebuild iff the live manifest does not
    * match version + build params + the corpus's per-file fingerprint — so
    * a mutated or regenerated corpus can never be silently served from a
    * stale graph (the stale-serve hazard a bare `_SUCCESS` probe has).
    */
  def ensureGraphIndex(spark: SparkSession, sfDir: String, path: String,
                       k: Int = 16, degree: Int = 8): Unit = {
    val m = graphManifest(spark, sfDir, k, degree)
    AnnStore.ensureIndex(spark, path, m) {
      writeGraphIndexWith(spark, sfDir, path, k, degree, m)
    }
  }
}
