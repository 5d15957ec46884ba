package graft.operators

import graft.Tables
import graft.plans.VecExprs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C6h: hierarchical (HNSW-style) graph ANN — the multi-layer variant of
  * [[AnnGraph]]'s flat per-cell design, the named extension of the
  * reference (reference: README.md:32 — HNSW). Re-expressed for a cluster
  * rather than transliterated: a single shared-memory skip-list graph is a
  * pointer-chasing design; the Spark-native hierarchy is LAYERS OF
  * PARTITION-PRUNED BLOCK GRAPHS that shrink geometrically.
  *
  *   - **Levels**: each vector's top level is sampled from the standard
  *     HNSW geometric distribution P(level ≥ ℓ) = m^-ℓ — but from a HASH
  *     of vec_id, not an RNG, so levels are deterministic, reproducible,
  *     and refresh-stable (a node's level never changes under edits).
  *   - **Layer ℓ ≥ 1**: the nodes with level ≥ ℓ (an m^-ℓ sample), blocked
  *     by a k-means quantizer with k_ℓ = ceil(k / m^ℓ) blocks — node count
  *     and block count shrink together, so BLOCK CAPACITY stays constant
  *     across layers (the same argument that sizes IVF cells) while each
  *     block's DIAMETER grows: upper-layer in-block edges are the long
  *     edges of HNSW. The top layer (k_ℓ = 1) is one globally-connected
  *     capacity-bounded block — the entry point needs no coarse quantizer
  *     at all. Each layer-ℓ row carries `down_blk`, its block id at layer
  *     ℓ-1 (its cid for ℓ = 1): the hierarchy's down-pointers.
  *   - **Layer 0**: exactly [[AnnGraph]]'s store (cid-partitioned vectors
  *     with embedded adjacency + edges + centroids — written by the same
  *     writeGraphContents), so the flat beam search and the facade's
  *     pruned metadata reads keep working against an HNSW store.
  *   - **Search**: greedy descent. Enter at the top block (score all of
  *     one capacity-bounded block), then per layer: read ONLY the blocks
  *     the frontier's down-pointers name (partition-pruned), beam-search
  *     the in-block graphs seeded by the frontier nodes (they exist in
  *     every lower layer by construction), keep the ef best. At layer 0
  *     the frontier's cells replace IVF probing: the query lands in the
  *     cells its ROUTE chose (node-based routing — finer than
  *     nearest-centroid probing) and only the final beam search scores
  *     candidates there. Per layer the driver collects |batch|·ef
  *     (vec_id, block) rows — bounded by the query batch, never the
  *     corpus — and the per-layer reads are pruned to ≤ |batch|·ef blocks.
  *
  * Candidates SCORED per query ≈ capacity + Σ_ℓ ef·degree·hops — versus
  * IVF's nprobe·capacity, independent of how big cells grow; the receipt
  * spec (AnnHnswSpec) pins scored-candidates < probe-read-rows at equal
  * recall. Rows-only like C6 (k-means + iterative search are not
  * SQL-replicable).
  */
object AnnHnsw {

  /** Layer count: ceil(log_m n) — levels run until the expected layer
    * population reaches ~1 node (true HNSW's height), NOT merely until the
    * block count hits 1: the layers above log_m k are single capacity-
    * bounded blocks that keep thinning by m, so the entry block the search
    * scores exhaustively holds ~m nodes, not a whole cell's worth.
    */
  def maxLevelFor(n: Long, m: Int): Int =
    math.max(1, math.ceil(math.log(math.max(n, 2L).toDouble) / math.log(m) - 1e-9).toInt)

  /** Blocks at layer `lvl`; the TOP layer is forced to ONE block — the
    * search's entry contract — even when n < k leaves ceil(k/m^maxLvl)
    * above 1 (tiny corpora: maxLvl derives from n, not k).
    */
  private def kAt(k: Int, m: Int, lvl: Int, maxLvl: Int): Int =
    if (lvl >= maxLvl) 1
    else math.max(1, math.ceil(k / math.pow(m, lvl) - 1e-9).toInt)

  /** The node's top level — P(level ≥ ℓ) = m^-ℓ from a uniform in [0,1)
    * derived by hashing vec_id (top 53 bits of xxhash64 → exact double).
    * Deterministic: levels survive refreshes and rebuilds unchanged.
    */
  private[graft] def levelCol(m: Int, maxLvl: Int) = {
    val u = shiftrightunsigned(xxhash64(col("vec_id")), 11).cast("double") /
      lit(9007199254740992.0) // 2^53
    least(lit(maxLvl),
      floor(-log(greatest(u, lit(1e-18))) / log(lit(m.toDouble)))).cast("int")
  }

  /** Full embeddings-table rows (AnnGraph.baseCorpus's r17 convention):
    * payload columns ride into layer 0 — the ranking layer — so metadata
    * predicates can gate result eligibility; upper layers stay
    * navigation-only (vec_id + embedding) and never carry payload.
    */
  private def baseCorpus(spark: SparkSession, sfDir: String): DataFrame =
    Tables.embeddings(spark, sfDir)

  private def assignTo(e: DataFrame, centroids: Array[Array[Double]]) =
    e.withColumn("cid",
      VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
        useCosine = true))

  /** The manifest carries the corpus-derived layer count (AnnPq's
    * corpus-derived bucket-count precedent) — a corpus growth that changes
    * ceil(log_m n) is a param change, hence a rebuild, which is exactly
    * right: the hierarchy needs a new top.
    */
  private def hnswManifest(spark: SparkSession, sfDir: String, k: Int,
                           degree: Int, m: Int, degreeUp: Int): String =
    AnnStore.manifest("hnsw",
      Seq("k" -> k, "degree" -> degree, "m" -> m, "degree_up" -> degreeUp,
        "max_lvl" -> maxLevelFor(Tables.embeddings(spark, sfDir).count(), m),
        // layout 3 (r18): layer 0 carries the cellstats sidecar (certified
        // serve bounds); 2 (r17): payload columns ride layer 0 — older stores
        // rebuild at the gate rather than serve without them
        "layout" -> 3),
      AnnStore.corpusFingerprint(spark, sfDir))

  /** Store subdirs: the graph-store trio plus one dir per upper layer —
    * every one cid-partitioned, so [[AnnStore.compactIndex]] /
    * [[AnnStore.healCompacted]] apply unchanged.
    */
  private def layerSubdirs(maxLvl: Int): Seq[String] =
    Seq("edges", "vectors") ++ (1 to maxLvl).map(l => s"layer$l")

  // ----------------------------------------------------------------- build

  def ensureHnswIndex(spark: SparkSession, sfDir: String, path: String,
                      k: Int = 16, degree: Int = 8, m: Int = 4,
                      degreeUp: Int = 8): Unit = {
    val manifest = hnswManifest(spark, sfDir, k, degree, m, degreeUp)
    AnnStore.ensureIndex(spark, path, manifest) {
      writeHnswIndexOver(spark, baseCorpus(spark, sfDir), path, k, degree, m,
        degreeUp, manifest)
    }
  }

  private[graft] def writeHnswIndexOver(spark: SparkSession, e0: DataFrame,
                                        path: String, k: Int, degree: Int,
                                        m: Int, degreeUp: Int,
                                        manifestStr: String): Unit =
    AnnStore.releasingPinned(spark) {
      // materialize BEFORE k-means: a lazy derived frame (the facade's
      // chunk+embed pipeline) would re-chunk the corpus once per
      // training iteration (the PQ/OPQ Over-builders' convention)
      val e = AnnStore.trackedCheckpoint(e0)
      val centroids = AnnIvf.trainOver(
        e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), k)
      writeHnswIndexOverWithCentroids(spark, e, path, centroids, k, degree, m,
        degreeUp, manifestStr)
    }

  /** The same staged write with a caller-pinned layer-0 codebook (upper-
    * layer quantizers retrain deterministically over the given corpus —
    * exactly what the refresh's upper rebuild does) — the primitive the
    * refresh-equivalence property is stated against.
    */
  private[graft] def writeHnswIndexOverWithCentroids(spark: SparkSession,
                                                     e: DataFrame, path: String,
                                                     centroids: Array[Array[Double]],
                                                     k: Int, degree: Int,
                                                     m: Int, degreeUp: Int,
                                                     manifestStr: String): Unit =
    AnnStore.releasingPinned(spark) {
      val assigned = AnnStore.trackedCheckpoint(assignTo(e, centroids))
      AnnStore.writeStaged(spark, path, manifestStr) { staging =>
        // layer 0 IS a graph store (same tables, same layout)
        AnnGraph.writeGraphContents(spark, staging, assigned, centroids, degree)
        writeLayers(spark, staging, assigned, centroids, k, degree = degreeUp,
          m = m, maxLvl = AnnStore.manifestInt(manifestStr, "max_lvl").get)
      }
    }

  /** Upper layers under `dir`: for ℓ = 1..maxLvl, the level ≥ ℓ nodes
    * blocked by a k_ℓ-means quantizer trained on THAT layer's nodes,
    * in-block kNN adjacency embedded, `down_blk` = the node's block at
    * ℓ-1 (cid for ℓ = 1). Geometric cost: layer ℓ holds ~n·m^-ℓ rows, so
    * all layers together cost ~1/(m-1) of one layer-0 build.
    */
  private def writeLayers(spark: SparkSession, dir: String, assigned: DataFrame,
                          mainCentroids: Array[Array[Double]], k: Int,
                          degree: Int, m: Int, maxLvl: Int): Unit = {
    // the lowest vec_id is pinned to the top level — HNSW's first-inserted
    // node lives at the top the same way — so every layer (and the single
    // top block the search enters through) is non-empty for ANY corpus
    // size, not just ones big enough for the m^-maxLvl sample to hit
    val minRow = assigned.agg(min(col("vec_id"))).head()
    require(!minRow.isNullAt(0),
      "hnsw build: empty corpus — nothing to index (the trainOver " +
        "empty-codebook convention, surfaced as a named error)")
    val minId = minRow.getLong(0)
    val leveled = assigned.withColumn("lvl",
      when(col("vec_id") === minId, lit(maxLvl)).otherwise(levelCol(m, maxLvl)))
    // None = single block: the layer needs no quantizer at all (assignment
    // is constantly 0), so the k-means runs only for the ≤ log_m k layers
    // that actually block
    var down: Option[Array[Array[Double]]] = Some(mainCentroids)
    for (l <- 1 to maxLvl) {
      val nodes = leveled.filter(col("lvl") >= l)
        .select(col("vec_id"), col("embedding"))
      val kL = kAt(k, m, l, maxLvl)
      val cL: Option[Array[Array[Double]]] =
        if (kL == 1) None
        else Some(AnnIvf.trainOver(
          nodes.select(col("vec_id"),
            col("embedding").cast("array<double>").as("emb")), kL))
      def assignCol(c: Option[Array[Array[Double]]]) = c match {
        case Some(cs) => VecExprs.centroidAssign(
          col("embedding").cast("array<double>"), cs, useCosine = true)
        case None => lit(0)
      }
      val withBlk = AnnStore.trackedCheckpoint(
        nodes
          .withColumn("down_blk", assignCol(down))
          .withColumn("cid", assignCol(cL)))
      val adj = diversifiedAdjacency(spark, withBlk, degree)
      withBlk.join(adj, Seq("vec_id"), "left_outer")
        .select(col("vec_id"), col("embedding"), col("down_blk"),
          coalesce(col("nbrs"), array().cast("array<long>")).as("nbrs"),
          col("cid"))
        .write.partitionBy("cid").parquet(s"$dir/layer$l")
      // the layer's quantizer (k_l rows) — the search's auxiliary entry
      // oracle: each query also reads its own nearest block per layer
      cL.foreach(c => AnnStore.writeCentroids(spark, s"$dir/lc$l", c))
      down = cL
    }
  }

  /** In-block adjacency with HNSW's neighbor-selection heuristic (RNG
    * pruning): from each node's 2·degree nearest in-block candidates, keep
    * a candidate only if it is closer to the node than to every
    * already-kept neighbor, then backfill with the nearest pruned ones.
    * Plain kNN adjacency degenerates into near-duplicate cliques (a
    * node's k nearest are its own cluster's siblings, every edge stays
    * inside the cluster and greedy search can never CROSS clusters);
    * the prune keeps the first sibling and replaces the rest with
    * diverse, longer edges — the property that makes the upper layers
    * navigable. The candidate join is the flat build's bounded in-block
    * pair join; the prune itself is a per-node loop over ≤ 2·degree
    * candidates inside one map.
    */
  private def diversifiedAdjacency(spark: SparkSession, withBlk: DataFrame,
                                   degree: Int): DataFrame = {
    // Per-block in-MEMORY candidates + prune (r17): the former shape — an
    // in-block pair equi-join through a row_number window, then an
    // embeddings join back and a collect_list prune — was the same
    // O(n·capacity) shuffle+sort disk shape the r16 builder rewrite evicted
    // from layer 0, still alive in the upper layers; the r17 build profile
    // (SURVEY §4k) measured the upper-layer loop at
    // 268 s of the 328 s 240k build, dwarfing the quantizer (11 s) the r16
    // narrative blamed. A block fits task memory by the same capacity rule
    // as a layer-0 cell, so candidates + prune run in ONE flatMapGroups:
    // capacity² stays compute, only capacity·degree rows ever exist.
    //
    // Value-identical to the old plan by construction: the same
    // cosineLocal float arithmetic (the CosineSim eval replica), the same
    // Round(HALF_UP, 4), the same (sim desc, dst asc) top-2·degree
    // selection (buildGraphOver's contender-gated insertion buffer — the
    // exact-round cost paid only near the current worst), and the prune
    // loop is the old code VERBATIM over the buffer's order (which equals
    // the old sortBy(-sim, dst) of the collected candidates).
    val outSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("nbrs",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType, containsNull = false),
        nullable = false)))
    implicit val rowEnc =
      org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    implicit val keyEnc = org.apache.spark.sql.Encoders.scalaInt
    val deg = degree
    withBlk.select(col("cid"), col("vec_id"),
      col("embedding").cast("array<float>").as("emb"))
      .groupByKey((r: org.apache.spark.sql.Row) => r.getInt(0))
      .flatMapGroups { (_: Int, it: Iterator[org.apache.spark.sql.Row]) =>
        val rows = it.map(r => (r.getLong(1), r.getSeq[Float](2).toArray)).toArray
        val n = rows.length
        val cap = 2 * deg
        rows.iterator.zipWithIndex.map { case ((src, a), ai) =>
          // top-2·degree by (ROUNDED sim desc, dst asc); exact round only
          // for CONTENDERS (half-up rounding is monotone, so raw below
          // worst − 0.5e-4 with float slack can neither beat nor tie it)
          val bSim = new Array[Double](cap)
          val bDst = new Array[Long](cap)
          val bIdx = new Array[Int](cap)
          var size = 0
          var j = 0
          while (j < n) {
            if (j != ai) {
              val raw = AnnGraph.cosineLocal(a, rows(j)._2)
              if (size < cap || raw >= bSim(size - 1) - 0.0000501) {
                val sim = AnnGraph.round4(raw)
                val dst = rows(j)._1
                if (size < cap || sim > bSim(size - 1) ||
                  (sim == bSim(size - 1) && dst < bDst(size - 1))) {
                  var p = if (size < cap) size else size - 1
                  while (p > 0 && (sim > bSim(p - 1) ||
                    (sim == bSim(p - 1) && dst < bDst(p - 1)))) {
                    bSim(p) = bSim(p - 1); bDst(p) = bDst(p - 1)
                    bIdx(p) = bIdx(p - 1); p -= 1
                  }
                  bSim(p) = sim; bDst(p) = dst; bIdx(p) = j
                  if (size < cap) size += 1
                }
              }
            }
            j += 1
          }
          val kept = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float])]
          val pruned = scala.collection.mutable.ArrayBuffer.empty[Long]
          var i = 0
          while (i < size) {
            if (kept.size < deg) {
              val s = bSim(i); val d = bDst(i); val e = rows(bIdx(i))._2
              // same rounded-score algebra as the candidate ranking, so the
              // diversity test is deterministic under ties: a sibling ties
              // its kept twin (1.0 vs 1.0) and is pruned, a genuinely
              // closer-to-src candidate survives
              val diverse = kept.forall { case (_, ke) =>
                s > AnnGraph.round4(AnnGraph.cosineLocal(e, ke)) }
              if (diverse) kept += ((d, e)) else pruned += d
            }
            i += 1
          }
          org.apache.spark.sql.Row(src,
            (kept.map(_._1) ++ pruned.take(deg - kept.size)).toArray)
        }
      }.toDF("vec_id", "nbrs")
  }

  // ---------------------------------------------------------------- search

  /** Serving over corpus-vector queries (vec_id < nQueries), the C6-served
    * shape: self excluded from results, the query's own out-edges reachable
    * because its route ends in its own region. `counter`, when supplied,
    * accumulates scored candidates across every layer (the receipt metric).
    */
  def annHnswServed(spark: SparkSession, indexPath: String, nQueries: Int = 10,
                    topK: Int = 5, ef: Int = 8, beam: Int = 32, hops: Int = 2,
                    exhaustLevels: Int = 6,
                    counter: Option[org.apache.spark.util.LongAccumulator] = None,
                    upperCacheRows: Int = DefaultUpperCacheRows)
      : DataFrame = {
    val maxLvl = storedMaxLvl(spark, indexPath)
    AnnStore.healCompacted(spark, indexPath, layerSubdirs(maxLvl))
    val qRows = spark.read.parquet(indexPath + "/vectors")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding").cast("array<float>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    descend(spark, indexPath, qRows.toMap, maxLvl, topK, ef, beam, hops,
      exhaustLevels, excludeSelf = true, counter,
      upperCacheRows = upperCacheRows).drop("cid")
  }

  /** C6hc: CERTIFIED hierarchical serving — exact top-k with an ANN-grade
    * read bound, closing the r17 verdict's recall-plateau item (the plain
    * descent's nprobe=1-like layer-0 seeding capped recall at 0.875 with
    * no knob that recovered it). Two phases:
    *
    *  1. the ordinary hierarchical descent produces k candidates — their
    *     kth ROUNDED score s_k is a certified lower bound on the true kth
    *     (candidates are real corpus rows, so true-kth ≥ raw-kth ≥
    *     s_k − 5e-5);
    *  2. the store's per-cell angular radii (cellstats, layout 3) give a
    *     TRUE upper bound on any member of cell i: by the spherical
    *     triangle inequality θ(q,v) ≥ θ(q,c_i) − δ_i, so
    *     cos(q,v) ≤ cos(max(0, θ(q,c_i) − δ_i)). Every cell whose bound
    *     clears s_k − 2e-4 is exact-scanned (partition-pruned, one job,
    *     broadcast-routed to its subscribing queries) and the top-k over
    *     that pool IS the exact answer:
    *
    * any vector outside the scanned cells has raw cos < s_k − 2e-4, hence
    * rounded score < s_k − 1.5e-4, strictly below the true kth's rounded
    * score (≥ s_k − 1e-4) — it cannot enter the exact top-k or tie its
    * boundary. The 2e-4 margin covers both round4 quantizations; the δ
    * inflation (1e-6 rad) covers acos/cos numerics and the float-vs-double
    * accumulation drift between the bound's JVM cosine and the scan's
    * codegen cosine. AnnHnswCertifiedSpec pins row-identity with the
    * brute-force scan, including under a deliberately starved descent.
    *
    * Cost shape at scale: the descent is the usual beam-bounded route;
    * the certification scan reads the few cells geometry cannot rule out
    * (tight clusters ⇒ small δ ⇒ few cells — the receipt records rows
    * read). Worst case (flat geometry) it degrades to an IVF-exact scan —
    * the price of an exactness PROOF, paid only where geometry is
    * genuinely uninformative. `counter` accrues descent-scored candidates
    * plus certification-scanned rows.
    */
  def annHnswServedCertified(spark: SparkSession, indexPath: String,
                             nQueries: Int = 10, topK: Int = 5, ef: Int = 8,
                             beam: Int = 32, hops: Int = 2,
                             exhaustLevels: Int = 6,
                             counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val qRows = spark.read.parquet(indexPath + "/vectors")
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding").cast("array<float>")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    certifiedCore(spark, indexPath, qRows, topK, ef, beam, hops,
      exhaustLevels, excludeSelf = true, counter).drop("cid")
  }

  /** External-query certified serving — [[annHnswServedOver]]'s contract
    * (no self-exclusion) with [[annHnswServedCertified]]'s exactness proof.
    */
  def annHnswServedCertifiedOver(spark: SparkSession, indexPath: String,
                                 queries: DataFrame, topK: Int = 5,
                                 ef: Int = 8, beam: Int = 32, hops: Int = 2,
                                 exhaustLevels: Int = 6,
                                 counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame =
    annHnswServedCertifiedOverCells(spark, indexPath, queries, topK, ef,
      beam, hops, exhaustLevels, counter).drop("cid")

  /** [[annHnswServedCertifiedOver]] with each hit's layer-0 cell riding as
    * `cid` — the facade's pruned-metadata-join contract (the
    * annHnswServedOverCells twin).
    */
  private[graft] def annHnswServedCertifiedOverCells(spark: SparkSession,
                                                     indexPath: String,
                                                     queries: DataFrame,
                                                     topK: Int = 5, ef: Int = 8,
                                                     beam: Int = 32, hops: Int = 2,
                                                     exhaustLevels: Int = 6,
                                                     counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val qRows = queries
      .select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      "annHnswServedCertifiedOver: duplicate query_id in the query batch")
    certifiedCore(spark, indexPath, qRows, topK, ef, beam, hops,
      exhaustLevels, excludeSelf = false, counter)
  }

  private def certifiedCore(spark: SparkSession, indexPath: String,
                            qRows: Array[(Long, Array[Float])], topK: Int,
                            ef: Int, beam: Int, hops: Int, exhaustLevels: Int,
                            excludeSelf: Boolean,
                            counter: Option[org.apache.spark.util.LongAccumulator])
      : DataFrame = {
    import spark.implicits._
    val maxLvl = storedMaxLvl(spark, indexPath)
    AnnStore.healCompacted(spark, indexPath, layerSubdirs(maxLvl))
    val vectors = spark.read.parquet(indexPath + "/vectors")
    if (qRows.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Double, Int)]
        .toDF("query_id", "rank", "vec_id", "score", "cid")
    // phase 1: the plain descent — only its kth scores are consumed
    val pass1 = descend(spark, indexPath, qRows.toMap, maxLvl, topK, ef, beam,
      hops, exhaustLevels, excludeSelf = excludeSelf, counter)
      .select(col("query_id"), col("score")).collect() // bounded: |q|·topK
      .groupBy(_.getLong(0))
    val sk: Map[Long, Double] = qRows.map { case (q, _) =>
      val hits = pass1.getOrElse(q, Array.empty)
      // an under-filled descent (corpus < topK, starved params) certifies
      // nothing — bound −2 passes every cell: the scan is the exact answer
      q -> (if (hits.length >= topK) hits.map(_.getDouble(1)).min else -2.0)
    }.toMap
    val centroids = AnnStore.servedCentroids(spark, indexPath)
    val stats = AnnStore.memoizedRead(spark, indexPath, "cellstats")(
      AnnStore.readCellStats(spark, indexPath)).getOrElse(
      throw new IllegalStateException(
        s"annHnswServedCertified: no cellstats at $indexPath — the store " +
          "predates layout 3; rebuild via ensureHnswIndex"))
    def clamp(x: Double) = math.min(1.0, math.max(-1.0, x))
    val delta: Map[Int, Double] =
      stats.map(s => s._1 -> (StrictMath.acos(clamp(s._3)) + 1e-6)).toMap
    val margin = 2e-4
    // (query, cell) pairs geometry cannot rule out — bounded driver state
    // (≤ |q|·k, the probe-list convention); empty cells have no stats row
    // and nothing to scan
    val pairs = for {
      (q, qv) <- qRows.toSeq
      qd = qv.map(_.toDouble) // exact widening: scores are the float query's
      i <- centroids.indices
      if delta.contains(i)
      theta = StrictMath.acos(clamp(RagSearch.cosineOf(qd, centroids(i))))
      if StrictMath.cos(math.max(0.0, theta - delta(i))) >= sk(q) - margin
    } yield (q, i)
    counter.foreach(_.add( // certification read volume (self rows included)
      pairs.map(p => stats.find(_._1 == p._2).map(_._2).getOrElse(0L)).sum))
    val probe = pairs.toDF("query_id", "cid")
    val qDf = qRows.toSeq.map { case (q, v) => (q, v.toSeq) }.toDF("query_id", "qv")
    val cids = pairs.map(_._2).distinct
    // one partition-pruned job: rows of certification cells fan out to
    // their subscribing queries via the broadcast pair frame, scored with
    // C1's exact algebra (same cosine expression, same round, same ties)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("vec_id").asc)
    vectors.filter(col("cid").isin(cids: _*))
      .join(broadcast(probe), Seq("cid"))
      .join(broadcast(qDf), Seq("query_id"))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true))
      .withColumn("score",
        round(VecExprs.cosineSim(col("embedding").cast("array<float>"),
          col("qv").cast("array<float>")), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("vec_id"), col("score"),
        col("cid"))
      .orderBy("query_id", "rank")
  }

  /** External-query serving: (query_id, qv) batch, no self-exclusion —
    * [[AnnGraph.annGraphServedOver]]'s contract for the hierarchy.
    */
  def annHnswServedOver(spark: SparkSession, indexPath: String, queries: DataFrame,
                        topK: Int = 5, ef: Int = 8, beam: Int = 32, hops: Int = 2,
                        exhaustLevels: Int = 6,
                        counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    annHnswServedOverCells(spark, indexPath, queries, topK, ef, beam, hops,
      exhaustLevels, counter).drop("cid")
  }

  /** [[annHnswServedOver]] with each hit's layer-0 cell id riding as a
    * `cid` column — what a metadata-serving consumer (the facade's
    * chunk-HNSW arm) needs to prune its follow-up read to the hit cells
    * (AnnGraph's annGraphServedOverCells twin).
    */
  private[graft] def annHnswServedOverCells(spark: SparkSession,
                                            indexPath: String, queries: DataFrame,
                                            topK: Int = 5, ef: Int = 8,
                                            beam: Int = 32, hops: Int = 2,
                                            exhaustLevels: Int = 6,
                                            counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val qRows = queries
      .select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      "annHnswServedOver: duplicate query_id in the query batch")
    val maxLvl = storedMaxLvl(spark, indexPath)
    AnnStore.healCompacted(spark, indexPath, layerSubdirs(maxLvl))
    descend(spark, indexPath, qRows.toMap, maxLvl, topK, ef, beam, hops,
      exhaustLevels, excludeSelf = false, counter)
  }

  /** FILTERED hierarchical serving (the C3f/C6-filtered twin for C6h): the
    * metadata predicate gates RESULT ELIGIBILITY at layer 0 only — the
    * descent routes through every loaded node (upper layers carry no
    * predicate at all), and ranked hits come from every VISITED passing
    * node (AnnGraph's filtered-descent pool rule, shared via descentLocal).
    *
    * Fill contract: a query the filtered descent under-fills re-serves
    * through the flat graph family's ADAPTIVE arm — legal verbatim because
    * an HNSW store's layer 0 IS a graph store (same vectors/edges/centroids
    * layout) — which widens nprobe and terminally falls back to an exact
    * scored scan of the passing rows. So: every query returns min(topK,
    * passing-row-count) rows, provably, while the common case stays one
    * hierarchical descent.
    *
    * Caller contract when the refill triggers: the adaptive rounds are
    * tracked checkpoints, so consume the returned frame inside an
    * [[AnnStore.releasingPinned]] scope (what [[annHnswServedFiltered]] and
    * the facade's filtered batch do) or the pinned blocks outlive the call.
    */
  def annHnswServedOverFiltered(spark: SparkSession, indexPath: String,
                                queries: DataFrame, topK: Int = 5, ef: Int = 8,
                                beam: Int = 32, hops: Int = 2,
                                exhaustLevels: Int = 6,
                                filter: Option[org.apache.spark.sql.Column] = None,
                                counter: Option[org.apache.spark.util.LongAccumulator] = None)
      : DataFrame = {
    val qRows = queries
      .select(col("query_id"), col("qv").cast("array<float>").as("qv"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(qRows.map(_._1).distinct.length == qRows.length,
      "annHnswServedOverFiltered: duplicate query_id in the query batch")
    val maxLvl = storedMaxLvl(spark, indexPath)
    AnnStore.healCompacted(spark, indexPath, layerSubdirs(maxLvl))
    val out = descend(spark, indexPath, qRows.toMap, maxLvl, topK, ef, beam,
      hops, exhaustLevels, excludeSelf = false, counter, filter).drop("cid")
    if (filter.isEmpty || qRows.isEmpty) return out
    // `out`'s lazy tail (descend's layer collects already ran eagerly; only
    // the final layer-0 search re-executes) is deliberately NOT checkpointed:
    // the count below plus a possible union re-run cost one pruned-read job,
    // while a tracked checkpoint would make every returned frame depend on
    // the caller's release scope (the graph adaptive's contract) — wrong
    // default for a public serve that usually fills on the first pass
    val counts = out.groupBy("query_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unfilled = qRows.filter(q => counts.getOrElse(q._1, 0L) < topK)
    if (unfilled.isEmpty) out
    else {
      val filledIds = qRows.map(_._1).toSet -- unfilled.map(_._1).toSet
      val kept =
        if (filledIds.isEmpty) Seq.empty[DataFrame]
        else Seq(out.filter(col("query_id").isin(filledIds.toSeq: _*)))
      val refill = AnnGraph.annGraphServedOverCellsAdaptive(spark, indexPath,
        unfilled, topK, nprobe = 2, beam = beam, hops = hops,
        entriesPerCell = 3, filter = filter).drop("cid")
      (kept :+ refill).reduce(_ unionByName _).orderBy("query_id", "rank")
    }
  }

  /** The driver-entry filtered arm (annIvfServedFiltered's contract shape):
    * corpus vectors as the query batch under the standing `label % 4 === 1`
    * predicate. External-query semantics (no self-exclusion): a corpus
    * query's own row is a legitimate filtered hit when it passes.
    */
  def annHnswServedFiltered(spark: SparkSession, indexPath: String,
                            nQueries: Int = 10, topK: Int = 5,
                            ef: Int = 8): DataFrame = {
    import spark.implicits._
    // the adaptive refill's rounds are tracked checkpoints that must be
    // consumed before the release scope closes — so this driver-entry
    // wrapper materializes its BOUNDED result (≤ nQueries×topK rows)
    // inside the scope and returns a literal frame
    val rows = AnnStore.releasingPinned(spark) {
      val queries = spark.read.parquet(indexPath + "/vectors")
        .filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      annHnswServedOverFiltered(spark, indexPath, queries, topK, ef,
        filter = Some(col("label") % 4 === 1))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq
    }
    rows.toDF("query_id", "rank", "vec_id", "score")
      .orderBy("query_id", "rank")
  }

  private def storedMaxLvl(spark: SparkSession, indexPath: String): Int =
    AnnStore.readManifest(spark, indexPath)
      .flatMap(m => AnnStore.manifestInt(m, "max_lvl"))
      .getOrElse(throw new IllegalStateException(
        s"annHnswServed: no hnsw manifest at $indexPath"))

  /** Per-session upper-layer cache (r18, the r17 verdict's serve-latency
    * item): the 1M serve was DRIVER-ROUND-bound — every layer above 0 cost
    * a sequential pruned-read job even though the layers above layer 1
    * together hold ~n/(m·(m−1)) rows. Layers whose row count fits
    * [[DefaultUpperCacheRows]] are collected ONCE per (indexPath, manifest
    * stamp) into driver arrays and their beam searches run in-driver
    * through the SAME [[AnnGraph.descentLocal]] kernel with the same
    * seeds/entries arguments — bit-identical results (spec-pinned), zero
    * jobs for the cached layers. Layers over the cap (layer 1 at billions
    * of rows) keep the distributed rounds — per-layer granularity, so the
    * optimization never costs unbounded driver memory. The manifest stamp
    * (mtime, length) invalidates on refresh/rebuild; compaction rewrites
    * data files without changing row CONTENT, so a stale-stamp-free cache
    * stays correct across it.
    */
  private[operators] val DefaultUpperCacheRows: Int = 1 << 21

  private case class CachedLayer(
      rows: Array[(Long, Array[Float], Array[Long], Int, Int)],
      byCell: Map[Int, Array[Int]],
      lcCentroids: Option[Array[Array[Double]]])
  private case class ServeCache(stamp: (Long, Long),
                                mainCentroids: Array[Array[Double]],
                                layers: Map[Int, CachedLayer])
  private val serveCaches =
    scala.collection.concurrent.TrieMap.empty[String, ServeCache]

  private def manifestStamp(spark: SparkSession, path: String): (Long, Long) = {
    val st = AnnStore.fileSystem(spark, path).getFileStatus(
      new org.apache.hadoop.fs.Path(path, AnnStore.ManifestFile))
    (st.getModificationTime, st.getLen)
  }

  private def serveCacheFor(spark: SparkSession, path: String, startLvl: Int,
                            cap: Int): ServeCache = {
    val stamp = manifestStamp(spark, path)
    serveCaches.get(path).filter(_.stamp == stamp).getOrElse {
      val main = AnnStore.readCentroids(spark, path)
      val fs = AnnStore.fileSystem(spark, path)
      val layers = (1 to startLvl).flatMap { l =>
        val df = spark.read.parquet(s"$path/layer$l")
        if (df.count() > cap) None // metadata-only count; layer stays distributed
        else {
          val rows = df.select(col("vec_id"),
            col("embedding").cast("array<float>"), col("nbrs"),
            col("down_blk"), col("cid")).collect()
            .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
              r.getSeq[Long](2).toArray, r.getInt(3), r.getInt(4)))
          val byCell = rows.indices.groupBy(i => rows(i)._5)
            .map { case (c, is) => c -> is.toArray }
          val lc =
            if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/lc$l/centroids")))
              Some(AnnStore.readCentroids(spark, s"$path/lc$l"))
            else None
          Some(l -> CachedLayer(rows, byCell, lc))
        }
      }.toMap
      val c = ServeCache(stamp, main, layers)
      if (serveCaches.size > 8) serveCaches.clear() // bounded session state
      serveCaches.put(path, c)
      c
    }
  }

  /** The descent loop. Per layer one partition-pruned read + one routing
    * shuffle + in-task beam search ([[AnnGraph.descentLocal]]), then ONE
    * bounded collect of |batch|·ef (query, node, block) frontier rows —
    * the same bounded-driver-state exception the probe lists use. Layer 0
    * reuses the exact flat-search kernel, so scores are bit-identical to
    * the flat graph arm's for the same candidates. Layers resident in the
    * serve cache skip their job entirely (same kernel in-driver).
    */
  private def descend(spark: SparkSession, path: String,
                      qvs: Map[Long, Array[Float]], maxLvl: Int, topK: Int,
                      ef: Int, beam: Int, hops: Int, exhaustLevels: Int,
                      excludeSelf: Boolean,
                      counter: Option[org.apache.spark.util.LongAccumulator],
                      filter: Option[org.apache.spark.sql.Column] = None,
                      upperCacheRows: Int = DefaultUpperCacheRows)
      : DataFrame = {
    import spark.implicits._
    if (qvs.isEmpty)
      return spark.emptyDataset[(Long, Long, Long, Double, Int)]
        .toDF("query_id", "rank", "vec_id", "score", "cid")
    // frontier: qid -> (node ids to seed, blocks to read) at the next layer
    // down. Top-layer entry: every query reads the single top block and
    // seeds ALL its nodes (seedAll) — no frontier yet.
    //
    // Every layer's read set is the frontier's down-pointers UNION the
    // query's own nearest block under that layer's quantizer (a k_l-row
    // driver-side matrix, read once per layer): multi-entry seeding. The
    // graph route carries fine-grained node evidence; the quantizer
    // guarantees the query's own region is explored even when the route
    // wanders — at layer 0 this floors recall at IVF nprobe=1 while
    // scoring stays beam-bounded.
    // the cache decision wants startLvl, computed below — resolve lazily
    var cacheOpt: Option[ServeCache] = None
    def selfBlock(lvl: Int): Map[Long, Set[Int]] = {
      val cachedLc = cacheOpt.flatMap(_.layers.get(lvl)).map(_.lcCentroids)
      val cs: Option[Array[Array[Double]]] = cachedLc.getOrElse {
        val lcPath = s"$path/lc$lvl"
        if (!AnnStore.fileSystem(spark, path)
          .exists(new org.apache.hadoop.fs.Path(lcPath + "/centroids"))) None
        else Some(AnnStore.readCentroids(spark, lcPath))
      }
      cs match {
        case None => qvs.keys.map(_ -> Set(0)).toMap // single-block layer
        case Some(m) =>
          qvs.map { case (q, qv) =>
            q -> Set(AnnIvf.probeIds(qv.map(_.toDouble), m, 1).head)
          }
      }
    }
    // Skip the contiguous TOP RUN of single-block exhaust layers (r17):
    // each such layer is read whole (one block — its lc quantizer dir is
    // absent) and scored whole (seedAll, hops 0), so its output is the
    // top-ef of its OWN rows — the frontier from above is never consulted
    // and every run member's output except the lowest one's is discarded.
    // Starting at the run's bottom is therefore RESULT-IDENTICAL (spec:
    // AnnHnswSpec/AnnHnswFilterSpec row contracts) while cutting the
    // sequential driver rounds from maxLvl+1 to ~log_m(k)+1 — at 1M
    // vectors (maxLvl 10) layers 10..5 fold away: 5 fewer round trips
    // per batch, and fewer (honestly uncounted) scored candidates.
    val fsP = AnnStore.fileSystem(spark, path)
    def singleBlockExhaust(l: Int): Boolean =
      (maxLvl - l) < exhaustLevels &&
        !fsP.exists(new org.apache.hadoop.fs.Path(s"$path/lc$l/centroids"))
    var startLvl = maxLvl
    while (startLvl > 1 && singleBlockExhaust(startLvl - 1)) startLvl -= 1
    if (upperCacheRows > 0)
      cacheOpt = Some(serveCacheFor(spark, path, startLvl, upperCacheRows))
    val mainCentroids = cacheOpt.map(_.mainCentroids)
      .getOrElse(AnnStore.readCentroids(spark, path))
    var frontier: Map[Long, Seq[(Long, Int)]] = Map.empty
    for (l <- startLvl to 1 by -1) {
      val top = l == maxLvl
      // a layer whose expected population m^(maxLvl-l) is within
      // exhaustLevels of the top is READ in full anyway (its blocks are
      // the frontier's) — scoring everything read costs nothing extra at
      // scale (the read IS the cost) and makes the route robust: any
      // target-cluster node present in a small layer locks the descent
      // on, exactly like true HNSW when layer population ~ ef
      val exhaust = top || (maxLvl - l) < exhaustLevels
      val cellsOf: Map[Long, Set[Int]] =
        if (top) qvs.keys.map(_ -> Set(0)).toMap // k_top = 1: one block, cid 0
        else {
          // keyed on the QUERY SET, not the frontier: a query whose
          // frontier emptied (e.g. its blocks held no loaded rows) keeps
          // its quantizer-probed own block instead of vanishing
          val own = selfBlock(l)
          qvs.keys.map(q =>
            q -> (frontier.getOrElse(q, Nil).map(_._2).toSet ++ own(q))).toMap
        }
      val seedsOf: Map[Long, Seq[Long]] =
        if (top) Map.empty
        else frontier.map { case (q, f) => q -> f.map(_._1) }
      val hops2 = if (exhaust) 0 else hops
      val entries2 = if (exhaust) 0 else 2
      frontier = cacheOpt.flatMap(_.layers.get(l)) match {
        case Some(cl) =>
          // in-driver twin of routeAndSearch: same kernel, same seeds and
          // per-read-block entry arguments — bit-identical rows, no job
          val outRows = qvs.keys.toSeq.sorted.flatMap { q =>
            val cells = cellsOf(q)
            val idxs = cells.toSeq.flatMap(c =>
              cl.byCell.getOrElse(c, Array.empty[Int]).toSeq)
            val extraSeeds =
              if (entries2 == 0) Nil
              else cells.toSeq.flatMap(c =>
                cl.byCell.getOrElse(c, Array.empty[Int])
                  .map(i => cl.rows(i)._1).sorted.take(entries2).toSeq)
            AnnGraph.descentLocal(q, qvs(q), Set.empty,
              idxs.iterator.map { i =>
                val t = cl.rows(i); (q, t._1, t._2, t._3, t._4, true)
              },
              ef, math.max(beam, ef), hops2, entriesPerCell = 0,
              excludeSelf = false, filtered = false,
              seedIds = seedsOf.getOrElse(q, Nil) ++ extraSeeds,
              seedAll = exhaust, counter = counter).toSeq
          }
          outRows.groupBy(_._1)
            .map { case (q, rs) => q -> rs.map(t => (t._3, t._5)) }
        case None =>
          val layer = spark.read.parquet(s"$path/layer$l")
            .select(col("vec_id"),
              col("embedding").cast("array<float>").as("embedding"),
              col("nbrs"), col("down_blk"), col("cid"))
          val out = routeAndSearch(spark, layer, qvs, cellsOf, seedsOf,
            outCell = col("down_blk"), topK = ef, beam = math.max(beam, ef),
            hops = hops2, seedAll = exhaust, entries = entries2,
            excludeSelf = false, counter = counter)
          // bounded collect: |batch| x ef frontier rows
          out.collect()
            .map(r => (r.getLong(0), r.getLong(2), r.getInt(4)))
            .groupBy(_._1)
            .map { case (q, rs) => q -> rs.map(t => (t._2, t._3)).toSeq }
      }
    }
    // the FULL payload row reaches routeAndSearch (narrowing happens there
    // AFTER the result-eligibility predicate evaluates) — layer 0 is where
    // hits rank, so it is the one read metadata filters must see
    val vectors = spark.read.parquet(path + "/vectors")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val ownCell0 = qvs.map { case (q, qv) =>
      q -> Set(AnnIvf.probeIds(qv.map(_.toDouble), mainCentroids, 1).head)
    }
    val cells0 = qvs.keys.map(q =>
      q -> (frontier.getOrElse(q, Nil).map(_._2).toSet ++ ownCell0(q))).toMap
    val seeds0 = frontier.map { case (q, f) => q -> f.map(_._1) }
    // the predicate applies ONLY at layer 0 (where hits rank): filtering
    // upper-layer NAVIGATION would strand the route exactly the way
    // AnnGraph's filtered arm avoids (a filtered-out node still routes)
    routeAndSearch(spark, vectors, qvs,
      cells0, seeds0, outCell = col("cid"), topK = topK, beam = beam,
      hops = hops, seedAll = false, entries = 2, excludeSelf = excludeSelf,
      filter = filter, counter = counter)
      .orderBy("query_id", "rank")
  }

  /** One layer's pruned read → routing shuffle → in-task beam search.
    * `outCell` labels each emitted hit with the block to explore NEXT
    * (down_blk above layer 0). Routing replicates [[AnnGraph]]'s
    * servedCore: rows of subscribed blocks fan out to their queries in one
    * shuffle, then the per-query search runs inside `flatMapGroups`.
    */
  private def routeAndSearch(spark: SparkSession, rows: DataFrame,
                             qvs: Map[Long, Array[Float]],
                             cellsOf: Map[Long, Set[Int]],
                             seedsOf: Map[Long, Seq[Long]],
                             outCell: org.apache.spark.sql.Column,
                             topK: Int, beam: Int, hops: Int, seedAll: Boolean,
                             excludeSelf: Boolean, entries: Int = 0,
                             filter: Option[org.apache.spark.sql.Column] = None,
                             counter: Option[org.apache.spark.util.LongAccumulator])
      : DataFrame = {
    import spark.implicits._
    val subs: Map[Int, Seq[Long]] = cellsOf.toSeq
      .flatMap { case (q, cs) => cs.map(_ -> q) }
      .groupBy(_._1).map { case (c, qs) => c -> qs.map(_._2).sorted }
    val bcQv = spark.sparkContext.broadcast(qvs)
    val bcSubs = spark.sparkContext.broadcast(subs)
    val bcSeeds = spark.sparkContext.broadcast(seedsOf)
    val cids = subs.keys.toSeq
    val k2 = topK; val b2 = beam; val h2 = hops; val sa = seedAll
    val ex = excludeSelf
    val filtered = filter.isDefined
    rows.filter(col("cid").isin(cids: _*))
      // result eligibility evaluates scan-side on the FULL payload row
      // (AnnGraph.servedCore's convention), BEFORE the narrowing select —
      // navigation stays unfiltered, the flag only gates which nodes RANK
      .withColumn("pass", filter.getOrElse(lit(true)))
      .select(col("vec_id"), col("embedding"), col("nbrs"),
        outCell.as("out_cell"), col("cid"), col("pass"))
      .as[(Long, Array[Float], Array[Long], Int, Int, Boolean)]
      .flatMap { case (vid, emb, nbrs, oc, cid, pass) =>
        bcSubs.value.getOrElse(cid, Nil).map(q => (q, vid, emb, nbrs, oc, cid, pass)) }
      .groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // per-READ-block entry seeds (`entries` lowest vec_ids per block):
        // the multi-entry insurance for blocks the frontier has no node
        // in (e.g. the quantizer-probed self block). Buffering is free —
        // descentLocal buffers its rows anyway.
        val buf = it.toVector
        val extraSeeds =
          if (entries == 0) Nil
          else buf.groupBy(_._6).valuesIterator
            .flatMap(_.map(_._2).sorted.take(entries)).toSeq
        AnnGraph.descentLocal(qid, bcQv.value(qid), Set.empty,
          buf.iterator.map { case (q, vid, emb, nbrs, oc, _, pass) =>
            (q, vid, emb, nbrs, oc, pass) },
          k2, b2, h2, entriesPerCell = 0, excludeSelf = ex,
          filtered = filtered,
          seedIds = bcSeeds.value.getOrElse(qid, Nil) ++ extraSeeds,
          seedAll = sa, counter = counter)
      }
      .toDF("query_id", "rank", "vec_id", "score", "cid")
  }

  // -------------------------------------------------------------- maintain

  /** Incremental refresh under the shared diff/dispatch contract
    * ([[AnnStore.refreshIndex]]): layer 0 rewrites surgically like the flat
    * graph store (dirty cells only, untouched cells byte-identical). The
    * upper layers rebuild ONLY when the dirty set actually intersects them
    * — levels are a deterministic hash of vec_id, so "does any
    * added/changed/removed row have level ≥ 1" is decidable from the diff
    * (computed affected-cells-pruned, never corpus-wide); an all-level-0
    * edit leaves every layer file untouched. When they do rebuild, the
    * cost is the geometric 1/(m-1) fraction, not a layer-0 build.
    */
  def refreshHnswIndex(spark: SparkSession, sfDir: String, path: String,
                       k: Int = 16, degree: Int = 8, m: Int = 4,
                       degreeUp: Int = 8, driftBound: Double = 0.3): DataFrame = {
    val manifest = hnswManifest(spark, sfDir, k, degree, m, degreeUp)
    val maxLvl = AnnStore.manifestInt(manifest, "max_lvl").get
    val newE = baseCorpus(spark, sfDir)
    AnnStore.refreshIndex(spark, path, manifest,
      assignNew = () => assignTo(newE, AnnStore.readCentroids(spark, path)),
      rewrite = (affected, rows) => {
        val fs = AnnStore.fileSystem(spark, path)
        // dirty-id set (both directions), computed BEFORE the deletes from
        // the affected cells only: old side pruned to the affected
        // partitions, new side is `rows` (already those cells' contents)
        val oldRows = spark.read.parquet(path + "/vectors")
          .filter(col("cid").isin(affected: _*))
          .select(col("vec_id"), col("embedding"))
        val newRows = rows.select(col("vec_id"), col("embedding"))
        val dirty = oldRows.withColumn("side", lit(1))
          .unionByName(newRows.withColumn("side", lit(2)))
          .groupBy(col("vec_id"))
          .agg(countDistinct(col("side")).as("sides"), count(lit(1)).as("n"),
            countDistinct(col("embedding")).as("vals"))
          .filter(col("sides") === 1 || col("vals") > 1)
          .select(col("vec_id"))
        // the build pins the min vec_id to the top level regardless of its
        // hash, so pin ids count as upper-layer residents here too (layer1
        // holds every upper node — its min IS the old pin; a pin MOVE
        // always dirties the old or new pin row, so the isin test covers it)
        val oldPin = spark.read.parquet(s"$path/layer1")
          .agg(min(col("vec_id"))).head().getLong(0)
        val newPinRow = newE.agg(min(col("vec_id"))).head()
        // an emptied corpus can't reach here (100% removal is full_drift),
        // but fail by name rather than NPE if it ever does
        require(!newPinRow.isNullAt(0), "hnsw refresh: empty new corpus")
        val newPin = newPinRow.getLong(0)
        val upperDirty = dirty
          .filter(levelCol(m, maxLvl) >= 1 || col("vec_id").isin(oldPin, newPin))
          .limit(1).count() > 0
        val edges = AnnStore.trackedCheckpoint(
          AnnGraph.buildGraphOver(rows, degree))
        affected.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/edges/cid=$c"), true)
          fs.delete(new org.apache.hadoop.fs.Path(s"$path/vectors/cid=$c"), true)
        }
        edges.write.mode("append").partitionBy("cid").parquet(path + "/edges")
        AnnGraph.vectorsWithNbrs(rows, edges)
          .write.mode("append").partitionBy("cid").parquet(path + "/vectors")
        AnnGraph.refreshCellStats(spark, path, affected, rows,
          AnnStore.readCentroids(spark, path))
        if (upperDirty) {
          // rebuild the (geometrically small) hierarchy over the full new
          // corpus with the STORED layer-0 centroids (down-pointers of
          // layer 1 must keep naming live cells). Crash mid-rebuild leaves
          // the old manifest (stamped last) → next ensure cold-rebuilds.
          val centroids = AnnStore.readCentroids(spark, path)
          val assigned = AnnStore.trackedCheckpoint(assignTo(newE, centroids))
          // STAGED rewrite: compute every replacement layer fully before
          // touching the live dirs, then swap each dir with a delete+rename
          // pair — a crash can at worst lose one dir (next ensure heals),
          // never leave the store mid-recompute with ALL layers deleted
          val staging = s"$path/.layers_staging"
          fs.delete(new org.apache.hadoop.fs.Path(staging), true)
          writeLayers(spark, staging, assigned, centroids, k, degree = degreeUp,
            m = m, maxLvl = maxLvl)
          (1 to maxLvl).foreach { l =>
            Seq(s"layer$l", s"lc$l").foreach { sub =>
              val live = new org.apache.hadoop.fs.Path(s"$path/$sub")
              val next = new org.apache.hadoop.fs.Path(s"$staging/$sub")
              fs.delete(live, true)
              // lc$l is absent for single-block layers (kL == 1) — absence
              // is the correct live state then, so only rename what exists
              if (fs.exists(next)) fs.rename(next, live)
            }
          }
          fs.delete(new org.apache.hadoop.fs.Path(staging), true)
        }
      },
      fullBuild = () => writeHnswIndexOver(spark, newE, path, k, degree, m,
        degreeUp, manifest),
      driftBound = driftBound,
      derivedCols = Seq("nbrs"))
  }

  def compactHnswIndex(spark: SparkSession, path: String,
                       targetBytes: Long = 128L << 20): DataFrame = {
    val maxLvl = storedMaxLvl(spark, path)
    AnnStore.compactIndex(spark, path, layerSubdirs(maxLvl), targetBytes)
  }

  def defaultIndexPath(sfDir: String): String = AnnStore.defaultPath("hnsw", sfDir)
}
