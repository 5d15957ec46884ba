package graft

import graft.operators.{AnnIvf, RagSearch}
import org.apache.spark.sql.functions._

class AnnIvfSpec extends SparkSpecBase {

  test("k-means training is deterministic and returns k centroids of dim 64") {
    val c1 = AnnIvf.train(spark, sf, k = 8, iters = 3)
    val c2 = AnnIvf.train(spark, sf, k = 8, iters = 3)
    assert(c1.length == 8 && c1.forall(_.length == 64))
    assert(c1.zip(c2).forall { case (a, b) => a.sameElements(b) })
  }

  test("IVF results are a subset of brute-force scores with meaningful recall") {
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = AnnIvf.annIvf(spark, sf, nQueries = 10, topK = 5)
    // scores must agree with brute-force scoring for the same pairs
    val bruteAll = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(ivf.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
    // recall@5 with nprobe=2 of 16 cells: demand at least 40% on average
    val hits = ivf.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
  }

  test("partitioned IVF store: probes are partition-pruned scans") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivf").toString + "/idx"
    AnnIvf.writePartitionedIndex(spark, sf, path, k = 8)
    val probed = AnnIvf.probeCells(spark, path, Seq(0, 3))
    // the filter must reach the scan as a partition filter (pruned read),
    // not a post-scan predicate
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"))
    // the probed rows are exactly the two cells' contents
    val all = spark.read.parquet(path + "/vectors")
    assert(probed.count() == all.filter(col("cid").isin(0, 3)).count())
    assert(probed.select("cid").distinct().count() <= 2)
  }

  test("IVF serving: persisted index reproduces the in-query search row for row") {
    val path = java.nio.file.Files.createTempDirectory("graft_ivfserve").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, sf, path)
    val served = AnnIvf.annIvfServed(spark, path).collect().map(_.toSeq).toSeq
    val inline = AnnIvf.annIvf(spark, sf).collect().map(_.toSeq).toSeq
    assert(served == inline, "served IVF must equal the in-query IVF row for row")
  }

  test("filtered ANN serving: predicate pushes into the pruned read; filter-then-search equivalence") {
    import graft.operators.AnnStore
    val base = java.nio.file.Files.createTempDirectory("graft_ivffilt").toString
    val path = base + "/idx"
    AnnIvf.ensureIvfIndex(spark, sf, path)
    val pred = col("label") % 4 === 1
    val served = AnnIvf.annIvfServedFiltered(spark, path)
    val rows = served.collect()
    // every hit satisfies the predicate (hits join back to the corpus)
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
    val offenders = served.join(labels, "vec_id").filter(!(col("label") % 4 === 1)).count()
    assert(offenders == 0, "a filtered hit violated the predicate")
    assert(rows.nonEmpty)
    // the probe read stays partition-pruned with the filter applied at the
    // scan; the modulo predicate itself is not source-translatable, so the
    // PUSHED-filter receipt uses a translatable predicate below
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"),
      s"probe read must stay partition-pruned:\n$plan")
    // a source-translatable predicate (equality) lands in PushedFilters —
    // the row-group-skipping receipt for the 100 TB claim
    val eqQueries = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val eqServed = AnnIvf.annIvfServedOver(spark, path, eqQueries,
      topK = 5, nprobe = 2, filter = Some(col("label") === 1))
    val eqPlan = eqServed.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*EqualTo\\(label,1\\)".r.findFirstIn(eqPlan).isDefined,
      s"equality predicate must reach PushedFilters:\n$eqPlan")
    assert(eqServed.join(labels, "vec_id").filter(col("label") =!= 1).count() == 0)
    // filter-then-search ≡ search-inside-filter: serving THIS store with
    // the predicate equals serving an index built from the PRE-FILTERED
    // corpus with the same pinned centroids
    val centroids = AnnStore.readCentroids(spark, path)
    val prePath = base + "/pre"
    AnnIvf.writeIndexOverWithCentroids(spark,
      Tables.embeddings(spark, sf).filter(pred), prePath, centroids,
      AnnStore.manifest("ivf", Seq("k" -> centroids.length), "spec-prefiltered"))
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val pre = AnnIvf.annIvfServedOver(spark, prePath, queries,
      topK = 5, nprobe = 2, excludeSelf = true)
    assert(rows.map(_.toSeq).toSeq == pre.collect().map(_.toSeq).toSeq,
      "filtered serving must equal serving a pre-filtered index")
    // recall vs the oracle-gated brute-force filtered anchor
    val brute = RagSearch.annTopKFiltered(spark, sf)
      .select("query_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hits = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    assert(recall >= 0.4, s"filtered recall=$recall")
  }

  test("adaptive filtered serving: selective predicates widen probes instead of under-filling") {
    import graft.operators.AnnStore
    val path = java.nio.file.Files.createTempDirectory("graft_ivfadapt").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, sf, path)
    val kCells = AnnStore.readCentroids(spark, path).length
    val e = Tables.embeddings(spark, sf)
    // a predicate rare enough that topK exceeds the matching population:
    // the adaptive loop must widen to ALL cells and return the exact
    // filtered answer, where the fixed-nprobe serve returns a subset
    val label = e.groupBy("label").count().orderBy(col("count").asc, col("label").asc)
      .head().getInt(0)
    val m = e.filter(col("label") === label).count().toInt
    assert(m >= 2, s"fixture needs a non-trivial label population, got $m")
    val pred = col("label") === label
    val queries = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val topK = m + 2 // unfillable: forces exhaustive widening
    val adaptive = AnnIvf.annIvfServedOverAdaptive(spark, path, queries,
      topK = topK, nprobe = 1, filter = Some(pred)).collect()
    // every query returns the complete filtered population, exactly
    val perQuery = adaptive.groupBy(_.getLong(0)).map { case (q, rows) => q -> rows.length }
    assert(perQuery.size == 3 && perQuery.values.forall(_ == m),
      s"adaptive must return all $m matches per query: $perQuery")
    // and the rows equal the exhaustive all-cells serve row for row
    val exhaustive = AnnIvf.annIvfServedOver(spark, path, queries,
      topK = topK, nprobe = kCells, filter = Some(pred)).collect()
    assert(adaptive.map(_.toSeq).toSeq == exhaustive.map(_.toSeq).toSeq)
    // a query that FILLS at the first probe never re-serves wider: with the
    // always-true predicate the adaptive call equals the plain fixed-probe call
    val plain = AnnIvf.annIvfServedOver(spark, path, queries, topK = 5, nprobe = 2,
      filter = Some(col("label") >= 0))
    val adaptive2 = AnnIvf.annIvfServedOverAdaptive(spark, path, queries, topK = 5,
      nprobe = 2, filter = Some(col("label") >= 0))
    assert(adaptive2.collect().map(_.toSeq).toSeq == plain.collect().map(_.toSeq).toSeq)
  }

  test("PQ serving: persisted codes reproduce the in-query ADC search row for row") {
    import graft.operators.AnnPq
    val path = java.nio.file.Files.createTempDirectory("graft_pqserve").toString + "/idx"
    AnnPq.ensurePqIndex(spark, sf, path)
    val served = AnnPq.annPqServed(spark, path).collect().map(_.toSeq).toSeq
    val inline = AnnPq.annPq(spark, sf).collect().map(_.toSeq).toSeq
    assert(served == inline, "served PQ must equal the in-query PQ row for row")
  }

  test("graph ANN: beam descent over per-cell kNN graphs, recall >= IVF's bound") {
    import graft.operators.AnnGraph
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val g = AnnGraph.annGraph(spark, sf, nQueries = 10, topK = 5)
    // exact scores: every emitted (query, vec, score) matches brute scoring
    val bruteAll = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(g.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
    // the search never scores a vector outside the probed cells' graphs —
    // edge endpoints and entries are in-cell, so candidates are cell-bounded
    val hits = g.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    // measured 0.86 at sf0.001 with the query's own out-edges seeded into
    // the first expansion; 0.6 leaves noise margin while still catching a
    // seeding/expansion regression the old 0.4 (IVF) bound would mask
    assert(recall >= 0.6, s"recall=$recall")
    // per-cell kNN graph: out-degree bounded, no self-loops, edges in-cell
    val edges = AnnGraph.buildGraph(spark, sf, AnnIvf.train(spark, sf, k = 16), degree = 8)
    assert(edges.filter(col("src") === col("dst")).count() == 0)
    assert(edges.groupBy("src").count().filter(col("count") > 8).count() == 0)
  }

  test("graph ANN: saturated descent (all cells probed, beam >= corpus) is exactly brute force") {
    // focused receipt for the r18 in-query search rewrite (the distributed
    // hop loop was replaced by the served arm's in-task descent kernel over
    // in-memory frames): when every cell is probed, every node is an entry
    // seed, and the beam holds the whole corpus, the descent must explore
    // everything — so its top-k equals the brute-force scan minus the
    // excluded self row, rank for rank, score for score.
    import graft.operators.AnnGraph
    val topK = 5
    val g = AnnGraph.annGraph(spark, sf, nQueries = 5, topK = topK,
      nprobe = 16, beam = 1000, hops = 0, entriesPerCell = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 5, k = topK + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .filter { case (q, _, v, _) => v != q }            // annGraph excludes self
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>     // re-rank after the drop
        rows.sortBy(_._2).take(topK).zipWithIndex
          .map { case ((q, _, v, s), i) => (q, (i + 1).toLong, v, s) }
      }
    assert(g.sorted.toSeq == brute.sorted.toSeq,
      "saturated graph descent must equal brute force row for row")
  }

  test("graph ANN serving: persisted index reproduces the in-query search and prunes partitions") {
    import graft.operators.AnnGraph
    val path = java.nio.file.Files.createTempDirectory("graft_gidx").toString + "/idx"
    AnnGraph.writeGraphIndex(spark, sf, path)
    val served = AnnGraph.annGraphServed(spark, path)
    // deterministic centroids + graph + descent → row-identical results,
    // so the recall bound above transfers to the serving path verbatim
    val inline = AnnGraph.annGraph(spark, sf)
    val a = served.collect().map(_.toSeq).toSeq
    val b = inline.collect().map(_.toSeq).toSeq
    assert(a == b, "served search must equal the in-query search row for row")
    // the serving path's vector/edge reads are cell-filtered parquet scans
    // of this layout (the final frame's plan shows only the checkpointed
    // beam, so assert pruning on the identically-constructed store read)
    for (sub <- Seq("/vectors", "/edges")) {
      val pruned = spark.read.parquet(path + sub).filter(col("cid").isin(0, 3))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("cid"), sub)
      assert(pruned.select("cid").distinct().count() <= 2)
    }
  }

  test("served ANN accepts external query vectors (no self-exclusion, exact scores)") {
    import graft.operators.{AnnGraph, AnnPq}
    import graft.plans.VecExprs
    val tmp = java.nio.file.Files.createTempDirectory("graft_extq").toString
    AnnIvf.ensureIvfIndex(spark, sf, tmp + "/ivf")
    AnnPq.ensurePqIndex(spark, sf, tmp + "/pq")
    AnnGraph.ensureGraphIndex(spark, sf, tmp + "/graph")
    // "external" queries: corpus vectors 100..104 under foreign ids 7000+ —
    // the ids collide with nothing, and because self-exclusion is OFF, the
    // source vector itself (cosine 1.0) is a legal result
    val e = Tables.embeddings(spark, sf)
    val queries = e.filter(col("vec_id").between(100, 104))
      .select((col("vec_id") + 6900).as("query_id"), col("embedding").as("qv"))
    // exact reference scores for every (query, vector) pair, same rounding
    val exact = e.crossJoin(queries.select(col("query_id"), col("qv")))
      .select(col("query_id"), col("vec_id"),
        round(VecExprs.cosineSim(col("embedding"), col("qv")), 4).as("score"))
      .cache()
    val bruteTop = exact
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("vec_id").asc)))
      .filter(col("rn") <= 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val servedIvf = AnnIvf.annIvfServedOver(spark, tmp + "/ivf", queries, topK = 5)
    assert(servedIvf.count() == 25)
    assert(servedIvf.select("query_id", "vec_id", "score").except(exact).count() == 0)
    // the query's own source vector appears (score 1.0) — no self-exclusion
    assert(servedIvf.filter(col("vec_id") === col("query_id") - 6900 &&
      col("score") === 1.0).count() == 5)

    val queriesD = queries.select(col("query_id"), col("qv").cast("array<double>").as("qv"))
    val servedPq = AnnPq.annPqServedOver(spark, tmp + "/pq", queriesD, topK = 5)
    assert(servedPq.count() == 25)
    assert(servedPq.select("query_id", "vec_id", "score").except(exact).count() == 0)
    val pqHits = servedPq.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((bruteTop intersect pqHits).size.toDouble / bruteTop.size >= 0.6)

    // external queries lose the self-edge seeding corpus queries get, and
    // their recall ceiling is cell coverage — so the production knobs for
    // cold queries are wider probes plus a slightly deeper descent
    val servedG = AnnGraph.annGraphServedOver(spark, tmp + "/graph", queries, topK = 5,
      nprobe = 4, hops = 3, entriesPerCell = 6)
    assert(servedG.count() == 25)
    assert(servedG.select("query_id", "vec_id", "score").except(exact).count() == 0)
    val gHits = servedG.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((bruteTop intersect gHits).size.toDouble / bruteTop.size >= 0.4)
    exact.unpersist()
  }

  test("PQ serving refuses an index whose manifest dim disagrees with the codebooks") {
    import graft.operators.{AnnPq, AnnStore}
    val path = java.nio.file.Files.createTempDirectory("graft_pqdim").toString + "/idx"
    AnnPq.ensurePqIndex(spark, sf, path)
    val manifest = AnnStore.readManifest(spark, path).get
    assert(AnnStore.manifestInt(manifest, "dim").contains(64))
    AnnStore.writeManifestFile(AnnStore.fileSystem(spark, path),
      new org.apache.hadoop.fs.Path(path), manifest.replace("\"dim\":64", "\"dim\":32"))
    val q = Tables.embeddings(spark, sf).limit(1)
      .select(col("vec_id").as("query_id"), col("embedding").cast("array<double>").as("qv"))
    intercept[IllegalArgumentException] {
      AnnPq.annPqServedOver(spark, path, q).collect()
    }
  }

  test("IVFADC: pruned residual-ADC search reranks to exact scores; code scan is partition-pruned") {
    import graft.operators.AnnIvfPq
    val path = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    AnnIvfPq.ensureIvfPqIndex(spark, sf, path)
    val r = AnnIvfPq.annIvfPqServed(spark, path, nQueries = 10, topK = 5)
    // emitted (exact-reranked) scores agree with brute-force scoring
    val bruteAll = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(r.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
    // recall vs brute top-5: bounded by nprobe=2/16 cell coverage like C3
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val hits = r.select("query_id", "vec_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    assert(recall >= 0.4, s"recall=$recall")
    // candidates never leave the probed cells: every result's vector sits in
    // one of the query's nprobe nearest cells ∪ its own — weaker, structural
    // check: the codes read itself is a partition-pruned scan
    val probed = spark.read.parquet(path + "/codes").filter(col("cid").isin(0, 3))
    val plan = probed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cid"))
    // ensure gate: second ensure is a no-op
    val fs = new org.apache.hadoop.fs.Path("/tmp")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mf = new org.apache.hadoop.fs.Path(path, graft.operators.AnnStore.ManifestFile)
    val t1 = fs.getFileStatus(mf).getModificationTime
    AnnIvfPq.ensureIvfPqIndex(spark, sf, path)
    assert(fs.getFileStatus(mf).getModificationTime == t1)
    // external queries (no self-exclusion): the source vector itself wins
    val e = Tables.embeddings(spark, sf)
    val ext = e.filter(col("vec_id").between(100, 102))
      .select((col("vec_id") + 8000).as("query_id"), col("embedding").as("qv"))
    val served = AnnIvfPq.annIvfPqServedOver(spark, path, ext, topK = 5)
    assert(served.count() == 15)
    assert(served.filter(col("vec_id") === col("query_id") - 8000 &&
      col("score") === 1.0).count() == 3)
  }

  test("PQ-ADC results rerank to exact scores with meaningful recall") {
    import graft.operators.AnnPq
    val brute = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 5)
      .select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = AnnPq.annPq(spark, sf, nQueries = 10, topK = 5)
    // the emitted (exact-reranked) scores must agree with brute-force scoring
    val bruteAll = RagSearch.annTopKBatch(spark, sf, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(pq.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
    // recall@5 after a 50-candidate ADC pool: demand at least 60% on average
    val hits = pq.select("query_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect hits).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall=$recall")
  }

  test("probe rule: the nearest probe is the cell CentroidAssign stores the vector in, ties included") {
    import graft.plans.VecExprs
    import org.apache.spark.sql.catalyst.util.ArrayData
    val rnd = new scala.util.Random(9)
    def vec(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    val cents = Array.fill(16)(vec())
    def assigned(v: Array[Double], cs: Array[Array[Double]]): Int =
      VecExprs.centroidAssignEval(ArrayData.toArrayData(v), cs, useCosine = true)
    for (v <- Seq.fill(300)(vec()))
      assert(AnnIvf.probeIds(v, cents, 1).head == assigned(v, cents))
    // duplicate centroids: every cell has an identical twin at id + 16 —
    // the probe and the assignment both take the LOWER id, and the twin
    // comes second
    val twins = cents ++ cents.map(_.clone)
    for (v <- Seq.fill(50)(vec())) {
      val own = assigned(v, twins)
      assert(own < 16)
      assert(AnnIvf.probeIds(v, twins, 2) == Seq(own, own + 16))
    }
    // a zero vector scores 0 against every centroid: an all-way tie
    val zero = Array.fill(64)(0.0)
    assert(AnnIvf.probeIds(zero, cents, 1).head == assigned(zero, cents))
    assert(AnnIvf.probeIds(zero, cents, 3) == Seq(0, 1, 2))
  }

  test("probe rule: nprobe clamps to [1, k]") {
    val rnd = new scala.util.Random(10)
    val cents = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val v = Array.fill(16)(rnd.nextGaussian())
    assert(AnnIvf.probeIds(v, cents, 0) == AnnIvf.probeIds(v, cents, 1))
    assert(AnnIvf.probeIds(v, cents, 0).size == 1)
    assert(AnnIvf.probeIds(v, cents, -3).size == 1)
    val all = AnnIvf.probeIds(v, cents, cents.length + 5)
    assert(all.size == cents.length && all.sorted == cents.indices)
  }

  test("IVF serving on a codebook with a duplicated centroid probes the filled twin") {
    import graft.operators.AnnStore
    val path = java.nio.file.Files.createTempDirectory("graft_ivftwin").toString + "/idx"
    val e = Tables.embeddings(spark, sf)
    val cents = AnnIvf.trainOver(
      e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), 8)
    // cells 8..15 duplicate cells 0..7: the assignment fills only the
    // lower twin, so routing to the upper one would read an empty cell
    AnnIvf.writeIndexOverWithCentroids(spark, e, path, cents ++ cents.map(_.clone),
      AnnStore.manifest("ivf", Seq("k" -> 16), "twin"))
    assert(spark.read.parquet(path + "/vectors").filter(col("cid") >= 8).count() == 0)
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val top = AnnIvf.annIvfServedOver(spark, path, queries, topK = 5, nprobe = 1)
      .filter(col("rank") === 1).select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(top == (0L until 10L).map(q => q -> q).toMap,
      s"each corpus query must find itself in its own cell: $top")
  }
}
