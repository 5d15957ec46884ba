package graft

import graft.operators.{AnnGraph, AnnIvf, AnnStore}
import graft.plans.VecExprs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental maintenance of the persisted ANN stores (the reference's
  * watch-loop contract, cluster-shaped: re-embed/reassign only the changed
  * set, keep the index live — reference: src/indexer.ts:413-511).
  *
  * Core invariant: an incrementally refreshed index must equal a FULL
  * rewrite of the new corpus with the SAME (stored) centroids — table
  * contents and served results — while leaving unaffected cid partitions
  * byte-for-byte untouched.
  *
  * Fixture note: the "changed" mutation scales an embedding by 2, which
  * changes every payload byte but NOT its cosine cell assignment — so all
  * three mutation kinds (add a copy of a cell vector, scale one, remove
  * one) stay confined to one known cell and the untouched-cells assertion
  * is deterministic.
  */
class AnnRefreshSpec extends SparkSpecBase {

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Rewrite one partition dir as `n` small files — the post-refresh
    * fragmentation shape the compaction tests exercise.
    */
  private def fragment(dirPath: Path, n: Int): Unit = {
    val tmp = new Path(dirPath.getParent, "." + dirPath.getName + ".frag")
    spark.read.parquet(dirPath.toString).repartition(n).write.parquet(tmp.toString)
    fs.delete(dirPath, true)
    assert(fs.rename(tmp, dirPath))
  }

  private def copyCorpus(): String = {
    val dir = Files.createTempDirectory("graft_refresh_sf").toString
    spark.read.parquet(sf + "/embeddings.parquet")
      .write.parquet(dir + "/embeddings.parquet")
    dir
  }

  private def swapIn(dir: String, df: org.apache.spark.sql.DataFrame): Unit = {
    val tmp = dir + "/embeddings.parquet.next"
    df.write.parquet(tmp)
    val target = new Path(dir, "embeddings.parquet")
    fs.delete(target, true)
    assert(fs.rename(new Path(tmp), target))
  }

  /** Three ids from one cell of the stored codebook: (removeId, changeId,
    * copyId) — remove the first, double the second, re-add the third under
    * a fresh vec_id. All assignments stay in `cell`.
    */
  private def pickCellIds(dir: String, centroids: Array[Array[Double]]): (Int, Seq[Long]) = {
    val assigned = Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
          useCosine = true).as("cid"))
    val cell = assigned.filter(col("vec_id") === 250).head().getInt(1)
    val ids = assigned.filter(col("cid") === cell).orderBy("vec_id")
      .limit(3).collect().map(_.getLong(0)).toSeq
    assert(ids.length == 3, s"cell $cell needs >= 3 members")
    (cell, ids)
  }

  /** Apply the one-cell mutation: remove ids(0), scale ids(1) by 2 (same
    * cosine cell, different bytes), duplicate ids(2) as vec_id+1000000.
    */
  private def mutateOneCell(dir: String, ids: Seq[Long]): Unit = {
    val e = spark.read.parquet(dir + "/embeddings.parquet")
    val mutated = e.filter(col("vec_id") =!= ids(0))
      .withColumn("embedding",
        when(col("vec_id") === ids(1),
          transform(col("embedding"), x => (x * lit(2.0)).cast("float")))
          .otherwise(col("embedding")))
      .unionByName(e.filter(col("vec_id") === ids(2))
        .withColumn("vec_id", col("vec_id") + 1000000L))
    swapIn(dir, mutated)
  }

  private def cellFingerprints(idxPath: String, sub: String): Map[Int, String] = {
    val cids = spark.read.parquet(idxPath + sub).select("cid").distinct()
      .collect().map(_.getInt(0))
    cids.map(c => c -> AnnStore.pathFingerprint(spark, s"$idxPath$sub/cid=$c")).toMap
  }

  test("IVF refresh: one-cell mutation rewrites one cell, equals a pinned-codebook full rewrite") {
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_refr_ivf").toString
    val idx = root + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    val centroids = AnnStore.readCentroids(spark, idx)
    val (cell, ids) = pickCellIds(dir, centroids)
    val before = cellFingerprints(idx, "/vectors")
    mutateOneCell(dir, ids)
    val stats = AnnIvf.refreshIvfIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_added") == 1 && stats.getAs[Long]("n_changed") == 1 &&
      stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[Long]("n_cells_rewritten") == 1)
    // invariant: refreshed index == full rewrite with the stored centroids
    val expected = root + "/expected"
    AnnIvf.writeIndexOverWithCentroids(spark, Tables.embeddings(spark, dir),
      expected, centroids, AnnStore.readManifest(spark, idx).get)
    val a = spark.read.parquet(idx + "/vectors")
    val b = spark.read.parquet(expected + "/vectors")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // served results identical to the pinned-codebook rewrite
    val sa = AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq
    val sb = AnnIvf.annIvfServed(spark, expected).collect().map(_.toSeq).toSeq
    assert(sa == sb)
    // every cell except the mutated one is byte-for-byte untouched
    val after = cellFingerprints(idx, "/vectors")
    for ((c, fp) <- before if c != cell) assert(after(c) == fp, s"cell $c was rewritten")
    assert(after(cell) != before(cell))
    // and the gate agrees the index is now current (no rebuild on ensure)
    val stamp = fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    assert(fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime == stamp)
  }

  test("compaction: fragmented cells rewrite to sized files; data, manifest, serving unchanged") {
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_compact").toString
    val idx = root + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    // fragment two cells the way a stretch of incremental refreshes does
    // (each refresh appends the affected cells from a many-partition
    // frame): rewrite their partitions as 6 small files apiece
    fs.listStatus(new Path(idx + "/vectors"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid="))
      .take(2).foreach(st => fragment(st.getPath, 6))
    val manifestBefore = AnnStore.readManifest(spark, idx).get
    val rowsBefore = spark.read.parquet(idx + "/vectors")
      .collect().map(_.toSeq).toSet
    val servedBefore = AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq
    def fileCount(): Long = {
      val it = fs.listFiles(new Path(idx + "/vectors"), true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) n += 1
      }
      n
    }
    val before = fileCount()
    val stats = AnnIvf.compactIvfIndex(spark, idx).collect()
    val vec = stats.find(_.getString(0) == "vectors").get
    // the build writes each cell from a many-partition frame, so cells are
    // fragmented and compaction has real work at the 128MB default target
    assert(vec.getLong(1) > 0, s"expected fragmented cells to compact: $stats")
    assert(vec.getLong(3) < vec.getLong(2), "file count must drop")
    assert(fileCount() < before)
    // content, manifest, and serving are all unchanged
    assert(spark.read.parquet(idx + "/vectors").collect().map(_.toSeq).toSet == rowsBefore)
    assert(AnnStore.readManifest(spark, idx).contains(manifestBefore))
    assert(AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq == servedBefore)
    // idempotent: a second pass finds nothing to do
    val again = AnnIvf.compactIvfIndex(spark, idx).collect()
      .find(_.getString(0) == "vectors").get
    assert(again.getLong(1) == 0, s"second compaction must be a no-op: $again")
    // crash heal: simulate a crash between the two swap renames (live
    // partition moved aside, backup left) — the next compaction restores it
    val victim = fs.listStatus(new Path(idx + "/vectors"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid=")).head.getPath
    assert(fs.rename(victim,
      new Path(victim.getParent, "." + victim.getName + ".backup")))
    AnnIvf.compactIvfIndex(spark, idx)
    assert(fs.exists(victim), "heal sweep must restore the partition from backup")
    assert(spark.read.parquet(idx + "/vectors").collect().map(_.toSeq).toSet == rowsBefore)
    // a crashed-swap leftover is ALSO healed by the serve path itself
    // (non-destructively): move a partition aside again and serve
    assert(fs.rename(victim,
      new Path(victim.getParent, "." + victim.getName + ".backup")))
    val servedHealed = AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq
    assert(fs.exists(victim), "serve entry must heal before reading")
    assert(servedHealed == servedBefore)
    // the shared path also compacts the flat-PQ store's bucketed tables
    import graft.operators.AnnPq
    val pqIdx = root + "/pq"
    AnnPq.ensurePqIndex(spark, dir, pqIdx)
    val pqRows = spark.read.parquet(pqIdx + "/codes").collect().map(_.toSeq).toSet
    fs.listStatus(new Path(pqIdx + "/codes"))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid=")).take(1)
      .foreach(st => fragment(st.getPath, 5))
    val pqStats = AnnPq.compactPqIndex(spark, pqIdx).collect()
      .find(_.getString(0) == "codes").get
    assert(pqStats.getLong(1) >= 1 && pqStats.getLong(3) < pqStats.getLong(2))
    assert(spark.read.parquet(pqIdx + "/codes").collect().map(_.toSeq).toSet == pqRows)
  }

  test("compaction swap is reader-atomic: every protocol state lists a complete row set; heal converges") {
    import org.apache.hadoop.fs.FileUtil
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_compact_atomic").toString
    val idx = root + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    val vectors = idx + "/vectors"
    val expected = spark.read.parquet(vectors).collect().map(_.toSeq).toSet
    val part = fs.listStatus(new Path(vectors))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("cid=")).head.getPath
    val conf = spark.sparkContext.hadoopConfiguration
    def partFiles() = fs.listStatus(part).filter(f => f.isFile && {
      val n = f.getPath.getName; !n.startsWith(".") && !n.startsWith("_")
    })
    def readSet() = spark.read.parquet(vectors).collect().map(_.toSeq).toSet
    def readCount() = spark.read.parquet(vectors).count()
    val run = "deadbeef"
    val old = partFiles()
    val nRows = readCount()
    // the "new set" is a same-rows copy of the cell (what a real compaction
    // stages); its files land under the protocol's names
    def stage(visible: Boolean): Unit = old.zipWithIndex.foreach { case (f, i) =>
      val name = if (visible) s"graftcompact-$run-$i.parquet"
                 else s".graftcompact-$run-$i.tmp"
      FileUtil.copy(fs, f.getPath, fs, new Path(part, name), false, conf)
    }
    def marker(kind: String): Path = {
      val p = new Path(part, s".graftcompact-$run.$kind")
      fs.create(p, true).close(); p
    }
    // STATE 1 — intent written, new files still dot-temps: a listing sees
    // exactly the complete old set (temps are invisible)
    marker("intent"); stage(visible = false)
    assert(readSet() == expected && readCount() == nRows)
    // heal rolls BACK: temps and marker gone, old set untouched
    AnnStore.healCompacted(spark, idx, Seq("vectors"), destructive = true)
    assert(readSet() == expected && readCount() == nRows)
    assert(fs.listStatus(part).forall(f => !f.getPath.getName.contains("graftcompact")))
    // STATE 2 — intent + new files flipped VISIBLE: a listing sees a
    // SUPERSET (old complete + duplicates), never missing rows
    marker("intent"); stage(visible = true)
    assert(readSet() == expected, "distinct rows must still be the complete set")
    assert(readCount() > nRows, "mid-swap duplicates are the declared transient")
    AnnStore.healCompacted(spark, idx, Seq("vectors"), destructive = true)
    assert(readSet() == expected && readCount() == nRows)
    // STATE 3 — committed (intent gone), old files not yet deleted: heal
    // rolls FORWARD to exactly the new set
    stage(visible = true); marker("committed")
    assert(readSet() == expected && readCount() > nRows)
    AnnStore.healCompacted(spark, idx, Seq("vectors"), destructive = true)
    assert(readSet() == expected && readCount() == nRows)
    assert(partFiles().forall(_.getPath.getName.startsWith(s"graftcompact-$run-")),
      "roll-forward must keep only the committed run's files")
    // STATE 4 — BOTH markers (crash between commit write and intent
    // delete): forward wins — the commit proves the new set was complete
    val old2 = partFiles()
    old2.zipWithIndex.foreach { case (f, i) =>
      FileUtil.copy(fs, f.getPath, fs, new Path(part, s"graftcompact-cafe01-$i.parquet"),
        false, conf)
    }
    fs.create(new Path(part, ".graftcompact-cafe01.intent"), true).close()
    fs.create(new Path(part, ".graftcompact-cafe01.committed"), true).close()
    AnnStore.healCompacted(spark, idx, Seq("vectors"), destructive = true)
    assert(readSet() == expected && readCount() == nRows)
    assert(partFiles().forall(_.getPath.getName.startsWith("graftcompact-cafe01-")))
    // and a REAL compaction of a fragmented cell leaves rows + serving
    // identical with no markers or temps behind
    fragment(part, 6)
    val served = AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq
    AnnIvf.compactIvfIndex(spark, idx)
    assert(readSet() == expected && readCount() == nRows)
    assert(AnnIvf.annIvfServed(spark, idx).collect().map(_.toSeq).toSeq == served)
    assert(fs.listStatus(part).forall(f => !f.getPath.getName.startsWith(".")))
  }

  test("graph refresh: affected cells' vectors+edges rebuilt, untouched cells preserved, serving matches") {
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_refr_g").toString
    val idx = root + "/idx"
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    val centroids = AnnStore.readCentroids(spark, idx)
    val (cell, ids) = pickCellIds(dir, centroids)
    val beforeV = cellFingerprints(idx, "/vectors")
    val beforeE = cellFingerprints(idx, "/edges")
    mutateOneCell(dir, ids)
    val stats = AnnGraph.refreshGraphIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_cells_rewritten") == 1)
    // invariant: both tables equal a pinned-codebook full rewrite
    val expected = root + "/expected"
    // expected rewrite projects like the base-store build: full rows
    // (layout 2 — payload rides the vectors table)
    AnnGraph.writeGraphIndexOverWithCentroids(spark,
      Tables.embeddings(spark, dir),
      expected, centroids, degree = 8,
      manifestStr = AnnStore.readManifest(spark, idx).get)
    for (sub <- Seq("/vectors", "/edges")) {
      val a = spark.read.parquet(idx + sub)
      val b = spark.read.parquet(expected + sub)
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0, sub)
    }
    val sa = AnnGraph.annGraphServed(spark, idx).collect().map(_.toSeq).toSeq
    val sb = AnnGraph.annGraphServed(spark, expected).collect().map(_.toSeq).toSeq
    assert(sa == sb)
    val afterV = cellFingerprints(idx, "/vectors")
    val afterE = cellFingerprints(idx, "/edges")
    for ((c, fp) <- beforeV if c != cell) assert(afterV(c) == fp, s"vectors cell $c rewritten")
    for ((c, fp) <- beforeE if c != cell) assert(afterE(c) == fp, s"edges cell $c rewritten")
  }

  test("IVFADC refresh: affected cells' codes recomputed from the pinned books, untouched cells preserved") {
    import graft.operators.AnnIvfPq
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_refr_ivfpq").toString
    val idx = root + "/idx"
    AnnIvfPq.ensureIvfPqIndex(spark, dir, idx)
    val centroids = AnnStore.readCentroids(spark, idx)
    val books = graft.operators.AnnPq.readBooks(spark, idx)
    val (cell, ids) = pickCellIds(dir, centroids)
    val beforeV = cellFingerprints(idx, "/vectors")
    val beforeC = cellFingerprints(idx, "/codes")
    mutateOneCell(dir, ids)
    val stats = AnnIvfPq.refreshIvfPqIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_cells_rewritten") == 1)
    // vectors table == new corpus assigned with the PINNED centroids
    val expectedV = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        VecExprs.centroidAssign(col("embedding").cast("array<double>"), centroids,
          useCosine = true).as("cid"))
    val a = spark.read.parquet(idx + "/vectors")
    assert(a.exceptAll(expectedV).count() == 0 && expectedV.exceptAll(a).count() == 0)
    // codes table == pinned-book encoding of the new corpus's residuals
    import spark.implicits._
    val sd = books.head.head.length
    val centDf = broadcast(centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid"))
    val codeCols = books.indices.map(j =>
      VecExprs.centroidAssign(slice(col("res"), j * sd + 1, sd), books(j),
        useCosine = false).as(s"c$j"))
    val expectedC = expectedV.join(centDf, "cid")
      .withColumn("res",
        zip_with(col("embedding").cast("array<double>"), col("centroid"), (x, y) => x - y))
      .select(col("vec_id") +: codeCols :+ col("cid"): _*)
    val c = spark.read.parquet(idx + "/codes")
    assert(c.exceptAll(expectedC).count() == 0 && expectedC.exceptAll(c).count() == 0)
    // unaffected cells byte-for-byte untouched in BOTH tables
    val afterV = cellFingerprints(idx, "/vectors")
    val afterC = cellFingerprints(idx, "/codes")
    for ((cc, fp) <- beforeV if cc != cell) assert(afterV(cc) == fp, s"vectors cell $cc rewritten")
    for ((cc, fp) <- beforeC if cc != cell) assert(afterC(cc) == fp, s"codes cell $cc rewritten")
    // serving from the refreshed index still reranks to exact scores
    val r = AnnIvfPq.annIvfPqServed(spark, idx)
    val bruteAll = graft.operators.RagSearch.annTopKBatch(spark, dir, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(r.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
  }

  test("IVF refresh under multi-cell churn still equals the pinned-codebook rewrite") {
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_refr_multi").toString
    val idx = root + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    val centroids = AnnStore.readCentroids(spark, idx)
    // churn spread across arbitrary cells: remove 12 scattered ids, scale 15
    // others (payload change, same cell), add 8 copies under fresh ids —
    // 35 dirty of 500 stays under the 30% drift bound
    val e = spark.read.parquet(dir + "/embeddings.parquet")
    val removeIds = (0 until 12).map(i => (i * 41 + 7).toLong)
    val changeIds = (0 until 15).map(i => (i * 29 + 3).toLong).filterNot(removeIds.contains)
    val copyIds = (0 until 8).map(i => (i * 57 + 11).toLong).filterNot(removeIds.contains)
    val mutated = e.filter(!col("vec_id").isin(removeIds: _*))
      .withColumn("embedding",
        when(col("vec_id").isin(changeIds: _*),
          transform(col("embedding"), x => (x * lit(3.0)).cast("float")))
          .otherwise(col("embedding")))
      .unionByName(e.filter(col("vec_id").isin(copyIds: _*))
        .withColumn("vec_id", col("vec_id") + 2000000L))
    swapIn(dir, mutated)
    val stats = AnnIvf.refreshIvfIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_removed") == removeIds.size &&
      stats.getAs[Long]("n_changed") == changeIds.size &&
      stats.getAs[Long]("n_added") == copyIds.size)
    assert(stats.getAs[Long]("n_cells_rewritten") > 1, "churn must span cells")
    val expected = root + "/expected"
    AnnIvf.writeIndexOverWithCentroids(spark, Tables.embeddings(spark, dir),
      expected, centroids, AnnStore.readManifest(spark, idx).get)
    val a = spark.read.parquet(idx + "/vectors")
    val b = spark.read.parquet(expected + "/vectors")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // the graph store under the SAME multi-cell churn: the rewrite rebuilds
    // several cells' edges in one buildGraphOver pass — both tables must
    // still equal the pinned-codebook rewrite
    val gidx = root + "/gidx"
    AnnGraph.ensureGraphIndex(spark, dir, gidx)
    val gCentroids = AnnStore.readCentroids(spark, gidx)
    swapIn(dir, spark.read.parquet(dir + "/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id").isin(changeIds: _*),
          transform(col("embedding"), x => (x * lit(0.5)).cast("float")))
          .otherwise(col("embedding"))))
    val gStats = AnnGraph.refreshGraphIndex(spark, dir, gidx).head()
    assert(gStats.getAs[String]("mode") == "incremental")
    assert(gStats.getAs[Long]("n_cells_rewritten") > 1, "graph churn must span cells")
    val gExpected = root + "/gexpected"
    AnnGraph.writeGraphIndexOverWithCentroids(spark,
      Tables.embeddings(spark, dir),
      gExpected, gCentroids, degree = 8,
      manifestStr = AnnStore.readManifest(spark, gidx).get)
    for (sub <- Seq("/vectors", "/edges")) {
      val x = spark.read.parquet(gidx + sub)
      val y = spark.read.parquet(gExpected + sub)
      assert(x.exceptAll(y).count() == 0 && y.exceptAll(x).count() == 0, sub)
    }
  }

  test("flat PQ refresh: hash buckets give the codes table a rewrite unit") {
    import graft.operators.AnnPq
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_pq").toString + "/idx"
    AnnPq.ensurePqIndex(spark, dir, idx)
    val beforeC = cellFingerprints(idx, "/codes")
    val beforeV = cellFingerprints(idx, "/vectors")
    // bucket = pmod(vec_id, 16): remove 7 (bucket 7), scale 23 (bucket 7),
    // copy 40 → vec_id 1000040 (bucket 8) — exactly two affected buckets
    mutateOneCell(dir, Seq(7L, 23L, 40L))
    val stats = AnnPq.refreshPqIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_added") == 1 && stats.getAs[Long]("n_changed") == 1 &&
      stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[Long]("n_cells_rewritten") == 2)
    // vectors table == the new corpus under the bucket rule
    val expectedV = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"),
        pmod(col("vec_id"), lit(16)).cast("int").as("cid"))
    val v = spark.read.parquet(idx + "/vectors")
    assert(v.exceptAll(expectedV).count() == 0 && expectedV.exceptAll(v).count() == 0)
    // codes table == PINNED-books encoding of the new corpus (no retrain)
    val books = AnnPq.readBooks(spark, idx)
    val sd = books.head.head.length
    val codeCols = books.indices.map(j =>
      VecExprs.centroidAssign(slice(col("emb"), j * sd + 1, sd), books(j),
        useCosine = false).as(s"c$j"))
    val expectedC = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
      .select(col("vec_id") +: codeCols :+
        pmod(col("vec_id"), lit(16)).cast("int").as("cid"): _*)
    val c = spark.read.parquet(idx + "/codes")
    assert(c.exceptAll(expectedC).count() == 0 && expectedC.exceptAll(c).count() == 0)
    // only buckets 7 and 8 were rewritten; the other 14 are byte-identical
    val afterC = cellFingerprints(idx, "/codes")
    val afterV = cellFingerprints(idx, "/vectors")
    for ((b, fp) <- beforeC if b != 7 && b != 8) assert(afterC(b) == fp, s"codes bucket $b rewritten")
    for ((b, fp) <- beforeV if b != 7 && b != 8) assert(afterV(b) == fp, s"vectors bucket $b rewritten")
    assert(afterC(7) != beforeC(7) && afterC(8) != beforeC(8))
    // serving from the refreshed store still exact-reranks to true scores
    val r = AnnPq.annPqServed(spark, idx)
    val bruteAll = graft.operators.RagSearch.annTopKBatch(spark, dir, nQueries = 10, k = 2000)
      .select("query_id", "vec_id", "score")
    assert(r.select("query_id", "vec_id", "score").except(bruteAll).count() == 0)
    // and the gate agrees the refreshed store is current
    val stamp = fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime
    AnnPq.ensurePqIndex(spark, dir, idx)
    assert(fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime == stamp)
  }

  test("SQ8 refresh: dirty buckets re-quantized in place, serving stays value-identical") {
    import graft.operators.AnnSq
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_sq8").toString + "/idx"
    AnnSq.ensureSqIndex(spark, dir, idx)
    val before = cellFingerprints(idx, "/vectors")
    // bucket = pmod(vec_id, 16): remove 7 (bucket 7), scale 23 (bucket 7 —
    // scale-INVARIANT qvals but the stored scale column doubles, so the
    // quantized-payload diff still flags it), copy 40 → 1000040 (bucket 8)
    mutateOneCell(dir, Seq(7L, 23L, 40L))
    val stats = AnnSq.refreshSqIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "incremental")
    assert(stats.getAs[Long]("n_added") == 1 && stats.getAs[Long]("n_changed") == 1 &&
      stats.getAs[Long]("n_removed") == 1)
    assert(stats.getAs[Long]("n_cells_rewritten") == 2)
    val after = cellFingerprints(idx, "/vectors")
    for ((b, fp) <- before if b != 7 && b != 8)
      assert(after(b) == fp, s"bucket $b rewritten")
    assert(after(7) != before(7) && after(8) != before(8))
    // serving from the refreshed store == the in-plan arm on the NEW corpus
    val served = AnnSq.annSq8Served(spark, dir, idx).collect().map(_.toSeq).toSeq
    val inPlan = AnnSq.annSq8(spark, dir).collect().map(_.toSeq).toSeq
    assert(served.nonEmpty && served == inPlan)
    // and the gate agrees the refreshed store is current
    val stamp = fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime
    AnnSq.ensureSqIndex(spark, dir, idx)
    assert(fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime == stamp)
  }

  test("flat PQ bucket count derives from corpus size (manifest-recorded, pow2 steps)") {
    import graft.operators.AnnPq
    // small corpora stay at the floor — the r9 layout, so existing stores'
    // manifests (buckets=16) remain param-compatible at test scale
    assert(AnnPq.bucketCountFor(0) == 16 && AnnPq.bucketCountFor(60) == 16 &&
      AnnPq.bucketCountFor(16L << 20) == 16)
    // beyond the floor: next power of two of ceil(n / 1M) — the rewrite unit
    // stays ~1M vectors, and the count only changes at geometric growth
    // points (each threshold crossing is an amortized full_params rebuild)
    assert(AnnPq.bucketCountFor((16L << 20) + 1) == 32)
    assert(AnnPq.bucketCountFor(100L << 20) == 128)
    assert(AnnPq.bucketCountFor(1_000_000_000L) == 1024)
    // monotone: a growing corpus can never shrink its bucket count past MinBuckets
    val probes = Seq(1L, 1L << 20, 20L << 20, 40L << 20, 1L << 30, 1L << 34)
    assert(probes.map(AnnPq.bucketCountFor) == probes.map(AnnPq.bucketCountFor).sorted)
  }

  test("build + refresh release every pinned block (no executor-storage leak)") {
    import graft.operators.{AnnIvfPq, AnnPq}
    val dir = copyCorpus()
    val root = Files.createTempDirectory("graft_refr_pin").toString
    val before = spark.sparkContext.getPersistentRDDs.keySet
    AnnIvfPq.ensureIvfPqIndex(spark, dir, root + "/ivfpq")
    AnnGraph.ensureGraphIndex(spark, dir, root + "/graph")
    AnnPq.ensurePqIndex(spark, dir, root + "/pq")
    val centroids = AnnStore.readCentroids(spark, root + "/ivfpq")
    val (_, ids) = pickCellIds(dir, centroids)
    mutateOneCell(dir, ids)
    assert(AnnIvfPq.refreshIvfPqIndex(spark, dir, root + "/ivfpq")
      .head().getAs[String]("mode") == "incremental")
    assert(AnnGraph.refreshGraphIndex(spark, dir, root + "/graph")
      .head().getAs[String]("mode") == "incremental")
    assert(AnnPq.refreshPqIndex(spark, dir, root + "/pq")
      .head().getAs[String]("mode") == "incremental")
    // the lexical store's incremental tick (postings, chunks AND the
    // corpus-stats swap)
    import graft.operators.{Bm25Store, Chunker}
    val chunks = Chunker.indexBuild(spark, sf).select("doc_id", "chunk_idx", "chunk_text")
    Bm25Store.writeLexicalIndexOver(spark, chunks, root + "/lex", 16,
      Bm25Store.manifestFor(16, Seq(), "fp1"))
    val (eDoc, eIdx) = chunks.select("doc_id", "chunk_idx").head() match {
      case org.apache.spark.sql.Row(d: Long, c: Long) => (d, c) }
    val edited = chunks.withColumn("chunk_text",
      when(col("doc_id") === eDoc && col("chunk_idx") === eIdx,
        lit("freshly edited chunk about hash join probes")).otherwise(col("chunk_text")))
    assert(Bm25Store.refreshLexicalIndexOver(spark, root + "/lex", edited,
      Bm25Store.manifestFor(16, Seq(), "fp2")).head().getString(0) == "incremental")
    // every localCheckpoint block the builds and refreshes pinned is gone —
    // a long-lived session can maintain many indexes without accumulating
    // corpus-sized blocks in executor storage
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "index maintenance must not pin blocks past its own run")
  }

  test("IVF and IVF-PQ serves pin no block (probe selection is driver-side)") {
    import graft.operators.{AnnIvfPq, AnnPq}
    val root = Files.createTempDirectory("graft_serve_pin").toString
    AnnIvf.ensureIvfIndex(spark, sf, root + "/ivf")
    AnnIvfPq.ensureIvfPqIndex(spark, sf, root + "/ivfpq")
    AnnPq.ensurePqIndex(spark, sf, root + "/pq")
    AnnPq.ensurePqIndex(spark, sf, root + "/opq", iters = AnnPq.OpqIters,
      rounds = AnnPq.OpqRounds)
    def queries(path: String) = spark.read.parquet(path + "/vectors")
      .filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    assert(AnnIvf.annIvfServedOver(spark, root + "/ivf", queries(root + "/ivf"))
      .collect().nonEmpty)
    assert(AnnIvfPq.annIvfPqServedOver(spark, root + "/ivfpq", queries(root + "/ivfpq"))
      .collect().nonEmpty)
    // the flat PQ serve, plain and rotated (OPQ)
    for (kind <- Seq("pq", "opq"))
      assert(AnnPq.annPqServedOver(spark, s"$root/$kind", queries(s"$root/$kind"))
        .collect().nonEmpty, kind)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a serve call must not leave a pinned block behind")
  }

  test("releasingPinned never sweeps another thread's checkpoint (reader safety)") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    @volatile var foreign: org.apache.spark.sql.DataFrame = null
    AnnStore.releasingPinned(spark) {
      // a concurrent reader checkpoints a frame INSIDE the maintenance
      // window — under a context-wide snapshot diff this pin would be
      // swept (data loss: localCheckpoint truncates lineage); under the
      // thread-local scope it is invisible to maintenance
      val reader = new Thread(() => {
        foreign = spark.range(100).toDF("id").localCheckpoint()
      })
      reader.start(); reader.join()
      AnnStore.trackedCheckpoint(spark.range(50).toDF("x")).count(): Unit
    }
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val survivors = after.diff(before)
    assert(survivors.size == 1,
      s"exactly the reader's pin must survive the scope (got ${survivors.size})")
    assert(foreign.count() == 100, "the reader's checkpointed data must still serve")
    // cleanup so later tests see no stray pins
    survivors.foreach(id =>
      spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
  }

  test("refresh stats are ONE aggregation job, not a count per stat (receipt)") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_jobs").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    // regenerate the same rows: fingerprint moves, data identical — the
    // refresh runs the full diff/stats path but rewrites nothing (restamp),
    // isolating exactly the stats cost
    swapIn(dir, spark.read.parquet(dir + "/embeddings.parquet"))
    @volatile var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(AnnIvf.refreshIvfIndex(spark, dir, idx).head()
        .getAs[String]("mode") == "restamp")
      Thread.sleep(1500) // listener bus is async; let it drain
    } finally spark.sparkContext.removeSparkListener(listener)
    // budget: stored-centroid read + the single stats aggregation (AQE may
    // stage the join as a handful of jobs). The pre-fix shape — seven
    // count() actions over a cached corpus-sized diff — measured 20+ jobs
    // on this same path; 10 is a loose ceiling that still proves one pass.
    assert(jobs <= 10, s"stats path ran $jobs jobs — expected a single aggregation pass")
  }

  test("refresh on a store with an older payload schema costs a rebuild, never a crash") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_schema").toString + "/idx"
    // simulate a store persisted by an older operator version: no `label`
    // payload column, current build params, stale corpus fingerprint
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")
    val centroids = AnnIvf.trainOver(
      e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), 16)
    AnnIvf.writeIndexOverWithCentroids(spark, e, idx, centroids,
      AnnStore.manifest("ivf", Seq("k" -> 16), "stale"))
    // the diff cannot run column-for-column against the old schema — the
    // dispatch must fall back to a full rebuild, not throw
    val stats = AnnIvf.refreshIvfIndex(spark, dir, idx).head()
    assert(stats.getAs[String]("mode") == "full_schema")
    assert(spark.read.parquet(idx + "/vectors").columns.contains("label"),
      "rebuild must land the current payload schema")
    assert(AnnIvf.refreshIvfIndex(spark, dir, idx).head().getAs[String]("mode") == "fresh")
    // the graph family's version of the same hazard: a store persisted by
    // the PRE-layout-2 builder (no payload columns) must full-rebuild into
    // the payload-carrying layout, never append wide rows into narrow
    // files (same manifest params, so the schema check — not the param
    // gate — is what must catch it)
    val gidx = Files.createTempDirectory("graft_refr_schema_g").toString + "/gidx"
    val ge = Tables.embeddings(spark, dir).select("vec_id", "embedding") // old layout
    val gCentroids = AnnIvf.trainOver(
      ge.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), 16)
    // layout pinned to the CURRENT value (3 since r18): the fixture
    // simulates a payload-less store whose params all match, so the
    // schema check — not the param gate — must be what catches it
    AnnGraph.writeGraphIndexOverWithCentroids(spark, ge, gidx, gCentroids, degree = 8,
      manifestStr = AnnStore.manifest("graph",
        Seq("k" -> 16, "degree" -> 8, "layout" -> 3), "stale"))
    val gStats = AnnGraph.refreshGraphIndex(spark, dir, gidx).head()
    assert(gStats.getAs[String]("mode") == "full_schema")
    assert(spark.read.parquet(gidx + "/vectors").columns.contains("label"),
      "rebuild must land the payload-carrying layout-2 schema")
  }

  test("crash mid-refresh (pre-stamp) costs a rebuild, never a stale serve") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_crash").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    val centroids = AnnStore.readCentroids(spark, idx)
    val (cell, ids) = pickCellIds(dir, centroids)
    mutateOneCell(dir, ids)
    // simulate a refresh that died between the partition delete and the
    // manifest stamp: the affected cell is gone, the manifest still carries
    // the OLD corpus fingerprint
    fs.delete(new Path(s"$idx/vectors/cid=$cell"), true)
    // the gate sees the fingerprint mismatch and cold-rebuilds — the
    // half-deleted index is never served as-is
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    val n = spark.read.parquet(idx + "/vectors").count()
    assert(n == Tables.embeddings(spark, dir).count())
    assert(AnnStore.readManifest(spark, idx).exists(_.contains(
      AnnStore.corpusFingerprint(spark, dir))))
  }

  test("refresh dispatch: fresh / restamp / full_drift / full_params modes") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_refr_modes").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx)
    // unchanged corpus, matching manifest → fresh (nothing touched)
    assert(AnnIvf.refreshIvfIndex(spark, dir, idx).head().getAs[String]("mode") == "fresh")
    // same rows, regenerated files → fingerprint moves but data is identical:
    // restamp the manifest without rewriting any cell
    val before = cellFingerprints(idx, "/vectors")
    swapIn(dir, spark.read.parquet(dir + "/embeddings.parquet"))
    val restamp = AnnIvf.refreshIvfIndex(spark, dir, idx).head()
    assert(restamp.getAs[String]("mode") == "restamp")
    assert(cellFingerprints(idx, "/vectors") == before, "restamp must not rewrite cells")
    assert(AnnIvf.refreshIvfIndex(spark, dir, idx).head().getAs[String]("mode") == "fresh")
    // bulk mutation past the drift bound → full retrain
    swapIn(dir, spark.read.parquet(dir + "/embeddings.parquet").filter(col("vec_id") < 200))
    val drift = AnnIvf.refreshIvfIndex(spark, dir, idx).head()
    assert(drift.getAs[String]("mode") == "full_drift")
    assert(spark.read.parquet(idx + "/vectors").count() == 200)
    // changed build params → full rebuild regardless of data
    assert(AnnIvf.refreshIvfIndex(spark, dir, idx, k = 4).head()
      .getAs[String]("mode") == "full_params")
    assert(AnnStore.manifestInt(AnnStore.readManifest(spark, idx).get, "k").contains(4))
  }
}
