package graft

import graft.operators._
import graft.operators.AnnPq.{OpqIters, OpqRounds}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The refresh-equivalence PROPERTY, parameterized over EVERY persisted
  * store family (VERDICT r14 #5): random add/remove/edit mixes applied to
  * the corpus, then an incremental refresh, must leave the ENTIRE stored
  * content equal to a full rewrite of the new corpus under the SAME
  * (stored) models — centroids, codebooks, rotation, or nothing for the
  * stateless stores. Not score samples: every table, every row.
  *
  * Also pins two named edges: the postings store's intent-marker crash
  * path (a detected crash costs a `full_crash` rebuild whose content
  * equals a cold rebuild — never a silently-wrong patch), and SQ8's
  * quantized-diff restamp (a float edit too small to move any int8 code
  * restamps the manifest and rewrites nothing).
  */
class StoreRefreshPropertySpec extends SparkSpecBase {
  import spark.implicits._

  private def fs =
    new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def copyCorpus(tag: String): String = {
    val dir = Files.createTempDirectory(s"graft_prop_$tag").toString
    spark.read.parquet(sf + "/embeddings.parquet")
      .write.parquet(dir + "/embeddings.parquet")
    dir
  }

  private def swapIn(dir: String, df: DataFrame): Unit = {
    val tmp = dir + "/embeddings.parquet.next"
    df.write.parquet(tmp)
    val target = new Path(dir, "embeddings.parquet")
    fs.delete(target, true)
    assert(fs.rename(new Path(tmp), target))
  }

  /** Random edit mix, count-preserving (3 removes, 4 scale-changes, 3
    * copies under fresh ids) so corpus-derived bucket counts and layer
    * counts stay fixed and the refresh lands in `incremental`.
    */
  private def randomEdit(dir: String, seed: Int): Unit = {
    val rnd = new scala.util.Random(seed * 104729)
    val e = spark.read.parquet(dir + "/embeddings.parquet")
    val ids = e.select("vec_id").collect().map(_.getLong(0)).sorted
    val shuffled = rnd.shuffle(ids.toSeq)
    val toRemove = shuffled.take(3)
    val toChange = shuffled.slice(3, 7)
    val toCopy = shuffled.slice(7, 10)
    val mutated = e.filter(!col("vec_id").isin(toRemove: _*))
      .withColumn("embedding",
        when(col("vec_id").isin(toChange: _*),
          transform(col("embedding"), x => (x * lit(1.5f + seed))))
          .otherwise(col("embedding")))
      .unionByName(e.filter(col("vec_id").isin(toCopy: _*))
        .withColumn("vec_id", col("vec_id") + 3000000L * seed))
    swapIn(dir, mutated)
  }

  /** Whole-table content, order-free, array-normalized. */
  private def tableOf(path: String, sub: String): Seq[Seq[Any]] =
    spark.read.parquet(s"$path/$sub").collect()
      .map(_.toSeq.map {
        case a: scala.collection.Seq[_] => a.toSeq
        case x => x
      }).sortBy(_.mkString("|")).toSeq

  private case class Family(name: String, tables: String => Seq[String],
                            ensure: (String, String) => Unit,
                            refresh: (String, String) => org.apache.spark.sql.Row,
                            pinnedRebuild: (String, String, String) => Unit)

  private def hnswTables(live: String): Seq[String] = {
    val maxLvl = AnnStore.readManifest(spark, live)
      .flatMap(AnnStore.manifestInt(_, "max_lvl")).get
    Seq("vectors", "edges", "centroids") ++
      (1 to maxLvl).flatMap(l => Seq(s"layer$l") ++
        (if (fs.exists(new Path(s"$live/lc$l/centroids"))) Seq(s"lc$l/centroids")
         else Nil))
  }

  private val families = Seq(
    Family("ivf", _ => Seq("vectors", "centroids"),
      (dir, p) => AnnIvf.ensureIvfIndex(spark, dir, p),
      (dir, p) => AnnIvf.refreshIvfIndex(spark, dir, p).head(),
      (dir, live, out) => { AnnIvf.writeIndexOverWithCentroids(spark,
        Tables.embeddings(spark, dir), out,
        AnnStore.readCentroids(spark, live),
        AnnStore.readManifest(spark, live).get): Unit }),
    Family("graph", _ => Seq("vectors", "edges", "centroids"),
      (dir, p) => AnnGraph.ensureGraphIndex(spark, dir, p),
      (dir, p) => AnnGraph.refreshGraphIndex(spark, dir, p).head(),
      // full rows, matching ensureGraphIndex's baseCorpus (r17: payload
      // rides the store for the filtered arms)
      (dir, live, out) => AnnGraph.writeGraphIndexOverWithCentroids(spark,
        Tables.embeddings(spark, dir), out,
        AnnStore.readCentroids(spark, live), degree = 8,
        manifestStr = AnnStore.readManifest(spark, live).get)),
    Family("hnsw", hnswTables,
      (dir, p) => AnnHnsw.ensureHnswIndex(spark, dir, p),
      (dir, p) => AnnHnsw.refreshHnswIndex(spark, dir, p).head(),
      (dir, live, out) => AnnHnsw.writeHnswIndexOverWithCentroids(spark,
        Tables.embeddings(spark, dir), out,
        AnnStore.readCentroids(spark, live), k = 16, degree = 8, m = 4,
        degreeUp = 8, manifestStr = AnnStore.readManifest(spark, live).get)),
    Family("pq", _ => Seq("codes", "vectors", "books"),
      (dir, p) => AnnPq.ensurePqIndex(spark, dir, p),
      (dir, p) => AnnPq.refreshPqIndex(spark, dir, p).head(),
      (dir, live, out) => AnnPq.writePqIndexWithModel(spark, dir, out,
        AnnPq.readModel(spark, live), AnnStore.readManifest(spark, live).get)),
    Family("ivfpq", _ => Seq("codes", "vectors", "books", "centroids"),
      (dir, p) => AnnIvfPq.ensureIvfPqIndex(spark, dir, p),
      (dir, p) => AnnIvfPq.refreshIvfPqIndex(spark, dir, p).head(),
      (dir, live, out) => AnnIvfPq.writeIvfPqIndexWithModels(spark, dir, out,
        AnnStore.readCentroids(spark, live), AnnPq.readBooks(spark, live),
        AnnStore.readManifest(spark, live).get)),
    Family("opq", _ => Seq("codes", "vectors", "books", "rotation"),
      (dir, p) => AnnPq.ensurePqIndex(spark, dir, p, iters = OpqIters, rounds = OpqRounds),
      (dir, p) =>
        AnnPq.refreshPqIndex(spark, dir, p, iters = OpqIters, rounds = OpqRounds).head(),
      (dir, live, out) => AnnPq.writePqIndexWithModel(spark, dir, out,
        AnnPq.readModel(spark, live), AnnStore.readManifest(spark, live).get)),
    Family("sq8", _ => Seq("vectors"),
      (dir, p) => AnnSq.ensureSqIndex(spark, dir, p),
      (dir, p) => AnnSq.refreshSqIndex(spark, dir, p).head(),
      // stateless (closed-form quantizer): the pinned rebuild IS a cold
      // build over the new corpus
      (dir, _, out) => AnnSq.ensureSqIndex(spark, dir, out)))

  test("refresh equivalence property: every vector store family, random edit mixes") {
    for (fam <- families) {
      val dir = copyCorpus(fam.name)
      val root = Files.createTempDirectory(s"graft_prop_idx_${fam.name}").toString
      val live = s"$root/live"
      fam.ensure(dir, live)
      for (seed <- 1 to 2) {
        randomEdit(dir, seed)
        val r = fam.refresh(dir, live)
        assert(r.getString(0) == "incremental",
          s"${fam.name} seed $seed: mode=${r.getString(0)}")
        val rebuilt = s"$root/rebuilt$seed"
        fam.pinnedRebuild(dir, live, rebuilt)
        for (sub <- fam.tables(live))
          assert(tableOf(live, sub) == tableOf(rebuilt, sub),
            s"${fam.name} seed $seed: refreshed $sub differs from pinned rebuild")
      }
    }
  }

  test("late-interaction store: token-matrix payloads hold the property too") {
    val tx = graft.TransformerEmbedder.seeded(spark)
    val docs0 = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).limit(120).localCheckpoint()
    val root = Files.createTempDirectory("graft_prop_late").toString
    val live = s"$root/live"
    RagSearch.ensureLateIndex(spark, docs0, tx, live, kCells = 8, fp = "prop-v1")
    var docs = docs0
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed * 7919)
      val ids = docs.select("doc_id").collect().map(_.getLong(0)).sorted
      val shuffled = rnd.shuffle(ids.toSeq)
      docs = docs.filter(!col("doc_id").isin(shuffled.take(2): _*))
        .withColumn("text",
          when(col("doc_id").isin(shuffled.slice(2, 5): _*),
            concat(col("text"), lit(s" prop edit $seed")))
            .otherwise(col("text")))
        .unionByName(Seq((9000000L + seed, s"a fresh property document $seed"))
          .toDF("doc_id", "text"))
        .localCheckpoint()
      val m = RagSearch.lateManifest(8, tx.name, s"prop-v${seed + 1}")
      val r = AnnIvf.refreshIndexOver(spark, live,
        RagSearch.lateCorpusEncode(docs, tx), m).head()
      assert(r.getString(0) == "incremental", s"seed $seed: ${r.getString(0)}")
      val rebuilt = s"$root/rebuilt$seed"
      AnnIvf.writeIndexOverWithCentroids(spark,
        RagSearch.lateCorpusEncode(docs, tx), rebuilt,
        AnnStore.readCentroids(spark, live), m): Unit
      for (sub <- Seq("vectors", "centroids"))
        assert(tableOf(live, sub) == tableOf(rebuilt, sub),
          s"seed $seed: refreshed late $sub differs from pinned rebuild")
    }
  }

  test("postings store: intent-marker crash costs a full_crash rebuild equal to a cold build") {
    val chunks = Tables.documents(spark, sf).limit(150)
      .select(col("doc_id"), lit(0L).as("chunk_idx"),
        col("text").as("chunk_text")).localCheckpoint()
    val root = Files.createTempDirectory("graft_prop_lex").toString
    val live = s"$root/live"
    Bm25Store.writeLexicalIndexOver(spark, chunks, live, 16,
      Bm25Store.manifestFor(16, Seq(), "prop-lex-1"))
    // simulate a refresh that died inside its destructive window
    fs.create(new Path(live + "/.refresh.intent"), true).close()
    val edited = chunks.withColumn("chunk_text",
      when(col("doc_id") === 3L, concat(col("chunk_text"), lit(" crashed edit")))
        .otherwise(col("chunk_text"))).localCheckpoint()
    val r = Bm25Store.refreshLexicalIndexOver(spark, live, edited,
      Bm25Store.manifestFor(16, Seq(), "prop-lex-2")).head()
    assert(r.getString(0) == "full_crash", s"mode=${r.getString(0)}")
    assert(!fs.exists(new Path(live + "/.refresh.intent")),
      "the rebuild must clear the marker")
    val rebuilt = s"$root/rebuilt"
    Bm25Store.writeLexicalIndexOver(spark, edited, rebuilt, 16,
      Bm25Store.manifestFor(16, Seq(), "prop-lex-2"))
    for (sub <- Seq("postings", "chunks", "stats"))
      assert(tableOf(live, sub) == tableOf(rebuilt, sub),
        s"post-crash rebuild $sub differs from cold build")
  }

  test("sq8 restamp edge: a float edit too small to move any int8 code rewrites nothing") {
    val dir = copyCorpus("sq8edge")
    val root = Files.createTempDirectory("graft_prop_sq8e").toString
    val live = s"$root/live"
    AnnSq.ensureSqIndex(spark, dir, live)
    // snap one NON-max component of one row exactly onto its code's
    // dequantization center: the float value changes, the int8 code and
    // the scale (max |component|) provably do not
    val row = spark.read.parquet(dir + "/embeddings.parquet")
      .filter(col("vec_id") === 42L).head()
    val v = row.getSeq[Float](1).toArray
    val scale = v.map(x => math.abs(x.toDouble)).max
    val maxIdx = v.indexWhere(x => math.abs(x.toDouble) == scale)
    val j = if (maxIdx == 0) 1 else 0
    val code = math.round(v(j) / scale * 127.0)
    val snapped = (code.toDouble / 127.0 * scale).toFloat
    assume(snapped != v(j), "component already centered — pick another row")
    assert(math.round(snapped / scale * 127.0) == code, "snap must keep the code")
    val before = AnnStore.pathFingerprint(spark, live + "/vectors")
    swapIn(dir, spark.read.parquet(dir + "/embeddings.parquet")
      .withColumn("embedding",
        when(col("vec_id") === 42L,
          transform(col("embedding"), (x, i) =>
            when(i === j, lit(snapped)).otherwise(x)))
          .otherwise(col("embedding"))))
    val r = AnnSq.refreshSqIndex(spark, dir, live).head()
    assert(r.getString(0) == "restamp",
      s"sub-quantum edit must restamp, not rewrite: mode=${r.getString(0)}")
    assert(AnnStore.pathFingerprint(spark, live + "/vectors") == before,
      "restamp must leave the stored int8 table byte-identical")
    // and the refreshed manifest matches the mutated corpus (gate quiet)
    AnnSq.ensureSqIndex(spark, dir, live)
    assert(AnnStore.pathFingerprint(spark, live + "/vectors") == before)
  }
}
