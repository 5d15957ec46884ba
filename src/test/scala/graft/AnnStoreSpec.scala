package graft

import graft.operators.{AnnGraph, AnnIvf, AnnStore}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The persisted-ANN-index contract: manifest freshness gate (a mutated or
  * regenerated corpus can never be silently served from a stale index) and
  * crash safety (a crash mid-build never destroys the live index; a crash
  * mid-swap self-heals). Reference contract: src/persistence.ts — load
  * refuses on metadata mismatch, which triggers a cold rebuild.
  */
class AnnStoreSpec extends SparkSpecBase {

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** A private mutable copy of the sf corpus's embeddings table. */
  private def copyCorpus(): String = {
    val dir = Files.createTempDirectory("graft_annstore_sf").toString
    spark.read.parquet(sf + "/embeddings.parquet")
      .write.parquet(dir + "/embeddings.parquet")
    dir
  }

  /** In-place corpus mutation: keep only vec_id < keep (rewrite the table). */
  private def mutateCorpus(dir: String, keep: Int): Unit = {
    val tmp = dir + "/embeddings.parquet.next"
    spark.read.parquet(dir + "/embeddings.parquet")
      .filter(col("vec_id") < keep)
      .write.parquet(tmp)
    val target = new Path(dir, "embeddings.parquet")
    fs.delete(target, true)
    assert(fs.rename(new Path(tmp), target))
  }

  test("manifest renders string params as valid JSON and round-trips ints") {
    val m = AnnStore.manifest("graph",
      Seq("k" -> 16, "degree" -> 8, "metric" -> "cosine"), "fp:1")
    assert(m.contains(""""metric":"cosine""""))
    assert(m.contains(""""fingerprint":"fp:1""""))
    assert(AnnStore.manifestInt(m, "k").contains(16))
    assert(AnnStore.manifestInt(m, "degree").contains(8))
    // embedded quotes/backslashes escape rather than corrupting the JSON
    val esc = AnnStore.manifest("""we"ird""", Seq("p" -> """a\b"""), "f")
    assert(esc.contains("""we\"ird""") && esc.contains("""a\\b"""))
  }

  test("per-file fingerprint changes on any rewrite, even size-preserving ones") {
    val dir = copyCorpus()
    val f1 = AnnStore.corpusFingerprint(spark, dir)
    assert(f1 != "absent" && f1.length == 32)
    // same logical content, regenerated files → different fingerprint
    val tmp = dir + "/embeddings.parquet.next"
    spark.read.parquet(dir + "/embeddings.parquet").write.parquet(tmp)
    val target = new Path(dir, "embeddings.parquet")
    fs.delete(target, true)
    assert(fs.rename(new Path(tmp), target))
    assert(AnnStore.corpusFingerprint(spark, dir) != f1)
  }

  test("graph freshness gate: unchanged corpus is a no-op; mutation forces a rebuild equal to a cold build") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_gate_idx").toString + "/idx"
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    val m1 = AnnStore.readManifest(spark, idx)
    assert(m1.isDefined)
    val built1 = fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime
    // second ensure: manifest matches → no rebuild (manifest file untouched)
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    assert(fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime == built1)
    // mutate the corpus under the SAME directory → the old probe (path
    // string + _SUCCESS) would silently serve the stale graph; the
    // fingerprint gate must rebuild instead
    mutateCorpus(dir, keep = 400)
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    val m2 = AnnStore.readManifest(spark, idx)
    assert(m2.isDefined && m2 != m1, "manifest must change with the corpus")
    assert(spark.read.parquet(idx + "/vectors").count() == 400)
    // the refreshed index serves exactly what a cold build over the mutated
    // corpus serves (deterministic training → row-identical)
    val cold = Files.createTempDirectory("graft_gate_cold").toString + "/idx"
    AnnGraph.writeGraphIndex(spark, dir, cold)
    val a = AnnGraph.annGraphServed(spark, idx).collect().map(_.toSeq).toSeq
    val b = AnnGraph.annGraphServed(spark, cold).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("crash mid-build leaves the live index serving; crash mid-swap self-heals") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_crash_idx").toString + "/idx"
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    val r1 = AnnGraph.annGraphServed(spark, idx).collect().map(_.toSeq).toSeq
    // crash MID-BUILD: a dead .staging exists, never swapped — the live
    // index is untouched and still serves; the gate still matches
    val staging = new Path(idx + ".staging")
    fs.mkdirs(new Path(staging, "vectors"))
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    val r2 = AnnGraph.annGraphServed(spark, idx).collect().map(_.toSeq).toSeq
    assert(r2 == r1)
    // crash MID-SWAP: old index moved to .backup, new rename never happened
    // — readManifest renames the backup back (self-heal) and serving resumes
    fs.delete(staging, true)
    assert(fs.rename(new Path(idx), new Path(idx + ".backup")))
    assert(AnnStore.readManifest(spark, idx).isDefined, "backup self-heal")
    val r3 = AnnGraph.annGraphServed(spark, idx).collect().map(_.toSeq).toSeq
    assert(r3 == r1)
    // absent manifest (pre-manifest or corrupt index) → gate rebuilds
    fs.delete(new Path(idx, AnnStore.ManifestFile), false)
    AnnGraph.ensureGraphIndex(spark, dir, idx)
    assert(AnnStore.readManifest(spark, idx).isDefined)
  }

  test("IVF store rides the same gate: mutation rebuilds, manifest carries k") {
    val dir = copyCorpus()
    val idx = Files.createTempDirectory("graft_ivf_gate").toString + "/idx"
    AnnIvf.ensureIvfIndex(spark, dir, idx, k = 8)
    val m1 = AnnStore.readManifest(spark, idx)
    assert(m1.isDefined && AnnStore.manifestInt(m1.get, "k").contains(8))
    val built1 = fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime
    AnnIvf.ensureIvfIndex(spark, dir, idx, k = 8)
    assert(fs.getFileStatus(new Path(idx, AnnStore.ManifestFile)).getModificationTime == built1)
    mutateCorpus(dir, keep = 300)
    AnnIvf.ensureIvfIndex(spark, dir, idx, k = 8)
    assert(AnnStore.readManifest(spark, idx) != m1)
    assert(spark.read.parquet(idx + "/vectors").count() == 300)
    // different k → different manifest → rebuild (param part of the gate)
    AnnIvf.ensureIvfIndex(spark, dir, idx, k = 4)
    assert(AnnStore.manifestInt(AnnStore.readManifest(spark, idx).get, "k").contains(4))
  }

  test("inParallel rethrows the first task error with the others suppressed") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    val e = intercept[IllegalStateException] {
      AnnStore.inParallel(Seq(
        () => throw new IllegalStateException("a"),
        () => { ran.incrementAndGet(); () },
        () => throw new IllegalStateException("b")))
    }
    assert(ran.get() == 1)
    assert(e.getSuppressed.length == 1)
    assert(Set(e.getMessage, e.getSuppressed.head.getMessage) == Set("a", "b"))
  }

  test("inParallel tasks run in the caller's pin scope: their tracked checkpoints are released") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    AnnStore.releasingPinned(spark) {
      AnnStore.inParallel(Seq(
        () => AnnStore.trackedCheckpoint(spark.range(50).toDF("x")).count(): Unit,
        () => AnnStore.trackedCheckpoint(spark.range(60).toDF("y")).count(): Unit))
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "a checkpoint tracked inside an inParallel task must not outlive the caller's scope")
  }
}
