package graft

import graft.operators.AnnStore
import org.apache.hadoop.fs.Path
import java.nio.file.Files

/** Receipt for the r19 serve-path sidecar memo (AnnStore.memoizedRead):
  * identical (path, tag, live-manifest) must hit the memo (loader runs
  * once), any manifest change — rebuild, refresh, restamp — must rotate
  * the key (loader runs again), and a store with no live manifest is
  * never cached. End-to-end staleness is covered by AnnRefreshSpec's
  * serve-after-refresh assertions, which now run through the memo.
  */
class AnnServeMemoSpec extends SparkSpecBase {

  private def writeManifest(root: String, m: String): Unit = {
    val fs = AnnStore.fileSystem(spark, root)
    AnnStore.writeManifestFile(fs, new Path(root), m)
  }

  test("memoizedRead: one load per (path, tag, manifest); manifest change reloads; no manifest never caches") {
    val root = Files.createTempDirectory("graft_memo").toString + "/store"
    AnnStore.fileSystem(spark, root).mkdirs(new Path(root))
    var loads = 0
    def load(): Integer = { loads += 1; Integer.valueOf(loads) }

    // no live manifest: every call loads (nothing to invalidate on)
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) == 1)
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) == 2)

    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"a"}""")
    val v1 = AnnStore.memoizedRead(spark, root, "t")(load())
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) eq v1,
      "same manifest must return the memoized instance without reloading")
    val afterHit = loads

    // a DIFFERENT tag under the same store is its own entry
    AnnStore.memoizedRead(spark, root, "other")(load())
    assert(loads == afterHit + 1)

    // manifest content change (refresh/rebuild/restamp all rewrite it)
    // rotates the key — the stale value can never be served
    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"b"}""")
    val v2 = AnnStore.memoizedRead(spark, root, "t")(load())
    assert(!(v2 eq v1), "manifest change must invalidate the memo")
    assert(AnnStore.memoizedRead(spark, root, "t")(load()) eq v2)
  }

  test("memoizedRead: past its capacity the memo evicts one entry, not all; the latest entries still hit") {
    val root = Files.createTempDirectory("graft_memo_cap").toString + "/store"
    AnnStore.fileSystem(spark, root).mkdirs(new Path(root))
    writeManifest(root, """{"version":1,"kind":"x","fingerprint":"cap"}""")
    val cap = AnnStore.ServeMemoCapacity
    var loads = 0
    def read(tag: Int): AnyRef =
      AnnStore.memoizedRead(spark, root, s"t$tag") { loads += 1; new Object }
    val n = cap + 10
    val first = (0 until n).map(read)
    assert(loads == n)
    assert(AnnStore.serveMemoSize <= cap, s"memo grew to ${AnnStore.serveMemoSize}")
    // the last `cap` inserts all survive: no clear-everything at the bound
    val hot = n - cap until n
    hot.foreach(t => assert(read(t) eq first(t), s"entry t$t was evicted"))
    assert(loads == n, "a recent entry reloaded")
    // the oldest entry was the one evicted
    read(0)
    assert(loads == n + 1)
    assert(AnnStore.serveMemoSize <= cap)
  }
}
