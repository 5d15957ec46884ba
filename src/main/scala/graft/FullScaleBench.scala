package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The r13 whole-suite scale receipt (SURVEY §4g): every bench query run
  * at sf0.1 AND at a synthesized `scale`× corpus covering ALL tables —
  * §4e/§4f receipts scale chosen operators; this one hunts for the cliff
  * nobody chose to look at. The oracle gate at sf0.01 is untouched;
  * nothing here feeds the driver contract.
  *
  * Corpus synthesis preserves the join topology: every key column shifts
  * by `rep × stride` with ONE stride per key domain, so foreign keys in
  * replica r reference exactly replica r's dimension rows (a replicated
  * customer's orders are replicated orders, never cross-replica fanout).
  * Non-key columns copy verbatim — document replicas are exact duplicates,
  * which is the realistic crawl shape and deliberately stresses the dedup
  * operators' hot-group paths.
  *
  * Declared quadratics stay quadratic: dedup_embedding (B5) is the exact
  * all-pairs BASELINE whose scale twin is B5b — its ratio is expected to
  * be ~scale², and the receipt names it rather than hiding it.
  *
  * Usage: runMain graft.FullScaleBench [srcSfDir] [workDir] [scale]
  * Output: one JSON line with per-query src/scaled seconds + ratio and a
  * `super_linear` list (ratio > 1.5×scale, declared quadratics excluded).
  */
object FullScaleBench {

  /** Key domains → the columns carrying them, per table. One stride per
    * domain keeps FK joins replica-local. int32 key domains use a small
    * stride so shifted values stay within the column type.
    */
  private val Int64Stride = 1L << 32
  private val Int32Stride = 1000000L

  // table -> (int64-shifted columns, int32-shifted columns)
  private val keyCols: Map[String, (Seq[String], Seq[String])] = Map(
    "region" -> (Seq.empty, Seq("r_regionkey")),
    "nation" -> (Seq.empty, Seq("n_nationkey", "n_regionkey")),
    "customer" -> (Seq("c_custkey"), Seq("c_nationkey")),
    "supplier" -> (Seq("s_suppkey"), Seq("s_nationkey")),
    "part" -> (Seq("p_partkey"), Seq.empty),
    "orders" -> (Seq("o_orderkey", "o_custkey"), Seq.empty),
    "lineitem" -> (Seq("l_orderkey", "l_partkey", "l_suppkey"), Seq.empty),
    "events" -> (Seq("event_id", "user_id"), Seq.empty),
    "documents" -> (Seq("doc_id"), Seq.empty),
    "embeddings" -> (Seq("vec_id"), Seq.empty))

  /** Queries whose scaled cost is DECLARED super-linear by design — exact
    * baselines whose bounded twins are the scale path.
    */
  private val DeclaredQuadratic = Set("dedup_embedding")

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_fullscale"
    val scale = if (args.length > 2) args(2).toInt else 10
    val spark = LocalSession.start("graft-fullscale")
    val cpus = spark.sparkContext.defaultParallelism

    val dir = work + "/corpus"
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Tables.names.foreach { t =>
      val out = new org.apache.hadoop.fs.Path(dir, s"$t.parquet")
      val srcDf = Tables.load(spark, src, t)
      val expected = srcDf.count() * scale
      // a partially-written corpus from a killed run has no readable
      // footers — any validation failure means regenerate, not abort
      val stale = fs.exists(out) &&
        scala.util.Try(spark.read.parquet(out.toString).count())
          .toOption.forall(_ != expected)
      if (stale) fs.delete(out, true)
      if (!fs.exists(out)) {
        // fail fast, by name: an unmapped table means the synthesis would
        // silently break the replica-local join topology — better one
        // explicit error before any query runs than a bare map miss
        val (k64, k32) = keyCols.getOrElse(t, sys.error(
          s"FullScaleBench.keyCols has no key-domain entry for table '$t' — " +
            "add its shifted key columns (or (Nil, Nil) if it has none)"))
        var df = srcDf.withColumn("rep",
          explode(sequence(lit(0), lit(scale - 1))))
        k64.foreach(c => df = df.withColumn(c, col(c) + col("rep") * Int64Stride))
        k32.foreach(c => df = df.withColumn(c,
          (col(c) + col("rep") * Int32Stride).cast("int")))
        df.drop("rep").repartition(cpus)
          .write.mode("overwrite").parquet(out.toString)
      }
    }

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // a query that CRASHES on either corpus must surface in the receipt —
    // swallowing it would record time-to-failure as a valid sample and
    // report the exact cliff this receipt exists to find as covered
    def run(fn: (SparkSession, String) => DataFrame, d: String): Boolean =
      try { fn(spark, d).count(); true } catch { case _: Throwable => false }
    // one untimed warmup per (query, dir), then one timed run — the
    // receipt wants the ratio's ORDER of magnitude, not a tight bound
    val rows = SparkEntry.benchQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
      run(fn, src)
      var ok = true
      val tSrc = time { ok &= run(fn, src) }
      run(fn, dir)
      val tScaled = time { ok &= run(fn, dir) }
      (name, tSrc, tScaled, tScaled / math.max(tSrc, 1e-3), ok)
    }
    def r(x: Double) = math.round(x * 1000) / 1000.0
    val failed = rows.filter(!_._5).map(_._1)
    val superLinear = rows.filter(q =>
      q._5 && q._4 > 1.5 * scale && !DeclaredQuadratic(q._1)).map(_._1)
    val qJson = rows.map { case (n, a, b, ra, ok) =>
      s""""$n":{"src":${r(a)},"scaled":${r(b)},"ratio":${r(ra)},"ok":$ok}"""
    }.mkString("{", ",", "}")
    // Standing 10× cadence: the scaled-corpus timings accrete in
    // bench_history.jsonl under their own sf key (the synthesis is
    // deterministic, so a regenerated corpus is the same vintage), and
    // the run self-compares against the LAST same-key entry — cross-round
    // drift is now tracked at BOTH scales, not just the driver's sf0.1
    // (the r13 scale cliffs were only visible at 10×). Failed queries
    // never enter the history (their timings are time-to-failure).
    val histKey = s"fullscale:${scale}x:$src"
    val okRows = rows.filter(_._5)
    // single timed sample per query here, so the min IS the sample —
    // written under both fields to keep the history format uniform, and
    // compared via mins like the per-round bench
    val drift = BenchHistory.driftVs(BenchHistory.lastMinsFor(histKey),
      okRows.map(q => q._1 -> q._3).toMap)
    BenchHistory.append(histKey, okRows.map(q => q._1 -> r(q._3)),
      okRows.map(q => q._1 -> r(q._3)))
    val driftJson = drift.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"full_scale_receipt","scale":$scale,""" +
      s""""n_queries":${rows.length},""" +
      s""""total_src_sec":${r(rows.map(_._2).sum)},""" +
      s""""total_scaled_sec":${r(rows.map(_._3).sum)},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""super_linear":${superLinear.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""declared_quadratic":${DeclaredQuadratic.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""drift":$driftJson,""" +
      s""""queries":$qJson}""")
    if (failed.nonEmpty) {
      System.err.println(s"[full-scale] FAILED queries: ${failed.mkString(", ")}")
      spark.stop()
      sys.exit(1)
    }
    spark.stop()
  }
}
