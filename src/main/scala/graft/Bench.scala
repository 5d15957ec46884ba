package graft

/** Benchmark main — driver contract: the LAST stdout line is one compact
  * JSON object `{"metric":"total","value":…}` (scalars + bounded flag
  * lists only — the driver's tail capture is finite and a 73-query dict
  * overflowed it in r12); per-query min/median/spread ride the preceding
  * "detail" line, and a complete median history accretes in
  * bench_history.jsonl for cross-round drift detection.
  *
  * Methodology: a warmup pass first touches every input table, then each
  * query runs once untimed (codegen compile + JIT + FS cache) and then
  * SPARK_GRAFT_BENCH_REPS times (default 3) timed, in sorted name order —
  * so the reported number is steady-state per-query latency, not whichever
  * query happened to pay session warmup.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.start("graft-bench")

    // warmup: touch inputs + exercise codegen/shuffle machinery once
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count() catch { case _: Throwable => () }
    }
    // N timed runs (after the untimed warmup): a single sample is hostage
    // to co-tenant noise on shared hosts. The headline number stays the
    // minimum (the engine's actual cost); the median and the relative
    // spread (max-min)/median ride alongside so a delta between rounds can
    // be attributed to code vs environmental drift — a large spread means
    // the host was noisy and the min is the only trustworthy sample.
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt.max(1)
    // noise guard: when all reps of one query land in a noisy host window
    // even min-of-N lies (a 4× environmental outlier once shipped as the
    // round's number). If the relative spread exceeds NoisySpread, take one
    // extra sample; a query still past the threshold after that is carried
    // in a "noisy" list ON THE CONTRACT LINE so no consumer can mistake its
    // number for a code regression.
    val NoisySpread = 0.5
    def spreadOf(samples: Seq[Double], median: Double): Double =
      if (median > 0) (samples.last - samples.head) / median else 0.0
    def medianOf(samples: Seq[Double]): Double =
      if (samples.length % 2 == 1) samples(samples.length / 2)
      else (samples(samples.length / 2 - 1) + samples(samples.length / 2)) / 2.0
    // benchQueries: queries, minus oracle-fixture costs that would time
    // the test harness instead of the operator (see SparkEntry.benchQueries)
    // crash-as-failure: a query that throws must surface in a "failed"
    // list and a nonzero exit — recording time-to-failure as a valid
    // sample ships a flattering number for a broken query (the defect
    // class the r13 10× receipt hardening caught)
    val failedSet = scala.collection.mutable.SortedSet.empty[String]
    // component rows (name contains '.') ride every detail map and the
    // history, but NOT the headline total: their cost is already inside
    // the corresponding full query — summing both would double-count
    val results = (SparkEntry.benchQueries ++ SparkEntry.benchComponents)
      .toSeq.sortBy(_._1).map { case (name, fn) =>
      try { fn(spark, sfDir).count() } catch { case _: Throwable => () }
      // a throwing run yields NO sample: its time-to-failure must never
      // enter the min/median/total maps (it would ship a flattering number
      // for a broken query and trip spurious drift flags on the next
      // healthy run) — failures surface only via the failed list + exit 1
      def sample(): Option[Double] = {
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case _: Throwable => failedSet += name; None }
      }
      var samples = (1 to reps).flatMap(_ => sample()).sorted
      val retried = samples.length > 1 &&
        spreadOf(samples, medianOf(samples)) > NoisySpread
      if (retried) samples = (samples ++ sample()).sorted
      if (samples.isEmpty) None
      else {
        val median = medianOf(samples)
        Some((name, samples.head, median, spreadOf(samples, median), retried))
      }
    }.flatten
    def obj(f: ((String, Double, Double, Double, Boolean)) => (String, Double)): String =
      results.map { r => val (k, v) = f(r); "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qs = obj(r => r._1 -> r._2)
    val med = obj(r => r._1 -> r._3)
    val spr = obj(r => r._1 -> BigDecimal(r._4).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val noisy = results.filter(_._4 > NoisySpread).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    // retried queries' stats come from reps+1 samples — named on the detail
    // line so a cross-round median comparison knows the sample count moved
    val retriedNames = results.filter(_._5).map("\"" + _._1 + "\"")
      .mkString("[", ",", "]")
    val total = results.filterNot(_._1.contains(".")).map(_._2).sum
    // Cross-round drift: the bench maintains its own complete history file
    // (the driver's tail capture truncates, so BENCH_r*.json is not a
    // reliable archive — r12's 73-query total line overflowed it and the
    // round shipped with parsed:null). Each run appends its median map
    // under its sf key and compares against the last same-key entry —
    // noise vs regression gets adjudicated by the bench itself, not the
    // judge. Protocol (format, thresholds) single-sourced in BenchHistory,
    // shared with FullScaleBench's 10× cadence.
    // drift compares MIN-of-reps (contention inflates medians, rarely
    // minima — see BenchHistory's scaladoc for the r14 incident); medians
    // still accrete for spread context
    val minNow = results.map(r => r._1 -> r._2).toMap
    val drift = BenchHistory.driftVs(BenchHistory.lastMinsFor(sfDir), minNow)
    val driftJson = drift.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    BenchHistory.append(sfDir, results.map(r => r._1 -> r._3),
      results.map(r => r._1 -> r._2))
    // Per-query detail FIRST (min map, medians, spread, drift), then the
    // compact driver contract line LAST — the driver tail-captures the
    // final line and its window is finite; at 73 queries an embedded
    // queries dict overflowed it (BENCH_r12 parsed:null), so the total
    // line carries only scalars + the normally-empty noisy/drift names.
    val failed = failedSet.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"detail","reps":$reps,"retried":$retriedNames,"failed":$failed,"drift":$driftJson,"queries":$qs,"queries_median":$med,"queries_spread":$spr,"sf":"$sfDir"}""")
    println(s"""{"metric":"total","value":$total,"unit":"sec","reps":$reps,"failed":$failed,"noisy":$noisy,"drift":$driftJson,"sf":"$sfDir"}""")
    spark.stop()
    if (failedSet.nonEmpty) {
      System.err.println(s"[bench] FAILED queries: ${failedSet.mkString(", ")}")
      sys.exit(1)
    }
  }
}
