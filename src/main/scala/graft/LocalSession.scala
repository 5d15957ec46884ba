package graft

import org.apache.spark.sql.SparkSession

/** The one session factory for graft's entry points (`Verify`, `Bench`,
  * the scale receipts, `tools.Demo`): `local[n]` with `n` shuffle
  * partitions, where `n` is `SPARK_GRAFT_CPUS` when set and the machine's
  * core count otherwise. Session time zone UTC (the oracle's), UI off, and
  * nanosecond parquet timestamps read as longs so `Tables.events` can
  * convert them — the same conf the test session uses. Adaptive execution
  * is Spark's default and is not restated.
  */
object LocalSession {
  def start(appName: String): SparkSession = {
    val n = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .appName(appName)
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
