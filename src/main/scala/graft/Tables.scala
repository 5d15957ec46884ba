package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Loaders for the driver-generated parquet tables (see TESTDATA.md).
  *
  * All operators take an `sfDir` (scale-factor directory) and read only the
  * tables they need; Catalyst prunes columns at the parquet scan, so loaders
  * never pre-select. At cluster scale these would be catalog tables bucketed
  * by their primary key; here they are plain parquet files.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Columns every operator relies on, asserted at load so a drifted input
    * fails with the contract, not a deep AnalysisException.
    */
  private val requiredCols: Map[String, Seq[String]] = Map(
    "documents" -> Seq("doc_id", "text", "lang", "source", "n_chars"),
    "embeddings" -> Seq("vec_id", "embedding", "label"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "lineitem" -> Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_discount",
      "l_returnflag", "l_linestatus", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
    "customer" -> Seq("c_custkey", "c_mktsegment"),
    "part" -> Seq("p_partkey", "p_brand", "p_retailprice"))

  /** Per-path schema memo (r19): `spark.read.parquet` runs a footer-reading
    * schema-inference JOB on every call — one to three such jobs rode every
    * query invocation (OPTIMIZATION_r19.md's job listing shows them as
    * `parquet at Tables.scala` lines), pure driver-round latency at any
    * scale (guide §1.2, §6). A table path's schema is a stable property
    * within a session — testdata is immutable, synthesized receipt corpora
    * are written once behind exists-gates, and content refreshes preserve
    * schemas — so it is inferred once per path per JVM and passed
    * explicitly afterwards. The events table's vintage-dependent `ts` type
    * is part of the inferred schema and memoizes per path like everything
    * else (its callers set the nanos conf before the first load, exactly
    * as before).
    */
  private val schemaMemo =
    scala.collection.concurrent.TrieMap.empty[String, StructType]

  def load(spark: SparkSession, sfDir: String, table: String): DataFrame = {
    val path = s"$sfDir/$table.parquet"
    val schema = schemaMemo.getOrElseUpdate(path, spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    requiredCols.get(table).foreach { cols =>
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"table $table at $sfDir is missing required columns: ${missing.mkString(", ")}")
    }
    df
  }

  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")

  /** documents-table schema for STREAMING file sources (batch reads infer
    * from footers). Includes the optional `byte_size` change-detection key
    * that directory/JSONL corpora land — ABSENT in the synthetic tables,
    * where the streaming reader surfaces it as null and [[changeKey]]
    * falls back, keeping stream ≡ batch on every table shape. The one
    * definition every streaming documents reader must use: a pruned copy
    * here is how the stream silently diverges from the batch index.
    */
  val documentsStreamSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType), StructField("byte_size", LongType)))

  /** ONE definition of a documents frame's change-detection size — the
    * value the chunk store persists as `file_size` AND the key
    * `Graft.incrementalUpdate` diffs it against; two call sites computing
    * it independently is how every doc gets misclassified as changed.
    * `byte_size` when the frame carries one (real on directory/JSONL
    * corpora, null when a fixed streaming schema reads a synthetic table —
    * hence the coalesce), else `n_chars`.
    */
  def changeKey(df: DataFrame): Column = {
    import org.apache.spark.sql.functions.{coalesce, col}
    if (df.columns.contains("byte_size")) coalesce(col("byte_size"), col("n_chars"))
    else col("n_chars")
  }
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** `events.ts` arrives as either parquet TIMESTAMP(NANOS) — which Spark's
    * vectorized reader rejects, so the legacy conf reads the nanos as a
    * plain long to truncate to microseconds (DuckDB TIMESTAMP precision,
    * keeping oracle comparisons exact) — or, in newer testdata generations,
    * as a plain microsecond timestamp served as-is. Branch on the LOADED
    * type, not the file vintage.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, sfDir, "events")
    import org.apache.spark.sql.functions._
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // align with the nanos vintage's TIMESTAMP (LTZ) so downstream
        // unix_micros/window arithmetic type-checks identically; the
        // session timezone is UTC everywhere, so values are unchanged
        raw.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw // already TIMESTAMP (µs) — nothing to convert
    }
  }

  /** The streaming twin of [[events]]: a file-source stream over event
    * parquet whose `ts` lands as TIMESTAMP (LTZ, µs) regardless of the
    * file vintage — nanos-long files convert via `div 1000`, native
    * microsecond (NTZ) files cast (value-preserving under the UTC session
    * timezone). The vintage is probed from the batch footer because a
    * stream's schema must be declared before any file is opened.
    */
  private[graft] def eventsStream(spark: SparkSession, path: String,
                                  glob: Option[String] = Some("events.parquet"),
                                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val probePath = glob.map(g => s"$path/$g").getOrElse(path)
    // define-then-populate support: with no file to probe yet, assume the
    // CURRENT generation's vintage (NTZ µs timestamps) — a wrong guess
    // fails loudly at first read, like any static-schema mismatch would.
    // All THREE vintages the batch reader tolerates are declared here:
    // long nanos (legacy conf), TIMESTAMP_NTZ µs (current generation),
    // and adjusted-to-UTC TIMESTAMP µs (served as-is).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed: DataType =
      try spark.read.parquet(probePath).schema("ts").dataType
      catch { case _: org.apache.spark.sql.AnalysisException => TimestampNTZType }
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", probed),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    var rdr = spark.readStream.schema(schema)
    glob.foreach(g => rdr = rdr.option("pathGlobFilter", g))
    maxFilesPerTrigger.foreach(n => rdr = rdr.option("maxFilesPerTrigger", n))
    val raw = rdr.parquet(path)
    probed match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => raw // adjusted-to-UTC µs (or INT96) — as-is
      case other => throw new IllegalArgumentException(
        s"eventsStream: unsupported ts type $other at $probePath — " +
          "expected TIMESTAMP(NANOS)-as-long, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
}
