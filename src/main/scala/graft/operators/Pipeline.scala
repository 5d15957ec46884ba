package graft.operators

import graft.Tables
import graft.functions.Text
import graft.plans.TextExprs
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the reference's own surface
  * (SURVEY §2 F) — the curation passes that run between raw crawl and
  * training shards at 100 TB: normalization, PII scrubbing, repetition
  * filtering (Gopher-style), deterministic stratified sampling, and
  * benchmark-contamination checks. All oracle-checked.
  */
object Pipeline {

  /** The canonical normalization expression — lowercase, strip
    * non-alphanumerics, collapse whitespace. Shared by the batch query and
    * the streaming curation ingest so their spec-checked equality can't
    * drift.
    */
  def normExpr(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** F1: text normalization — the canonical first pass of any curation
    * pipeline. Pure per-row transform (no shuffle) — runs at scan speed at
    * any scale. `changed` compares content, not just length: a
    * case-only edit ("Hello" → "hello") keeps the length but is a change.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars_raw"),
        normExpr(col("text")).as("norm_text"),
        col("text"))
      .withColumn("n_chars_norm", length(col("norm_text")).cast("long"))
      .withColumn("changed", col("norm_text") =!= col("text"))
      .drop("text")
      .orderBy("doc_id")
  }

  /** F2: PII redaction — regex scrubbing of emails / phone numbers / IPv4
    * addresses, with per-category counts for audit. The synthetic corpus
    * carries no PII, so the operator runs over a deterministic PII-bearing
    * construction (text + a contact line derived from doc_id) — the oracle
    * builds the identical input, so the redaction itself is what's checked.
    * Regexes are chosen to mean the same thing under Java regex (Spark) and
    * RE2 (DuckDB). Per-row transform, no shuffle.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9][0-9\\-]{6,}[0-9]"
  val Ipv4Re = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  def piiRedact(spark: SparkSession, sfDir: String): DataFrame = {
    val full = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com tel +1-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" host 10.0."), (col("doc_id") % 256).cast("string"),
      // modular form: full-range hash ids would ANSI-overflow a direct
      // doc_id*7 (same class as the mixBucket fix; identical values
      // wherever the product didn't overflow)
      lit("."), (((col("doc_id") % 256) * 7) % 256).cast("string"))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), full.as("full_text"))
      .select(col("doc_id"),
        size(regexp_extract_all(col("full_text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("full_text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
        size(regexp_extract_all(col("full_text"), lit(Ipv4Re), lit(0))).cast("long").as("n_ips"),
        regexp_replace(regexp_replace(regexp_replace(col("full_text"),
          EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"), Ipv4Re, "<IP>").as("redacted"))
      // right-60 via an explicit start offset — negative-start substring
      // edge semantics differ between engines on short strings
      .withColumn("redacted_tail",
        expr("substr(redacted, greatest(length(redacted) - 59, 1))"))
      .drop("redacted")
      .orderBy("doc_id")
  }

  /** F3: repetition-based quality signals (Gopher-rule style): the fraction
    * of the document covered by its most frequent token and most frequent
    * word bigram. High values mean boilerplate/degenerate text. One explode
    * + aggregate keyed by doc_id — partial aggregation collapses the
    * per-code counts map-side, so the shuffle carries (doc, code) partials,
    * never raw token streams.
    *
    * CJK-aware (ASCII corpora bit-identical): whitespace tokenization sees a
    * spaceless script as ONE token per sentence, so the token stream is the
    * CJK-blanked text's tokens PLUS the CJK codepoint bigrams
    * ([[graft.functions.Text.cjkBigrams]]) — a repeated CJK phrase now
    * raises top_token_frac exactly like a repeated word does. The word-
    * bigram stream shingles the blanked tokens.
    */
  def qualityRepetition(spark: SparkSession, sfDir: String,
                        topTokThresh: Double = 0.30,
                        topBigramThresh: Double = 0.20): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    val blanked = regexp_replace(col("text"), graft.functions.Text.CjkClass, " ")
    def topFrac(codes: Column, outN: String, outTop: String): DataFrame =
      d.select(col("doc_id"), explode(codes).as("code"))
        .groupBy(col("doc_id"), col("code")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as(outN), max(col("c")).as(outTop))
    val tokStats = topFrac(
      concat(TextExprs.tokenCodes(blanked, 31),
        transform(graft.functions.Text.cjkBigrams(col("text")),
          b => graft.functions.Text.stringCode(b))),
      "n_tokens", "top_token_n")
    val biStats = topFrac(TextExprs.shingleCodes(blanked, 2), "n_bigrams", "top_bigram_n")
    d.select(col("doc_id"))
      .join(tokStats, Seq("doc_id"), "left_outer")
      .join(biStats, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("top_token_n"), lit(0L)).as("top_token_n"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"))
      .withColumn("top_token_frac", round(
        col("top_token_n").cast("double") / greatest(col("n_tokens"), lit(1L)).cast("double")
          + lit(1e-9), 4))
      .withColumn("top_bigram_frac", round(
        col("top_bigram_n").cast("double") / greatest(col("n_bigrams"), lit(1L)).cast("double")
          + lit(1e-9), 4))
      .withColumn("repetitive",
        col("top_token_frac") > topTokThresh || col("top_bigram_frac") > topBigramThresh)
      .orderBy("doc_id")
  }

  /** F4: deterministic stratified sampling — per-language Bernoulli rates via
    * a multiplicative hash of doc_id (Knuth 2654435761), so the sample is
    * reproducible, join-free, and shuffle-free: a pure filter that any
    * executor evaluates locally. `weight` = 1/rate is the inverse-probability
    * reweight downstream estimators need.
    */
  val SampleRates: Map[String, Int] = // per-mille keep thresholds
    Map("en" -> 500).withDefaultValue(250)

  def sampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    // modular-safe mix (Text.mixBucket): the plain product THROWS under
    // Spark 4 ANSI for ids above ~3.5e9 — found by the 10× receipt
    val mix = Text.mixBucket(col("doc_id"), 1000L)
    val thresh = when(col("lang") === "en", lit(SampleRates("en")))
      .otherwise(lit(SampleRates.default("")))
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"), mix.as("strat_key"))
      .filter(col("strat_key") < thresh)
      .withColumn("weight", round(lit(1000.0) / thresh.cast("double") + lit(1e-9), 4))
      .orderBy("doc_id")
  }

  /** F6: temperature-based source mixing — how a training run rebalances a
    * multi-source corpus (web/books/code/...) without materializing copies:
    * mixture weight w_s ∝ n_s^(1/T) (T>1 upsamples small sources relative
    * to proportional sampling, T=1 is proportional, T→∞ is uniform), then
    * per-source Bernoulli rate r_s = min(1, targetFrac·N·w_s/n_s) keeps the
    * expected sample at targetFrac of the corpus under the tempered mix.
    * Selection reuses F4's deterministic multiplicative hash (reproducible,
    * join-free on the corpus side) at 1e-6 granularity; `weight` = 1/r_s is
    * the inverse-probability reweight.
    *
    * 100 TB shape: the per-source rate table is a tiny broadcast; the
    * corpus side is one scan + filter — no shuffle touches the data.
    */
  def sampleMixture(spark: SparkSession, sfDir: String,
                    temperature: Double = 2.0, targetFrac: Double = 0.5): DataFrame = {
    val d = Tables.documents(spark, sfDir)
    applyMixture(d, mixtureRates(d, temperature, targetFrac)).orderBy("doc_id")
  }

  /** F6's census stage: per-source tempered rates from a corpus snapshot.
    * Tiny output (one row per source) — meant to be broadcast.
    */
  def mixtureRates(docs: DataFrame, temperature: Double = 2.0,
                   targetFrac: Double = 0.5): DataFrame = {
    val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
    val tot = counts.agg(sum(col("n_s")).as("n_total"),
      sum(pow(col("n_s").cast("double"), 1.0 / temperature)).as("z"))
    counts.crossJoin(broadcast(tot))
      .withColumn("w", pow(col("n_s").cast("double"), 1.0 / temperature) / col("z"))
      .withColumn("rate", least(lit(1.0),
        lit(targetFrac) * col("n_total").cast("double") * col("w") / col("n_s").cast("double")))
      .select(col("source"), col("rate"))
  }

  /** F6's application stage: deterministic-hash selection against a rate
    * table — shared by the batch query and the streaming ingest twin, so
    * the streamed sample equals the batch sample row-for-row. `docs` may be
    * a batch frame or a stream (the join is stream-static, the filter is
    * stateless).
    */
  def applyMixture(docs: DataFrame, rates: DataFrame): DataFrame = {
    // modular-safe mix for the same large-id reason as sampleStratified
    val mix = Text.mixBucket(col("doc_id"), 1000000L)
    docs.select(col("doc_id"), col("source"), mix.as("mix_key"))
      .join(broadcast(rates), "source")
      .filter(col("mix_key").cast("double") < col("rate") * 1e6)
      .select(col("doc_id"), col("source"),
        round(col("rate") + lit(1e-9), 6).as("rate"),
        round(lit(1.0) / col("rate") + lit(1e-9), 4).as("weight"))
  }

  /** F8: importance resampling toward a target distribution (r12) — the
    * DSIR recipe (Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling", arXiv:2302.03169): learn hashed-n-gram
    * bag-of-words distributions for a TARGET corpus (here: `targetPred`
    * documents — the trusted in-domain set) and for the RAW candidate
    * pool, score every candidate by its log importance weight
    * Σ_f c_f·(ln p̂_target[f] − ln q̂_raw[f]) (Laplace-smoothed), and take
    * the Gumbel-top-k — Gumbel noise derived from the same deterministic
    * multiplicative hash as F4/F6, so the "sample" is reproducible and
    * DuckDB-replicable, which is what puts this under the oracle gate
    * rather than rows-only.
    *
    * 100 TB shape: tokens bucket through [[Text.stringCode]] mod
    * `buckets` at scan time; the ONLY corpus-scale shuffle is the
    * (doc_id, bucket) count aggregate (map-side combined — per-doc
    * distinct buckets ≤ `buckets`, so the post-agg volume is bounded by
    * docs×buckets, not corpus tokens); both distributions reduce to
    * ≤`buckets` rows and the scoring join BROADCASTS them; the top-k is a
    * TakeOrdered, never a global sort. Nothing driver-side scales with
    * the corpus.
    */
  def sampleDsir(spark: SparkSession, sfDir: String,
                 buckets: Int = 512, topN: Int = 50): DataFrame =
    sampleDsirOver(Tables.documents(spark, sfDir), col("lang") === "en",
      buckets, topN)

  /** F8's per-doc hashed-unigram counts: c occurrences of bucket f. */
  private def dsirFeats(docs: DataFrame, targetPred: Column,
                        buckets: Int): DataFrame =
    docs
      .select(col("doc_id"), targetPred.as("is_target"),
        explode(Text.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), col("is_target"),
        pmod(Text.stringCode(col("tok")), lit(buckets.toLong)).as("f"))
      .groupBy(col("doc_id"), col("is_target"), col("f"))
      .agg(count(lit(1)).as("c"))

  /** F8's distribution snapshot: per-bucket add-one-smoothed
    * log-likelihood ratios `(f, llr)`, ≤`buckets` real rows plus a
    * SENTINEL row `f = -1` carrying the unseen-bucket LLR (what a bucket
    * absent from BOTH pools would score: ln((qt+B)/(tt+B))) — real
    * bucket ids are non-negative, so the sentinel can never collide or
    * join. The streaming ingest twin looks buckets up in this table and
    * falls back to the sentinel for arrivals whose vocabulary the
    * snapshot never saw.
    */
  def dsirStats(docs: DataFrame, targetPred: Column,
                buckets: Int = 512): DataFrame =
    dsirStatsFrom(dsirFeats(docs, targetPred, buckets), buckets)

  private def dsirStatsFrom(feats: DataFrame, buckets: Int): DataFrame = {
    // the grouped stats are ≤`buckets` rows: materialize the corpus-scale
    // feats pass ONCE into a bounded driver-side local relation (the same
    // ≤512-row bound dsirSnapshot's collect already rides) — dist, totals,
    // and the sentinel each read it, and the previous localCheckpoint here
    // pinned an unreleasable executor block per invocation (the r12 ADVICE
    // accretion class); a LocalRelation needs no storage and broadcasts
    // directly
    val spark = feats.sparkSession
    import spark.implicits._
    val stats = feats.groupBy(col("f"))
      .agg(sum(when(col("is_target"), col("c")).otherwise(0L)).as("tc"),
        sum(when(!col("is_target"), col("c")).otherwise(0L)).as("qc"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      .toDF("f", "tc", "qc")
    val totals = stats.agg(sum(col("tc")).as("tt"), sum(col("qc")).as("qt"))
    val dist = stats.crossJoin(broadcast(totals))
      .select(col("f"),
        (log((col("tc") + 1).cast("double") / (col("tt") + buckets).cast("double")) -
          log((col("qc") + 1).cast("double") / (col("qt") + buckets).cast("double")))
          .as("llr"))
    val sentinel = totals.select(lit(-1L).as("f"),
      (log(lit(1.0) / (col("tt") + buckets).cast("double")) -
        log(lit(1.0) / (col("qt") + buckets).cast("double"))).as("llr"))
    dist.unionByName(sentinel)
  }

  /** F8's COLLECTED snapshot for stream-side scoring: the bucket modulus
    * travels WITH the lookup table (a scorer hashing mod a different
    * `buckets` than the snapshot was built with would silently take the
    * sentinel default for ~every miss), and construction fails loudly if
    * the sentinel row is absent rather than degrading to 0.0.
    */
  final case class DsirSnapshot(buckets: Int, llr: Map[Long, Double],
                                default: Double)

  def dsirSnapshot(docs: DataFrame, targetPred: Column,
                   buckets: Int = 512): DsirSnapshot = {
    val rows = dsirStats(docs, targetPred, buckets).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    val default = rows.find(_._1 == -1L).map(_._2).getOrElse(
      throw new IllegalStateException("dsirStats snapshot missing its sentinel row"))
    DsirSnapshot(buckets, rows.filter(_._1 >= 0L).toMap, default)
  }

  /** The F8 Gumbel perturbation for a doc_id column — shared by the batch
    * query and the streaming twin so the two keys are bit-identical.
    * +0.5 keeps u strictly inside (0,1) so neither log can hit ±inf;
    * modular-safe mix for the same large-id rationale as F4.
    */
  private[graft] def dsirGumbel(docId: Column): Column = {
    val u = (Text.mixBucket(docId, 1000000L).cast("double") +
      lit(0.5)) / lit(1000000.0)
    -log(-log(u))
  }

  def sampleDsirOver(docs: DataFrame, targetPred: Column,
                     buckets: Int = 512, topN: Int = 50): DataFrame = {
    val feats = dsirFeats(docs, targetPred, buckets)
    // candidate scores (the sentinel row never matches a real bucket id),
    // then the deterministic Gumbel-top-k. Two corpus passes total: the
    // stats side materializes once into dsirStatsFrom's bounded local
    // relation, the scored side is this plan's own feats evaluation — the
    // eager materialization severs exchange sharing, which is the accepted
    // trade for not replaying feats once per stats READER. (r18 re-tried a
    // lazy localCheckpoint here to share the pass; PipelineSpec's
    // pin-nothing receipt rejects it by design — left as-is.)
    val scored = feats.filter(!col("is_target"))
      .join(broadcast(dsirStatsFrom(feats, buckets)), "f")
      .groupBy(col("doc_id"))
      .agg(sum(col("c").cast("double") * col("llr")).as("log_w"))
    scored
      .withColumn("key", col("log_w") + dsirGumbel(col("doc_id")))
      .orderBy(col("key").desc, col("doc_id")).limit(topN)
      .select(col("doc_id"),
        round(col("log_w") + lit(1e-9), 4).as("log_w"),
        round(col("key") + lit(1e-9), 4).as("dsir_key"))
      .orderBy("doc_id")
  }

  /** Training-shard export — the pipeline's sink: write curated documents
    * as size-bounded parquet shards, hash-distributed by doc_id so shard
    * sizes stay uniform regardless of input skew, each shard internally
    * sorted by doc_id for reproducible reads. `maxRecordsPerFile` bounds
    * shard size without a global sort or a driver-side count; at 100 TB
    * this is exactly the layout a loader wants (uniform shards, stable
    * order, no stragglers). Returns the shard file inventory.
    */
  /** F7: sequence packing (r11) — the concat-and-split pretraining shard
    * shape: documents in deterministic doc_id order are conceptually
    * concatenated into one token stream and cut into fixed `binTokens`
    * bins; each doc reports the bin its FIRST token lands in and its
    * offset inside that bin (GPT-style packing — a doc may straddle bin
    * boundaries; the assignment is the straddle-aware start position).
    *
    * The global running token count is a DISTRIBUTED PREFIX SUM, never a
    * single-partition window: range-partition by doc_id (contiguous id
    * ranges per partition), one bounded pass collects per-partition totals
    * (≤ nPartitions rows), their prefix offsets broadcast back, and each
    * partition accumulates locally from its offset. The result is
    * partition-count-invariant (spec-pinned) and equals the global-window
    * definition the DuckDB oracle computes.
    */
  def packSequences(spark: SparkSession, sfDir: String, binTokens: Int = 512): DataFrame =
    packSequencesOver(Tables.documents(spark, sfDir), binTokens)

  /** [[packSequences]] over an arbitrary documents frame; `partitions`
    * exposes the partition count so the invariance property is testable.
    */
  def packSequencesOver(d: DataFrame, binTokens: Int = 512,
                        partitions: Int = 32): DataFrame = {
    require(binTokens > 0, "packSequencesOver: binTokens must be positive")
    val spark = d.sparkSession
    import org.apache.spark.sql.types._
    // materialized ONCE (localCheckpoint): both passes must see the SAME
    // physical partitioning — repartitionByRange samples its bounds per
    // execution, so an unmaterialized frame could assign a doc to
    // different pids in pass 1 and pass 2 and corrupt the prefix offsets.
    // Tracked: a releasingPinned caller frees the blocks after consuming.
    val toks = AnnStore.trackedCheckpoint(
      // null text counts as 0 tokens (coalesce the INPUT: size(null) is
      // NULL under ANSI and -1 under legacy sizeOfNull — the -1 would
      // silently shrink the running prefix sum); the oracle coalesces
      // identically
      d.select(col("doc_id"),
          size(Text.tokens(coalesce(col("text"), lit("")))).cast("long").as("n_tokens"))
        .repartitionByRange(partitions, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .withColumn("pid", spark_partition_id()))
    // pass 1 — bounded: one (pid, min_id, total) row per partition; prefix
    // offsets are ordered by each partition's id RANGE (min doc_id), not
    // by pid, so no assumption about the range partitioner's index order
    val partials = toks.groupBy("pid")
      .agg(min("doc_id").as("min_id"), sum("n_tokens").as("total"))
      .collect().sortBy(_.getAs[Long]("min_id"))
    val offsets: Map[Int, Long] = {
      var acc = 0L
      partials.map { r =>
        val e = r.getAs[Int]("pid") -> acc
        acc += r.getAs[Long]("total")
        e
      }.toMap
    }
    val bOffsets = spark.sparkContext.broadcast(offsets)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("bin_id", LongType, nullable = false),
      StructField("bin_offset", LongType, nullable = false)))
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.Row
    implicit val enc = RowEncoder.encoderFor(outSchema)
    // pass 2 — per-partition local accumulation from the broadcast offset
    toks.mapPartitions { rows =>
      var cum = -1L // lazily initialized from the first row's pid
      rows.map { r =>
        val id = r.getLong(0); val n = r.getLong(1); val pid = r.getInt(2)
        if (cum < 0) cum = bOffsets.value.getOrElse(pid, 0L)
        val start = cum
        cum += n
        Row(id, n, start / binTokens, start % binTokens)
      }
    }.orderBy("doc_id")
  }

  def writeShards(docs: DataFrame, path: String,
                  numShards: Int = 8, maxRecordsPerFile: Long = 0L): DataFrame = {
    val spark = docs.sparkSession
    docs
      .repartition(numShards, col("doc_id"))
      .sortWithinPartitions("doc_id")
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)
    spark.read.format("binaryFile").option("pathGlobFilter", "*.parquet")
      .load(path)
      .select(regexp_extract(col("path"), "([^/]+)$", 1).as("shard"),
        col("length").as("byte_size"))
      .orderBy("shard")
  }

  /** F5: benchmark-contamination check — for every training document, the
    * fraction of its distinct word 5-grams that also appear in a held-out
    * benchmark set (here: doc_id ≡ 3 mod 17 plays the benchmark). The
    * benchmark shingle set is tiny relative to the corpus and is broadcast;
    * the training side streams through it at scan speed — the decontamination
    * shape that works when the corpus is 100 TB but the benchmarks are MBs.
    */
  def contaminationCheck(spark: SparkSession, sfDir: String, k: Int = 5): DataFrame = {
    val d = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        array_distinct(TextExprs.shingleCodes(col("text"), k)).as("sh"))
    val benchCodes = d.filter(isBenchmark(col("doc_id")))
      .select(explode(col("sh")).as("code")).distinct()
    val train = d.filter(!isBenchmark(col("doc_id")))
    train.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"),
        explode(col("sh")).as("code"))
      .join(broadcast(benchCodes), "code")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_contaminated")) // codes are distinct per doc
      .withColumn("contamination_frac", round(
        col("n_contaminated").cast("double") / col("n_shingles").cast("double") + lit(1e-9), 4))
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"), col("contamination_frac"))
      .orderBy("doc_id")
  }

  /** F5b: Bloom-filter contamination check (r12) — F5's 100 TB arm. The
    * exact pass broadcasts the benchmark's DISTINCT shingle codes, which
    * is MBs at test scale but ~8 bytes/shingle at a billion-shingle
    * benchmark; a Bloom filter at 1% FPR is ~1.2 bits/shingle — the
    * standard decontamination structure at crawl scale. The error is
    * ONE-SIDED: a truly contaminated shingle ALWAYS flags (no false
    * negatives — nothing contaminated can slip through), false positives
    * are bounded by `fpp`, so the reported fraction is a certified UPPER
    * bound on F5's exact fraction (both spec-pinned). Membership tests
    * run per-row against the broadcast filter in one mapPartitions pass
    * (the filter deserializes once per task, like the decode paths);
    * rows-only under the driver gate (Spark's Bloom hash is not
    * SQL-replicable).
    */
  /** The held-out benchmark slice convention — ONE definition shared by
    * every decontamination pass (F5, F5b batch + streaming) and the
    * capstone's exclusion gate, so the slice can never silently diverge
    * between the filter builder and a consumer.
    */
  def isBenchmark(docId: Column): Column = docId % 17 === 3

  /** F5b's benchmark snapshot: the Bloom filter over the held-out set's
    * distinct shingle codes — a batch artifact the streaming ingest twin
    * reuses verbatim (it changes with the benchmark, not per arrival).
    * The distinct-code frame is cached across the two consuming jobs
    * (count for sizing, then the filter aggregate) — at a billion-shingle
    * benchmark the shingle+distinct pass is the expensive step and must
    * not run twice.
    */
  def benchmarkBloom(spark: SparkSession, sfDir: String,
                     k: Int = 5, fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter = {
    val bench = Tables.documents(spark, sfDir)
      .filter(isBenchmark(col("doc_id")))
      .select(explode(array_distinct(
        TextExprs.shingleCodes(coalesce(col("text"), lit("")), k))).as("code"))
      .distinct().cache()
    try bench.stat.bloomFilter("code", math.max(bench.count(), 1L), fpp)
    finally bench.unpersist(blocking = false)
  }

  /** The shared Bloom-probe core — the batch F5b pass and the streaming
    * ingest twin both run exactly THIS, so their spec-asserted equality
    * is by construction: (doc_id, n_shingles, n_flagged) per document,
    * null text scoring as empty (a corrupt row must never kill a task).
    * The filter broadcasts once and deserializes once per task.
    */
  def bloomScore(docs: DataFrame,
                 bf: org.apache.spark.util.sketch.BloomFilter,
                 k: Int = 5): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val bcast = docs.sparkSession.sparkContext.broadcast(bf)
    val outSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("n_shingles", LongType, nullable = false),
      StructField("n_flagged", LongType, nullable = false)))
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    implicit val enc = RowEncoder.encoderFor(outSchema)
    docs
      .select(col("doc_id"), array_distinct(
        TextExprs.shingleCodes(coalesce(col("text"), lit("")), k)).as("sh"))
      .mapPartitions { rows =>
        val filter = bcast.value
        rows.map { r =>
          val sh = r.getSeq[Long](1)
          var flagged = 0L
          sh.foreach(c => if (filter.mightContainLong(c)) flagged += 1)
          Row(r.getLong(0), sh.length.toLong, flagged)
        }
      }
  }

  def contaminationBloom(spark: SparkSession, sfDir: String,
                         k: Int = 5, fpp: Double = 0.01): DataFrame =
    bloomScore(
      Tables.documents(spark, sfDir).filter(!isBenchmark(col("doc_id"))),
      benchmarkBloom(spark, sfDir, k, fpp), k)
      // CEIL, not round-to-nearest: the column certifies an UPPER bound,
      // and nearest-rounding could report 0.0 for a doc with one truly
      // contaminated shingle among tens of thousands
      .withColumn("contamination_frac_ub",
        when(col("n_shingles") > 0,
          ceil(col("n_flagged").cast("double") / col("n_shingles") * 1e4) / 1e4)
          .otherwise(lit(0.0)))
      .orderBy("doc_id")

  /** F7: deterministic sequence packing — map each document onto the
    * fixed-length training sequences (`seqLen` tokens) its tokens will
    * occupy, the layout pass between curated docs and training shards.
    * Documents are packed CONTIGUOUSLY in doc_id order within a shard
    * (`shard = doc_id mod nShards`): `tok_start` is the document's offset in
    * its shard's token stream, `seq_id`/`seq_off` locate its first token,
    * and `n_seqs` counts the sequences it spans (a doc crossing a boundary
    * is split across consecutive sequences — the standard pack-and-split
    * layout; n_seqs > 1 flags the split). Token counts are D3's CJK-aware
    * estimate, so the packing agrees with [[TextAnalysis.tokenCount]].
    *
    * Scale shape: the shard is the shuffle key — each shard's running sum is
    * an independent window over its own partition, so 100 TB packs as
    * `nShards`-way parallel scans (pick nShards ≈ cluster parallelism;
    * documents never move across shards). No global ordering exists
    * anywhere: the only total order is WITHIN a shard, which is exactly the
    * order a shard writer would consume.
    */
  def seqPack(spark: SparkSession, sfDir: String,
              seqLen: Int = 512, nShards: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cjk = Text.CjkClass
    val t = Tables.documents(spark, sfDir)
      .select(col("doc_id"), pmod(col("doc_id"), lit(nShards.toLong)).as("shard"),
        (size(Text.tokens(regexp_replace(col("text"), cjk, " "))).cast("long") +
          Text.codepointCount(col("text"), cjk)).as("n_tok"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("tok_start", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .withColumn("seq_id", expr(s"tok_start div $seqLen"))
      .withColumn("seq_off", pmod(col("tok_start"), lit(seqLen.toLong)))
      .withColumn("n_seqs",
        when(col("n_tok") > 0, expr(s"(tok_start + n_tok - 1) div $seqLen"))
          .otherwise(col("seq_id")) - col("seq_id") + lit(1L))
      .select(col("shard"), col("doc_id"), col("n_tok"), col("tok_start"),
        col("seq_id"), col("seq_off"), col("n_seqs"))
      .orderBy("shard", "doc_id")
  }

  /** F9 (r13): LEAKAGE-SAFE train/val/test split — the assignment an eval
    * pipeline must make GROUP-wise, never doc-wise: two copies of the same
    * document landing in train and test is evaluation contamination by
    * construction (the well-known dedup-before-split rule; Lee et al.
    * 2022 §6 measure exactly this leakage class). The assignment unit is
    * B1's exact-dup group (md5 of normalized text); the group's ANCHOR
    * (min doc_id) feeds the deterministic [[Text.mixBucket]], so every
    * member of a group inherits ONE split, reproducibly, with no RNG
    * state and no doc ever dropped or double-assigned.
    *
    * 100 TB shape: one shuffle total — the min-anchor window partitions
    * by text_hash (the same key B1 aggregates on); bucketing and the
    * split CASE are scan-side. Fully SQL-expressible → hash oracle.
    * Near-dup-group splitting (MinHash clusters as the unit) composes by
    * feeding [[Dedup.nearDupClusters]]' component ids in place of
    * text_hash — exact groups are the oracle-checkable core.
    */
  def splitLeakageSafe(spark: SparkSession, sfDir: String,
                       testPermille: Int = 100,
                       valPermille: Int = 100): DataFrame =
    splitLeakageSafeOver(Tables.documents(spark, sfDir),
      testPermille, valPermille)

  /** [[splitLeakageSafe]] over an explicit `(doc_id, text, …)` frame —
    * what the buildTrainingSet capstone calls on its post-gate survivor
    * set, so the emitted train/val/test shards can never leak duplicates
    * across splits.
    */
  def splitLeakageSafeOver(docs: DataFrame,
                           testPermille: Int = 100,
                           valPermille: Int = 100): DataFrame =
    splitByGroup(
      docs.select(col("doc_id"), md5(lower(trim(col("text")))).as("text_hash")),
      col("text_hash"), testPermille, valPermille)
      .select(col("doc_id"), col("text_hash"), col("anchor_id"), col("split"))
      .orderBy("doc_id")

  /** F9's NEAR-dup composition, executable: split by any group id — e.g.
    * B6's connected-component labels — instead of the exact-text hash,
    * so near-duplicates (not just verbatim copies) can never straddle
    * train/test. `labeled` = `(doc_id, group_id)`; every member of a
    * group inherits its anchor's split.
    */
  def splitLeakageSafeByGroup(labeled: DataFrame,
                              testPermille: Int = 100,
                              valPermille: Int = 100): DataFrame =
    splitByGroup(labeled.select(col("doc_id"), col("group_id")),
      col("group_id"), testPermille, valPermille)
      .select(col("doc_id"), col("group_id"), col("anchor_id"), col("split"))
      .orderBy("doc_id")

  /** The one split rule both public shapes share: group anchor = min
    * doc_id, anchor's exact-modular mixBucket decides the whole group.
    */
  private def splitByGroup(grouped: DataFrame, groupCol: Column,
                           testPermille: Int, valPermille: Int): DataFrame = {
    // >= 1000 would silently assign NO group to train — an empty training
    // set must be a named error at call time, not a zero-row artifact a
    // loader discovers in production
    require(testPermille >= 0 && valPermille >= 0 &&
      testPermille + valPermille < 1000,
      s"split permilles must satisfy 0 <= test($testPermille) + val($valPermille) < 1000")
    import org.apache.spark.sql.expressions.Window
    val byGroup = Window.partitionBy(groupCol)
    val bucket = Text.mixBucket(col("anchor_id"), 1000L)
    grouped
      .withColumn("anchor_id", min(col("doc_id")).over(byGroup))
      .withColumn("split",
        when(bucket < testPermille, lit("test"))
          .when(bucket < testPermille + valPermille, lit("val"))
          .otherwise(lit("train")))
  }
}
