package graft

import graft.operators.{Analytics, Pipeline, Ranks}
import org.apache.spark.sql.functions._

/** Semantic tests for the round-2 curation operators (SURVEY §2 F) and the
  * distributed global-rank decomposition.
  */
class PipelineSpec extends SparkSpecBase {

  test("text_normalize: normalized text is clean and idempotent") {
    val n = Pipeline.textNormalize(spark, sf).cache()
    assert(n.count() == Tables.documents(spark, sf).count())
    // no disallowed chars, no double spaces, no edge spaces
    assert(n.filter(col("norm_text").rlike("[^a-z0-9 ]")).count() == 0)
    assert(n.filter(col("norm_text").contains("  ")).count() == 0)
    assert(n.filter(col("norm_text") =!= trim(col("norm_text"))).count() == 0)
    n.unpersist()
  }

  test("pii_redact: every synthetic contact is found and scrubbed") {
    val r = Pipeline.piiRedact(spark, sf).cache()
    // the construction plants exactly one of each PII kind per doc
    assert(r.filter(col("n_emails") < 1 || col("n_phones") < 1 || col("n_ips") < 1).count() == 0)
    // nothing PII-shaped survives in the redacted tail (which holds the
    // contact line); placeholders do appear
    assert(r.filter(col("redacted_tail").rlike(Pipeline.EmailRe)).count() == 0)
    assert(r.filter(col("redacted_tail").contains("<EMAIL>")).count() > 0)
    assert(r.filter(col("redacted_tail").contains("<PHONE>")).count() > 0)
    assert(r.filter(col("redacted_tail").contains("<IP>")).count() > 0)
    r.unpersist()
  }

  test("quality_repetition: fractions bounded, counts consistent") {
    val q = Pipeline.qualityRepetition(spark, sf).cache()
    assert(q.filter(col("top_token_frac") > 1.0 || col("top_bigram_frac") > 1.0).count() == 0)
    assert(q.filter(col("top_token_n") > col("n_tokens")).count() == 0)
    // bigrams = tokens - 1 for every doc with ≥2 tokens
    assert(q.filter(col("n_tokens") >= 2 && col("n_bigrams") =!= col("n_tokens") - 1).count() == 0)
    q.unpersist()
  }

  test("quality_repetition: CJK bigram stream catches spaceless repetition") {
    import spark.implicits._
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_repcjk").toString
    Seq(
      (1L, "今日今日今日今日", "ja", "s", 0L), // 8-char run → 7 bigrams: 今日×4, 日今×3
      (2L, "今天天气很好我们去公园", "zh", "s", 0L), // 11 chars → 10 distinct bigrams
      (3L, "spark spark spark 今日今日", "und", "s", 0L)) // mixed: 3 words + 3 bigrams
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir + "/documents.parquet")
    val r = Pipeline.qualityRepetition(spark, dir).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    // whitespace tokenization alone would see doc 1 as ONE token (frac 1.0
    // but n=1 → meaningless); the bigram stream exposes the repetition
    assert(r(1L).getAs[Long]("n_tokens") == 7)
    assert(r(1L).getAs[Long]("top_token_n") == 4)
    assert(r(1L).getAs[Boolean]("repetitive"))
    assert(r(2L).getAs[Long]("n_tokens") == 10)
    assert(r(2L).getAs[Long]("top_token_n") == 1)
    assert(!r(2L).getAs[Boolean]("repetitive"))
    // mixed doc: words and CJK bigrams share one stream (3 spark + 今日×2 + 日今)
    assert(r(3L).getAs[Long]("n_tokens") == 6)
    assert(r(3L).getAs[Long]("top_token_n") == 3)
    assert(r(3L).getAs[Boolean]("repetitive"))
    // the word-bigram stream shingles the blanked tokens only
    assert(r(3L).getAs[Long]("n_bigrams") == 2)
    assert(r(3L).getAs[Long]("top_bigram_n") == 2)
  }

  test("sample_stratified: deterministic, rates near targets, weights right") {
    val d = Tables.documents(spark, sf)
    val s = Pipeline.sampleStratified(spark, sf).cache()
    // deterministic: same result twice
    assert(s.exceptAll(Pipeline.sampleStratified(spark, sf)).count() == 0)
    // en keeps ~50%, others ~25% (loose bounds — small strata at sf0.001)
    val rates = s.groupBy("lang").count()
      .join(d.groupBy("lang").count().withColumnRenamed("count", "total"), "lang")
      .withColumn("rate", col("count").cast("double") / col("total"))
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Double]("rate")).toMap
    assert(math.abs(rates("en") - 0.5) < 0.15)
    rates.filterNot(_._1 == "en").foreach { case (_, r) => assert(math.abs(r - 0.25) < 0.2) }
    // weight = 1/rate per stratum
    assert(s.filter(col("lang") === "en" && col("weight") =!= 2.0).count() == 0)
    assert(s.filter(col("lang") =!= "en" && col("weight") =!= 4.0).count() == 0)
    s.unpersist()
  }

  test("sample_mixture: tempered rates, deterministic, weights inverse, broadcast plan") {
    val s = Pipeline.sampleMixture(spark, sf).cache()
    // deterministic: identical result on a second run
    assert(s.exceptAll(Pipeline.sampleMixture(spark, sf)).count() == 0)
    // per-source achieved rate tracks the declared rate (loose: small strata)
    val achieved = s.groupBy("source").agg(count(lit(1)).as("kept"), first("rate").as("rate"))
      .join(Tables.documents(spark, sf).groupBy("source").count(), "source")
      .withColumn("obs", col("kept").cast("double") / col("count"))
    assert(achieved.filter(abs(col("obs") - col("rate")) > 0.15).count() == 0)
    // weight is the inverse rate
    assert(s.filter(abs(col("weight") * col("rate") - 1.0) > 1e-3).count() == 0)
    // temperature > 1 upsamples small sources: the smallest source's rate
    // must be >= the largest source's rate
    val bySize = Tables.documents(spark, sf).groupBy("source").count()
      .join(s.select("source", "rate").distinct(), "source")
      .orderBy(col("count")).collect()
    if (bySize.length >= 2)
      assert(bySize.head.getAs[Double]("rate") >= bySize.last.getAs[Double]("rate") - 1e-9)
    // 100 TB shape: the rate table broadcasts; the corpus side never shuffles
    assert(s.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    s.unpersist()
  }

  test("sample_dsir: target-like candidates outrank, targets excluded, broadcast plan") {
    import spark.implicits._
    // target vocabulary: "spark shuffle join"; candidate 100 shares it,
    // candidate 101 is vocabulary-disjoint — the LLR score must separate
    // them regardless of the Gumbel perturbation (checked on log_w alone)
    val docs = Seq(
      (1L, "spark shuffle join spark shuffle join spark", "en"),
      (2L, "spark join shuffle spark join shuffle spark", "en"),
      (100L, "spark shuffle join spark shuffle", "de"),
      (101L, "zebra quokka wombat zebra quokka", "de"))
      .toDF("doc_id", "text", "lang")
    val out = Pipeline.sampleDsirOver(docs, col("lang") === "en", buckets = 512, topN = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // targets never appear in the sample
    assert(!out.contains(1L) && !out.contains(2L))
    assert(out(100L) > out(101L),
      s"target-like doc must outscore disjoint doc: $out")
    // deterministic and partition-count invariant
    val a = Pipeline.sampleDsirOver(docs.repartition(7), col("lang") === "en")
    val b = Pipeline.sampleDsirOver(docs.repartition(2), col("lang") === "en")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // 100 TB shape: the ≤buckets-row LLR table broadcasts into the scoring
    // join — the corpus side must never sort-merge against it
    val plan = Pipeline.sampleDsir(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("streaming mixture ingest equals the batch sample row-for-row") {
    import graft.streaming.CurationStream
    val batch = Pipeline.sampleMixture(spark, sf)
    val rates = Pipeline.mixtureRates(Tables.documents(spark, sf))
    val streamed = CurationStream.runMixtureToCompletion(spark, sf, rates)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("tokens_heavy: CMS never underestimates, finds the true heavy hitters") {
    import graft.operators.TextAnalysis
    val out = TextAnalysis.tokensHeavy(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size == 20)
    // exact truth for the receipt (the operator itself never builds this
    // vocabulary-sized table — that is its whole point)
    val exact = Tables.documents(spark, sf)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .groupBy("tok").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = exact.values.sum
    // CMS property 1: an estimate never undercounts
    out.foreach { case (t, est) =>
      assert(est >= exact(t), s"underestimate for '$t': $est < ${exact(t)}")
      // property 2: overestimate bounded by collisions — e·N/width is the
      // expected bound; allow 4× slack for the worst of the 20
      assert(est - exact(t) <= 4L * total / 1024,
        s"overestimate for '$t': $est vs ${exact(t)} (N=$total)")
    }
    // property 3: the report IS the heavy-hitter set — every true top-10
    // token appears in the top-20 estimates
    val trueTop = exact.toSeq.sortBy { case (t, c) => (-c, t) }.take(10).map(_._1)
    trueTop.foreach(t => assert(out.contains(t), s"true heavy hitter '$t' missing"))
  }

  test("streaming DSIR scoring matches the batch scorer on the arrived corpus") {
    import graft.streaming.CurationStream
    val docs = Tables.documents(spark, sf)
    val snap = Pipeline.dsirSnapshot(docs, col("lang") === "en")
    assert(snap.llr.size <= 512 && snap.buckets == 512) // bounded, modulus carried
    val streamed = CurationStream.runDsirToCompletion(
      spark, sf, snap, col("lang") === "en")
    // one score per candidate arrival (token-less docs score 0 — the
    // batch scorer has no row for them, which only affects non-candidates
    // of the top-k anyway)
    assert(streamed.count() == docs.filter(col("lang") =!= "en").count())
    // every batch top-k row reappears with the same values, within float
    // summation-order tolerance (per-row fold vs grouped aggregate)
    val batch = Pipeline.sampleDsir(spark, sf)
    val j = batch.join(streamed.select(col("doc_id"),
      col("log_w").as("lw2"), col("dsir_key").as("k2")), "doc_id")
    assert(j.count() == batch.count())
    assert(j.filter(abs(col("log_w") - col("lw2")) > 1e-3 ||
      abs(col("dsir_key") - col("k2")) > 1e-3).count() == 0)
  }

  test("contamination_bloom: one-sided error vs the exact pass, FPR bounded") {
    val exact = Pipeline.contaminationCheck(spark, sf)
      .select(col("doc_id"), col("n_shingles"), col("n_contaminated"))
    val bloom = Pipeline.contaminationBloom(spark, sf)
    val j = exact.join(bloom.select(col("doc_id"), col("n_flagged"),
      col("contamination_frac_ub")), "doc_id").cache()
    // same doc coverage (exact emits only docs with ≥1 hit — every one of
    // those must appear at least as contaminated in the bloom report)
    assert(j.count() == exact.count())
    // NO false negatives: the bloom count never undercounts the truth,
    // and the reported fraction upper-bounds the exact fraction
    assert(j.filter(col("n_flagged") < col("n_contaminated")).count() == 0)
    // false positives bounded: total extra flags over total clean
    // shingles ≤ 3×fpp (slack over the 1% configured rate)
    val agg = j.agg(
      sum(col("n_flagged") - col("n_contaminated")).as("extra"),
      sum(col("n_shingles") - col("n_contaminated")).as("clean")).head()
    val fpr = agg.getLong(0).toDouble / math.max(agg.getLong(1), 1L)
    assert(fpr <= 0.03, s"observed FPR $fpr exceeds 3×fpp")
    j.unpersist()
  }

  test("streaming decontamination equals the batch bloom pass row-for-row") {
    import graft.streaming.CurationStream
    val bf = Pipeline.benchmarkBloom(spark, sf)
    val streamed = CurationStream.runContaminationToCompletion(spark, sf, bf)
    val batch = Pipeline.contaminationBloom(spark, sf)
      .select(col("doc_id"), col("n_shingles"), col("n_flagged"))
    // the stream scores every arrival incl. benchmark docs; on the shared
    // (non-benchmark) ids the two must agree exactly — same codes, same
    // filter object
    val j = batch.join(streamed.select(col("doc_id"),
      col("n_shingles").as("ns2"), col("n_flagged").as("nf2")), "doc_id")
    assert(j.count() == batch.count())
    assert(j.filter(col("n_shingles") =!= col("ns2") ||
      col("n_flagged") =!= col("nf2")).count() == 0)
  }

  test("contamination_check: benchmark docs excluded, fracs bounded") {
    val c = Pipeline.contaminationCheck(spark, sf).cache()
    assert(c.filter(col("doc_id") % 17 === 3).count() == 0)
    assert(c.filter(col("contamination_frac") > 1.0 || col("n_contaminated") > col("n_shingles")).count() == 0)
    c.unpersist()
  }

  test("range_join: bucketed interval join equals the naive range predicate") {
    val got = Analytics.rangeJoin(spark, sf)
    val e = Tables.events(spark, sf).select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
    val naive = p.join(e,
        abs(unix_micros(col("ts")) - unix_micros(col("p_ts"))) <= 300000000L &&
          col("event_id") =!= col("purchase_id"), "left_outer")
      .groupBy("purchase_id")
      .agg(count(col("event_id")).as("n_nearby"),
        coalesce(round(sum(col("value")) + lit(1e-9), 2), lit(0.0)).as("sum_nearby_value"))
    assert(got.exceptAll(naive).count() == 0 && naive.exceptAll(got).count() == 0)
  }

  test("dedup_spans: repeated windows merge to maximal spans; unique text stays clean") {
    import graft.operators.Dedup
    import spark.implicits._
    // a 12-token boilerplate passage planted in docs 1 and 2 at different
    // offsets; doc 3 is unique; doc 4 repeats ITS OWN 8-token run twice
    val boiler = "standard license header do not remove this line of text please"
    val docs = Seq(
      (1L, s"alpha beta $boiler gamma delta epsilon zeta eta theta"),
      (2L, s"one two three four $boiler five six seven eight nine ten"),
      (3L, "completely unique words nobody else ever wrote down anywhere at all today"),
      (4L, "self repeat run a b c d e f middle filler self repeat run a b c d e f"),
      // doc 7's windows at offsets 0 and 2 each repeat ELSEWHERE (docs 8/9)
      // while the straddling window at offset 1 is unique — overlapping
      // repeated windows must merge to ONE span, never two overlapping ones
      (7L, "c1 c2 c3 c4 c5 c6 c7 c8 dd ee"),
      (8L, "c1 c2 c3 c4 c5 c6 c7 c8 uniquetail"),
      (9L, "uniquehead c3 c4 c5 c6 c7 c8 dd ee")
    ).toDF("doc_id", "text")
    val out = Dedup.dedupSpansOver(docs, w = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // the 11-token boilerplate sits at tokens 3..13 of doc 1 (4 repeated
    // 8-windows merge to one span) and tokens 5..15 of doc 2
    assert(out.exists { case (d, s, e, n) => d == 1L && s == 3 && e == 13 && n == 4 }, out.toSeq)
    assert(out.exists { case (d, s, e, n) => d == 2L && s == 5 && e == 15 && n == 4 }, out.toSeq)
    // doc 3 reports nothing
    assert(!out.exists(_._1 == 3L))
    // doc 4's self-repeat is caught (both occurrences flagged)
    assert(out.count(_._1 == 4L) >= 1)
    // doc 7: offsets 0 and 2 overlap (gap < w) -> ONE merged span over
    // tokens 1..10 from its 2 repeated windows
    assert(out.filter(_._1 == 7L).toSeq == Seq((7L, 1L, 10L, 2L)),
      out.filter(_._1 == 7L).toSeq)
    // spans never overlap within a doc; every span holds >= 1 window of
    // width w (n_windows == exact run length only for gap-free runs)
    out.groupBy(_._1).foreach { case (_, spans) =>
      val sorted = spans.sortBy(_._2).toSeq
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a._3 < b._2, s"overlapping spans: $a $b")
        case _ =>
      }
      sorted.foreach { case (_, s, e, n) =>
        assert(n >= 1 && e - s + 1 >= 8 && n <= e - s + 1 - 8 + 1)
      }
    }
  }

  test("sample_pack: distributed prefix sum is partition-count invariant and bin math holds") {
    import spark.implicits._
    val docs = ((1L to 200L).map(i => (i, ("tok " * (i % 37 + 1).toInt).trim)) :+
      (201L, null.asInstanceOf[String])) // null text = 0 tokens, not -1/null
      .toDF("doc_id", "text")
    val base = Pipeline.packSequencesOver(docs, binTokens = 64, partitions = 1)
      .collect().map(_.toSeq).toSeq
    // the global running sum must not depend on how the corpus is split
    for (p <- Seq(3, 7, 32)) {
      val got = Pipeline.packSequencesOver(docs, binTokens = 64, partitions = p)
        .collect().map(_.toSeq).toSeq
      assert(got == base, s"packing diverged at $p partitions")
    }
    // bin math: offsets stay inside the bin, bins are non-decreasing, and
    // each doc's start equals the previous doc's start + its tokens
    val rows = base.map(s => (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long],
      s(2).asInstanceOf[Long], s(3).asInstanceOf[Long]))
    assert(rows.forall { case (_, _, _, off) => off >= 0 && off < 64 })
    val starts = rows.map { case (_, n, bin, off) => (bin * 64 + off, n) }
    starts.sliding(2).foreach {
      case Seq((s1, n1), (s2, _)) => assert(s2 == s1 + n1, "concat stream must be gapless")
      case _ =>
    }
  }

  test("quality_lm: corpus-trained bigram NLL separates formulaic from anomalous text") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // 20 near-identical formulaic docs + one gibberish doc of unseen
    // bigrams: the anomaly must score a strictly higher NLL than every
    // formulaic doc (its bigrams have count 1 against a vocabulary the
    // smoothing penalizes), and short docs degrade to n_bigrams=0/null
    val docs = ((1 to 20).map(i =>
      (i.toLong, s"the quick brown fox jumps over the lazy dog number $i")) ++
      Seq((21L, "zxq wvu tsr qpo nml kji hgf edc"),
        (22L, "solo"), (23L, ""))).toDF("doc_id", "text")
    val out = TextAnalysis.qualityLmOver(docs).collect()
    val byId = out.map(r => r.getLong(0) -> r).toMap
    val formulaic = (1 to 20).map(i => byId(i.toLong).getDouble(2))
    val anomaly = byId(21L).getDouble(2)
    assert(formulaic.forall(_ < anomaly),
      s"anomalous doc must score highest NLL: anomaly=$anomaly formulaic=${formulaic.max}")
    assert(byId(22L).getLong(1) == 0 && byId(22L).isNullAt(2), "1-token doc: no bigrams")
    assert(byId(23L).getLong(1) == 0 && byId(23L).isNullAt(2), "empty doc: no bigrams")
    assert(out.length == 23)
    // NLLs are positive (probabilities < 1) and finite
    assert(formulaic.forall(v => v > 0 && !v.isInfinite) && anomaly > 0 && !anomaly.isInfinite)
  }

  test("tfidf_terms: 5 ranked terms per language, df consistent with corpus") {
    import graft.operators.TextAnalysis
    val t = TextAnalysis.tfidfTerms(spark, sf).cache()
    val perLang = t.groupBy("lang").count().collect()
    assert(perLang.nonEmpty && perLang.forall(_.getLong(1) <= 5))
    // df can never exceed the corpus size; tf never exceeds lang token count
    val n = Tables.documents(spark, sf).count()
    assert(t.filter(col("df") > n || col("df") < 1).count() == 0)
    assert(t.filter(col("score") < 0).count() == 0)
    t.unpersist()
  }

  test("streaming curation ingest equals the batch curation projection") {
    import graft.streaming.CurationStream
    val streamed = CurationStream.runToCompletion(spark, sf)
    val batch = CurationStream.curate(Tables.documents(spark, sf))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("ngram-jaccard banded blocking: a hot (lang,len) block stays sub-quadratic") {
    import spark.implicits._
    import graft.plans.TextExprs
    import graft.operators.Dedup
    // 400 mutually-distinct docs that ALL land in one (lang, len_bucket)
    // block (same lang, same n_chars) — the skew shape the old blocking key
    // turned into n(n−1)/2 = 79,800 candidate pairs — plus one genuine
    // 5-doc near-dup cluster (10 true pairs).
    val n = 400
    val distinctDocs = (0 until n).map { i =>
      ((i + 1).toLong, (0 until 30).map(j => s"w${i * 131 + j * 7 + 1}").mkString(" "), "en", 1234L)
    }
    val dupCluster = (0 until 5).map { i =>
      ((1000 + i).toLong, (0 until 30).map(j => s"dup$j").mkString(" ") + s" tail$i", "en", 1234L)
    }
    val df = (distinctDocs ++ dupCluster).toDF("doc_id", "text", "lang", "n_chars")
    val d = df.select(col("doc_id"), col("lang"),
      (col("n_chars") / 50).cast("long").as("len_bucket"),
      sort_array(array_distinct(TextExprs.shingleCodes(col("text"), 3))).as("sh"))
      .filter(size(col("sh")) > 0)
    val m = Dedup.ngramCandidates(d).count()
    // the minhash-band component of the join key bounds the block: candidate
    // count tracks the real dup-cluster size (10 pairs + negligible random
    // band collisions), not the block's n²/2
    assert(m < n, s"candidate pairs $m should be far below the ${n.toLong * (n + 4) / 2} all-pairs count")
    assert(m >= 10, s"all 10 true near-dup pairs must survive banding, got $m")
  }

  test("dedup_chunks_exact: reports cross-document repeated chunks with canonical keeper") {
    import graft.operators.Dedup
    val r = Dedup.dedupChunksExact(spark, sf).cache()
    assert(r.filter(col("n_copies") < 2).count() == 0)
    assert(r.filter(col("n_docs") > col("n_copies")).count() == 0)
    // RAW-text duplicate documents (B1 normalizes with lower/trim, which
    // need not imply identical chunks — hash the raw text here) must
    // surface their chunks across documents
    val rawDupGroups = Tables.documents(spark, sf)
      .groupBy(md5(col("text"))).count().filter(col("count") > 1).count()
    if (rawDupGroups > 0) assert(r.filter(col("n_docs") > 1).count() > 0)
    // the keeper is a real occurrence of the hash
    val chunks = graft.operators.Chunker.chunkDocs(spark, sf)
      .select(col("doc_id").as("keep_doc_id"), col("chunk_idx").as("keep_chunk_idx"),
        md5(col("chunk_text")).as("chunk_hash"))
    assert(r.join(chunks, Seq("chunk_hash", "keep_doc_id", "keep_chunk_idx"), "left_anti")
      .count() == 0)
    r.unpersist()
  }

  test("dedup_embedding_lsh: precision 1 vs the exact all-pairs dedup") {
    import graft.operators.Dedup
    val lsh = Dedup.dedupEmbeddingLsh(spark, sf).select("keep_id", "dup_id", "score")
    val exact = Dedup.dedupEmbedding(spark, sf)
    // every LSH-blocked pair is a true near-dup pair (recall may be < 1)
    assert(lsh.exceptAll(exact).count() == 0)
    assert(lsh.count() <= exact.count())
  }

  test("dedup_semantic: paper keeper rule on a handcrafted space; corpus invariants") {
    import graft.operators.Dedup
    import graft.plans.VecExprs
    import spark.implicits._
    // three axis-aligned centroids; group A (1,2,3) and group B (10,11)
    // are intra-cluster ε-groups, 20/21 share a cluster but are NOT
    // ε-similar (cos ≈ 0.25 < 0.30) — both must survive
    val cents = Array(Array(1.0, 0, 0, 0), Array(0.0, 1, 0, 0), Array(0.0, 0, 1, 0))
    val vecs = Seq(
      1L -> Array(1.0, 0, 0, 0), // csim 1.000
      2L -> Array(0.98, 0.2, 0, 0), // csim ≈ 0.980
      3L -> Array(0.9, 0.42, 0, 0), // csim ≈ 0.906  ← farthest: survives
      10L -> Array(0.0, 1, 0, 0), // csim 1.000
      11L -> Array(0.0, 0.95, 0.3, 0), // csim ≈ 0.954 ← survives
      20L -> Array(0.0, 0, 1, 0),
      21L -> Array(0.0, 0, 0.25, 0.97))
      .toDF("vec_id", "embedding")
    val out = Dedup.dedupSemanticOver(vecs, cents, eps = 0.30)
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out.filter(!_._2).keySet == Set(3L, 11L, 20L, 21L), out)
    // corpus run: every vector accounted for, and NO two survivors in the
    // same cluster are ε-similar (every ε-pair has exactly one loser) —
    // raw (unrounded) centroid sims recomputed from the deterministic
    // training so rounding can't blur the keeper rule
    val corpus = Dedup.dedupSemantic(spark, sf).cache()
    val e = Tables.embeddings(spark, sf)
    assert(corpus.count() == e.filter(col("embedding").isNotNull).count())
    val kept = corpus.filter(!col("is_duplicate")).select("vec_id", "cid")
      .join(e.select(col("vec_id"), col("embedding").cast("array<double>").as("emb")), "vec_id")
    val a = kept.select(col("cid"), col("vec_id").as("a_id"), col("emb").as("a_emb"))
    val b = kept.select(col("cid"), col("vec_id").as("b_id"), col("emb").as("b_emb"))
    assert(a.join(b, Seq("cid")).filter(col("a_id") < col("b_id"))
      .filter(VecExprs.cosineSim(col("a_emb"), col("b_emb")) >= 0.30).count() == 0)
    // recall receipt vs the exact B5 pair set: learned blocks must catch a
    // real fraction of true ε-pairs (cross-cluster pairs are the declared
    // recall loss, exactly like B5b's bucket misses)
    val exact = Dedup.dedupEmbedding(spark, sf)
      .select(col("keep_id").as("a_id"), col("dup_id").as("b_id"))
    val assign = corpus.select(col("vec_id"), col("cid"))
    val sameCluster = exact
      .join(assign.withColumnRenamed("vec_id", "a_id").withColumnRenamed("cid", "a_cid"), "a_id")
      .join(assign.withColumnRenamed("vec_id", "b_id").withColumnRenamed("cid", "b_cid"), "b_id")
      .filter(col("a_cid") === col("b_cid")).count()
    val recall = sameCluster.toDouble / exact.count()
    assert(recall >= 0.10, s"semantic-block recall $recall")
    corpus.unpersist()
  }

  test("dedup_semantic derived k: cluster count grows with the corpus, candidate volume stays linear") {
    import graft.operators.{AnnIvf, Dedup}
    import graft.plans.VecExprs
    // the RULE: pow2 steps of n/Target, floored and capped. k ≥ ⌈n/Target⌉
    // ⇒ expected cluster size n/k ≤ Target ⇒ balanced candidate volume
    // Σ|c|² ≈ n·(n/k) ≤ Target·n — LINEAR in n, where any fixed k is
    // quadratic. (SemDeDup's published regime: LAION-440M at 50k clusters.)
    assert(Dedup.semClusterCountFor(0) == Dedup.MinSemClusters)
    assert(Dedup.semClusterCountFor(500) == Dedup.MinSemClusters)
    var prev = 0
    for (n <- Seq(1L, 1000L, 20000L, 300000L, 5000000L, 80000000L, 1000000000L)) {
      val k = Dedup.semClusterCountFor(n)
      assert(Integer.bitCount(k) == 1, s"k=$k must be a power of two")
      assert(k >= prev, "k must be monotone in n")
      assert(k <= Dedup.MaxSemClusters)
      if (n >= Dedup.MinSemClusters * Dedup.TargetVectorsPerSemCluster &&
          k < Dedup.MaxSemClusters)
        assert(n.toDouble / k <= Dedup.TargetVectorsPerSemCluster,
          s"expected cluster size ${n / k} exceeds target at n=$n k=$k")
      prev = k
    }
    // the RECEIPT on real clusterings: 4× the vectors under the derived k
    // must NOT 4× the per-vector candidate load (a fixed k would). Points
    // are deterministic pseudo-random directions; k-means is the actual
    // trained blocking, so measured Σ|c|² includes real skew, not the
    // balanced idealization.
    def corpus(n: Long) = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 4).map(j =>
        sin(col("id") * lit(0.7368 + j * 0.211) + lit(j * 1.13))): _*).as("emb"))
    def pairsPerVec(n: Long): (Int, Double) = {
      val k = Dedup.semClusterCountFor(n)
      val cents = AnnIvf.trainOver(corpus(n), k)
      val sumSq = corpus(n)
        .withColumn("cid", VecExprs.centroidAssign(col("emb"), cents, useCosine = true))
        .groupBy("cid").count()
        .agg(sum(col("count") * col("count"))).head().getLong(0)
      (k, sumSq.toDouble / n)
    }
    val (k1, pv1) = pairsPerVec(16384L)
    val (k2, pv2) = pairsPerVec(65536L)
    assert(k2 > k1, s"derived k must grow with n: $k1 -> $k2")
    // bounded per-vector candidate load at BOTH sizes (8× headroom over
    // the balanced value covers k-means skew), and no blow-up across the
    // 4× growth — the linearity the derivation exists to buy
    val bound = 8.0 * Dedup.TargetVectorsPerSemCluster
    assert(pv1 <= bound && pv2 <= bound, s"pairs/vec $pv1, $pv2 vs bound $bound")
    assert(pv2 <= 3.0 * pv1, s"candidate load grew super-linearly: $pv1 -> $pv2")
  }

  test("split_leakage_safe: duplicate groups never straddle splits; full disjoint coverage") {
    import graft.operators.Pipeline
    import spark.implicits._
    // adversarial fixture: the same text under WIDELY separated ids (the
    // doc-wise mixBucket would scatter them across splits), plus uniques
    val dupText = "the exact same document text appears twice"
    val docs = (Seq((3L, dupText), (9000000017L, dupText), (400000007L, dupText)) ++
      (100L until 400L).map(i => (i, s"unique doc $i with words")))
      .map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_split").toString
    docs.write.parquet(dir + "/documents.parquet")
    val out = Pipeline.splitLeakageSafe(spark, dir).cache()
    // coverage: every doc assigned exactly once
    assert(out.count() == docs.count())
    assert(out.select("doc_id").distinct().count() == docs.count())
    // THE leakage invariant: one split per text_hash, corpus-wide
    assert(out.groupBy("text_hash").agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count() == 0,
      "a duplicate group straddled splits")
    // the adversarial dup trio shares its anchor's split
    val trio = out.filter(col("doc_id").isin(3L, 9000000017L, 400000007L))
      .select("split", "anchor_id").collect()
    assert(trio.map(_.getString(0)).distinct.length == 1, trio.mkString(","))
    assert(trio.forall(_.getLong(1) == 3L), "anchor must be the group min")
    // deterministic; all three splits materialize at corpus scale with
    // roughly the configured proportions
    val again = Pipeline.splitLeakageSafe(spark, dir).collect()
    assert(out.collect().map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val corpus = Pipeline.splitLeakageSafe(spark, sf)
      .groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(corpus.keySet == Set("train", "val", "test"), corpus.toString)
    val total = corpus.values.sum.toDouble
    assert(corpus("train") / total > 0.6, s"train share: $corpus")
    assert(corpus("test") / total > 0.03 && corpus("val") / total > 0.03, corpus.toString)
    out.unpersist()
  }

  test("mixBucket: exact modular congruence, no ANSI overflow at 100TB-scale ids") {
    import graft.functions.Text
    import spark.implicits._
    // the r13 10x receipt found every multiplicative sampler ANSI-throwing
    // at rep-shifted ids ~4e10 (doc_id * 2654435761 > Long.Max): mixBucket
    // computes the SAME congruence in overflow-free modular arithmetic
    val ids = Seq(0L, 1L, 999L, 123456L, 3500000000L, 43000000000L,
      Long.MaxValue, Long.MaxValue - 7, -5L)
    for (m <- Seq(1000L, 1000000L)) {
      val got = ids.toDF("id")
        .select(Text.mixBucket(col("id"), m).as("b")).collect().map(_.getLong(0))
      val want = ids.map { id =>
        val bi = (BigInt(id) * BigInt(2654435761L)).mod(BigInt(m))
        bi.toLong
      }
      assert(got.toSeq == want, s"m=$m: ${got.toSeq} vs $want")
    }
    // end-to-end cliff reproducer: the samplers run on 100TB-scale ids
    val bigDocs = (0 until 64).map(i =>
      (40000000000L + i.toLong * (1L << 32), s"text $i words here",
        if (i % 2 == 0) "en" else "de", if (i % 3 == 0) "web" else "books", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_bigid").toString
    bigDocs.write.parquet(dir + "/documents.parquet")
    import graft.operators.{Pipeline, TextAnalysis}
    assert(Pipeline.sampleStratified(spark, dir).count() > 0)
    assert(Pipeline.sampleMixture(spark, dir).count() > 0)
    assert(Pipeline.sampleDsir(spark, dir, topN = 5).count() > 0)
    assert(TextAnalysis.tokensHeavy(spark, dir).count() >= 0)
    assert(TextAnalysis.qualityClassifier(spark, dir).count() == 64)
  }

  test("dedup_semantic/sample_dsir standalone calls pin nothing; in-scope checkpoints release") {
    import graft.operators.{AnnStore, Dedup, Pipeline}
    // the r12 ADVICE accretion class: a long-lived session invoking these
    // repeatedly must not accrete unreleasable pinned blocks
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.dedupSemantic(spark, sf).count()
    Pipeline.sampleDsir(spark, sf).count()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"standalone calls pinned blocks: $leaked")
    // inside a releasingPinned scope the operator DOES checkpoint (the
    // pipeline shape), and the scope releases it on exit
    import spark.implicits._
    val vecs = (0L until 64L).map(i => (i, Array(math.sin(i * 0.7), math.cos(i * 1.3))))
      .toDF("vec_id", "embedding")
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    var pinnedInside = 0
    AnnStore.releasingPinned(spark) {
      Dedup.dedupSemanticOver(vecs, cents, eps = 0.3).count()
      pinnedInside = (spark.sparkContext.getPersistentRDDs.keySet -- before).size
    }
    assert(pinnedInside >= 1, "in-scope call must materialize via tracked checkpoint")
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"scope exit must release: $after")
  }

  test("buildTrainingSet: end-to-end crawl-to-shards with a faithful ledger") {
    val g = new Graft(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("graft_trainset").toString
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val ledger = g.buildTrainingSet(out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // the run's stage checkpoints are RELEASED on exit (the ANN stores'
    // releasingPinned standard) — a long-lived session must not accrete
    // corpus-sized pinned blocks per build
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- pinnedBefore
    assert(leaked.isEmpty, s"pinned blocks leaked: $leaked")
    // all stages present, counts monotone non-increasing through the gates
    val order = Seq("raw", "dedup_survivors", "quality_gate",
      "decontaminated", "mixture_sample")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(ledger(b)._1 <= ledger(a)._1, s"$b grew past $a: $ledger")
      assert(ledger(b)._2 <= ledger(a)._2, s"$b tokens grew past $a")
    }
    assert(ledger("mixture_sample")._1 > 0, "pipeline must keep data")
    // the written shards ARE the final stage, packing covers them 1:1
    val shardDocs = spark.read.parquet(out + "/shards")
    assert(shardDocs.count() == ledger("mixture_sample")._1)
    val packing = spark.read.parquet(out + "/packing")
    assert(packing.count() == shardDocs.count())
    assert(packing.join(shardDocs.select("doc_id"), "doc_id").count() == packing.count())
    assert(ledger("shard_files")._1 == 8L)
    // every gate actually held: spot-check the surviving docs against the
    // operators the stages compose
    val survived = shardDocs.select("doc_id")
    val lowQ = graft.operators.TextAnalysis.qualityScoreOver(Tables.documents(spark, sf))
      .filter(col("score") < 0.6).select("doc_id")
    assert(survived.join(lowQ, "doc_id").count() == 0, "low-quality doc in shards")
    val bench = survived.filter(col("doc_id") % 17 === 3)
    assert(bench.count() == 0, "held-out benchmark doc in shards")
    // deterministic: a second run reproduces the ledger exactly
    val out2 = java.nio.file.Files.createTempDirectory("graft_trainset2").toString
    val ledger2 = new Graft(spark, sf).buildTrainingSet(out2).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(ledger2 == ledger)
  }

  test("near-dup-group splits: B6 component ids as the assignment unit — pairs never straddle") {
    import graft.operators.{Dedup, Pipeline}
    // the declared F9 composition, executable: components from the
    // verified near-dup graph become the split groups, so NEAR-duplicates
    // (not just verbatim copies) can never land on both sides of a split
    val comps = Dedup.nearDupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id").as("group_id"))
    val splits = Pipeline.splitLeakageSafeByGroup(comps,
      testPermille = 200, valPermille = 200).cache()
    // every doc assigned exactly once
    assert(splits.count() == Tables.documents(spark, sf).count())
    assert(splits.groupBy("doc_id").count().filter(col("count") > 1).count() == 0)
    // the never-straddle invariant at GROUP granularity
    assert(splits.groupBy("group_id")
      .agg(countDistinct(col("split")).as("n"))
      .filter(col("n") > 1).count() == 0,
      "a component's members landed in different splits")
    // and on the raw near-dup PAIRS themselves (the end-to-end statement)
    val pairs = Dedup.dedupMinhashLsh(spark, sf).select("a_id", "b_id")
    val s = splits.select(col("doc_id"), col("split"))
    val straddling = pairs
      .join(s.withColumnRenamed("doc_id", "a_id").withColumnRenamed("split", "sa"), "a_id")
      .join(s.withColumnRenamed("doc_id", "b_id").withColumnRenamed("split", "sb"), "b_id")
      .filter(col("sa") =!= col("sb"))
    assert(straddling.count() == 0, "a near-dup pair straddles splits")
    splits.unpersist()
  }

  test("buildTrainingSet with splits: leakage-safe train/val/test shards, packing covers train") {
    val g = new Graft(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("graft_trainset_split").toString
    val ledger = g.buildTrainingSet(out, testPermille = 150, valPermille = 150)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the three splits partition the sampled set exactly
    val splitsSum = ledger("split_train") + ledger("split_val") + ledger("split_test")
    assert(splitsSum == ledger("mixture_sample"),
      s"splits must partition the sampled set: $ledger")
    assert(ledger("split_train") > 0 && ledger("split_test") > 0,
      s"both ends of the split must be populated at 15%: $ledger")
    // the written shards agree with the ledger, packing covers TRAIN 1:1
    val train = spark.read.parquet(out + "/shards_train")
    val value = spark.read.parquet(out + "/shards_val")
    val test = spark.read.parquet(out + "/shards_test")
    assert(train.count() == ledger("split_train"))
    assert(value.count() == ledger("split_val"))
    assert(test.count() == ledger("split_test"))
    val packing = spark.read.parquet(out + "/packing")
    assert(packing.count() == train.count())
    assert(packing.join(train.select("doc_id"), "doc_id").count() == packing.count())
    // the NEVER-STRADDLE invariant on the emitted artifacts themselves:
    // no normalized text appears in two different split directories
    def hashes(df: org.apache.spark.sql.DataFrame) =
      df.select(md5(lower(trim(col("text")))).as("h")).distinct()
    assert(hashes(train).join(hashes(test), "h").count() == 0,
      "duplicate text straddles train/test")
    assert(hashes(train).join(hashes(value), "h").count() == 0,
      "duplicate text straddles train/val")
    assert(hashes(value).join(hashes(test), "h").count() == 0,
      "duplicate text straddles val/test")
  }

  test("facade curation/dedup entry points run and agree with operators") {
    val g = new Graft(spark, sf)
    assert(g.curate().count() == Tables.documents(spark, sf).count())
    assert(g.findNearDuplicates().count() ==
      graft.operators.Dedup.dedupMinhashLsh(spark, sf).count())
    assert(g.qualityLm().count() == Tables.documents(spark, sf).count())
    assert(g.findRepeatedSpans().collect().map(_.toSeq).toSeq ==
      graft.operators.Dedup.dedupSpans(spark, sf).collect().map(_.toSeq).toSeq)
    assert(g.packSequences(256).collect().map(_.toSeq).toSeq ==
      graft.operators.Pipeline.packSequencesOver(
        Tables.documents(spark, sf), 256).collect().map(_.toSeq).toSeq)
    // r12 entry points: DSIR sample, BPE stats, chunk-space SemDeDup
    assert(g.sampleDsir(col("lang") === "en").collect().map(_.toSeq).toSeq ==
      graft.operators.Pipeline.sampleDsir(spark, sf).collect().map(_.toSeq).toSeq)
    assert(g.tokenStatsBpe(nMerges = 50, vocabLimit = 2000).count() ==
      Tables.documents(spark, sf).count())
    val semDups = g.findSemanticDuplicates(k = 8, eps = 0.95)
    assert(semDups.count() > 0) // one row per chunk vector
    assert(semDups.columns.toSeq ==
      Seq("vec_id", "cid", "centroid_sim", "is_duplicate"))
    // r13 entry points: unigram stats, leakage-safe splits
    assert(g.tokenStatsUnigram(vocabSize = 200, vocabLimit = 2000).count() ==
      Tables.documents(spark, sf).count())
    assert(g.assignSplits().collect().map(_.toSeq).toSeq ==
      graft.operators.Pipeline.splitLeakageSafe(spark, sf).collect().map(_.toSeq).toSeq)
    // export writes only near-dup survivors, as uniform shards
    val out = java.nio.file.Files.createTempDirectory("graft_export").toString + "/shards"
    val inv = g.exportShards(out, numShards = 2)
    assert(inv.count() == 2)
    val survivors = g.dedupClusters().filter(col("is_survivor")).count()
    assert(spark.read.parquet(out).count() == survivors)
  }

  test("stream-stream interval join equals the batch join") {
    import graft.streaming.JoinStream
    val streamed = JoinStream.runToCompletion(spark, sf)
    val batch = JoinStream.joinClicksToPurchases(Tables.events(spark, sf))
    assert(streamed.count() == batch.count() && batch.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("incremental_diff_hash catches the same-size edits the size diff misses") {
    import graft.operators.Catalog
    val bySize = Catalog.incrementalDiff(spark, sf)
    val byHash = Catalog.incrementalDiffHash(spark, sf)
    // the simulated edit keeps length constant, so the size diff calls those
    // docs unchanged while the hash diff flags them changed
    val sizeChanged = bySize.filter(col("status") === "changed").count()
    val hashChanged = byHash.filter(col("status") === "changed").count()
    assert(sizeChanged == 0 || hashChanged >= sizeChanged)
    assert(byHash.filter(col("status") === "changed" && col("doc_id") % 13 =!= 0).count() == 0)
    assert(hashChanged > 0)
    // added/removed classification is identical between the two
    assert(bySize.filter(col("status").isin("added", "removed")).select("doc_id", "status")
      .exceptAll(byHash.filter(col("status").isin("added", "removed"))
        .select("doc_id", "status")).count() == 0)
  }

  test("q_skew_agg: salted two-phase aggregation equals the plain group-by") {
    import graft.operators.Analytics
    val salted = Analytics.skewAgg(spark, sf)
    val plain = Tables.events(spark, sf)
      .groupBy("event_type")
      .agg(round(sum(col("value")) + lit(1e-9), 2).as("sum_value"),
        count(lit(1)).as("n_rows"))
      .orderBy("event_type")
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
  }

  test("checkpointed streaming index: restart is exactly-once, pickup incremental") {
    import graft.streaming.IndexStream
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val in = s"$base/in"; val out = s"$base/out"
    val docs = Tables.documents(spark, sf)
    docs.coalesce(1).write.parquet(s"$base/stage1")
    new java.io.File(in).mkdirs()
    def moveIn(stage: String, name: String): Unit = {
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath,
        new java.io.File(in, name).toPath)
    }
    moveIn(s"$base/stage1", "doc1.parquet")
    val n1 = IndexStream.runToParquet(spark, in, out, glob = "*.parquet").count()
    assert(n1 > 0)
    // restart on the same checkpoint with no new input: nothing reprocessed
    assert(IndexStream.runToParquet(spark, in, out, glob = "*.parquet").count() == n1)
    // a new file arrives: only it is processed (counts double — disjoint ids)
    docs.withColumn("doc_id", col("doc_id") + 1000000L)
      .coalesce(1).write.parquet(s"$base/stage2")
    moveIn(s"$base/stage2", "doc2.parquet")
    val after = IndexStream.runToParquet(spark, in, out, glob = "*.parquet")
    assert(after.count() == 2 * n1)
    assert(after.select("doc_id", "chunk_idx").distinct().count() == 2 * n1)
  }

  test("GraftExtensions installs every function on a fresh session") {
    import org.apache.spark.sql.SparkSession
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession(); SparkSession.clearActiveSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.plans.GraftExtensions).getOrCreate()
      val cos = s2.sql(
        "SELECT graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c").head().getDouble(0)
      assert(math.abs(cos - 1.0) < 1e-6)
      val sh = s2.sql("SELECT graft_shingle_codes('a b c d', 3) AS s").head()
        .getSeq[Long](0)
      assert(sh.length == 2)
      val jac = s2.sql(
        "SELECT graft_jaccard_sorted(array(1L,2L,3L), array(2L,3L,4L)) AS j").head().getDouble(0)
      assert(math.abs(jac - 0.5) < 1e-9)
      val vm = s2.sql(
        "SELECT graft_vec_mean(v) AS m FROM VALUES (array(1.0D, 4.0D)), (array(3.0D, 0.0D)) t(v)")
        .head().getSeq[Double](0)
      assert(vm == Seq(2.0, 2.0))
    } finally {
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("writeShards: uniform hash shards, bounded records, lossless round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft_shards").toString + "/out"
    val docs = Tables.documents(spark, sf)
    val inventory = Pipeline.writeShards(docs, dir, numShards = 4).cache()
    assert(inventory.count() == 4)
    // round-trip is lossless
    val back = spark.read.parquet(dir)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0)
    // maxRecordsPerFile splits shards
    val dir2 = dir + "2"
    val inv2 = Pipeline.writeShards(docs, dir2, numShards = 2, maxRecordsPerFile = 50)
    assert(inv2.count() >= docs.count() / 50)
    inventory.unpersist()
  }

  test("mediaMeta: real header parsing for PNG/JPEG/GIF/WAV, unknown degrades") {
    import graft.operators.Multimodal
    import spark.implicits._
    def bytes(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = bytes(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13) ++ "IHDR".getBytes ++
      bytes(0, 0, 2, 0x80, /*width 640*/ 0, 0, 1, 0xE0, /*height 480*/ 8, 6, 0, 0, 0)
    val jpeg = bytes(0xff, 0xd8,
      0xff, 0xe0, 0, 16) ++ "JFIF".getBytes ++ bytes(0, 1, 1, 0, 0, 1, 0, 1, 0, 0) ++
      bytes(0xff, 0xc0, 0, 17, 8, 0, 0xF0, /*h 240*/ 1, 0x40, /*w 320*/ 3,
        1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
    val gif = "GIF89a".getBytes ++ bytes(100, 0, 50, 0, 0xF7, 0, 0)
    val wav = "RIFF".getBytes ++ bytes(36, 0, 0, 0) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ bytes(16, 0, 0, 0, 1, 0, 2, 0, /*ch 2*/
        0x44, 0xAC, 0, 0, /*44100*/ 0x10, 0xB1, 2, 0, 4, 0, 16, 0 /*bits 16*/)
    val docs = Seq((1L, png), (2L, jpeg), (3L, gif), (4L, wav),
      (5L, "just some text".getBytes)).toDF("doc_id", "content")
    val out = Multimodal.mediaMeta(docs).collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getString(1) == "png" && out(1L).getInt(2) == 640 &&
      out(1L).getInt(3) == 480 && out(1L).getInt(6) == 8)
    assert(out(2L).getString(1) == "jpeg" && out(2L).getInt(2) == 320 &&
      out(2L).getInt(3) == 240 && out(2L).getInt(6) == 8,
      s"jpeg parse: ${out(2L)}")
    assert(out(3L).getString(1) == "gif" && out(3L).getInt(2) == 100 && out(3L).getInt(3) == 50)
    assert(out(4L).getString(1) == "wav" && out(4L).getInt(4) == 2 &&
      out(4L).getInt(5) == 44100 && out(4L).getInt(6) == 16)
    assert(out(5L).getString(1) == "unknown" && out(5L).isNullAt(2))
    // truncated/hostile headers never throw
    val hostile = Seq((6L, bytes(0xff, 0xd8, 0xff, 0xc0, 0, 3)),
      (7L, "RIFF1234WAVE".getBytes), (8L, Array.emptyByteArray))
      .toDF("doc_id", "content")
    val h = Multimodal.mediaMeta(hostile).collect()
    assert(h.length == 3)
    // ITU T.81 fill bytes (extra 0xFF before a marker) must not desync
    val filled = Seq((9L, bytes(0xff, 0xd8, 0xff, 0xff, 0xff, 0xc0, 0, 17,
      8, 0, 0x10, 0, 0x20, 3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)))
      .toDF("doc_id", "content")
    val f = Multimodal.mediaMeta(filled).head()
    assert(f.getString(1) == "jpeg" && f.getInt(2) == 32 && f.getInt(3) == 16,
      s"fill bytes desynced the marker walk: $f")
    // streaming twin: files on disk stream through the identical parse and
    // equal the batch BinaryCorpus ingest row for row
    val mediaDir = java.nio.file.Files.createTempDirectory("graft_mediastream")
    java.nio.file.Files.write(mediaDir.resolve("a.png"), png)
    java.nio.file.Files.write(mediaDir.resolve("b.wav"), wav)
    java.nio.file.Files.write(mediaDir.resolve("c.bin"), "not media".getBytes)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mediastream_ck").toString
    val streamed = graft.streaming.MediaStream
      .runMediaMetaToCompletion(spark, mediaDir.toString, checkpointDir = ckpt)
    val batch = Multimodal.mediaMeta(
      graft.sources.BinaryCorpus.read(spark, mediaDir.toString))
    assert(streamed.count() == 3)
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "streamed media metadata must equal the batch ingest")
  }

  test("binary corpus source + frame sampling + resize plumbing") {
    import graft.operators.Multimodal
    import graft.sources.BinaryCorpus
    // stage a small binary corpus: two "media" files with known bytes
    val dir = java.nio.file.Files.createTempDirectory("graft_bin").toString
    val a = Array.tabulate[Byte](200)(i => (i % 251).toByte)
    val b = Array.tabulate[Byte](63)(i => (i * 7 % 256).toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "clip.mp4"), a)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "img.png"), b)
    val corpus = BinaryCorpus.read(spark, dir).cache()
    assert(corpus.count() == 2)
    val mimes = corpus.select("mime").collect().map(_.getString(0)).toSet
    assert(mimes == Set("video/mp4", "image/png"))
    assert(corpus.filter(col("byte_size") === 200).count() == 1)
    // frame sampling: 200 bytes / 64-byte frames = 4 frames, stride 4 keeps idx 0;
    // 63 bytes = 1 frame, idx 0 kept
    val frames = Multimodal.frameSample(corpus, frameBytes = 64, stride = 4)
    assert(frames.count() == 2)
    assert(frames.filter(col("frame_idx") =!= 0 || col("frame_offset") =!= 0).count() == 0)
    // a finer stride keeps ceil(4/1)=4 frames for the big file
    assert(Multimodal.frameSample(corpus, 64, 1).count() == 5)
    // short feature arrays (size < targetDim) must not crash: tail slots are 0
    val shortFeats = spark.range(1).select(col("id").as("doc_id"),
      array(lit(1.5), lit(2.5)).as("feat"))
    val shortOut = Multimodal.resizeFeatures(shortFeats, targetDim = 4)
      .head().getSeq[Double](1)
    assert(shortOut == Seq(1.5, 2.5, 0.0, 0.0))
    // resize: 8-dim features fold to 4 dims, mass preserved
    val feats = Multimodal.decodeFeatures(spark, sf).limit(10).cache()
    val resized = Multimodal.resizeFeatures(feats)
    val mass = feats.select(col("doc_id"),
        round(aggregate(col("feat"), lit(0.0), _ + _) + lit(1e-9), 4).as("m"))
    val massR = resized.select(col("doc_id"),
        round(aggregate(col("feat_resized"), lit(0.0), _ + _) + lit(1e-9), 4).as("mr"))
    assert(mass.join(massR, "doc_id").filter(abs(col("m") - col("mr")) > 0.01).count() == 0)
    feats.unpersist(); corpus.unpersist()
  }

  test("globalRankDesc equals the single-window row_number rank (incl. NULL scores)") {
    import org.apache.spark.sql.expressions.Window
    val scored = Tables.documents(spark, sf)
      .select(col("doc_id"),
        // every 11th doc gets a NULL score — must rank last, not vanish
        when(col("doc_id") % 11 === 0, lit(null).cast("double"))
          .otherwise(round((col("doc_id") % 7).cast("double") / 7, 4)).as("s"))
    val viaRanks = Ranks.globalRankDesc(scored, "s", Seq("doc_id"), "r")
    val viaWindow = scored.withColumn("r",
      row_number().over(Window.orderBy(col("s").desc, col("doc_id").asc)).cast("long"))
    assert(viaRanks.count() == scored.count())
    assert(viaRanks.exceptAll(viaWindow).count() == 0 &&
      viaWindow.exceptAll(viaRanks).count() == 0)
  }

  test("IndexStore.load self-heals a crash between save's two renames") {
    val dir = java.nio.file.Files.createTempDirectory("graft_heal").toString + "/store"
    val g = new Graft(spark, sf)
    val meta = g.meta
    IndexStore.save(g.buildIndex(), dir, meta)
    val n = IndexStore.load(spark, dir, meta).map(_.count()).getOrElse(-1L)
    assert(n > 0)
    // simulate the crash window: live store moved aside, staging never landed
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(dir),
      new org.apache.hadoop.fs.Path(dir + ".backup")))
    val healed = IndexStore.load(spark, dir, meta)
    assert(healed.isDefined && healed.get.count() == n)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(dir + ".backup")))
  }
}
