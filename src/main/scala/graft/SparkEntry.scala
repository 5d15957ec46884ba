package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 + the builder prompt.
  *
  * Every implemented operator from SURVEY §2 has a `queries` entry; each
  * SQL-expressible one has a matching DuckDB `oracleSql` with identical
  * column names, value rounding, and row ordering.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Analytics.q1Pricing(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A. reference-surface
    "chunk_docs" -> ((s, dir) => Chunker.chunkDocs(s, dir)),
    "chunk_docs_semantic" -> ((s, dir) => Chunker.chunkDocsSemantic(s, dir)),
    "index_build" -> ((s, dir) => Chunker.indexBuild(s, dir)),
    "index_status" -> ((s, dir) => Chunker.indexStatus(s, dir)),
    "embed_chunks" -> ((s, dir) => RagSearch.embedChunks(s, dir)),
    "rag_topk" -> ((s, dir) => RagSearch.ragTopK(s, dir)),
    // B. dedup
    "dedup_exact" -> ((s, dir) => Dedup.dedupExact(s, dir)),
    "dedup_chunks_exact" -> ((s, dir) => Dedup.dedupChunksExact(s, dir)),
    "dedup_ngram_jaccard" -> ((s, dir) => Dedup.dedupNgramJaccard(s, dir)),
    "dedup_minhash_lsh" -> ((s, dir) => Dedup.dedupMinhashLsh(s, dir)),
    "dedup_simhash" -> ((s, dir) => Dedup.dedupSimhash(s, dir)),
    "dedup_embedding" -> ((s, dir) => Dedup.dedupEmbedding(s, dir)),
    "dedup_embedding_lsh" -> ((s, dir) => Dedup.dedupEmbeddingLsh(s, dir)),
    // B7 exact repeated spans (ExactSubstr-style): repeated w-token
    // windows merged into maximal 1-based token spans; oracle-checked
    "dedup_spans" -> ((s, dir) => Dedup.dedupSpans(s, dir)),
    // B6 connected components: iterative Spark-side, but the FIXPOINT is
    // deterministic (min-id labels over the hash-matched B3 edge set), so
    // a DuckDB recursive CTE replicates it — oracle-checked since r13.
    "dedup_clusters" -> ((s, dir) => Dedup.nearDupClusters(s, dir)),
    // B8 SemDeDup: k-means blocks + intra-cluster ε-pairs, paper keeper
    // rule (lowest centroid-sim survives). Rows-only (k-means); specs pin
    // the no-two-survivors-similar invariant and recall vs exact B5.
    "dedup_semantic" -> ((s, dir) => Dedup.dedupSemantic(s, dir)),
    // C. similarity search
    "ann_topk_batch" -> ((s, dir) => RagSearch.annTopKBatch(s, dir)),
    // C1f filtered ANN: metadata-predicate search, brute-force correctness
    // anchor (oracle-checked); ann_ivf_filtered below is its served path
    "rag_topk_filtered" -> ((s, dir) => RagSearch.annTopKFiltered(s, dir)),
    "ann_lsh" -> ((s, dir) => RagSearch.annLsh(s, dir)),
    // C1w (r12): C1's brute-force search re-run in a LEARNED space — MLlib
    // Word2Vec trained on the corpus through the Embedder seam. Learned
    // weights aren't SQL-replicable → rows-only; Word2VecEmbedderSpec
    // carries the identity/serving/recall receipts.
    "rag_topk_w2v" -> ((s, dir) => RagSearch.ragTopKW2v(s, dir)),
    // C1t: the transformer-encoder space (from-scratch forward pass,
    // seeded deterministic weights — no downloads). Rows-only (a forward
    // pass isn't SQL); TransformerEmbedderSpec pins determinism,
    // position-awareness, identity gating, and end-to-end serving.
    "rag_topk_tx" -> ((s, dir) => RagSearch.ragTopKTx(s, dir)),
    // C1m: MMR diversity rerank — greedy quantized to 4 dp each step, so
    // even this ITERATIVE operator is oracle-replicable (recursive CTE).
    "rag_topk_mmr" -> ((s, dir) => RagSearch.ragTopKMmr(s, dir)),
    // C1x: cross-encoder rerank — joint q‖SEP‖d encode over a bounded
    // pool (rows-only; CrossEncoderSpec pins the interaction receipts).
    "rag_rerank_cross" -> ((s, dir) => RagSearch.ragRerankCross(s, dir)),
    // C1l: late-interaction (ColBERT MaxSim) — per-token contextual
    // vectors, one fused encode+score corpus pass (rows-only;
    // LateInteractionSpec pins exact self-match and word-level receipts).
    "rag_topk_late" -> ((s, dir) => RagSearch.ragTopKLate(s, dir)),
    // C1ls: SERVED late interaction — per-token vectors persist
    // cid-partitioned under the IVF store contract; MaxSim runs over the
    // pruned probe read's stored matrices, no corpus re-encode per query
    // (rows-only; LateInteractionSpec pins exact-at-full-probing equality
    // with the fused scan, probe recall, and incremental refresh).
    "rag_topk_late_served" -> ((s, dir) => RagSearch.ragTopKLateServed(s, dir)),
    // C1e: retrieval metrics (recall@k / MRR / nDCG vs label truth) —
    // deterministic ranking + plain aggregates, fully oracle-matched.
    "retrieval_eval" -> ((s, dir) => RagSearch.retrievalEval(s, dir)),
    // C1ep: perturbation-truth eval — queries are corrupted copies of
    // corpus docs, truth = the source doc, so rankers must separate from
    // chance (the discriminative receipt the label proxy can't give);
    // BM25 arm fully SQL-replayed, dense/hybrid arms in PerturbEvalSpec.
    "retrieval_eval_perturb" -> ((s, dir) => RagSearch.retrievalEvalPerturb(s, dir)),
    // C3 has no SQL oracle (k-means training isn't SQL-replicable): the
    // driver records the rows-only check; AnnIvfSpec bounds recall vs C1.
    "ann_ivf" -> ((s, dir) => AnnIvf.annIvf(s, dir)),
    // the SERVING path of C3: probe search over the persisted, manifest-
    // gated partitioned layout — training amortized into the index build
    // (paid once by the untimed warmup), timed runs measure the pruned
    // probe + rerank alone. Rows-only; spec asserts row-identity with
    // ann_ivf.
    "ann_ivf_served" -> ((s, dir) => {
      val path = AnnIvf.defaultIndexPath(dir)
      AnnIvf.ensureIvfIndex(s, dir, path)
      AnnIvf.annIvfServed(s, path)
    }),
    // FILTERED serving over the same persisted store: the metadata
    // predicate applies inside the pruned probe read (translatable
    // predicates reach PushedFilters) — one index serves every predicate.
    // Rows-only (k-means); AnnIvfSpec proves
    // row-identity with serving a pre-filtered index and bounds recall vs
    // the oracle-gated rag_topk_filtered anchor.
    "ann_ivf_filtered" -> ((s, dir) => {
      val path = AnnIvf.defaultIndexPath(dir)
      AnnIvf.ensureIvfIndex(s, dir, path)
      AnnIvf.annIvfServedFiltered(s, path)
    }),
    // C4q: SQ8 scalar-quantized serving — closed-form encode, so unlike
    // the trained compression arms this one is fully DuckDB hash-matched
    // (quantize → dequantize → cosine → rank replayed in SQL); AnnSqSpec
    // bounds quantization error and recall vs exact C1.
    "ann_sq8" -> ((s, dir) => AnnSq.annSq8(s, dir)),
    // C4qs: the SERVING path of C4q — dequantize the persisted int8 store
    // scan-side; value-identical to ann_sq8 (shares its oracle), making
    // this the one stored-compression serve under the full hash gate.
    "ann_sq8_served" -> ((s, dir) => {
      val path = AnnSq.defaultIndexPath(dir)
      AnnSq.ensureSqIndex(s, dir, path)
      AnnSq.annSq8Served(s, dir, path)
    }),
    // C5 likewise rows-only (per-subspace k-means, AnnPq with
    // rounds = 0: no rotation); AnnIvfSpec bounds recall.
    "ann_pq" -> ((s, dir) => AnnPq.annPq(s, dir)),
    // C5o: OPTIMIZED PQ (Ge et al. 2013) — the same AnnPq quantizer with
    // rounds > 0: a learned orthogonal rotation before the subspace split,
    // trained by monotone alternation (warm k-means sweep / Procrustes
    // SVD). Rows-only; AnnOpqSpec receipts the coordinate-descent trace,
    // never-worse-than-PQ error, orthogonality, determinism, and recall
    // non-inferiority vs plain PQ.
    "ann_opq" -> ((s, dir) =>
      AnnPq.annPq(s, dir, iters = AnnPq.OpqIters, rounds = AnnPq.OpqRounds)),
    // the SERVING path of C5o: AnnPq's one ADC serve over the OPQ store,
    // which rotates queries by its stored rotation; training amortized
    // into the gated build. Rows-only; spec asserts row-identity with
    // ann_opq and pinned-model code recomputation under refresh.
    "ann_opq_served" -> ((s, dir) => {
      val path = AnnPq.defaultIndexPath(dir, rounds = AnnPq.OpqRounds)
      AnnPq.ensurePqIndex(s, dir, path, iters = AnnPq.OpqIters, rounds = AnnPq.OpqRounds)
      AnnPq.annPqServed(s, path)
    }),
    // the SERVING path of C5: ADC over the persisted codes with codebook
    // training amortized into the gated index build (the store has no
    // rotation, so the serve rotates nothing). Rows-only; spec asserts
    // row-identity with ann_pq.
    "ann_pq_served" -> ((s, dir) => {
      val path = AnnPq.defaultIndexPath(dir)
      AnnPq.ensurePqIndex(s, dir, path)
      AnnPq.annPqServed(s, path)
    }),
    // C5c IVFADC (r8): coarse cells prune the ADC code scan to nprobe/k of
    // the corpus and the codebooks encode per-cell residuals — the
    // composite production layout (flat PQ above scans every code). Served
    // from the manifest-gated store like the other *_served entries.
    // Rows-only (k-means); recall + pruning spec-bounded in AnnIvfSpec.
    "ann_ivfpq" -> ((s, dir) => {
      val path = AnnIvfPq.defaultIndexPath(dir)
      AnnIvfPq.ensureIvfPqIndex(s, dir, path)
      AnnIvfPq.annIvfPqServed(s, path)
    }),
    // rows-only like ann_ivf/ann_pq: k-means + iterative beam search are not
    // SQL-replicable; recall spec-bounded vs C1 in AnnIvfSpec
    "ann_graph" -> ((s, dir) => AnnGraph.annGraph(s, dir)),
    // the SERVING path of C6: beam search over the writeGraphIndex-persisted
    // per-cell graphs, partition-pruned to the probed cells. Build-once per
    // corpus (paid by the untimed warmup run) so timed runs measure search
    // alone; in-query ann_graph above carries the build cost for comparison.
    // Rows-only; spec asserts row-identity with ann_graph + the recall bound.
    "ann_graph_served" -> ((s, dir) => {
      val path = AnnGraph.defaultIndexPath(dir)
      AnnGraph.ensureGraphIndex(s, dir, path)
      AnnGraph.annGraphServed(s, path)
    }),
    // C6h: the HIERARCHICAL graph arm (HNSW — the reference README's named
    // extension): hash-leveled multi-layer store, diversified (RNG-pruned)
    // upper-layer edges, greedy descent with quantizer-assisted multi-entry
    // seeding. Rows-only; AnnHnswSpec pins the receipt (descent scores
    // fewer candidates than the IVF probe reads at equal recall) plus the
    // refresh-surgery and level-distribution invariants.
    "ann_hnsw_served" -> ((s, dir) => {
      val path = AnnHnsw.defaultIndexPath(dir)
      AnnHnsw.ensureHnswIndex(s, dir, path)
      AnnHnsw.annHnswServed(s, path)
    }),
    // C6hc (r18): CERTIFIED hierarchical serving — descent for a kth-score
    // lower bound, then an exact scan of only the cells whose triangle-
    // inequality upper bound (cellstats angular radii) clears it. Provably
    // the exact top-k, so the FIRST graph-family query under the DuckDB
    // hash gate (oracle = C1's brute-force SQL verbatim).
    "ann_hnsw_certified" -> ((s, dir) => {
      val path = AnnHnsw.defaultIndexPath(dir)
      AnnHnsw.ensureHnswIndex(s, dir, path)
      AnnHnsw.annHnswServedCertified(s, path)
    }),
    // C6hf: FILTERED hierarchical serving — the predicate gates result
    // eligibility at layer 0 only (navigation unfiltered, AnnGraph's r12
    // filtered-descent rule), and under-filled queries re-serve through the
    // flat adaptive arm on the SAME store (layer 0 is a graph store), whose
    // terminal round is the exact filtered scan. Rows-only (k-means +
    // iterative descent); AnnHnswSpec pins predicate purity, the fill
    // guarantee, and exactness at the terminal fallback.
    "ann_hnsw_filtered" -> ((s, dir) => {
      val path = AnnHnsw.defaultIndexPath(dir)
      AnnHnsw.ensureHnswIndex(s, dir, path)
      AnnHnsw.annHnswServedFiltered(s, path)
    }),
    "embed_quantize" -> ((s, dir) => RagSearch.embedQuantize(s, dir)),
    // A. reference-surface (catalog / slice / incremental / multimodal)
    "doc_slice" -> ((s, dir) => TextAnalysis.docSlice(s, dir)),
    "corpus_catalog" -> ((s, dir) => Catalog.corpusCatalog(s, dir)),
    "corpus_catalog_opts" -> ((s, dir) => Catalog.corpusCatalog(s, dir, limit = 200,
      recursive = true, maxDepth = 1, includeExtensions = Seq(".EN", "de"))),
    "incremental_diff" -> ((s, dir) => Catalog.incrementalDiff(s, dir)),
    "incremental_diff_hash" -> ((s, dir) => Catalog.incrementalDiffHash(s, dir)),
    "pdf_decode" -> ((s, dir) => Multimodal.pdfDecode(s, dir)),
    "pdf_decode_real" -> ((s, dir) => Multimodal.pdfRoundTrip(s, dir)),
    "q_multimodal_meta" -> ((s, dir) => Multimodal.multimodalMeta(s, dir)),
    "img_decode_real" -> ((s, dir) => Multimodal.imgRoundTrip(s, dir)),
    "img_frames" -> ((s, dir) => Multimodal.imgFrameSample(s, dir)),
    "img_resize_real" -> ((s, dir) => Multimodal.imgResize(s, dir)),
    "jpg_decode_real" -> ((s, dir) => Multimodal.jpgRoundTrip(s, dir)),
    // A12: real image-FILE ingest through the decode-once ExtractCache,
    // poison-receipted (pass 2 serves cached stats over garbage bytes)
    "img_files_real" -> ((s, dir) => Multimodal.imgFilesReal(s, dir)),
    // A. hybrid retrieval (the reference's planned BM25+embedding extension)
    "rag_bm25" -> ((s, dir) => Bm25.ragBm25(s, dir)),
    "rag_hybrid" -> ((s, dir) => Bm25.ragHybrid(s, dir)),
    // the SERVED lexical twins: BM25 scores from the persisted postings
    // store (pruned to the query terms' buckets — the index build is paid
    // once behind the manifest gate, like every *_served entry), value-
    // identical to the in-plan scorer, so both ride the A10/A11 oracles
    // unchanged — the store is under the full DuckDB hash gate
    "rag_bm25_served" -> ((s, dir) => Bm25.ragBm25Served(s, dir)),
    "rag_hybrid_served" -> ((s, dir) => Bm25.ragHybridServed(s, dir)),
    // A10r: RM3 pseudo-relevance feedback — two-stage weighted BM25 with
    // the full feedback→expansion→interpolation loop replayed in the
    // oracle (deterministic 4dp selections); the served twin reads the
    // postings store in BOTH stages and shares the oracle
    "rag_bm25_rm3" -> ((s, dir) => Rm3.ragBm25Rm3(s, dir)),
    "rag_bm25_rm3_served" -> ((s, dir) => Rm3.ragBm25Rm3Served(s, dir)),
    // A10rb: the BATCH arm — every selection a per-query window, the
    // whole loop replayed per query in one SQL body; per-query rows
    // identical to the single arm (spec-pinned on the shared query)
    "rag_bm25_rm3_batch" -> ((s, dir) => Rm3.ragBm25Rm3Batch(s, dir)),
    // D. text analysis
    "lang_id" -> ((s, dir) => TextAnalysis.langId(s, dir)),
    "quality_score" -> ((s, dir) => TextAnalysis.qualityScore(s, dir)),
    // D1/D2 over the inline multilingual fixture: the sf corpora are
    // ASCII-only, so these entries are what actually hash-compares the CJK
    // arms of the oracles (script-ratio language rules, CJK token/stopword
    // counting) instead of leaving them spec-only. Same operator code, same
    // SQL bodies — only the documents source differs (VALUES CTE rendered
    // from the same Scala constant the DataFrame is built from).
    "lang_id_cjk" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.langIdOver(cjkFixture.toDF("doc_id", "text"))
    }),
    "quality_score_cjk" -> ((s, dir) => {
      import s.implicits._
      TextAnalysis.qualityScoreOver(cjkFixture.toDF("doc_id", "text"))
    }),
    "tfidf_terms" -> ((s, dir) => TextAnalysis.tfidfTerms(s, dir)),
    // D6 bigram-LM quality scoring: corpus-trained add-k model, per-doc
    // mean NLL — deterministic counting, fully oracle-checked
    "quality_lm" -> ((s, dir) => TextAnalysis.qualityLm(s, dir)),
    "token_count" -> ((s, dir) => TextAnalysis.tokenCount(s, dir)),
    // D7 corpus-trained BPE: learned merges (Sennrich-style), rows-only
    // (iterative trainer); round-trip + determinism spec-pinned
    "token_bpe" -> ((s, dir) => TextAnalysis.tokenBpe(s, dir)),
    // D10 unigram-LM tokenizer (rows-only: EM-fitted probs not in SQL)
    "token_unigram" -> ((s, dir) => TextAnalysis.tokenUnigram(s, dir)),
    // D8 learned quality classifier (CCNet-style LR on hashed unigrams,
    // deterministic split): rows-only (L-BFGS); held-out receipts in spec
    "quality_classifier" -> ((s, dir) => TextAnalysis.qualityClassifier(s, dir)),
    // D9 count-min-sketch heavy hitters: fixed 4×1024 counter state,
    // deterministic sample candidates — fully oracle hash-matched
    "tokens_heavy" -> ((s, dir) => TextAnalysis.tokensHeavy(s, dir)),
    "fingerprint" -> ((s, dir) => TextAnalysis.fingerprint(s, dir)),
    // E. analytics
    "q1_pricing" -> ((s, dir) => Analytics.q1Pricing(s, dir)),
    "q3_revenue" -> ((s, dir) => Analytics.q3Revenue(s, dir)),
    "q_window_topn" -> ((s, dir) => Analytics.windowTopN(s, dir)),
    "events_window" -> ((s, dir) => Analytics.eventsWindow(s, dir)),
    "events_sessionize" -> ((s, dir) => Analytics.eventsSessionize(s, dir)),
    "q_asof_join" -> ((s, dir) => Analytics.asofJoin(s, dir)),
    "q_order_stats" -> ((s, dir) => Analytics.orderStats(s, dir)),
    "q_json_extract" -> ((s, dir) => Analytics.jsonExtract(s, dir)),
    // E10 has no SQL oracle on purpose (sketches differ across engines):
    // the driver records the weaker rows-only check; AnalyticsSpec bounds
    // the sketch error against the exact E8 values.
    "q_approx_stats" -> ((s, dir) => Analytics.approxStats(s, dir)),
    "q_range_join" -> ((s, dir) => Analytics.rangeJoin(s, dir)),
    "q_skew_agg" -> ((s, dir) => Analytics.skewAgg(s, dir)),
    "q_rollup" -> ((s, dir) => Analytics.rollupPricing(s, dir)),
    "q_pivot" -> ((s, dir) => Analytics.pivotEvents(s, dir)),
    // E15 asymmetric GROUPING SETS — one Expand pass, three granularities
    "q_grouping_sets" -> ((s, dir) => Analytics.groupingSetsPricing(s, dir)),
    // E16 funnel: ordered per-user step completion in an anchored window
    "q_funnel" -> ((s, dir) => Analytics.funnel(s, dir)),
    // E17: cohort retention — first-activity-week cohorts × week offsets,
    // epoch-week buckets so both engines agree without calendar semantics
    "q_retention" -> ((s, dir) => Analytics.retention(s, dir)),
    // F. training-data pipeline (curation passes)
    "text_normalize" -> ((s, dir) => Pipeline.textNormalize(s, dir)),
    "pii_redact" -> ((s, dir) => Pipeline.piiRedact(s, dir)),
    "quality_repetition" -> ((s, dir) => Pipeline.qualityRepetition(s, dir)),
    "sample_stratified" -> ((s, dir) => Pipeline.sampleStratified(s, dir)),
    "sample_mixture" -> ((s, dir) => Pipeline.sampleMixture(s, dir)),
    // F9 leakage-safe split: exact-dup groups assign as ONE unit
    "split_leakage_safe" -> ((s, dir) => Pipeline.splitLeakageSafe(s, dir)),
    // F7 sequence packing: concat-and-split token bins via a distributed
    // prefix sum (range partition + bounded partial totals + broadcast
    // offsets — never a single-partition window); oracle = the global
    // window definition, which the partition-invariant sum reproduces
    "sample_pack" -> ((s, dir) => Pipeline.packSequences(s, dir)),
    "contamination_check" -> ((s, dir) => Pipeline.contaminationCheck(s, dir)),
    // F5b Bloom-filter contamination (the billion-shingle scale arm):
    // rows-only (Spark Bloom hash); one-sided-error specs vs exact F5
    "contamination_bloom" -> ((s, dir) => Pipeline.contaminationBloom(s, dir)),
    // F8 DSIR importance resampling: hashed-unigram LLR scoring against
    // the en-target distribution, deterministic Gumbel-top-k — the
    // hash-derived noise is what makes the sample oracle-replicable
    "sample_dsir" -> ((s, dir) => Pipeline.sampleDsir(s, dir)),
  )

  /** Multilingual fixture rows (BMP-only — Spark `length` counts UTF-16
    * units, DuckDB codepoints; they agree only below U+10000) driven
    * through the SAME operator code and oracle SQL as the corpus queries,
    * so the CJK arms are hash-compared, not just spec-tested. Rows cover:
    * zh/ja/ko script rules (with and without spaces), all four Latin marker
    * languages, a mixed-script doc, punctuation-only, and empty text.
    */
  private[graft] val cjkFixture: Seq[(Long, String)] = Seq(
    1L -> "这是一个关于数据处理的中文文档 的确很好",
    2L -> "これはデータ処理に関する日本語の文書です",
    3L -> "이것은 데이터 처리에 관한 한국어 문서입니다",
    4L -> "the quick brown fox is one of the best and la vista",
    5L -> "el la de los es bueno para datos",
    6L -> "der die das und ist gut für daten",
    7L -> "le les des et est bon pour les données",
    8L -> "混合 mixed text with the 日本語のかな inside",
    9L -> "1234 5678 !!! ???",
    10L -> "")

  private def sqlQuote(s: String): String = "'" + s.replace("'", "''") + "'"

  /** VALUES-based `documents` CTE over [[cjkFixture]] — rendered from the
    * same constant the Spark-side DataFrame is built from, so the two
    * engines cannot drift on the fixture contents.
    */
  private def cjkDocsCte: String =
    "documents AS (SELECT CAST(id AS BIGINT) AS doc_id, txt AS text FROM (VALUES " +
      cjkFixture.map { case (i, t) => s"($i, ${sqlQuote(t)})" }.mkString(", ") +
      ") v(id, txt))"

  /** The D2 stopword marker list, rendered from the operator's own constant. */
  private val stopListSql: String =
    TextAnalysis.StopTokens.map(sqlQuote).mkString("[", ",", "]")

  /** D1 oracle body (everything after WITH) — shared verbatim by `lang_id`
    * (real documents table) and `lang_id_cjk` (fixture CTE prepended), so
    * the two entries can never disagree on the logic.
    */
  private val langIdBody: String =
    """t AS (SELECT doc_id, text, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |           FROM documents),
      |h AS (SELECT doc_id,
      |  CAST(len(list_filter(toks, t -> list_contains(['the','a','of','and','is'], t))) AS BIGINT) AS en_hits,
      |  CAST(len(list_filter(toks, t -> list_contains(['el','la','de','los','es'], t))) AS BIGINT) AS es_hits,
      |  CAST(len(list_filter(toks, t -> list_contains(['der','die','das','und','ist'], t))) AS BIGINT) AS de_hits,
      |  CAST(len(list_filter(toks, t -> list_contains(['le','les','des','et','est'], t))) AS BIGINT) AS fr_hits,
      |  CAST(length(text) - length(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')) AS BIGINT) AS han_hits,
      |  CAST(length(text) - length(regexp_replace(text, '[\x{3040}-\x{30ff}]', '', 'g')) AS BIGINT) AS kana_hits,
      |  CAST(length(text) - length(regexp_replace(text, '[\x{ac00}-\x{d7af}]', '', 'g')) AS BIGINT) AS hangul_hits,
      |  CAST(length(text) AS BIGINT) AS len
      |  FROM t)
      |SELECT doc_id, en_hits, es_hits, de_hits, fr_hits, han_hits, kana_hits, hangul_hits,
      |       CASE WHEN hangul_hits > han_hits + kana_hits AND hangul_hits * 20 >= len THEN 'ko'
      |            WHEN kana_hits > 0 AND (kana_hits + han_hits) * 20 >= len THEN 'ja'
      |            WHEN han_hits > 0 AND han_hits * 20 >= len THEN 'zh'
      |            WHEN en_hits > es_hits AND en_hits > de_hits AND en_hits > fr_hits THEN 'en'
      |            WHEN es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es'
      |            WHEN de_hits > en_hits AND de_hits > es_hits AND de_hits > fr_hits THEN 'de'
      |            WHEN fr_hits > en_hits AND fr_hits > es_hits AND fr_hits > de_hits THEN 'fr'
      |            ELSE 'und' END AS pred_lang
      |FROM h ORDER BY doc_id""".stripMargin

  /** D2 oracle body — shared by `quality_score` and `quality_score_cjk`.
    * n_stop = union-of-language token markers + CJK function-character
    * codepoints, both rendered from TextAnalysis's own constants.
    */
  private val qualityScoreBody: String =
    s"""t AS (SELECT doc_id, text,
       |             list_filter(string_split(regexp_replace(text,
       |               '[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]', ' ', 'g'), ' '),
       |               t -> len(t) > 0) AS toks,
       |             length(text) - length(regexp_replace(text,
       |               '[\\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]', '', 'g')) AS cjk
       |           FROM documents),
       |m AS (SELECT doc_id,
       |        CAST(len(toks) + cjk AS BIGINT) AS n_tokens,
       |        CAST(length(text) - length(regexp_replace(text,
       |          '[^A-Za-z0-9 \\x{4e00}-\\x{9fff}\\x{3040}-\\x{30ff}\\x{ac00}-\\x{d7af}]', '', 'g')) AS BIGINT) AS n_punct,
       |        CAST(len(list_filter(toks, t -> list_contains($stopListSql, t)))
       |          + (length(text) - length(regexp_replace(text, '[${TextAnalysis.CjkStopChars}]', '', 'g'))) AS BIGINT) AS n_stop,
       |        CAST(length(text) AS BIGINT) AS n_chars_m,
       |        CAST(coalesce(list_sum(list_transform(toks, t -> len(t))), 0) + cjk AS BIGINT) AS tok_chars
       |      FROM t),
       |q AS (SELECT *, CASE WHEN n_tokens > 0 THEN CAST(tok_chars AS DOUBLE)/n_tokens ELSE 0.0 END AS mean_tok_len FROM m)
       |SELECT doc_id, n_tokens, n_punct, n_stop, round(mean_tok_len+1e-9, 4) AS mean_tok_len,
       |       round(1e-9 + 0.3*least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)
       |           + 0.3*(1.0 - CAST(n_punct AS DOUBLE)/greatest(n_chars_m, 1))
       |           + 0.2*(CAST(n_stop AS DOUBLE)/greatest(n_tokens, 1))
       |           + 0.2*least(mean_tok_len/8.0, 1.0), 4) AS score
       |FROM q ORDER BY doc_id""".stripMargin

  /** DuckDB cosine over list columns, double precision, reference epsilon. */
  /** Shared B3 minhash-LSH pipeline CTEs (3-token shingles → 16 minhash
    * signatures → 8 banded candidate buckets → verified Jaccard), ending
    * at `j(a_id, b_id, inter, tot)` — interpolated into BOTH the
    * dedup_minhash_lsh and dedup_clusters oracles so the two can never
    * silently disagree about the edge set when an LSH constant changes.
    */
  private val minhashPairCtes: String =
    """s AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(0, greatest(len(toks)-2, 0)),
      |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(array_to_string(toks[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' '), ''), c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h*31 + c) % 1000000007))) AS sh
      |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |        FROM documents) t0),
      |s2 AS (SELECT doc_id, sh FROM s WHERE len(sh) > 0),
      |sig AS (SELECT doc_id, sh,
      |    list_transform(range(0, 16), i ->
      |      list_min(list_transform(sh, x -> (x*(40503*i + 11) + 19349663*i) % 1000000007))) AS sig
      |  FROM s2),
      |bands AS (SELECT doc_id, b AS band_idx,
      |    CAST(sig[CAST(2*b+1 AS INT)] AS VARCHAR) || ':' || CAST(sig[CAST(2*b+2 AS INT)] AS VARCHAR) AS band_key
      |  FROM (SELECT doc_id, sig, unnest(range(0, 8)) AS b FROM sig) z),
      |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      |  FROM bands a JOIN bands b ON a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |j AS (SELECT c.a_id, c.b_id,
      |    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
      |    CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS tot
      |  FROM cand c JOIN s2 sa ON sa.doc_id = c.a_id JOIN s2 sb ON sb.doc_id = c.b_id)""".stripMargin

  private def cosSql(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($b[i] AS DOUBLE))) /
       | (sqrt(list_sum(list_transform(range(1, len($a)+1), i -> CAST($a[i] AS DOUBLE)*CAST($a[i] AS DOUBLE)))) *
       |  sqrt(list_sum(list_transform(range(1, len($b)+1), i -> CAST($b[i] AS DOUBLE)*CAST($b[i] AS DOUBLE)))) + 1e-10))""".stripMargin

  /** Shared BM25 scoring CTEs (terms of Bm25.DefaultQuery, k1=1.2, b=0.75,
    * arithmetic written to mirror the Spark expressions op-for-op).
    */
  private val bm25Ctes: String =
    """docs0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
      |          FROM documents),
      |d2 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM docs0),
      |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d2),
      |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
      |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2) u
      |       WHERE term IN ('hash','join','table','scan','data')
      |       GROUP BY doc_id, dl, term),
      |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
      |bm AS (SELECT tf.doc_id,
      |         sum( ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
      |              * tf.tf * (1.2 + 1.0)
      |              / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*tf.dl/s.avgdl)) ) AS bm25
      |       FROM tf JOIN dfreq d ON tf.term = d.term, stats s
      |       GROUP BY tf.doc_id)""".stripMargin

  /** The default query's hash-embedding as a DuckDB list literal (the same
    * vector the Spark side ships as a Column literal).
    */
  private lazy val hybridQueryVecSql: String =
    graft.plans.VecExprs.HashEmbedAlg.embed(operators.Bm25.DefaultQuery, 64)
      .map(_.toString).mkString("[", ", ", "]")

  /** The synthetic-raster sample value at flat index `idx` — the SQL twin
    * of [[operators.Multimodal.imgPixels]]'s formula (row-major, channels
    * interleaved: y = idx div row, x = (idx mod row) div ch, c = idx mod
    * ch). Shared by the img_decode_real and img_frames oracles.
    */
  private lazy val imgPixelValSql: String =
    "(doc_id*31 + (idx // (width*ch))*17 + ((idx % (width*ch)) // ch)*5" +
      " + (idx % ch)*7) % 256"

  /** The bench's query map: identical to [[queries]] except where an
    * ORACLE-SIDE cost (not the operator under test) dominates the timing.
    * pdf_decode_real's full encode rotation includes AES-256 R5/R6 whose
    * key derivation is deliberately slow hashing — each added crypto form
    * grew the BENCH number while testing the oracle fixture, not the
    * parser's throughput (r12: 2.40 s, ~linear in forms). The bench times
    * the lean rotation — every NON-crypto parser leg (show-string forms,
    * CID, filter chains, glyph maps, embedded TrueType), so pure-parsing
    * regressions stay drift-visible; Verify keeps the full 15-form
    * rotation under the oracle gate, so correctness coverage is untouched.
    */
  def benchQueries: Map[String, (SparkSession, String) => DataFrame] =
    queries +
      ("pdf_decode_real" ->
        ((s, dir) => Multimodal.pdfRoundTrip(s, dir, lean = true))) +
      // img_files_real's cost is the FIXTURE (two tree materializations +
      // a poison pass — ~8 jobs over hundreds of tiny files); the bench
      // times the same end-to-end cache pipeline over a sparser gate so
      // an ingest regression stays visible without timing file churn.
      // Verify keeps the dense gate under the oracle.
      ("img_files_real" ->
        ((s, dir) => Multimodal.imgFilesReal(s, dir, stride = 200)))

  /** Build/serve COMPONENT timings for the arms whose driver query folds
    * model training into the timed run (ann_graph, ann_opq,
    * quality_classifier — r15 VERDICT "What's wrong #1"): the bench times
    * the halves separately so a serve-path regression can never hide
    * inside training noise. Build components rebuild COLD into a scratch
    * path every sample (the manifest gate would otherwise no-op rep 2+);
    * serve components read the store the build half just wrote (names
    * sort `.build` before `.serve`). Reported on the bench detail line
    * and carried by BenchHistory; EXCLUDED from the headline total (their
    * cost is already inside the corresponding full queries — adding it
    * would double-count and break cross-round totals).
    */
  def benchComponents: Map[String, (SparkSession, String) => DataFrame] = {
    val scratch = "/tmp/graft_bench_components"
    def fresh(s: SparkSession, sub: String): String = {
      val p = new org.apache.hadoop.fs.Path(s"$scratch/$sub")
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      p.toString
    }
    def one(s: SparkSession): DataFrame = s.range(1).toDF("ok")
    Map(
      "ann_graph.build" -> ((s, dir) => {
        AnnGraph.ensureGraphIndex(s, dir, fresh(s, "graph")); one(s)
      }),
      "ann_graph.serve" -> ((s, dir) =>
        AnnGraph.annGraphServed(s, s"$scratch/graph")),
      "ann_opq.build" -> ((s, dir) => {
        AnnPq.ensurePqIndex(s, dir, fresh(s, "opq"),
          iters = AnnPq.OpqIters, rounds = AnnPq.OpqRounds)
        one(s)
      }),
      "ann_opq.serve" -> ((s, dir) =>
        AnnPq.annPqServed(s, s"$scratch/opq")),
      "quality_classifier.build" -> ((s, dir) => {
        qcModelCache.put(dir, TextAnalysis.qualityClassifierFit(
          TextAnalysis.qualityClassifierInput(s, dir),
          org.apache.spark.sql.functions.col("is_target")))
        one(s)
      }),
      "quality_classifier.serve" -> ((s, dir) =>
        TextAnalysis.qualityClassifierScoreWith(
          qcModelCache.getOrElse(dir, throw new IllegalStateException(
            "quality_classifier.serve: run quality_classifier.build first")),
          TextAnalysis.qualityClassifierInput(s, dir),
          org.apache.spark.sql.functions.col("is_target"))))
  }

  /** Fitted model handoff from quality_classifier.build to .serve within
    * one bench process — bounded: one coefficient vector per sf dir.
    */
  private val qcModelCache =
    scala.collection.concurrent.TrieMap.empty[String,
      org.apache.spark.ml.classification.LogisticRegressionModel]

  // the served lexical twins are value-identical to their in-plan
  // queries by construction (same scoring algebra over the same rows —
  // only WHERE the statistics come from differs), so they share one
  // oracle string each: a drift between store and scorer fails the gate
  def oracleSql: Map[String, String] = oracleSqlBase +
    ("rag_bm25_served" -> oracleSqlBase("rag_bm25")) +
    ("rag_hybrid_served" -> oracleSqlBase("rag_hybrid")) +
    ("rag_bm25_rm3_served" -> oracleSqlBase("rag_bm25_rm3")) +
    ("ann_sq8_served" -> oracleSqlBase("ann_sq8")) +
    // C6hc: the certified serve is PROVABLY the exact top-k (descent lower
    // bound + cellstats triangle-inequality upper bound ⇒ every cell that
    // could hold a contender is exact-scanned), so it shares C1's
    // brute-force oracle — the graph family's first hash-gated row
    ("ann_hnsw_certified" -> oracleSqlBase("ann_topk_batch"))

  private def oracleSqlBase: Map[String, String] = Map(
    "rag_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT bm.doc_id, round(bm25+1e-9, 4) AS bm25, substring(doc.text, 1, 80) AS snippet
         |FROM bm JOIN documents doc ON doc.doc_id = bm.doc_id
         |ORDER BY bm25 DESC, bm.doc_id LIMIT 10""".stripMargin,
    // A10r: the RM3 loop replayed — feedback top-5 and expansion top-8
    // selections on the SAME 4dp-quantized values the Spark side uses
    // (ties doc_id / term asc); interpolation constants written as the
    // identical ieee expressions (0.6/5, (1.0-0.6)*w/tot)
    "rag_bm25_rm3" ->
      s"""WITH $bm25Ctes,
         |fb AS (SELECT doc_id, round(bm25+1e-9, 4) AS s FROM bm ORDER BY s DESC, doc_id LIMIT 5),
         |fbt AS (SELECT d2.doc_id, fb.s, d2.dl, unnest(d2.toks) AS term
         |        FROM d2 JOIN fb ON fb.doc_id = d2.doc_id),
         |ftf AS (SELECT doc_id, s, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |        FROM fbt WHERE term NOT IN ('hash','join','table','scan','data')
         |        GROUP BY doc_id, s, dl, term),
         |wexp AS (SELECT term, round(sum(tf/dl*s)+1e-9, 4) AS w FROM ftf GROUP BY term),
         |top8 AS (SELECT term, w FROM wexp WHERE w > 0 ORDER BY w DESC, term LIMIT 8),
         |tot AS (SELECT sum(w) AS tot FROM top8),
         |qw AS (SELECT term, 0.6/5 AS qw
         |       FROM (VALUES ('hash'),('join'),('table'),('scan'),('data')) t(term)
         |       UNION ALL
         |       SELECT t8.term, (1.0-0.6)*t8.w/tot.tot AS qw FROM top8 t8, tot),
         |tf2 AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
         |        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2) u
         |        WHERE term IN (SELECT term FROM qw)
         |        GROUP BY doc_id, dl, term),
         |df2 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf2 GROUP BY term),
         |sc AS (SELECT tf2.doc_id,
         |         sum( qw.qw * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
         |              * tf2.tf * (1.2 + 1.0)
         |              / (tf2.tf + 1.2*(1.0 - 0.75 + 0.75*tf2.dl/s.avgdl)) ) AS rm3
         |       FROM tf2 JOIN df2 d ON tf2.term = d.term JOIN qw ON qw.term = tf2.term, stats s
         |       GROUP BY tf2.doc_id)
         |SELECT sc.doc_id, round(rm3+1e-9, 4) AS rm3, substring(doc.text, 1, 80) AS snippet
         |FROM sc JOIN documents doc ON doc.doc_id = sc.doc_id
         |ORDER BY rm3 DESC, sc.doc_id LIMIT 10""".stripMargin,
    // A10rb: the batch loop — VALUES query table, per-query windows for
    // every selection, NOT EXISTS for the per-query original-term
    // exclusion, λ/|q| per query via the qn count
    "rag_bm25_rm3_batch" ->
      """WITH qdef AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT), 'hash join table scan data'),
        |                                    (1, 'sort merge window stream'),
        |                                    (2, 'filter column vector query')) v(query_id, qtext)),
        |qt AS (SELECT DISTINCT query_id, term
        |       FROM (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM qdef) z
        |       WHERE len(term) > 0),
        |qn AS (SELECT query_id, CAST(count(*) AS DOUBLE) AS nt FROM qt GROUP BY query_id),
        |d2 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl
        |       FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |             FROM documents) d0),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d2),
        |tf1 AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2) u
        |        WHERE term IN (SELECT term FROM qt)
        |        GROUP BY doc_id, dl, term),
        |df1 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf1 GROUP BY term),
        |s1 AS (SELECT qt.query_id, tf1.doc_id,
        |         round(sum( ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
        |               * tf1.tf * (1.2 + 1.0)
        |               / (tf1.tf + 1.2*(1.0 - 0.75 + 0.75*tf1.dl/s.avgdl)) ) + 1e-9, 4) AS s
        |       FROM tf1 JOIN df1 d ON tf1.term = d.term JOIN qt ON qt.term = tf1.term, stats s
        |       GROUP BY qt.query_id, tf1.doc_id),
        |fb AS (SELECT query_id, doc_id, s
        |       FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY s DESC, doc_id) AS rn FROM s1)
        |       WHERE rn <= 5),
        |ftf AS (SELECT query_id, doc_id, s, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |        FROM (SELECT fb.query_id, fb.doc_id, fb.s, d2.dl, unnest(d2.toks) AS term
        |              FROM d2 JOIN fb ON fb.doc_id = d2.doc_id) ft
        |        WHERE NOT EXISTS (SELECT 1 FROM qt x WHERE x.query_id = ft.query_id AND x.term = ft.term)
        |        GROUP BY query_id, doc_id, s, dl, term),
        |wexp AS (SELECT query_id, term, round(sum(tf/dl*s)+1e-9, 4) AS w
        |         FROM ftf GROUP BY query_id, term),
        |top8 AS (SELECT query_id, term, w
        |         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY w DESC, term) AS rn
        |               FROM wexp WHERE w > 0)
        |         WHERE rn <= 8),
        |tot AS (SELECT query_id, sum(w) AS tot FROM top8 GROUP BY query_id),
        |qw AS (SELECT qt.query_id, qt.term, 0.6/qn.nt AS qw
        |       FROM qt JOIN qn ON qn.query_id = qt.query_id
        |       UNION ALL
        |       SELECT t8.query_id, t8.term, (1.0-0.6)*t8.w/tot.tot AS qw
        |       FROM top8 t8 JOIN tot ON tot.query_id = t8.query_id),
        |tf2 AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |        FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d2) u
        |        WHERE term IN (SELECT DISTINCT term FROM qw)
        |        GROUP BY doc_id, dl, term),
        |df2 AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf2 GROUP BY term),
        |sc AS (SELECT qw.query_id, tf2.doc_id,
        |         sum( qw.qw * ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
        |              * tf2.tf * (1.2 + 1.0)
        |              / (tf2.tf + 1.2*(1.0 - 0.75 + 0.75*tf2.dl/s.avgdl)) ) AS rm3
        |       FROM tf2 JOIN df2 d ON tf2.term = d.term JOIN qw ON qw.term = tf2.term, stats s
        |       GROUP BY qw.query_id, tf2.doc_id),
        |r AS (SELECT query_id, doc_id, round(rm3+1e-9, 4) AS rm3,
        |        row_number() OVER (PARTITION BY query_id ORDER BY round(rm3+1e-9, 4) DESC, doc_id) AS rn
        |      FROM sc)
        |SELECT r.query_id, r.doc_id, r.rm3, substring(doc.text, 1, 80) AS snippet
        |FROM r JOIN documents doc ON doc.doc_id = r.doc_id
        |WHERE r.rn <= 10
        |ORDER BY r.query_id, r.rm3 DESC, r.doc_id""".stripMargin,
    "rag_hybrid" ->
      s"""WITH $bm25Ctes,
         |codes AS (SELECT doc_id,
         |    list_transform(toks, t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
         |      (h, c) -> (h*31 + c) % 1000000007)) AS cs
         |  FROM d2),
         |vec AS (SELECT doc_id,
         |    list_transform(range(0, 64), k ->
         |      CAST(coalesce(list_sum(list_transform(cs, c ->
         |        CASE WHEN c % 64 = k THEN (CASE WHEN (c // 64) % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0) AS DOUBLE)) AS v
         |  FROM codes),
         |nv AS (SELECT doc_id,
         |    list_transform(v, x -> x / (sqrt(list_sum(list_transform(v, y -> y*y))) + 1e-10)) AS vn
         |  FROM vec),
         |cosr AS (SELECT doc_id,
         |    round(${cosSql("vn", s"$hybridQueryVecSql")} + 1e-9, 4) AS cos
         |  FROM nv),
         |cr AS (SELECT doc_id, cos, CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS BIGINT) AS cos_rank
         |       FROM cosr WHERE cos > 0 OR doc_id IN (SELECT doc_id FROM bm)),
         |br AS (SELECT doc_id, CAST(row_number() OVER (ORDER BY round(bm25+1e-9, 4) DESC, doc_id) AS BIGINT) AS bm25_rank FROM bm)
         |SELECT c.doc_id,
         |       round(coalesce(1.0/(b.bm25_rank + 60), 0.0) + 1.0/(c.cos_rank + 60) + 1e-12, 6) AS rrf,
         |       b.bm25_rank, c.cos_rank
         |FROM cr c LEFT JOIN br b ON b.doc_id = c.doc_id
         |ORDER BY rrf DESC, c.doc_id LIMIT 10""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
        |           FROM embeddings),
        |m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e)
        |SELECT vec_id, k AS dim_idx,
        |       CAST(CASE WHEN maxabs > 0 THEN round(emb[CAST(k+1 AS INT)]*127.0/maxabs + 1e-9)
        |                 ELSE 0.0 END AS BIGINT) AS qval,
        |       round(maxabs+1e-9, 6) AS scale
        |FROM (SELECT vec_id, emb, maxabs, unnest(range(0, len(emb))) AS k FROM m) z
        |ORDER BY vec_id, dim_idx""".stripMargin,
    "q_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
        |  FROM events WHERE event_type IN ('click', 'purchase'))
        |SELECT event_id AS purchase_id, user_id, ts AS purchase_ts,
        |       last_click_id, last_click_ts,
        |       epoch_us(ts) - epoch_us(last_click_ts) AS gap_us
        |FROM e WHERE event_type = 'purchase' ORDER BY purchase_id""".stripMargin,
    "q_json_extract" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_mod,
        |       event_type, count(*) AS n, round(sum(value)+1e-9, 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY k_mod, event_type""".stripMargin,
    "q_order_stats" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5) + 1e-9, 4) AS median_price,
        |       round(quantile_cont(l_extendedprice, 0.9) + 1e-9, 4) AS p90_price,
        |       count(DISTINCT l_suppkey) AS n_suppliers,
        |       count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "rag_topk" ->
      s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
         |sc AS (SELECT e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
         |       FROM embeddings e, q)
         |SELECT sc.vec_id, sc.score, d.source, substring(d.text, 1, 80) AS snippet,
         |       d.n_chars AS file_size
         |FROM sc JOIN documents d ON d.doc_id = sc.vec_id
         |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin,
    "ann_topk_batch" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
         |       FROM embeddings e, q WHERE e.vec_id != q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", vec_id, score
         |FROM r WHERE rn <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // C4q: closed-form SQ8 — encode (round(x·127/maxabs)) and decode
    // (·scale/127 with the 6dp stored scale) replayed exactly, then the
    // C1 batch rank/tie conventions
    "ann_sq8" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
         |           FROM embeddings),
         |m AS (SELECT vec_id, emb, list_max(list_transform(emb, x -> abs(x))) AS maxabs FROM e),
         |dq AS (SELECT vec_id,
         |         list_transform(emb, x ->
         |           (CASE WHEN maxabs > 0 THEN round(x*127.0/maxabs + 1e-9) ELSE 0.0 END)
         |             * round(maxabs + 1e-9, 6) / 127.0) AS demb
         |       FROM m),
         |q AS (SELECT vec_id AS query_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
         |      FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, dq.vec_id, round(${cosSql("dq.demb", "q.qv")}, 4) AS score
         |       FROM dq, q WHERE dq.vec_id != q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", vec_id, score
         |FROM r WHERE rn <= 5 ORDER BY query_id, "rank"""".stripMargin,
    // C1m: the ITERATIVE greedy replayed in SQL — a recursive CTE carries
    // the selected set; every argmax compares the same 4 dp-quantized
    // scores the Spark greedy uses, ties on vec_id.
    "rag_topk_mmr" ->
      s"""WITH RECURSIVE
         |q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
         |rel AS (SELECT q.query_id, e.vec_id, e.embedding, round(${cosSql("e.embedding", "q.qv")} + 1e-9, 4) AS rel
         |        FROM embeddings e, q WHERE e.vec_id != q.query_id),
         |pool AS (SELECT query_id, vec_id, embedding, rel
         |         FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn FROM rel)
         |         WHERE rn <= 20),
         |mmr(query_id, step, vec_id, score, sel) AS (
         |  SELECT query_id, 1 AS step, vec_id, rel AS score, [vec_id] AS sel
         |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rel DESC, vec_id) AS rn FROM pool)
         |  WHERE rn = 1
         |  UNION ALL
         |  SELECT query_id, step, vec_id, score, list_append(sel, vec_id)
         |  FROM (
         |    SELECT m.query_id, m.step + 1 AS step, p.vec_id,
         |           round(0.7*p.rel - 0.3*(SELECT max(round(${cosSql("p.embedding", "s.embedding")} + 1e-9, 4))
         |                                  FROM pool s
         |                                  WHERE s.query_id = m.query_id
         |                                    AND list_contains(m.sel, s.vec_id)) + 1e-9, 4) AS score,
         |           m.sel,
         |           row_number() OVER (PARTITION BY m.query_id
         |                              ORDER BY round(0.7*p.rel - 0.3*(SELECT max(round(${cosSql("p.embedding", "s2.embedding")} + 1e-9, 4))
         |                                                              FROM pool s2
         |                                                              WHERE s2.query_id = m.query_id
         |                                                                AND list_contains(m.sel, s2.vec_id)) + 1e-9, 4) DESC,
         |                                       p.vec_id) AS rn
         |    FROM mmr m JOIN pool p ON p.query_id = m.query_id AND NOT list_contains(m.sel, p.vec_id)
         |    WHERE m.step < 5)
         |  WHERE rn = 1
         |)
         |SELECT query_id, CAST(step AS BIGINT) AS "rank", vec_id, score
         |FROM mmr ORDER BY query_id, "rank"""".stripMargin,
    // C1e: the metric pipeline in ANSI SQL — double metric columns ride
    // the gate's 1e-9 float tolerance (sum-order ulps), counts exact.
    "retrieval_eval" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, e.vec_id, round(${cosSql("e.embedding", "q.qv")}, 4) AS score,
         |               e.label = q.qlabel AS rel
         |        FROM embeddings e, q WHERE e.vec_id != q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc),
         |m AS (SELECT query_id,
         |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant,
         |    CAST(sum(CASE WHEN rel AND rn <= 10 THEN 1 ELSE 0 END) AS BIGINT) AS hits,
         |    coalesce(max(CASE WHEN rel AND rn <= 10 THEN CAST(1 AS DOUBLE)/rn END), CAST(0 AS DOUBLE)) AS mrr,
         |    coalesce(sum(CASE WHEN rel AND rn <= 10 THEN CAST(1 AS DOUBLE)/log2(rn+1) END), CAST(0 AS DOUBLE)) AS dcg
         |  FROM r GROUP BY query_id)
         |SELECT query_id, n_relevant,
         |  CASE WHEN n_relevant > 0 THEN CAST(hits AS DOUBLE)/least(10, n_relevant) ELSE CAST(0 AS DOUBLE) END AS recall_at_k,
         |  mrr,
         |  CASE WHEN n_relevant > 0 THEN dcg / list_sum(list_transform(range(1, least(10, n_relevant)+1), x -> CAST(1 AS DOUBLE)/log2(x+1))) ELSE CAST(0 AS DOUBLE) END AS ndcg
         |FROM m ORDER BY query_id""".stripMargin,
    // C1ep: the perturbation construction + BM25 arm + metric pipeline —
    // 0-based index drop via range(), 4dp score quantization before the
    // rank window, generic metric formulas (n_relevant = 1 by design)
    "retrieval_eval_perturb" ->
      """WITH qsrc AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |              FROM documents WHERE doc_id < 10),
        |q AS (SELECT -(doc_id + 1) AS query_id, doc_id AS src,
        |        list_transform(list_filter(range(0, len(toks)), i -> i % 4 != 3),
        |                       i -> toks[CAST(i+1 AS INT)]) AS ptoks
        |      FROM qsrc),
        |qt AS (SELECT DISTINCT query_id, term
        |       FROM (SELECT query_id, unnest(ptoks) AS term FROM q) z),
        |d3 AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl
        |       FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |             FROM documents) d2),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, avg(dl) AS avgdl FROM d3),
        |tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM (SELECT doc_id, dl, unnest(toks) AS term FROM d3) u
        |       WHERE term IN (SELECT term FROM qt)
        |       GROUP BY doc_id, dl, term),
        |dfreq AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM tf GROUP BY term),
        |sc AS (SELECT qt.query_id, tf.doc_id,
        |         round(sum( ln((s.n_docs - d.df + 0.5)/(d.df + 0.5) + 1.0)
        |               * tf.tf * (1.2 + 1.0)
        |               / (tf.tf + 1.2*(1.0 - 0.75 + 0.75*tf.dl/s.avgdl)) ) + 1e-9, 4) AS score
        |       FROM tf JOIN dfreq d ON tf.term = d.term JOIN qt ON qt.term = tf.term, stats s
        |       GROUP BY qt.query_id, tf.doc_id),
        |r AS (SELECT query_id, doc_id, score,
        |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rn
        |      FROM sc),
        |m AS (SELECT q.query_id,
        |        CAST(1 AS BIGINT) AS n_relevant,
        |        CAST(coalesce(sum(CASE WHEN r.doc_id = q.src THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits,
        |        coalesce(max(CASE WHEN r.doc_id = q.src THEN CAST(1 AS DOUBLE)/r.rn END), CAST(0 AS DOUBLE)) AS mrr,
        |        coalesce(sum(CASE WHEN r.doc_id = q.src THEN CAST(1 AS DOUBLE)/log2(r.rn+1) END), CAST(0 AS DOUBLE)) AS dcg
        |      FROM q LEFT JOIN r ON r.query_id = q.query_id AND r.rn <= 10
        |      GROUP BY q.query_id)
        |SELECT query_id, n_relevant,
        |  CAST(hits AS DOUBLE)/least(10, n_relevant) AS recall_at_k,
        |  mrr,
        |  dcg / list_sum(list_transform(range(1, least(10, n_relevant)+1), x -> CAST(1 AS DOUBLE)/log2(x+1))) AS ndcg
        |FROM m ORDER BY query_id""".stripMargin,
    "rag_topk_filtered" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, e.vec_id, e.label, round(${cosSql("e.embedding", "q.qv")}, 4) AS score
         |       FROM embeddings e, q WHERE e.vec_id != q.query_id AND e.label % 4 = 1),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", vec_id, label, score
         |FROM r WHERE rn <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "ann_lsh" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_sum(list_transform(range(0, 6), j -> CASE WHEN
         |        list_sum(list_transform(range(0, 64), dd ->
         |          CAST((j*2654435761 + dd*40503) % 9973 - 4986 AS DOUBLE) * CAST(embedding[CAST(dd+1 AS INT)] AS DOUBLE))) >= 0
         |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS bucket
         |  FROM embeddings),
         |q AS (SELECT vec_id AS query_id, embedding AS qv, bucket AS qbucket FROM b WHERE vec_id < 10),
         |sc AS (SELECT q.query_id, b.vec_id, b.bucket, round(${cosSql("b.embedding", "q.qv")}, 4) AS score
         |       FROM b JOIN q ON b.bucket = q.qbucket WHERE b.vec_id != q.query_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY score DESC, vec_id) AS rn FROM sc)
         |SELECT query_id, CAST(rn AS BIGINT) AS "rank", vec_id, bucket, score
         |FROM r WHERE rn <= 5 ORDER BY query_id, "rank"""".stripMargin,
    "embed_chunks" ->
      """WITH chunks AS (
        |  SELECT doc_id, i AS chunk_idx, substring(text, CAST(i*80+1 AS INT), 100) AS chunk_text
        |  FROM (SELECT doc_id, text, unnest(range(0, CAST(floor((length(text)-1)/80.0) AS BIGINT)+1)) AS i
        |        FROM documents WHERE length(text) > 0) t),
        |tok AS (
        |  SELECT doc_id, chunk_idx,
        |    list_transform(list_filter(string_split(chunk_text, ' '), t -> len(t) > 0),
        |      t -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007)) AS codes
        |  FROM chunks),
        |vec AS (
        |  SELECT doc_id, chunk_idx,
        |    list_transform(range(0, 64), k ->
        |      CAST(coalesce(list_sum(list_transform(codes, c ->
        |        CASE WHEN c % 64 = k THEN (CASE WHEN (c // 64) % 2 = 0 THEN 1 ELSE -1 END) ELSE 0 END)), 0) AS DOUBLE)) AS v
        |  FROM tok),
        |nrm AS (SELECT doc_id, chunk_idx, v,
        |               sqrt(list_sum(list_transform(v, x -> x*x))) + 1e-10 AS nn FROM vec)
        |SELECT doc_id, chunk_idx, k AS dim_idx, round(v[CAST(k+1 AS INT)]/nn, 4) + 0.0 AS value
        |FROM (SELECT doc_id, chunk_idx, v, nn, unnest(range(0, 64)) AS k FROM nrm) z
        |ORDER BY doc_id, chunk_idx, dim_idx""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(lower(trim(text))) AS text_hash,
        |       min(doc_id) AS keep_id, count(*) AS n_copies,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS doc_ids
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    "dedup_chunks_exact" ->
      """WITH ch AS (
        |  SELECT doc_id, i AS chunk_idx, substring(text, CAST(i*80+1 AS INT), 100) AS chunk_text
        |  FROM (SELECT doc_id, text,
        |          unnest(range(0, CAST(floor((length(text)-1)/80.0) AS BIGINT)+1)) AS i
        |        FROM documents WHERE length(text) > 0) t),
        |h AS (SELECT md5(chunk_text) AS chunk_hash, doc_id, chunk_idx FROM ch),
        |g AS (SELECT chunk_hash, count(*) AS n_copies,
        |             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |             min(doc_id) AS keep_doc_id
        |      FROM h GROUP BY 1 HAVING count(*) > 1)
        |SELECT g.chunk_hash, g.n_copies, g.n_docs, g.keep_doc_id,
        |       min(h.chunk_idx) AS keep_chunk_idx
        |FROM g JOIN h ON h.chunk_hash = g.chunk_hash AND h.doc_id = g.keep_doc_id
        |GROUP BY 1, 2, 3, 4
        |ORDER BY g.chunk_hash""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH s AS (
        |  SELECT doc_id, lang, CAST(n_chars // 50 AS BIGINT) AS len_bucket,
        |         list_distinct(list_transform(range(0, greatest(len(toks)-2, 0)),
        |           i -> list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(string_split(array_to_string(toks[CAST(i+1 AS INT):CAST(i+3 AS INT)], ' '), ''), c -> CAST(ascii(c) AS BIGINT))), (h, c) -> (h*31 + c) % 1000000007))) AS sh
        |  FROM (SELECT doc_id, lang, n_chars,
        |          list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |        FROM documents) t0),
        |s2 AS (SELECT * FROM s WHERE len(sh) > 0),
        |sig AS (SELECT doc_id, lang, len_bucket,
        |    list_transform(range(0, 16), i ->
        |      list_min(list_transform(sh, x -> (x*(40503*i + 11) + 19349663*i) % 1000000007))) AS sig
        |  FROM s2),
        |bands AS (SELECT doc_id, lang, len_bucket, b AS band_idx,
        |    CAST(sig[CAST(2*b+1 AS INT)] AS VARCHAR) || ':' || CAST(sig[CAST(2*b+2 AS INT)] AS VARCHAR) AS band_key
        |  FROM (SELECT doc_id, lang, len_bucket, sig, unnest(range(0, 8)) AS b FROM sig) z),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id, a.lang
        |  FROM bands a JOIN bands b ON a.lang = b.lang AND a.len_bucket = b.len_bucket
        |    AND a.band_idx = b.band_idx AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |p AS (
        |  SELECT c.a_id, c.b_id, c.lang,
        |         CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) AS inter,
        |         CAST(len(sa.sh) + len(sb.sh) AS DOUBLE) AS tot
        |  FROM cand c JOIN s2 sa ON sa.doc_id = c.a_id JOIN s2 sb ON sb.doc_id = c.b_id)
        |SELECT a_id, b_id, lang, round(inter/(tot-inter)+1e-9, 4) AS jaccard
        |FROM p WHERE round(inter/(tot-inter)+1e-9, 4) >= 0.5
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $minhashPairCtes
         |SELECT a_id, b_id, round(inter/(tot-inter)+1e-9, 4) AS jaccard
         |FROM j WHERE round(inter/(tot-inter)+1e-9, 4) >= 0.4
         |ORDER BY a_id, b_id""".stripMargin,
    // B6: the Spark side is iterative (large-star/small-star), but its
    // FIXPOINT — min-doc_id component labels over the hash-matched B3 edge
    // set — is deterministic, so DuckDB replicates it with a recursive CTE
    // (min-label reachability). Converted rows-only → hash-matched in r13.
    "dedup_clusters" ->
      s"""WITH RECURSIVE $minhashPairCtes,
         |edges AS (SELECT a_id, b_id FROM j WHERE round(inter/(tot-inter)+1e-9, 4) >= 0.4),
         |e2 AS (SELECT a_id AS u, b_id AS v FROM edges UNION ALL SELECT b_id, a_id FROM edges),
         |walk(node, front) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT w.node, e.v FROM walk w JOIN e2 e ON e.u = w.front
         |)
         |SELECT node AS doc_id, min(front) AS cluster_id,
         |       (node = min(front)) AS is_survivor
         |FROM walk GROUP BY node ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS toks
        |           FROM documents),
        |c AS (SELECT doc_id,
        |        list_transform(toks, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(x, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |          (h, cc) -> (h*31 + cc) % 1000000007)) AS c1,
        |        list_transform(toks, x -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |          list_transform(string_split(x, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |          (h, cc) -> (h*37 + cc) % 1000000007)) AS c2
        |      FROM t WHERE len(toks) > 0),
        |sh AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(range(0, 24), b -> CASE WHEN
        |        list_sum(list_transform(c1, x -> ((x // (CAST(1 AS BIGINT) << b)) % 2) * 2 - 1)) > 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END))
        |    + list_sum(list_transform(range(0, 24), b -> CASE WHEN
        |        list_sum(list_transform(c2, x -> ((x // (CAST(1 AS BIGINT) << b)) % 2) * 2 - 1)) > 0
        |      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) * 16777216 AS BIGINT) AS simhash
        |  FROM c),
        |blocks AS (SELECT doc_id, simhash, t AS block_idx,
        |    (simhash // (CAST(1 AS BIGINT) << CAST(t*12 AS INT))) % 4096 AS block_val
        |  FROM (SELECT doc_id, simhash, unnest(range(0, 4)) AS t FROM sh) z),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, a.simhash AS a_sim, b.doc_id AS b_id, b.simhash AS b_sim
        |  FROM blocks a JOIN blocks b ON a.block_idx = b.block_idx AND a.block_val = b.block_val AND a.doc_id < b.doc_id)
        |SELECT a_id, b_id, CAST(bit_count(xor(a_sim, b_sim)) AS BIGINT) AS hamming
        |FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 3
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_embedding_lsh" ->
      s"""WITH b AS (
         |  SELECT vec_id, embedding,
         |    CAST(list_sum(list_transform(range(0, 6), j -> CASE WHEN
         |        list_sum(list_transform(range(0, 64), dd ->
         |          CAST((j*2654435761 + dd*40503) % 9973 - 4986 AS DOUBLE) * CAST(embedding[CAST(dd+1 AS INT)] AS DOUBLE))) >= 0
         |      THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS BIGINT) AS bucket
         |  FROM embeddings),
         |p AS (
         |  SELECT a.vec_id AS keep_id, c.vec_id AS dup_id, a.bucket,
         |         round(${cosSql("a.embedding", "c.embedding")} + 1e-9, 4) AS score
         |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id)
         |SELECT keep_id, dup_id, bucket, score FROM p WHERE score >= 0.30
         |ORDER BY keep_id, dup_id""".stripMargin,
    "dedup_embedding" ->
      s"""WITH p AS (
         |  SELECT a.vec_id AS keep_id, b.vec_id AS dup_id,
         |         round(${cosSql("a.embedding", "b.embedding")} + 1e-9, 4) AS score
         |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
         |SELECT keep_id, dup_id, score FROM p WHERE score >= 0.30
         |ORDER BY keep_id, dup_id""".stripMargin,
    "doc_slice" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |           FROM documents)
        |SELECT doc_id, coalesce(array_to_string(toks[11:30], ' '), '') AS slice_text,
        |       CAST(len(toks) AS BIGINT) AS n_tokens
        |FROM t ORDER BY doc_id""".stripMargin,
    "corpus_catalog" ->
      """WITH dirs AS (
        |  SELECT source AS path, 'dir' AS entry_type, CAST(NULL AS BIGINT) AS size_bytes,
        |         count(*) AS n_entries
        |  FROM documents GROUP BY source),
        |files AS (
        |  SELECT source || '/doc_' || CAST(doc_id AS VARCHAR) || '.' || lang AS path,
        |         'file' AS entry_type,
        |         n_chars AS size_bytes, CAST(NULL AS BIGINT) AS n_entries
        |  FROM documents)
        |SELECT * FROM (SELECT * FROM dirs UNION ALL SELECT * FROM files) u
        |ORDER BY entry_type, path LIMIT 500""".stripMargin,
    "corpus_catalog_opts" ->
      """SELECT source || '/doc_' || CAST(doc_id AS VARCHAR) || '.' || lang AS path,
        |       'file' AS entry_type,
        |       n_chars AS size_bytes, CAST(NULL AS BIGINT) AS n_entries
        |FROM documents WHERE lower(lang) IN ('en', 'de')
        |ORDER BY entry_type, path LIMIT 200""".stripMargin,
    "incremental_diff" ->
      """WITH old AS (
        |  SELECT doc_id, n_chars + CASE WHEN doc_id % 13 = 0 THEN 3 ELSE 0 END AS old_size
        |  FROM documents WHERE doc_id < 450),
        |cur AS (SELECT doc_id, n_chars AS new_size FROM documents WHERE doc_id >= 20)
        |SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN c.doc_id IS NULL THEN 'removed'
        |            WHEN o.old_size != c.new_size THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       o.old_size, c.new_size
        |FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "pdf_decode" ->
      """SELECT doc_id,
        |       CAST(length(text) AS BIGINT) AS byte_size,
        |       md5(text) AS content_hash,
        |       length(text) > 0 AS decoded_ok,
        |       CAST(1 + n_chars // 1000 AS BIGINT) AS page_count_stub
        |FROM documents ORDER BY doc_id""".stripMargin,
    // round-trip identity: the Spark side builds a real FlateDecode PDF from
    // the sanitized text and re-extracts it with the real parser; the oracle
    // states what lossless recovery plus a correct page parse must equal
    "pdf_decode_real" ->
      """SELECT doc_id, true AS is_pdf, 1 AS n_pages,
        |       trim(regexp_replace(coalesce(text, ''), '[^\x20-\x7E]', ' ', 'g')) AS text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_multimodal_meta" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |       CAST(length(text) AS BIGINT) AS byte_len,
        |       sha256(text) AS sha256,
        |       lower(hex(CAST(substring(text, 1, 8) AS BLOB))) AS head_hex
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the image round trip: the Spark side encodes the closed-form raster as
    // a real PNG (row filter rotating through all five types), decodes it
    // with the library-free codec, and reports stats from the DECODED
    // pixels; the oracle regenerates the same stats straight from the pixel
    // formula — a hash match proves the codec round-trips byte-exactly
    "img_decode_real" ->
      s"""WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3
        |              ELSE 4 END AS ch
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, width, height, ch, idx, $imgPixelValSql AS val
        |  FROM (SELECT doc_id, width, height, ch,
        |               unnest(range(0, CAST(width*height*ch AS BIGINT))) AS idx
        |        FROM dims) z)
        |SELECT doc_id, width, height,
        |       CAST(width*height*ch AS BIGINT) AS n_pixels,
        |       md5(string_agg(lpad(CAST(val AS VARCHAR), 3, '0'), ''
        |                      ORDER BY idx)) AS pixel_hash,
        |       round(avg(val) + 1e-9, 4) AS mean_luma
        |FROM v GROUP BY doc_id, width, height, ch ORDER BY doc_id""".stripMargin,
    // frame sampling over the same decoded rasters: frame = row strip,
    // every 3rd row kept; the oracle groups the formula pixels by row
    "img_frames" ->
      s"""WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3
        |              ELSE 4 END AS ch
        |  FROM documents),
        |v AS (
        |  SELECT doc_id, width, height, ch, idx, $imgPixelValSql AS val
        |  FROM (SELECT doc_id, width, height, ch,
        |               unnest(range(0, CAST(width*height*ch AS BIGINT))) AS idx
        |        FROM dims) z)
        |SELECT doc_id, idx // (width*ch) AS frame_idx,
        |       md5(string_agg(lpad(CAST(val AS VARCHAR), 3, '0'), ''
        |                      ORDER BY idx)) AS frame_hash,
        |       round(avg(val) + 1e-9, 4) AS frame_mean
        |FROM v WHERE (idx // (width*ch)) % 3 = 0
        |GROUP BY doc_id, frame_idx ORDER BY doc_id, frame_idx""".stripMargin,
    // bilinear resample replayed closed-form: source pixels from the
    // generation formula, the IDENTICAL IEEE double expression order as
    // Png.resizeBilinear (half-pixel centers, edge clamp, floor(v+0.5)
    // rounding) — doubles are deterministic when the expression tree
    // matches, so the hash pins the kernel bit-for-bit
    "img_resize_real" ->
      """WITH dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3
        |              ELSE 4 END AS ch
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, width, height, ch, oidx,
        |         oidx // (5*ch) AS oy, (oidx % (5*ch)) // ch AS ox,
        |         oidx % ch AS c
        |  FROM (SELECT doc_id, width, height, ch,
        |               unnest(range(0, CAST(5*9*ch AS BIGINT))) AS oidx
        |        FROM dims) z),
        |g AS (
        |  SELECT doc_id, width, height, oidx, c,
        |         greatest(0.0, least(width - 1.0,
        |                             (ox + 0.5) * width / 5 - 0.5)) AS gx,
        |         greatest(0.0, least(height - 1.0,
        |                             (oy + 0.5) * height / 9 - 0.5)) AS gy
        |  FROM o),
        |q AS (
        |  SELECT doc_id, oidx, c,
        |         CAST(floor(gx) AS BIGINT) AS x0,
        |         least(width - 1, CAST(floor(gx) AS BIGINT) + 1) AS x1,
        |         gx - CAST(floor(gx) AS BIGINT) AS fx,
        |         CAST(floor(gy) AS BIGINT) AS y0,
        |         least(height - 1, CAST(floor(gy) AS BIGINT) + 1) AS y1,
        |         gy - CAST(floor(gy) AS BIGINT) AS fy
        |  FROM g),
        |v AS (
        |  SELECT doc_id, oidx, CAST(floor(
        |    (((doc_id*31 + y0*17 + x0*5 + c*7) % 256) * (1 - fx)
        |     + ((doc_id*31 + y0*17 + x1*5 + c*7) % 256) * fx) * (1 - fy)
        |    + (((doc_id*31 + y1*17 + x0*5 + c*7) % 256) * (1 - fx)
        |       + ((doc_id*31 + y1*17 + x1*5 + c*7) % 256) * fx) * fy
        |    + 0.5) AS BIGINT) AS val
        |  FROM q)
        |SELECT doc_id, CAST(5 AS INT) AS out_w, CAST(9 AS INT) AS out_h,
        |       md5(string_agg(lpad(CAST(val AS VARCHAR), 3, '0'), ''
        |                      ORDER BY oidx)) AS pixel_hash,
        |       round(avg(val) + 1e-9, 4) AS mean_val
        |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // baseline JPEG: lossy, so there is no round-trip identity to replay in
    // SQL — the oracle pins the codec's decoded stats for the six fixture
    // forms as FROZEN literals (generated by Test/runMain graft.JpgOracleGen,
    // cross-validated against javax.imageio in JpegSpec). A codec regression
    // moves the Spark side only and fails the hash.
    "jpg_decode_real" ->
      """WITH f(form, width, height, channels, pixel_hash, mean_luma) AS (VALUES
        |  (0, 16, 10, 3, '0141c11841896068362b84f4dc59d5ed', 117.5),
        |  (1, 17, 9, 3, '67b0eed8b6919288693d30f695b6bd9e', 123.8889),
        |  (2, 12, 12, 1, 'd31616cd314e78a777cbb71238bf9207', 126.0417),
        |  (3, 16, 16, 3, '9d0cd233e248f231d2d45e1813c36fc7', 136.3711),
        |  (4, 9, 7, 3, '20eae6a4938e64fd35073087fe1cabb0', 141.0265),
        |  (5, 23, 5, 1, 'c004b6e93d23ea0936d201f14d8c2412', 143.8261),
        |  (6, 20, 14, 3, 'f1b7e4a6cc3064482bd52be37d5214f7', 151.8345),
        |  (7, 11, 17, 1, '71677ac379fd0eedbfa3818f7e6d444f', 153.4225))
        |SELECT d.doc_id, f.form, f.width, f.height, f.channels,
        |       f.pixel_hash, f.mean_luma
        |FROM documents d JOIN f ON CAST(d.doc_id % 8 AS INT) = f.form
        |ORDER BY d.doc_id""".stripMargin,
    // A12 gate: the PNG arm replays the closed-form raster stats (the
    // img_decode_real CTEs restricted to the fixture ids); the JPEG arm
    // joins the jpg_decode_real frozen literals (lossy — no SQL replay).
    // The Spark side served these rows from the ExtractCache over POISONED
    // files, so a hash match proves the decode-once cache contract live.
    "img_files_real" ->
      s"""WITH ids AS (SELECT doc_id FROM documents WHERE doc_id % 25 = 0),
        |dims AS (
        |  SELECT doc_id, CAST(8 + doc_id % 9 AS INT) AS width,
        |         CAST(8 + doc_id % 7 AS INT) AS height,
        |         CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 1 WHEN 1 THEN 3
        |              ELSE 4 END AS ch
        |  FROM ids),
        |v AS (
        |  SELECT doc_id, width, height, ch, idx, $imgPixelValSql AS val
        |  FROM (SELECT doc_id, width, height, ch,
        |               unnest(range(0, CAST(width*height*ch AS BIGINT))) AS idx
        |        FROM dims) z),
        |png AS (
        |  SELECT doc_id, 'png' AS kind, true AS decoded_ok, width, height,
        |         CAST(ch AS INT) AS channels,
        |         CAST(width*height*ch AS BIGINT) AS n_pixels,
        |         md5(string_agg(lpad(CAST(val AS VARCHAR), 3, '0'), ''
        |                        ORDER BY idx)) AS pixel_hash,
        |         round(avg(val) + 1e-9, 4) AS mean_luma
        |  FROM v GROUP BY doc_id, width, height, ch),
        |jf(form, width, height, channels, pixel_hash, mean_luma) AS (VALUES
        |  (0, 16, 10, 3, '0141c11841896068362b84f4dc59d5ed', 117.5),
        |  (1, 17, 9, 3, '67b0eed8b6919288693d30f695b6bd9e', 123.8889),
        |  (2, 12, 12, 1, 'd31616cd314e78a777cbb71238bf9207', 126.0417),
        |  (3, 16, 16, 3, '9d0cd233e248f231d2d45e1813c36fc7', 136.3711),
        |  (4, 9, 7, 3, '20eae6a4938e64fd35073087fe1cabb0', 141.0265),
        |  (5, 23, 5, 1, 'c004b6e93d23ea0936d201f14d8c2412', 143.8261),
        |  (6, 20, 14, 3, 'f1b7e4a6cc3064482bd52be37d5214f7', 151.8345),
        |  (7, 11, 17, 1, '71677ac379fd0eedbfa3818f7e6d444f', 153.4225)),
        |jpg AS (
        |  SELECT i.doc_id, 'jpg' AS kind, true AS decoded_ok, jf.width,
        |         jf.height, jf.channels,
        |         CAST(jf.width*jf.height*jf.channels AS BIGINT) AS n_pixels,
        |         jf.pixel_hash, jf.mean_luma
        |  FROM ids i JOIN jf ON CAST(i.doc_id % 8 AS INT) = jf.form)
        |SELECT * FROM png UNION ALL SELECT * FROM jpg
        |ORDER BY doc_id, kind""".stripMargin,
    "lang_id" -> s"WITH $langIdBody",
    "lang_id_cjk" -> s"WITH $cjkDocsCte, $langIdBody",
    "quality_score" -> s"WITH $qualityScoreBody",
    "quality_score_cjk" -> s"WITH $cjkDocsCte, $qualityScoreBody",
    "token_count" ->
      """WITH t AS (SELECT doc_id, text,
        |    length(text) - length(regexp_replace(text,
        |      '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]', '', 'g')) AS cjk,
        |    regexp_replace(text,
        |      '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]', ' ', 'g') AS blanked
        |  FROM documents)
        |SELECT doc_id,
        |       CAST(len(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS BIGINT) AS n_ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
        |         + coalesce(list_sum(list_transform(regexp_extract_all(text,
        |             '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]+'),
        |             r -> greatest(len(r) - 1, 0))), 0) AS BIGINT) AS n_subtokens,
        |       CAST(cjk AS BIGINT) AS n_cjk_chars,
        |       CAST(length(text) AS BIGINT) AS n_chars_m,
        |       CAST(len(list_filter(string_split(blanked, ' '), x -> len(x) > 0)) + cjk AS BIGINT) AS n_tokens_est
        |FROM t ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      """WITH t AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |           FROM documents)
        |SELECT doc_id,
        |       list_reduce(list_prepend(CAST(0 AS BIGINT),
        |         list_transform(toks, t -> CAST(len(t)*131 + ascii(t) AS BIGINT))),
        |         (h, c) -> (h*31 + c) % 1000000007) AS fp
        |FROM t ORDER BY doc_id""".stripMargin,
    "chunk_docs" ->
      """SELECT doc_id, i AS chunk_idx,
        |       substring(text, CAST(i*80+1 AS INT), 100) AS chunk_text
        |FROM (SELECT doc_id, text,
        |        unnest(range(0, CAST(floor((length(text)-1)/80.0) AS BIGINT)+1)) AS i
        |      FROM documents WHERE length(text) > 0) t
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "chunk_docs_semantic" ->
      """WITH t0 AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |            FROM documents),
        |u AS (SELECT doc_id, CAST(i AS BIGINT) AS pos, toks[CAST(i+1 AS INT)] AS unit
        |      FROM (SELECT doc_id, toks, unnest(range(0, len(toks))) AS i FROM t0) z),
        |c AS (SELECT doc_id, pos, unit,
        |        CAST(coalesce(sum(len(unit) + 1) OVER (PARTITION BY doc_id ORDER BY pos
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
        |      FROM u),
        |k AS (SELECT doc_id, CAST(floor(cum_before / 200.0) AS BIGINT) AS raw_idx, pos, unit FROM c),
        |g AS (SELECT doc_id, raw_idx,
        |        string_agg(unit, ' ' ORDER BY pos) AS chunk_text,
        |        count(*) AS n_units,
        |        CAST(length(string_agg(unit, ' ' ORDER BY pos)) AS BIGINT) AS chunk_chars
        |      FROM k GROUP BY doc_id, raw_idx)
        |SELECT doc_id,
        |       CAST(row_number() OVER (PARTITION BY doc_id ORDER BY raw_idx) - 1 AS BIGINT) AS chunk_idx,
        |       chunk_text, n_units, chunk_chars
        |FROM g ORDER BY doc_id, chunk_idx""".stripMargin,
    "index_build" ->
      """SELECT doc_id, i AS chunk_idx,
        |       substring(text, CAST(i*80+1 AS INT), 100) AS chunk_text,
        |       n_chars AS file_size, token_count, lang
        |FROM (SELECT doc_id, text, lang, n_chars,
        |        CAST(len(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS BIGINT) AS token_count,
        |        unnest(range(0, CAST(floor((length(text)-1)/80.0) AS BIGINT)+1)) AS i
        |      FROM documents WHERE length(text) > 0) t
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "index_status" ->
      """SELECT lang,
        |       count(*) AS files_discovered,
        |       CAST(sum(CAST(floor((length(text)-1)/80.0) AS BIGINT) + 1) AS BIGINT) AS chunks_total,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q1_pricing" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity)+1e-9, 2) AS sum_qty,
        |       round(sum(l_extendedprice)+1e-9, 2) AS sum_base_price,
        |       round(sum(l_extendedprice*(1-l_discount))+1e-9, 2) AS sum_disc_price,
        |       round(avg(l_quantity)+1e-9, 4) AS avg_qty,
        |       round(avg(l_discount)+1e-9, 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q3_revenue" ->
      """SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
        |       round(sum(l.l_extendedprice*(1-l.l_discount))+1e-9, 2) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY 1,2,3
        |ORDER BY revenue DESC, l_orderkey ASC
        |LIMIT 10""".stripMargin,
    "q_window_topn" ->
      """SELECT p_brand, rn, p_partkey, round(p_retailprice+1e-9, 2) AS p_retailprice FROM (
        |  SELECT p_brand, p_partkey, p_retailprice,
        |         row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey ASC) AS rn
        |  FROM part) t
        |WHERE rn <= 3 ORDER BY p_brand, rn""".stripMargin,
    "events_window" ->
      """SELECT make_timestamp(CAST(floor(epoch_us(ts)/300000000)*300000000 AS BIGINT)) AS window_start,
        |       event_type, count(*) AS n_events, round(sum(value)+1e-9, 2) AS sum_value
        |FROM events GROUP BY 1,2 ORDER BY 1,2""".stripMargin,
    "q_range_join" ->
      """WITH p AS (SELECT event_id AS purchase_id, ts AS p_ts FROM events WHERE event_type = 'purchase')
        |SELECT p.purchase_id,
        |       CAST(count(e.event_id) AS BIGINT) AS n_nearby,
        |       CASE WHEN count(e.event_id) = 0 THEN 0.0
        |            ELSE round(sum(e.value)+1e-9, 2) END AS sum_nearby_value
        |FROM p LEFT JOIN events e
        |  ON abs(epoch_us(e.ts) - epoch_us(p.p_ts)) <= 300000000
        | AND e.event_id != p.purchase_id
        |GROUP BY p.purchase_id ORDER BY purchase_id""".stripMargin,
    "incremental_diff_hash" ->
      """WITH old AS (
        |  SELECT doc_id,
        |         md5(CASE WHEN doc_id % 13 = 0
        |                  THEN substring(text, 1, CAST(length(text) - 1 AS INT)) || '?'
        |                  ELSE text END) AS old_hash
        |  FROM documents WHERE doc_id < 450),
        |cur AS (SELECT doc_id, md5(text) AS new_hash FROM documents WHERE doc_id >= 20)
        |SELECT coalesce(o.doc_id, c.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN c.doc_id IS NULL THEN 'removed'
        |            WHEN o.old_hash != c.new_hash THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       o.old_hash, c.new_hash
        |FROM old o FULL OUTER JOIN cur c ON o.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,
    "q_skew_agg" ->
      """SELECT event_type, round(sum(value)+1e-9, 2) AS sum_value, count(*) AS n_rows
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity)+1e-9, 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |       coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |       count(*) AS n_rows,
        |       round(sum(l_quantity)+1e-9, 2) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_retention" ->
      """WITH w AS (SELECT user_id,
        |             CAST(floor(epoch_us(ts)/604800000000) AS BIGINT) AS week
        |           FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1)
        |SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
        |       CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
        |FROM w JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |            WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2
        |       FROM events e JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'click' AND epoch_us(e.ts) > epoch_us(s1.t1)
        |         AND epoch_us(e.ts) <= epoch_us(s1.t1) + 86400000000 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3
        |       FROM events e JOIN s2 ON e.user_id = s2.user_id
        |                     JOIN s1 ON e.user_id = s1.user_id
        |       WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > epoch_us(s2.t2)
        |         AND epoch_us(e.ts) <= epoch_us(s1.t1) + 86400000000 GROUP BY 1),
        |c AS (SELECT (SELECT count(*) FROM s1) AS c1,
        |             (SELECT count(*) FROM s2) AS c2,
        |             (SELECT count(*) FROM s3) AS c3)
        |SELECT step, step_name, n_users,
        |       CASE WHEN c1 > 0 THEN round(CAST(n_users AS DOUBLE) / c1 + 1e-9, 4)
        |            ELSE 0.0 END AS conversion
        |FROM (SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name, c1 AS n_users, c1 FROM c
        |      UNION ALL SELECT 2, 'click', c2, c1 FROM c
        |      UNION ALL SELECT 3, 'purchase', c3, c1 FROM c)
        |ORDER BY step""".stripMargin,
    "q_pivot" ->
      """SELECT user_id % 10 AS user_bucket,
        |       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
        |       CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
        |       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
        |       CAST(count(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
        |       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin,
    "text_normalize" ->
      """WITH n AS (
        |  SELECT doc_id, text, CAST(length(text) AS BIGINT) AS n_chars_raw,
        |         trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |              ' +', ' ', 'g')) AS norm_text
        |  FROM documents)
        |SELECT doc_id, n_chars_raw, norm_text,
        |       CAST(length(norm_text) AS BIGINT) AS n_chars_norm,
        |       norm_text != text AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    "pii_redact" ->
      """WITH f AS (
        |  SELECT doc_id,
        |         text || ' contact user' || CAST(doc_id AS VARCHAR)
        |           || '@mail.example.com tel +1-555-'
        |           || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |           || ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR)
        |           || '.' || CAST(((doc_id % 256) * 7) % 256 AS VARCHAR) AS full_text
        |  FROM documents),
        |r AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(full_text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |    CAST(len(regexp_extract_all(full_text, '\+[0-9][0-9\-]{6,}[0-9]')) AS BIGINT) AS n_phones,
        |    CAST(len(regexp_extract_all(full_text, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ips,
        |    regexp_replace(regexp_replace(regexp_replace(full_text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\+[0-9][0-9\-]{6,}[0-9]', '<PHONE>', 'g'),
        |      '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g') AS redacted
        |  FROM f)
        |SELECT doc_id, n_emails, n_phones, n_ips,
        |       substring(redacted, CAST(greatest(length(redacted) - 59, 1) AS INT)) AS redacted_tail
        |FROM r ORDER BY doc_id""".stripMargin,
    "quality_repetition" ->
      """WITH t AS (SELECT doc_id,
        |             list_filter(string_split(regexp_replace(text,
        |               '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]', ' ', 'g'), ' '),
        |               x -> len(x) > 0) AS toks,
        |             flatten(list_transform(regexp_extract_all(text,
        |               '[\x{4e00}-\x{9fff}\x{3040}-\x{30ff}\x{ac00}-\x{d7af}]+'), r ->
        |               CASE WHEN len(r) >= 2
        |                 THEN list_transform(range(1, len(r)), i -> substr(r, CAST(i AS INT), 2))
        |                 ELSE [] END)) AS bgs
        |           FROM documents),
        |tc AS (SELECT doc_id, unnest(list_transform(list_concat(toks, bgs), x ->
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(x, ''), ch -> CAST(ascii(ch) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007))) AS code
        |       FROM t),
        |tcc AS (SELECT doc_id, code, count(*) AS c FROM tc GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |              CAST(max(c) AS BIGINT) AS top_token_n FROM tcc GROUP BY doc_id),
        |bg AS (SELECT doc_id, unnest(list_transform(range(0, greatest(len(toks)-1, 0)), i ->
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(array_to_string(toks[CAST(i+1 AS INT):CAST(i+2 AS INT)], ' '), ''),
        |             ch -> CAST(ascii(ch) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007))) AS code
        |       FROM t),
        |bgc AS (SELECT doc_id, code, count(*) AS c FROM bg GROUP BY 1, 2),
        |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |              CAST(max(c) AS BIGINT) AS top_bigram_n FROM bgc GROUP BY doc_id),
        |j AS (SELECT d.doc_id,
        |        coalesce(ts.n_tokens, 0) AS n_tokens, coalesce(ts.top_token_n, 0) AS top_token_n,
        |        coalesce(bs.n_bigrams, 0) AS n_bigrams, coalesce(bs.top_bigram_n, 0) AS top_bigram_n
        |      FROM documents d LEFT JOIN ts ON ts.doc_id = d.doc_id
        |                       LEFT JOIN bs ON bs.doc_id = d.doc_id),
        |q AS (SELECT *,
        |        round(CAST(top_token_n AS DOUBLE)/greatest(n_tokens, 1) + 1e-9, 4) AS top_token_frac,
        |        round(CAST(top_bigram_n AS DOUBLE)/greatest(n_bigrams, 1) + 1e-9, 4) AS top_bigram_frac
        |      FROM j)
        |SELECT doc_id, n_tokens, top_token_n, n_bigrams, top_bigram_n,
        |       top_token_frac, top_bigram_frac,
        |       (top_token_frac > 0.30 OR top_bigram_frac > 0.20) AS repetitive
        |FROM q ORDER BY doc_id""".stripMargin,
    "tfidf_terms" ->
      """WITH t AS (SELECT doc_id, lang,
        |             unnest(list_filter(string_split(text, ' '), x -> len(x) > 0)) AS term
        |           FROM documents),
        |tf AS (SELECT lang, term, CAST(count(*) AS BIGINT) AS tf FROM t GROUP BY 1, 2),
        |df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM t GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |sc AS (SELECT lang, term, tf.tf, df.df,
        |         round(tf.tf * ln(n.n_docs / df.df) + 1e-9, 4) AS score
        |       FROM tf JOIN df USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY lang ORDER BY score DESC, term) AS rn FROM sc)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, term, tf, df, score
        |FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,
    "dedup_spans" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |              FROM documents),
        |w AS (SELECT doc_id, i AS off,
        |        md5(array_to_string(l[CAST(i+1 AS INT):CAST(i+8 AS INT)], ' ')) AS h
        |      FROM (SELECT doc_id, l, unnest(range(0, len(l) - 7)) AS i
        |            FROM toks WHERE len(l) >= 8) t),
        |rep AS (SELECT h FROM w GROUP BY h HAVING count(*) > 1),
        |f AS (SELECT w.doc_id, w.off FROM w JOIN rep USING (h)),
        |b AS (SELECT doc_id, off,
        |        CASE WHEN off - lag(off) OVER (PARTITION BY doc_id ORDER BY off) < 8
        |             THEN 0 ELSE 1 END AS boundary
        |      FROM f),
        |isl AS (SELECT doc_id, off,
        |          sum(boundary) OVER (PARTITION BY doc_id ORDER BY off
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |        FROM b),
        |sp AS (SELECT doc_id, min(off) + 1 AS span_start, max(off) + 8 AS span_end,
        |         count(*) AS n_windows
        |       FROM isl GROUP BY doc_id, g)
        |SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
        |       CAST(span_end AS BIGINT) AS span_end, CAST(n_windows AS BIGINT) AS n_windows
        |FROM sp ORDER BY doc_id, span_start""".stripMargin,
    "quality_lm" ->
      """WITH toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS l
        |              FROM documents),
        |uni AS (SELECT doc_id, unnest(l) AS w FROM toks),
        |big AS (SELECT doc_id, unnest(list_transform(range(1, len(l)),
        |                 i -> struct_pack(w1 := l[CAST(i AS INT)], w2 := l[CAST(i+1 AS INT)]))) AS b
        |        FROM toks WHERE len(l) >= 2),
        |b2 AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM big),
        |c1 AS (SELECT w, CAST(count(*) AS BIGINT) AS c1 FROM uni GROUP BY w),
        |cb AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12 FROM b2 GROUP BY w1, w2),
        |v AS (SELECT CAST(count(DISTINCT w) AS DOUBLE) AS v FROM uni),
        |sc AS (SELECT b2.doc_id,
        |         ln((cb.c12 + 0.5) / (c1.c1 + 0.5 * v.v)) AS lnp
        |       FROM b2 JOIN cb ON b2.w1 = cb.w1 AND b2.w2 = cb.w2
        |                JOIN c1 ON b2.w1 = c1.w, v),
        |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nb,
        |          round(-avg(lnp) + 1e-9, 4) AS nll
        |        FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, CAST(coalesce(agg.nb, 0) AS BIGINT) AS n_bigrams, agg.nll
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "sample_pack" ->
      """WITH t AS (SELECT doc_id,
        |             CAST(len(list_filter(string_split(coalesce(text, ''), ' '), x -> len(x) > 0)) AS BIGINT) AS n_tokens
        |           FROM documents),
        |c AS (SELECT doc_id, n_tokens,
        |        coalesce(sum(n_tokens) OVER (ORDER BY doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
        |      FROM t)
        |SELECT doc_id, n_tokens,
        |       CAST(prior // 512 AS BIGINT) AS bin_id,
        |       CAST(prior % 512 AS BIGINT) AS bin_offset
        |FROM c ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT doc_id, lang, n_chars, (((doc_id % 1000) * (2654435761 % 1000)) % 1000 + 1000) % 1000 AS strat_key,
        |       round(1000.0 / (CASE WHEN lang = 'en' THEN 500 ELSE 250 END) + 1e-9, 4) AS weight
        |FROM documents
        |WHERE (((doc_id % 1000) * (2654435761 % 1000)) % 1000 + 1000) % 1000 < (CASE WHEN lang = 'en' THEN 500 ELSE 250 END)
        |ORDER BY doc_id""".stripMargin,
    "sample_mixture" ->
      """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total,
        |             sum(pow(CAST(n_s AS DOUBLE), 0.5)) AS z FROM c),
        |r AS (SELECT source,
        |        least(1.0, 0.5 * CAST(n_total AS DOUBLE)
        |          * (pow(CAST(n_s AS DOUBLE), 0.5) / z) / CAST(n_s AS DOUBLE)) AS rate
        |      FROM c, t)
        |SELECT d.doc_id, d.source,
        |       round(rate + 1e-9, 6) AS rate,
        |       round(1.0 / rate + 1e-9, 4) AS weight
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST((((d.doc_id % 1000000) * (2654435761 % 1000000)) % 1000000 + 1000000) % 1000000 AS DOUBLE) < rate * 1e6
        |ORDER BY d.doc_id""".stripMargin,
    "split_leakage_safe" ->
      """WITH g AS (SELECT doc_id, md5(lower(trim(text))) AS text_hash FROM documents),
        |a AS (SELECT doc_id, text_hash,
        |             min(doc_id) OVER (PARTITION BY text_hash) AS anchor_id FROM g),
        |b AS (SELECT *, (((anchor_id % 1000) * (2654435761 % 1000)) % 1000 + 1000) % 1000 AS bucket FROM a)
        |SELECT doc_id, text_hash, anchor_id,
        |       CASE WHEN bucket < 100 THEN 'test'
        |            WHEN bucket < 200 THEN 'val'
        |            ELSE 'train' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // D9 CMS heavy hitters: same token code + universal-hash family as
    // minhash; estimate = min over the 4 sketch rows
    "tokens_heavy" ->
      """WITH toksrc AS (
        |  SELECT (((doc_id % 1000) * (2654435761 % 1000)) % 1000 + 1000) % 1000 AS mix,
        |         unnest(list_filter(string_split(text, ' '), t -> len(t) > 0)) AS tok
        |  FROM documents),
        |codes AS (
        |  SELECT tok, mix,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007) AS x
        |  FROM toksrc),
        |cms AS (
        |  SELECT i, ((x*(40503*i + 11) + 19349663*i) % 1000000007) % 1024 AS b,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT x, unnest(range(0, 4)) AS i FROM codes) t GROUP BY 1, 2),
        |cand AS (SELECT DISTINCT tok, x FROM codes WHERE mix < 100),
        |ce AS (SELECT tok, x, unnest(range(0, 4)) AS i FROM cand),
        |est AS (
        |  SELECT ce.tok, min(cms.c) AS est_count
        |  FROM ce JOIN cms ON cms.i = ce.i
        |    AND cms.b = ((ce.x*(40503*ce.i + 11) + 19349663*ce.i) % 1000000007) % 1024
        |  GROUP BY ce.tok),
        |top AS (SELECT tok AS token, est_count FROM est ORDER BY est_count DESC, tok LIMIT 20)
        |SELECT token, est_count FROM top ORDER BY token""".stripMargin,
    // F8 DSIR: same polynomial token code as fingerprint/minhash, bucketed
    // mod 512; add-one-smoothed log-likelihood ratios; Gumbel key from the
    // multiplicative doc_id hash (deterministic on both engines)
    "sample_dsir" ->
      """WITH toksrc AS (
        |  SELECT doc_id, (lang = 'en') AS is_target,
        |         list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, is_target,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(string_split(tok, ''), c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007) % 512 AS f,
        |         CAST(count(*) AS BIGINT) AS c
        |  FROM (SELECT doc_id, is_target, unnest(toks) AS tok FROM toksrc) t
        |  GROUP BY 1, 2, 3),
        |stats AS (
        |  SELECT f,
        |    CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS tc,
        |    CAST(sum(CASE WHEN NOT is_target THEN c ELSE 0 END) AS BIGINT) AS qc
        |  FROM feats GROUP BY f),
        |tot AS (SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(qc) AS BIGINT) AS qt FROM stats),
        |dist AS (SELECT f,
        |    ln(CAST(tc + 1 AS DOUBLE) / CAST(tt + 512 AS DOUBLE))
        |  - ln(CAST(qc + 1 AS DOUBLE) / CAST(qt + 512 AS DOUBLE)) AS llr
        |  FROM stats, tot),
        |scored AS (
        |  SELECT fe.doc_id, sum(CAST(fe.c AS DOUBLE) * d.llr) AS log_w
        |  FROM feats fe JOIN dist d ON fe.f = d.f
        |  WHERE NOT fe.is_target GROUP BY fe.doc_id),
        |keyed AS (
        |  SELECT doc_id, log_w,
        |    log_w - ln(-ln((CAST((((doc_id % 1000000) * (2654435761 % 1000000)) % 1000000 + 1000000) % 1000000 AS DOUBLE) + 0.5) / 1000000.0)) AS key
        |  FROM scored),
        |top AS (SELECT doc_id, log_w, key FROM keyed ORDER BY key DESC, doc_id LIMIT 50)
        |SELECT doc_id, round(log_w + 1e-9, 4) AS log_w, round(key + 1e-9, 4) AS dsir_key
        |FROM top ORDER BY doc_id""".stripMargin,
    "contamination_check" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(0, greatest(len(toks)-4, 0)),
        |      i -> list_reduce(list_prepend(CAST(0 AS BIGINT),
        |             list_transform(string_split(array_to_string(toks[CAST(i+1 AS INT):CAST(i+5 AS INT)], ' '), ''),
        |               c -> CAST(ascii(c) AS BIGINT))),
        |           (h, c) -> (h*31 + c) % 1000000007))) AS sh
        |  FROM (SELECT doc_id, list_filter(string_split(text, ' '), t -> len(t) > 0) AS toks
        |        FROM documents) t0),
        |bench AS (SELECT DISTINCT unnest(sh) AS code FROM s WHERE doc_id % 17 = 3),
        |tr AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles, unnest(sh) AS code
        |       FROM s WHERE doc_id % 17 != 3)
        |SELECT tr.doc_id, tr.n_shingles, CAST(count(*) AS BIGINT) AS n_contaminated,
        |       round(CAST(count(*) AS DOUBLE)/tr.n_shingles + 1e-9, 4) AS contamination_frac
        |FROM tr JOIN bench ON bench.code = tr.code
        |GROUP BY tr.doc_id, tr.n_shingles ORDER BY tr.doc_id""".stripMargin,
    "events_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value,
        |         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        |  FROM events),
        |s AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL OR epoch_us(ts)-epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS new_session FROM e),
        |t AS (
        |  SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id, count(*) AS n_events,
        |       min(ts) AS session_start, max(ts) AS session_end, round(sum(value)+1e-9, 2) AS sum_value
        |FROM t GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,
  )
}
