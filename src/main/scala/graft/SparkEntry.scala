package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q3TopRevenue(spark, "/root/testdata/sf0.001")

  /** The stateful Structured Streaming entries. They leave state-store
    * maintenance threads and checkpoint cleanup behind in the JVM, which
    * measured 3-6x on the next ~7 queries run after them, so [[Bench]] runs
    * them last and unloads the state-store providers after each. */
  val streamingKeys: Set[String] =
    Set("events_windowed_stream", "events_hopping_stream",
      "events_dedup_stream", "sessionize_stream",
      "corpus_quality_stream", "decontaminate_stream", "events_enrich_stream",
      "purchase_attribution_stream", "token_count_stream",
      "kmv_distinct_stream", "blocklist_stream", "entropy_stream")

  /** One entry per implemented operator from SURVEY.md §2/§2b/§2c. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_pricing_summary" -> (Relational.q1PricingSummary _),
    "q2_filter_project" -> (Relational.q2FilterProject _),
    "q3_top_revenue" -> (Relational.q3TopRevenue _),
    "q4_region_revenue" -> (Relational.q4RegionRevenue _),
    "q5_window_topn" -> (Relational.q5WindowTopN _),
    "q6_sort_limit" -> (Relational.q6SortLimit _),
    "q7_anti_join" -> (Relational.q7AntiJoin _),
    "q8_distinct_agg" -> (Relational.q8DistinctAgg _),
    "q9_events_hourly" -> (Relational.q9EventsHourly _),
    "q10_events_sessions" -> (Relational.q10EventsSessions _),
    "q11_semi_join" -> (Relational.q11SemiJoin _),
    "q12_rollup" -> (Relational.q12Rollup _),
    "q13_lag_lead" -> (Relational.q13LagLead _),
    "q14_scalar_subquery" -> (Relational.q14ScalarSubquery _),
    "q15_cube" -> (Relational.q15Cube _),
    "q16_except" -> (Relational.q16Except _),
    // sketches run for real; output = exact count + within-tolerance flags
    "q17_sketches" -> (Relational.q17Sketches _),
    "sample_bottomk" -> ((s: SparkSession, d: String) => operators.Sketches.sampleBottomK(s, d)),
    "kmv_distinct" -> ((s: SparkSession, d: String) => operators.Sketches.kmvDistinct(s, d)),
    "heavy_hitters" -> (operators.Sketches.heavyHittersQuery _),
    "q18_percentiles" -> (Relational.q18Percentiles _),
    "q19_string_ops" -> (Relational.q19StringOps _),
    "q20_datetime" -> (Relational.q20Datetime _),
    "q21_pivot" -> (Relational.q21Pivot _),
    "q22_json_props" -> (Relational.q22JsonProps _),
    "q23_ntile" -> (Relational.q23Ntile _),
    "q24_funnel" -> (Relational.q24Funnel _),
    "q25_retention" -> (Relational.q25Retention _),
    "q26_hopping" -> (Relational.q26Hopping _),
    "q27_zscore" -> (Relational.q27Zscore _),
    "q28_intersect" -> (Relational.q28Intersect _),
    "q29_moving_avg" -> (Relational.q29MovingAvg _),
    "q30_grouping_sets" -> (Relational.q30GroupingSets _),
    "events_windowed_stream" -> (StreamingQueries.eventsWindowedStream _),
    "events_hopping_stream" -> (StreamingQueries.eventsHoppingStream _),
    // countDistinct is unsupported on streams — the KMV sketch is the
    // streaming answer; shared result contract with batch kmv_distinct
    "kmv_distinct_stream" -> ((s: SparkSession, d: String) =>
      StreamingQueries.kmvDistinctStream(s, d)),
    "events_dedup_stream" -> (StreamingQueries.eventsDedupStream _),
    "sessionize_stream" -> (StreamingQueries.sessionizeStream _),
    "corpus_quality_stream" -> (MqRoundtrip.corpusQualityStream _),
    // tokenizer trained offline, applied per micro-batch on the stream
    "token_count_stream" -> (MqRoundtrip.tokenCountStream _),
    "decontaminate_stream" -> (MqRoundtrip.decontaminateStream _),
    "blocklist_stream" -> (MqRoundtrip.blocklistStream _),
    "entropy_stream" -> (MqRoundtrip.entropyStream _),
    "dedup_incremental_stream" -> (MqRoundtrip.dedupIncrementalStream _),
    "events_enrich_stream" -> (MqRoundtrip.eventsEnrichStream _),
    "purchase_attribution_stream" -> (MqRoundtrip.purchaseAttributionStream _),
    "skew_join_salted" -> (SkewJoin.skewJoinSalted _),
    "bucketed_join" -> (Bucketed.bucketedJoinQuery _),
    "asof_join_events" -> (AsOfJoin.asofJoinEvents _),
    "range_join_events" -> (RangeJoin.rangeJoinEvents _),
    "text_tokens" -> (TextAnalysis.textTokens _),
    "dedup_exact" -> (Dedup.dedupExact _),
    "deser_documents" -> (Deser.deserDocuments _),
    "deser_dirty" -> (MqRoundtrip.deserDirty _),
    "mq_roundtrip_events" -> (MqRoundtrip.mqRoundtripEvents _),
    "mq_roundtrip_continuous" -> (MqRoundtrip.mqRoundtripContinuous _),
    "text_stats" -> (TextAnalysis.textStats _),
    "text_quality" -> (TextAnalysis.textQuality _),
    "text_langid" -> (TextAnalysis.textLangId _),
    "text_fingerprint" -> (TextAnalysis.textFingerprint _),
    // PII scrubbing (planted-from-doc_id emails/IPs/phones; regex parity
    // proven byte-identically vs the DuckDB oracle)
    "pii_redact" -> (TextAnalysis.piiRedact _),
    // winnowing (MOSS) span-level fingerprints, md5 parity with the oracle
    "winnow_fingerprint" -> (TextAnalysis.winnowFingerprint _),
    // cross-document shared passages (winnow fps in 2..50 docs, df-capped)
    "duplicate_passages" -> (TextAnalysis.duplicatePassagesEntry _),
    // NFC canonicalization via the custom Catalyst expression (planted
    // decomposed sequences; digest parity vs DuckDB's native nfc_normalize)
    "text_normalize" -> (TextAnalysis.textNormalize _),
    // per-document tf·idf keywords (ln(N/df), 4-dp rounded rank)
    "tfidf_topterms" -> (TextAnalysis.tfidfTopTermsEntry _),
    // BM25 ranked retrieval: top-10 docs per corpus-derived query
    "bm25_search" -> (TextAnalysis.bm25SearchEntry _),
    // PMI-ranked collocations: top-50 word pairs co-occurring above chance
    "collocations_pmi" -> (CorpusPipeline.collocationsPmiEntry _),
    // distributed BPE tokenizer training: first 5 merge rules; the DuckDB
    // oracle replays the identical iterations as chained CTEs
    "bpe_merges" -> (CorpusPipeline.bpeMergesEntry _),
    "bpe_encode" -> (CorpusPipeline.bpeEncodeEntry _),
    // tokens-per-word per language under the trained merges — the
    // under-served-language signal a multilingual tokenizer team watches
    "bpe_fertility" -> (CorpusPipeline.bpeFertility _),
    // canonicalize-then-dedup: planted composed/decomposed twins collapse
    // to one normalized key (byte-level dedup would keep both)
    "dedup_exact_nfc" -> (TextAnalysis.dedupExactNfc _),
    "ann_topk" -> (Similarity.annTopK _),
    // hybrid retrieval: BM25 + cosine pools fused by reciprocal-rank
    // fusion; the fused double is two IEEE terms in fixed order, bit-exact
    // across engines
    "hybrid_search" -> (Similarity.hybridSearchQuery _),
    // SymSpell delete-variant fuzzy join: planted typos vs the frequent
    // vocabulary at levenshtein <= 1; provable distance-1 recall, oracle
    // brute-forces all pairs
    "fuzzy_term_join" -> (TextAnalysis.fuzzyTermJoinQuery _),
    // the application side of typo mining: unambiguous corrections
    // rewritten into the corpus, reassembled in token order
    "spell_correct" -> (TextAnalysis.spellCorrectQuery _),
    // directed word-6-gram containment: planted quote docs score ~1
    // against their containers while Jaccard stays near 0
    "ngram_containment" -> (Dedup.containmentQuery _),
    "corpus_sample" -> (CorpusPipeline.corpusSample _),
    "vocab_topk" -> (CorpusPipeline.vocabTopk _),
    "decontaminate" -> (CorpusPipeline.corpusDecontaminate _),
    "decontaminate_bloom" -> (CorpusPipeline.corpusDecontaminateBloom _),
    // banned-phrase screening: token-boundary contains against a literal
    // blocklist (top-5 corpus bigrams as the deterministic stand-in)
    "blocklist_filter" -> (CorpusPipeline.blocklistFilterQuery _),
    "text_repetition" -> (TextAnalysis.textRepetition _),
    "text_entropy" -> (TextAnalysis.textEntropy _),
    "langid_confusion" -> (TextAnalysis.langidConfusion _),
    "length_histogram" -> (CorpusPipeline.lengthHistogramQuery _),
    "quality_sample" -> ((s: SparkSession, d: String) =>
      CorpusPipeline.qualityWeightedSampleQuery(s, d)),
    "budget_select" -> ((s: SparkSession, d: String) =>
      CorpusPipeline.budgetSelectQuery(s, d)),
    "quality_filter" -> (CorpusPipeline.corpusQualityFilter _),
    "pack_sequences" -> (CorpusPipeline.corpusPackSequences _),
    "domain_mix" -> (CorpusPipeline.corpusDomainMix _),
    "gram_coverage" -> (Dedup.gramCoverageQuery _),
    "text_logprob" -> (CorpusPipeline.corpusLogProb _),
    "text_bigram_logprob" -> (CorpusPipeline.corpusBigramLogProb _),
    "dsir_select" -> (CorpusPipeline.dsirSelectQuery _),
    "corpus_assemble" -> (CorpusPipeline.corpusAssemble _),
    "chunk_documents" -> (CorpusPipeline.corpusChunk _),
    "corpus_shuffle" -> (CorpusPipeline.corpusShuffle _),
    "segment_dedup" -> (Dedup.segmentDedupQuery _),
    "domain_resample" -> (CorpusPipeline.domainResampleQuery _),
    "corpus_split" -> (CorpusPipeline.corpusSplitQuery _),
    "split_leakage" -> (CorpusPipeline.splitLeakageQuery _),
    "corpus_stats" -> (CorpusPipeline.corpusStatsQuery _),
    "snapshot_diff" -> (CorpusPipeline.snapshotDiffQuery _),
    // quantized-path ANN: oracle-exact on the bit-exact int8 grid; its
    // recall vs full precision is held in RecallFloorsSpec
    "ann_quantized" -> (Similarity.annQuantized _),
    // all-vectors 5-NN graph, exhaustive through the IVF cells (EXACT)
    "knn_graph" -> (Similarity.knnGraphQuery _),
    "graph_pagerank" -> (PageRank.pageRankQuery _),
    "q31_reachability" -> (PageRank.reachabilityQuery _),
    "q32_anomaly" -> (Relational.q32Anomaly _),
    "embedding_outliers" -> (Similarity.embeddingOutliers _),
    "hard_negatives" -> (Similarity.hardNegativesQuery _),
    // pruned-nprobe graph; RecallFloorsSpec holds its edge recall vs the
    // exhaustive graph
    "knn_graph_probe" -> (Similarity.knnGraphProbe _),
    // pruned hard-negative miner — the scalable sibling of hard_negatives
    // (adaptive K, √-law nprobe, recall floor in RecallFloorsSpec), same
    // relationship as knn_graph_probe to knn_graph
    "hard_negatives_probe" -> (Similarity.hardNegativesProbe _),
    // oracle-checked near-dup family: LSH proposes, exact math decides, so
    // DuckDB reproduces the full answer (banding recall at the planted
    // near-dup range ≥ 1 - 2e-10 per pair; see Dedup.minHashNearDupsVerified)
    "dedup_minhash" -> (Dedup.dedupMinhash _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    // bloom-routed incremental exact dedup: Spark's runtime-filter
    // expressions as an operator; bloom routes, the exact anti-join decides
    "dedup_bloom" -> (Dedup.dedupBloom _),
    "ngram_jaccard" -> (Dedup.ngramJaccardQuery _),
    "ngram_jaccard_inverted" -> (Dedup.ngramJaccardInvertedQuery _),
    "dedup_minhash_keep" -> (Dedup.dedupMinhashKeep _),
    "dedup_minhash_best" -> (Dedup.dedupMinhashBest _),
    // cluster-level view of the same verified pair graph: one row per
    // near-dup group (size + sorted member list)
    "text_lsh_clusters" -> (Dedup.textLshClusters _),
    "corpus_clean" -> (Dedup.corpusClean _),
    "ann_ivf" -> (Similarity.annIvf _), // exhaustive nprobe: must equal brute force
    // persisted index: write partitioned-by-cell parquet, read back, search
    // all cells — exact vs the same brute-force oracle, and the pruned
    // path (suite-tested) reads only probed cells' FILES
    "ann_ivf_indexed" -> (Similarity.annIvfIndexed _),
    "ann_ivf_appended" -> (Similarity.annIvfAppended _),
    // Lloyd-refined quantizer, exhaustive nprobe: refined cells must still
    // partition the corpus, so the search equals brute force exactly
    "ann_ivf_refined" -> (Similarity.annIvfRefined _),
    "quantize_embeddings" -> (Similarity.quantizeEmbeddingsQuery _),
    "embed_neardup_exact" -> (Similarity.embedNearDupExact _),
    // ground-truth baseline of semantic_dedup: exact quadratic pair graph
    // (row-count guarded), recursive-CTE transitive-closure oracle
    "semantic_dedup_exact" -> (Similarity.semanticDedupExactQuery _),
    "multimodal_pipeline" -> (Multimodal.multimodalPipeline _),
    "multimodal_frames" -> (Multimodal.multimodalFrames _),
    // perceptual-hash image dedup: banded 60-bit dHash, hamming<=3 pairs;
    // pigeonhole makes LSH == brute force, so the oracle is exact
    "image_phash_dedup" -> (Multimodal.imagePhashDedup _),
    // approximate operators, each BOTH oracle-exact (the full approximate
    // pipeline — LCG hyperplanes / knuth-hash quantizer / FNV+splitmix
    // SimHash — is replicated in exact integer/IEEE arithmetic on the
    // DuckDB side); RecallFloorsSpec holds each one's recall or agreement
    // against its exact baseline, so the oracle pins the machinery while
    // the floor pins the semantics.
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "ann_lsh" -> (Similarity.annLsh _),
    "ann_ivf_probe" -> (Similarity.annIvfProbe _),
    // diversity-balanced selection over knuth-hash IVF cells (oracle-exact)
    "cluster_sample" -> (Similarity.clusterSampleQuery _),
    // PQ-compressed ANN: trained codebooks, asymmetric reconstruct + cosine
    "ann_pq" -> (Similarity.annPq _),
    // same search from a PERSISTED index: codes + codebooks via the sidecar
    "ann_pq_indexed" -> (Similarity.annPqIndexed _),
    // the IVFPQ composition: the code index partitioned by coarse cell,
    // probes scoring only their nprobe cells' codes (partition-pruned scan)
    "ann_ivfpq_indexed" -> (Similarity.annIvfPqIndexed _),
    "embed_neardup" -> (Similarity.embedNearDup _),
    // DEFAULT semantic dedup = the scale path: LSH pair stage + pointer-
    // jumping clustering, oracle-exact via the hyperplane-LCG replay;
    // RecallFloorsSpec holds its keep-decision agreement vs
    // semantic_dedup_exact (pairs are verified, so the approx graph is a
    // subset — errors only ever keep extra docs, never drop extras)
    "semantic_dedup" -> (Similarity.semanticDedupQuery _),
  )

  /** KMV sketch replay (Sketches.mixHash in SQL): shared by the batch
    * `kmv_distinct` entry and `kmv_distinct_stream`. */
  private lazy val kmvOracle: String =
    """WITH h AS (
      |  SELECT DISTINCT event_type, user_id,
      |    (user_id * 2654435761) % 4294967296 AS a
      |  FROM events),
      |k AS (
      |  SELECT event_type, user_id,
      |    ((a + a // 2048) * 40503) % 4294967296 AS key
      |  FROM h),
      |r AS (
      |  SELECT event_type, key, user_id,
      |    row_number() OVER (PARTITION BY event_type ORDER BY key, user_id) AS rn
      |  FROM k),
      |s AS (
      |  SELECT event_type, count(*) AS n_sketch, max(key) AS kth_key
      |  FROM r WHERE rn <= 128 GROUP BY event_type),
      |e AS (
      |  SELECT event_type, count(DISTINCT user_id) AS exact_users
      |  FROM events GROUP BY event_type)
      |SELECT e.event_type, exact_users, n_sketch, kth_key, TRUE AS kmv_ok
      |FROM e JOIN s USING (event_type) ORDER BY event_type""".stripMargin

  /** Every event belongs to the two epoch-aligned 2h windows covering it —
    * shared by the batch `q26_hopping` entry and `events_hopping_stream`
    * (whose contract is answering the identical question on the stream). */
  private lazy val hoppingOracle: String =
    """SELECT win_start, count(*) AS n,
      | round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
      |FROM (
      |  SELECT date_trunc('hour', ts) - k.k * INTERVAL 1 HOUR AS win_start, value
      |  FROM events, (SELECT unnest([0, 1]) AS k) k)
      |GROUP BY win_start ORDER BY win_start""".stripMargin

  /** Shared DuckDB CTE chain: normalized text → distinct char-4-gram sets →
    * per-doc gram counts → pairwise intersection sizes. Mirrors
    * TextHashes.normalize + shingleHashesSorted; used by every exact-Jaccard
    * oracle so the shingle logic lives in ONE place. */
  private val gramCtes: String =
    """docs AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
      |pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 3)) AS i FROM docs),
      |grams AS (SELECT DISTINCT doc_id, substr(t, i, 4) AS g FROM pos),
      |gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      |  FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** Exact all-pairs Jaccard at a threshold (filter on the ROUNDED value,
    * matching the Spark side). */
  private def jaccardOracle(threshold: String): String =
    s"""WITH $gramCtes
       |SELECT doc_a, doc_b, round(common::DOUBLE/(ga.n+gb.n-common), 4) AS jaccard
       |FROM inter JOIN gc ga ON ga.doc_id = doc_a JOIN gc gb ON gb.doc_id = doc_b
       |WHERE round(common::DOUBLE/(ga.n+gb.n-common), 4) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Exact cross-set Jaccard over the %3 new/history split — shared by
    * `dedup_incremental` and `dedup_incremental_stream`, whose CONTRACT is
    * that the streaming decomposition answers the identical question (one
    * definition, so a future tweak cannot desynchronize them — the
    * annExactOracle pattern). */
  private val crossSetJaccardOracle: String =
    s"""WITH $gramCtes,
       |na AS (SELECT doc_id, g FROM grams WHERE doc_id % 3 = 0),
       |ha AS (SELECT doc_id, g FROM grams WHERE doc_id % 3 <> 0),
       |x AS (
       |  SELECT n.doc_id AS new_id, h.doc_id AS old_id, count(*) AS common
       |  FROM na n JOIN ha h ON n.g = h.g
       |  GROUP BY 1, 2)
       |SELECT new_id, old_id,
       |  round(common::DOUBLE/(gn.n+go.n-common), 4) AS jaccard
       |FROM x JOIN gc gn ON gn.doc_id = new_id JOIN gc go ON go.doc_id = old_id
       |WHERE round(common::DOUBLE/(gn.n+go.n-common), 4) >= 0.7
       |ORDER BY new_id, old_id""".stripMargin

  /** Pairs at threshold → undirected edges → transitive closure — the
    * connected-components labels (min reachable id) the Spark min-label
    * propagation converges to. */
  private def clusterCtes(threshold: String): String =
    s"""$gramCtes,
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN gc ga ON ga.doc_id = doc_a JOIN gc gb ON gb.doc_id = doc_b
       |  WHERE round(common::DOUBLE/(ga.n+gb.n-common), 4) >= $threshold),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT a, a FROM edges
       |  UNION
       |  SELECT r2.id, e.b FROM reach r2 JOIN edges e ON e.a = r2.r)""".stripMargin

  /** DuckDB-dialect oracle SQL per query (same column names + ordering). */
  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(CAST(l_extendedprice AS DECIMAL(15,2))),2)::DOUBLE AS sum_base_price,
        | round(sum(CAST(l_extendedprice AS DECIMAL(15,2))
        |   *(1-CAST(l_discount AS DECIMAL(15,2)))),2)::DOUBLE AS sum_disc_price,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_discount),6) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        | AND l_discount >= 0.05 AND l_quantity < 24
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q3_top_revenue" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        |FROM customer
        |JOIN orders ON o_custkey = c_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1998-01-01'
        | AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_region_revenue" ->
      """SELECT r_name, round(sum(o_totalprice),2) AS total_revenue,
        | count(DISTINCT o_custkey) AS n_customers, count(*) AS n_orders
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q5_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        | SELECT o_custkey, o_orderkey, o_totalprice,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q6_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q7_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '1998-01-01')
        |ORDER BY c_custkey""".stripMargin,
    "q8_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_suppkey) AS n_supp,
        | count(DISTINCT l_partkey) AS n_part, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // integer-cents sums (the q26 ulp-proofing) in both engines
    "q9_events_hourly" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    // z = (n*c - s)/sqrt(n*ss - s^2): exact integer moments feed ONE
    // divide and ONE sqrt, so no order-dependent float sum ever forms.
    // DuckDB's sum(BIGINT) widens to HUGEINT; cast back before the algebra
    "q32_anomaly" ->
      """WITH h AS (
        | SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour,
        |        count(*)::BIGINT AS c
        | FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, count(*)::BIGINT AS n, sum(c)::BIGINT AS s,
        |       sum(c * c)::BIGINT AS ss FROM h GROUP BY 1)
        |SELECT h.event_type, hour, c AS n_events,
        | CASE WHEN n * ss - s * s = 0 THEN NULL
        |      ELSE round((n * c - s)::DOUBLE / sqrt((n * ss - s * s)::DOUBLE), 4)
        | END AS z,
        | CASE WHEN n * ss - s * s = 0 THEN NULL
        |      ELSE abs(round((n * c - s)::DOUBLE / sqrt((n * ss - s * s)::DOUBLE), 4)) > 2
        | END AS is_anomaly
        |FROM h JOIN m ON m.event_type = h.event_type
        |ORDER BY h.event_type, hour""".stripMargin,
    "q10_events_sessions" ->
      """SELECT user_id, count(*) AS n_events, count(DISTINCT event_type) AS n_types,
        | round(sum(CASE WHEN event_type = 'purchase'
        |   THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) / 100.0, 4) AS purchase_value,
        | CAST(date_trunc('second', max(ts)) AS TIMESTAMP) AS last_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q11_semi_join" ->
      """SELECT c_custkey, c_name, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin,
    "q12_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_extendedprice),2) AS sum_price, count(*) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q13_lag_lead" ->
      """SELECT user_id, event_id, value,
        | round(value - lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 4) AS delta_prev,
        | lead(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
        |FROM events ORDER BY user_id, event_id""".stripMargin,
    "q14_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,
    "q15_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice),2) AS sum_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q16_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT
        |SELECT s_nationkey FROM supplier s
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region rg ON n.n_regionkey = rg.r_regionkey
        |WHERE rg.r_name = 'ASIA'
        |ORDER BY nationkey""".stripMargin,
    "events_windowed_stream" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour, event_type,
        | count(*) AS n_events,
        | round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,
    "q18_percentiles" ->
      """SELECT event_type,
        | round(quantile_cont(value, 0.25),4) AS p25,
        | round(quantile_cont(value, 0.5),4) AS p50,
        | round(quantile_cont(value, 0.9),4) AS p90
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q19_string_ops" ->
      """SELECT p_partkey, upper(p_name) AS upper_name,
        | substr(p_name, 1, 8) AS prefix8,
        | length(p_name) AS name_len,
        | lpad(p_partkey::VARCHAR, 8, '0') AS padded_key,
        | regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
        | concat_ws('|', p_brand, p_type) AS brand_type
        |FROM part ORDER BY p_partkey""".stripMargin,
    // pivot == CASE/FILTER aggregation: one hash aggregate either way
    "q21_pivot" ->
      """SELECT user_id,
        | round(sum(CAST(round(value*100) AS BIGINT)) FILTER (event_type = 'click') / 100.0, 4) AS click,
        | round(sum(CAST(round(value*100) AS BIGINT)) FILTER (event_type = 'error') / 100.0, 4) AS error,
        | round(sum(CAST(round(value*100) AS BIGINT)) FILTER (event_type = 'purchase') / 100.0, 4) AS purchase,
        | round(sum(CAST(round(value*100) AS BIGINT)) FILTER (event_type = 'signup') / 100.0, 4) AS signup,
        | round(sum(CAST(round(value*100) AS BIGINT)) FILTER (event_type = 'view') / 100.0, 4) AS view
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // json_extract_string == get_json_object: both return NULL on absent path
    "q22_json_props" ->
      """SELECT event_type,
        | count(CASE WHEN k > 50 THEN 1 END) AS high_k,
        | sum(k)::BIGINT AS sum_k,
        | round(avg(k), 4) AS avg_k
        |FROM (SELECT event_type,
        |        TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |      FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // RANGE frame on the same epoch-microsecond integers on both engines;
    // the 4dp average is a half-up INTEGER division ((200*cents + n) // 2n)
    // because cents/(2^a*5^b frames) lands exactly on 4dp half boundaries,
    // where engines' float round() disagree
    "q29_moving_avg" ->
      """SELECT event_id, user_id, ts, value,
        | count(*) OVER w AS n_24h,
        | CAST((sum(CAST(round(value * 100) AS BIGINT)) OVER w * 200
        |       + count(*) OVER w) // (2 * count(*) OVER w) AS DOUBLE)
        |   / 10000.0 AS avg_24h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // Spark's grouping_id bit order (first column = high bit) rebuilt from
    // DuckDB's per-column GROUPING()
    "q30_grouping_sets" ->
      """SELECT o_orderpriority, o_orderstatus,
        | CAST(GROUPING(o_orderpriority)*2 + GROUPING(o_orderstatus) AS BIGINT) AS gid,
        | count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus), (o_orderstatus), ())
        |ORDER BY gid, o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,
    "q28_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1997
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE EXTRACT(year FROM o_orderdate) = 1998
        |ORDER BY custkey""".stripMargin,
    // every event belongs to the two epoch-aligned 2h windows covering it;
    // ONE definition for the batch entry and its streaming twin — the
    // contract is that the stream answers the identical question
    "q26_hopping" -> hoppingOracle,
    "events_hopping_stream" -> hoppingOracle,
    // membership decided on the ROUNDED z on both engines (ulp safety)
    "q27_zscore" ->
      """WITH s AS (
        |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sigma
        |  FROM events GROUP BY event_type)
        |SELECT event_id, e.event_type, value,
        | round((value - mu) / sigma, 4) AS z
        |FROM events e JOIN s ON e.event_type = s.event_type
        |WHERE abs(round((value - mu) / sigma, 4)) >= 1.5
        |ORDER BY event_id""".stripMargin,
    // the last formerly-rows-only key: exact_users is hash-exact and each
    // sketch estimate reaches the oracle as a within-tolerance boolean —
    // the oracle emits literal TRUEs, so an out-of-bounds sketch flips a
    // flag and fails the hash compare
    "q17_sketches" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        | TRUE AS acd_ok, TRUE AS hll_ok, TRUE AS p50_ok, TRUE AS p99_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // bottom-k sketch content is a pure function of the data (engine-
    // neutral mix hash, Sketches.mixHash's documented SQL replay), so the
    // sampled ids replay EXACTLY — no tolerance machinery needed
    "sample_bottomk" ->
      """WITH h AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS a
        |  FROM documents),
        |k AS (
        |  SELECT lang, doc_id, ((a + a // 2048) * 40503) % 4294967296 AS key
        |  FROM h),
        |r AS (
        |  SELECT lang, doc_id, key,
        |    row_number() OVER (PARTITION BY lang ORDER BY key, doc_id) AS rn
        |  FROM k)
        |SELECT lang, count(*) AS n_sampled,
        |  string_agg(doc_id::VARCHAR, ',' ORDER BY key, doc_id) AS sample
        |FROM r WHERE rn <= 8 GROUP BY lang ORDER BY lang""".stripMargin,
    // sketch size + k-th key replay exactly; the KMV estimate reaches the
    // oracle as a within-tolerance boolean (q17's contract). ONE definition
    // for the batch entry and its streaming twin — the stream answers the
    // identical question (hoppingOracle's contract)
    "kmv_distinct" -> kmvOracle,
    // the Misra-Gries routing is invisible to the result (candidates are a
    // guaranteed superset, the exact re-count and threshold do the rest),
    // so the oracle is the PLAIN exact computation — the dedup_bloom
    // shared-oracle pattern
    // capacity mirrors Sketches.adaptiveMgCapacity from the same gram
    // census: least(65536, greatest(128, ceil(total/16000))) — constant
    // ABSOLUTE support (~16k occurrences) once the corpus outgrows the
    // floor, the historical n*129 > total at every correctness SF (census
    // ≤ 2.05M there), and the 2^16 memory ceiling past ~1.05G grams (never
    // reached at a testable SF — the cap is the 100 TB sketch-size bound).
    // support_floor = the smallest count that clears the threshold,
    // total // (capv+1) + 1, same integer arithmetic both engines
    "heavy_hitters" ->
      """WITH g AS (
        | SELECT substring(text, i, 3) AS gram
        | FROM documents, unnest(generate_series(1, length(text) - 2)) AS u(i)),
        |n AS (SELECT count(*) AS total FROM g),
        |cap AS (SELECT least(65536, greatest(128, CAST(ceil(total::DOUBLE / 16000.0) AS BIGINT))) AS capv FROM n),
        |c AS (SELECT gram, count(*) AS n FROM g GROUP BY 1)
        |SELECT gram, n, total // (capv + 1) + 1 AS support_floor
        |FROM c, n, cap WHERE n * (capv + 1) > total
        |ORDER BY n DESC, gram""".stripMargin,
    "kmv_distinct_stream" -> kmvOracle,
    // chained stage minima (each stage >= the previous stage's timestamp),
    // then exact-stage census + reached->=stage reverse running sum
    "q24_funnel" ->
      """WITH t1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (
        |  SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id
        |  WHERE e.event_type = 'click' AND e.ts >= t1.t1
        |    AND e.ts <= t1.t1 + INTERVAL 6 HOUR GROUP BY e.user_id),
        |t3 AS (
        |  SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= t2.t2
        |    AND e.ts <= t2.t2 + INTERVAL 6 HOUR GROUP BY e.user_id),
        |staged AS (
        |  SELECT CASE WHEN t3.t3 IS NOT NULL THEN 3
        |              WHEN t2.t2 IS NOT NULL THEN 2 ELSE 1 END AS stage
        |  FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
        |          LEFT JOIN t3 ON t1.user_id = t3.user_id),
        |census AS (SELECT stage, count(*) AS n_exact FROM staged GROUP BY stage),
        |filled AS (
        |  SELECT s.stage, coalesce(census.n_exact, 0) AS n_exact
        |  FROM (SELECT unnest([1,2,3]::BIGINT[]) AS stage) s
        |  LEFT JOIN census ON s.stage = census.stage)
        |SELECT stage, n_exact,
        | (sum(n_exact) OVER (ORDER BY stage DESC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS n_reached
        |FROM filled ORDER BY stage""".stripMargin,
    // first-seen-day cohorts x day offset, distinct active users
    "q25_retention" ->
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT cohort_day, date_diff('day', cohort_day, day) AS day_offset,
        | count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f ON e.user_id = f.user_id
        |GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin,
    // ntile with a keyed tie-break is a total order -> engine-exact buckets
    "q23_ntile" ->
      """WITH b AS (
        | SELECT o_orderpriority, o_totalprice,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |                 ORDER BY o_totalprice, o_orderkey) AS quartile
        | FROM orders)
        |SELECT o_orderpriority, quartile, count(*) AS n,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price
        |FROM b GROUP BY o_orderpriority, quartile
        |ORDER BY o_orderpriority, quartile""".stripMargin,
    "q20_datetime" ->
      """SELECT o_orderkey,
        | EXTRACT(year FROM o_orderdate) AS yr,
        | EXTRACT(month FROM o_orderdate) AS mo,
        | EXTRACT(isodow FROM o_orderdate) AS isodow,
        | CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS due_date,
        | date_diff('day', CAST(o_orderdate AS DATE), DATE '1999-01-01') AS days_to_1999
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "events_dedup_stream" ->
      """SELECT event_type, count(DISTINCT event_id) AS n_distinct_events
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // stream-static enrichment == the same join in batch
    "events_enrich_stream" ->
      """SELECT event_id, user_id, event_type, c_name, c_mktsegment, value
        |FROM events JOIN customer ON user_id = c_custkey
        |ORDER BY event_id""".stripMargin,
    // stream-stream interval join == the same interval join in batch
    "purchase_attribution_stream" ->
      """WITH l AS (SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts AS r_ts, event_id AS view_id, event_type AS prior_type
        |  FROM events WHERE event_type <> 'purchase')
        |SELECT l.user_id, purchase_id, view_id, prior_type,
        | epoch_us(l.ts) - epoch_us(r_ts) AS gap_us
        |FROM l JOIN r ON l.user_id = r.user_id
        | AND r_ts <= l.ts AND r_ts >= l.ts - INTERVAL 6 HOUR
        |ORDER BY purchase_id, view_id""".stripMargin,
    // batch islands-and-gaps formulation of the streaming sessionizer
    "sessionize_stream" ->
      """WITH m AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) > INTERVAL 12 HOUR
        |       THEN 1 ELSE 0 END AS new_s
        | FROM events),
        |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
        |       ROWS UNBOUNDED PRECEDING) AS sid FROM m)
        |SELECT user_id, min(ts) AS start_ts, max(ts) AS end_ts,
        | count(*) AS n_events, round(sum(value),4) AS sum_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, start_ts""".stripMargin,
    "skew_join_salted" ->
      """SELECT o_orderkey, o_custkey AS custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    // the co-located bucketed path must return the same rows as a plain join
    "bucketed_join" ->
      """SELECT o_orderkey, o_custkey AS custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "asof_join_events" ->
      """WITH l AS (SELECT user_id, ts, event_id AS purchase_id, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts, event_type AS prior_type, value AS prior_value
        |  FROM events WHERE event_type <> 'purchase')
        |SELECT l.user_id, l.ts, purchase_id, purchase_value, prior_type, prior_value
        |FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
        |ORDER BY purchase_id""".stripMargin,
    "range_join_events" ->
      """WITH e AS (SELECT user_id, event_id, ts FROM events)
        |SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
        | epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts - a.ts <= INTERVAL 6 HOUR
        |ORDER BY event_a, event_b""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS ws_tokens,
        | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin,
    // bloom routing is invisible to the result: batch (with every 9th doc
    // carrying its history-side successor's text — planted cross-set
    // duplicates) anti-joined against history content hashes
    "dedup_bloom" ->
      """WITH batch AS (
        |  SELECT doc_id, text FROM documents
        |  WHERE doc_id % 3 = 0 AND doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT a.doc_id, b.text FROM documents a
        |  JOIN documents b ON b.doc_id = a.doc_id + 1
        |  WHERE a.doc_id % 9 = 0),
        |h AS (SELECT DISTINCT md5(text) AS k FROM documents WHERE doc_id % 3 <> 0)
        |SELECT doc_id, md5(text) AS content_hash FROM batch
        |WHERE md5(text) NOT IN (SELECT k FROM h)
        |ORDER BY doc_id""".stripMargin,
    "deser_documents" ->
      """SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id""".stripMargin,
    // lengthCheck=PAD row effects: mod-4 corruption classes — 1 padded
    // (null n_chars), 2 cut (junk extra dropped), 3 skipped (bad long)
    "deser_dirty" ->
      """SELECT doc_id, lang,
        | CASE WHEN doc_id % 4 = 1 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents WHERE doc_id % 4 <> 3 ORDER BY doc_id""".stripMargin,
    "mq_roundtrip_events" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    // the continuous-trigger read path is held to the SAME parity SQL as
    // the batch roundtrip: no loss, no dups, no corruption through the
    // always-on reader
    "mq_roundtrip_continuous" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events ORDER BY event_id""".stripMargin,
    // hugeint mirrors sampleBucket's overflow-free split-multiply: the
    // bucket is the TRUE product mod 1000 at any 64-bit doc_id
    "corpus_sample" ->
      """SELECT doc_id, lang,
        |  ((doc_id::HUGEINT * 2654435761) % 1000)::BIGINT AS bucket
        |FROM documents
        |WHERE (doc_id::HUGEINT * 2654435761) % 1000 <
        |  CASE lang WHEN 'en' THEN 500 WHEN 'de' THEN 250 ELSE 100 END
        |ORDER BY doc_id""".stripMargin,
    "vocab_topk" ->
      raw"""SELECT token, count(*) AS n FROM (
        | SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        | FROM documents) t
        |WHERE token <> ''
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    // blocklist re-derived in SQL (same total order), padded containment
    // on the whitespace-normalized text — token-boundary semantics
    "blocklist_filter" -> blocklistOracle,
    // the stream partitions the same input, so the union over micro-batches
    // IS the batch answer — same oracle, one definition
    "blocklist_stream" -> blocklistOracle,
    "decontaminate" -> decontaminateOracle,
    // the bloom routing is invisible to the result (exact verify join
    // absorbs every false positive), so the SAME oracle pins both — one
    // definition, one contract, the annExactOracle pattern
    "decontaminate_bloom" -> decontaminateOracle,
    "text_repetition" ->
      raw"""WITH t AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN []
        |       ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        | FROM documents),
        |w AS (SELECT doc_id, unnest(toks) AS tok FROM t),
        |wc AS (SELECT doc_id, tok, count(*) AS c FROM w GROUP BY 1, 2),
        |ws AS (SELECT doc_id, count(*) AS n_distinct, max(c) AS top FROM wc GROUP BY 1),
        |bg AS (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS big
        |       FROM t, unnest(generate_series(1, len(toks) - 1)) AS u(i)),
        |bgc AS (SELECT doc_id, big, count(*) AS c FROM bg GROUP BY 1, 2),
        |bgs AS (SELECT doc_id, max(c) AS topb FROM bgc GROUP BY 1)
        |SELECT t.doc_id,
        | len(toks)::BIGINT AS n_tokens,
        | round(1.0 - n_distinct::DOUBLE / nullif(len(toks), 0), 4) AS dup_word_frac,
        | round(top::DOUBLE / nullif(len(toks), 0), 4) AS top_word_frac,
        | round(topb::DOUBLE / nullif(len(toks) - 1, 0), 4) AS top_bigram_frac
        |FROM t LEFT JOIN ws ON ws.doc_id = t.doc_id LEFT JOIN bgs ON bgs.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "text_entropy" -> entropyOracle,
    // the stream partitions the same input through a stateless per-doc
    // kernel map, so the micro-batch union IS the batch answer — one
    // oracle, one contract (the blocklist_stream pattern)
    "entropy_stream" -> entropyOracle,
    "quality_filter" ->
      """WITH t0 AS (
        | SELECT doc_id, lang,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents),
        |t AS (
        | SELECT doc_id, lang,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        | FROM t0),
        |h AS (SELECT lang, quality, count(*) AS c FROM t GROUP BY 1, 2),
        |k AS (SELECT lang, quality FROM (
        | SELECT lang, quality,
        |  coalesce(sum(c) OVER (PARTITION BY lang ORDER BY quality DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gt,
        |  sum(c) OVER (PARTITION BY lang) AS tot
        | FROM h) WHERE gt * 2 < tot)
        |SELECT t.doc_id, t.lang, t.quality FROM t JOIN k USING (lang, quality)
        |ORDER BY doc_id""".stripMargin,
    "text_logprob" ->
      raw"""WITH w AS (
        | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |wt AS (SELECT doc_id, tok FROM w WHERE tok <> ''),
        |f AS (SELECT tok, count(*) AS c FROM wt GROUP BY tok),
        |t AS (SELECT sum(c)::DOUBLE AS total FROM f)
        |SELECT doc_id, count(*)::BIGINT AS n_tokens,
        | round(avg(ln(c::DOUBLE / (SELECT total FROM t))), 4) AS logprob
        |FROM wt JOIN f USING (tok)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // bigram LM: P(w2|w1) = bigram count / context count, both from the
    // same bigram aggregate; docs with < 2 tokens have no bigrams
    "text_bigram_logprob" ->
      raw"""WITH d AS (
        | SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 2),
        |bg AS (SELECT doc_id, t[u.i] AS w1, t[u.i+1] AS w2
        | FROM dd, unnest(range(1, len(t))) AS u(i)),
        |f AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |cx AS (SELECT w1, sum(c12) AS c1 FROM f GROUP BY 1)
        |SELECT doc_id, count(*)::BIGINT AS n_bigrams,
        | round(avg(ln(c12::DOUBLE / c1::DOUBLE)), 4) AS logprob
        |FROM bg JOIN f USING (w1, w2) JOIN cx USING (w1)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // DSIR importance weights: add-1-smoothed hashed-token-bucket log
    // ratios (target = lang-'en' slice, raw = whole corpus), weight = 4-dp
    // rounded per-doc sum, top floor(N/5) by (weight desc, doc_id) — the
    // bucket hash is the engine-portable md5-prefix, totals and smoothing
    // replayed identically
    "dsir_select" ->
      raw"""WITH w0 AS (
        | SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok
        | FROM documents),
        |tk AS (SELECT doc_id, tok FROM w0 WHERE tok <> ''),
        |feat AS (SELECT doc_id, substr(md5(tok), 1, 3) AS b FROM tk),
        |raw AS (SELECT b, count(*) AS cr FROM feat GROUP BY b),
        |tgt AS (SELECT b, count(*) AS ct FROM feat JOIN documents USING (doc_id)
        |        WHERE lang = 'en' GROUP BY b),
        |r0 AS (SELECT raw.b AS b, cr, coalesce(ct, 0) AS ct
        |       FROM raw LEFT JOIN tgt ON tgt.b = raw.b),
        |tot AS (SELECT sum(cr)::DOUBLE AS tr, sum(ct)::DOUBLE AS tt FROM r0),
        |ratio AS (SELECT b,
        |  ln((ct + 1)::DOUBLE / ((SELECT tt FROM tot) + 4096)) -
        |  ln((cr + 1)::DOUBLE / ((SELECT tr FROM tot) + 4096)) AS lr FROM r0),
        |df AS (SELECT doc_id, b, count(*) AS c FROM feat GROUP BY 1, 2),
        |w AS (SELECT doc_id, round(sum(c * lr), 4) AS logweight
        |      FROM df JOIN ratio USING (b) GROUP BY doc_id),
        |k AS (SELECT floor(count(*) * 0.2)::BIGINT AS k FROM w),
        |ranked AS (SELECT doc_id, logweight,
        |  row_number() OVER (ORDER BY logweight DESC, doc_id) AS rnk FROM w)
        |SELECT doc_id, logweight, rnk FROM ranked
        |WHERE rnk <= (SELECT k FROM k) ORDER BY doc_id""".stripMargin,
    // PMI over the bigram table: marginals and T re-derived from the same
    // counts in both engines; rank/limit over the 4-dp ROUNDED pmi with
    // (w1, w2) tie-break so identical values order identically
    "collocations_pmi" ->
      raw"""WITH d AS (
        | SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
        | FROM documents),
        |dd AS (SELECT t FROM d WHERE len(t) >= 2),
        |bg AS (SELECT t[u.i] AS w1, t[u.i+1] AS w2
        | FROM dd, unnest(range(1, len(t))) AS u(i)),
        |f AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |lm AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM f GROUP BY 1),
        |rm AS (SELECT w2, sum(c12)::BIGINT AS c2 FROM f GROUP BY 1),
        |tt AS (SELECT sum(c12)::DOUBLE AS t FROM f)
        |SELECT w1, w2, c12, c1, c2,
        | round(ln(c12::DOUBLE * tt.t / (c1::DOUBLE * c2::DOUBLE)), 4) AS pmi
        |FROM f JOIN lm USING (w1) JOIN rm USING (w2) CROSS JOIN tt
        |WHERE c12 >= 5
        |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin,
    // BPE merge loop replayed as chained CTEs: same ascii word filter, the
    // same chr(1)/chr(2)-wrapped segmentation encoding (adjacent matches
    // share no chars, so replace() == leftmost-greedy BPE merge in both
    // engines), same (count desc, l, r) arg-max total order per step
    "bpe_merges" ->
      raw"""WITH $bpeTrainCtes
        |SELECT step, lhs, rhs, pair_count FROM (
        |  SELECT 1 AS step, l AS lhs, r AS rhs, c AS pair_count FROM best1
        |  UNION ALL SELECT 2, l, r, c FROM best2
        |  UNION ALL SELECT 3, l, r, c FROM best3
        |  UNION ALL SELECT 4, l, r, c FROM best4
        |  UNION ALL SELECT 5, l, r, c FROM best5)
        |ORDER BY step""".stripMargin,
    // trained merges re-derived (same CTEs as bpe_merges), then every
    // document re-encoded: per-word sentinel wrap + the 5 merges applied
    // in training order as literal replaces; token count = sentinel count
    "bpe_encode" -> bpeEncodeOracle,
    "bpe_fertility" -> bpeFertilityOracle,
    // the streamed corpus must tokenize identically to the batch entry
    "token_count_stream" -> bpeEncodeOracle,
    // the sharded global rank must equal the naive single-window rank
    "corpus_shuffle" ->
      """SELECT doc_id,
        | row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS shuffle_rank
        |FROM documents ORDER BY doc_id""".stripMargin,
    // overlapping fixed-width chunks: stride 224 = 256 - 32 overlap;
    // start k while k*stride < len, final chunk may be short
    "chunk_documents" ->
      """WITH t AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) > 0),
        |k AS (SELECT doc_id, text,
        |  unnest(generate_series(0, (n - 1) // 224)) AS chunk_idx FROM t)
        |SELECT doc_id, chunk_idx::INT AS chunk_idx,
        | substr(text, (chunk_idx * 224 + 1)::INT, 256) AS chunk,
        | length(substr(text, (chunk_idx * 224 + 1)::INT, 256))::BIGINT AS n_chars
        |FROM k ORDER BY doc_id, chunk_idx""".stripMargin,
    // C4-style repeated-segment removal: drop every occurrence of any
    // 6-word segment repeating >= 2 times corpus-wide, reassemble in order
    "segment_dedup" ->
      """WITH words AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE length(text) > 0),
        |segs AS (SELECT doc_id, i AS seg_idx,
        |  array_to_string(w[(i*6+1):(i*6+6)], ' ') AS seg
        | FROM words, unnest(generate_series(0, (len(w) - 1) // 6)) AS u(i)),
        |bad AS (SELECT seg FROM segs GROUP BY seg HAVING count(*) >= 2)
        |SELECT s.doc_id,
        | coalesce(string_agg(s.seg, ' ' ORDER BY s.seg_idx)
        |   FILTER (WHERE b.seg IS NULL), '') AS clean_text,
        | count(*) AS n_segs,
        | count(b.seg) AS n_dropped
        |FROM segs s LEFT JOIN bad b USING (seg)
        |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    // alpha=0.5 temperature resampling normalized by the min-count domain:
    // rate = round(1000*cap*sqrt(n_min/n)) uses only IEEE-exact ops
    // (long->double, division, sqrt), so both engines compute the same
    // double bit pattern — no float sum across domains anywhere
    "domain_resample" ->
      """WITH counts AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
        |rates AS (SELECT source,
        |  round(3000.0 * sqrt((SELECT min(n) FROM counts)::DOUBLE / n::DOUBLE))::BIGINT AS r_pm
        | FROM counts),
        |d AS (SELECT doc_id, documents.source,
        |  r_pm // 1000 + CASE WHEN (doc_id::HUGEINT * 2654435761) % 1000 < r_pm % 1000
        |    THEN 1 ELSE 0 END AS copies
        | FROM documents JOIN rates USING (source))
        |SELECT doc_id, source, i::BIGINT AS copy_idx
        |FROM d, unnest(generate_series(1, copies)) AS u(i)
        |ORDER BY doc_id, copy_idx""".stripMargin,
    // corpus composition report: integer-exact totals + per-mille token
    // share via BIGINT division (both engines: true integer div)
    "corpus_stats" ->
      raw"""WITH t AS (
        | SELECT source, lang,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens,
        |  length(text)::BIGINT AS n_chars
        | FROM documents),
        |g AS (
        | SELECT source, lang, count(*) AS n_docs,
        |  sum(n_tokens)::BIGINT AS n_tokens, sum(n_chars)::BIGINT AS n_chars
        | FROM t GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens, n_chars,
        | ((1000 * n_tokens) // (SELECT sum(n_tokens) FROM g))::BIGINT AS token_share_pm
        |FROM g ORDER BY source, lang""".stripMargin,
    // crawl-over-crawl diff: planted snapshot construction replayed, full
    // join on content md5 — statuses are exact strings
    "snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |    md5(CASE WHEN doc_id % 5 = 0 THEN text || ' [rev1]' ELSE text END) AS old_hash
        |  FROM documents WHERE doc_id % 11 <> 3),
        |cur AS (
        |  SELECT doc_id, md5(text) AS new_hash
        |  FROM documents WHERE doc_id % 13 <> 7)
        |SELECT COALESCE(old.doc_id, cur.doc_id) AS doc_id,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       WHEN old_hash <> new_hash THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM old FULL OUTER JOIN cur ON old.doc_id = cur.doc_id
        |WHERE old_hash IS NULL OR new_hash IS NULL OR old_hash <> new_hash
        |ORDER BY doc_id""".stripMargin,
    // deterministic stratified split over the same bucket hash as
    // corpus_sample (hugeint mirror of the overflow-safe 32-bit split)
    "corpus_split" ->
      """SELECT doc_id, source, lang,
        | ((doc_id::HUGEINT * 2654435761) % 1000)::BIGINT AS bucket,
        | CASE WHEN (doc_id::HUGEINT * 2654435761) % 1000 < 10 THEN 'test'
        |      WHEN (doc_id::HUGEINT * 2654435761) % 1000 < 20 THEN 'val'
        |      ELSE 'train' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the composed corpus-assembly contract: every stage (quality gate ->
    // decontamination -> domain mix over SURVIVOR token totals -> packing)
    // re-derived in SQL, so drift in any stage or hand-off flips the hash
    "corpus_assemble" ->
      raw"""WITH corpus AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
        |t0 AS (
        | SELECT doc_id, lang, source, text,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM corpus),
        |q AS (
        | SELECT doc_id, lang, source, text, n_tokens,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        | FROM t0),
        |h AS (SELECT lang, quality, count(*) AS c FROM q GROUP BY 1, 2),
        |k AS (SELECT lang, quality FROM (
        | SELECT lang, quality,
        |  coalesce(sum(c) OVER (PARTITION BY lang ORDER BY quality DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gt,
        |  sum(c) OVER (PARTITION BY lang) AS tot
        | FROM h) WHERE gt * 2 < tot),
        |kept AS (SELECT q.doc_id, q.source, q.text, q.n_tokens FROM q JOIN k USING (lang, quality)),
        |norm AS (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t FROM kept),
        |grams AS (SELECT DISTINCT doc_id, substring(t, i, 8) AS g
        | FROM norm, unnest(generate_series(1, length(t) - 7)) AS u(i)),
        |gcnt AS (SELECT doc_id, count(*) AS n_grams FROM grams GROUP BY doc_id),
        |bnorm AS (SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        | FROM documents WHERE doc_id % 97 = 0),
        |bench AS (SELECT DISTINCT substring(t, i, 8) AS g
        | FROM bnorm, unnest(generate_series(1, length(t) - 7)) AS u(i)),
        |shared AS (SELECT doc_id, count(*) AS shared_grams
        | FROM grams JOIN bench USING (g) GROUP BY doc_id),
        |cfr AS (
        | SELECT kp.doc_id,
        |  CASE WHEN coalesce(gc.n_grams, 0) = 0 THEN 0.0
        |       ELSE round(coalesce(s.shared_grams, 0)::DOUBLE / gc.n_grams, 4)
        |  END AS cfrac
        | FROM kept kp LEFT JOIN gcnt gc USING (doc_id) LEFT JOIN shared s USING (doc_id)),
        |ch AS (SELECT cfrac, count(*) AS c FROM cfr GROUP BY cfrac),
        |ck AS (SELECT cfrac FROM (
        | SELECT cfrac,
        |  coalesce(sum(c) OVER (ORDER BY cfrac
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lt,
        |  sum(c) OVER () AS tot
        | FROM ch) WHERE lt * 4 <= tot * 3),
        |clean AS (SELECT kp.doc_id, kp.source, kp.n_tokens
        | FROM kept kp JOIN cfr USING (doc_id)
        | WHERE cfr.cfrac IN (SELECT cfrac FROM ck)),
        |tot AS (
        | SELECT source, sum(n_tokens)::DOUBLE AS t,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 3.0 ELSE 1.0 END AS w
        | FROM clean GROUP BY source),
        |r AS (SELECT source,
        | CASE WHEN t / w = (SELECT min(t / w) FROM tot) THEN 1000
        |      ELSE floor(1000.0 * w * (SELECT min(t / w) FROM tot) / t)::BIGINT
        | END AS rate_pm FROM tot),
        |mixed AS (SELECT c.doc_id, c.source, c.n_tokens FROM clean c JOIN r USING (source)
        | WHERE (c.doc_id::HUGEINT * 2654435761) % 1000 < r.rate_pm),
        |p AS (
        | SELECT doc_id, source, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prev
        | FROM mixed)
        |SELECT doc_id, source, n_tokens, prev // 2048 AS seq_id, prev % 2048 AS seq_offset
        |FROM p ORDER BY doc_id""".stripMargin,
    "gram_coverage" ->
      raw"""WITH norm AS (
        | SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 7)) AS i FROM norm),
        |grams AS (SELECT DISTINCT doc_id, substr(t, i, 8) AS g FROM pos),
        |dfreq AS (SELECT g, count(*) AS df FROM grams GROUP BY g)
        |SELECT doc_id, count(*)::BIGINT AS n_grams,
        | round(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4) AS dup_gram_frac
        |FROM grams JOIN dfreq USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "domain_mix" ->
      raw"""WITH t AS (
        | SELECT doc_id, source,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens
        | FROM documents),
        |tot AS (
        | SELECT source, sum(n_tokens)::DOUBLE AS t,
        |  CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 3.0 ELSE 1.0 END AS w
        | FROM t GROUP BY source),
        |r AS (SELECT source,
        |  CASE WHEN t / w = (SELECT min(t / w) FROM tot) THEN 1000
        |       ELSE floor(1000.0 * w * (SELECT min(t / w) FROM tot) / t)::BIGINT
        |  END AS rate_pm FROM tot)
        |SELECT d.doc_id, d.source,
        |  ((d.doc_id::HUGEINT * 2654435761) % 1000)::BIGINT AS bucket, r.rate_pm
        |FROM t d JOIN r USING (source)
        |WHERE (d.doc_id::HUGEINT * 2654435761) % 1000 < r.rate_pm
        |ORDER BY d.doc_id""".stripMargin,
    "pack_sequences" ->
      raw"""WITH t AS (
        | SELECT doc_id, source,
        |  (CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END)::BIGINT AS n_tokens
        | FROM documents),
        |p AS (
        | SELECT doc_id, source, n_tokens,
        |  coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS prev
        | FROM t)
        |SELECT doc_id, source, n_tokens, prev // 2048 AS seq_id, prev % 2048 AS seq_offset
        |FROM p ORDER BY doc_id""".stripMargin,
    "text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        | round(len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE / nullif(length(text), 0), 4) AS punct_ratio,
        | round(len(regexp_extract_all(text, '[A-Z]'))::DOUBLE / nullif(length(text), 0), 4) AS upper_ratio,
        | round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |      ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |           t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stopword_hits
        |FROM documents ORDER BY doc_id""".stripMargin,
    // identical semantics to decontaminate — the streaming scan-stage
    // kernel must flag exactly the docs the batch broadcast join flags
    "decontaminate_stream" ->
      raw"""WITH norm AS (
        | SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
        | FROM documents),
        |grams AS (
        | SELECT doc_id, substring(t, i, 8) AS g
        | FROM norm, unnest(generate_series(1, length(t) - 7)) AS u(i)),
        |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
        |hits AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
        |SELECT h.doc_id, count(*) AS shared_grams
        |FROM hits h JOIN bench b USING (g)
        |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin,
    // identical arithmetic to text_quality — the streaming entry must land
    // on the batch answer exactly (same docs through the MQ source)
    "corpus_quality_stream" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents)
        |SELECT doc_id,
        | round(least(n_tokens / 100.0, 1.0) * 0.3
        |   + coalesce(alpha_ratio, 0.0) * 0.4
        |   + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """WITH t AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents)
        |SELECT doc_id,
        | round(least(n_tokens / 100.0, 1.0) * 0.3
        |   + coalesce(alpha_ratio, 0.0) * 0.4
        |   + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        |FROM t ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk, length(text) AS n,
        |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        | FROM documents),
        |h AS (
        | SELECT doc_id, lang, cjk, n,
        |  len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) AS en,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','mit','für','auf','ein','eine','zu','den','im','nicht'], t))) AS de,
        |  len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une','du','des','en','que','qui','dans','pour'], t))) AS fr,
        |  len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','del','en','que','por','con','para'], t))) AS es
        | FROM t)
        |SELECT doc_id, lang,
        | CASE WHEN cjk * 2 > n THEN 'zh'
        |      WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
        |      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |      WHEN de >= fr AND de >= es THEN 'de'
        |      WHEN fr >= es THEN 'fr'
        |      ELSE 'es' END AS pred_lang
        |FROM h ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      """SELECT doc_id, md5(regexp_replace(lower(text), '\s+', ' ', 'g')) AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the text_langid decision chain aggregated into the confusion matrix;
    // shares are BIGINT per-mille of the labeled lang (integer division)
    "langid_confusion" ->
      """WITH t AS (
        | SELECT doc_id, lang,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk, length(text) AS n,
        |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        | FROM documents),
        |h AS (
        | SELECT doc_id, lang, cjk, n,
        |  len(list_filter(toks, t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) AS en,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','mit','für','auf','ein','eine','zu','den','im','nicht'], t))) AS de,
        |  len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une','du','des','en','que','qui','dans','pour'], t))) AS fr,
        |  len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','del','en','que','por','con','para'], t))) AS es
        | FROM t),
        |p AS (SELECT lang,
        | CASE WHEN cjk * 2 > n THEN 'zh'
        |      WHEN en = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
        |      WHEN en >= de AND en >= fr AND en >= es THEN 'en'
        |      WHEN de >= fr AND de >= es THEN 'de'
        |      WHEN fr >= es THEN 'fr'
        |      ELSE 'es' END AS pred_lang
        |FROM h),
        |conf AS (SELECT lang, pred_lang, count(*)::BIGINT AS n_docs FROM p GROUP BY 1, 2),
        |tot AS (SELECT lang, sum(n_docs)::BIGINT AS total FROM conf GROUP BY 1)
        |SELECT conf.lang, pred_lang, n_docs,
        | ((n_docs * 1000) // total)::BIGINT AS share_pm
        |FROM conf JOIN tot ON tot.lang = conf.lang
        |ORDER BY conf.lang, pred_lang""".stripMargin,
    // keep iff bucket(doc_id) < floor(quality*1000): the quality CTE is the
    // quality_filter formula, the bucket the corpus_sample hugeint mirror —
    // the same IEEE multiply+floor of identical doubles on both engines
    "quality_sample" ->
      raw"""WITH q0 AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents),
        |q AS (
        | SELECT doc_id,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        | FROM q0)
        |SELECT doc_id, quality,
        | ((doc_id::HUGEINT * 2654435761) % 1000)::BIGINT AS bucket
        |FROM q
        |WHERE (doc_id::HUGEINT * 2654435761) % 1000 < floor(quality * 1000)
        |ORDER BY doc_id""".stripMargin,
    // best-first cumulative selection: a doc is in iff tokens BEFORE it
    // (quality desc, doc_id order) are under budget — the Spark side
    // reproduces this without a global sort via the histogram cutoff
    "budget_select" ->
      raw"""WITH q0 AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents),
        |q AS (
        | SELECT doc_id, n_tokens::BIGINT AS n_tokens,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        | FROM q0),
        |c AS (
        | SELECT doc_id, quality, n_tokens,
        |  coalesce(sum(n_tokens) OVER (
        |    ORDER BY quality DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
        | FROM q)
        |SELECT doc_id, quality, n_tokens FROM c
        |WHERE cum_before < 10000 ORDER BY doc_id""".stripMargin,
    // power-of-two buckets via binary-string length, NOT floor(log2):
    // log2's ulp at exact powers of two (the boundaries) can land either
    // side of the integer in different engines
    "length_histogram" ->
      raw"""WITH t AS (
        | SELECT CASE WHEN length(trim(text)) = 0 THEN 0
        |        ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n
        | FROM documents),
        |b AS (SELECT CASE WHEN n = 0 THEN -1
        |             ELSE length(printf('%b', n)) - 1 END AS bucket, n FROM t),
        |g AS (SELECT bucket, count(*)::BIGINT AS n_docs, sum(n)::BIGINT AS n_tokens
        |      FROM b GROUP BY 1)
        |SELECT bucket,
        | CASE WHEN bucket < 0 THEN 0 ELSE (1::BIGINT << bucket) END::BIGINT AS lo_tokens,
        | n_docs, n_tokens,
        | ((n_docs * 1000) // (SELECT sum(n_docs) FROM g))::BIGINT AS doc_share_pm
        |FROM g ORDER BY bucket""".stripMargin,
    // the same winnowing pass as TextAnalysis.winnowFingerprints: k=8 char
    // grams md5'd, window-of-4 minima, distinct-sorted set digested.
    // DuckDB's 1-based inclusive slices s[i:i+7] / hs[j:j+3] mirror Spark's
    // substring(_, i, 8) / slice(_, j, 4); range(1, m+1) == sequence(1, m)
    "winnow_fingerprint" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, greatest(len(s) - 7, 0) AS n_grams,
        |    CASE WHEN len(s) >= 8
        |      THEN list_transform(range(1, len(s) - 6), i -> md5(s[i:i+7]))
        |      ELSE [] END AS hs
        |  FROM n),
        |w AS (
        |  SELECT doc_id, n_grams,
        |    CASE WHEN n_grams >= 4
        |      THEN list_transform(range(1, n_grams - 2), j -> list_min(hs[j:j+3]))
        |      WHEN n_grams > 0 THEN [list_min(hs)]
        |      ELSE [] END AS wins
        |  FROM g)
        |SELECT doc_id, n_grams,
        |  len(list_distinct(wins)) AS n_fps,
        |  md5(coalesce(array_to_string(list_sort(list_distinct(wins)), ','), '')) AS fp_digest
        |FROM w ORDER BY doc_id""".stripMargin,
    // the winnow_fingerprint CTEs + cross-doc grouping: fingerprints in
    // 2..50 distinct docs (the df cap that keeps boilerplate spans from
    // collecting thousand-doc lists), doc list digested sorted-as-strings
    // exactly like Spark's array_sort(collect_list(cast(string)))
    "duplicate_passages" ->
      """WITH n AS (
        |  SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS s
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, greatest(len(s) - 7, 0) AS n_grams,
        |    CASE WHEN len(s) >= 8
        |      THEN list_transform(range(1, len(s) - 6), i -> md5(s[i:i+7]))
        |      ELSE [] END AS hs
        |  FROM n),
        |w AS (
        |  SELECT doc_id, n_grams,
        |    CASE WHEN n_grams >= 4
        |      THEN list_transform(range(1, n_grams - 2), j -> list_min(hs[j:j+3]))
        |      WHEN n_grams > 0 THEN [list_min(hs)]
        |      ELSE [] END AS wins
        |  FROM g),
        |f AS (SELECT doc_id, unnest(list_distinct(wins)) AS fp FROM w),
        |c AS (SELECT fp, count(*) AS n_docs FROM f GROUP BY 1
        |      HAVING count(*) BETWEEN 2 AND 50)
        |SELECT fp, n_docs, min(doc_id) AS min_doc, max(doc_id) AS max_doc,
        |  md5(array_to_string(list_sort(list(doc_id::VARCHAR)), ',')) AS doc_digest
        |FROM f JOIN c USING (fp) GROUP BY 1, 2 ORDER BY fp""".stripMargin,
    // every doc gets the COMPOSED suffix; %10 docs get a +1e6-id twin with
    // the DECOMPOSED spelling — group keys, survivors and copy counts must
    // agree after both engines' NFC
    "dedup_exact_nfc" ->
      """WITH corpus AS (
        |  SELECT doc_id, text || ' caf' || chr(233) AS t FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, text || ' cafe' || chr(769)
        |  FROM documents WHERE doc_id % 10 = 0)
        |SELECT md5(nfc_normalize(t)) AS key, min(doc_id) AS keep_id,
        |  count(*) AS n_copies
        |FROM corpus GROUP BY 1 ORDER BY key""".stripMargin,
    // identical codepoint plants (chr() args = the \uXXXX escapes in
    // TextAnalysis.textNormalize), then DuckDB's native ICU nfc_normalize
    // vs the custom Catalyst NfcNormalizeExpr — digests must agree byte
    // for byte
    "text_normalize" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' cafe' || chr(769) ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' A' || chr(778) || 'ngstro' || chr(776) || 'm' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' caf' || chr(233) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id, len(t) AS n_raw, len(nfc_normalize(t)) AS n_norm,
        |  t <> nfc_normalize(t) AS changed,
        |  md5(nfc_normalize(t)) AS norm_digest
        |FROM aug ORDER BY doc_id""".stripMargin,
    // tf over lowercased letter-runs >= 3 chars, df re-aggregated from tf,
    // idf = ln(N/df); rank over the 4-dp ROUNDED score (desc, term asc) in
    // both engines so identical values rank identically
    "tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*)::DOUBLE AS n FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |    round(tf * ln(n.n / df::DOUBLE), 4) AS score
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY score DESC, term) AS rnk
        |      FROM scored)
        |SELECT doc_id, rnk, term, tf, df, score FROM r
        |WHERE rnk <= 5 ORDER BY doc_id, rnk""".stripMargin,
    // BM25 (k1=1.2, b=0.75, Lucene idf): queries = 20 highest-df terms
    // (df desc, term asc) round-robined into 4 queries; df and dl both
    // re-aggregated from tf exactly as the Spark side does; rank over the
    // 4-dp ROUNDED score (desc, doc_id asc) in both engines
    // the quote plant + the full df-capped inverted-index containment
    // computation replayed: word 6-grams, df in [2,50], directed
    // common/|A| at the rounded 0.5 threshold
    "ngram_containment" ->
      """WITH nx AS (
        |  SELECT a.doc_id,
        |    CASE WHEN a.doc_id % 10 = 0 AND b.doc_id IS NOT NULL
        |      THEN array_to_string(list_slice(str_split(b.text, ' '), 1, 12), ' ')
        |      ELSE a.text END AS text
        |  FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id + 1),
        |w AS (SELECT doc_id, str_split(text, ' ') AS ws FROM nx),
        |pos AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 5)) AS i FROM w),
        |grams AS (SELECT DISTINCT doc_id,
        |    md5(array_to_string(list_slice(ws, i, i + 5), ' ')) AS g FROM pos),
        |gc AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY 1),
        |dfq AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 50),
        |pr AS (SELECT doc_id, g FROM grams JOIN dfq USING (g)),
        |inter AS (
        |  SELECT a.doc_id AS doc_id, b.doc_id AS container_id, count(*) AS common
        |  FROM pr a JOIN pr b ON a.g = b.g AND a.doc_id <> b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_id, container_id, round(common::DOUBLE / n, 4) AS containment
        |FROM inter JOIN gc USING (doc_id)
        |WHERE round(common::DOUBLE / n, 4) >= 0.5
        |ORDER BY doc_id, container_id""".stripMargin,
    // the full mine->filter->rewrite pipeline replayed: plant, threshold
    // split, brute-force distance-1 join, unique-fix filter, token
    // rewrite, in-order reassembly
    "spell_correct" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 AND w <> '' THEN text || ' ' ||
        |      CASE WHEN doc_id % 2 = 0 THEN substr(w, 1, 1) || substr(w, 3)
        |           ELSE substr(w, 1, 2) || substr(w, 2) END
        |    ELSE text END AS text
        |  FROM (SELECT doc_id, text,
        |          regexp_extract(lower(text), '[a-z]{5,}', 0) AS w
        |        FROM documents)),
        |vc AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        |    FROM aug)
        |  GROUP BY 1),
        |th AS (SELECT (sum(cnt) // 1000)::BIGINT AS thr FROM vc),
        |rare AS (SELECT term FROM vc, th WHERE cnt < thr),
        |freq AS (SELECT term FROM vc, th WHERE cnt >= thr),
        |pairs AS (
        |  SELECT r.term AS typo, f.term AS fix FROM rare r, freq f
        |  WHERE levenshtein(r.term, f.term) <= 1),
        |uniq AS (SELECT typo, min(fix) AS fix FROM pairs
        |         GROUP BY typo HAVING count(*) = 1),
        |toks AS (
        |  SELECT doc_id, u.i AS pos, t[u.i] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t
        |        FROM aug) s,
        |  unnest(generate_series(1, len(t))) AS u(i)),
        |rw AS (
        |  SELECT doc_id, pos, COALESCE(fix, tok) AS o, fix IS NOT NULL AS corr
        |  FROM toks LEFT JOIN uniq ON lower(tok) = typo)
        |SELECT doc_id, array_to_string(list(o ORDER BY pos), ' ') AS text,
        |  sum(CASE WHEN corr THEN 1 ELSE 0 END)::BIGINT AS n_corrected
        |FROM rw GROUP BY doc_id
        |HAVING sum(CASE WHEN corr THEN 1 ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin,
    // brute-force all-pairs Levenshtein join over the replayed typo plant —
    // the ground truth the delete-variant equi-join provably equals at
    // distance 1 (pigeonhole on deletion variants)
    "fuzzy_term_join" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 AND w <> '' THEN text || ' ' ||
        |      CASE WHEN doc_id % 2 = 0 THEN substr(w, 1, 1) || substr(w, 3)
        |           ELSE substr(w, 1, 2) || substr(w, 2) END
        |    ELSE text END AS text
        |  FROM (SELECT doc_id, text,
        |          regexp_extract(lower(text), '[a-z]{5,}', 0) AS w
        |        FROM documents)),
        |vc AS (
        |  SELECT term, count(*) AS cnt FROM (
        |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        |    FROM aug)
        |  GROUP BY 1),
        |t AS (SELECT (sum(cnt) // 1000)::BIGINT AS thr FROM vc),
        |rare AS (SELECT term, cnt FROM vc, t WHERE cnt < thr),
        |freq AS (SELECT term, cnt FROM vc, t WHERE cnt >= thr)
        |SELECT r.term AS typo, f.term AS fix, r.cnt AS typo_cnt, f.cnt AS fix_cnt
        |FROM rare r, freq f
        |WHERE levenshtein(r.term, f.term) <= 1
        |ORDER BY typo, fix""".stripMargin,
    "bm25_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
        |      FROM dfreq ORDER BY df DESC, term LIMIT 20),
        |qq AS (SELECT (rn - 1) % 4 AS query_id, term, df FROM q),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT avg(dl::DOUBLE) AS avgdl, count(*)::DOUBLE AS n FROM dl),
        |scored AS (
        |  SELECT query_id, tf.doc_id,
        |    round(sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))), 4) AS score
        |  FROM tf JOIN qq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY score DESC, doc_id) AS rnk
        |      FROM scored)
        |SELECT query_id, rnk, doc_id, score FROM r
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // PII planted from doc_id on both sides (the corpus itself carries
    // none), then identical alternation-free regexes — see
    // TextAnalysis.redactPii for why alternation-free means Java and RE2
    // match byte-identically
    "pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' reach u' || doc_id || '@ex' || (doc_id % 7) || '.example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 9 = 0 THEN ' or admin' || doc_id || '@mail.example.org' ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 0 THEN ' node 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) || ' up' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call +' || (doc_id + 14000000000) ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
        |  len(regexp_extract_all(t, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS n_ips,
        |  len(regexp_extract_all(t, '\+[0-9]{7,15}')) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |    '\+[0-9]{7,15}', '<PHONE>', 'g') AS redacted
        |FROM aug ORDER BY doc_id""".stripMargin,
    // ---- near-dup / similarity family ----
    // The gram CTE mirrors TextHashes.normalize (lowercase, collapse
    // whitespace, trim) + distinct char-4-gram sets; counting distinct grams
    // equals counting distinct 64-bit gram hashes (no collisions at this
    // scale), so exact Jaccard agrees with the Spark kernel.
    "ngram_jaccard" -> jaccardOracle("0.5"),
    // inverted-index estimate: `common` counts only shingles with
    // 2 <= df <= 50 (the df cap), denominators count ALL distinct shingles —
    // the documented low-bias formula, reproduced verbatim. Top-100 under
    // the total order (estimate desc, doc_a, doc_b): the synthetic corpus's
    // template shingles all exceed the cap, so a fixed threshold is vacuous
    // and the candidate RANKING is the checked surface.
    "ngram_jaccard_inverted" ->
      s"""WITH $gramCtes,
         |df AS (SELECT g, count(*) AS df FROM grams GROUP BY g),
         |rare AS (SELECT g FROM df WHERE df >= 2 AND df <= 50),
         |rg AS (SELECT doc_id, g FROM grams JOIN rare USING (g)),
         |i2 AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
         |  FROM rg a JOIN rg b ON a.g = b.g AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, round(common::DOUBLE/(ga.n+gb.n-common), 4) AS jaccard
         |FROM i2 JOIN gc ga ON ga.doc_id = doc_a JOIN gc gb ON gb.doc_id = doc_b
         |ORDER BY jaccard DESC, doc_a, doc_b
         |LIMIT 100""".stripMargin,
    "dedup_minhash" -> jaccardOracle("0.7"),
    // cross-set (incremental) dedup: new batch = %3==0 docs, history = the
    // rest; exact Jaccard across the split, both orders collapsed onto
    // (new_id, old_id)
    "dedup_incremental" -> crossSetJaccardOracle,
    // the streaming decomposition must be lossless: union of per-micro-batch
    // results against the once-signed history == the one-shot batch answer
    "dedup_incremental_stream" -> crossSetJaccardOracle,
    // eval-integrity audit: near-dup pairs straddling the train/held-out
    // boundary of corpus_split's bucket function (hugeint mirror)
    "split_leakage" ->
      s"""WITH $gramCtes,
         |na AS (SELECT doc_id, g FROM grams
         |  WHERE (doc_id::HUGEINT * 2654435761) % 1000 < 20),
         |ha AS (SELECT doc_id, g FROM grams
         |  WHERE (doc_id::HUGEINT * 2654435761) % 1000 >= 20),
         |x AS (
         |  SELECT n.doc_id AS held_id, h.doc_id AS train_id, count(*) AS common
         |  FROM na n JOIN ha h ON n.g = h.g
         |  GROUP BY 1, 2)
         |SELECT held_id, train_id,
         |  round(common::DOUBLE/(gn.n+go.n-common), 4) AS jaccard
         |FROM x JOIN gc gn ON gn.doc_id = held_id JOIN gc go ON go.doc_id = train_id
         |WHERE round(common::DOUBLE/(gn.n+go.n-common), 4) >= 0.7
         |ORDER BY held_id, train_id""".stripMargin,
    "dedup_minhash_keep" ->
      s"""WITH RECURSIVE ${clusterCtes("0.7")}
        |SELECT id AS doc_id, min(r) AS cluster_id, (min(r) = id) AS keep
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // same closure, quality-aware survivor: highest 4-dp quality (id
    // tie-break) kept per cluster — the quality CTE is quality_filter's
    // formula verbatim
    "dedup_minhash_best" ->
      raw"""WITH RECURSIVE ${clusterCtes("0.7")},
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
        |q0 AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits
        | FROM documents),
        |q AS (
        | SELECT doc_id,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality
        | FROM q0),
        |j AS (SELECT cl.id AS doc_id, cl.cluster_id, q.quality
        |      FROM cl JOIN q ON q.doc_id = cl.id),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rnk
        |      FROM j)
        |SELECT doc_id, cluster_id, quality, (rnk = 1) AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    // the same transitive closure, aggregated per component
    "text_lsh_clusters" ->
      s"""WITH RECURSIVE ${clusterCtes("0.7")},
        |cl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
        |SELECT cluster_id, count(*) AS n_docs,
        |  string_agg(id::VARCHAR, ',' ORDER BY id) AS members
        |FROM cl GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,
    "corpus_clean" ->
      raw"""WITH RECURSIVE ${clusterCtes("0.7")},
        |dup AS (SELECT id AS doc_id, (min(r) = id) AS dup_keep FROM reach GROUP BY id),
        |q AS (
        | SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  round(len(regexp_extract_all(text, '[A-Za-z]'))::DOUBLE / nullif(length(text), 0), 4) AS alpha_ratio,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
        |            t -> list_contains(['the','a','an','of','and','to','in','is','on','for','with','that','it','as','at'], t))) END AS stop_hits,
        |  len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS cjk, length(text) AS n,
        |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE regexp_split_to_array(lower(trim(text)), '\s+') END AS toks
        | FROM documents),
        |h AS (
        | SELECT doc_id, n_tokens, alpha_ratio, stop_hits, cjk, n,
        |  len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','von','mit','für','auf','ein','eine','zu','den','im','nicht'], t))) AS de,
        |  len(list_filter(toks, t -> list_contains(['le','la','les','de','et','est','un','une','du','des','en','que','qui','dans','pour'], t))) AS fr,
        |  len(list_filter(toks, t -> list_contains(['el','la','los','las','de','y','es','un','una','del','en','que','por','con','para'], t))) AS es
        | FROM q),
        |scored AS (
        | SELECT doc_id,
        |  round(least(n_tokens / 100.0, 1.0) * 0.3
        |    + coalesce(alpha_ratio, 0.0) * 0.4
        |    + least(coalesce(round(stop_hits::DOUBLE / nullif(n_tokens, 0), 4), 0.0) * 4.0, 1.0) * 0.3, 4) AS quality,
        |  CASE WHEN cjk * 2 > n THEN 'zh'
        |       WHEN stop_hits = 0 AND de = 0 AND fr = 0 AND es = 0 THEN 'und'
        |       WHEN stop_hits >= de AND stop_hits >= fr AND stop_hits >= es THEN 'en'
        |       WHEN de >= fr AND de >= es THEN 'de'
        |       WHEN fr >= es THEN 'fr'
        |       ELSE 'es' END AS pred_lang
        | FROM h)
        |SELECT s.doc_id, s.quality, s.pred_lang,
        | coalesce(d.dup_keep, true) AS dup_keep,
        | (s.pred_lang = 'en') AS lang_ok,
        | (s.quality >= 0.3) AS quality_ok,
        | (coalesce(d.dup_keep, true) AND s.pred_lang = 'en' AND s.quality >= 0.3) AS keep
        |FROM scored s LEFT JOIN dup d ON d.doc_id = s.doc_id
        |ORDER BY s.doc_id""".stripMargin,
    "embed_neardup_exact" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.emb, b.emb)
        |    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim
        | FROM e a JOIN e b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.3 ORDER BY vec_a, vec_b""".stripMargin,
    "semantic_dedup_exact" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.emb, b.emb)
        |    / (sqrt(list_dot_product(a.emb, a.emb)) * sqrt(list_dot_product(b.emb, b.emb))), 4) AS sim
        | FROM e a JOIN e b ON a.vec_id < b.vec_id),
        |p AS (SELECT vec_a, vec_b FROM s WHERE sim >= 0.4),
        |edges AS (SELECT vec_a AS a, vec_b AS b FROM p UNION SELECT vec_b, vec_a FROM p),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT r2.id, ed.b FROM reach r2 JOIN edges ed ON ed.a = r2.r)
        |SELECT id AS vec_id, min(r) AS cluster_id, (min(r) = id) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    "multimodal_pipeline" ->
      """SELECT doc_id AS media_id, 'image' AS modality,
        | (doc_id % 64 + 16)::INT AS width, (doc_id % 48 + 16)::INT AS height,
        | (doc_id % 3 + 1)::INT AS channels,
        | (12 + least((doc_id % 64 + 16)*(doc_id % 48 + 16)*(doc_id % 3 + 1), 4096))::BIGINT AS n_bytes,
        | 8::INT AS emb_dim
        |FROM documents ORDER BY media_id""".stripMargin,
    // resize(32x32) → sampleFrames(256, every 2nd) over the stub codec:
    // payload byte j of a w×h×c image is ((j*31 + w) % 251); resize keeps
    // outLen = min(1024*c, plen) bytes sampled at i*plen/outLen (integer
    // div); frames drop the 12-byte header first. Pure integer arithmetic,
    // reproduced term for term.
    "multimodal_frames" ->
      """WITH d AS (SELECT doc_id AS media_id,
        |  (doc_id % 64 + 16)::BIGINT AS w, (doc_id % 48 + 16)::BIGINT AS h,
        |  (doc_id % 3 + 1)::BIGINT AS c FROM documents),
        |p AS (SELECT media_id, w, least(w*h*c, 4096) AS plen,
        |  least(1024*c, least(w*h*c, 4096)) AS outlen FROM d),
        |i AS (SELECT media_id, w, plen, outlen,
        |  unnest(generate_series(0, outlen - 1)) AS i FROM p),
        |f AS (SELECT media_id, (i // 256)::INT AS frame_idx,
        |  ((i * plen // outlen) * 31 + w) % 251 AS b FROM i),
        |k AS (SELECT media_id, frame_idx, count(*)::INT AS frame_len,
        |  sum(b)::BIGINT AS frame_sum
        |  FROM f WHERE frame_idx % 2 = 0 GROUP BY 1, 2)
        |SELECT media_id, frame_idx, frame_len, frame_sum FROM k
        |ORDER BY media_id, frame_idx""".stripMargin,
    // stub dHash replayed term for term: payload byte i of a w×h×c image
    // is ((i*31+w)%251), twins (doc_id%5=0, media_id+1e6) re-value the
    // byte at the start of block k=doc_id%59 to ((v+97)%251); 61 block
    // sums (block(i) = i*61//plen), bit j = s(j) > s(j+1); pairs =
    // ALL-PAIRS hamming<=3 — equal to the banded join by pigeonhole
    "image_phash_dedup" ->
      """WITH d AS (
        |  SELECT doc_id AS media_id, FALSE AS twin, 0::BIGINT AS k,
        |    (doc_id % 64 + 16)::BIGINT AS w, (doc_id % 48 + 16)::BIGINT AS h,
        |    (doc_id % 3 + 1)::BIGINT AS c FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, TRUE, doc_id % 59,
        |    (doc_id % 64 + 16), (doc_id % 48 + 16), (doc_id % 3 + 1)
        |  FROM documents WHERE doc_id % 5 = 0),
        |p AS (SELECT media_id, twin, k, w, least(w*h*c, 4096) AS plen FROM d),
        |i AS (SELECT media_id, twin, k, w, plen,
        |  unnest(generate_series(0, plen - 1)) AS i FROM p),
        |by AS (SELECT media_id, (i * 61) // plen AS blk,
        |  CASE WHEN twin AND i = (k * plen + 60) // 61
        |       THEN ((i*31 + w) % 251 + 97) % 251
        |       ELSE (i*31 + w) % 251 END AS v FROM i),
        |s AS (SELECT media_id, blk, sum(v) AS s FROM by GROUP BY 1, 2),
        |bits AS (SELECT a.media_id, a.blk AS j,
        |    CASE WHEN a.s > b.s THEN 1 ELSE 0 END AS bit
        |  FROM s a JOIN s b ON a.media_id = b.media_id AND b.blk = a.blk + 1
        |  WHERE a.blk <= 59),
        |hsh AS (SELECT media_id, sum(bit::BIGINT << j)::BIGINT AS phash
        |  FROM bits GROUP BY 1),
        |pairs AS (SELECT x.media_id AS media_a, y.media_id AS media_b,
        |    bit_count(xor(x.phash, y.phash))::INT AS hamming
        |  FROM hsh x JOIN hsh y ON x.media_id < y.media_id)
        |SELECT media_a, media_b, hamming FROM pairs
        |WHERE hamming <= 3 ORDER BY media_a, media_b""".stripMargin,
    // exhaustive searches (brute force / IVF with nprobe = numCentroids /
    // IVF over the persisted partitioned index) are identical by
    // construction — the cells partition the corpus — so all three share
    // the brute-force oracle
    "knn_graph" -> knnGraphOracle,
    "graph_pagerank" -> pageRankOracle,
    // the same knn graph, walked by the IDENTICAL recursive CTE — both
    // engines run WITH RECURSIVE with the UNION ALL + hop-cap bounding
    "q31_reachability" ->
      """WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
        |  round(list_dot_product(b.emb, a.emb)
        |    / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(a.emb, a.emb))), 4) AS sim
        | FROM e a, e b WHERE a.vec_id <> b.vec_id),
        |rk AS (SELECT src_id, neighbor_id,
        |  row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rn FROM s),
        |g AS (SELECT src_id AS src, neighbor_id AS dst FROM rk WHERE rn <= 5),
        |walk(id, hop) AS (
        |  SELECT CAST(0 AS BIGINT), 0
        |  UNION ALL
        |  SELECT g.dst, w.hop + 1
        |  FROM walk w JOIN g ON g.src = w.id
        |  WHERE w.hop < 4)
        |SELECT id, CAST(min(hop) AS BIGINT) AS hops
        |FROM walk GROUP BY id ORDER BY id""".stripMargin,
    // the knn brute-force shape with the label inequality applied before
    // the per-anchor top-k — exhaustive nprobe makes the IVF path equal it
    "hard_negatives" ->
      """WITH e AS (SELECT vec_id, label::BIGINT AS label, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id, b.label AS negative_label,
        |  round(list_dot_product(b.emb, a.emb)
        |    / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(a.emb, a.emb))), 4) AS sim
        | FROM e a, e b WHERE a.vec_id <> b.vec_id AND a.label <> b.label),
        |r AS (SELECT anchor_id, negative_id, negative_label, sim,
        |  row_number() OVER (PARTITION BY anchor_id ORDER BY sim DESC, negative_id) AS rn FROM s)
        |SELECT anchor_id, negative_id, negative_label, sim FROM r WHERE rn <= 5
        |ORDER BY anchor_id, sim DESC, negative_id""".stripMargin,
    // the PRUNED hard-negative miner replayed end-to-end: the adaptive-K /
    // √-law-nprobe cell machinery of knn_graph_probe's oracle (same CTEs,
    // label column added) with the label inequality applied inside the
    // probed-cell scan — every stage a total order, so the approximate,
    // label-filtered result is still hash-exact in both engines
    "hard_negatives_probe" ->
      """WITH e AS (SELECT vec_id, label::BIGINT AS label, embedding::DOUBLE[] AS emb FROM embeddings),
        |ncent AS (SELECT greatest(16, CAST(ceil(count(*)::DOUBLE / 125.0) AS BIGINT)) AS k FROM e WHERE emb IS NOT NULL),
        |nprb AS (SELECT CASE WHEN k <= 16 THEN 6
        |  WHEN k <= 160 THEN least(k, CAST(ceil(sqrt(36.0 * k / 10.0)) AS BIGINT))
        |  ELSE least(k, CAST(ceil(sqrt(36.0 * k / 10.0) * sqrt(sqrt(k / 160.0))) AS BIGINT)) END AS np FROM ncent),
        |cent AS (
        |  SELECT cid, cemb FROM (
        |    SELECT row_number() OVER (
        |        ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) - 1 AS cid,
        |      emb AS cemb
        |    FROM e)
        |  WHERE cid < (SELECT k FROM ncent)),
        |cn AS (SELECT cid, cemb, 1.0 / sqrt(list_dot_product(cemb, cemb)) AS inv FROM cent),
        |a AS (SELECT e.vec_id, cn.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.emb, cn.cemb) * cn.inv DESC, cn.cid) AS rn
        |  FROM e, cn),
        |home AS (SELECT vec_id, cid FROM a WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, emb AS q_emb, label AS q_label FROM e),
        |pa AS (SELECT q.query_id, cn.cid,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_dot_product(q.q_emb, cn.cemb) * cn.inv DESC, cn.cid) AS rn
        |  FROM q, cn),
        |probe AS (SELECT query_id, cid FROM pa WHERE rn <= (SELECT np FROM nprb)),
        |s AS (SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
        |    round(list_dot_product(e.emb, q.q_emb)
        |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))), 4) AS sim
        |  FROM probe p
        |  JOIN home h ON h.cid = p.cid
        |  JOIN e ON e.vec_id = h.vec_id
        |  JOIN q ON q.query_id = p.query_id
        |  WHERE e.label <> q.q_label),
        |r AS (SELECT query_id, neighbor_id, neighbor_label, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
        |SELECT query_id AS anchor_id, neighbor_id AS negative_id,
        |  neighbor_label AS negative_label, sim FROM r WHERE rn <= 5
        |ORDER BY anchor_id, sim DESC, negative_id""".stripMargin,
    // marginal-median centers: a median is a selection (bit-reproducible),
    // a mean is an order-dependent float sum — that choice is what lets
    // this oracle compare sims exactly at 4 dp. Spark's posexplode pos is
    // 0-based and DuckDB's generate_series 1-based; both centers list in
    // ascending pos, so components align positionally.
    "embedding_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings),
        |d AS (SELECT label, u.i AS pos, emb[u.i] AS x
        |      FROM e, unnest(generate_series(1, len(emb))) AS u(i)),
        |med AS (SELECT label, pos, quantile_cont(x, 0.5) AS m FROM d GROUP BY 1, 2),
        |ctr AS (SELECT label, list(m ORDER BY pos) AS center FROM med GROUP BY 1),
        |sc AS (SELECT vec_id, e.label,
        |  round(list_dot_product(emb, center)
        |    / (sqrt(list_dot_product(emb, emb)) * sqrt(list_dot_product(center, center))), 4) AS sim
        | FROM e JOIN ctr ON ctr.label = e.label),
        |cut AS (SELECT label, quantile_cont(sim, 0.1) AS cutoff FROM sc GROUP BY 1)
        |SELECT vec_id, sc.label, sim, (sim <= cutoff) AS is_outlier
        |FROM sc JOIN cut ON cut.label = sc.label
        |ORDER BY vec_id""".stripMargin,
    "ann_ivf" -> annExactOracle,
    "ann_ivf_indexed" -> annExactOracle,
    // append through the existing quantizer, search exhaustively: cells
    // still partition the corpus, so the same brute-force oracle pins it
    "ann_ivf_appended" -> annExactOracle,
    "ann_ivf_refined" -> annExactOracle,
    "ann_topk" -> annExactOracle,
    // hybrid retrieval: the bm25_search CTE chain (pool depth 20) + the
    // brute-force cosine chain (probes 0..3, pool 20), RRF-fused. 1.0 must
    // be cast to DOUBLE — DuckDB's bare 1.0 is DECIMAL and decimal
    // division would not be bit-identical to Spark's double divide.
    "hybrid_search" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]{3,}')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |q AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS rn
        |      FROM dfreq ORDER BY df DESC, term LIMIT 20),
        |qq AS (SELECT (rn - 1) % 4 AS query_id, term, df FROM q),
        |dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        |stats AS (SELECT avg(dl::DOUBLE) AS avgdl, count(*)::DOUBLE AS n FROM dl),
        |scored AS (
        |  SELECT query_id, tf.doc_id,
        |    round(sum(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1.2 + 1.0)
        |      / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl))), 4) AS score
        |  FROM tf JOIN qq USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |  GROUP BY 1, 2),
        |lex AS (SELECT query_id, doc_id, bm25_rnk FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY score DESC, doc_id) AS bm25_rnk
        |  FROM scored) WHERE bm25_rnk <= 20),
        |e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |p AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 4),
        |s AS (SELECT p.query_id, e.vec_id AS doc_id,
        |  round(list_dot_product(e.emb, p.q_emb)
        |    / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(p.q_emb, p.q_emb))), 4) AS sim
        | FROM e, p WHERE e.vec_id <> p.query_id),
        |sem AS (SELECT query_id, doc_id, ann_rnk FROM (
        |  SELECT query_id, doc_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY sim DESC, doc_id) AS ann_rnk
        |  FROM s) WHERE ann_rnk <= 20),
        |f AS (
        |  SELECT COALESCE(lex.query_id, sem.query_id) AS query_id,
        |    COALESCE(lex.doc_id, sem.doc_id) AS doc_id, bm25_rnk, ann_rnk,
        |    COALESCE(1.0::DOUBLE / (60 + bm25_rnk), 0.0::DOUBLE)
        |      + COALESCE(1.0::DOUBLE / (60 + ann_rnk), 0.0::DOUBLE) AS rrf
        |  FROM lex FULL OUTER JOIN sem
        |    ON lex.query_id = sem.query_id AND lex.doc_id = sem.doc_id),
        |r AS (SELECT *, row_number() OVER (
        |        PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS rnk FROM f)
        |SELECT query_id, rnk, doc_id, rrf, bm25_rnk, ann_rnk FROM r
        |WHERE rnk <= 10 ORDER BY query_id, rnk""".stripMargin,
    // the PRUNED IVF paths replicated end-to-end: knuth-hash quantizer
    // selection, cell assignment by dot x (1/|c|) with ties to the smaller
    // centroid index, nprobe probe cells per query, per-query top-k over
    // the probed cells only — deterministic in both engines, so the
    // approximate result is still hash-exact
    "ann_ivf_probe" -> ivfProbeOracle(
      queries = "SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 5",
      queryCol = "query_id", nprobe = "8", k = 10),
    // nprobe = the √-law escalation of Similarity.adaptiveNprobe, computed
    // from count(*) like K itself: 6 at every correctness SF (K = 16),
    // ceil(sqrt(3.6·K)) above, × (K/160)^(1/4) past the last validated
    // decade (round 17: K=1600 probes 135 cells) — 36.0·k exact in IEEE
    // doubles, /10.0 correctly rounded, sqrt/ceil correctly rounded, the
    // boost two more correctly-rounded sqrts and one multiply, identical
    // op order in both engines, so the oracle probes the identical cells
    // at every SF
    "knn_graph_probe" -> ivfProbeOracle(
      queries = "SELECT vec_id AS query_id, emb AS q_emb FROM e",
      queryCol = "src_id", nprobe = "(SELECT np FROM nprb)", k = 5,
      ctes = ivfHomeCtesAdaptive),
    // the full PQ pipeline replayed: donor slicing into per-subspace
    // codebooks, ONE fixed-point Lloyd training pass (assign to donors,
    // re-center every codeword on the exact integer-sum mean of its
    // members — floor(x·2^20 + 0.5) per component, so the mean is an
    // order-independent integer sum both engines compute identically,
    // then floor(Σ/n + 0.5)/2^20 back to a double — the integer-ppm
    // PageRank trick applied to k-means), per-subspace dot x invNorm
    // assignment (ties -> smaller cid), codeword reconstruction,
    // asymmetric cosine top-k — every stage a total order, so the lossy
    // TRAINED result is still hash-exact. The (m, kc) shape is
    // SIZE-ADAPTIVE from count(*) exactly like Similarity.adaptivePqShape:
    // 16×256 at N ≥ 256, the historical 4×16 below — one oracle text per SF.
    "ann_pq" -> annPqOracle,
    // the persisted-index entry reads trained codebooks + codes back from
    // the writePqIndex sidecar; "indexed search ≡ inline-trained search"
    // is exactly the claim, so it shares the oracle text verbatim
    "ann_pq_indexed" -> annPqOracle,
    // the cell-pruned composition: same code table, each probe restricted
    // to its √-law nprobe knuth-quantizer cells before the ADC tail
    "ann_ivfpq_indexed" -> annIvfPqOracle,
    // cluster-balanced selection replayed end-to-end: home cells from the
    // shared quantizer CTEs, then the per-cell budget in knuth-hash order
    // (bijective on sub-2^32 ids, so the sample is a total order -> exact)
    "cluster_sample" ->
      s"""WITH $ivfHomeCtes,
        |r AS (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY cid
        |      ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) AS rk
        |  FROM home)
        |SELECT vec_id, cid::BIGINT AS cell FROM r WHERE rk <= 16
        |ORDER BY vec_id""".stripMargin,
    // char-4-gram SimHash128 replicated bit-for-bit: FNV-1a per UTF-16
    // unit (the corpus is ASCII, so unicode() == the code unit) with the
    // xorshift avalanche and splitmix64 finalizer as chained HUGEINT CTE
    // steps (64-bit wrapping multiplies via 32-bit splits), 128 majority
    // votes over per-doc DISTINCT gram hashes, 12 rotated 32-bit band
    // keys, banded pair join, hamming <= 14 — the full lossy pipeline,
    // so the approximate pair set hash-checks exactly
    "dedup_simhash" ->
      """WITH docs AS (SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t FROM documents),
        |pos AS (SELECT doc_id, t, unnest(generate_series(1, length(t) - 3)) AS i FROM docs),
        |dg AS (SELECT DISTINCT doc_id, substr(t, i, 4) AS g FROM pos),
        |gs AS (SELECT DISTINCT g FROM dg),
        |h0 AS (SELECT g, unicode(substr(g,1,1))::HUGEINT AS c1, unicode(substr(g,2,1))::HUGEINT AS c2, unicode(substr(g,3,1))::HUGEINT AS c3, unicode(substr(g,4,1))::HUGEINT AS c4, 14695981039346656037::HUGEINT AS h FROM gs),
        |h1 AS (SELECT g, c1, c2, c3, c4, (((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c1 >= 9223372036854775808::HUGEINT THEN (c1 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c1)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 435) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c1 >= 9223372036854775808::HUGEINT THEN (c1 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c1)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h0),
        |h2 AS (SELECT g, c1, c2, c3, c4, (((h * 435) % 18446744073709551616::HUGEINT + ((h * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h1),
        |h3 AS (SELECT g, c1, c2, c3, c4, (((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c2 >= 9223372036854775808::HUGEINT THEN (c2 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c2)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 435) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c2 >= 9223372036854775808::HUGEINT THEN (c2 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c2)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h2),
        |h4 AS (SELECT g, c1, c2, c3, c4, (((h * 435) % 18446744073709551616::HUGEINT + ((h * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h3),
        |h5 AS (SELECT g, c1, c2, c3, c4, (((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c3 >= 9223372036854775808::HUGEINT THEN (c3 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c3)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 435) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c3 >= 9223372036854775808::HUGEINT THEN (c3 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c3)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h4),
        |h6 AS (SELECT g, c1, c2, c3, c4, (((h * 435) % 18446744073709551616::HUGEINT + ((h * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h5),
        |h7 AS (SELECT g, c1, c2, c3, c4, (((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c4 >= 9223372036854775808::HUGEINT THEN (c4 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c4)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 435) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN c4 >= 9223372036854775808::HUGEINT THEN (c4 - 18446744073709551616::HUGEINT)::BIGINT ELSE (c4)::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h6),
        |h8 AS (SELECT g, c1, c2, c3, c4, (((h * 435) % 18446744073709551616::HUGEINT + ((h * 256) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h7),
        |h9 AS (SELECT g, c1, c2, c3, c4, ((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN (h // 8589934592) >= 9223372036854775808::HUGEINT THEN ((h // 8589934592) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((h // 8589934592))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) AS h FROM h8),
        |h10 AS (SELECT g, c1, c2, c3, c4, (((h * 3981806797) % 18446744073709551616::HUGEINT + ((h * 4283543511) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS h FROM h9),
        |h11 AS (SELECT g, c1, c2, c3, c4, ((xor((CASE WHEN h >= 9223372036854775808::HUGEINT THEN (h - 18446744073709551616::HUGEINT)::BIGINT ELSE (h)::BIGINT END), (CASE WHEN (h // 8589934592) >= 9223372036854775808::HUGEINT THEN ((h // 8589934592) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((h // 8589934592))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) AS h FROM h10),
        |m1 AS (SELECT g, h, (h + 11400714819323198485) % 18446744073709551616::HUGEINT AS m FROM h11),
        |m2 AS (SELECT g, h, (((((xor((CASE WHEN m >= 9223372036854775808::HUGEINT THEN (m - 18446744073709551616::HUGEINT)::BIGINT ELSE (m)::BIGINT END), (CASE WHEN (m // 1073741824) >= 9223372036854775808::HUGEINT THEN ((m // 1073741824) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((m // 1073741824))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 484763065) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN m >= 9223372036854775808::HUGEINT THEN (m - 18446744073709551616::HUGEINT)::BIGINT ELSE (m)::BIGINT END), (CASE WHEN (m // 1073741824) >= 9223372036854775808::HUGEINT THEN ((m // 1073741824) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((m // 1073741824))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 3210233709) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS m FROM m1),
        |m3 AS (SELECT g, h, (((((xor((CASE WHEN m >= 9223372036854775808::HUGEINT THEN (m - 18446744073709551616::HUGEINT)::BIGINT ELSE (m)::BIGINT END), (CASE WHEN (m // 134217728) >= 9223372036854775808::HUGEINT THEN ((m // 134217728) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((m // 134217728))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 321982955) % 18446744073709551616::HUGEINT + ((((xor((CASE WHEN m >= 9223372036854775808::HUGEINT THEN (m - 18446744073709551616::HUGEINT)::BIGINT ELSE (m)::BIGINT END), (CASE WHEN (m // 134217728) >= 9223372036854775808::HUGEINT THEN ((m // 134217728) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((m // 134217728))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) * 2496678331) % 4294967296) * 4294967296) % 18446744073709551616::HUGEINT) AS m FROM m2),
        |m4 AS (SELECT g, h, ((xor((CASE WHEN m >= 9223372036854775808::HUGEINT THEN (m - 18446744073709551616::HUGEINT)::BIGINT ELSE (m)::BIGINT END), (CASE WHEN (m // 2147483648) >= 9223372036854775808::HUGEINT THEN ((m // 2147483648) - 18446744073709551616::HUGEINT)::BIGINT ELSE ((m // 2147483648))::BIGINT END))::HUGEINT + 18446744073709551616::HUGEINT) % 18446744073709551616::HUGEINT) AS m FROM m3),
        |gh AS (SELECT g, h, m AS h2 FROM m4),
        |dh AS (SELECT DISTINCT doc_id, h, h2 FROM dg JOIN gh USING (g)),
        |gn AS (SELECT doc_id, count(*) AS grams FROM dh GROUP BY doc_id),
        |votes AS (SELECT doc_id, b, sum(((CASE WHEN b < 64 THEN h ELSE h2 END) // power(2, b % 64)::HUGEINT) % 2) AS ones FROM dh, range(128) AS bb(b) GROUP BY doc_id, b),
        |words AS (SELECT v.doc_id, sum(CASE WHEN v.b < 64  AND 2*v.ones > g.grams THEN power(2, v.b)::HUGEINT ELSE 0::HUGEINT END) AS w0, sum(CASE WHEN v.b >= 64 AND 2*v.ones > g.grams THEN power(2, v.b - 64)::HUGEINT ELSE 0::HUGEINT END) AS w1 FROM votes v JOIN gn g USING (doc_id) GROUP BY v.doc_id),
        |bandbit AS (SELECT doc_id, k, i, ((k % 4)*32 + ((k // 4)*32)//3 + i) % 128 AS bit, w0, w1 FROM words, range(12) AS kk(k), range(32) AS ii(i)),
        |banded AS (SELECT doc_id, k, (k::BIGINT << 32) + sum((((CASE WHEN bit < 64 THEN w0 ELSE w1 END) // power(2, bit % 64)::HUGEINT) % 2)::BIGINT * (1::BIGINT << i)) AS band_key FROM bandbit GROUP BY doc_id, k, w0, w1),
        |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM banded a JOIN banded b ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
        |ham AS (SELECT doc_a, doc_b, (bit_count(xor((CASE WHEN x.w0 >= 9223372036854775808::HUGEINT THEN (x.w0 - 18446744073709551616::HUGEINT)::BIGINT ELSE (x.w0)::BIGINT END), (CASE WHEN y.w0 >= 9223372036854775808::HUGEINT THEN (y.w0 - 18446744073709551616::HUGEINT)::BIGINT ELSE (y.w0)::BIGINT END))) + bit_count(xor((CASE WHEN x.w1 >= 9223372036854775808::HUGEINT THEN (x.w1 - 18446744073709551616::HUGEINT)::BIGINT ELSE (x.w1)::BIGINT END), (CASE WHEN y.w1 >= 9223372036854775808::HUGEINT THEN (y.w1 - 18446744073709551616::HUGEINT)::BIGINT ELSE (y.w1)::BIGINT END))))::BIGINT AS hamming FROM pairs JOIN words x ON x.doc_id = doc_a JOIN words y ON y.doc_id = doc_b)
        |SELECT doc_a, doc_b, hamming FROM ham WHERE hamming <= 14 ORDER BY doc_a, doc_b""".stripMargin,
    // hyperplane-LSH paths replicated end-to-end (see lshBucketCtes):
    // candidates share any (table, bucket); exact cosine on candidates
    "ann_lsh" ->
      s"""WITH RECURSIVE $lshBucketCtes,
        |cand AS (
        |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id
        |  FROM bk q JOIN bk c ON q.t = c.t AND q.bucket = c.bucket
        |  WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
        |s AS (
        |  SELECT cand.query_id, cand.vec_id AS neighbor_id,
        |    round(list_dot_product(c.emb, q.emb)
        |      / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.emb, q.emb))), 4) AS sim
        |  FROM cand
        |  JOIN e c ON c.vec_id = cand.vec_id
        |  JOIN e q ON q.vec_id = cand.query_id),
        |r AS (
        |  SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn
        |  FROM s)
        |SELECT query_id, neighbor_id, sim FROM r WHERE rn <= 10
        |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,
    "embed_neardup" ->
      s"""WITH RECURSIVE $lshBucketCtesAdaptive,
        |cand AS (
        |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
        |    greatest(a.vec_id, b.vec_id) AS vec_b
        |  FROM pb a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
        |  WHERE a.vec_id <> b.vec_id),
        |s AS (
        |  SELECT vec_a, vec_b,
        |    round(list_dot_product(x.emb, y.emb)
        |      / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))), 4) AS sim
        |  FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b)
        |SELECT vec_a, vec_b, sim FROM s WHERE sim >= 0.3
        |ORDER BY vec_a, vec_b""".stripMargin,
    // DEFAULT semantic_dedup oracle: LSH pair stage (hyperplane-LCG replay)
    // + the transitive-closure reach tail — keep decisions over the
    // replicated approximate pair graph
    "semantic_dedup" ->
      s"""WITH RECURSIVE $lshBucketCtesAdaptive,
        |cand AS (
        |  SELECT DISTINCT least(a.vec_id, b.vec_id) AS vec_a,
        |    greatest(a.vec_id, b.vec_id) AS vec_b
        |  FROM pb a JOIN bk b ON a.t = b.t AND a.bucket = b.bucket
        |  WHERE a.vec_id <> b.vec_id),
        |p AS (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT vec_a, vec_b,
        |      round(list_dot_product(x.emb, y.emb)
        |        / (sqrt(list_dot_product(x.emb, x.emb)) * sqrt(list_dot_product(y.emb, y.emb))), 4) AS sim
        |    FROM cand JOIN e x ON x.vec_id = vec_a JOIN e y ON y.vec_id = vec_b)
        |  WHERE sim >= 0.4),
        |edges AS (SELECT vec_a AS a, vec_b AS b FROM p UNION SELECT vec_b, vec_a FROM p),
        |reach(id, r) AS (
        | SELECT a, a FROM edges
        | UNION
        | SELECT r2.id, ed.b FROM reach r2 JOIN edges ed ON ed.a = r2.r)
        |SELECT id AS vec_id, min(r) AS cluster_id, (min(r) = id) AS keep
        |FROM reach GROUP BY id ORDER BY vec_id""".stripMargin,
    // quantize -> dequantize -> brute-force top-k: the same per-dim grid as
    // quantize_embeddings (bit-exact cross-engine), reconstruction
    // mn + q/255*span in the kernel's operation order, then the
    // annExactOracle search shape over the reconstructed vectors — the
    // approximate entry's output is deterministic, so it hash-checks
    "ann_quantized" ->
      """WITH u AS (
        |  SELECT vec_id, ui.i, embedding[ui.i]::DOUBLE AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS ui(i)),
        |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
        |q AS (
        |  SELECT vec_id, u.i,
        |    CASE WHEN mx = mn THEN 0 ELSE round((u.x - mn) / (mx - mn) * 255)::INT END AS qv,
        |    mn, mx - mn AS span
        |  FROM u JOIN stats USING (i)),
        |dq AS (SELECT vec_id, list(mn + qv::DOUBLE / 255.0 * span ORDER BY i) AS emb FROM q GROUP BY vec_id),
        |p AS (SELECT vec_id AS query_id, emb AS q_emb FROM dq WHERE vec_id < 5),
        |s AS (SELECT p.query_id, d.vec_id AS neighbor_id,
        |  round(list_dot_product(d.emb, p.q_emb)
        |    / (sqrt(list_dot_product(d.emb, d.emb)) * sqrt(list_dot_product(p.q_emb, p.q_emb))), 4) AS sim
        |  FROM dq d, p WHERE d.vec_id <> p.query_id),
        |r AS (SELECT query_id, neighbor_id, sim,
        |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
        |SELECT query_id, neighbor_id, sim FROM r WHERE rn <= 10
        |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin,
    // int8 scalar quantization: per-dim min/max + round((x-mn)/span*255);
    // float->double is exact and subtract/divide/round are IEEE-identical
    // across engines, so the compare is bit-exact per component
    "quantize_embeddings" ->
      """WITH u AS (
        |  SELECT vec_id, ui.i, embedding[ui.i]::DOUBLE AS x
        |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS ui(i)),
        |stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM u GROUP BY i),
        |q AS (
        |  SELECT vec_id, u.i,
        |    CASE WHEN mx = mn THEN 0
        |         ELSE round((u.x - mn) / (mx - mn) * 255)::INT END AS qv
        |  FROM u JOIN stats USING (i))
        |SELECT vec_id, string_agg(qv::VARCHAR, ',' ORDER BY i) AS qemb_csv
        |FROM q GROUP BY vec_id ORDER BY vec_id""".stripMargin,
  )

  /** The pruned IVF search replicated in DuckDB, exactly. Centroids are
    * the 16 vectors with the smallest (vec_id * 2654435761) % 2^32 (knuth
    * hash — exact via HUGEINT; the Spark side computes the identical value
    * with overflow-free split arithmetic). Cell assignment ranks centroids
    * by dot(x, c) * (1.0 / sqrt(dot(c, c))) — the MULTIPLY-BY-INVERSE form,
    * matching IvfAssignExpr's ulps — with ties to the smaller centroid
    * index. Candidates are the vectors whose (unique) home cell is among
    * the query's nprobe probe cells; top-k by (round(cosine,4) DESC,
    * vec_id). No Lloyd refinement: `avg` summation order differs across
    * engines, so Lloyd cells are not ulp-replicable. */
  /** Shared DuckDB CTE chain for the knuth-hash IVF quantizer: embeddings
    * as double lists, the 16 smallest-hash centroids, inverse norms, and
    * every vector's home cell (dot × invNorm rank, ties to the smaller
    * cid) — the exact replica of knuthCentroids + IvfAssignExpr used by
    * every pruned-IVF oracle AND the cluster_sample selection oracle, so
    * the assignment logic lives in ONE place. */
  private val ivfHomeCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |cent AS (
      |  SELECT row_number() OVER (
      |      ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) - 1 AS cid,
      |    emb AS cemb
      |  FROM e
      |  ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id
      |  LIMIT 16),
      |cn AS (SELECT cid, cemb, 1.0 / sqrt(list_dot_product(cemb, cemb)) AS inv FROM cent),
      |a AS (SELECT e.vec_id, cn.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.emb, cn.cemb) * cn.inv DESC, cn.cid) AS rn
      |  FROM e, cn),
      |home AS (SELECT vec_id, cid FROM a WHERE rn = 1)""".stripMargin

  /** [[ivfHomeCtes]] with the SIZE-ADAPTIVE centroid count of
    * [[graft.operators.Similarity.adaptiveCentroids]] — K =
    * greatest(16, ceil(N/125)) computed from the corpus itself, so ONE
    * oracle text is exact at every SF: it resolves to the historical 16
    * at the correctness SFs (N ≤ 2000) and tracks the Spark side on the
    * synthesized scale decades. Only knn_graph_probe uses this — the
    * ann_ivf* entries keep explicit K=16 on both sides. */
  private val ivfHomeCtesAdaptive: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |ncent AS (SELECT greatest(16, CAST(ceil(count(*)::DOUBLE / 125.0) AS BIGINT)) AS k FROM e WHERE emb IS NOT NULL),
      |nprb AS (SELECT CASE WHEN k <= 16 THEN 6
      |  WHEN k <= 160 THEN least(k, CAST(ceil(sqrt(36.0 * k / 10.0)) AS BIGINT))
      |  ELSE least(k, CAST(ceil(sqrt(36.0 * k / 10.0) * sqrt(sqrt(k / 160.0))) AS BIGINT)) END AS np FROM ncent),
      |cent AS (
      |  SELECT cid, cemb FROM (
      |    SELECT row_number() OVER (
      |        ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) - 1 AS cid,
      |      emb AS cemb
      |    FROM e)
      |  WHERE cid < (SELECT k FROM ncent)),
      |cn AS (SELECT cid, cemb, 1.0 / sqrt(list_dot_product(cemb, cemb)) AS inv FROM cent),
      |a AS (SELECT e.vec_id, cn.cid,
      |    row_number() OVER (PARTITION BY e.vec_id
      |      ORDER BY list_dot_product(e.emb, cn.cemb) * cn.inv DESC, cn.cid) AS rn
      |  FROM e, cn),
      |home AS (SELECT vec_id, cid FROM a WHERE rn = 1)""".stripMargin

  private def ivfProbeOracle(queries: String, queryCol: String,
      nprobe: String, k: Int, ctes: String = null): String =
    s"""WITH ${Option(ctes).getOrElse(ivfHomeCtes)},
      |q AS ($queries),
      |pa AS (SELECT q.query_id, cn.cid,
      |    row_number() OVER (PARTITION BY q.query_id
      |      ORDER BY list_dot_product(q.q_emb, cn.cemb) * cn.inv DESC, cn.cid) AS rn
      |  FROM q, cn),
      |probe AS (SELECT query_id, cid FROM pa WHERE rn <= $nprobe),
      |s AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |    round(list_dot_product(e.emb, q.q_emb)
      |      / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))), 4) AS sim
      |  FROM probe p
      |  JOIN home h ON h.cid = p.cid
      |  JOIN e ON e.vec_id = h.vec_id
      |  JOIN q ON q.query_id = p.query_id
      |  WHERE e.vec_id <> q.query_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
      |SELECT query_id AS $queryCol, neighbor_id, sim FROM r WHERE rn <= $k
      |ORDER BY $queryCol, sim DESC, neighbor_id""".stripMargin

  /** Per-doc BPE re-encode CTEs (train replay + document re-encode up to the
    * per-doc `agg` table) — shared by the bpe_encode, token_count_stream and
    * bpe_fertility oracles. */
  private lazy val bpeDocTokenCtes: String =
    raw"""$bpeTrainCtes,
        |dw AS (SELECT doc_id, token AS w FROM (
        |    SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM documents) t
        |  WHERE regexp_matches(token, '^[a-z0-9]+$$')),
        |e0 AS (SELECT doc_id, regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS seg FROM dw),
        |e1 AS (SELECT doc_id, replace(seg, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2), chr(1)||b.l||b.r||chr(2)) AS seg FROM e0 CROSS JOIN best1 b),
        |e2 AS (SELECT doc_id, replace(seg, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2), chr(1)||b.l||b.r||chr(2)) AS seg FROM e1 CROSS JOIN best2 b),
        |e3 AS (SELECT doc_id, replace(seg, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2), chr(1)||b.l||b.r||chr(2)) AS seg FROM e2 CROSS JOIN best3 b),
        |e4 AS (SELECT doc_id, replace(seg, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2), chr(1)||b.l||b.r||chr(2)) AS seg FROM e3 CROSS JOIN best4 b),
        |e5 AS (SELECT doc_id, replace(seg, chr(1)||b.l||chr(2)||chr(1)||b.r||chr(2), chr(1)||b.l||b.r||chr(2)) AS seg FROM e4 CROSS JOIN best5 b),
        |wt AS (SELECT doc_id, len(string_split(replace(seg, chr(2), ''), chr(1))[2:])::BIGINT AS toks FROM e5),
        |agg AS (SELECT doc_id, count(*)::BIGINT AS n_words, sum(toks)::BIGINT AS n_tokens FROM wt GROUP BY doc_id)""".stripMargin

  /** Trained merges re-derived (same CTEs as bpe_merges), then every
    * document re-encoded — shared by the batch bpe_encode entry and the
    * streaming token_count_stream entry (identical expected output). */
  private lazy val bpeEncodeOracle: String =
    raw"""WITH $bpeDocTokenCtes
        |SELECT d.doc_id, coalesce(n_words, 0::BIGINT) AS n_words, coalesce(n_tokens, 0::BIGINT) AS n_tokens
        |FROM (SELECT doc_id FROM documents) d LEFT JOIN agg USING (doc_id)
        |ORDER BY doc_id""".stripMargin

  /** Per-language fertility over the same per-doc token table. */
  private lazy val bpeFertilityOracle: String =
    raw"""WITH $bpeDocTokenCtes
        |SELECT d.lang,
        |  sum(coalesce(n_words, 0))::BIGINT AS n_words,
        |  sum(coalesce(n_tokens, 0))::BIGINT AS n_tokens,
        |  round(sum(coalesce(n_tokens, 0))::DOUBLE / sum(coalesce(n_words, 0)), 4) AS fertility
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |GROUP BY 1 ORDER BY lang""".stripMargin

  /** The bpe_merges training replay (words -> seg0 -> 5x (pairsN, bestN,
    * segN)) shared by the bpe_merges and bpe_encode oracles — the encode
    * oracle re-derives the SAME merge table before re-encoding, so one
    * drifting CTE breaks both entries loudly. Interpolated under a `raw`
    * interpolator; regex `$` is escaped as `$$` at the use sites. */
  private val bpeTrainCtes: String =
    raw"""words AS (
        |  SELECT token AS w, count(*)::BIGINT AS cnt FROM (
        |    SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS token
        |    FROM documents) t
        |  WHERE regexp_matches(token, '^[a-z0-9]+$$') GROUP BY token),
        |seg0 AS (SELECT regexp_replace(w, '(.)', chr(1) || '\1' || chr(2), 'g') AS seg, cnt
        |  FROM words),
        |pairs1 AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS c
        |  FROM (SELECT string_split(replace(seg, chr(2), ''), chr(1))[2:] AS syms, cnt
        |        FROM seg0), unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |best1 AS (SELECT l, r, c FROM pairs1 ORDER BY c DESC, l, r LIMIT 1),
        |seg1 AS (SELECT replace(s.seg, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
        |    chr(1) || b.l || b.r || chr(2)) AS seg, s.cnt
        |  FROM seg0 s CROSS JOIN best1 b),
        |pairs2 AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS c
        |  FROM (SELECT string_split(replace(seg, chr(2), ''), chr(1))[2:] AS syms, cnt
        |        FROM seg1), unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |best2 AS (SELECT l, r, c FROM pairs2 ORDER BY c DESC, l, r LIMIT 1),
        |seg2 AS (SELECT replace(s.seg, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
        |    chr(1) || b.l || b.r || chr(2)) AS seg, s.cnt
        |  FROM seg1 s CROSS JOIN best2 b),
        |pairs3 AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS c
        |  FROM (SELECT string_split(replace(seg, chr(2), ''), chr(1))[2:] AS syms, cnt
        |        FROM seg2), unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |best3 AS (SELECT l, r, c FROM pairs3 ORDER BY c DESC, l, r LIMIT 1),
        |seg3 AS (SELECT replace(s.seg, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
        |    chr(1) || b.l || b.r || chr(2)) AS seg, s.cnt
        |  FROM seg2 s CROSS JOIN best3 b),
        |pairs4 AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS c
        |  FROM (SELECT string_split(replace(seg, chr(2), ''), chr(1))[2:] AS syms, cnt
        |        FROM seg3), unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |best4 AS (SELECT l, r, c FROM pairs4 ORDER BY c DESC, l, r LIMIT 1),
        |seg4 AS (SELECT replace(s.seg, chr(1) || b.l || chr(2) || chr(1) || b.r || chr(2),
        |    chr(1) || b.l || b.r || chr(2)) AS seg, s.cnt
        |  FROM seg3 s CROSS JOIN best4 b),
        |pairs5 AS (SELECT syms[i] AS l, syms[i+1] AS r, sum(cnt)::BIGINT AS c
        |  FROM (SELECT string_split(replace(seg, chr(2), ''), chr(1))[2:] AS syms, cnt
        |        FROM seg4), unnest(range(1, len(syms))) AS t(i) GROUP BY 1, 2),
        |best5 AS (SELECT l, r, c FROM pairs5 ORDER BY c DESC, l, r LIMIT 1)""".stripMargin

  /** Engine-portable hyperplane-LSH machinery shared by the ann_lsh /
    * embed_neardup / semantic_dedup oracles: replays
    * GraftFunctions.hyperplanes' LCG (state = state*6364136223846793005 +
    * 1442695040888963407 mod 2^64; uniform = (state >>> 11)/2^53 - 0.5;
    * each plane component the LEFT-ASSOCIATIVE sum of 4 consecutive
    * uniforms) in exact 64-bit arithmetic via HUGEINT 32-bit-split
    * multiplication, then rebuilds each table's sign-pattern bucket
    * ((dim << 44) | bits, dot products via list_dot_product so the
    * summation order matches the kernel). All three entries run 16 tables
    * x 4 bits at seed 42 (per-table seed 42 + t*1000), so one prefix
    * serves all. Emits CTEs: `e` (vec_id, emb DOUBLE[]) and `bk`
    * (vec_id, t, bucket). Must run under WITH RECURSIVE. */
  private val lshBucketCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |d AS (SELECT len(emb) AS dim FROM e LIMIT 1),
      |rng(t, n, s) AS (
      |  SELECT t, 0, (42 + t*1000)::HUGEINT FROM range(16) AS tt(t)
      |  UNION ALL
      |  SELECT t, n+1,
      |    ((s % 4294967296) * 6364136223846793005
      |     + ((s // 4294967296) * 6364136223846793005 % 4294967296) * 4294967296
      |     + 1442695040888963407) % 18446744073709551616::HUGEINT
      |  FROM rng WHERE n < 16 * (SELECT dim FROM d)),
      |uni AS (
      |  SELECT t, n - 1 AS n0,
      |    ((s // 2048)::DOUBLE / 9007199254740992.0 - 0.5) AS v
      |  FROM rng WHERE n >= 1),
      |pw AS (
      |  SELECT t,
      |    n0 // (4 * (SELECT dim FROM d)) AS p,
      |    (n0 % (4 * (SELECT dim FROM d))) // 4 AS i,
      |    n0 % 4 AS j, v
      |  FROM uni),
      |comp AS (
      |  SELECT t, p, i,
      |    ((max(CASE WHEN j=0 THEN v END) + max(CASE WHEN j=1 THEN v END))
      |      + max(CASE WHEN j=2 THEN v END)) + max(CASE WHEN j=3 THEN v END) AS w
      |  FROM pw GROUP BY t, p, i),
      |planes AS (
      |  SELECT t, p, list(w ORDER BY i) AS pl FROM comp GROUP BY t, p),
      |bk AS (
      |  SELECT e.vec_id, pla.t,
      |    ((SELECT dim FROM d)::BIGINT << 44)
      |      + sum(CASE WHEN list_dot_product(e.emb, pla.pl) >= 0 THEN 1 << p ELSE 0 END)::BIGINT AS bucket
      |  FROM e, planes pla GROUP BY e.vec_id, pla.t)""".stripMargin

  /** [[lshBucketCtes]] with the SIZE-ADAPTIVE bit width of
    * [[graft.operators.Similarity.adaptiveLshBits]] (floor 4, the
    * embed_neardup/semantic_dedup recall regime): bits =
    * greatest(4, bin_length(N div 128) - 1) computed from the LIVE corpus
    * (emb IS NOT NULL — the null-as-absent contract), the same INTEGER
    * log2 as the Spark side (floor(log2(N/128)) == floor(log2(N div 128))
    * since power-of-two boundaries are exact multiples of 128; the
    * ln-ratio form could land at k−ε there). One oracle text resolves to
    * the historical 4 bits at every correctness SF (N < 4096) and tracks
    * the Spark side on the synthesized decades.
    * The LCG stream per table is IDENTICAL — more planes just consume
    * more consecutive draws, exactly like the kernel. ann_lsh keeps the
    * static 4-bit text (its entry pins bitsPerTable = 4 explicitly).
    *
    * Multi-probe (round 16): `pb` adds, per (vector, table), the 1-bit
    * flips of the `flips = least(3, bits - 4)` LOWEST-MARGIN planes
    * (abs(dot) ASC, plane index tiebreak — the identical doubles the
    * kernel ranks, so the selected planes agree bit-for-bit). flips
    * resolves to 0 at every correctness SF (bits == floor 4 there), where
    * `pb` degenerates to the home buckets and the candidate set is the
    * historical one; at the synthesized decades the probe side recovers
    * the Hamming-1 recall the narrower adaptive banding traded away —
    * replaying [[graft.functions.HyperplaneProbeGenExpr]] exactly.
    *
    * Table growth (round 17): `nt` computes the n^ρ table count of
    * [[graft.operators.Similarity.adaptiveLshTables]] — L = least(256,
    * 16 << ceil(13·Δ/20)) for Δ = bits past the flips knee (7) — with the
    * same integer arithmetic ((13Δ+19)//20). L resolves to the historical
    * 16 at every correctness SF and at sf1 (bits ≤ 7); the rng CTE's LCG
    * stream per table is unchanged (seed 42 + t·1000), more tables just
    * instantiate more independent streams, exactly like the kernel. */
  private val lshBucketCtesAdaptive: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |d AS (SELECT len(emb) AS dim FROM e LIMIT 1),
      |nb AS (SELECT greatest(4, length(bin(greatest(count(*) // 128, 1))) - 1) AS bits FROM e WHERE emb IS NOT NULL),
      |nt AS (SELECT least(256, 16 * (1 << ((13 * greatest(0, (SELECT bits FROM nb) - 7) + 19) // 20))) AS L),
      |rng(t, n, s) AS (
      |  SELECT t, 0, (42 + t*1000)::HUGEINT FROM range(256) AS tt(t) WHERE t < (SELECT L FROM nt)
      |  UNION ALL
      |  SELECT t, n+1,
      |    ((s % 4294967296) * 6364136223846793005
      |     + ((s // 4294967296) * 6364136223846793005 % 4294967296) * 4294967296
      |     + 1442695040888963407) % 18446744073709551616::HUGEINT
      |  FROM rng WHERE n < 4 * (SELECT bits FROM nb) * (SELECT dim FROM d)),
      |uni AS (
      |  SELECT t, n - 1 AS n0,
      |    ((s // 2048)::DOUBLE / 9007199254740992.0 - 0.5) AS v
      |  FROM rng WHERE n >= 1),
      |pw AS (
      |  SELECT t,
      |    n0 // (4 * (SELECT dim FROM d)) AS p,
      |    (n0 % (4 * (SELECT dim FROM d))) // 4 AS i,
      |    n0 % 4 AS j, v
      |  FROM uni),
      |comp AS (
      |  SELECT t, p, i,
      |    ((max(CASE WHEN j=0 THEN v END) + max(CASE WHEN j=1 THEN v END))
      |      + max(CASE WHEN j=2 THEN v END)) + max(CASE WHEN j=3 THEN v END) AS w
      |  FROM pw GROUP BY t, p, i),
      |planes AS (
      |  SELECT t, p, list(w ORDER BY i) AS pl FROM comp GROUP BY t, p),
      |pd AS (
      |  SELECT e.vec_id, pla.t, pla.p, list_dot_product(e.emb, pla.pl) AS dot
      |  FROM e, planes pla),
      |bk AS (
      |  SELECT vec_id, t,
      |    ((SELECT dim FROM d)::BIGINT << 44)
      |      + sum(CASE WHEN dot >= 0 THEN 1 << p ELSE 0 END)::BIGINT AS bucket
      |  FROM pd GROUP BY vec_id, t),
      |nf AS (SELECT least(3, greatest(0, (SELECT bits FROM nb) - 4)) AS flips),
      |fr AS (
      |  SELECT vec_id, t, p,
      |    row_number() OVER (PARTITION BY vec_id, t ORDER BY abs(dot), p) AS rn
      |  FROM pd),
      |pb AS (
      |  SELECT vec_id, t, bucket FROM bk
      |  UNION ALL
      |  SELECT f.vec_id, f.t, xor(b.bucket, 1::BIGINT << f.p) AS bucket
      |  FROM fr f JOIN bk b ON b.vec_id = f.vec_id AND b.t = f.t
      |  WHERE f.rn <= (SELECT flips FROM nf))""".stripMargin

  /** Brute-force all-pairs 5-NN graph — the knn_graph entry's exhaustive
    * IVF search (nprobe = numCentroids) must reproduce it exactly, the
    * annExactOracle equivalence extended corpus-wide. */
  private val knnGraphOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |s AS (SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
      |  round(list_dot_product(b.emb, a.emb)
      |    / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(a.emb, a.emb))), 4) AS sim
      | FROM e a, e b WHERE a.vec_id <> b.vec_id),
      |r AS (SELECT src_id, neighbor_id, sim,
      |  row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
      |SELECT src_id, neighbor_id, sim FROM r WHERE rn <= 5
      |ORDER BY src_id, sim DESC, neighbor_id""".stripMargin

  /** Per-char counts -> H = ln(n) - (Σ c·ln(c))/n; the float sum is
    * accumulated in ascending codepoint order on BOTH engines (ORDER BY ch
    * here, array-slot/sorted-map order in the CharEntropy kernel) so the
    * 4-dp rounding sees the same double. Shared by `text_entropy` and its
    * streaming twin `entropy_stream`. */
  private val entropyOracle: String =
    """WITH c AS (
      | SELECT doc_id, unnest(string_split(text, '')) AS ch
      | FROM documents WHERE length(text) > 0),
      |cc AS (SELECT doc_id, ch, count(*)::BIGINT AS c FROM c GROUP BY 1, 2),
      |s AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nd,
      |       sum(c::DOUBLE * ln(c::DOUBLE) ORDER BY ch) AS clogc
      |      FROM cc GROUP BY 1)
      |SELECT d.doc_id,
      | coalesce(n, 0)::BIGINT AS n_chars,
      | coalesce(nd, 0)::BIGINT AS distinct_chars,
      | CASE WHEN n IS NULL THEN NULL
      |      ELSE round(ln(n::DOUBLE) - clogc / n, 4) END AS char_entropy
      |FROM documents d LEFT JOIN s ON s.doc_id = d.doc_id
      |ORDER BY d.doc_id""".stripMargin

  /** The knn_graph brute-force CTEs + 10 chained fixed-point PageRank
    * iterations. All-integer arithmetic (rank div deg contributions,
    * 150000 + 85·Σ div 100 updates) makes every intermediate bit-exact —
    * no float sum ever forms, so no rounding contract is needed. DuckDB's
    * sum(BIGINT) widens to HUGEINT; each iteration casts back. */
  private val pageRankOracle: String = {
    val graph =
      """e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |s AS (SELECT a.vec_id AS src_id, b.vec_id AS neighbor_id,
        |  round(list_dot_product(b.emb, a.emb)
        |    / (sqrt(list_dot_product(b.emb, b.emb)) * sqrt(list_dot_product(a.emb, a.emb))), 4) AS sim
        | FROM e a, e b WHERE a.vec_id <> b.vec_id),
        |rk AS (SELECT src_id, neighbor_id,
        |  row_number() OVER (PARTITION BY src_id ORDER BY sim DESC, neighbor_id) AS rn FROM s),
        |g AS (SELECT src_id AS src, neighbor_id AS dst FROM rk WHERE rn <= 5),
        |deg AS (SELECT src, count(*) AS deg FROM g GROUP BY 1),
        |nodes AS (SELECT DISTINCT id FROM
        |  (SELECT src AS id FROM g UNION ALL SELECT dst FROM g)),
        |r0 AS (SELECT id, 1000000::BIGINT AS pr FROM nodes)""".stripMargin
    val iters = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT n.id, (150000 + (85 * coalesce(c.s, 0)) // 100)::BIGINT AS pr
         |  FROM nodes n LEFT JOIN (
         |    SELECT g.dst AS id, sum(r${i - 1}.pr // deg.deg) AS s
         |    FROM g JOIN deg USING (src) JOIN r${i - 1} ON r${i - 1}.id = g.src
         |    GROUP BY 1) c ON c.id = n.id)""".stripMargin
    }.mkString(",\n")
    s"WITH $graph,\n$iters\nSELECT id AS vec_id, pr AS rank_ppm FROM r10 ORDER BY vec_id"
  }

  /** Top-5-bigram blocklist re-derived under the engine-portable total
    * order, padded token-boundary containment — behind both
    * `blocklist_filter` and `blocklist_stream`. */
  private val blocklistOracle: String =
    raw"""WITH d AS (
      | SELECT regexp_split_to_array(lower(trim(text)), '\s+') AS t
      | FROM documents),
      |dd AS (SELECT t FROM d WHERE len(t) >= 2),
      |bg AS (SELECT t[u.i] AS w1, t[u.i+1] AS w2
      | FROM dd, unnest(range(1, len(t))) AS u(i)),
      |f AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
      |bl AS (SELECT w1 || ' ' || w2 AS phrase FROM f
      |       ORDER BY c12 DESC, w1, w2 LIMIT 5),
      |n AS (SELECT doc_id,
      |  ' ' || regexp_replace(lower(trim(text)), '\s+', ' ', 'g') || ' ' AS pad
      | FROM documents)
      |SELECT doc_id, count(*) AS n_hits
      |FROM n, bl WHERE contains(pad, ' ' || phrase || ' ')
      |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** Exact shared-gram counts over the %97 corpus/benchmark split — the one
    * definition behind both `decontaminate` and `decontaminate_bloom`. */
  private val decontaminateOracle: String =
    raw"""WITH norm AS (
      | SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS t
      | FROM documents),
      |grams AS (
      | SELECT doc_id, substring(t, i, 8) AS g
      | FROM norm, unnest(generate_series(1, length(t) - 7)) AS u(i)),
      |bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
      |hits AS (SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 97 <> 0)
      |SELECT h.doc_id, count(*) AS shared_grams
      |FROM hits h JOIN bench b USING (g)
      |GROUP BY h.doc_id ORDER BY h.doc_id""".stripMargin

  /** The full TRAINED-PQ pipeline replayed (see the Scaladoc above the
    * queries entry): shared verbatim by `ann_pq` (inline training) and
    * `ann_pq_indexed` (training + encoding replayed from the persisted
    * sidecar — byte-identical codebooks by the fixed-point argument).
    * Probes are the 5 smallest LIVE vec_ids (band-safe, round-18 advice)
    * — a total order both engines compute identically on any corpus
    * slice, where the old `vec_id < 5` was vacuous on sampled bands. */
  private lazy val annPqOracle: String =
    s"""WITH $pqCodeCtes,
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
        |  WHERE emb IS NOT NULL ORDER BY vec_id LIMIT 5),
        |ln AS (SELECT greatest(20, CAST(ceil(sqrt(count(*)::DOUBLE)) AS BIGINT)) AS l
        |  FROM e WHERE emb IS NOT NULL),
        |${pqAdcSearchSql("CROSS JOIN q")}""".stripMargin

  /** The IVFPQ composition replayed (round-20 verdict #1): the SAME
    * trained-PQ code table, now searched CELL-PRUNED — coarse quantizer =
    * the adaptive knuth-hash centroid selection of `knn_graph_probe`
    * (ivfHomeCtesAdaptive's formulas verbatim, renamed to dodge the PQ
    * CTE names), each probe scoring only the codes whose HOME cell is
    * among its √-law nprobe probe cells, then the shared ADC tail. Every
    * stage is a total order, so the doubly-approximate result is still
    * hash-exact. */
  private lazy val annIvfPqOracle: String =
    s"""WITH $pqCodeCtes,
        |q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e
        |  WHERE emb IS NOT NULL ORDER BY vec_id LIMIT 5),
        |ln AS (SELECT greatest(20, CAST(ceil(sqrt(count(*)::DOUBLE)) AS BIGINT)) AS l
        |  FROM e WHERE emb IS NOT NULL),
        |ivfk AS (SELECT greatest(16, CAST(ceil(count(*)::DOUBLE / 125.0) AS BIGINT)) AS k
        |  FROM e WHERE emb IS NOT NULL),
        |ivfnp AS (SELECT CASE WHEN k <= 16 THEN 6
        |  WHEN k <= 160 THEN least(k, CAST(ceil(sqrt(36.0 * k / 10.0)) AS BIGINT))
        |  ELSE least(k, CAST(ceil(sqrt(36.0 * k / 10.0) * sqrt(sqrt(k / 160.0))) AS BIGINT)) END AS np
        |  FROM ivfk),
        |ivfc AS (
        |  SELECT cid, cemb FROM (
        |    SELECT row_number() OVER (
        |        ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) - 1 AS cid,
        |      emb AS cemb
        |    FROM e)
        |  WHERE cid < (SELECT k FROM ivfk)),
        |ivfcn AS (SELECT cid, cemb, 1.0 / sqrt(list_dot_product(cemb, cemb)) AS inv FROM ivfc),
        |va AS (SELECT e.vec_id, ivfcn.cid,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_dot_product(e.emb, ivfcn.cemb) * ivfcn.inv DESC, ivfcn.cid) AS rn
        |  FROM e, ivfcn),
        |home AS (SELECT vec_id, cid FROM va WHERE rn = 1),
        |pa AS (SELECT q.query_id, ivfcn.cid,
        |    row_number() OVER (PARTITION BY q.query_id
        |      ORDER BY list_dot_product(q.q_emb, ivfcn.cemb) * ivfcn.inv DESC, ivfcn.cid) AS rn
        |  FROM q, ivfcn),
        |probe AS (SELECT query_id, cid FROM pa WHERE rn <= (SELECT np FROM ivfnp)),
        |${pqAdcSearchSql(
           """JOIN home h ON h.vec_id = code.vec_id
             |  JOIN probe p ON p.cid = h.cid
             |  JOIN q ON q.query_id = p.query_id""".stripMargin)}""".stripMargin

  /** PQ training + encode replay — the CTE prefix shared by annPqOracle
    * and annIvfPqOracle: donor selection in knuth-hash order, ONE
    * fixed-point Lloyd pass, per-subspace dot × invNorm assignment into
    * `code`, plus `csq` (per-codeword squared norms, the probe-independent
    * half of the ADC lookup tables). */
  private lazy val pqCodeCtes: String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        |d AS (SELECT len(emb) AS dim FROM e LIMIT 1),
        |pq AS (SELECT CASE WHEN count(*) >= 256 THEN 16 ELSE 4 END AS m,
        |    CASE WHEN count(*) >= 256 THEN 256 ELSE 16 END AS kc
        |  FROM e WHERE emb IS NOT NULL),
        |sd AS (SELECT (SELECT dim FROM d) // (SELECT m FROM pq) AS s),
        |cent AS (
        |  SELECT cid, cemb FROM (
        |    SELECT row_number() OVER (
        |        ORDER BY (vec_id::HUGEINT * 2654435761) % 4294967296, vec_id) - 1 AS cid,
        |      emb AS cemb
        |    FROM e)
        |  WHERE cid < (SELECT kc FROM pq)),
        |ms AS (SELECT unnest(range((SELECT m FROM pq))) AS m),
        |sub AS (SELECT e.vec_id, ms.m,
        |    e.emb[ms.m*(SELECT s FROM sd)+1 : ms.m*(SELECT s FROM sd)+(SELECT s FROM sd)] AS x
        |  FROM e, ms),
        |cb AS (SELECT cent.cid, ms.m,
        |    cent.cemb[ms.m*(SELECT s FROM sd)+1 : ms.m*(SELECT s FROM sd)+(SELECT s FROM sd)] AS c
        |  FROM cent, ms),
        |cb0n AS (SELECT cid, m, c, 1.0 / sqrt(list_dot_product(c, c)) AS inv FROM cb),
        |asg0 AS (SELECT s.vec_id, s.m, cb0n.cid,
        |    row_number() OVER (PARTITION BY s.vec_id, s.m
        |      ORDER BY list_dot_product(s.x, cb0n.c) * cb0n.inv DESC, cb0n.cid) AS rn
        |  FROM sub s JOIN cb0n ON s.m = cb0n.m),
        |code0 AS (SELECT vec_id, m, cid FROM asg0 WHERE rn = 1),
        |dims AS (SELECT unnest(range(1, (SELECT s FROM sd) + 1)) AS j),
        |upd AS (SELECT c0.m, c0.cid, u.j, count(*) AS n,
        |    sum(CAST(floor(s.x[u.j] * 1048576.0 + 0.5) AS BIGINT)) AS fx
        |  FROM code0 c0, sub s, dims u
        |  WHERE s.vec_id = c0.vec_id AND s.m = c0.m
        |  GROUP BY c0.m, c0.cid, u.j),
        |cb1 AS (SELECT cb.m, cb.cid,
        |    list(CASE WHEN upd.n IS NULL THEN cb.c[u.j]
        |      ELSE floor(CAST(upd.fx AS DOUBLE) / upd.n + 0.5) / 1048576.0 END
        |      ORDER BY u.j) AS c
        |  FROM cb CROSS JOIN dims u
        |  LEFT JOIN upd ON upd.m = cb.m AND upd.cid = cb.cid AND upd.j = u.j
        |  GROUP BY cb.m, cb.cid),
        |cbn AS (SELECT cid, m, c, 1.0 / sqrt(list_dot_product(c, c)) AS inv FROM cb1),
        |asg AS (SELECT s.vec_id, s.m, cbn.cid,
        |    row_number() OVER (PARTITION BY s.vec_id, s.m
        |      ORDER BY list_dot_product(s.x, cbn.c) * cbn.inv DESC, cbn.cid) AS rn
        |  FROM sub s JOIN cbn ON s.m = cbn.m),
        |code AS (SELECT vec_id, m, cid FROM asg WHERE rn = 1),
        |csq AS (SELECT m, cid, list_dot_product(c, c) AS sq FROM cbn)""".stripMargin

  /** The ADC lookup-table scoring + √N shortlist + exact rerank replay
    * (round-20 verdict #2, shared by every PQ oracle): per (query, vector)
    * the reconstructed dot is the SUBSPACE-ORDERED left fold of per-
    * subspace partial dots — `list_reduce(list(... ORDER BY code.m))`
    * mirrors the Spark side's driver-LUT `reduceLeft` association
    * EXACTLY, so cross-engine agreement on the lossy shortlist is
    * deterministic, not FP luck. The reconstructed norm folds the
    * per-codeword squared norms (`csq`) the same way. `extraJoins`
    * supplies the probe attachment: a plain CROSS JOIN for the flat scan,
    * the home/probe cell restriction for the IVFPQ oracle. */
  private def pqAdcSearchSql(extraJoins: String): String =
    s"""pd AS (SELECT q.query_id, code.vec_id,
        |    list_reduce(list(list_dot_product(cbn.c,
        |        q.q_emb[code.m*(SELECT s FROM sd)+1 : code.m*(SELECT s FROM sd)+(SELECT s FROM sd)])
        |      ORDER BY code.m), (a, b) -> a + b) AS rdot,
        |    list_reduce(list(csq.sq ORDER BY code.m), (a, b) -> a + b) AS rsq
        |  FROM code
        |  JOIN cbn ON cbn.m = code.m AND cbn.cid = code.cid
        |  JOIN csq ON csq.m = code.m AND csq.cid = code.cid
        |  $extraJoins
        |  WHERE code.vec_id <> q.query_id
        |  GROUP BY q.query_id, code.vec_id),
        |qn AS (SELECT query_id, sqrt(list_dot_product(q_emb, q_emb)) AS nq FROM q),
        |ps AS (SELECT pd.query_id, pd.vec_id AS neighbor_id,
        |    round(pd.rdot / (sqrt(pd.rsq) * qn.nq), 4) AS psim
        |  FROM pd JOIN qn USING (query_id)),
        |sl AS (SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |      row_number() OVER (PARTITION BY query_id ORDER BY psim DESC, neighbor_id) AS rn
        |    FROM ps) WHERE rn <= (SELECT l FROM ln)),
        |s AS (SELECT sl.query_id, sl.neighbor_id,
        |    round(list_dot_product(c.emb, q.q_emb)
        |      / (sqrt(list_dot_product(c.emb, c.emb)) * sqrt(list_dot_product(q.q_emb, q.q_emb))), 4) AS sim
        |  FROM sl JOIN e c ON c.vec_id = sl.neighbor_id
        |  JOIN q ON q.query_id = sl.query_id),
        |rk AS (SELECT query_id, neighbor_id, sim,
        |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
        |SELECT query_id, neighbor_id, sim FROM rk WHERE rn <= 10
        |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin

  private val annExactOracle: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      |p AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < 5),
      |s AS (SELECT p.query_id, e.vec_id AS neighbor_id,
      |  round(list_dot_product(e.emb, p.q_emb)
      |    / (sqrt(list_dot_product(e.emb, e.emb)) * sqrt(list_dot_product(p.q_emb, p.q_emb))), 4) AS sim
      | FROM e, p WHERE e.vec_id <> p.query_id),
      |r AS (SELECT query_id, neighbor_id, sim,
      |  row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rn FROM s)
      |SELECT query_id, neighbor_id, sim FROM r WHERE rn <= 10
      |ORDER BY query_id, sim DESC, neighbor_id""".stripMargin
}
