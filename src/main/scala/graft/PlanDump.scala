package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Writes physical plans of [[SparkEntry]] queries, for
  * scan/pushdown/broadcast auditing without running the engine:
  *  - `PlanDump [sfDir]` writes PLANS.md, the plan of each headline query;
  *  - `PlanDump <sfDir> <outDir> <tag> <query>[,<query>...]` writes each
  *    named query's `explain("formatted")` to `<outDir>/<query>_<tag>.txt`,
  *    the before/after plan evidence of a change. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    // plan dump wants the operator plans, not the eager recall-assertion jobs
    sys.props("graft.bench") = "1"
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (args.length >= 4) {
      val (outDir, tag) = (args(1), args(2))
      Files.createDirectories(Paths.get(outDir))
      args(3).split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), render(plan))
        println(s"wrote $outDir/${name}_$tag.txt")
      }
    } else plansMd(spark, dir)
    spark.stop()
  }

  /** `plan` cut to `cap` chars after each line's giant in-line literal
    * (codebooks, LUTs) is elided, so a 100 KB literal cannot swallow the
    * budget ahead of a FileScan: every node keeps its head and tail. Raw
    * control bytes (e.g. the U+0001 field delimiter inside split()
    * literals), which corrupt diffs and renderers, are escaped. */
  def render(plan: String, cap: Int = Int.MaxValue): String =
    plan.linesIterator.map { l =>
      if (l.length <= 1200) l
      else l.take(600) + s" …<${l.length - 900} literal chars elided>… " + l.takeRight(300)
    }.mkString("\n").take(cap).map {
      case c if c < ' ' && c != '\n' && c != '\t' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString

  private def plansMd(spark: SparkSession, dir: String): Unit = {
    val headline = Seq(
      "q1_pricing_summary", "q3_top_revenue", "q4_region_revenue", "q7_anti_join",
      "q11_semi_join", "q14_scalar_subquery", "dedup_exact", "dedup_minhash",
      "dedup_simhash", "ngram_jaccard", "ngram_jaccard_inverted", "ann_topk",
      "ann_lsh", "ann_ivf", "embed_neardup", "skew_join_salted", "bucketed_join",
      "multimodal_frames", "text_stats", "mq_roundtrip_events",
      "corpus_sample", "vocab_topk", "decontaminate",
      "text_repetition", "quality_filter", "pack_sequences", "semantic_dedup",
      "domain_mix", "gram_coverage", "text_logprob",
      "semantic_dedup_exact", "corpus_assemble",
      "dedup_incremental", "chunk_documents", "corpus_shuffle", "ann_ivf_indexed",
      "segment_dedup", "domain_resample", "corpus_split", "quantize_embeddings",
      "split_leakage", "ann_quantized", "text_bigram_logprob", "corpus_stats",
      "ann_ivf_refined", "text_lsh_clusters", "pii_redact",
      "winnow_fingerprint", "duplicate_passages", "text_normalize",
      "tfidf_topterms", "dedup_exact_nfc", "knn_graph", "knn_graph_probe",
      "bm25_search", "image_phash_dedup", "collocations_pmi", "dedup_bloom",
      "deser_dirty", "ann_ivf_probe", "bpe_encode", "q21_pivot",
      "q22_json_props", "q23_ntile", "cluster_sample", "q24_funnel",
      "q25_retention", "ann_pq", "q26_hopping", "q27_zscore",
      "q28_intersect", "q29_moving_avg", "q30_grouping_sets",
      "sample_bottomk", "kmv_distinct",
      "snapshot_diff", "hybrid_search", "fuzzy_term_join", "ngram_containment",
      "decontaminate_bloom", "blocklist_filter", "spell_correct",
      "text_entropy", "dedup_minhash_best", "heavy_hitters", "graph_pagerank",
      "embedding_outliers", "hard_negatives", "langid_confusion",
      "length_histogram", "quality_sample", "budget_select",
      "ann_ivf_appended", "q31_reachability", "dsir_select",
      "hard_negatives_probe", "ann_pq_indexed", "ann_ivfpq_indexed")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (sf0.01, round 20)\n\n")
    sb.append("Round-20 note — the PQ family now scores in the COMPRESSED\n")
    sb.append("domain (ADC lookup tables): `ann_pq`/`ann_pq_indexed` plans\n")
    sb.append("must show the code scan feeding literal LUT lookups (no\n")
    sb.append("reconstruction flatten, no per-pair vector arithmetic) into the\n")
    sb.append("WindowGroupLimit'd shortlist, with the exact rerank reading the\n")
    sb.append("full vectors once via broadcast joins. `ann_ivfpq_indexed` (new)\n")
    sb.append("composes both halves: its code scan must carry PartitionFilters\n")
    sb.append("pruning the unprobed cells of the cell-partitioned code index\n")
    sb.append("(the ann_ivf_indexed property over COMPRESSED codes), then the\n")
    sb.append("same LUT/shortlist/rerank tail. Dump hygiene, also round 20:\n")
    sb.append("giant in-line literals (codebooks, LUTs) are elided PER LINE\n")
    sb.append("before the per-plan cap, so every FileScan in every dump stays\n")
    sb.append("auditable — a literal can no longer swallow the budget (the\n")
    sb.append("round-19 ann_pq_indexed truncation).\n\n")
    sb.append("Round-19 note — what changed since the round-14 dump and what to\n")
    sb.append("audit for it: `ann_pq` gained the fixed-point Lloyd TRAINING pass\n")
    sb.append("(round 18) — one extra narrow scan whose groupBy carries only\n")
    sb.append("m*K*(sub+1) integer partial sums (the quantizer, not data) ahead\n")
    sb.append("of the unchanged encode/reconstruct/rerank shape; `ann_pq_indexed`\n")
    sb.append("(round 19) must show the codes read from the persisted index —\n")
    sb.append("a plain parquet scan of (vec_id, codes) into literal codebook\n")
    sb.append("lookups, NO training scan and no assignment ranking at query\n")
    sb.append("time; `hard_negatives_probe` (round 18) must show the broadcast\n")
    sb.append("probe assignment joined against corpus cells (the knn_graph_probe\n")
    sb.append("shape) plus the label anti-filter; `semantic_dedup`'s blocked\n")
    sb.append("verify path (engaged only above the kernel row ceiling, so not\n")
    sb.append("at this dump's SF) now distinct()s the candidate multiset ahead\n")
    sb.append("of the grid cogroup — a spillable hash exchange replacing a\n")
    sb.append("10-100x inflated sort (round-18 memory-lane find).\n\n")
    sb.append("Round-13 note — size-adaptive driver fast paths: several\n")
    sb.append("iterative operators now select their plan by measured input\n")
    sb.append("size, exactly as a broadcast join does. Below a 1M-edge ceiling\n")
    sb.append("`nearDupClusters` (semantic_dedup, text_lsh_clusters,\n")
    sb.append("dedup_minhash_keep/best) labels components by driver union-find\n")
    sb.append("and `pageRank` replays its all-integer recurrence on the driver,\n")
    sb.append("so at THIS dump's SF their plans end in a LocalTableScan — that\n")
    sb.append("is the intended adaptive shape, not a lost distributed plan.\n")
    sb.append("The distributed loops are unchanged, forced in the suites via\n")
    sb.append("smallGraphEdges=0 (DedupSpec/PageRankSpec pin bit-equality of\n")
    sb.append("both paths), and their shapes are as audited in round 11:\n")
    sb.append("edge-bounded shuffle-hash joins, never a rank/label broadcast.\n")
    sb.append("Also round 13: `dedup_incremental`'s candidate staging computes\n")
    sb.append("batch signatures AND shingle sets in ONE checkpointed scan\n")
    sb.append("(no re-signing, no batch semi-joins), with a broadcastBatch\n")
    sb.append("micro-batch variant whose history side is strictly map-side;\n")
    sb.append("`ngram_jaccard` broadcasts its signature/shingle attaches below\n")
    sb.append("~16k docs so the collision-sized pair set never shuffles wide\n")
    sb.append("payloads; `bm25_search`/`tfidf_topterms` checkpoint tf so the\n")
    sb.append("corpus tokenize+shuffle runs once. `dsir_select` attaches the\n")
    sb.append("bucket log-ratio table as a broadcast local relation onto the\n")
    sb.append("per-doc feature aggregate (bucket tables are ≤16^3 rows,\n")
    sb.append("collected once — round 21), and since round 21 its final rank\n")
    sb.append("window is PARTITIONED by weight bucket (the two-phase exact\n")
    sb.append("top-fraction; no unpartitioned corpus-sized window remains in\n")
    sb.append("any plan — q24_funnel's 3-row stage frame is the one bounded\n")
    sb.append("exception).\n\n")
    sb.append("Audit points: `PushedFilters`/`ReadSchema` on scans (pushdown +\n")
    sb.append("pruning), `BroadcastHashJoin` for dim/probe sides, no\n")
    sb.append("`CartesianProduct` anywhere. Two queries intentionally use\n")
    sb.append("`BroadcastNestedLoopJoin` with a tiny broadcast build side:\n")
    sb.append("q14 (single-row scalar-subquery aggregate, non-equi predicate)\n")
    sb.append("and ann_topk (brute-force baseline: probe set broadcast so the\n")
    sb.append("corpus streams once with no shuffle). Every LSH operator joins\n")
    sb.append("on bucket equality — hash joins only. Round-6 additions:\n")
    sb.append("`bucketed_join` must show a SortMergeJoin with ZERO Exchange\n")
    sb.append("(both sides pre-bucketed); `multimodal_frames` must be all-narrow\n")
    sb.append("(no Exchange at all); `ngram_jaccard_inverted` joins df-capped\n")
    sb.append("postings on shingle hash; `dedup_simhash` self-joins 32-bit band\n")
    sb.append("keys of the 128-bit char-gram SimHash. `text_repetition` must be\n")
    sb.append("scan-stage (fold kernel, no explode/groupBy exchange);\n")
    sb.append("`quality_filter` re-attaches the histogram verdict via a\n")
    sb.append("BroadcastHashJoin semi-join; `pack_sequences` windows only inside\n")
    sb.append("bounded (source, shard) partitions with broadcast base offsets.\n")
    sb.append("Round-7 additions: `dedup_incremental` joins batch bands against\n")
    sb.append("history bands (hash join, history never self-joined);\n")
    sb.append("`chunk_documents` and `corpus_shuffle` must show no Exchange\n")
    sb.append("beyond corpus_shuffle's one bounded-shard aggregation;\n")
    sb.append("`ann_ivf_indexed` must show PartitionFilters pruning the\n")
    sb.append("unprobed cells of the persisted index (dynamic IN filter on\n")
    sb.append("the cell partition column). Late round-7 additions:\n")
    sb.append("`segment_dedup`'s join back must be a shuffle-hash join (the\n")
    sb.append("repeated-segment set derives from an aggregate, never a gambled\n")
    sb.append("broadcast); `domain_resample`/`corpus_split`/`quantize_embeddings`\n")
    sb.append("must be scan-stage beyond one tiny-table agg (rates/stats enter\n")
    sb.append("as broadcasts or literal arrays); `split_leakage` reuses the\n")
    sb.append("crossNearDups band join with its shuffle-hash pin; `ann_quantized`\n")
    sb.append("is the broadcast-probe BroadcastNestedLoopJoin baseline shape\n")
    sb.append("over dequantized vectors. Round-9 additions: `ann_ivf_refined`\n")
    sb.append("must keep the fused one-node IvfAssign + broadcast-probe cell\n")
    sb.append("equi-join shape with REFINED centroids (Lloyd passes run before\n")
    sb.append("planning, driver-side K×dim only); `text_lsh_clusters` adds one\n")
    sb.append("cluster-keyed aggregation over the converged label table;\n")
    sb.append("`bucketed_join` now PERSISTS its bucketed sides per JVM+dir, so\n")
    sb.append("the plan here is the steady-state zero-Exchange join, not the\n")
    sb.append("rebuild; `pii_redact` and `winnow_fingerprint` must be pure\n")
    sb.append("scan-stage (regexp / higher-order array kernels, no Exchange\n")
    sb.append("below the final orderBy). Late round-9 additions:\n")
    sb.append("`duplicate_passages` must show an OUTER Generate (a plain explode\n")
    sb.append("lets InferFiltersFromGenerate inline the winnow tree into a\n")
    sb.append("quadratic pre-scan filter) and a shuffle-hash join of the\n")
    sb.append("df-capped shared-fingerprint set back to the fingerprint stream;\n")
    sb.append("`text_normalize` must be pure scan-stage (the NfcNormalizeExpr\n")
    sb.append("kernel, no Exchange below the orderBy); `tfidf_topterms` must\n")
    sb.append("re-aggregate df from the tf table (one corpus explode only) and\n")
    sb.append("rank inside per-doc window partitions, df joined shuffle-hash;\n")
    sb.append("`dedup_exact_nfc` is one hash aggregate over the scan-stage\n")
    sb.append("NfcNormalizeExpr key (the dedup_exact shape, normalized).\n")
    sb.append("`knn_graph`/`knn_graph_probe` must join cells SHUFFLE-HASH —\n")
    sb.append("the probe side is the corpus itself, so the ivfTopK broadcast\n")
    sb.append("shape would broadcast the whole corpus; per-vector top-k runs\n")
    sb.append("inside src_id window partitions (WindowGroupLimit partial+final).\n")
    sb.append("Centroid count is size-adaptive (constant ~125-row cells), so\n")
    sb.append("the pruned probe reads nprobe*cellSize rows per vector — linear;\n")
    sb.append("over-ceiling/forced EXHAUSTIVE runs knnBlockedDistributed (grid\n")
    sb.append("of packed flat blocks, never an N-squared wide cell join).\n")
    sb.append("`bm25_search` must show ONE corpus explode feeding tf, the\n")
    sb.append("query-term attach as a BroadcastHashJoin (config-sized build)\n")
    sb.append("and the corpus-doc-sized dl attach as a ShuffledHashJoin.\n")
    sb.append("`image_phash_dedup` must show the narrow codec stage feeding a\n")
    sb.append("band-keyed ShuffledHashJoin self-join (no nested loop — the\n")
    sb.append("brute-force formulation lives only in the DuckDB oracle).\n")
    sb.append("`dedup_bloom` must show the batch split into two SCAN-STAGE\n")
    sb.append("filters over one bloom literal (might_contain of the broadcast\n")
    sb.append("history sketch — the bloom itself is built by a separate\n")
    sb.append("one-pass aggregate job, only its bytes reach the driver) with\n")
    sb.append("ONLY the bloom-positive slice reaching the shuffle-hash LEFT\n")
    sb.append("ANTI join against history keys; the definitely-new slice must\n")
    sb.append("union in with no join or Exchange on its path.\n")
    sb.append("`bpe_merges` is NOT dumped: its result is a driver-built merge\n")
    sb.append("table (the audit-worthy plans are the per-iteration argmax\n")
    sb.append("jobs — vocab-bounded pair aggregates with map-side partials\n")
    sb.append("over the once-checkpointed word table, asserted in\n")
    sb.append("CorpusPipelineSpec, not recoverable from the output lineage).\n")
    sb.append("Merge-loop cost, measured (sf0.01, local[4] shared test\n")
    sb.append("session, warm): nMerges=5 -> 1.78s, 25 -> 6.81s, 50 -> 9.65s —\n")
    sb.append("linear at ~0.19-0.36s/merge (per-merge cost FALLS with n as\n")
    sb.append("JIT+scheduling amortize; the aggregate itself is vocab-bounded,\n")
    sb.append("not corpus-bounded, so the per-merge floor is Spark job\n")
    sb.append("scheduling). A real 32k-merge vocabulary at ~0.2s/merge is\n")
    sb.append("~1.8h of sequential driver-loop jobs — inherent to distributed\n")
    sb.append("BPE (each merge depends on the last); at that scale batch the\n")
    sb.append("word table smaller (it shrinks as merges apply) or train on a\n")
    sb.append("frequency-capped word sample, both of which this API admits.\n")
    sb.append("Round-10 additions: `deser_dirty` parses corrupted bodies read\n")
    sb.append("back through the graft-mq batch scan — the parse is a narrow\n")
    sb.append("object flatMap over the scan (no Exchange below the orderBy);\n")
    sb.append("`ann_ivf_probe` is the pruned ivfTopK broadcast-probe shape\n")
    sb.append("(knuth-hash quantizer; now oracle-exact, see SparkEntry).\n")
    sb.append("`q21_pivot` must compile to ONE hash aggregate (CASE-filtered\n")
    sb.append("partials — pivot with a literal value list adds no extra pass\n")
    sb.append("or distinct job over a plain groupBy); `q22_json_props` must\n")
    sb.append("evaluate get_json_object in the SCAN stage (project under the\n")
    sb.append("partial aggregate, before the one tiny exchange);\n")
    sb.append("`q23_ntile` is the exact rank-based form: one range exchange\n")
    sb.append("per priority for the window sort, then the bucket census —\n")
    sb.append("its 100 TB path (percentile_approx range-bucketing, no\n")
    sb.append("per-key global sort) is documented on the operator.\n")
    sb.append("`cluster_sample` must show the fused IvfAssign expression in\n")
    sb.append("the SCAN stage and a WindowGroupLimit partial prune BELOW the\n")
    sb.append("cell exchange — the shuffle carries at most K*B rows per input\n")
    sb.append("partition, never the corpus.\n")
    sb.append("`q24_funnel` must chain stage minima over user_id-keyed\n")
    sb.append("aggregates and joins (no 3-way event self-join, no pair\n")
    sb.append("explosion on hot users); its one unpartitioned window runs\n")
    sb.append("over the THREE-row stage census, not the data.\n")
    sb.append("`q25_retention` is two user_id-rooted aggregates with map-side\n")
    sb.append("partials plus one equi-join — the countDistinct expands to a\n")
    sb.append("two-phase exact-distinct aggregate, the scale-right form.\n")
    sb.append("`ann_pq` must encode entirely in the SCAN stage (per-subspace\n")
    sb.append("slice -> fused IvfAssign, no join or exchange to attach codes)\n")
    sb.append("and score in the COMPRESSED domain (round 20): literal ADC\n")
    sb.append("lookup tables indexed by the codes — no reconstruction flatten,\n")
    sb.append("no per-pair vector arithmetic — feeding a WindowGroupLimit'd\n")
    sb.append("shortlist and a broadcast-join exact rerank of the full vectors.\n")
    sb.append("`q26_hopping` generates each event's two covering windows in\n")
    sb.append("the scan-stage project (no standalone exploded table) and\n")
    sb.append("shuffles only on window start; `q27_zscore` re-attaches the\n")
    sb.append("5-row moment table as a BroadcastHashJoin onto the scan.\n")
    sb.append("Round-11 additions: `snapshot_diff` full-outer-joins only\n")
    sb.append("(doc_id, md5) — the text column must be consumed at its scan\n")
    sb.append("(md5 below the exchange, join cost = id cardinality);\n")
    sb.append("`hybrid_search`'s fusion join touches O(queries x poolK) rows\n")
    sb.append("(each modality pool keeps its own scale shape: corpus explode +\n")
    sb.append("broadcast query terms, broadcast probes over one scan);\n")
    sb.append("`fuzzy_term_join` equi-joins deletion variants (vocab-bounded,\n")
    sb.append("shuffle-hash pinned — never vocab^2, never a gambled broadcast\n")
    sb.append("of an explode-amplified side); `ngram_containment` is the\n")
    sb.append("df-capped inverted-index shape of ngram_jaccard_inverted with\n")
    sb.append("directed membership — pair fan-out bounded at maxDf^2 per gram.\n")
    sb.append("`decontaminate_bloom` must show the might_contain Filter with\n")
    sb.append("NO Exchange between it and its corpus scan (bloom-negative\n")
    sb.append("grams never shuffle); `blocklist_filter` must be pure\n")
    sb.append("scan-stage (no Exchange, no Join — the blocklist is a literal\n")
    sb.append("array in a higher-order filter); `spell_correct` is one\n")
    sb.append("posexplode + one token-keyed shuffle-hash join + one doc-keyed\n")
    sb.append("reassembly aggregate.\n")
    sb.append("Late round-11 additions: `text_entropy` must be pure scan-stage\n")
    sb.append("(the CharEntropy kernel, no Exchange below the orderBy);\n")
    sb.append("`dedup_minhash_best` joins the corpus to the converged cluster\n")
    sb.append("table SHUFFLE-HASH (cluster cardinality derives from the pair\n")
    sb.append("graph, never a gambled broadcast) and ranks inside per-cluster\n")
    sb.append("window partitions; `heavy_hitters` (dumped plan = the exact\n")
    sb.append("re-count pass; the Misra-Gries census pass runs eagerly before\n")
    sb.append("planning) must show the candidate IN filter in the SCAN stage so\n")
    sb.append("non-candidate grams never reach the exchange; `graph_pagerank`\n")
    sb.append("(dumped plan = the final ranks after the iterative jobs) must\n")
    sb.append("show edge-bounded shuffle-hash joins, never a rank-table\n")
    sb.append("broadcast; `embedding_outliers` re-attaches labels-bounded\n")
    sb.append("centers and cutoffs as explicit BroadcastHashJoins over the\n")
    sb.append("localCheckpoint'ed scored table. `hard_negatives` is the\n")
    sb.append("knn_graph machinery (fused kernel / pruned cell join / blocked\n")
    sb.append("grid kernel over the ceiling) with the label inequality fused\n")
    sb.append("before the top-k; `langid_confusion` and\n")
    sb.append("`length_histogram` are one aggregate each with totals windowed\n")
    sb.append("over the tiny group table; `quality_sample` must be pure\n")
    sb.append("scan-stage (signals kernel + bucket hash, no Exchange);\n")
    sb.append("`budget_select` must show NO corpus-wide quality sort — only\n")
    sb.append("the boundary-bin window and the output orderBy.\n")
    sb.append("\nRound-14 notes: (1) the pre-kernel corpus spread of the five\n")
    sb.append("gram-family operators (ngram_jaccard_inverted, gram_coverage,\n")
    sb.append("segment_dedup, ngram_containment, duplicate_passages) is now\n")
    sb.append("PARTITION-GATED (graft.util.Spread.ifNarrow): it fires only when\n")
    sb.append("the input arrives narrower than the session parallelism — at\n")
    sb.append("this dump's SF the corpus is one parquet split so the Exchange\n")
    sb.append("still shows, but a production many-split scan passes through\n")
    sb.append("with NO extra shuffle. (2) Every size-adaptive fast path is now\n")
    sb.append("additionally gated on INTEGRAL id columns and casts its output\n")
    sb.append("ids back to the input type, so plan selection never changes the\n")
    sb.append("result schema; ceiling probes are count-only / checkpoint-once\n")
    sb.append("(no payload bytes reach the driver on the fall-through path).\n")
    sb.append("(3) Every fast path asks ONE gate, graft.util.FastPaths: it\n")
    sb.append("owns the four plan ceilings below as constants, runs the capped\n")
    sb.append("census-and-collect (an over-full collect falls through, never\n")
    sb.append("truncates) and names its decision in the Spark job description\n")
    sb.append("(`fastpath <site>: <n> <= <ceiling> -> kernel`).\n")
    sb.append("-Dgraft.force.distributed=1 (FastPaths.forced; Bench's\n")
    sb.append("SPARK_GRAFT_BENCH_FORCE_DISTRIBUTED=1) forces every fast path\n")
    sb.append("ineligible — the distributed-lane side-board\n")
    sb.append("BENCH_board_distributed.json is measured that way.\n")
    sb.append("\n## Caps & ceilings — what each knob bounds\n\n")
    sb.append("Two kinds. PLAN ceilings pick between two plans that return\n")
    sb.append("IDENTICAL results (parity suite-pinned); nothing is ever\n")
    sb.append("dropped. COVERAGE caps bound what the result contains — the\n")
    sb.append("rows past the cap are deliberately excluded, and this table is\n")
    sb.append("the per-operator statement of what that exclusion means. The\n")
    sb.append("plan ceilings are graft.util.FastPaths constants, not operator\n")
    sb.append("arguments; the only lever is -Dgraft.force.distributed=1.\n\n")
    sb.append("| knob (default) | operators | kind | at/past the cap |\n")
    sb.append("|---|---|---|---|\n")
    sb.append("| FastPaths.GraphEdges (1M) | nearDupClusters, pageRank (semantic_dedup, text_lsh_clusters, dedup_minhash_keep/best, graph_pagerank) | plan | driver union-find / integer replay below; pointer-jumping / iterative joins above — same fixpoint bit-for-bit |\n")
    sb.append("| FastPaths.ProbeIndexBytes (256 MB) | ngramJaccard, crossNearDups, buildHistoryProbeIndex(Fused) (ngram_jaccard, dedup_minhash*, dedup_incremental, dedup_incremental_stream) | plan | broadcast probe index below (integral, unique ids only); banded equi-join plan above — same pairs |\n")
    sb.append("| FastPaths.KernelRows (64k rows) | knnGraph, hardNegatives — one plan body (knn_graph, knn_graph_probe, q31_reachability, graph_pagerank edges, hard_negatives, hard_negatives_probe) | plan | exhaustive nprobe: fused broadcast kernel below, blocked grid kernel (knnBlockedDistributed, O(sqrt tasks) block replication) above; pruned nprobe: fused cell kernel below, cell join above — same edges, suite-pinned |\n")
    sb.append("| FastPaths.VerifyRows (64k rows) | embeddingNearDups (embed_neardup, semantic_dedup) | plan | fused cosine verify of the collision multiset below; blocked grid verify with pre-verify distinct above — same pairs |\n")
    sb.append("| maxExactRows (1M rows) | embeddingNearDupsExact, semanticDedupExact | refusal | quadratic GROUND-TRUTH baselines refuse larger corpora outright (pass explicitly to override); the LSH siblings are the scale path |\n")
    sb.append("| maxDf (50) | ngramJaccardInverted, containmentPairs (ngram_jaccard_inverted, ngram_containment) | coverage | grams with document frequency > maxDf contribute NO pairs: similarity supported only by boilerplate-frequency grams is reported as ~0 (estimates biased low, ranking preserved; the LSH ngram_jaccard has no such cap) |\n")
    sb.append("| maxDocs (50) | duplicatePassages | coverage | passages shared by more than maxDocs documents are excluded — the operator reports near-duplicate passages, not corpus-universal boilerplate (raise the cap to include it) |\n")
    sb.append("| Misra-Gries capacity (4/eps) | heavyHitters | coverage | only items with frequency > n/capacity are GUARANTEED to survive the census pass; the exact re-count pass then removes all false positives, so output errs only by omission below the guarantee line |\n")
    sb.append("| hop cap (4) | q31_reachability | coverage | nodes first reachable in > 4 hops are absent by definition of the query |\n")
    sb.append("| nprobe < numCentroids | ann_ivf_probe, knn_graph_probe, cluster_sample | coverage | recall < 1 by design; every pruned entry carries an in-query recall gate against its exhaustive sibling |\n")
    sb.append("| bloom FPP (1e-3..1e-4) | dedup_bloom, decontaminate_bloom | coverage | false positives only route rows to the exact join (no loss); decontaminate gram-hash collisions can over-redact with probability ~n^2/2^64 (documented on the operator) |\n\n")
    headline.foreach { name =>
      val df = SparkEntry.queries(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(render(df.queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode), cap = 16000))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"wrote PLANS.md (${headline.size} plans)")
  }
}
