package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Regenerates PLANS.md: formatted physical plans for the headline
  * queries, as evidence the plans have the intended shape (pushdown,
  * broadcasts, pre-aggregation, single-window as-of, prefix joins).
  *
  *   sbt -batch "Test/runMain graft.PlanDump [sfDir]"
  */
object PlanDump {

  private val Sections: Seq[(String, String)] = Seq(
    "q02_filter_pushdown" ->
      "Filters and projection reach the parquet scan (PushedFilters, pruned ReadSchema).",
    "q03_region_revenue" ->
      "Dimension joins broadcast (nation/region explicit, customer via AQE); one shuffle for the final aggregate.",
    "q04_priority_revenue" ->
      "Fact pre-aggregated by its join key before the join — no distinct Expand; orders side broadcast.",
    "q08_latest_order" ->
      "Ranking window with WindowGroupLimit pushdown (rank filter applied before the full sort).",
    "q10_topk_orders" ->
      "Global top-k as TakeOrderedAndProject — per-partition heaps, never a global sort.",
    "q26_dedup_jaccard" ->
      "AllPairs prefix-filtered candidate join over the persisted shingle index + array-intersect verification. (Round-12 probe of the r11 1.305x normalized flag: warm 1.89 s at calibration anchor 1.649 s = ~1.02 s at the r11 host's 0.887 s anchor, FASTER than both the r10 and r11 officials — host noise on a 2-sweep min, plan unchanged.)",
    "q27_dedup_minhash" ->
      "Row-local minhash signatures, band-bucket equi-join candidates, exact verification of candidates only.",
    "q54_asof_join" ->
      "As-of join as union + one keyed window pass (single shuffle), not a per-row subquery.",
    "q55_range_join" ->
      "Bounded range join as a bucket equi-join + residual filter — no BroadcastNestedLoop.",
    "q58_token_packing" ->
      "Distributed prefix sum: per-range cumsum windows + O(#ranges) offset table, no global-order window over the data.",
    "q60_salted_agg" ->
      "Salted two-phase aggregation: partial per (key, salt), final per key.",
    "q81_fixed_sample" ->
      "Fixed-size per-stratum sample: WindowGroupLimit caps each partition at k rows before the stratum sort.",
    "q84_ann_pq" ->
      "PQ ANN: broadcast codebook encode, m-row code explode joining a broadcast ADC LUT, shortlist-only exact rerank — no corpus-by-corpus join.",
    "q88_span_removal" ->
      "Exact-substring excision: one span-hash aggregation, bounded coverage Generate, anti-join on (doc_id, pos) — O(tokens + covered), never per-doc scans.",
    "q29_embed_neardup" ->
      "Exact embedding near-dups: k-means cells, triangle-inequality block-pair pruning on block STATS before any vectors move, flat-array verification kernel.",
    "q89_kmeans" ->
      "Final k-means assignment pass: centroids as plan literals, row-local argmin, zero joins and zero shuffles besides the output sort.",
    "q91_dsir_weights" ->
      "DSIR: ONE token aggregation builds target and raw models together (conditional sum), token-keyed scoring join, one-row broadcast stats.",
    "q93_hard_negatives" ->
      "Hard negatives: label-mismatch predicate fused into the broadcast query join; per-query top-k via ranking window with WindowGroupLimit.",
    "q96_logreg_quality" ->
      "Logistic scoring pass: row-local features and sigmoid with trained weights as plan literals — one narrow scan, no shuffle before the output sort.",
    "q64_dedup_clusters" ->
      "One label-propagation round (the loop's repeated unit): edge-label equi-join + min aggregation + least() merge — per-round lineage cut by eager localCheckpoint, so the plan is O(1) in rounds.",
    "q113_leak_safe_split" ->
      "Leakage-safe split: one left equi-join of the corpus against the (near-pair-participants-only) cluster labels + a row-local hash — cluster discovery paid once, upstream.",
    "q114_curation_report" ->
      "Curation audit: every gate row-local codegen except the single hash-shuffle window for the exact-dedup survivor check — md5(text) keeps the shuffle key 32 chars.",
    "q117_fair_budget" ->
      "Fair-share budget: one per-source running-sum window (parallel across sources), anti-join complement, then the q112 composite-bucket prefix sum with its broadcast offsets — no global-order window anywhere.",
    "q118_decontam_spans" ->
      "Decontamination surgery: q88's excision tail with the dup-hash aggregation replaced by a broadcast semi-join against the benchmark's (benchmark-sized) distinct-gram set.",
    "q120_boilerplate_removal" ->
      "Boilerplate surgery: the q88 excision tail with the span-hash HAVING bound raised to the df threshold — the qualifying-hash set shrinks as the threshold rises.",
    "q122_ppl_buckets" ->
      "Perplexity triage: per-source rank via narrow (source, score, id-range) windows + one broadcast offsets table — no per-source total-order window, so a hot source cannot become the straggler.",
    "q125_novelty" ->
      "N-gram novelty: distinct doc-gram relation, map-side-combinable df count on the md5-prefix hash, hash-keyed join back — the inverted-index shape, never pairwise.",
    "q126_triplets" ->
      "Triplet mining: one broadcast-queries pass scores both label sides; per-(query, side) champions via row_number = 1 with WindowGroupLimit.",
    "q130_heavy_hitters" ->
      "Heavy hitters, pass 2 (pass 1's collected CMS grid is already literal arrays here): row-local element_at admissions FILTER occurrences before the only per-gram shuffle — candidates-only aggregation.",
    "q132_pagerank" ->
      "PageRank, final iteration (repeated unit): ranks-by-edges equi-join + dst-keyed BIGINT sum with map-side partials; prior rounds are a localCheckpoint scan, so the plan is O(1) in iterations.",
    "q137_epoch_order" ->
      "Epoch ordering: one hash-partitioned exchange on shard feeding per-shard row_number windows — the global permutation is the strided interleave, so no SinglePartition sort ever appears.",
    "q140_ngram_lm" ->
      "N-gram LM: contexts built row-locally inside Generate (no self-join), map-side-combined (ctx, next) counts, support filter pruning BEFORE the per-context ranking window.",
    "q141_bitext_margin" ->
      "Bitext mining: the checkpointed scoring pass is one broadcast join producing the skinny integer-sim table; downstream, two direction windows (by src, by tgt) and the integer margin join.",
    "q144_source_affinity" ->
      "Source-affinity matrix: one (source, token) agg, model side joined back on the token key, broadcast defaults for absent tokens — the |sources|^2 fan-out rides per distinct token, never per row.",
    "q146_source_balance" ->
      "Chi-square balance: one scan collapsing map-side to |sources|*|buckets| cells; margins, spine, and closed forms are all cell-table-sized.",
    "q149_log_odds" ->
      "Log-odds lexicon: (source, term) agg joined to term and source margins, row-local z arithmetic, top-k behind a per-source window (WindowGroupLimit).",
    "q150_context_assembly" ->
      "Context assembly: broadcast-queries scoring, rank + running token sum as two windows over ONE query-partitioned exchange; rank<=budget pre-cut bounds window state.",
    "q152_collocations" ->
      "Collocations: two map-side-combining aggs (pairs, unigrams), tiny margin joins, global top-k as TakeOrderedAndProject — no global sort.",
    "q153_batch_waste" ->
      "Batching waste: both orderings are per-shard windows (hash-partitioned exchange on shard), batch aggregation collapses map-side; union of two strategy branches.",
    "q155_memorization_risk" ->
      "Memorization risk: the aggregated LM side shrinks behind support+prob gates before the ctx-keyed equi join back onto per-doc contexts.",
    "q160_gif_frames" ->
      "Video-frame sampling: one mapPartitions codec pass (build + full block walk), zero shuffles before the output sort — container structure is read row-locally, pixels never decoded.",
    "q161_winnow_overlap" ->
      "Winnowing overlap: row-local fingerprint selection (one token array + one hash array per doc), df-cap semi-join prunes boilerplate BEFORE the fingerprint equi-join, pair aggregation map-side-combines.",
    "q162_loss_mask" ->
      "Loss-mask accounting: fixture + per-turn fields are row-local projections with a bounded (<=6) Generate; one conv_id-keyed aggregation with map-side partials.",
    "q164_pref_bias" ->
      "Length-bias audit: slices and lengths row-local, one groupBy(source) collapsing map-side to |sources| rows.",
    "q167_rm3_rerank" ->
      "RM3: both corpus scans term-pruned by broadcast semi-joins at the explode boundary; the feedback model reads ONLY the fbDocs (broadcast id join); the single unpartitioned window ranks the ~fbDocs-doc feedback vocabulary, never the corpus.",
    "q168_fleiss_kappa" ->
      "Fleiss kappa: three map-side-combining aggregations ((source,item,cat) -> (source,item) -> source) + the category-margin agg; the joined report is |sources| rows.",
    "q173_url_canonical" ->
      "URL canonicalization: regex chain staged at projection boundaries (each regex once per row), then ONE map-side-combined shuffle on the canonical key.",
    "q174_calibration" ->
      "Calibration/ECE: two aggregations collapse map-side to |sources|*10 bin cells; the ECE window runs over that cell table, never the predictions.",
    "q175_pair_rouge" ->
      "Pair ROUGE: bounded gram explodes, map-side-combined (pair, gram) counts, multiset-min equi-joins, pair-keyed sums; totals are row-local array sizes.",
    "q177_thread_roots" ->
      "Thread roots, final converged state: the visible plan is the last localCheckpoint scan + projection — each doubling round was ONE self equi-join on the ancestor key, O(log depth) rounds total.",
    "q178_quantile_norm" ->
      "Quantile normalization: NO per-source total-order window over documents — percentiles come from the bounded distinct-score tables; the 1001-point quantile spine joins broadcast.",
    "q180_unigram_segment" ->
      "Unigram Viterbi: the DP is a row-local higher-order aggregate over each DISTINCT word (scores as a literal map — no join in the DP); one equi-join back onto occurrences + one doc-keyed aggregation.",
    "q181_html_extract" ->
      "HTML extraction: one regex-projection chain (script/style/comment strip staged once per row), zero shuffles before the output sort.",
    "q183_bootstrap_ci" ->
      "Poisson bootstrap: bounded 200-way replica explode with integer inverse-CDF weights, map-side-combined (source, replica) sums; ranking windows run over the |sources|·200-row replica table, never the tasks.",
    "q187_sorted_neighborhood" ->
      "Sorted neighborhood: NO SinglePartition sort — prefix-bucket row_numbers + a tiny offset-table window lift to global ranks; rank-adjacency equi-join; candidate-bounded Jaccard verification.",
    "q189_neyman_sample" ->
      "Neyman sampling: one map-side stats aggregation; allocation windows run over the |strata|-row table; the draw is a per-stratum ranking window cut at n_h.",
    "q190_bitext_align" ->
      "Bitext alignment: the whole 2-D DP is one row-local projection (higher-order aggregate over flattened cells) — zero joins and zero shuffles before the output sort.",
    "q192_bm25f" ->
      "BM25F: field explodes pruned to query terms at the boundary, pivoted per-field tf aggregation, broadcast df/stats joins, TakeOrderedAndProject top-k.",
    "q193_robots_filter" ->
      "Robots filter: broadcast rules join + one URL-keyed aggregation — the precedence logic is a single max_by, no window.",
    "q195_hll_portable" ->
      "Portable HLL: one map-side-combining (group, bucket) max-ρ aggregation (the sketch merge IS max), then a |groups|·m register fold — no row survives to the estimate stage.",
    "q196_rolling_distinct" ->
      "Rolling distinct: ONE event scan builds day-registers; every trailing window is a register-table join + bucket-max — raw events are never re-scanned per window.",
    "q197_provenance" ->
      "Provenance: generation grams equi-join the distinct corpus (doc, gram) relation — the inverted-index probe shape; per-generation aggregates are gram-bounded, never pairwise.",
    "q199_hits" ->
      "HITS (one normalize step shown; loop lineage-cut per round): edge-score equi-join, map-side-combined sum, one-row max broadcast back — no per-node driver state.",
    "q202_heaps_fit" ->
      "Heaps fit: broadcast 10-row checkpoint fan-out collapsed by map-side sums — no corpus-wide running-total window; the regression runs on 10 points.",
    "q206_rank_auc" ->
      "Rank AUC: corpus collapses to the (score, n_pos, n_neg) value set before the only window in the plan; the cumulative runs over distinct scores, never rows.",
    "q208_kcore" ->
      "K-core (post-fixpoint read): degree agg + two left-semi joins per round over a shrinking edge list, lineage cut per round; final read is one left join onto nodes.",
    "q209_entropy" ->
      "Entropy panel: two map-side-combined (source, gram) aggs; log quantization is row-local; everything after the counts is |sources|-sized.",
    "q210_binary_neardup" ->
      "Binary near-dup: row-local byte_histogram codegen kernel, prefix-block equi-join (block sizes constant in corpus growth), per-pair 256-long zip verification.",
    "q214_containment" ->
      "Containment: A-prefix explode joins B's full shingle index (the asymmetric prefix filter), distinct candidates, exact array-intersect verification only on candidates.",
    "q215_scd2" ->
      "SCD2: batch-sized latest-per-key window, ONE full-outer equi-join of open rows vs the batch, row-local branch logic, closed-history union — no history-sized operator anywhere.",
    "q213_retention" ->
      "Cohort retention: (user, week) distinct with map-side partials, min-agg cohorts, one user-keyed join back, broadcast cohort sizes — the matrix is |weeks|^2 rows.",
    "q216_pr_auc" ->
      "PR-AUC: corpus collapses to the score value set before the single descending cumulative window; AP is one more aggregation over that tiny table.",
    "q217_conversion_lag" ->
      "Conversion latency: first-touch min-agg, per-hop user-keyed equi-joins, (step, lat_ms) value-set collapse — the only window and the interpolation run over the collapsed set; NO exact-percentile aggregate anywhere.",
    "q221_length_fences" ->
      "Outlier fences: (source, length) value-set collapse, quartiles from the value-set window, census via broadcast fence join onto the COLLAPSED table — raw rows are scanned exactly once.",
    "q223_cusum" ->
      "CUSUM: map-side-combined (key, day) counts, broadcast per-key stats, one aggregate-fold per key over the calendar-bounded day array.",
    "q225_key_skew" ->
      "Key skew: per-key counts collapse to frequencies-of-frequencies; the Gini window runs over DISTINCT count values only.",
    "q226_conformal" ->
      "Conformal: per-group value-set collapse, ceiling-rank order statistic from the value-set cumulative, holdout census via broadcast threshold join.",
    "q228_lsh_tuning" ->
      "LSH tuning: per config one band-bucket equi-join + verification of candidates only; truth from the prefix-filtered exact join; |configs| bounded driver loop.",
    "q229_countmin" ->
      "Count-Min: one map-side-combined per-key count, bounded d-way fan-out of the key table, broadcast of the fixed d x w counter grid onto the topN probes.",
    "q231_hill_tail" ->
      "Hill tail: rank filter planned as WindowGroupLimit (per-partition top-(k+1) + merge), then |sources|-sized arithmetic; totals are one map-side count.",
    "q232_rank_corr" ->
      "Spearman: two (group, value) collapses, rank windows over the collapsed value sets, broadcast midrank joins back, one decimal moment aggregation.",
    "q233_jsd_matrix" ->
      "JSD: one (source, token) agg; term fan-out = broadcast source list + left join to the cell table on (source, token) - |sources|^2 per distinct token, collapsing to a |sources|^2 matrix.",
    "q235_hazard" ->
      "Nelson-Aalen: one user min/max agg, broadcast horizon, then risk sets and both cumulatives over the collapsed (duration -> counts) table.",
    "q239_ql_dirichlet" ->
      "QL-Dirichlet: explode pruned to query terms at the boundary, |docs| x |Q| grid via broadcast term list, TakeOrdered top-k.",
    "q240_nb_classifier" ->
      "Sparse NB: present-cell token join only (no vocab x sources grid), broadcast per-model constants, per-doc argmax window.",
    "q218_record_linkage" ->
      "Fellegi-Sunter: per-pass block joins on (id, blockKey) projections, id-pair distinct two longs wide, full rows attach once; agreement fold row-local.",
    "q218b_linkage_em" ->
      "Linkage EM: same blocked candidates; census = one <=2^k-pattern agg (bounded collect), posterior attaches as a literal CASE chain - no extra join.",
    "q242_ks_test" ->
      "KS: value-set collapse, |groups|x|values| grid from a broadcast groups table, per-group cumulative window over the GRID, never corpus rows.",
    "q244_leak_folds" ->
      "Leak-safe folds: the q64 prefix-filtered component chain + one left join of the corpus against the clustered set, row-local fold hash.",
    "q248_kappa_matrix" ->
      "Kappa matrix: (source, item) self-join with <=raters^2 fan-out, marginals from the SAME joined relation, |sources|x|raters|^2 output arithmetic.",
    "q249_silhouette" ->
      "Silhouette sweep: per k, centroids as plan literals, sorted-distance scoring row-local, one count/sum aggregate - zero joins.",
    "q250_loss_curve" ->
      "Loss curve: per-slice count tables once, cumulative expansion via k-row broadcast range join, holdout scored as its transition value set.",
    "q103_sketch_bounds" ->
      "Sketch error contract: the exact distinct count and the sketch/percentile battery run as SEPARATE aggregations joined on the 3-row flag key (round-13: one mixed aggregation made the count-DISTINCT rewrite key the partials by (flag, partkey), so HLL registers and both exact-percentile value maps were held per partkey group and merged through two exchanges — warm 4.2 s → 0.9 s, and at scale O(|flags|) instead of O(|partkeys|) heavy states per task).",
    "q104_incremental_dedup" ->
      "Incremental dedup, delta-vs-index pass (batch 2 captured): within-batch prefix-filtered clustering, band-bucket equi-join of the BATCH against the persisted bands table (bucket the index by bkey at scale for a zero-index-side-shuffle join), stored-signature exact verification of candidates only, left-anti survivor cut — the corpus is never re-paired.",
    "q108_content_chunks" ->
      "Content-defined chunking: the per-doc Rabin rolling window and cut selection are ONE row-local projection (higher-order aggregates over the token array) — zero joins, zero shuffles before the output sort.",
    "q116_incremental_split" ->
      "Incremental split, assign pass (batch 2 captured): within-batch components + band-bucket candidates vs the registry index, exact verification, min-anchor per cluster, split inheritance via one left join against the registry — O(batch + candidates) per batch.",
    "q65_sql_dml" ->
      "SQL DML drive: the post-UPDATE/DELETE read is a pruned graft DSv2 scan (file-skipping via key-range stats) — the evidence is the catalog surface executing real plans, not a wide DAG.",
    "q66_dedup_survivors" ->
      "Quality-policy survivors: the cluster frame (near-pair participants only, lineage-cut) feeds one per-cluster ranking window + a broadcastable left-anti join against the corpus — corpus-sized work is the anti-join scan only.",
    "q253_mann_whitney" ->
      "Mann-Whitney: (group, value) collapse, doubled midranks from ONE cumulative window over distinct values, per-group rank-sum aggregation + two one-row broadcasts — corpus rows never enter a window.",
    "q254_log_rank" ->
      "Log-rank: duration value-set grid x 2 cohorts, per-cohort descending cumulative for risk sets, quantized per-time E6/V6 terms collapsing to one report row.",
    "q255_kendall_tau" ->
      "Kendall tau-b: joint (x, y) value-set cells, ONE strict-x-dominance cells^2 self-join per group, tie terms from cell margins — report-sized relations after the first aggregation.",
    "q256_theil_sen" ->
      "Theil-Sen: daily value-set collapse, days^2-per-key pair join (calendar-bounded, constant in event volume), two pinned-median ranking windows over pair/level tables — raw events enter one aggregation only.",
    "q257_cochran_armitage" ->
      "Cochran-Armitage: one (group, bucket) cell census with map-side partials; everything after is |groups|-row arithmetic (exact decimal variance, one sqrt).",
    "q258_page_hinkley" ->
      "Page-Hinkley: daily collapse, then four per-key cumulative windows (rank, sum, running mean, running min) over the calendar-bounded table — no recursion, no corpus-sized window.",
    "q259_snapshot_diff" ->
      "Snapshot diff: ONE full-outer equi-join on doc_id; gram sets and the version Jaccard are row-local projections — never a pair join.",
    "q260_normalize_text" ->
      "Unicode normalization: the native nfc_normalize codegen expression + regex chain in one row-local projection — zero joins, zero shuffles before the output sort.",
    "q261_source_containment" ->
      "Source containment: distinct (source, gram) relation with map-side combine, gram-keyed self-join for intersections (rides shared grams), |sources|^2 spine join — document cardinality never reaches the pair stage.",
    "q262_kruskal_wallis" ->
      "Kruskal-Wallis: (slice, group, value) collapse, ONE slice-partitioned cumulative window over distinct values for doubled midranks, per-(slice,group) rank-sum agg, |slices|-row tail arithmetic.",
    "q263_wasserstein" ->
      "Wasserstein-1D: the ksTest grid — value-set cumulative + lead() deltas, broadcast groups spine, per-group quantized CDF-gap integration; corpus rows enter exactly one aggregation.",
    "q264_psi_drift" ->
      "PSI: decile buckets assigned on the value set (one global cumulative window), (group, bucket) census, broadcast 10-bucket x groups dense spine — report-sized after the first aggregation.",
    "q265_gini_tokens" ->
      "Gini/Lorenz: (group, value) collapse, group-partitioned cumulative windows, struct-min first-block Lorenz cuts fused into ONE per-group aggregate — no per-row ranking window.",
    "q266_triangles" ->
      "Triangles: degree-ORIENTED edge list (each triangle owned by its (deg,id)-min vertex), wedge equi-join from oriented out-neighbors + one closing-edge equi-join — work is sum-outdeg^2 = O(m^1.5), hub-safe; never the naive sum-deg^2.",
    "q267_cramers_v" ->
      "Cramer's V: per column pair ONE (a,b) cell census (margins/N aggregate the same relation), broadcast dense margin spine, report-sized chi2 fold — the corpus is scanned once across the unioned pair branches.",
    "q268_basket_pairs" ->
      "Basket pairs: distinct (basket, item) relation, basket-keyed self-join (work = sum k_b^2, bounded by basket size, never |items|^2), map-side-combined support counts, broadcast basket-count for lift.",
    "q269_isotonic" ->
      "Isotonic PAV: one (source, bin) census over predictions, then the max-min closed form as a suffix-min window + per-bin max over the B^2 interval table — report-sized after the census, no sequential pooling loop.",
    "q270_image_phash" ->
      "Image dHash near-dups: partition-wise codec round trip (encode/decode/pool row-local), localCheckpointed signatures, 4x16 band-bucket equi-join (COMPLETE at Hamming <= 3 by pigeonhole) + codegen bit_count verify — pair work rides near-dup density, never images^2.",
    "q271_audio_fingerprint" ->
      "Audio energy-delta fingerprint: RIFF build/parse + frame energies row-local, 8x8-bit band join (COMPLETE at Hamming <= 7) + bit_count verify — the q270 shape with a wider-threshold banding proof.",
    "q272_holt_trend" ->
      "Holt linear trend: daily collapse, per-key aggregate() fold over the calendar-bounded struct array (state = one 4-BIGINT struct) — no per-row window, no recursion in the plan; raw events enter one aggregation.",
    "q273_orc_roundtrip" ->
      "ORC roundtrip: partitioned-by-flag ORC write, read back with the timestamp predicate PUSHED into the ORC scan (PushedFilters) and partition pruning available to flag-filtered readers — one scan, one aggregate.",
    "q274_centroid_drift" ->
      "Centroid drift: ONE posexplode aggregation to (label, dim) BIGINT sums (per-row quantization keeps cross-row sums exact), dim-keyed join against the |dims|-row global, report-sized cosine arithmetic.",
    "q275_cmh_test" ->
      "CMH: one (stratum) census with map-side partials computing all four 2x2 cells as conditional sums, |strata|-row exact E6/V6 arithmetic folding to ONE report row.",
    "q276_benford" ->
      "Benford: row-local first digit from the integer's decimal string, one (group, digit) census, broadcast 9-row constant spine, integer TV fold — report-sized after the census.",
    "q49_normalize" ->
      "Text normalization: row-local codegen regex/case chain, zero shuffles besides the output sort. (Round-13 probe of the r12 1.32x normalized flag: warm 0.41 s at anchor 0.997 s = 0.93x the r11 official host-normalized — host noise, plan unchanged.)",
    "q176_dp_histogram" ->
      "eps-DP histogram: one census + seeded discrete-Laplace noise from row-local hashes — report-sized after the aggregation. (Round-13 probe of the r12 1.30x normalized flag: warm 0.19 s at anchor 0.997 s = 0.82x the r11 official host-normalized — host noise, plan unchanged.)",
    "q277_dedup_roi" ->
      "Dedup ROI: the q64 prefix-filtered cluster pass, then one left join of per-doc word counts against cluster labels + survivor join ON THE CLUSTER ID (min member — no ranking window) + two aggregations to a <= max-cluster-size report. (Round-13 probe of the r12 1.33x normalized flag: warm 3.40 s at calibration anchor 0.997 s = 1.11x the r11 official host-normalized, inside the 1.25x review line — host noise on the 2-sweep min, plan unchanged; chain siblings q26/q64/q66 all ran FASTER in r12.)",
    "q278_mutual_info" ->
      "Mutual information: per column pair one OCCUPIED-cell census (no dense spine — absent cells are exact zeros in MI), margin joins, per-cell quantized ln summands folding to a report row per pair.",
    "q110_edit_verified_dups" ->
      "Edit-verified near-dups: the portable MinHash band-bucket equi-join emits the candidate pairs; the O(|a|*|b|) levenshtein DP sits strictly BEHIND two doc_id equi-joins that fetch only candidate texts — the DP never sees a non-candidate pair, so pair work rides LSH admissions, never corpus^2.",
    "q279_anova" ->
      "One-way ANOVA: ONE (slice, group, value) census with map-side partials, per-group exact x1e6 S^2/n terms, |slices|-row F/eta2 arithmetic — corpus rows enter exactly one aggregation.",
    "q282_cliffs_delta" ->
      "Cliff's delta: global + per-group cumulative windows over the VALUE SET (the mannWhitney U-from-CDF identity, signed) — dominance counted without any pair join.",
    "q283_hellinger" ->
      "Hellinger matrix: one census to |groups|x10 decile masses, bucket-keyed |groups|^2-bounded join, spine-completed so disjoint supports report H=1 — report-sized after the first aggregation.",
    "q285_acf" ->
      "ACF: events collapse to the dense calendar spine; the lag-exploded equi-join is |groups|*days*maxLag (constant in event volume); exact n^2-scaled mean removal, one truncating division per lag.",
    "q286_changepoint" ->
      "Changepoint: calendar-bounded cumulative prefix, exact x1e6 q/r-split gain per split, max-then-join-back argmax (no version-sensitive arg_max constructs).",
    "q289_jonckheere" ->
      "Jonckheere-Terpstra: dense |groups|x|values| grid (the ksTest shape), per-group cumulative window, ordered-pair dominance fold — trend counted from CDFs, never a row-pair join. (Round-13 probe of the r12 1.26x normalized flag: warm 0.80 s at anchor 0.997 s = 0.72x the r11 official host-normalized — host noise, plan unchanged.)",
    "q291_friedman" ->
      "Friedman/Kendall W: dense day x treatment grid, per-day doubled midranks over <=k-row value censuses, exact integer tie-corrected Q — ranks never leave the calendar.",
    "q293_burrows_delta" ->
      "Burrows Delta: one token census, top-M TakeOrdered cut, |sources|xM dense grid with integer-first frequencies — the z/delta arithmetic is report-sized; corpus text is scanned once.",
    "q295_mixture_alloc" ->
      "Mixture allocation: the row-local gopher gate feeds ONE per-source aggregation; the budget/cap/redistribution arithmetic is |sources|-row with two 1-row broadcast totals — corpus text is scanned once.",
    "q296_cochran_q" ->
      "Cochran's Q: two censuses (per-model, per-task success totals) with map-side combine, two broadcast joins of report-sized totals, |slices|-row Q arithmetic — no pair term, the task census is the only |tasks|-row relation.",
    "q297_yule_k" ->
      "Yule's K: one (source, word) token census -> per-source spectrum moments; the K division is |sources|-row. Corpus text scanned once.",
    "q298_mood_median" ->
      "Mood's median: global doubled-median over the VALUE SET (one value-set window), per-group above/<= census, one broadcast 1-row margin join, 2xk chi-square in report-sized arithmetic.",
    "q299_durbin_watson" ->
      "Durbin-Watson: events collapse to the dense daily calendar; the lag window runs over the bounded day spine, never event rows; |groups|-row division tail.",
    "q300_pacf" ->
      "PACF: the q285 ACF census does all data work; the Durbin-Levinson recursion is unrolled x1e6 fixed-point column arithmetic on the |groups|-row PIVOTED report frame — maxLag^2 report-sized ops, zero extra scans.",
    "q301_ansari_bradley" ->
      "Ansari-Bradley: one value census, folded doubled-midrank scores over the VALUE SET window, permutation-moment z with one sqrt — the mannWhitney plan shape with scores in place of ranks.",
    "q302_sprt" ->
      "SPRT: events collapse to (group, day, trials, successes); the cumulative LLR window rides the calendar; first-crossing located by min-CASE, no last-row construct.",
    "q303_kr20" ->
      "KR-20/Cronbach alpha: the Cochran per-model + per-task censuses (map-side combined), one broadcast join, |slices|-row exact division.",
    "q304_gwet_ac1" ->
      "Gwet AC1: the Fleiss census shapes (item-keyed then source-keyed aggregations), one join of |sources|-row frames, exact HUGEINT-class division.",
    "q306_cvm_test" ->
      "Cramer-von Mises: the q242 value-set grid with the ECDF gap as an exact common-denominator integer (no per-point quantization); one grid aggregation to |groups| rows, one division per group.",
    "q307_kuiper" ->
      "Kuiper V: same grid; D+ and D- are integer maxima over the grid, one floor on their sum — the ksTest plan shape with a second max.",
    "q308_page_trend" ->
      "Page's L: the friedman dense day x treatment grid and per-day value-set midranks; the name-order index joins broadcast; L2/E2/z are 1-row arithmetic.",
    "q309_randolph_kappa" ->
      "Randolph kappa_free: the Fleiss item census (map-side combined) + one per-source division on the already-quantized pbar6 — report-sized after the census.",
    "q310_bowker" ->
      "Bowker symmetry: one (source, cat_a, cat_b) census, a broadcast literal 6-pair spine, two cell joins, per-pair floored terms folding to |sources| rows.",
    "q311_assortativity" ->
      "Degree assortativity: symmetrized distinct edges + two broadcast degree joins + ONE global sum — the correlation closed-forms to a single division; no wedge/pair term (the triangleCount prefix without the triangle join).",
    "q312_ljung_box" ->
      "Ljung-Box: the q285 ACF chain does all data work (calendar-bounded lag join); the portmanteau is a |groups|x7 aggregation with per-lag floored terms.",
    "q313_turning_points" ->
      "Turning points: events collapse to the dense calendar; lag/lead windows run over the bounded day spine; |groups|-row z arithmetic.",
    "q320_theil_u" ->
      "Theil's U: the q278 mutualInfo plan exactly — per-pair occupied-cell census + margin joins, floored-ln summands, report-sized arithmetic; the two U divisions add zero data-sized work.",
    "q317_pettitt" ->
      "Pettitt: the midrank identity turns the O(days^2) U_t double sum into one value-set rank window + one calendar cumulative — no day-pair join anywhere; argmax by max-then-join-back.",
    "q318_wilcoxon" ->
      "Wilcoxon signed-rank: one census to the per-source |d| value set, midranks over the value-set window, |sources|-row z arithmetic — task rows enter exactly one aggregation.",
    "q319_ordinal_assoc" ->
      "Ordinal association: one (source, x, y) cell census; concordance counted by a bounded grid^2 cell-pair join (never a row pair); tie masses from grid margins.",
    "q314_kpss" ->
      "KPSS: events collapse to the dense calendar; one cumulative window over the bounded day spine; n*S_t stays integer so the |groups|-row tail is one exact division.",
    "q315_reciprocity" ->
      "Reciprocity: the directed fixture edges + ONE reversed-key self-equi-join for the mutual count + one aggregation — no symmetrization, no pair term.",
    "q316_rbo" ->
      "RBO: two per-source ranking windows with WindowGroupLimit capping each partition at depth 10 before the full sort, a depth-10 equi join, then a 10x|sources| spine — corpus rows never pair.",
    "q305_confusable_fold" ->
      "Confusable-fold dedup-evasion audit: the fold skeleton and the confusable count are row-local codegen (native confusable_fold expression + translate), fused with the evader-twin union into one scan pass; the only shuffle is the per-source census whose two countDistincts expand over the same exchange. No join anywhere — at 100 TB this costs the exact-dedup census it guards, on ~1.3x the rows.",
    "q73_embed_project" ->
      "JL sign projection via the native sign_project codegen expression (round-12 promotion): one allocation-free loop per row vs the transform-of-aggregate-of-zip_with HOF nest (two intermediate arrays per (row, dim), outside codegen). Bit-identical to the HOF chain (spec-pinned), oracle unchanged. Gain is ~10% host-normalized on THIS fixture's narrow vectors (the allocation win scales with vector width — at 768-dim production embeddings the HOF intermediates dominate).",
    "q97_text_embed" ->
      "JL text embedding through the native jl_embed codegen expression (round-12 promotion of the HOF nest): ONE linear pass per row inside WholeStageCodegen, bit-identical to the former aggregate-in-transform formulation (spec-pinned). Measured warm 0.56 s at calibration anchor 1.124 s vs the r11 official 1.123 s at anchor 0.887 s — ~2.5x faster host-normalized.")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[8]").appName("graft-plandump"), 8)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of the headline queries\n\n")
    sb.append("Generated by `sbt -batch \"Test/runMain graft.PlanDump\"` ")
    sb.append(s"against `$sfDir` (AQE on; initial plans shown — AQE refines ")
    sb.append("exchanges/joins at runtime). Regenerate after plan-affecting ")
    sb.append("changes.\n")
    // checkpointing operators (q26/q27/q29/q88) cut lineage at build time,
    // leaving only `Scan ExistingRDD` downstream — capture their real
    // pre-checkpoint DAGs instead
    graft.operators.PlanCapture.enabled = true
    def trimmed(plan: String): String = {
      // keep the operator tree + scan details; drop the long per-node
      // attribute listings to keep the artifact reviewable
      val tree = plan.split("\n\n").head
      val details = plan.linesIterator
        .filter(l => l.startsWith("PushedFilters") || l.startsWith("ReadSchema"))
        .mkString("\n")
      if (details.nonEmpty) tree + "\n\n" + details else tree
    }
    Sections.foreach { case (name, note) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      // drain per section: only a capture recorded by THIS query's own
      // checkpoint (label keyed by query name) replaces its plan — a
      // query that merely calls a checkpointing operator internally
      // (e.g. clustering over the pair generator) keeps its own plan
      val captured = graft.operators.PlanCapture.drain()
        .find { case (label, _) => label.startsWith(name) }
      val (suffix, plan) = captured match {
        case Some((label, p)) => (s" ${label.stripPrefix(name).trim}", p)
        case None => ("", df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      sb.append(s"\n## $name$suffix\n\n$note\n\n```\n")
      sb.append(trimmed(plan))
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${Sections.size} queries)")
    spark.stop()
  }
}
