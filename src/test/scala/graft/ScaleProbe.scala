package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-exponent harness for the dedup/ANN chains (SCALE.md evidence):
  * generates a 10×-documents / 10×-embeddings dataset from the driver's
  * sf0.1 tables, times the chain queries at both scales, and prints the
  * observed scaling exponents.
  *
  *   sbt "Test/runMain graft.ScaleProbe [gen|probe|all]"
  *
  * Replica construction (`gen`) keeps the WORKLOAD SHAPE constant rather
  * than naively duplicating rows: replica k ≥ 1 suffixes every token of
  * every document with `_k`, so no shingle collides across replicas and
  * the near-duplicate DENSITY (dup clusters per 1000 docs) stays what it
  * was at sf0.1 — naive copies would instead make every doc a 10-way
  * exact duplicate and measure an artificial dup explosion, not scaling.
  * Embedding replicas shift each vector by a per-replica constant
  * (k-means/assignment cost is shape-independent). Replica 0 is the
  * original data unchanged. Output goes under tmp/sf1-synth (inside the
  * repo — /root/testdata is read-only).
  */
object ScaleProbe {

  val SrcDir = "/root/testdata/sf0.1"
  val DstDir = "/root/repo/tmp/sf1-synth"
  val Replicas = 10

  // gen-18 (round-12 verdict task 4): a 100x replica set for the three
  // highest-exponent dense-grid members (q241 0.36, q289 0.32, q294
  // 0.37 at 10x) — one order of magnitude past the standard probe, to
  // confirm the exponents stay sub-linear when the grid terms dominate.
  // Only the tables those queries read are generated (documents,
  // events); same suffix/disjoint-key discipline as `gen`.
  val Dst100 = "/root/repo/tmp/sf10-synth"
  val Replicas100 = 100
  val Grid100 = Seq("q241_chain_audit", "q289_jonckheere", "q294_fertility")
  val ChainQueries = Seq("q26_dedup_jaccard", "q64_dedup_clusters",
    "q66_dedup_survivors", "q88_span_removal", "q89_kmeans",
    "hard_negatives_ivf_1k",
    // round 7: the new shuffle-bearing operators — per-source bucketed
    // ranking over the bigram-LM chain, and the df-count inverted index
    "q122_ppl_buckets", "q125_novelty",
    // round 7b: CMS two-pass heavy hitters (sketch pass linear, exact
    // pass bounded by admissions) and the iterated-join power iteration
    "q130_heavy_hitters", "q132_pagerank",
    // round 7c: the new agg-shaped analytics — trigram-LM count table
    // (ctx-window after map-side combine), cross-source LM matrix
    // (|sources|^2 per distinct token), log-odds margins. All expected
    // ~linear in corpus size; the probe is the falsification.
    "q140_ngram_lm", "q144_source_affinity", "q149_log_odds",
    // round 8: winnowing's df-capped fingerprint join, RM3's two
    // term-pruned corpus scans, pair-ROUGE's (pair, gram) joins, and the
    // unigram Viterbi whose DP cost rides DISTINCT WORDS (should grow
    // well below the 10x doc growth — word types saturate)
    "q161_winnow_overlap", "q167_rm3_rerank", "q175_pair_rouge",
    "q180_unigram_segment",
    // round 9: the iterated-join HITS normalization, the checkpoint
    // fan-out Heaps fit, the k-core peel (rounds grow ~log with the
    // critical boundary, each round linear), the two-gram-agg entropy
    // panel, and the block-bounded binary near-dup pair join
    "q199_hits", "q202_heaps_fit", "q208_kcore", "q209_entropy",
    "q210_binary_neardup",
    // round 10 (VERDICT r7 task 5): the r7 additions with no datapoints
    // yet — CSV dead-letter roundtrip (linear scan + bounded agg),
    // cohort retention (user-keyed equi-shuffles), containment pairs
    // (shingle-blocked join), SCD2 (batch-sized window + full-outer on
    // the key), PR AUC (value-set collapse), and conversion latency
    // (the q217 rewrite: replicas repeat the same latency VALUES, so
    // the value set stays constant while input grows 10x — the direct
    // falsification of any corpus-sized percentile buffer)
    "q211_csv_roundtrip", "q213_retention", "q214_containment",
    "q215_scd2", "q216_pr_auc", "q217_conversion_lag",
    // round 11: Count-Min (per-key count + fixed-grid broadcast —
    // expect ~linear scan cost, constant sketch cost), Hill tail
    // (WindowGroupLimit top-k, expect ~flat), Spearman (value-set
    // collapses; disjoint replica keys keep the value sets growing
    // sub-linearly), l-diversity (one cell agg)
    "q229_countmin", "q230_l_diversity", "q231_hill_tail",
    "q232_rank_corr",
    // round 11b: JSD (|sources|^2-per-distinct-token fan-out — the one
    // new op with a quadratic-IN-SOURCES term, probed to confirm it
    // rides tokens not rows), privacy grid, MK pair join
    // (calendar-bounded), Youden value-set sweep, hazard value-set
    "q233_jsd_matrix", "q234_youden", "q235_hazard",
    "q236_t_closeness", "q237_mann_kendall",
    // round 11c: weighted value-set quantiles; QL's |docs|x|Q| grid
    // (the one linear-in-docs fan-out of the batch)
    "q238_weighted_quantiles", "q239_ql_dirichlet",
    // round 11d: NB model grid rides train-vocab x sources — replica
    // token-suffixing grows vocab ~10x, the probe bounds the grid cost
    "q240_nb_classifier",
    // round 11e: chain audit — pair fan-out bounded by the size cap,
    // cluster count grows ~linear
    "q241_chain_audit",
    // gen-12 (VERDICT r8 task 6): the q218–q228 additions with no
    // datapoints yet — linkage pair space under block growth (blocks
    // stay replica-disjoint by the c_name rule above), the EM variant's
    // census + two candidate passes, shard-mix/padding/fences/quantiles
    // (agg + value-set collapses, expect ~linear scan cost), CUSUM
    // (calendar-bounded fold), key-skew fof collapse, conformal census,
    // row-local code gate, and LSH band tuning (the |configs| loop must
    // re-band the SIGNATURE table per config, never rescan the corpus)
    "q218_record_linkage", "q218b_linkage_em", "q219_shard_mix",
    "q220_padding_waste", "q221_length_fences", "q222_value_quantiles",
    "q223_cusum", "q225_key_skew", "q226_conformal", "q227_code_detect",
    "q228_lsh_tuning",
    // gen-12b: the round's new operators — KS grid (|sources|×|values|,
    // rides the value set), BH (m-row by construction), leak-safe
    // k-fold (the q113 component chain + a hash), Krippendorff /
    // kappa-matrix (bounded rater fan-out), KM (calendar value set),
    // chao1 (token agg + fof), silhouette (|ks| trainings, row-local
    // scoring)
    "q242_ks_test", "q243_bh_fdr", "q244_leak_folds",
    "q245_krippendorff", "q246_kaplan_meier", "q247_chao1",
    "q248_kappa_matrix", "q249_silhouette",
    // gen-12c: loss curve — count tables build once per slice; the
    // cumulative expansion and holdout scoring ride vocab/bigram value
    // sets, which replica token-suffixing grows ~10x (the q240 lesson:
    // this is the batch's vocab-bound member, the probe is the check)
    "q250_loss_curve",
    // gen-12d: two more value-set-collapse members (winsorized means
    // ride the n_chars value set; MAD adds the second deviation
    // collapse) — expect scan-dominated, near-flat
    "q251_winsorized", "q252_grouped_mad",
    // gen-13: Mann-Whitney (one global value-set window + per-group
    // rank-sum agg), log-rank (duration value-set grid x 2 cohorts),
    // Kendall tau-b (cells^2 per source — replica token-suffixing grows
    // the word-bucket value set, the probe bounds the cells^2 term)
    "q253_mann_whitney", "q254_log_rank", "q255_kendall_tau",
    // gen-14: Theil-Sen / Page-Hinkley ride the calendar-bounded daily
    // table (pairs = days^2 per key, constant in event volume); CA is
    // one cell census; snapshot diff is one id-keyed full-outer join
    // with row-local gram math (linear scan, no pair term)
    "q256_theil_sen", "q257_cochran_armitage", "q258_page_hinkley",
    "q259_snapshot_diff",
    // gen-15: row-local NFC + regex chain (linear scan by construction;
    // the probe is the falsification)
    "q260_normalize_text",
    // gen-15b: dense containment spine — the distinct (source, gram)
    // relation grows with vocabulary under replica suffixing; the
    // gram-keyed pair join rides shared grams only
    "q261_source_containment",
    // gen-16: four value-set-collapse members — KW rides per-slice
    // bucket value sets, Wasserstein/PSI the global n_chars value set
    // (grid = |groups|x|values| / |groups|x10), Gini the per-group
    // word-count value set; all report-sized after one aggregation
    "q262_kruskal_wallis", "q263_wasserstein", "q264_psi_drift",
    "q265_gini_tokens",
    // gen-16b: triangles (degree-oriented wedge join, sum-outdeg^2
    // bounded — the probe checks the orientation holds the pair term
    // down), Cramer's V (|pairs| cell censuses), basket pairs
    // (basket-keyed self-join, k_b^2 per basket), isotonic PAV
    // (bin census + B^2 interval table)
    "q266_triangles", "q267_cramers_v", "q268_basket_pairs",
    "q269_isotonic",
    // gen-16c: real-codec dHash (row-local encode/decode/pool) + the
    // banded pair join riding near-dup density — the probe checks the
    // codec pass scales linearly and the band join never goes corpus^2
    "q270_image_phash",
    // gen-16d: the audio twin — RIFF round trip row-local, 8-band join
    "q271_audio_fingerprint",
    // gen-16e: Holt fold over the calendar-bounded daily table (cusum
    // shape — state one struct per key, constant in event volume)
    "q272_holt_trend",
    // gen-16f: ORC write+read roundtrip (IO-bound, linear by
    // construction); centroid drift (one posexplode aggregation to
    // (label, dim), then report-sized)
    "q273_orc_roundtrip", "q274_centroid_drift",
    // gen-16g: CMH (one stratum census folding to one row), Benford
    // (one (group, digit) census + 9-row spine)
    "q275_cmh_test", "q276_benford",
    // gen-16h: ROI report on top of the cluster pass (pair work =
    // q64's prefix-filtered chain; the report is two aggregations)
    "q277_dedup_roi",
    // gen-16i: MI matrix — the q267 census shape, report-sized after
    "q278_mutual_info",
    // gen-17: the inference battery — q279/q280 ride the (lang, source,
    // value) census (value sets grow sub-linearly), q281/q282/q287/q288
    // are one-census + report-sized tails, q283 is the census + a
    // 10-bucket pair join, q284/q285/q286 are calendar-bounded (daily
    // collapse; replicas add VOLUME to the same days, so the day grid
    // is constant — the direct falsification of any per-event term)
    "q279_anova", "q280_brown_forsythe", "q281_cohens_d",
    "q282_cliffs_delta", "q283_hellinger", "q284_runs_test",
    "q285_acf", "q286_changepoint", "q287_dunn", "q288_wilson",
    // gen-17c: JT rides the dense (4-bucket x cents-value) grid — the
    // events value set is the growth axis; Friedman/seasonality/
    // dispersion are calendar-bounded; Burrows rides the token census
    // + a fixed 30-word grid
    "q289_jonckheere", "q290_seasonality", "q291_friedman",
    "q292_dispersion", "q293_burrows_delta",
    // gen-17d: fertility is one row-local census; the allocator is the
    // row-local gopher gate + |sources|-row exact arithmetic
    "q294_fertility", "q295_mixture_alloc",
    // gen-18 (round 12): Cochran's Q rides two censuses (per-model and
    // per-task totals — the task census is |tasks| rows, map-side
    // combined), Yule's K one token census (suffixed replicas grow the
    // vocabulary ~10x, the probe bounds the census), Mood's median one
    // global value-set window + per-group census, Durbin-Watson the
    // calendar-bounded daily lag (replicas add volume to the same days)
    "q296_cochran_q", "q297_yule_k", "q298_mood_median",
    "q299_durbin_watson",
    // gen-18d: PACF = the ACF census + a report-sized unrolled
    // recursion (calendar-bounded); Ansari-Bradley rides the n_chars
    // VALUE SET (near-flat expected); SPRT is one daily census +
    // calendar cum (replicas add volume to the same days)
    "q300_pacf", "q301_ansari_bradley", "q302_sprt",
    // gen-18e: KR-20 shares Cochran's censuses; AC1 the Fleiss census
    "q303_kr20", "q304_gwet_ac1",
    // round 13: confusable fold — 1.3x rows through a row-local codegen
    // translate chain, then ONE per-source agg whose countDistinct pair
    // shuffles the distinct (text, fold) sets; distinct texts grow
    // linearly with the suffixed replicas, so ~linear is the honest
    // expectation and the probe is the falsification
    "q305_confusable_fold",
    // gen-19a: CvM/Kuiper ride the q242 n_chars VALUE-SET grid (near-
    // flat value growth under replicas); Randolph the Fleiss census;
    // Bowker one (source, ca, cb) census + a literal 6-pair spine
    "q306_cvm_test", "q307_kuiper", "q309_randolph_kappa", "q310_bowker",
    // gen-19b: Page/Ljung-Box/turning-points are calendar-bounded
    // (replicas add volume to the same days); assortativity is the
    // triangle-fixture degree join + one global sum — edge table grows
    // with docs, no wedge term
    "q308_page_trend", "q311_assortativity", "q312_ljung_box",
    "q313_turning_points",
    // gen-20: KPSS calendar-bounded; reciprocity one reversed-key edge
    // self-join (grows with docs); RBO two WindowGroupLimit-capped
    // per-source rankings + a depth-10 spine (the ranking windows scan
    // the corpus once, everything after is 10x|sources| rows)
    "q314_kpss", "q315_reciprocity", "q316_rbo",
    // gen-21: Pettitt rides the calendar + per-group value set;
    // Wilcoxon the per-source |d| value set (diff granularity grows
    // the set ~linearly); ordinal association one bounded cell census
    // + a grid^2 pair join that never touches rows
    "q317_pettitt", "q318_wilcoxon", "q319_ordinal_assoc",
    // gen-21b: Theil's U = the q278 cell censuses + two divisions
    "q320_theil_u")

  /** Probe-only members beyond the SparkEntry registry. The IVF
    * hard-negatives probe pins the candidate-bounded path
    * (broadcastThresholdBytes = 0) with the SAME 1000 queries at both
    * scales (replica 0 keeps original vec_ids, so `vec_id < 1000`
    * selects identically), measuring how per-query cost grows with
    * CORPUS size alone — the at-scale question for mining against a
    * growing corpus. Expected ≈ linear (probed-cell size ∝ N at fixed
    * nlist); production additionally grows nlist with the corpus
    * (Faiss practice nlist ∝ √N) to cut the per-cell factor.
    */
  val ExtraQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "hard_negatives_ivf_1k" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
      graft.operators.Similarity.hardNegatives(
        e, e.filter(col("vec_id") < 1000), k = 10,
        broadcastThresholdBytes = 0L)
    }))

  def gen(spark: SparkSession): Unit = {
    Files.createDirectories(Paths.get(DstDir))
    val reps = spark.range(Replicas).select(col("id").cast("int").as("rep"))

    val docs = spark.read.parquet(s"$SrcDir/documents.parquet")
    val nDocs = docs.count()
    docs.crossJoin(broadcast(reps))
      .select(
        (col("doc_id") + col("rep").cast("long") * 10000000L).as("doc_id"),
        when(col("rep") === 0, col("text"))
          .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
            concat(lit("$1_"), col("rep").cast("string")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$DstDir/documents.parquet")

    val embs = spark.read.parquet(s"$SrcDir/embeddings.parquet")
    val nEmbs = embs.count()
    embs.crossJoin(broadcast(reps))
      .select(
        (col("vec_id") + col("rep").cast("long") * 10000000L).as("vec_id"),
        transform(col("embedding"),
          x => (x + col("rep") * lit(0.0137f)).cast("float")).as("embedding"),
        col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$DstDir/embeddings.parquet")

    // relational/event replicas for the r7-addition probes: each replica
    // is a DISJOINT key population (ids shifted by 10^7 per replica)
    // with identical per-key behavior — funnel hop latencies, cohort
    // shapes, and SCD2 change slices keep their sf0.1 density instead
    // of colliding into artificial 10-way duplicates
    val events = spark.read.parquet(s"$SrcDir/events.parquet")
    events.crossJoin(broadcast(reps))
      .select(
        (col("event_id") + col("rep").cast("long") * 10000000L)
          .as("event_id"),
        col("ts"),
        (col("user_id") + col("rep").cast("long") * 10000000L)
          .as("user_id"),
        col("event_type"), col("value"), col("props"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$DstDir/events.parquet")

    val li = spark.read.parquet(s"$SrcDir/lineitem.parquet")
    li.crossJoin(broadcast(reps))
      .select((col("l_orderkey") + col("rep").cast("long") * 10000000L)
          .as("l_orderkey"),
        col("l_partkey"), col("l_suppkey"), col("l_linenumber"),
        col("l_quantity"), col("l_extendedprice"), col("l_discount"),
        col("l_tax"), col("l_returnflag"), col("l_linestatus"),
        col("l_shipdate"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$DstDir/lineitem.parquet")

    // part is a DIMENSION for the basket probe (q268): replicas shift
    // l_orderkey only, so baskets grow 10x against the same part/brand
    // dim — copy it through unchanged
    spark.read.parquet(s"$SrcDir/part.parquet")
      .write.mode("overwrite").parquet(s"$DstDir/part.parquet")

    // c_name carries the custkey digits (TPC-H 'Customer#%09d'), and the
    // linkage probes BLOCK on name substrings — replicas must re-derive
    // the digits from the shifted key, or every block would collide
    // across replicas and the pair space would grow replicas² (a fixture
    // artifact, not operator behavior; the documents suffixing rule,
    // applied to names)
    val cust = spark.read.parquet(s"$SrcDir/customer.parquet")
    cust.crossJoin(broadcast(reps))
      .select((col("c_custkey") + col("rep").cast("long") * 10000000L)
          .as("c_custkey"),
        when(col("rep") === 0, col("c_name"))
          .otherwise(concat(lit("Customer#"),
            lpad((col("c_custkey") + col("rep").cast("long") * 10000000L)
              .cast("string"), 9, "0"))).as("c_name"),
        col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$DstDir/customer.parquet")

    println(s"[scale] generated $DstDir: documents ${nDocs * Replicas}, " +
      s"embeddings ${nEmbs * Replicas}, events/lineitem/customer x$Replicas")
  }

  /** Per-query minimum over `sweeps` full passes (the Bench.scala
    * stall-guard recipe) at one scale dir.
    */
  def timeAll(spark: SparkSession, dir: String, sweeps: Int,
      chain: Seq[String] = ChainQueries): Map[String, Double] = {
    val registry = SparkEntry.queries ++ ExtraQueries
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      registry(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    chain.foreach(once) // warm pass outside timing
    (1 to sweeps).flatMap(_ => chain.map(q => q -> once(q)))
      .groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2).min }
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("all")
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[32]").appName("graft-scale"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // `incr`: the O(delta + candidates)-per-batch claim of the persistent
    // incremental indexes, measured — ingest sf0.1's documents into an
    // IncrementalDedup index in equal modulo slices (near-dups spread
    // across batches, so cross-batch matching is exercised every round)
    // and time each batch. Flat per-batch seconds while the index grows
    // ~8x is the direct falsification of any O(index) term; a linear ramp
    // would be unmissable (batch 8 ≈ 8x batch 1).
    if (mode == "incr" || mode == "all") {
      val docs = spark.read
        .parquet("/root/testdata/sf0.1/documents.parquet")
        .select(col("doc_id"), col("text"))
      val nB = 8
      val root = Files.createTempDirectory("incrprobe").toString
      val idx = graft.operators.IncrementalDedup.create(s"$root/idx")
      // one throwaway index round first: JIT/codegen/commit-path warmup
      // lands outside every timed batch, not just the first
      val warm = graft.operators.IncrementalDedup.create(s"$root/warm")
      warm.dedupeBatch(docs.limit(200).localCheckpoint(true),
        batchId = Some("w"))
      println("| batch | batch docs | index docs before | seconds |")
      println("|---|---|---|---|")
      (0 until nB).foreach { b =>
        val slice = docs.filter(pmod(col("doc_id"), lit(nB)) === b)
          .localCheckpoint(true)
        val nDocs = slice.count()
        val before = idx.indexedDocs(spark)
        val t0 = System.nanoTime()
        idx.dedupeBatch(slice, batchId = Some(s"b$b"))
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"| ${b + 1} | $nDocs | $before | $sec%.2f |")
      }
    }
    // `chain`: the capstone CurationPipeline end-to-end (gates →
    // incremental dedup → split → decontamination → clean landing) as
    // ONE job, timed at 1× and 10× documents — the composed-capability
    // datapoint, not a per-operator one. Fresh pipeline root per run
    // (the chain is stateful); a small warmup run pays codegen/JIT
    // outside both timed windows. Three epochs per run so the
    // cross-epoch index paths (the part that could hide an O(index)
    // term) are on the clock.
    if (mode == "chain" || mode == "all") {
      def runChain(dir: String, limit: Long): Double = {
        val all = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("text"), col("lang"))
        val docs = if (limit > 0) all.filter(col("doc_id") % 7919 < limit)
          else all
        val bench = docs.filter(pmod(col("doc_id"), lit(997)) === 3)
          .select(col("text")).limit(50).localCheckpoint(true)
        val root = Files.createTempDirectory("chainprobe").toString
        val p = graft.pipeline.CurationPipeline.create(s"$root/p")
        val nB = 3
        val slices = (0 until nB).map(b =>
          docs.filter(pmod(col("doc_id"), lit(nB)) === b)
            .localCheckpoint(true))
        val t0 = System.nanoTime()
        slices.zipWithIndex.foreach { case (s, i) =>
          p.applyEpoch(s, bench, s"e$i") }
        (System.nanoTime() - t0) / 1e9
      }
      runChain(SrcDir, limit = 500) // warmup
      val a = runChain(SrcDir, 0)
      val b = runChain(DstDir, 0)
      val expo = math.log(b / a) / math.log(Replicas.toDouble)
      println(f"| curation_chain_3epoch | $a%.2f | $b%.2f | ${b / a}%.1f× " +
        f"| $expo%.2f |")
    }
    // `recluster`: the VectorIndex maintenance action at 1x vs 10x
    // vectors — create on the replica-0-ish fifth of the corpus, ingest
    // the (shifted-replica) rest so centroids are genuinely stale, then
    // time recluster() and measure the pruning (scoredFraction) it buys
    // back. Expected cost shape: ~LINEAR in N by construction (training
    // samples <= nlist*64 rows regardless of N; the re-assign is one
    // O(N*nlist)-flop row-local scan; the swap is two table commits) —
    // this probe is the falsification of any hidden pairwise term.
    if (mode == "recluster" || mode == "all") {
      def runReclust(dir: String): (Double, Double, Double) = {
        val e = spark.read.parquet(s"$dir/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
        val root = Files.createTempDirectory("reclustprobe").toString
        val idx = graft.operators.VectorIndex.create(s"$root/idx",
          e.filter(pmod(col("vec_id"), lit(5)) === 0), nlist = 16)
        idx.addBatch(e.filter(pmod(col("vec_id"), lit(5)) =!= 0),
          Some("drift"))
        val queries = e.filter(col("vec_id") < 200)
        val fBefore = idx.scoredFraction(queries, k = 10)
        val t0 = System.nanoTime()
        val idx2 = idx.recluster(spark)
        val sec = (System.nanoTime() - t0) / 1e9
        val fAfter = idx2.scoredFraction(queries, k = 10)
        (sec, fBefore, fAfter)
      }
      runReclust(SrcDir) // warmup: codegen/JIT/commit-path
      val (a, fb1, fa1) = runReclust(SrcDir)
      val (b, fb2, fa2) = runReclust(DstDir)
      val expo = math.log(b / a) / math.log(Replicas.toDouble)
      println(f"| vecindex_recluster | $a%.2f | $b%.2f | ${b / a}%.1f× " +
        f"| $expo%.2f |")
      println(f"[recluster] scoredFraction 1x: $fb1%.3f -> $fa1%.3f; " +
        f"10x: $fb2%.3f -> $fa2%.3f")
    }
    // `pipeline` (round-11 verdict task 7): the streaming capstone's
    // composed per-epoch cost — CHECK gate → audit → cross-batch dedup →
    // split → corpus landing through pipelineEpoch (the exact code the
    // foreachBatch stream drives), 3 epochs, fresh table family per run.
    // Same shape as `chain` but through the nine-table streaming face.
    if (mode == "pipeline" || mode == "pipeline100" || mode == "all") {
      import org.apache.spark.sql.types.StructType
      def runPipe(dir: String, limit: Long): Double = {
        val all = spark.read.parquet(s"$dir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"))
        val docs = if (limit > 0) all.filter(col("doc_id") % 7919 < limit)
          else all
        val root = Files.createTempDirectory("pipeprobe").toString
        val checked = new graft.table.MergeTable(s"$root/checked",
          StructType.fromDDL("doc_id BIGINT, lang STRING, text STRING"),
          keyCol = "doc_id", partitionCol = None).create()
        checked.addCheckConstraint(spark, "nonneg_id", "doc_id >= 0")
        val dl = new graft.table.MergeTable(s"$root/dead",
          StructType.fromDDL(
            "doc_id BIGINT, lang STRING, text STRING, violated STRING"),
          keyCol = "doc_id", partitionCol = None).create()
        val audit = new graft.table.MergeTable(s"$root/audit",
          StructType.fromDDL("doc_id BIGINT, gate_exact BOOLEAN, " +
            "gate_lang BOOLEAN, gate_gopher BOOLEAN, gate_quality BOOLEAN, " +
            "gate_pii BOOLEAN, keep BOOLEAN, first_fail STRING"),
          keyCol = "doc_id", partitionCol = None).create()
        val corpus = new graft.table.MergeTable(s"$root/corpus",
          StructType.fromDDL(
            "doc_id BIGINT, lang STRING, text STRING, split STRING"),
          keyCol = "doc_id", partitionCol = None).create()
        val dedup = graft.operators.IncrementalDedup.create(s"$root/dedup")
        val split = graft.operators.IncrementalSplit.create(s"$root/split")
        val nB = 3
        val slices = (0 until nB).map(bi =>
          docs.filter(pmod(col("doc_id"), lit(nB)) === bi)
            .localCheckpoint(true))
        val t0 = System.nanoTime()
        slices.zipWithIndex.foreach { case (s, i) =>
          graft.streaming.CorpusStreams.pipelineEpoch(s, i.toLong, checked,
            dl, audit, dedup, split, corpus, 0.9, 0.7, 0.5,
            Seq("en", "de", "fr", "es", "ja"))
        }
        (System.nanoTime() - t0) / 1e9
      }
      runPipe(SrcDir, limit = 500) // warmup
      if (mode == "pipeline100") {
        // round-12 verdict task 8: one composed 3-epoch chain at 100×
        // (the gen100 replica set — run `gen100` first), matching the
        // dense-grid/CDC-demux 100× evidence. Epoch slicing is the same
        // doc_id % 3, so each epoch carries ~33 replicas' volume.
        val a = runPipe(SrcDir, 0)
        val b = runPipe(Dst100, 0)
        val expo = math.log(b / a) / math.log(Replicas100.toDouble)
        println(f"| pipeline_ingest_3epoch_100x | $a%.2f | $b%.2f " +
          f"| ${b / a}%.1f× | $expo%.2f |")
      } else {
        val a = runPipe(SrcDir, 0)
        val b = runPipe(DstDir, 0)
        val expo = math.log(b / a) / math.log(Replicas.toDouble)
        println(f"| pipeline_ingest_3epoch | $a%.2f | $b%.2f | ${b / a}%.1f× " +
          f"| $expo%.2f |")
      }
    }
    if (mode == "gen100") {
      Files.createDirectories(Paths.get(Dst100))
      val reps = spark.range(Replicas100)
        .select(col("id").cast("int").as("rep"))
      val docs = spark.read.parquet(s"$SrcDir/documents.parquet")
      docs.crossJoin(broadcast(reps))
        .select(
          (col("doc_id") + col("rep").cast("long") * 10000000L)
            .as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(regexp_replace(col("text"), lit("(\\S+)"),
              concat(lit("$1_"), col("rep").cast("string")))).as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$Dst100/documents.parquet")
      val events = spark.read.parquet(s"$SrcDir/events.parquet")
      events.crossJoin(broadcast(reps))
        .select(
          (col("event_id") + col("rep").cast("long") * 10000000L)
            .as("event_id"),
          col("ts"),
          (col("user_id") + col("rep").cast("long") * 10000000L)
            .as("user_id"),
          col("event_type"), col("value"), col("props"))
        .repartition(64)
        .write.mode("overwrite").parquet(s"$Dst100/events.parquet")
      println(s"[scale] generated $Dst100 (documents + events x$Replicas100)")
    }
    if (mode == "probe100") {
      val sweeps = sys.env.getOrElse("SCALE_SWEEPS", "2").toInt
      val small = timeAll(spark, SrcDir, sweeps, Grid100)
      val big = timeAll(spark, Dst100, sweeps, Grid100)
      println("| query | sf0.1 (s) | 100x (s) | growth | exponent |")
      println("|---|---|---|---|---|")
      Grid100.foreach { q =>
        val (a, b) = (small(q), big(q))
        val growth = b / a
        val expo = math.log(growth) / math.log(Replicas100.toDouble)
        println(f"| $q | $a%.2f | $b%.2f | ${growth}%.1f× | $expo%.2f |")
      }
    }
    // `demux` (round-12 verdict task 6): startMulti's per-table commit
    // isolation under volume — ONE landing stream routed round-robin to
    // 3 MergeTables, replayed at 30k and 300k records through the REAL
    // streaming face (AvailableNow trigger, text landing source). The
    // parse/classify pass is shared (cached once per micro-batch); each
    // destination pays one filtered applyBatch + its own commit. A flat
    // exponent certifies the per-table isolation cost stays fixed while
    // volume grows — adding a destination buys one filtered apply, not
    // another parse of the batch.
    if (mode == "demux") {
      def runDemux(nRec: Long): Double = {
        val base = Files.createTempDirectory("demuxprobe").toString
        val landing = s"$base/landing"
        Files.createDirectories(Paths.get(landing))
        val cat = new graft.catalog.LakeCatalog(s"$base/wh")
        cat.createDatabase("lake")
        val nTabs = 3
        val routes = (0 until nTabs).map { i =>
          cat.createTable("lake", s"t_$i",
            graft.model.Schemas.LakeTableSchema, "trans_id", Some("event"))
          graft.transform.CdcRoute("testdb", s"retail_trans_$i",
            "lake", s"t_$i")
        }
        graft.fixtures.RetailGen
          .cdcJsonLines(spark, nRec, keySpace = math.max(nRec / 2, 1))
          .withColumn("value", regexp_replace(col("value"),
            lit("\"table-name\":\"retail_trans\""),
            concat(lit("\"table-name\":\"retail_trans_"),
              pmod(xxhash64(col("value")), lit(nTabs)).cast("string"),
              lit("\""))))
          .coalesce(8).write.mode("overwrite").text(landing)
        val cfg = graft.stream.CdcPipeline.MultiConfig(
          landingDir = landing, warehouse = s"$base/wh",
          errorRoot = s"$base/errors", checkpointDir = s"$base/ckpt",
          routes = routes)
        val t0 = System.nanoTime()
        val q = graft.stream.CdcPipeline.startMulti(spark, cfg)
        q.awaitTermination(600000)
        val sec = (System.nanoTime() - t0) / 1e9
        // sanity: the records must actually have routed (a rewrite-regex
        // mismatch would dead-letter everything and measure nothing)
        val landed = (0 until nTabs)
          .map(i => cat.getTable("lake", s"t_$i").read(spark).count()).sum
        println(f"[demux] n=$nRec landed=$landed (keyed rows) $sec%.2f s")
        sec
      }
      runDemux(5000) // warmup: codegen/JIT/commit paths
      val a = runDemux(30000)
      val b = runDemux(300000)
      val expo = math.log(b / a) / math.log(10.0)
      println(f"| cdc_demux_3tables | $a%.2f | $b%.2f | ${b / a}%.1f× " +
        f"| $expo%.2f |")
    }
    if (mode == "gen" || mode == "all") gen(spark)
    if (mode == "probe" || mode == "all") {
      val sweeps = sys.env.getOrElse("SCALE_SWEEPS", "3").toInt
      // dev loop: SCALE_ONLY=q213_retention,q217_conversion_lag probes a
      // subset; unset = the full chain
      val only = sys.env.get("SCALE_ONLY")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      val chain = ChainQueries.filter(q => only.forall(_.contains(q)))
      val small = timeAll(spark, SrcDir, sweeps, chain)
      val big = timeAll(spark, DstDir, sweeps, chain)
      println(f"""| query | sf0.1 (s) | 10x docs (s) | growth | exponent |""")
      println(f"""|---|---|---|---|---|""")
      chain.foreach { q =>
        val (a, b) = (small(q), big(q))
        val growth = b / a
        val expo = math.log(growth) / math.log(Replicas.toDouble)
        println(f"| $q | $a%.2f | $b%.2f | ${growth}%.1f× | $expo%.2f |")
      }
    }
    spark.stop()
  }
}
