package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parametric / effect-size inference battery (gen-17) — the classical
  * companions to the nonparametric tests in [[EvalOps]]: where
  * Kruskal–Wallis asks "do the groups differ in location at all"
  * rank-wise, [[anovaF]] asks it in the value's own units and [[etaSq]]
  * sizes it; [[brownForsythe]] asks the PRIOR question every pooled-
  * variance method assumes away (are the variances even comparable);
  * [[cohensD]]/[[cliffsDelta]] turn "significant" into "how big";
  * [[dunnPosthoc]] localizes an omnibus rank signal to the guilty pairs;
  * [[hellingerMatrix]] gives the bounded symmetric distribution distance
  * that PSI/KL are not; [[runsTest]], [[acf]] and [[changepoint]] read
  * the time axis (randomness, memory, and the single best break).
  *
  * Exactness discipline (the [[EvalOps]] contract): corpora collapse to
  * (slice, group, value → count) VALUE SETS before any window; all sums
  * of products ride BIGINT/DECIMAL(38,0); each quantized output takes
  * ONE truncating `div` chain (Spark `div` ≡ DuckDB `//`, both truncate
  * toward zero) or a floor-quantized double chain built from exact
  * integer casts (correctly-rounded IEEE ops in a fixed expression
  * shape — engine-identical, the mutual-information precedent); sqrt is
  * the only transcendental and is correctly rounded everywhere.
  * Degenerate inputs (empty groups, zero variance, single-valued
  * columns) report NULL, never crash or fake zeros.
  */
object Inference {

  /** 95% two-sided normal critical value, pinned to the digits both
    * engines replay literally (the q262 Wilson–Hilferty constant's
    * sibling).
    */
  private val Z95 = 1.959964

  /** (slice, group, value, count) census of `df` — every operator's
    * first aggregation; value cast to BIGINT up front so all downstream
    * arithmetic is integer-exact.
    */
  private def census(df: DataFrame, sliceCol: String, groupCol: String,
      valueCol: String): DataFrame =
    df.groupBy(col(sliceCol).as("_s"), col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))

  /** One-way ANOVA F + η² per slice (q279) — the parametric omnibus:
    * with groups g of sizes n_g, sums S_g and a per-slice sum of squares
    * Q, SSB = Σ S_g²/n_g − S²/N and SSW = Q − Σ S_g²/n_g. Everything is
    * ×10⁶-scaled EXACT integer arithmetic: per-group term6 =
    * S_g²·10⁶ div n_g via the q/r split (quantize-per-term then
    * integer-sum — the PSI/MI precedent, replayed identically by the
    * oracle), so SSB6/SSW6/SST6 are DECIMAL(38,0) and
    * F6 = SSB6·dfW·10⁶ div (SSW6·dfB) is one truncating division.
    * η²6 = SSB6·10⁶ div SST6. The significance gate uses the
    * large-denominator-df approximation dfB·F ≳ χ²₀.₉₅(dfB) with the
    * same Wilson–Hilferty cube q262 pins (explicit w·w·w, never pow).
    * Zero within-variance or single-group slices report NULL F.
    *
    * Scale: one census, |slices×groups|-row arithmetic after — corpus
    * rows enter exactly one aggregation.
    */
  def anovaF(df: DataFrame, sliceCol: String, groupCol: String,
      valueCol: String): DataFrame =
    anovaCore(census(df, sliceCol, groupCol, valueCol), sliceCol)

  /** The F machinery over an existing (_s, _g, _v, _c) census — shared
    * with [[brownForsythe]] so the deviation variant can never drift
    * from the raw one.
    */
  private def anovaCore(cells: DataFrame, sliceCol: String): DataFrame = {
    val grp = cells.groupBy(col("_s"), col("_g"))
      .agg(sum(col("_c")).as("_n"), sum(col("_v") * col("_c")).as("_sg"),
        sum(col("_v").cast("decimal(38,0)") * col("_v") * col("_c"))
          .as("_qg"))
      // term6 = S_g²·10⁶ div n_g, q/r-split (kruskalWallis discipline)
      .withColumn("_t6", expr(
        """(CAST(_sg AS DECIMAL(38,0)) * _sg div _n) * 1000000
           + (CAST(_sg AS DECIMAL(38,0)) * _sg % _n) * 1000000 div _n"""))
    val slice = grp.groupBy(col("_s"))
      .agg(count(lit(1)).as("k"), sum(col("_n")).as("n"),
        sum(col("_sg")).as("_stot"),
        sum(col("_qg").cast("decimal(38,0)")).as("_q"),
        sum(col("_t6").cast("decimal(38,0)")).as("_a6"))
      .withColumn("_c6", expr(
        """(CAST(_stot AS DECIMAL(38,0)) * _stot div n) * 1000000
           + (CAST(_stot AS DECIMAL(38,0)) * _stot % n) * 1000000 div n"""))
      .withColumn("_ssb6", col("_a6") - col("_c6"))
      .withColumn("_ssw6", col("_q") * lit(1000000L) - col("_a6"))
      .withColumn("_sst6", col("_q") * lit(1000000L) - col("_c6"))
      .withColumn("_dfb", col("k") - 1L)
      .withColumn("_dfw", col("n") - col("k"))
    slice
      .withColumn("_f6", when(col("_dfb") > 0 && col("_dfw") > 0
          && col("_ssw6") > 0,
        expr("_ssb6 * _dfw * 1000000 div nullif(_ssw6 * _dfb, 0)")))
      .withColumn("_eta6", when(col("_sst6") > 0,
        expr("_ssb6 * 1000000 div nullif(_sst6, 0)")))
      // Wilson–Hilferty χ²₀.₉₅(dfB), the q262 cube. _nu floors at 1:
      // ANSI Spark throws DIVIDE_BY_ZERO for double / too, and _crit6
      // is NULL-gated on dfb >= 1 anyway, so the floor never shows
      .withColumn("_nu", greatest(col("_dfb"), lit(1L)).cast("double"))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722) * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("_crit6", when(col("_dfb") >= 1, floor(col("_nu")
        * col("_wh") * col("_wh") * col("_wh") * 1e6).cast("long")))
      .select(col("_s").as(sliceCol), col("k"), col("n"),
        (col("_f6").cast("double") / 1e6).as("f_stat"),
        (col("_eta6").cast("double") / 1e6).as("eta2"),
        when(col("_f6").isNotNull && col("_crit6").isNotNull,
          // DECIMAL(38,0) product: BIGINT _f6·_dfb can ANSI-overflow at
          // extreme F (sub-unit ssw6) where the oracle's HUGEINT side
          // returns a value — keep both sides exact and total
          col("_f6").cast("decimal(38,0)") * col("_dfb") > col("_crit6"))
          .as("significant"))
  }

  /** Brown–Forsythe homogeneity-of-variance test per slice (q280) —
    * Levene's test with the MEDIAN center (the robust variant everyone
    * actually uses): per group take z = |v − m_g| with m_g the group's
    * LOWER median (first value whose cumulative count reaches
    * (n_g+1) div 2 — integer by construction, no midpoint float), then
    * run the exact [[anovaF]] machinery on the z census. The z values
    * stay integers, so the whole chain inherits ANOVA's exactness
    * verbatim (the shared anovaCore is the proof by construction).
    * W > crit says the spreads differ — the gate to run BEFORE any
    * pooled-variance comparison ([[cohensD]]'s s_p assumes it).
    *
    * Scale: census + per-group value-set window for the median +
    * re-census of |v−m| — value-set-sized throughout.
    */
  def brownForsythe(df: DataFrame, sliceCol: String, groupCol: String,
      valueCol: String): DataFrame = {
    val cells = census(df, sliceCol, groupCol, valueCol)
    val w = Window.partitionBy(col("_s"), col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val withCum = cells.withColumn("_cum", sum(col("_c")).over(w))
    val totals = cells.groupBy(col("_s"), col("_g"))
      .agg(sum(col("_c")).as("_ng"))
    val med = withCum.join(broadcast(totals), Seq("_s", "_g"))
      .filter(col("_cum") >= expr("(_ng + 1) div 2"))
      .groupBy(col("_s"), col("_g")).agg(min(col("_v")).as("_m"))
    val zCells = cells.join(broadcast(med), Seq("_s", "_g"))
      .groupBy(col("_s"), col("_g"), abs(col("_v") - col("_m")).as("_v"))
      .agg(sum(col("_c")).as("_c"))
    anovaCore(zCells, sliceCol)
      .withColumnRenamed("f_stat", "w_stat")
  }

  /** Cohen's d / Hedges' g per group vs the REST of the corpus (q281) —
    * the effect size an omnibus p-value refuses to give: d =
    * (mean_g − mean_rest)/s_p with the pooled SD. All moments (n, S, Q
    * per group and complement) are exact BIGINT/DECIMAL; d is ONE fixed
    * double chain over their casts — each division and the single sqrt
    * correctly rounded, so the floor-quantized result replays
    * bit-identically in the oracle (the mutual-information precedent).
    * g = d·(1 − 3/(4·df−1)) (Hedges' small-sample correction, df=N−2).
    * Magnitude labels at the conventional |d| cuts 0.2/0.5/0.8 compare
    * QUANTIZED values, so the label is as deterministic as the number.
    * Groups with zero pooled variance (or covering the corpus) are NULL.
    *
    * Scale: one census to per-group moments, |groups|-row arithmetic.
    */
  def cohensD(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val g = df.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(col(valueCol).cast("long")).as("_sg"),
        sum(col(valueCol).cast("decimal(38,0)") * col(valueCol))
          .as("_qg"))
    val tot = g.agg(sum(col("_n")).as("_nall"), sum(col("_sg")).as("_sall"),
      sum(col("_qg").cast("decimal(38,0)")).as("_qall"))
    g.crossJoin(broadcast(tot))
      .withColumn("_nr", col("_nall") - col("_n"))
      .withColumn("_sr", col("_sall") - col("_sg"))
      .withColumn("_qr", col("_qall") - col("_qg"))
      .filter(col("_nr") > 0)
      // ssw_g = Q_g − S_g²/n_g (and the rest's twin), in doubles built
      // from exact integer casts — one fixed chain, one sqrt
      .withColumn("_vg", col("_qg").cast("double")
        - col("_sg").cast("double") * col("_sg").cast("double")
          / col("_n").cast("double"))
      .withColumn("_vr", col("_qr").cast("double")
        - col("_sr").cast("double") * col("_sr").cast("double")
          / col("_nr").cast("double"))
      .withColumn("_sp2", (col("_vg") + col("_vr"))
        / expr("nullif(CAST(_nall - 2 AS DOUBLE), 0.0)"))
      .withColumn("_d", when(col("_sp2") > 0,
        (col("_sg").cast("double") / col("_n").cast("double")
          - col("_sr").cast("double") / col("_nr").cast("double"))
          / expr("nullif(sqrt(_sp2), 0.0)")))
      .withColumn("_d6", floor(col("_d") * 1e6).cast("long"))
      .withColumn("_corr", lit(1.0) - lit(3.0)
        / (lit(4.0) * (col("_nall") - 2L).cast("double") - lit(1.0)))
      .withColumn("_g6", floor(col("_d") * col("_corr") * 1e6).cast("long"))
      .select(col("_g").as(groupCol), col("_n").as("n"),
        col("_d6").as("cohens_d6"),
        col("_g6").as("hedges_g6"),
        when(col("_d6").isNull, lit(null).cast("string"))
          .when(abs(col("_d6")) < 200000L, "negligible")
          .when(abs(col("_d6")) < 500000L, "small")
          .when(abs(col("_d6")) < 800000L, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** Cliff's delta per group vs rest (q282) — the ORDINAL effect size:
    * δ = (#{x>y} − #{x<y})/(n_g·n_rest) over all cross pairs, computed
    * WITHOUT a pair join: on the global value set, a group cell (v, c)
    * dominates exactly the rest-mass strictly below v and is dominated
    * by the rest-mass strictly above, both read off two cumulative
    * windows (global and per-group) — the [[EvalOps.mannWhitney]]
    * U-from-CDF identity, signed. All counts BIGINT (Σ c·mass ≤ N² —
    * DECIMAL product), δ6 = D·10⁶ div (n_g·n_r) one truncating division.
    * Magnitude at the conventional |δ| cuts 0.147/0.33/0.474 (Romano
    * et al.), compared on the quantized value.
    *
    * Scale: one census + two value-set windows; no pair term anywhere.
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val vals = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_tot"))
    val wAll = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val valsCum = vals.withColumn("_cumT", sum(col("_tot")).over(wAll))
    val wGrp = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nAll = cells.agg(sum(col("_c")).as("_nall"))
    val grpN = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_ng"))
    cells
      .withColumn("_cumC", sum(col("_c")).over(wGrp))
      .join(valsCum.select(col("_v"), col("_tot"), col("_cumT")), Seq("_v"))
      .crossJoin(broadcast(nAll))
      .join(broadcast(grpN), Seq("_g"))
      // REST strictly below / strictly above v: the global mass minus
      // the group's OWN mass on each side
      .withColumn("_lo", (col("_cumT") - col("_tot"))
        - (col("_cumC") - col("_c")))
      .withColumn("_hi", (col("_nall") - col("_cumT"))
        - (col("_ng") - col("_cumC")))
      .groupBy(col("_g"))
      .agg(max(col("_nall")).as("_nall"),
        sum(col("_c").cast("decimal(38,0)")
          * (col("_lo") - col("_hi"))).as("_dRaw"))
      .join(broadcast(grpN), Seq("_g"))
      .withColumn("_nr", col("_nall") - col("_ng"))
      .filter(col("_nr") > 0)
      .select(col("_g"), col("_ng"), col("_nr"), col("_dRaw"))
      // guarded for the same fused-Filter+Project reason as changepoint
      .withColumn("_d6", expr("""CASE WHEN _nr > 0 THEN
        _dRaw * 1000000 div nullif(CAST(_ng AS DECIMAL(38,0)) * _nr, 0) END"""))
      .select(col("_g").as(groupCol), col("_ng").as("n"),
        col("_d6").cast("long").as("cliffs_delta6"),
        when(abs(col("_d6")) < 147000L, "negligible")
          .when(abs(col("_d6")) < 330000L, "small")
          .when(abs(col("_d6")) < 474000L, "medium")
          .otherwise("large").as("magnitude"))
  }

  /** Pairwise Hellinger distance matrix between groups over decile
    * buckets of `valueCol` (q283) — the bounded symmetric distribution
    * distance [[CorpusOps.sourceKl]] and PSI are not: H ∈ [0,1], defined
    * even on disjoint supports. Buckets are the PSI/q264 left-rank
    * deciles of the GLOBAL value set, so every group is binned on the
    * same grid. Per shared bucket the Bhattacharyya summand
    * √(p_gb·q_hb) is floor-quantized at 1e-6 then integer-summed (cells
    * absent on either side contribute exact 0 — inner join, no dense
    * spine), BC = ΣBC6/10⁶, H6 = floor(√(max(0, 1−BC))·10⁶). Two sqrt
    * levels, each a correctly-rounded IEEE op in a fixed shape both
    * engines replay.
    *
    * Scale: one census to |groups|×10 bucket masses, a bucket-keyed
    * |groups|²-bounded join — report-sized after the first aggregation.
    */
  def hellingerMatrix(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val g = df.groupBy(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val vals = g.groupBy(col("_v")).agg(sum(col("_c")).as("_ct"))
    val nAll = g.agg(sum(col("_c")).as("_nall"))
    val wAll = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val bk = vals.withColumn("_cum", sum(col("_ct")).over(wAll))
      .crossJoin(broadcast(nAll))
      .withColumn("_b", least(lit(9L),
        expr("(_cum - _ct) * 10 div _nall")))
      .select(col("_v"), col("_b"))
    val gb = g.join(bk, Seq("_v"))
      .groupBy(col("_g"), col("_b")).agg(sum(col("_c")).as("_ngb"))
    val gn = gb.groupBy(col("_g")).agg(sum(col("_ngb")).as("_ng"))
    val a = gb.join(broadcast(gn), Seq("_g"))
      .select(col("_g").as("_ga"), col("_b"), col("_ngb").as("_na"),
        col("_ng").as("_nga"))
    val b = gb.join(broadcast(gn), Seq("_g"))
      .select(col("_g").as("_gb"), col("_b"), col("_ngb").as("_nb"),
        col("_ng").as("_ngb2"))
    val shared = a.join(b, Seq("_b")).filter(col("_ga") < col("_gb"))
      .withColumn("_cell6", floor(sqrt(
        (col("_na").cast("double") / col("_nga").cast("double"))
          * (col("_nb").cast("double") / col("_ngb2").cast("double")))
        * 1e6).cast("long"))
      .groupBy(col("_ga"), col("_gb"))
      .agg(sum(col("_cell6")).as("_bc6"))
    // every pair appears, including fully-disjoint supports (no shared
    // bucket → BC 0, H 1 — exactly the case Hellinger exists to bound)
    val spine = gn.select(col("_g").as("_ga"))
      .crossJoin(broadcast(gn.select(col("_g").as("_gb"))))
      .filter(col("_ga") < col("_gb"))
    spine.join(shared, Seq("_ga", "_gb"), "left")
      .withColumn("_bc6", coalesce(col("_bc6"), lit(0L)))
      .withColumn("_h6", floor(sqrt(greatest(lit(0.0),
        lit(1.0) - col("_bc6").cast("double") / 1e6)) * 1e6).cast("long"))
      .select(col("_ga").as("group_a"), col("_gb").as("group_b"),
        (least(col("_bc6"), lit(1000000L)).cast("double") / 1e6).as("bc"),
        (col("_h6").cast("double") / 1e6).as("hellinger"))
  }

  /** Wald–Wolfowitz runs test per group on the daily activity series
    * (q284) — is the above/below-median pattern of a source's daily
    * volume random, or does it clump (bursts, outages, weekly cycles)?
    * Days are bucketed from `tsCol`, counts per day are exact, the
    * reference cut is the LOWER median of the daily-count value set,
    * median-tied days are dropped (the standard treatment). Runs R
    * count sign changes via one lag() over the (calendar-bounded)
    * per-group day sequence; with n₁ up-days and n₂ down-days,
    * z = (R − μ)/σ with μ = 2n₁n₂/n + 1 and
    * σ² = 2n₁n₂(2n₁n₂−n)/(n²(n−1)) — doubles from exact BIGINTs (n is
    * days, so products are tiny), one sqrt, floor-quantized. Groups
    * with n₁ = 0 or n₂ = 0 (or σ = 0) report NULL z.
    *
    * Scale: events collapse to (group, day) counts — windows run over
    * the calendar, never over events.
    */
  def runsTest(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val medVals = daily.groupBy(col("_g"), col("_x"))
      .agg(count(lit(1)).as("_c"))
    val wv = Window.partitionBy(col("_g")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val nd = medVals.groupBy(col("_g")).agg(sum(col("_c")).as("_ndays"))
    val med = medVals.withColumn("_cum", sum(col("_c")).over(wv))
      .join(broadcast(nd), Seq("_g"))
      .filter(col("_cum") >= expr("(_ndays + 1) div 2"))
      .groupBy(col("_g")).agg(min(col("_x")).as("_m"))
    val signed = daily.join(broadcast(med), Seq("_g"))
      .filter(col("_x") =!= col("_m"))
      .withColumn("_sign", when(col("_x") > col("_m"), 1).otherwise(-1))
    val wd = Window.partitionBy(col("_g")).orderBy(col("_d"))
    signed
      .withColumn("_prev", lag(col("_sign"), 1).over(wd))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col("_sign") === 1, 1L).otherwise(0L)).as("_n1"),
        sum(when(col("_sign") === -1, 1L).otherwise(0L)).as("_n2"),
        (sum(when(col("_prev").isNull
          || col("_prev") =!= col("_sign"), 1L).otherwise(0L))).as("_r"))
      .withColumn("_mu", lit(2.0) * col("_n1") * col("_n2")
        / col("_n").cast("double") + lit(1.0))
      .withColumn("_var", (lit(2.0) * col("_n1") * col("_n2")
        * (lit(2.0) * col("_n1") * col("_n2") - col("_n")))
        / expr("nullif(CAST(_n AS DOUBLE) * _n * CAST(_n - 1 AS DOUBLE), 0.0)"))
      .withColumn("_z6", when(col("_n1") > 0 && col("_n2") > 0
          && col("_var") > 0,
        floor((col("_r").cast("double") - col("_mu"))
          / expr("nullif(sqrt(_var), 0.0)") * 1e6).cast("long")))
      .select(col("_g").as(groupCol), col("_n").as("n_days"),
        col("_n1").as("n_above"), col("_n2").as("n_below"),
        col("_r").as("runs"),
        (col("_z6").cast("double") / 1e6).as("z"),
        when(col("_z6").isNotNull, abs(col("_z6")) <= 1959964L)
          .as("consistent_with_random"))
  }

  /** Autocorrelation function (lags 1..`maxLag`) of the daily event
    * count per group (q285) — the memory read: weekly cycles show as an
    * ACF spike at 7, bursts as slow decay, a healthy ingest as nothing.
    * Built on the DENSE calendar spine (gap days count 0 — skipping
    * them would alias every lag), x_t exact BIGINT. The n²-scaled exact
    * identity removes the mean without ever forming it:
    * n²·Σ(x_t−x̄)(x_{t+k}−x̄) = n²P_k − nS(H_k+T_k) + (n−k)S², and
    * n²·Σ(x_t−x̄)² = n²Q − nS², all DECIMAL(38,0) from one lag-exploded
    * equi-join; acf6 = num·10⁶ div den (truncating, sign-exact in both
    * engines). Constant series (den = 0) report NULL.
    *
    * Scale: events collapse to the calendar; the lag join is
    * |groups|·days·maxLag — calendar-sized, constant in event volume.
    */
  def acf(events: DataFrame, groupCol: String, tsCol: String,
      maxLag: Int = 7): DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val spine = span.select(col("_g"),
      explode(sequence(col("_d0"), col("_d1"))).as("_d"))
    val daily = spine.join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
      .withColumn("_t", datediff(col("_d"),
        min(col("_d")).over(Window.partitionBy(col("_g")))).cast("long"))
    val stats = daily.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"))
    val lags = daily.select(col("_g"), col("_t"), col("_x"),
      explode(sequence(lit(1), lit(maxLag))).as("_k"))
      .withColumn("_tj", col("_t") + col("_k"))
    val pairs = lags.alias("h").join(
        daily.select(col("_g"), col("_t").as("_tj"),
          col("_x").as("_xj")).alias("t"),
        Seq("_g", "_tj"))
      .groupBy(col("_g"), col("_k"))
      .agg(sum(col("_x").cast("decimal(38,0)") * col("_xj")).as("_p"),
        sum(col("_x")).as("_h"), sum(col("_xj")).as("_t2"))
    pairs.join(broadcast(stats), Seq("_g"))
      .withColumn("_num", expr(
        """CAST(_n AS DECIMAL(38,0)) * _n * _p
           - CAST(_n AS DECIMAL(38,0)) * _s * (_h + _t2)
           + (CAST(_n AS DECIMAL(38,0)) - _k) * _s * _s"""))
      .withColumn("_den", expr(
        "CAST(_n AS DECIMAL(38,0)) * _n * _q - CAST(_n AS DECIMAL(38,0)) * _s * _s"))
      .withColumn("_acf6", when(col("_den") > 0,
        expr("_num * 1000000 div nullif(_den, 0)")))
      .select(col("_g").as(groupCol), col("_k").cast("long").as("lag"),
        col("_n").as("n_days"),
        col("_acf6").cast("long").as("acf6"))
  }

  /** Best single change point per group over the daily count series
    * (q286) — one step of binary segmentation (the CUSUM/Page–Hinkley
    * companion that ANSWERS "when"): over the dense calendar spine,
    * split at τ maximizing gain(τ) = S_L²/n_L + S_R²/n_R − S²/n (the
    * between-segment sum-of-squares reduction). Each term is the exact
    * ×10⁶ q/r-split quotient, so gain6 is exact integer; the argmax day
    * is located by max-then-join-back on the strictly computed gain6
    * (the q265-fix recipe — no struct-min/arg_max constructs, nothing
    * version-sensitive), tie → earliest day. Segment means are one
    * truncating division each. Constant series report gain 0 at the
    * first split — callers gate on `gain`.
    *
    * Scale: calendar-sized cumulative windows; events enter one
    * aggregation.
    */
  def changepoint(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("_tau", count(lit(1)).over(w))
      .withColumn("_sl", sum(col("_x")).over(w))
    val tot = cum.groupBy(col("_g"))
      .agg(max(col("_tau")).as("_n"), max(col("_sl")).as("_s"))
    // the _nr divisions are wrapped in the SAME predicate the filter
    // applies: Spark fuses Filter+Project in one codegen stage and may
    // evaluate projection expressions on pre-filter rows (observed:
    // ANSI DIVIDE_BY_ZERO from a _tau = _n row that the filter was
    // about to drop) — a total expression is the only safe shape
    val gains = cum.join(broadcast(tot), Seq("_g"))
      .filter(col("_tau") < col("_n"))
      .withColumn("_sr", col("_s") - col("_sl"))
      .withColumn("_nr", col("_n") - col("_tau"))
      .withColumn("_g6", expr("""CASE WHEN _nr > 0 THEN
          (CAST(_sl AS DECIMAL(38,0)) * _sl div _tau) * 1000000
          + (CAST(_sl AS DECIMAL(38,0)) * _sl % _tau) * 1000000 div _tau
          + (CAST(_sr AS DECIMAL(38,0)) * _sr div nullif(_nr, 0)) * 1000000
          + (CAST(_sr AS DECIMAL(38,0)) * _sr % nullif(_nr, 0)) * 1000000
            div nullif(_nr, 0)
          - ((CAST(_s AS DECIMAL(38,0)) * _s div _n) * 1000000
             + (CAST(_s AS DECIMAL(38,0)) * _s % _n) * 1000000 div _n)
        END"""))
    val best = gains.groupBy(col("_g")).agg(max(col("_g6")).as("_gmax"))
    gains.join(broadcast(best), Seq("_g"))
      .filter(col("_g6") === col("_gmax"))
      .groupBy(col("_g"))
      .agg(max(col("_n")).as("n_days"), max(col("_gmax")).as("_gm"),
        min(struct(col("_d"), col("_tau"), col("_sl"), col("_sr"),
          col("_nr"))).as("_at"))
      .withColumn("change_day", col("_at._d"))
      .withColumn("_mb6", expr(
        "CAST(_at._sl AS DECIMAL(38,0)) * 1000000 div _at._tau"))
      .withColumn("_ma6", expr(
        "CAST(_at._sr AS DECIMAL(38,0)) * 1000000 div _at._nr"))
      .select(col("_g").as(groupCol), col("n_days"), col("change_day"),
        (col("_gm").cast("double") / 1e6).as("gain"),
        (col("_mb6").cast("double") / 1e6).as("mean_before"),
        (col("_ma6").cast("double") / 1e6).as("mean_after"))
  }

  /** Dunn's post-hoc pairwise rank test (q287) — the step AFTER a
    * significant [[EvalOps.kruskalWallis]]: which pairs differ? Doubled
    * midranks from the global value set (the mannWhitney identity), mean
    * doubled rank R̄2_g = R2_g/n_g per group, and for each pair
    * z_ij = (R̄2_i − R̄2_j)/2 / √((N(N+1)/12 − T/(12(N−1)))(1/n_i+1/n_j))
    * with T = Σ(t³−t) the tie cube. All rank sums exact DECIMAL; z is
    * one double chain + one sqrt, floor-quantized. `bonferroni_m` =
    * k(k−1)/2 ships with each row; the significance column uses the
    * UNADJUSTED 1.959964 gate (an adjusted gate needs a normal quantile
    * at α/2m — caller's table lookup, documented, not faked here).
    *
    * Scale: one census + one value-set window; |groups|²-row output.
    */
  def dunnPosthoc(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val g = df.groupBy(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val vals = g.groupBy(col("_v")).agg(sum(col("_c")).as("_ct"))
    val wAll = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = vals.withColumn("_rank2",
      lit(2L) * sum(col("_ct")).over(wAll) - col("_ct") + 1L)
    val ties = vals.agg(
      sum(col("_ct").cast("decimal(38,0)") * col("_ct") * col("_ct")
        - col("_ct")).as("_t"),
      sum(col("_ct")).as("_nall"))
    val perGrp = g
      .join(ranked.select(col("_v"), col("_rank2")), Seq("_v"))
      .groupBy(col("_g"))
      .agg(sum(col("_c")).as("_n"),
        sum(col("_c").cast("decimal(38,0)") * col("_rank2")).as("_r2"))
    val k = perGrp.agg(count(lit(1)).as("_k"))
    val a = perGrp.select(col("_g").as("_ga"), col("_n").as("_na"),
      col("_r2").as("_r2a"))
    val b = perGrp.select(col("_g").as("_gb"), col("_n").as("_nb"),
      col("_r2").as("_r2b"))
    a.crossJoin(broadcast(b)).filter(col("_ga") < col("_gb"))
      .crossJoin(broadcast(ties)).crossJoin(broadcast(k))
      // variance term: (N(N+1)/12 − T/(12(N−1))) — doubles from exact
      // integers (T is DECIMAL but < N³ ≈ 2^63 territory is fine as
      // double: correctly rounded cast, identical in both engines)
      .withColumn("_varTerm", (col("_nall").cast("double")
        * (col("_nall") + 1L).cast("double") / lit(12.0))
        - col("_t").cast("double")
          / (lit(12.0) * (col("_nall") - 1L).cast("double")))
      .withColumn("_den2", sqrt(col("_varTerm")
        * (lit(1.0) / col("_na").cast("double")
          + lit(1.0) / col("_nb").cast("double"))))
      .withColumn("_z", when(col("_varTerm") > 0,
        (col("_r2a").cast("double") / (lit(2.0) * col("_na").cast("double"))
          - col("_r2b").cast("double")
            / (lit(2.0) * col("_nb").cast("double")))
        / expr("nullif(_den2, 0.0)")))
      .withColumn("_z6", floor(col("_z") * 1e6).cast("long"))
      .select(col("_ga").as("group_a"), col("_gb").as("group_b"),
        col("_na").as("n_a"), col("_nb").as("n_b"),
        (col("_z6").cast("double") / 1e6).as("z"),
        expr("_k * (_k - 1) div 2").as("bonferroni_m"),
        when(col("_z6").isNotNull, abs(col("_z6")) > 1959964L)
          .as("significant_unadj"))
  }

  /** Wilson 95% score interval per group for a boolean success rate
    * (q288) — the proportion CI that behaves at the extremes the Wald
    * interval collapses at (p̂ = 0 or 1, small n): with z = 1.959964,
    * bounds = (p̂ + z²/2n ± z√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n).
    * Successes and n are exact BIGINTs; each bound is one fixed double
    * chain (one sqrt) floor-quantized at 1e-6 — the oracle replays the
    * identical chain. Empty groups cannot occur (groupBy); n ≥ 1 always
    * gives defined bounds.
    *
    * Scale: one aggregation, |groups| rows.
    */
  def wilsonInterval(df: DataFrame, groupCol: String, success: Column)
      : DataFrame = {
    val z = lit(Z95)
    val z2 = lit(Z95 * Z95)
    df.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("_n"),
        sum(when(success, 1L).otherwise(0L)).as("_s"))
      .withColumn("_p", col("_s").cast("double") / col("_n").cast("double"))
      .withColumn("_den", lit(1.0) + z2 / col("_n").cast("double"))
      .withColumn("_ctr", col("_p") + z2 / (lit(2.0) * col("_n").cast("double")))
      .withColumn("_rad", z * sqrt(col("_p") * (lit(1.0) - col("_p"))
        / col("_n").cast("double")
        + z2 / (lit(4.0) * col("_n").cast("double") * col("_n").cast("double"))))
      .select(col("_g").as(groupCol), col("_n").as("n"),
        col("_s").as("successes"),
        (floor(col("_p") * 1e6).cast("double") / 1e6).as("p_hat"),
        (floor((col("_ctr") - col("_rad")) / col("_den") * 1e6)
          .cast("double") / 1e6).as("wilson_lo"),
        (floor((col("_ctr") + col("_rad")) / col("_den") * 1e6)
          .cast("double") / 1e6).as("wilson_hi"))
  }

  /** Jonckheere–Terpstra ordered-alternative test (q289) — the trend
    * version of Kruskal–Wallis: with groups in a KNOWN order (here:
    * `orderedCol`, e.g. hour-of-day buckets), is the value distribution
    * monotonically shifting across them? J = Σ_{i<j} U_ij summed over
    * ordered pairs, counted WITHOUT a pair join on rows: on the dense
    * (group × global-value) grid, 2U_ij = Σ_v c_j(v)·(2·lt_i(v) + c_i(v))
    * with lt_i from one per-group cumulative window — all exact BIGINT
    * (DECIMAL products). z uses the classic no-tie μ/σ closed forms
    * (μ = (N²−Σn_i²)/4, σ² = (N²(2N+3)−Σn_i²(2n_i+3))/72) — the
    * standard large-sample approximation; ties make it slightly
    * conservative (documented, as everywhere people use JT). J2 (=2J)
    * is exact; z is one double chain + one sqrt, floor-quantized.
    *
    * Scale: one census + a |groups|²-pair grid join over the value set
    * — the ksTest grid shape, never a row-pair join.
    */
  def jonckheereTerpstra(df: DataFrame, orderedCol: String,
      valueCol: String): DataFrame = {
    val cells = df.groupBy(col(orderedCol).cast("long").as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val vals = cells.select(col("_v")).distinct()
    val grps = cells.select(col("_g")).distinct()
    val grid = vals.crossJoin(broadcast(grps))
      .join(cells, Seq("_g", "_v"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
    val wg = Window.partitionBy(col("_g")).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = grid.withColumn("_cum", sum(col("_c")).over(wg))
      .withColumn("_lt", col("_cum") - col("_c"))
    val a = cum.select(col("_g").as("_gi"), col("_v"),
      col("_c").as("_ci"), col("_lt").as("_lti"))
    val b = cum.select(col("_g").as("_gj"), col("_v"), col("_c").as("_cj"))
    val j2 = a.join(b, Seq("_v")).filter(col("_gi") < col("_gj"))
      .agg(sum(col("_cj").cast("decimal(38,0)")
        * (lit(2L) * col("_lti") + col("_ci"))).as("_j2"))
    val nstats = cells.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))
      .agg(sum(col("_n")).as("_nall"), count(lit(1)).as("_k"),
        sum(col("_n").cast("decimal(38,0)") * col("_n")).as("_sn2"),
        sum(col("_n").cast("decimal(38,0)") * col("_n")
          * (lit(2L) * col("_n") + lit(3L))).as("_sn23"))
    j2.crossJoin(broadcast(nstats))
      .withColumn("_mu2", expr(
        "(CAST(_nall AS DECIMAL(38,0)) * _nall - _sn2) div 2"))
      .withColumn("_var", (col("_nall").cast("double")
        * col("_nall").cast("double")
        * (lit(2.0) * col("_nall").cast("double") + lit(3.0))
        - col("_sn23").cast("double")) / lit(72.0))
      .withColumn("_z6", when(col("_var") > 0,
        floor((col("_j2").cast("double") - col("_mu2").cast("double"))
          / (lit(2.0) * expr("nullif(sqrt(_var), 0.0)")) * 1e6)
          .cast("long")))
      .select(col("_k").as("k"), col("_nall").as("n"),
        (col("_j2").cast("double") / 2.0).as("j_stat"),
        (col("_z6").cast("double") / 1e6).as("z"),
        when(col("_z6").isNotNull, abs(col("_z6")) > 1959964L)
          .as("trend"))
  }

  /** Weekday seasonality per group (q290) — "how much of the daily
    * volume variance is the weekly cycle": the per-weekday ANOVA over
    * the dense calendar spine, so seasonal_strength IS the exact η²
    * (SSB/SST) of the weekday factor and the F gate is [[anovaF]]'s —
    * literally anovaCore on the (group, weekday, daily-count) census,
    * which is the proof the two can never disagree. Adds the peak and
    * trough weekdays (1=Mon..7=Sun, ISO dayofweek) located by
    * max/min-then-join-back on the exact ×10⁶ weekday means (earliest
    * weekday wins ties).
    *
    * Scale: events collapse to the calendar; everything after is
    * |groups×7|-row arithmetic.
    */
  def weekdaySeasonality(events: DataFrame, groupCol: String,
      tsCol: String): DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
      // ISO weekday 1=Mon..7=Sun: Spark dayofweek is 1=Sun..7=Sat
      .withColumn("_wd", expr("(dayofweek(_d) + 5) % 7 + 1"))
    val cellsIn = daily.groupBy(col("_g").as("_s"), col("_wd").as("_g"),
        col("_x").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val f = anovaCore(cellsIn, "group")
      .withColumnRenamed("eta2", "seasonal_strength")
    val means = daily.groupBy(col("_g"), col("_wd"))
      .agg(sum(col("_x")).as("_sw"), count(lit(1)).as("_nw"))
      .withColumn("_m6", expr("CAST(_sw AS DECIMAL(38,0)) * 1000000 div _nw"))
    val mx = means.groupBy(col("_g")).agg(max(col("_m6")).as("_mmax"),
      min(col("_m6")).as("_mmin"))
    val peak = means.join(broadcast(mx), Seq("_g"))
      .filter(col("_m6") === col("_mmax"))
      .groupBy(col("_g")).agg(min(col("_wd")).as("peak_weekday"))
    val trough = means.join(broadcast(mx), Seq("_g"))
      .filter(col("_m6") === col("_mmin"))
      .groupBy(col("_g")).agg(min(col("_wd")).as("trough_weekday"))
    f.join(peak.withColumnRenamed("_g", "group"), Seq("group"))
      .join(trough.withColumnRenamed("_g", "group"), Seq("group"))
      .withColumnRenamed("group", groupCol)
  }

  /** Friedman test + Kendall's W across treatments blocked by day
    * (q291) — the repeated-measures companion to [[anovaF]]: each
    * calendar day is a block, each group (event type) a treatment,
    * ranked WITHIN the day (doubled midranks over the ≤k-row per-day
    * value census, dense day×treatment grid with zero-days counted).
    * With doubled ranks the tie-corrected statistic is exactly integer:
    * Q = (k−1)·Σ_j(R2_j − n(k+1))² / (A2 − n·k·(k+1)²) where
    * A2 = Σ r2², and Kendall's W = Q/(n(k−1)) = N2/(n·D) — each ONE
    * truncating ×10⁶ division. χ²(k−1) gate via the Wilson–Hilferty
    * cube. All blocks fully tied → D = 0 → NULL.
    *
    * Scale: calendar-bounded — ranks run over per-day value sets of at
    * most k rows; everything after is |treatments|-row arithmetic.
    */
  def friedman(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_t"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val days = daily0.select(col("_d")).distinct()
    val treats = daily0.select(col("_t")).distinct()
    val grid = days.crossJoin(broadcast(treats))
      .join(daily0, Seq("_t", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val perDayVal = grid.groupBy(col("_d"), col("_x"))
      .agg(count(lit(1)).as("_ct"))
    val wd = Window.partitionBy(col("_d")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = perDayVal
      .withColumn("_rank2",
        lit(2L) * sum(col("_ct")).over(wd) - col("_ct") + 1L)
      .select(col("_d"), col("_x"), col("_rank2"))
    val r = grid.join(ranked, Seq("_d", "_x"))
    val stats = r.agg(
      countDistinct(col("_d")).as("_n"),
      countDistinct(col("_t")).as("_k"),
      sum(col("_rank2").cast("decimal(38,0)") * col("_rank2")).as("_a2"))
    val perT = r.groupBy(col("_t"))
      .agg(sum(col("_rank2")).as("_r2"))
    val n2 = perT.crossJoin(broadcast(stats))
      .withColumn("_dev", col("_r2").cast("decimal(38,0)")
        - col("_n").cast("decimal(38,0)") * (col("_k") + 1L))
      .agg(max(col("_n")).as("_n"), max(col("_k")).as("_k"),
        max(col("_a2")).as("_a2"),
        sum(col("_dev") * col("_dev")).as("_n2"))
      .withColumn("_dd", expr(
        """_a2 - CAST(_n AS DECIMAL(38,0)) * _k * (_k + 1) * (_k + 1)"""))
    n2
      .withColumn("_q6", when(col("_dd") > 0,
        expr("(_k - 1) * _n2 * 1000000 div nullif(_dd, 0)")))
      .withColumn("_w6", when(col("_dd") > 0,
        expr("_n2 * 1000000 div nullif(_dd * _n, 0)")))
      .withColumn("_nu", greatest(col("_k") - 1L, lit(1L)).cast("double"))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722) * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("_crit6", when(col("_k") >= 2, floor(col("_nu")
        * col("_wh") * col("_wh") * col("_wh") * 1e6).cast("long")))
      .select(col("_k").as("k"), col("_n").as("n_days"),
        (col("_q6").cast("double") / 1e6).as("friedman_q"),
        (col("_w6").cast("double") / 1e6).as("kendalls_w"),
        when(col("_q6").isNotNull && col("_crit6").isNotNull,
          col("_q6") > col("_crit6")).as("differs"))
  }

  /** Poisson dispersion audit per group (q292) — is the daily event
    * volume Poisson-ish (D ≈ 1), bursty (overdispersed, D ≫ 1 — the
    * usual truth), or suspiciously uniform (D ≪ 1, a smoothing/dedup
    * artifact)? Over the dense calendar spine: index of dispersion
    * D = s²/x̄ = (nQ − S²)/((n−1)S) and the dispersion statistic
    * χ² = (n−1)D ~ χ²(n−1), both EXACT one-division ×10⁶ integers;
    * the gate compares against χ²₀.₉₅(n−1) via the Wilson–Hilferty
    * cube. Empty (S = 0) or single-day groups report NULL.
    *
    * Scale: events collapse to the calendar; |groups|-row output.
    */
  def dispersionAudit(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    daily.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"))
      .withColumn("_num", expr(
        "CAST(_n AS DECIMAL(38,0)) * _q - CAST(_s AS DECIMAL(38,0)) * _s"))
      .withColumn("_d6", when(col("_n") > 1 && col("_s") > 0, expr(
        "_num * 1000000 div nullif((_n - 1) * _s, 0)")))
      .withColumn("_chi6", when(col("_n") > 1 && col("_s") > 0, expr(
        "_num * 1000000 div nullif(_s, 0)")))
      .withColumn("_nu", greatest(col("_n") - 1L, lit(1L)).cast("double"))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722) * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("_crit6", when(col("_n") >= 2, floor(col("_nu")
        * col("_wh") * col("_wh") * col("_wh") * 1e6).cast("long")))
      .select(col("_g").as(groupCol), col("_n").as("n_days"),
        col("_s").as("n_events"),
        (col("_d6").cast("double") / 1e6).as("dispersion"),
        (col("_chi6").cast("double") / 1e6).as("chi2"),
        when(col("_chi6").isNotNull && col("_crit6").isNotNull,
          col("_chi6") > col("_crit6")).as("overdispersed"))
  }

  /** Burrows' Delta stylometry matrix (q293) — the authorship /
    * register distance over function-word usage (Burrows 2002): take
    * the corpus's top-M words, per source the relative frequency as an
    * EXACT ×10⁶ integer f6 = c·10⁶ div T (quantize FIRST — a double
    * mean/sd across sources would ride aggregation order), z-score
    * each word across the k sources with pure-integer moments
    * (z = (k·f6 − Σf6)/√(k·Q6 − (Σf6)²), one sqrt per word), then
    * Δ(a,b) = mean over words of |z_a − z_b| with per-word millionth
    * floors integer-summed. High Δ = different registers; a source
    * pair with suspiciously LOW Δ is the mixture-audit signal (same
    * pipeline/crawl masquerading as two sources). Constant words
    * (σ = 0) are skipped in BOTH engines; delta divides by the kept
    * word count.
    *
    * Scale: one token census, top-M cut (WindowGroupLimit-shaped),
    * |sources|×M dense grid, |sources|²·M report arithmetic.
    */
  def burrowsDelta(df: DataFrame, groupCol: String, textCol: String,
      topM: Int = 30): DataFrame = {
    val toks = df.select(col(groupCol).as("_g"),
      explode(filter(split(col(textCol), " "), t => t =!= lit("")))
        .as("_w"))
    val wc = toks.groupBy(col("_g"), col("_w")).agg(count(lit(1)).as("_c"))
    val totals = wc.groupBy(col("_g")).agg(sum(col("_c")).as("_t"))
    val top = wc.groupBy(col("_w")).agg(sum(col("_c")).as("_cw"))
      .orderBy(col("_cw").desc, col("_w")).limit(topM)
      .select(col("_w"))
    val grid = totals.crossJoin(broadcast(top))
      .join(wc, Seq("_g", "_w"), "left")
      .withColumn("_c", coalesce(col("_c"), lit(0L)))
      .withColumn("_f6", expr("CAST(_c AS DECIMAL(38,0)) * 1000000 div _t"))
    val wstats = grid.groupBy(col("_w"))
      .agg(count(lit(1)).as("_k"), sum(col("_f6")).as("_s6"),
        sum(col("_f6").cast("decimal(38,0)") * col("_f6")).as("_q6"))
      .withColumn("_det", expr(
        "CAST(_k AS DECIMAL(38,0)) * _q6 - CAST(_s6 AS DECIMAL(38,0)) * _s6"))
      .filter(col("_det") > 0)
    val z = grid.join(wstats.select(col("_w"), col("_k"), col("_s6"),
        col("_det")), Seq("_w"))
      .withColumn("_z", (col("_k").cast("double") * col("_f6").cast("double")
        - col("_s6").cast("double"))
        / expr("nullif(sqrt(CAST(_det AS DOUBLE)), 0.0)"))
      .select(col("_w"), col("_g"), col("_z"))
    val a = z.select(col("_w"), col("_g").as("_ga"), col("_z").as("_za"))
    val b = z.select(col("_w"), col("_g").as("_gb"), col("_z").as("_zb"))
    a.join(b, Seq("_w")).filter(col("_ga") < col("_gb"))
      .withColumn("_d6",
        floor(abs(col("_za") - col("_zb")) * 1e6).cast("long"))
      .groupBy(col("_ga"), col("_gb"))
      .agg(count(lit(1)).as("_m"), sum(col("_d6")).as("_sum6"))
      .withColumn("_delta6", expr("_sum6 div _m"))
      .select(col("_ga").as("group_a"), col("_gb").as("group_b"),
        col("_m").as("n_words"),
        col("_delta6").cast("long").as("delta6"))
  }

  /** Partial autocorrelation (q300) — Durbin–Levinson unrolled on the
    * QUANTIZED [[acf]] values: PACF at lag k is the correlation left at
    * k after the shorter lags are regressed out — the read that tells
    * an AR order ("is the weekly spike direct memory or just lag-1
    * compounding"). The recursion runs entirely in ×10⁶ fixed point:
    * fixed-mul a⊗b = a·b div 10⁶ (DECIMAL(38,0) `div` truncates toward
    * zero and keeps the sign in both engines, −7 div 2 = −3), φ_{k,k} = (r_k − Σφ_{k−1,j} ⊗
    * r_{k−j})·10⁶ div (10⁶ − Σφ_{k−1,j} ⊗ r_j), φ_{k,j} = φ_{k−1,j} −
    * φ_{k,k} ⊗ φ_{k−1,k−j} — every intermediate a BIGINT millionth, so
    * the oracle replays it digit for digit (the k-core unrolled-stage
    * precedent). Degenerate levels (den ≤ 0 from a near-unit-root
    * series, or a missing/NULL ρ) propagate NULL from that lag up.
    *
    * Scale: the ACF census does all the data work; the recursion runs
    * on the |groups|-row PIVOTED report frame — maxLag² report-sized
    * column ops, zero additional scans.
    */
  def pacf(events: DataFrame, groupCol: String, tsCol: String,
      maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1 && maxLag <= 12, s"unrolled to 12 lags, got $maxLag")
    val r = acf(events, groupCol, tsCol, maxLag)
    var piv = r.groupBy(col(groupCol), col("n_days"))
      .pivot("lag", (1 to maxLag).map(k => k.toLong: Any))
      .agg(first(col("acf6")))
    (1 to maxLag).foreach(k => piv = piv.withColumnRenamed(k.toString, s"_r$k"))
    def fmul(a: String, b: String): String =
      s"(CAST($a AS DECIMAL(38,0)) * $b div 1000000)"
    piv = piv.withColumn("_p_1_1", col("_r1"))
    (2 to maxLag).foreach { k =>
      val num = (s"CAST(_r$k AS DECIMAL(38,0))" +:
        (1 until k).map(j => s" - ${fmul(s"_p_${k - 1}_$j", s"_r${k - j}")}"))
        .mkString
      val den = ("CAST(1000000 AS DECIMAL(38,0))" +:
        (1 until k).map(j => s" - ${fmul(s"_p_${k - 1}_$j", s"_r$j")}"))
        .mkString
      piv = piv
        .withColumn(s"_num_$k", expr(num))
        .withColumn(s"_den_$k", expr(den))
        .withColumn(s"_p_${k}_$k", expr(
          s"""CASE WHEN _den_$k > 0 THEN
              CAST(_num_$k AS DECIMAL(38,0)) * 1000000
                div nullif(_den_$k, 0) END"""))
      (1 until k).foreach { j =>
        piv = piv.withColumn(s"_p_${k}_$j", expr(
          s"_p_${k - 1}_$j - ${fmul(s"_p_${k}_$k", s"_p_${k - 1}_${k - j}")}"))
      }
    }
    piv.select(col(groupCol), col("n_days"),
        explode(array((1 to maxLag).map(k =>
          struct(lit(k.toLong).as("lag"),
            col(s"_p_${k}_$k").cast("long").as("pacf6"))): _*)).as("_kv"))
      .select(col(groupCol), col("_kv.lag").as("lag"), col("n_days"),
        col("_kv.pacf6").as("pacf6"))
  }

  /** Cochran's Q per slice (q296) — the k-model generalization of
    * McNemar (Cochran 1950): on PAIRED binary outcomes (same task set,
    * k models), do the models' success rates genuinely differ? With
    * G_j = per-model successes, L_i = per-task successes, T = ΣL:
    * Q = k(k−1)·Σ_j(G_j − T/k)² / (kT − ΣL_i²), computed exactly as
    * (k−1)·Σ(k·G_j − T)²·10⁶ div (k·(kT − ΣL²)) — pure integers to one
    * truncating division (products ≤ k²N²·k·10⁶, DECIMAL(38,0) headroom
    * to N ≈ 10¹⁴ tasks at k ≤ 8). The gate is χ²₀.₉₅(k−1) by the shared
    * Wilson–Hilferty cube ([[anovaF]]'s recipe), compared as plain
    * BIGINT — q6 is already a quantized statistic, no product needed.
    * Saturated slices (every task solved by all models or by none:
    * kT = ΣL²) have no discordance to test → NULL.
    *
    * Scale: two censuses (per-model, per-task totals) + |slices|-row
    * arithmetic. The per-task census is the big one (|tasks| rows) and
    * folds map-side; nothing pairs.
    */
  def cochranQ(outcomes: DataFrame, sliceCol: String, taskCol: String,
      modelCol: String, okCol: String): DataFrame = {
    val base = outcomes.select(col(sliceCol).as("_s"),
      col(taskCol).as("_t"), col(modelCol).as("_m"),
      col(okCol).cast("boolean").as("_ok"))
    val g = base.groupBy(col("_s"), col("_m"))
      .agg(sum(when(col("_ok"), 1L).otherwise(0L)).as("_gj"))
    val l = base.groupBy(col("_s"), col("_t"))
      .agg(sum(when(col("_ok"), 1L).otherwise(0L)).as("_li"))
    val tots = l.groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_li")).as("_tt"),
        sum(col("_li") * col("_li")).as("_l2"))
    val ks = g.groupBy(col("_s")).agg(count(lit(1)).as("_k"))
    g.join(broadcast(tots), Seq("_s")).join(broadcast(ks), Seq("_s"))
      .groupBy(col("_s"))
      .agg(max(col("_k")).as("_k"), max(col("_n")).as("_n"),
        max(col("_tt")).as("_tt"), max(col("_l2")).as("_l2"),
        sum(expr("""CAST(_k AS DECIMAL(38,0)) * _gj - _tt""")
          * expr("""CAST(_k AS DECIMAL(38,0)) * _gj - _tt""")).as("_sq"))
      .withColumn("_den", expr(
        "CAST(_k AS DECIMAL(38,0)) * (_k * _tt - _l2)"))
      .withColumn("_q6", when(col("_den") > 0, expr(
        """CAST(_k - 1 AS DECIMAL(38,0)) * _sq * 1000000
           div nullif(_den, 0)""").cast("long")))
      .withColumn("_nu", greatest(col("_k") - 1L, lit(1L)).cast("double"))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722)
          * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("_crit6", when(col("_k") >= 2, floor(col("_nu")
        * col("_wh") * col("_wh") * col("_wh") * 1e6).cast("long")))
      .select(col("_s").as(sliceCol), col("_k").as("k"),
        col("_n").as("n_tasks"), col("_q6").as("q6"),
        when(col("_q6").isNotNull && col("_crit6").isNotNull,
          col("_q6") > col("_crit6")).as("differs"))
  }

  /** KR-20 / Cronbach's α on dichotomous items per slice (q303) — the
    * internal-consistency companion to [[cochranQ]] on the SAME two
    * censuses: where Q asks "do the models differ", α asks "do the
    * items (models) measure one underlying difficulty" — the number an
    * eval-battery owner reads before averaging model scores into one
    * leaderboard column (α below ~0.7 means the items disagree about
    * what is hard and the average hides it). For dichotomous outcomes
    * Cronbach's α IS Kuder–Richardson 20:
    * α = k/(k−1) · (1 − Σ_j p_j q_j / σ²_total), which closed-forms to
    * pure integers as α₆ = k·(D − Σ G_j(N−G_j))·10⁶ div ((k−1)·D) with
    * D = N·ΣL² − T² (N× the total-score variance, scaled to cancel
    * every denominator). Zero total-score variance (D = 0 — all tasks
    * same summed score) → NULL; k < 2 → NULL. α can be negative
    * (items anti-correlate) — the sign survives truncation exactly.
    *
    * Scale: the same per-model/per-task censuses as [[cochranQ]];
    * |slices|-row arithmetic after.
    */
  def kr20(outcomes: DataFrame, sliceCol: String, taskCol: String,
      modelCol: String, okCol: String): DataFrame = {
    val base = outcomes.select(col(sliceCol).as("_s"),
      col(taskCol).as("_t"), col(modelCol).as("_m"),
      col(okCol).cast("boolean").as("_ok"))
    val g = base.groupBy(col("_s"), col("_m"))
      .agg(sum(when(col("_ok"), 1L).otherwise(0L)).as("_gj"))
    val l = base.groupBy(col("_s"), col("_t"))
      .agg(sum(when(col("_ok"), 1L).otherwise(0L)).as("_li"))
    val tots = l.groupBy(col("_s"))
      .agg(count(lit(1)).as("_n"), sum(col("_li")).as("_tt"),
        sum(col("_li") * col("_li")).as("_l2"))
    g.join(broadcast(tots), Seq("_s"))
      .groupBy(col("_s"))
      .agg(count(lit(1)).as("_k"), max(col("_n")).as("_n"),
        max(col("_tt")).as("_tt"), max(col("_l2")).as("_l2"),
        sum(expr("CAST(_gj AS DECIMAL(38,0)) * (_n - _gj)")).as("_sgq"))
      .withColumn("_d", expr(
        """CAST(_n AS DECIMAL(38,0)) * _l2
           - CAST(_tt AS DECIMAL(38,0)) * _tt"""))
      .withColumn("_a6", when(col("_k") >= 2 && col("_d") > 0, expr(
        """CAST(_k AS DECIMAL(38,0)) * (_d - _sgq) * 1000000
           div nullif((_k - 1) * _d, 0)""").cast("long")))
      .select(col("_s").as(sliceCol), col("_k").as("k"),
        col("_n").as("n_tasks"), col("_a6").as("alpha6"),
        when(col("_a6").isNull, lit(null).cast("string"))
          .when(col("_a6") >= 900000L, "excellent")
          .when(col("_a6") >= 800000L, "good")
          .when(col("_a6") >= 700000L, "acceptable")
          .otherwise("questionable").as("consistency"))
  }

  /** Mood's median test across groups (q298) — "do the groups share a
    * median": one GLOBAL value-set median (the [[Quantiles]] doubled-
    * median recipe, exact under ties), one above/≤ census per group,
    * and the 2×k chi-square over the resulting table with margin-based
    * expectations — each cell contributes (O·N − row·col)²·10⁶ div
    * (N·row·col) (the [[Association]] Cramér arithmetic). Ties at the
    * median count as ≤ (the classical convention). Gate = χ²₀.₉₅(k−1)
    * via the Wilson–Hilferty cube. Degenerate margins (no mass above or
    * none at-or-below the median) → NULL. ONE report row: the test is
    * global by construction.
    *
    * Exactness ceiling: the cell terms square O·N products — exact
    * while N² ·10⁶ fits DECIMAL(38,0), i.e. N ≤ ~10¹⁵ rows (the
    * Cramér-matrix ceiling, same arithmetic).
    *
    * Scale: one value census; the median window runs over the VALUE
    * SET; everything after is |groups|-row.
    */
  def moodMedian(df: DataFrame, groupCol: String, valueCol: String)
      : DataFrame = {
    val cells = df.groupBy(col(groupCol).as("_g"),
        col(valueCol).cast("long").as("_v"))
      .agg(count(lit(1)).as("_c"))
    val vals = cells.groupBy(col("_v")).agg(sum(col("_c")).as("_ct"))
    val w = Window.orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = vals.withColumn("_cum", sum(col("_ct")).over(w))
    val nAll = cells.agg(sum(col("_c")).as("_n"))
    val med = cum.crossJoin(broadcast(nAll)).agg(
        max(col("_n")).as("_n"),
        min(when(col("_cum") > expr("(_n - 1) div 2"), col("_v")))
          .as("_vlo"),
        min(when(col("_cum") > expr("(_n - 1) div 2 + 1"), col("_v")))
          .as("_vhi"))
      .withColumn("_med2", expr(
        "_vlo * 2 + ((_n - 1) % 2) * (coalesce(_vhi, _vlo) - _vlo)"))
      .select(col("_n"), col("_med2"))
    val byG = cells.crossJoin(broadcast(med))
      .groupBy(col("_g"))
      .agg(sum(when(col("_v") * 2 > col("_med2"), col("_c"))
          .otherwise(0L)).as("_a"),
        sum(col("_c")).as("_ng"),
        max(col("_n")).as("_n"), max(col("_med2")).as("_med2"))
    val t2 = byG.agg(sum(col("_a")).as("_ta"),
      sum(col("_ng") - col("_a")).as("_tb"), count(lit(1)).as("_k"),
      max(col("_n")).as("_n"), max(col("_med2")).as("_med2"))
    byG.select(col("_g"), col("_a"), col("_ng"))
      .crossJoin(broadcast(t2))
      // total cell terms (div nullif — the ANSI fused-stage discipline)
      .withColumn("_c6", expr(
        """(CAST(_a AS DECIMAL(38,0)) * _n - CAST(_ta AS DECIMAL(38,0)) * _ng)
             * (CAST(_a AS DECIMAL(38,0)) * _n - CAST(_ta AS DECIMAL(38,0)) * _ng)
             * 1000000 div nullif(CAST(_n AS DECIMAL(38,0)) * _ta * _ng, 0)
           + (CAST(_ng - _a AS DECIMAL(38,0)) * _n - CAST(_tb AS DECIMAL(38,0)) * _ng)
             * (CAST(_ng - _a AS DECIMAL(38,0)) * _n - CAST(_tb AS DECIMAL(38,0)) * _ng)
             * 1000000 div nullif(CAST(_n AS DECIMAL(38,0)) * _tb * _ng, 0)"""))
      .groupBy()
      .agg(max(col("_k")).as("_k"), max(col("_n")).as("_n"),
        max(col("_med2")).as("_med2"), max(col("_ta")).as("_ta"),
        max(col("_tb")).as("_tb"), sum(col("_c6")).as("_chi6raw"))
      .withColumn("_chi6", when(col("_ta") > 0 && col("_tb") > 0,
        col("_chi6raw").cast("long")))
      .withColumn("_nu", greatest(col("_k") - 1L, lit(1L)).cast("double"))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722)
          * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("_crit6", when(col("_k") >= 2, floor(col("_nu")
        * col("_wh") * col("_wh") * col("_wh") * 1e6).cast("long")))
      .select(col("_k").as("k"), col("_n").as("n"),
        col("_med2").as("median_x2"), col("_chi6").as("chi6"),
        when(col("_chi6").isNotNull && col("_crit6").isNotNull,
          col("_chi6") > col("_crit6")).as("differs"))
  }

  /** Sequential probability ratio test per group (q302) — Wald's SPRT,
    * the early-stopping read a long-running A/B or data-quality monitor
    * actually wants: instead of fixing n in advance, accumulate the
    * log-likelihood ratio of H1 (success rate p1) vs H0 (p0) trial by
    * trial and STOP the first day the cumulative LLR crosses either
    * boundary — accept H1 at ln((1−β)/α), accept H0 at ln(β/(1−α)).
    * Trials here are events, success = `successCol`; increments fold
    * daily (x_d successes, n_d trials): Δ = x_d·L1 + (n_d − x_d)·L0.
    *
    * Exactness: the ONLY irrational inputs are four constants, frozen
    * as ×10⁶ integer literals in BOTH engines (α = β = 0.05, p0 = 0.3,
    * p1 = 0.4): L1 = ⌊ln(p1/p0)·10⁶⌋ = 287682, L0 = ⌊ln((1−p1)/
    * (1−p0))·10⁶⌋ = −154151, A6 = ⌊ln(19)·10⁶⌋ = 2944438, B6 =
    * −2944439. Everything downstream is BIGINT sums, one cumulative
    * window over the DAY value set, and the min-CASE-join-back first-
    * crossing cut (the q265-fix recipe). No crossing → 'continue'.
    *
    * Scale: events collapse to daily (group, day, x, n) census rows;
    * the cum window rides the calendar, never event rows.
    */
  def sprt(events: DataFrame, groupCol: String, tsCol: String,
      successCol: Column): DataFrame = {
    val l1 = 287682L
    val l0 = -154151L
    val a6 = 2944438L
    val b6 = -2944439L
    val daily = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_n"),
        sum(when(successCol, 1L).otherwise(0L)).as("_x"))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("_llr", sum(col("_x") * lit(l1)
        + (col("_n") - col("_x")) * lit(l0)).over(w))
    cum.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_days"), sum(col("_n")).as("n_trials"),
        sum(col("_x")).as("n_success"),
        min(when(col("_llr") >= a6, col("_d"))).as("_d1"),
        min(when(col("_llr") <= b6, col("_d"))).as("_d0"),
        // the final cumulative LLR is just the total increment sum —
        // no last-row construct needed (the arg_min/max_by lesson)
        sum(col("_x") * lit(l1) + (col("_n") - col("_x")) * lit(l0))
          .as("final_llr6"))
      .withColumn("decision",
        when(col("_d1").isNotNull
            && (col("_d0").isNull || col("_d1") <= col("_d0")),
          "accept_h1")
          .when(col("_d0").isNotNull, "accept_h0")
          .otherwise("continue"))
      .withColumn("decision_day",
        when(col("decision") === "accept_h1", col("_d1"))
          .when(col("decision") === "accept_h0", col("_d0")))
      .select(col("_g").as(groupCol), col("n_days"), col("n_trials"),
        col("n_success"), col("decision"), col("decision_day"),
        col("final_llr6"))
  }

  /** Durbin–Watson statistic per group (q299) — first-order serial
    * correlation of the DAILY volume series around its mean (the
    * mean-only-model DW; the regression-residual version needs a fitted
    * slope, [[EvalOps]]'s Theil–Sen reads trend separately):
    * d = Σ_{t≥2}(x_t − x_{t−1})² / Σ(x_t − x̄)², which n-scales to the
    * pure-integer d = n·Σdiff²·10⁶ div (n·Σx² − (Σx)²) — no mean ever
    * materializes. d ≈ 2 means no autocorrelation, → 0 positive,
    * → 4 negative; the reading labels compare the QUANTIZED value at
    * the conventional 1.0/1.5/2.5/3.0 cuts. Constant series (zero
    * variance) → NULL. Gap days count as zero volume via the dense
    * calendar spine ([[acf]]'s construction — a sparse series would
    * fake correlation across gaps).
    *
    * Scale: events collapse to the calendar; the lag window runs over
    * the bounded day spine, never event rows.
    */
  def durbinWatson(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
    daily.withColumn("_xp", lag(col("_x"), 1).over(w))
      .groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"),
        sum(when(col("_xp").isNotNull,
          (col("_x") - col("_xp")).cast("decimal(38,0)")
            * (col("_x") - col("_xp")))
          .otherwise(lit(0L).cast("decimal(38,0)"))).as("_dd"))
      .withColumn("_den", expr(
        """CAST(_n AS DECIMAL(38,0)) * _q
           - CAST(_s AS DECIMAL(38,0)) * _s"""))
      .withColumn("_dw6", when(col("_den") > 0, expr(
        """CAST(_n AS DECIMAL(38,0)) * _dd * 1000000
           div nullif(_den, 0)""").cast("long")))
      .select(col("_g").as(groupCol), col("_n").as("n_days"),
        col("_dw6").as("dw6"),
        when(col("_dw6").isNull, lit(null).cast("string"))
          .when(col("_dw6") < 1000000L, "strong_positive")
          .when(col("_dw6") < 1500000L, "positive")
          .when(col("_dw6") <= 2500000L, "none")
          .when(col("_dw6") <= 3000000L, "negative")
          .otherwise("strong_negative").as("reading"))
  }

  /** Ljung–Box portmanteau test per group (q312) — the ONE-number read
    * over [[acf]]'s per-lag battery: Q = n(n+2)·Σ_{k≤h} r_k²/(n−k)
    * ~ χ²(h) asks "is there ANY autocorrelation in the first h lags",
    * the standard is-this-series-white gate before trusting an ingest
    * trend model (per-lag eyeballing multiplies comparisons; the
    * portmanteau prices them once).
    *
    * Exactness (composable by construction): each r_k is the EXACT
    * already-quantized acf₆ the q285 battery reports — per lag
    * t_k = acf₆² div (n−k) (BIGINT: acf₆² ≤ 10¹²), and
    * Q₆ = n(n+2)·Σt_k div 10⁶ — the documented double-floor contract
    * (floor at each lag, one final floor), replayed term-for-term by
    * the oracle. Any NULL lag (constant series) nulls Q. Significance
    * via the Wilson–Hilferty cube at df = h (the friedman recipe).
    * Requires n > h (else NULL).
    *
    * Scale: [[acf]] does all data-sized work (events collapse to the
    * calendar; the lag join is calendar-bounded); this adds one
    * |groups|·h-row aggregation.
    */
  def ljungBox(events: DataFrame, groupCol: String, tsCol: String,
      maxLag: Int = 7): DataFrame = {
    val a = acf(events, groupCol, tsCol, maxLag)
    val terms = a
      .withColumn("_t", when(col("acf6").isNotNull
          && col("n_days") > col("lag"),
        expr("acf6 * acf6 div (n_days - lag)")))
    terms.groupBy(col(groupCol))
      .agg(max(col("n_days")).as("n_days"),
        count(lit(1)).as("_h"),
        sum(when(col("_t").isNull, 1L).otherwise(0L)).as("_nulls"),
        sum(col("_t")).as("_st"))
      .withColumn("lb_q6", when(col("_nulls") === 0
          && col("n_days") > lit(maxLag), expr(
        """CAST(n_days AS DECIMAL(38,0)) * (n_days + 2) * _st
           div 1000000""").cast("long")))
      .withColumn("_nu", lit(maxLag.toDouble))
      .withColumn("_wh", lit(1.0) - lit(2.0) / (lit(9.0) * col("_nu"))
        + lit(1.6448536269514722) * sqrt(lit(2.0) / (lit(9.0) * col("_nu"))))
      .withColumn("crit6",
        floor(col("_nu") * col("_wh") * col("_wh") * col("_wh") * 1e6)
          .cast("long"))
      .select(col(groupCol), col("n_days"), col("lb_q6"), col("crit6"),
        when(col("lb_q6").isNotNull, col("lb_q6") > col("crit6"))
          .as("autocorrelated"))
  }

  /** Wald–Wolfowitz turning-point randomness test per group (q313) —
    * the LOCAL-structure complement to [[runsTest]] (runs reads
    * above/below-median persistence, turning points read zig-zag
    * frequency): over the dense daily calendar, count strict local
    * extrema (x_{t−1} < x_t > x_{t+1} or the mirror — ties break
    * neither way, the classic strict convention, documented); under
    * randomness E[T] = 2(n−2)/3, Var[T] = (16n−29)/90, and too FEW
    * turns is trend/level-shift while too MANY is oscillation
    * (negative autocorrelation — an ingest dedup artifact).
    *
    * Exactness: T and n are exact integers off the spine;
    * z₆ = ⌊(3T − 2(n−2))·10⁶ / √((16n−29)/10)⌋ — the numerator is the
    * exact integer 3·(T − E[T]) and the denominator ONE IEEE sqrt of
    * 9·Var (the mannWhitney z recipe). Verdict |z₆| > 1 959 964
    * (α = 0.05 two-sided). n < 4 → NULL.
    *
    * Scale: events collapse to the calendar; the lag/lead window runs
    * over the bounded day spine; |groups|-row arithmetic after.
    */
  def turningPoints(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
    val marked = daily
      .withColumn("_p", lag(col("_x"), 1).over(w))
      .withColumn("_f", lead(col("_x"), 1).over(w))
      .withColumn("_turn", when(col("_p").isNotNull && col("_f").isNotNull
        && ((col("_p") < col("_x") && col("_x") > col("_f"))
          || (col("_p") > col("_x") && col("_x") < col("_f"))), 1L)
        .otherwise(0L))
    marked.groupBy(col("_g"))
      .agg(count(lit(1)).as("n_days"), sum(col("_turn")).as("n_turns"))
      .withColumn("tp_z6", when(col("n_days") >= 4, floor(
        (lit(3L) * col("n_turns") - lit(2L) * (col("n_days") - 2L))
          .cast("double") * 1e6
          / sqrt((lit(16L) * col("n_days") - 29L).cast("double") / 10.0))
        .cast("long")))
      .select(col("_g").as(groupCol), col("n_days"), col("n_turns"),
        col("tp_z6"),
        when(col("tp_z6").isNotNull, abs(col("tp_z6")) > 1959964L)
          .as("nonrandom"))
  }

  /** Pettitt change-point test per group (q317) — the RANK-based
    * change locator beside [[changepoint]]'s mean-based binary
    * segmentation (one wild day drags a mean split; ranks don't care):
    * U_t = Σ_{i≤t, j>t} sgn(x_i − x_j), K = max|U_t| (Pettitt 1979).
    * Via the midrank identity Σ_j sgn(x_i − x_j) = 2r_i − (n+1) the
    * double sum collapses to a CUMULATIVE of global midranks:
    * 2U_t = Σ_{i≤t} r2_i − t·(n+1)·... exactly 2U_t = R2_t − t(n+1)
    * with R2_t the running doubled-midrank sum — one value-set rank
    * window + one calendar cumulative, never a day-pair join.
    *
    * Exactness: doubled midranks from the per-group value census keep
    * everything integer; k2 = max|2U_t| over t < n, split day = the
    * EARLIEST argmax (max-then-join-back, the q265-fix recipe).
    * Significance p = 2·exp(−6K²/(n³+n²)) < 0.05 replayed as the exact
    * integer cross-comparison 3·k2²·10⁶ > 2·3688879·(n³+n²)
    * (ln 40 = 3.688879…, floored ×10⁶ — the shared literal IS the
    * contract, both engines compare identically). n < 2 → NULL.
    *
    * Scale: events collapse to the calendar; ranks run over the
    * per-group VALUE SET; |groups|·days grid, no pair term.
    */
  def pettitt(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    // global doubled midranks per group from the value census
    val census = daily.groupBy(col("_g"), col("_x"))
      .agg(count(lit(1)).as("_ct"))
    val wv = Window.partitionBy(col("_g")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = census.withColumn("_r2",
      lit(2L) * sum(col("_ct")).over(wv) - col("_ct") + 1L)
    val wd = Window.partitionBy(col("_g")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val stats = daily.groupBy(col("_g")).agg(count(lit(1)).as("_n"))
    val u = daily
      .join(ranked.select(col("_g"), col("_x"), col("_r2")),
        Seq("_g", "_x"))
      .withColumn("_t", count(lit(1)).over(wd))
      .withColumn("_rs", sum(col("_r2")).over(wd))
      .join(broadcast(stats), Seq("_g"))
      .withColumn("_u2", col("_rs") - col("_t") * (col("_n") + 1L))
      .filter(col("_t") < col("_n"))
    val kmax = u.groupBy(col("_g"))
      .agg(max(col("_n")).as("n_days"), max(abs(col("_u2"))).as("k2"))
    val at = u.join(kmax.select(col("_g"), col("k2")), Seq("_g"))
      .filter(abs(col("_u2")) === col("k2"))
      .groupBy(col("_g")).agg(min(col("_d")).as("cp_day"))
    kmax.join(at, Seq("_g"), "left")
      .withColumn("significant", when(col("n_days") >= 2,
        expr("""3 * CAST(k2 AS DECIMAL(38,0)) * k2 * 1000000
          > 2 * 3688879 * (CAST(n_days AS DECIMAL(38,0)) * n_days
            * n_days + CAST(n_days AS DECIMAL(38,0)) * n_days)""")))
      .select(col("_g").as(groupCol), col("n_days"),
        when(col("n_days") >= 2, col("k2")).as("k2"),
        when(col("n_days") >= 2, col("cp_day")).as("cp_day"),
        col("significant"))
  }

  /** KPSS level-stationarity test per group (q314) — the NULL-reversed
    * companion to [[TemporalJoins.mannKendall]]/[[durbinWatson]]: MK's
    * null is "no trend" (failing to reject proves nothing), KPSS's null
    * is "stationary around a level" (Kwiatkowski–Phillips–Schmidt–Shin
    * 1992) — rejecting HERE is positive evidence the ingest volume
    * wandered, the right framing for "can I trust a fixed capacity
    * plan". Statistic η = Σ_t S_t² / (n²·σ̂²) over demeaned partial
    * sums S_t on the dense calendar spine (lag-0 long-run variance —
    * the simple variant, documented).
    *
    * Exactness: n·S_t = n·cum_t − t·S is an exact integer, so
    * Σ(nS_t)² is exact DECIMAL(38,0) and
    * η₆ = Σ(n·cum_t − t·S)²·10⁶ div (n²·(nQ − S²)) — ONE truncating
    * division (n²σ̂² = nQ − S² exactly). Verdict vs the fixed 5%
    * level-stationarity point 0.463 as the integer constant 463000
    * (the cvmTest fixed-constant precedent). Constant series (σ̂² = 0)
    * or n < 2 → NULL.
    *
    * Scale: events collapse to the calendar; one cumulative window
    * over the bounded day spine; |groups|-row division tail.
    */
  def kpss(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_g"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val span = daily0.groupBy(col("_g"))
      .agg(min(col("_d")).as("_d0"), max(col("_d")).as("_d1"))
    val daily = span.select(col("_g"),
        explode(sequence(col("_d0"), col("_d1"))).as("_d"))
      .join(daily0, Seq("_g", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val w = Window.partitionBy(col("_g")).orderBy(col("_d"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = daily
      .withColumn("_t", count(lit(1)).over(w))
      .withColumn("_cum", sum(col("_x")).over(w))
    val stats = daily.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"), sum(col("_x")).as("_s"),
        sum(col("_x").cast("decimal(38,0)") * col("_x")).as("_q"))
    cum.join(broadcast(stats), Seq("_g"))
      .withColumn("_ns", col("_n").cast("decimal(38,0)") * col("_cum")
        - col("_t").cast("decimal(38,0)") * col("_s"))
      .groupBy(col("_g"))
      .agg(max(col("_n")).as("n_days"),
        sum(col("_ns") * col("_ns")).as("_ss"),
        max(expr("""CAST(_n AS DECIMAL(38,0)) * _q
          - CAST(_s AS DECIMAL(38,0)) * _s""")).as("_den"))
      .withColumn("kpss6", when(col("n_days") >= 2 && col("_den") > 0,
        expr("""_ss * 1000000 div nullif(CAST(n_days AS DECIMAL(38,0))
          * n_days * _den, 0)""").cast("long")))
      .select(col("_g").as(groupCol), col("n_days"), col("kpss6"),
        when(col("kpss6").isNotNull, col("kpss6") > 463000L)
          .as("nonstationary"))
  }

  /** Page's L trend test (q308) — [[friedman]]'s ORDERED-alternative
    * sibling: Friedman asks "do the treatments differ at all", Page
    * (1963) asks "do they increase in a PRE-SPECIFIED order" — the
    * right test when the treatments carry an a-priori ordering (model
    * versions, quality tiers, dose-like mixture weights) where the
    * omnibus test wastes power. Treatments are ordered by NAME (the
    * deterministic a-priori order both engines share, documented);
    * L = Σ_j j·R_j over within-day ranks.
    *
    * Exactness: doubled midranks over the ≤k-row per-day value census
    * (the friedman machinery verbatim) make L₂ = Σ j·R₂_j exact
    * integer; E[L₂] = n·k(k+1)²/2 is exact integer (k(k+1) always
    * even), and z₆ = ⌊(L₂−E₂)·6·10⁶ / (k(k+1)·√(n(k²−1)))⌋ — ONE IEEE
    * sqrt on the exact integer n(k²−1) (Var[L₂] = n·k²(k+1)²(k²−1)/36).
    * The classic null variance assumes untied blocks; with midranks it
    * is the standard conservative approximation (documented — both
    * engines replay the identical convention). One-sided verdicts at
    * ±1 644 854 (α = 0.05): 'increasing' / 'decreasing' / 'none'.
    * k < 3 or n = 0 → NULL.
    *
    * Scale: calendar-bounded — the friedman grid exactly; |treatments|-
    * row arithmetic after.
    */
  def pageTrend(events: DataFrame, groupCol: String, tsCol: String)
      : DataFrame = {
    val daily0 = events.groupBy(col(groupCol).as("_t"),
        to_date(col(tsCol)).as("_d"))
      .agg(count(lit(1)).as("_x"))
    val days = daily0.select(col("_d")).distinct()
    val treats = daily0.select(col("_t")).distinct()
    val grid = days.crossJoin(broadcast(treats))
      .join(daily0, Seq("_t", "_d"), "left")
      .withColumn("_x", coalesce(col("_x"), lit(0L)))
    val perDayVal = grid.groupBy(col("_d"), col("_x"))
      .agg(count(lit(1)).as("_ct"))
    val wd = Window.partitionBy(col("_d")).orderBy(col("_x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = perDayVal
      .withColumn("_rank2",
        lit(2L) * sum(col("_ct")).over(wd) - col("_ct") + 1L)
      .select(col("_d"), col("_x"), col("_rank2"))
    val r = grid.join(ranked, Seq("_d", "_x"))
    // a-priori treatment order = name order, as a dense 1..k index
    val order = treats
      .withColumn("_j", row_number().over(
        Window.orderBy(col("_t"))).cast("long"))
    val perT = r.groupBy(col("_t"))
      .agg(sum(col("_rank2")).as("_r2"))
      .join(broadcast(order), Seq("_t"))
    val stats = r.agg(countDistinct(col("_d")).as("_n"),
      countDistinct(col("_t")).as("_k"))
    perT.agg(sum(col("_j") * col("_r2")).as("_l2"))
      .crossJoin(broadcast(stats))
      .withColumn("_e2", expr("_n * _k * (_k + 1) * (_k + 1) div 2"))
      .withColumn("page_z6", when(col("_k") >= 3 && col("_n") >= 1, floor(
        (col("_l2") - col("_e2")).cast("double") * 6e6
          / (col("_k").cast("double") * (col("_k") + 1L).cast("double")
            * sqrt((col("_n") * (col("_k") * col("_k") - 1L))
              .cast("double"))))
        .cast("long")))
      .select(col("_k").as("k"), col("_n").as("n_days"),
        col("_l2").as("l2"), col("page_z6"),
        when(col("page_z6").isNull, lit(null).cast("string"))
          .when(col("page_z6") > 1644854L, "increasing")
          .when(col("page_z6") < -1644854L, "decreasing")
          .otherwise("none").as("trend"))
  }
}
