package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Two-sample hypothesis tests at scale — the comparison half of the
  * association toolkit (Contingency covers chi2 / ANOVA / correlation).
  *
  * Every test reduces the data in ONE distributed aggregation (global
  * conditional sums, or a groupBy(value) that collapses duplicates) before
  * any ordered arithmetic; cumulative passes run over the reduced frame,
  * never the raw rows. Statistics are emitted, p-values are left to the
  * caller (the spec suite checks them against commons-math3) so the
  * distributed result is pure closed-form arithmetic and cross-engine
  * reproducible.
  */
object Hypothesis {

  private def both(groupCol: String, a: String, b: String): Column =
    col(groupCol) === a || col(groupCol) === b

  /** Welch's unequal-variance t-test between groups `a` and `b` of
    * `groupCol`: ONE global aggregation of conditional (n, Σx, Σx²) per
    * side — no shuffle beyond the map-side-combined scalar agg.
    *
    *   t  = (x̄_a − x̄_b) / sqrt(s²_a/n_a + s²_b/n_b)
    *   df = (s²_a/n_a + s²_b/n_b)² /
    *        ((s²_a/n_a)²/(n_a−1) + (s²_b/n_b)²/(n_b−1))   (Welch–Satterthwaite)
    *
    * @return one row (mean_a, mean_b, t_stat, df_welch, n_a, n_b)
    */
  def welchT(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val inA = col(groupCol) === a
    val agg = df.filter(both(groupCol, a, b)).agg(
      sum(when(inA, 1L).otherwise(0L)).as("na"),
      sum(when(inA, x).otherwise(0.0)).as("sa"),
      sum(when(inA, x * x).otherwise(0.0)).as("qa"),
      sum(when(!inA, 1L).otherwise(0L)).as("nb"),
      sum(when(!inA, x).otherwise(0.0)).as("sb"),
      sum(when(!inA, x * x).otherwise(0.0)).as("qb"))
    agg.select(
      (col("sa") / col("na")).as("ma"), (col("sb") / col("nb")).as("mb"),
      ((col("qa") - col("sa") * col("sa") / col("na")) / (col("na") - 1) /
        col("na")).as("va"), // s²_a/n_a
      ((col("qb") - col("sb") * col("sb") / col("nb")) / (col("nb") - 1) /
        col("nb")).as("vb"),
      col("na"), col("nb"))
      .select(
        col("ma").as("mean_a"), col("mb").as("mean_b"),
        ((col("ma") - col("mb")) / sqrt(col("va") + col("vb"))).as("t_stat"),
        (pow(col("va") + col("vb"), 2) /
          (pow(col("va"), 2) / (col("na") - 1) +
           pow(col("vb"), 2) / (col("nb") - 1))).as("df_welch"),
        col("na").as("n_a"), col("nb").as("n_b"))
  }

  /** Paired-sample tests — [[welchT]]'s within-subject twin (the
    * pre/post per-user design every product experiment actually runs;
    * treating the halves as independent throws away the pairing):
    * paired t on the per-key difference of INTEGRAL value sums, plus
    * the Wilcoxon signed-rank z (tie-corrected midranks via the DOUBLED
    * rank trick — avg-rank·2 = 2·N_below + t + 1 stays an exact
    * integer, the [[mannWhitney]] discipline; zero differences drop,
    * the Pratt-vs-Wilcoxon choice documented as Wilcoxon).
    *
    * Shapes: ONE per-key conditional collapse → the pair frame (one row
    * per key with both sides present); moments in one aggregation (d²
    * summed in Decimal(38,0) — long-safe at any scale); the signed-rank
    * pass collapses |d| to its distinct-value frame and rides the
    * two-level [[Cumulative]] prefix pass. Every float op is a single
    * pinned expression over exact integer sums.
    *
    * @return one row: (n_pairs, n_nonzero, mean_diff, t_stat, w_plus,
    *         z_wilcoxon) — 6-digit grid; t/z null for degenerate inputs
    */
  def pairedTests(df: DataFrame, keyCol: String, valueCol: String,
      groupCol: String, a: String, b: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val inA = col(groupCol) === a
    val pairs = df.filter(both(groupCol, a, b) && col(valueCol).isNotNull)
      .groupBy(col(keyCol))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("__na"),
        sum(when(inA, v).otherwise(0L)).as("__sa"),
        sum(when(!inA, 1L).otherwise(0L)).as("__nb"),
        sum(when(!inA, v).otherwise(0L)).as("__sb"))
      .filter(col("__na") > 0 && col("__nb") > 0)
      .select(col(keyCol), (col("__sa") - col("__sb")).as("__d"))
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val moments = pairs.agg(
      count(lit(1)).as("n"),
      sum(when(col("__d") =!= 0L, 1L).otherwise(0L)).as("m"),
      sum(col("__d")).as("sd"),
      sum((col("__d") * col("__d")).cast(dec)).as("sdd"))
    // signed-rank over the |d| distinct-value frame (doubled midranks)
    val byAbs = pairs.filter(col("__d") =!= 0L)
      .groupBy(abs(col("__d")).as("av"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("__d") > 0L, 1L).otherwise(0L)).as("pos"))
    val ranked = Cumulative.runningSums(byAbs, "av", Seq("cnt"))
      .withColumn("__below", col("cnt_cum") - col("cnt"))
    val wAgg = ranked.agg(
      coalesce(sum(col("pos") *
        (lit(2L) * col("__below") + col("cnt") + 1L)), lit(0L)).as("w2"),
      coalesce(sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")),
        lit(0L)).as("tie3"))
    val nD = col("n").cast("double")
    val mD = col("m").cast("double")
    val dbar = col("sd").cast("double") / nD
    val varD = (col("sdd").cast("double") -
      col("sd").cast("double") * col("sd") / nD) / (nD - 1.0)
    val wPlus = col("w2").cast("double") / 2.0
    val zW = (wPlus - mD * (mD + 1.0) / 4.0) /
      sqrt(mD * (mD + 1.0) * (lit(2.0) * mD + 1.0) / 24.0 -
        col("tie3").cast("double") / 48.0)
    moments.crossJoin(broadcast(wAgg))
      .select(col("n").as("n_pairs"), col("m").as("n_nonzero"),
        round(dbar, 6).as("mean_diff"),
        round(when(col("n") >= 2 && varD > 0.0,
          dbar / sqrt(varD / nD)), 6).as("t_stat"),
        wPlus.as("w_plus"),
        round(when(col("m") >= 2, zW), 6).as("z_wilcoxon"))
  }

  /** Pooled two-proportion z-test on a 0/1 `successCol` between groups
    * `a` and `b`: ONE conditional-sum aggregation.
    *
    *   p̂ = (x_a + x_b)/(n_a + n_b),
    *   z = (p̂_a − p̂_b) / sqrt(p̂(1−p̂)(1/n_a + 1/n_b))
    *
    * @return one row (p_a, p_b, z_stat, n_a, n_b)
    */
  def twoProportionZ(df: DataFrame, successCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val y = col(successCol).cast("double")
    val inA = col(groupCol) === a
    df.filter(both(groupCol, a, b)).agg(
      sum(when(inA, 1L).otherwise(0L)).as("na"),
      sum(when(inA, y).otherwise(0.0)).as("xa"),
      sum(when(!inA, 1L).otherwise(0L)).as("nb"),
      sum(when(!inA, y).otherwise(0.0)).as("xb"))
      .select((col("xa") / col("na")).as("pa"),
        (col("xb") / col("nb")).as("pb"),
        ((col("xa") + col("xb")) / (col("na") + col("nb"))).as("p"),
        col("na"), col("nb"))
      .select(
        col("pa").as("p_a"), col("pb").as("p_b"),
        ((col("pa") - col("pb")) /
          sqrt(col("p") * (lit(1.0) - col("p")) *
            (lit(1.0) / col("na") + lit(1.0) / col("nb")))).as("z_stat"),
        col("na").as("n_a"), col("nb").as("n_b"))
  }

  /** McNemar's test for paired binary outcomes (the right test for "do
    * classifiers A and B disagree systematically on the SAME rows?" —
    * a two-proportion z on the marginals would ignore the pairing). Only
    * the discordant counts carry information:
    *
    *   χ² = (|n01 − n10| − 1)² / (n01 + n10)   (continuity-corrected)
    *
    * with n01 = pairs where only `aCol` holds, n10 = only `bCol`. ONE
    * conditional-sum aggregation; rows with a null on either side drop.
    *
    * @return one row (n01, n10, n_agree, chi2) — chi2 null when no pair
    *         is discordant (the test is undefined; agreement is total)
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol).cast("boolean")
    val b = col(bCol).cast("boolean")
    df.filter(a.isNotNull && b.isNotNull).agg(
        sum(when(a && !b, 1L).otherwise(0L)).as("n01"),
        sum(when(!a && b, 1L).otherwise(0L)).as("n10"),
        sum(when(a === b, 1L).otherwise(0L)).as("n_agree"))
      .select(col("n01"), col("n10"), col("n_agree"),
        // squared via exact integer multiplication, not pow() — libm pow
        // is not bit-identical across engines
        when(col("n01") + col("n10") > 0,
          (abs(col("n01") - col("n10")) - 1) * (abs(col("n01") - col("n10")) - 1) /
            (col("n01") + col("n10"))).as("chi2"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between groups `a` and `b`:
    * D = max_x |F_a(x) − F_b(x)| over the pooled support.
    *
    * ONE groupBy(value) shuffle collapses duplicates to per-distinct-value
    * (count_a, count_b); the cumulative ECDF pass runs as the two-level
    * [[Cumulative]] prefix sum, so a continuous `valueCol` (distinct frame
    * ~n rows) stays parallel end to end. Counts stay integral — the ECDF
    * difference |c_a·n_b − c_b·n_a| is exact integer arithmetic, divided
    * once by n_a·n_b at the end.
    *
    * @return one row (d_stat, n_a, n_b)
    */
  def ksTest(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val inA = col(groupCol) === a
    val byV = df.filter(both(groupCol, a, b))
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(!inA, 1L).otherwise(0L)).as("cb"))
    // per-row max of |F_a·n_b − F_b·n_a| needs the grand totals alongside
    // every row: a broadcast cross join of the one-row totals frame
    val totals = byV.agg(sum("ca").as("na"), sum("cb").as("nb"))
    Cumulative.runningSums(byV, "v", Seq("ca", "cb"))
      .crossJoin(broadcast(totals))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(abs(col("ca_cum") * col("nb") - col("cb_cum") * col("na")))
          .as("num"))
      .select(
        (col("num").cast("double") / (col("n_a") * col("n_b"))).as("d_stat"),
        col("n_a"), col("n_b"))
  }

  /** Two-sample Cramér–von Mises statistic between groups `a` and `b` —
    * [[ksTest]]'s whole-distribution sibling (KS reads only the single
    * largest ECDF gap; CvM integrates EVERY gap, so it sees tail and
    * shape differences a one-point statistic misses):
    *
    *   T = (n_a·n_b / N²) · Σ_{pooled z} (F_a(z) − F_b(z))²
    *
    * Same reduction shape as [[ksTest]]: ONE groupBy(value) collapse,
    * the two-level [[Cumulative]] prefix pass over the distinct-value
    * frame. The ECDF gap at each value is the exact integer
    * D = |ca_cum·n_b − cb_cum·n_a|; to keep the squared sum
    * 128-bit-safe it quantizes to the grid G = max(1, (n_a·n_b) div
    * 10⁶) by FLOOR division — floor on non-negative integers is
    * engine-identical, unlike any rounding-mode-sensitive decimal
    * division — so per-value terms c·dq² are exact integers summed in
    * Decimal(38,0), and T = G²·Σc·dq² / (n_a·n_b·N²) is one pinned
    * float chain (a documented ~1e−6 ECDF grid, the policy-value
    * quantization discipline; n_a·n_b must fit a long — ≤ ~3·10⁹ rows
    * per side — ANSI overflow is the loud failure past that).
    *
    * @return one row: (n_a, n_b, t_cvm) — 6-digit grid; null when
    *         either group is empty
    */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val inA = col(groupCol) === a
    val byV = df.filter(both(groupCol, a, b) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(!inA, 1L).otherwise(0L)).as("cb"))
    val totals = byV.agg(sum("ca").as("na"), sum("cb").as("nb"))
    Cumulative.runningSums(byV, "v", Seq("ca", "cb"))
      .crossJoin(broadcast(totals))
      .select(col("na"), col("nb"), (col("ca") + col("cb")).as("__c"),
        abs(col("ca_cum").cast(dec) * col("nb").cast(dec) -
          col("cb_cum").cast(dec) * col("na").cast(dec)).as("__d"),
        greatest(lit(1L), expr("(na * nb) div 1000000")).as("__g"))
      .select(col("na"), col("nb"), col("__c"), col("__g"),
        expr("CAST(__d div __g AS BIGINT)").as("__dq"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        max(col("__g")).as("__gg"),
        sum((col("__c").cast(dec) * col("__dq").cast(dec) *
          col("__dq").cast(dec)).cast(dec)).as("__s"))
      .select(col("n_a"), col("n_b"),
        round(when(col("n_a") > 0 && col("n_b") > 0,
          col("__gg").cast("double") * col("__gg").cast("double") *
            col("__s").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")) /
            ((col("n_a") + col("n_b")).cast("double") *
              (col("n_a") + col("n_b")).cast("double"))), 6).as("t_cvm"))
  }

  /** Mann–Whitney U test (Wilcoxon rank-sum) between groups `a` and `b`,
    * with the tie-corrected normal approximation:
    *
    *   U_a = Σ_v c_a(v) · (N_below(v) + c_b(v)/2)
    *   z   = (U_a − n_a·n_b/2) /
    *         sqrt(n_a·n_b/12 · ((n+1) − Σ(t³−t)/(n(n−1))))
    *
    * where t runs over pooled tie-group sizes. The same reduction shape as
    * [[ksTest]]: ONE groupBy(value) shuffle, the two-level [[Cumulative]]
    * prefix pass over the distinct-value frame, and a doubled integral U
    * numerator (Σ c_a·(2·N_below + c_b)) so the statistic is exact — the
    * one halving division happens at the end. The p-value is left to the
    * caller (spec checks z against commons-math3's normal tail).
    *
    * @return one row (u_stat, z_stat, n_a, n_b)
    */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
      a: String, b: String): DataFrame = {
    val inA = col(groupCol) === a
    val byV = df.filter(both(groupCol, a, b))
      .groupBy(col(valueCol).as("v"))
      .agg(sum(when(inA, 1L).otherwise(0L)).as("ca"),
        sum(when(!inA, 1L).otherwise(0L)).as("cb"))
    Cumulative.runningSums(byV, "v", Seq("cb"))
      .withColumn("nb_below", col("cb_cum") - col("cb"))
      .withColumn("t", col("ca") + col("cb"))
      .agg(sum(col("ca") * (lit(2) * col("nb_below") + col("cb"))).as("u2"),
        sum("ca").as("na"), sum("cb").as("nb"),
        sum(col("t") * col("t") * col("t") - col("t")).as("tie3"))
      .select((col("u2") / lit(2.0)).as("u_stat"),
        ((col("u2") / lit(2.0) - col("na") * col("nb") / lit(2.0)) /
          sqrt(col("na") * col("nb") / lit(12.0) *
            ((col("na") + col("nb") + 1) - col("tie3") /
              ((col("na") + col("nb")) * (col("na") + col("nb") - lit(1.0))))))
          .as("z_stat"),
        col("na").as("n_a"), col("nb").as("n_b"))
  }

  /** Benjamini–Hochberg step-up FDR adjustment: for p-values sorted
    * ascending with 1-based ranks i over m tests,
    *
    *   q_(i) = min(1, min_{j ≥ i} m·p_(j)/j)
    *
    * Computed entirely on the DISTINCT-p frame: groupBy(p) → counts, the
    * ascending [[Cumulative]] prefix pass gives each tie group its LARGEST
    * rank (which is exactly the rank whose m·p/j survives the suffix min —
    * tied p share one q), then the suffix min runs as the DESCENDING
    * two-level [[Cumulative.runningMins]] pass. No unpartitioned
    * data-sized window anywhere; every value is a fixed rational
    * expression of integral counts, so rows hash bit-identically without
    * rounding.
    *
    * @return (p_value, n_tests_at_p, q_value), one row per distinct p
    */
  def bhAdjust(df: DataFrame, pCol: String): DataFrame = {
    val byP = df.groupBy(col(pCol).cast("double").as("p_value"))
      .agg(count(lit(1)).as("n_tests_at_p"))
    val totals = byP.agg(sum("n_tests_at_p").as("m"))
    val ranked = Cumulative.runningSums(byP, "p_value", Seq("n_tests_at_p"))
      .crossJoin(broadcast(totals))
      .withColumn("c", col("p_value") * col("m") / col("n_tests_at_p_cum"))
    Cumulative.runningMins(ranked, "p_value", Seq("c"), descending = true)
      .select(col("p_value"), col("n_tests_at_p"),
        least(lit(1.0), col("c_cummin")).as("q_value"))
  }

  /** Spearman rank correlation between two numeric columns, with R's
    * average-rank tie convention.
    *
    * Ranks come from the DISTINCT-VALUE frames, not a global row sort:
    * for each column, groupBy(value) → count, then the two-level
    * [[Cumulative]] prefix pass yields avg_rank(v) = (#below) + (ties+1)/2
    * in parallel even when every value is distinct, and the rank map joins
    * back. The join carries no hint: the rank frame is distinct-value-
    * sized — tiny for discrete columns, row-sized for continuous ones — so
    * the strategy is left to AQE, which broadcasts off MEASURED size at
    * runtime instead of a compile-time guess that could force a row-sized
    * broadcast (r7 advice). Pearson over the ranks is then ONE
    * sums-identity aggregation.
    *
    * @return one row (rho, n)
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def ranks(c: String, rankName: String): DataFrame = {
      val byV = df.select(col(c).cast("double").as("v"))
        .groupBy("v").agg(count(lit(1)).as("cnt"))
      Cumulative.runningSums(byV, "v", Seq("cnt"))
        .select(col("v"),
          (col("cnt_cum") - col("cnt") + (col("cnt") + 1) / lit(2.0))
            .as(rankName))
    }
    val rx = ranks(xCol, "rx")
    val ry = ranks(yCol, "ry")
    df.select(col(xCol).cast("double").as("xv"), col(yCol).cast("double").as("yv"))
      .join(rx, col("xv") === rx("v")).drop("v")
      .join(ry, col("yv") === ry("v")).drop("v")
      .agg(count(lit(1)).as("n"), sum("rx").as("sx"), sum("ry").as("sy"),
        sum(col("rx") * col("rx")).as("qx"), sum(col("ry") * col("ry")).as("qy"),
        sum(col("rx") * col("ry")).as("sxy"))
      .select(
        ((col("n") * col("sxy") - col("sx") * col("sy")) /
          sqrt((col("n") * col("qx") - col("sx") * col("sx")) *
            (col("n") * col("qy") - col("sy") * col("sy")))).as("rho"),
        col("n"))
  }

  /** Kendall's τ-b rank correlation between two INTEGRAL columns — the
    * concordance member of the rank family ([[spearman]] correlates
    * average ranks; τ-b counts order agreements, with the standard tie
    * correction):
    *
    *   τ_b = (nc − nd) / √((n0 − n1)(n0 − n2)),
    *   n0 = n(n−1)/2, n1/n2 = Σ t(t−1)/2 over x-/y-tie groups
    *
    * Scale shape: ONE groupBy(x, y) collapse to exact integer cell
    * counts — the only data-sized shuffle — then nc/nd from the cell
    * frame's self-join on x1 < x2 (strictly; concordant when the y's
    * agree in direction, discordant when they invert, x-only ties fall
    * out of both) and the tie terms from the cell marginals. The cell
    * count is REQUIRED ≤ maxCells loudly: the C² pair join is the
    * deliberate cost model (value-domain-bounded, like the contingency
    * family), not an n² row join. Every sum is Decimal(38,0) so the
    * counts survive 128-bit totals at any scale; τ is the one pinned
    * float expression → 6-digit grid.
    *
    * Float columns are rejected (per-row integrality guard riding the
    * cell counts): float tie semantics are engine-dependent.
    *
    * @return one row: (n, n_cells, tau_b) — tau_b null when either
    *         denominator factor is 0 (a constant column)
    */
  def kendallTau(df: DataFrame, xCol: String, yCol: String,
      maxCells: Long = 4096): DataFrame = {
    require(maxCells >= 1, s"need maxCells >= 1, got $maxCells")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val guard = (c: Column) => assert_true(c.cast("long").cast("double")
      === c.cast("double"), lit(s"kendallTau needs integral columns; " +
      s"non-integral value in $xCol/$yCol"))
    val cells0 = df
      .filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"),
        // the guard rides the counted column so it cannot be pruned
        when(guard(col(xCol)).isNull && guard(col(yCol)).isNull, 1L)
          .as("__one"))
      .groupBy("x", "y").agg(sum("__one").as("c"))
    // materialize the cell frame ONCE: the final plan reads it six times
    // (both pair-join sides, two tie marginals, totals, n_cells), and the
    // maxCells probe needs its size — applyCounted returns the count the
    // materialization already computed, so the guard costs no extra scan
    // and the six consumers read the checkpoint, not a recompute (the
    // docstring's one-data-sized-shuffle claim no longer leans on
    // ReuseExchange kicking in)
    val (cells, nCells) =
      graft.Checkpointer.using(df.sparkSession, None)(_.applyCounted(cells0))
    require(nCells <= maxCells,
      s"kendallTau cell frame has $nCells cells > maxCells=$maxCells — " +
        "bin the domains first (the C^2 pair join is value-domain-bounded " +
        "by design)")
    // pair terms: strictly x1 < x2; y direction decides con/discordance
    val a = cells.select(col("x").as("x1"), col("y").as("y1"),
      col("c").as("c1"))
    val b = cells.select(col("x").as("x2"), col("y").as("y2"),
      col("c").as("c2"))
    val prod = (col("c1") * col("c2")).cast(dec)
    // the checkpointed cell frame is a stats-less LogicalRDD — without a
    // hint the x1 < x2 join planarizes as a cartesian; it is <= maxCells
    // rows by the loud contract above, so broadcast NLJ is the right plan
    val pairs = a.join(broadcast(b), col("x1") < col("x2"))
      .agg(
        coalesce(sum(when(col("y1") < col("y2"), prod)
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).as("nc"),
        coalesce(sum(when(col("y1") > col("y2"), prod)
          .otherwise(lit(0).cast(dec))), lit(0).cast(dec)).as("nd"))
    // marginal tie terms + n from the same cell frame
    def tiePairs(keyCol: String, out: String) = cells
      .groupBy(keyCol).agg(sum("c").as("t"))
      .agg(sum((col("t").cast(dec) * (col("t") - 1).cast(dec) / 2)
        .cast(dec)).as(out))
    val totals = cells.agg(sum("c").as("n"))
      .select(col("n"),
        (col("n").cast(dec) * (col("n") - 1).cast(dec) / 2).cast(dec)
          .as("n0"))
    totals
      .crossJoin(broadcast(pairs))
      .crossJoin(broadcast(tiePairs("x", "n1")))
      .crossJoin(broadcast(tiePairs("y", "n2")))
      .crossJoin(broadcast(cells.agg(count(lit(1)).as("n_cells"))))
      .select(col("n").cast("long").as("n"), col("n_cells"),
        round(when(
          (col("n0") - col("n1")).cast("double") *
            (col("n0") - col("n2")).cast("double") > 0,
          (col("nc") - col("nd")).cast("double") /
            sqrt((col("n0") - col("n1")).cast("double") *
              (col("n0") - col("n2")).cast("double"))), 6).as("tau_b"))
  }

  /** Cochran–Armitage trend test: does a binary outcome rate move
    * MONOTONICALLY with an ordered integral score (dose, bucket index,
    * ordinal tier) — the ordered-alternative member of the contingency
    * family (chi² asks "any association", this asks "a trend", buying
    * power when the order is real):
    *
    *   z = (N·A − R·B) / √(R(N−R)(N·C − B²)/N),
    *   A = Σ s·y, B = Σ s, C = Σ s², R = Σ y, over N rows
    *
    * ONE aggregation — no per-group collapse needed, the statistic is
    * five global sums. Integer sums in Decimal(38,0) (s² terms cross
    * 2⁶³ well before 100 TB); z is the one pinned float expression →
    * 6-digit grid, null for degenerate inputs (constant score or
    * all-one-outcome, where the variance is 0).
    *
    * @param outcomeCol boolean-like (true = success)
    * @param scoreCol   integral trend score; higher = later dose
    * @return one row: (n, n_success, k_scores, z_trend, chi2_trend)
    */
  def cochranArmitage(df: DataFrame, outcomeCol: String,
      scoreCol: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val guard = assert_true(col(scoreCol).cast("long").cast("double")
      === col(scoreCol).cast("double"),
      lit(s"cochranArmitage needs an integral $scoreCol"))
    val s = col("__s")
    val y = col("__y")
    val agg = df
      .filter(col(outcomeCol).isNotNull && col(scoreCol).isNotNull)
      .select(
        // the guard rides the counted score column — never prunable
        when(guard.isNull, col(scoreCol).cast("long")).as("__s"),
        col(outcomeCol).cast("boolean").as("__y"))
      .agg(count(lit(1)).as("n"),
        sum(when(y, 1L).otherwise(0L)).as("r"),
        sum(when(y, s).otherwise(0L).cast(dec)).as("a"),
        sum(s.cast(dec)).as("b"),
        sum(s.cast(dec) * s.cast(dec)).as("c"),
        countDistinct(s).as("k_scores"))
    val nD = col("n").cast(dec)
    val rD = col("r").cast(dec)
    val num = (nD * col("a") - rD * col("b")).cast("double")
    val varTerm = (rD * (nD - rD)).cast("double") *
      ((nD * col("c") - col("b") * col("b")).cast("double") /
        col("n").cast("double"))
    val z = round(when(varTerm > 0, num / sqrt(varTerm)), 6)
    agg.select(col("n"), col("r").as("n_success"), col("k_scores"),
      z.as("z_trend"),
      round(when(varTerm > 0, num * num / varTerm), 6).as("chi2_trend"))
  }

  /** Covariate balance check: standardized mean differences between
    * treated and control groups — the diagnostic run before any
    * observational effect estimate ([[diffInDiff]] and friends assume
    * comparable groups; |SMD| < 0.1 is the usual balance rule):
    *
    *   SMD_j = (x̄_treat,j − x̄_ctrl,j) / √((s²_treat,j + s²_ctrl,j)/2)
    *
    * ONE aggregation carries every covariate's conditional (n, Σx, Σx²)
    * for both arms; the SMDs are fixed-order arithmetic on the one-row
    * frame, inline-unpivoted to a covariate-per-row report. Sample
    * variances (n−1).
    *
    * @return per covariate: (covariate, mean_treat, mean_ctrl, smd) —
    *         6-digit grid, smd null when a pooled variance is 0
    */
  def standardizedMeanDiff(df: DataFrame, treatCol: String,
      covariates: Seq[String]): DataFrame = {
    require(covariates.nonEmpty, "need at least one covariate")
    val tr = col(treatCol).cast("boolean")
    val aggs = Seq(
      sum(when(tr, 1L).otherwise(0L)).as("nt"),
      sum(when(!tr, 1L).otherwise(0L)).as("nc")) ++
      covariates.zipWithIndex.flatMap { case (c, i) =>
        val x = col(c).cast("double")
        Seq(sum(when(tr, x)).as(s"st_$i"),
          sum(when(tr, x * x)).as(s"qt_$i"),
          sum(when(!tr, x)).as(s"sc_$i"),
          sum(when(!tr, x * x)).as(s"qc_$i"))
      }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = covariates.zipWithIndex.map { case (c, i) =>
      val mt = col(s"st_$i") / col("nt")
      val mc = col(s"sc_$i") / col("nc")
      val vt = (col(s"qt_$i") - col(s"st_$i") * col(s"st_$i") / col("nt")) /
        (col("nt") - 1)
      val vc = (col(s"qc_$i") - col(s"sc_$i") * col(s"sc_$i") / col("nc")) /
        (col("nc") - 1)
      val pooled = sqrt((vt + vc) / 2.0)
      struct(lit(c).as("covariate"),
        round(mt, 6).as("mean_treat"), round(mc, 6).as("mean_ctrl"),
        round(when(pooled > 0, (mt - mc) / pooled), 6).as("smd"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Difference-in-differences estimator on a 2×2 design: the treated
    * group's pre→post change minus the control group's — the standard
    * parallel-trends causal readout for a launch/policy change.
    *
    * did = (ȳ_treat,post − ȳ_treat,pre) − (ȳ_ctrl,post − ȳ_ctrl,pre)
    *
    * ONE conditional-sum aggregation carries all four cells; values sum
    * as integral cents so each cell mean is an exact-integer ratio (one
    * IEEE division — engine-identical), and the estimator is a fixed
    * -order expression on the one-row frame.
    *
    * @param treatCol boolean (or 0/1) treated-group indicator
    * @param postCol  boolean (or 0/1) post-period indicator
    * @return one row: per-cell n and mean (6-digit grid) + `did`
    */
  def diffInDiff(df: DataFrame, treatCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val tr = col(treatCol).cast("boolean")
    val po = col(postCol).cast("boolean")
    val cents = round(col(valueCol) * 100).cast("long")
    def cell(t: Boolean, p: Boolean, suffix: String) = Seq(
      sum(when(tr === t && po === p, cents)).as(s"__s_$suffix"),
      sum(when(tr === t && po === p, 1L).otherwise(0L)).as(s"n_$suffix"))
    val cells = cell(true, false, "treat_pre") ++
      cell(true, true, "treat_post") ++ cell(false, false, "ctrl_pre") ++
      cell(false, true, "ctrl_post")
    val agg = df.agg(cells.head, cells.tail: _*)
    def mean(s: String) =
      col(s"__s_$s").cast("double") / 100.0 / col(s"n_$s")
    agg.select(
      col("n_treat_pre"), round(mean("treat_pre"), 6).as("mean_treat_pre"),
      col("n_treat_post"), round(mean("treat_post"), 6).as("mean_treat_post"),
      col("n_ctrl_pre"), round(mean("ctrl_pre"), 6).as("mean_ctrl_pre"),
      col("n_ctrl_post"), round(mean("ctrl_post"), 6).as("mean_ctrl_post"),
      round((mean("treat_post") - mean("treat_pre")) -
        (mean("ctrl_post") - mean("ctrl_pre")), 6).as("did"))
  }

  /** Wald's sequential probability ratio test (SPRT) over a Bernoulli
    * stream — the early-stopping A/B monitor: after each period, the
    * cumulative log-likelihood ratio of H₁ (p = p1) against H₀ (p = p0)
    * either crosses ln((1−β)/α) (accept H₁), falls below ln(β/(1−α))
    * (accept H₀), or the test continues.
    *
    * Exactness: observations collapse to per-period integer (successes,
    * trials); the cumulative runs through the two-level
    * [[Cumulative.runningSums]] pass on those integers; the LLR is then
    * CLOSED-FORM per row — llr_t = X_t·ln(p1/p0) + (N_t−X_t)·
    * ln((1−p1)/(1−p0)) off the exact cumulative counts — so there is no
    * float accumulation channel at all (unlike a running sum of per-row
    * LLR terms).
    *
    * @param orderCol   numeric period (day index, batch number …);
    *                   duplicate values collapse
    * @param successCol 0/1 outcome (sums within a period)
    * @return per period: (orderCol, x, n, x_cum, n_cum, llr, decision ∈
    *         {accept_h1, accept_h0, continue}) — llr on a 6-digit grid
    */
  def sprt(df: DataFrame, orderCol: String, successCol: String,
      p0: Double, p1: Double, alpha: Double = 0.05,
      beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p0 != p1,
      s"need distinct p0, p1 in (0, 1): $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need alpha, beta in (0, 1): $alpha, $beta")
    val l1 = math.log(p1 / p0)
    val l0 = math.log((1.0 - p1) / (1.0 - p0))
    val upper = math.log((1.0 - beta) / alpha)
    val lower = math.log(beta / (1.0 - alpha))
    val per = df
      .filter(col(orderCol).isNotNull && col(successCol).isNotNull)
      .groupBy(col(orderCol))
      .agg(sum(col(successCol).cast("long")).as("x"),
        count(lit(1)).as("n"))
    val cum = Cumulative.runningSums(per, orderCol, Seq("x", "n"))
    val llr = col("x_cum").cast("double") * lit(l1) +
      (col("n_cum") - col("x_cum")).cast("double") * lit(l0)
    cum.select(col(orderCol), col("x"), col("n"),
      col("x_cum"), col("n_cum"), round(llr, 6).as("llr"),
      when(llr >= upper, lit("accept_h1"))
        .when(llr <= lower, lit("accept_h0"))
        .otherwise(lit("continue")).as("decision"))
  }

  /** Permutation test for a mean difference — the distribution-free
    * significance check when the t-test's normality/variance assumptions
    * are in doubt. DETERMINISTIC: permutation p reassigns each row to
    * side A iff md5(id # p) mod n < n_a (the engine's content-keyed draw
    * convention) — Bernoulli(n_a/n) label shuffling, reproducible on any
    * engine and partitioning (the trade vs exact-count permutations: the
    * per-permutation group sizes vary by ±O(√n), which the difference-
    * of-MEANS statistic absorbs).
    *
    * Execution: one 4-scalar observed pass; the permutation pass is ONE
    * `explode(1..B)` + ONE (perm, side) aggregation (B·n rows through a
    * single shuffle of B·2 cells); the comparison frame is B rows.
    * The value column MUST be integral (cents, counts) — enforced with
    * a `require`, because the entire statistic is then exact-integer
    * sums + one final division, bit-identical across engines (a double
    * column would also be silently truncated by the long cast).
    * Rows with a null value are dropped BEFORE counting, so they
    * contribute to neither the group sizes nor the sums.
    *
    * p = (1 + #{|diff_p| ≥ |diff_obs|}) / (B + 1) (the add-one
    * permutation convention — never exactly zero).
    *
    * @return one row: (n_a, n_b, diff_obs, n_perm, n_extreme, p_value)
    */
  def permutationTestMeanDiff(df: DataFrame, valueCol: String,
      groupCol: String, a: String, b: String, idCol: String,
      nPerm: Int = 100): DataFrame = {
    require(nPerm >= 1, s"need nPerm >= 1, got $nPerm")
    val vt = df.schema(valueCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(vt),
      s"permutationTestMeanDiff needs an integral '$valueCol' so the " +
        s"statistic stays exact-integer (got $vt) — pre-scale to " +
        "cents/counts and cast upstream")
    val base = df.filter(both(groupCol, a, b) && col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(valueCol).cast("long").as("__v"),
        (col(groupCol) === a).as("__ia"))
    val obs = base.agg(
      sum(when(col("__ia"), 1L).otherwise(0L)).as("na"),
      sum(when(col("__ia"), col("__v")).otherwise(0L)).as("sa"),
      sum(when(!col("__ia"), 1L).otherwise(0L)).as("nb"),
      sum(when(!col("__ia"), col("__v")).otherwise(0L)).as("sb")).head()
    val (na, sa, nb, sb) =
      (obs.getLong(0), obs.getLong(1), obs.getLong(2), obs.getLong(3))
    require(na > 0 && nb > 0, s"both groups must be non-empty: $na, $nb")
    val n = na + nb
    val diffObs = sa.toDouble / na - sb.toDouble / nb
    val draw = pmod(conv(substring(md5(concat(col("__id"), lit("#"),
      col("__p").cast("string"))), 1, 15), 16, 10).cast("long"), lit(n))
    val perms = base
      .withColumn("__p", explode(sequence(lit(1), lit(nPerm))))
      .withColumn("__side_a", draw < na)
      .groupBy("__p")
      .agg(sum(when(col("__side_a"), 1L).otherwise(0L)).as("pna"),
        sum(when(col("__side_a"), col("__v")).otherwise(0L)).as("psa"),
        sum(when(!col("__side_a"), 1L).otherwise(0L)).as("pnb"),
        sum(when(!col("__side_a"), col("__v")).otherwise(0L)).as("psb"))
    val diffP = col("psa").cast("double") / col("pna") -
      col("psb").cast("double") / col("pnb")
    perms
      .agg(sum(when(col("pna") > 0 && col("pnb") > 0 &&
          abs(diffP) >= math.abs(diffObs), 1L).otherwise(0L))
        .as("n_extreme"))
      .select(lit(na).as("n_a"), lit(nb).as("n_b"),
        round(lit(diffObs), 6).as("diff_obs"),
        lit(nPerm).as("n_perm"), col("n_extreme"),
        round((col("n_extreme") + 1).cast("double") / (nPerm + 1), 6)
          .as("p_value"))
  }

  /** Benjamini–Hochberg step-up FDR adjustment (1995) — the multiple-
    * testing correction for a frame of per-test p-values (one row per
    * test: per-segment A/B checks, per-feature drift tests, per-slice
    * quality gates):
    *
    *   p_adj(i) = min(1, min_{j >= i} m·p_(j)/j)   (suffix min over the
    *   ascending-p order); reject iff p_adj <= alpha.
    *
    * Execution: the rank is a running COUNT and the step-up a running
    * MIN, both through the two-level [[Cumulative]] pass — no global
    * window even when someone feeds millions of tests. Ties in p are
    * harmless BECAUSE the suffix-min runs over the RANK column (a total
    * order), not over p: every tie-mate's suffix then contains the
    * whole tie group's m·p/j values, so the group collapses to one
    * adjusted value no matter which arbitrary rank each member drew.
    * (Running the min over p itself would let the two passes disagree
    * on within-tie order and split the group — caught by the
    * partition-invariance spec.)
    *
    * @param idCol test identifier, carried through
    * @return (idCol, p, p_adj, reject) — rows with null p are dropped
    *         (they are not tests); m counts the non-null rows
    */
  def benjaminiHochberg(df: DataFrame, idCol: String, pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0, 1), got $alpha")
    val base = df
      .select(col(idCol), col(pCol).cast("double").as("p"))
      .filter(col("p").isNotNull)
    val m = base.count()
    require(m >= 1, "need at least one non-null p-value")
    val ranked = Cumulative.runningSums(
        base.withColumn("__one", lit(1L)), "p", Seq("__one"))
      .withColumn("__bh", lit(m.toDouble) * col("p") / col("__one_cum"))
    Cumulative.runningMins(ranked, "__one_cum", Seq("__bh"),
        descending = true)
      .select(col(idCol), col("p"),
        least(lit(1.0), col("__bh_cummin")).as("p_adj"))
      .withColumn("reject", col("p_adj") <= alpha)
  }

  /** Poisson(1) cumulative thresholds scaled to 2⁶⁰ — exact longs, so the
    * bootstrap draw is a pure integer-ladder comparison on the 60-bit
    * md5 value (no float anywhere in the randomness path). floor(P(X ≤ k)
    * · 2⁶⁰) for k = 0..6; draws past the ladder get weight 7
    * (P ≈ 8e-5 per draw).
    */
  private[ops] val poisson1Cut60: Array[Long] = Array(
    424136118829305344L, 848272237658610688L, 1060340297073263360L,
    1131029650211480960L, 1148701988496035328L, 1152236456152946176L,
    1152825534095764608L)

  /** Deterministic percentile-bootstrap confidence interval for a mean
    * (Efron) — the resampling companion to [[permutationTestMeanDiff]]:
    * resample weights are POISSON(1) counts (the classic distributed
    * bootstrap approximation of multinomial resampling — exactly the
    * scheme used when n is too big to resample by index), drawn from
    * md5(id#replicate): content-keyed, partition-invariant, engine-
    * reproducible. Integral values keep every replicate sum exact.
    *
    * Execution: ONE explode(1..B) + ONE per-replicate aggregation (B·n
    * rows through a B-cell shuffle), then order statistics over the
    * B-row replicate frame (a window over a collapsed frame). No
    * driver-side resampling, no RNG state.
    *
    * @return one row: (n, mean, n_boot, ci_lo, ci_hi) — percentile CI at
    *         `level` via the ceil(α·B) order statistics, (mean, replicate)
    *         tie order
    */
  def bootstrapMeanCI(df: DataFrame, valueCol: String, idCol: String,
      nBoot: Int = 200, level: Double = 0.95): DataFrame = {
    require(nBoot >= 2, s"need nBoot >= 2, got $nBoot")
    require(level > 0 && level < 1, s"level must be in (0, 1), got $level")
    val vt = df.schema(valueCol).dataType
    require(Seq(org.apache.spark.sql.types.ByteType,
        org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType).contains(vt),
      s"bootstrapMeanCI needs an integral '$valueCol' so replicate sums " +
        s"stay exact (got $vt) — pre-scale to cents/counts upstream")
    val base = df.filter(col(valueCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(valueCol).cast("long").as("__v"))
    val obs = base.agg(count(lit(1)).as("n"), sum("__v").as("s")).head()
    val (n, s) = (obs.getLong(0), obs.getLong(1))
    require(n > 0, "need at least one non-null value")
    val draw = conv(substring(md5(concat(col("__id"), lit("#"),
      col("__b").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = poisson1Cut60.zipWithIndex.foldRight(lit(7L): Column) {
      case ((cut, k), rest) => when(draw < cut, lit(k.toLong)).otherwise(rest)
    }
    val reps = base
      .withColumn("__b", explode(sequence(lit(1), lit(nBoot))))
      .withColumn("__w", w)
      .groupBy("__b")
      .agg(sum("__w").as("sw"), sum(col("__w") * col("__v")).as("swv"))
      .filter(col("sw") > 0)
      .withColumn("mean_b", col("swv").cast("double") / col("sw"))
    val wRank = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_b"), col("__b"))
    // ceil with the 1e-9 slack (the jaccardSelfJoin convention): float
    // products like 0.025·200 land at 5.000000000000001, and a naive
    // ceil would take rank 6 instead of the intended 5
    val kLo = math.max(1,
      math.ceil((1.0 - level) / 2.0 * nBoot - 1e-9).toInt)
    val kHi = math.ceil((1.0 + level) / 2.0 * nBoot - 1e-9).toInt
    reps
      .withColumn("__rk", row_number().over(wRank))
      .agg(
        min(when(col("__rk") === kLo, col("mean_b"))).as("ci_lo"),
        min(when(col("__rk") === math.min(kHi, nBoot), col("mean_b")))
          .as("ci_hi"),
        count(lit(1)).as("n_boot_kept"))
      .select(lit(n).as("n"),
        round(lit(s.toDouble / n), 6).as("mean"),
        lit(nBoot).as("n_boot"), col("n_boot_kept"),
        when(keptGuard(n, nBoot).isNull, round(col("ci_lo"), 6)).as("ci_lo"),
        when(keptGuard(n, nBoot).isNull, round(col("ci_hi"), 6)).as("ci_hi"))
  }

  /** kLo/kHi are order statistics of nBoot replicates, but ranking only
    * sees KEPT ones (a replicate whose n draws are all zero vanishes —
    * P = e^{−n} each, so only conceivable for tiny n). Without this
    * guard a dropped replicate silently nulls ci_hi; with it the query
    * fails loudly. assert_true returns null on success, so the `when`
    * wrapper passes values through untouched.
    */
  private def keptGuard(n: Long, nBoot: Int): Column =
    assert_true(col("n_boot_kept") === lit(nBoot.toLong),
      lit(s"bootstrapMeanCI: a bootstrap replicate drew all-zero Poisson " +
        s"weights (kept < nBoot=$nBoot at n=$n) — the CI order statistics " +
        "would be misranked; use a larger sample or fewer replicates"))
}
