package graft.glm

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-group GLM: one independent IRLS fit PER GROUP KEY — the
  * grouped-data extension of [[GLM]] (reference fits ONE model per call;
  * per-segment models are the at-scale workload this engine adds, same as
  * [[GroupedLM]] for OLS).
  *
  * Design (100 TB shape): coefficients live in a small (one row per group)
  * DataFrame, never on the driver. Each IRLS iteration broadcast-joins the
  * current betas onto the data, runs ONE grouped aggregation of plain
  * `sum(...)` expressions whose result is the per-group weighted Gram
  * (computed against that group's OWN beta), and solves the p×p system
  * once per group on whichever executor owns it. Only a single scalar
  * (the count of still-unconverged groups) reaches the driver per
  * iteration. Convergence is PER GROUP: a converged group freezes and its
  * rows drop out of the join map-side, so slow groups don't force
  * whole-data passes for everyone. Shuffle traffic is one p²-sized buffer
  * per (partition, active group) — map-side partial aggregation, never
  * row data.
  *
  * Families and links: binomial with logit (default), probit or cloglog
  * (w = pw/(V(μ)·η′(μ)²), z = η+(y−μ)·η′(μ), η′ = dη/dμ; reference:
  * GLM.scala:190-204, 282-291), poisson-log (w = μ, z = η+(y−μ)/μ), gamma
  * with log (default; w = 1, z = η+(y−μ)/μ) or inverse (canonical;
  * w = μ², z = η−(y−μ)/μ²) link, and gaussian-identity (one-step least
  * squares). Every pair runs through the same Gram pass. Groups that are
  * underdetermined or singular yield NaN coefficients, like [[GroupedLM]].
  */
object GroupedGLM {

  private val Eps = 1e-10

  private val FamGaussian = 0
  private val FamBinomial = 1
  private val FamPoisson = 2
  private val FamGamma = 3

  /** Per-group solve: buffer [n, dev, ll | XᵀWz (pp) | upper-tri XᵀWX] →
    * [new beta (pp) | dev(old beta) | n | diag((XᵀWX)⁻¹) (pp) | ll(old
    * beta) | packed upper-tri (XᵀWX)⁻¹ (pp(pp+1)/2)] — NaN beta/diag/
    * kernel for groups whose normal equations are underdetermined or
    * singular. The inverse diagonal feeds per-group standard errors
    * (sqrt(dispersion · diag) at convergence, like the single GLM's
    * lastGram-based SEs); ll feeds loglik/AIC; the packed kernel feeds
    * per-row scoring standard errors ([[GroupedGLM.predictWithSe]]).
    * Runs once per GROUP (post-aggregation), never per row.
    */
  private def finishBuf(fam: Int, pp: Int, b: Array[Double]): Seq[Double] = {
    val nUp = pp * (pp + 1) / 2
    val n = b(0)
    val out = new Array[Double](2 * pp + 3 + nUp)
    out(pp) = b(1)
    out(pp + 1) = n
    // gaussian: profile σ̂² = dev/n into the R-convention log-likelihood
    // (b(2) carries Σ ln w, zero when unweighted); others: Σ per-row ll
    out(2 * pp + 2) =
      if (fam == FamGaussian && n > 0)
        0.5 * (b(2) - n * (math.log(2.0 * math.Pi * b(1) / n) + 1.0))
      else b(2)
    if (n < pp || !java.lang.Double.isFinite(b(1))) {
      java.util.Arrays.fill(out, 0, pp, Double.NaN)
      java.util.Arrays.fill(out, pp + 2, 2 * pp + 2, Double.NaN)
      java.util.Arrays.fill(out, 2 * pp + 3, out.length, Double.NaN)
      return out.toSeq
    }
    val xtx = BDM.zeros[Double](pp, pp)
    var k = 3 + pp
    var i = 0
    while (i < pp) {
      var j = i
      while (j < pp) { xtx(i, j) = b(k); xtx(j, i) = b(k); k += 1; j += 1 }
      i += 1
    }
    val xtz = BDV.tabulate(pp)(i => b(3 + i))
    try {
      val beta = LinAlg.solvePD(xtx, xtz)
      val inv = LinAlg.invPD(xtx)
      i = 0
      while (i < pp) {
        out(i) = beta(i)
        out(pp + 2 + i) = inv(i, i)
        i += 1
      }
      k = 2 * pp + 3
      i = 0
      while (i < pp) {
        var j = i
        while (j < pp) { out(k) = inv(i, j); k += 1; j += 1 }
        i += 1
      }
    } catch {
      case _: Exception =>
        java.util.Arrays.fill(out, 0, pp, Double.NaN)
        java.util.Arrays.fill(out, pp + 2, 2 * pp + 2, Double.NaN)
        java.util.Arrays.fill(out, 2 * pp + 3, out.length, Double.NaN)
    }
    out.toSeq
  }

  /** One grouped IRLS pass over `joined` — the data rows (`xy` =
    * `array(x_1..x_p, y, m, offset, weight)`, plus `__cnt` when the data
    * side is collapsed to (pattern, count) sufficient statistics) with
    * their group's incoming `beta` and previous deviance `__prev` — to one
    * row per group: keys, `buf` (the [[finishBuf]] layout) and `__prev`.
    *
    * The per-row quantities are projected once, the way [[Gram.normal]]
    * projects its inputs: x, y, m, offset and weight, then η of the
    * incoming beta, then μ, then w, z, dev and ll. The buffer
    * [n, dev, ll | XᵀWz (pp) | upper-tri XᵀWX] is then plain `sum(...)`
    * aggregates over products of those columns, so μ's tree (η over pp
    * terms, the link inverse, the clamp) appears once in the plan instead
    * of once per sum. The per-group solve [[finishBuf]] runs behind a
    * post-aggregation UDF, once per group.
    *
    * μ, the init η and dη/dμ of the binomial links are the [[LinkFn]]
    * expressions the single-model [[GLM.fit]] uses (μ clamped to
    * [m·eps, m(1−eps)]); the gamma inverse link floors η at eps.
    *
    * `init = true` is the first IRLS pass: μ comes from the family's
    * μ-from-y start (reference: GLM.scala:263 "init μ = ȳ"-style; here
    * R's per-row inits), not from the (zero) incoming beta — log links
    * diverge from a flat start on large-scale responses. dev and ll are
    * those of the INCOMING beta (the update lags by one iteration, like
    * the single GLM's lastGram convention).
    */
  private def gramPass(joined: DataFrame, keyCols: Seq[String], p: Int,
      intercept: Boolean, fam: Int, link: LinkFn, init: Boolean,
      counted: Boolean): DataFrame = {
    val pp = if (intercept) p + 1 else p
    // internal column names take a prefix no key column starts with
    val taken = keyCols.map(_.toLowerCase(java.util.Locale.ROOT))
    var prefix = "__t"
    while (taken.exists(_.startsWith(prefix))) prefix = "_" + prefix
    def v(name: String): Column = col(s"${prefix}_$name")
    def add(df: DataFrame, cs: (String, Column)*): DataFrame =
      df.select(col("*") +: cs.map { case (nm, c) => c.as(s"${prefix}_$nm") }: _*)

    val xy = col("xy")
    // x-vector element i, intercept first
    def xE(i: Int): Column =
      if (intercept) { if (i == 0) lit(1.0) else element_at(xy, i) }
      else element_at(xy, i + 1)
    val inputs = add(joined, (0 until pp).map(i => s"x$i" -> xE(i)) ++ Seq(
      "y" -> element_at(xy, p + 1), "m" -> element_at(xy, p + 2),
      "off" -> element_at(xy, p + 3), "pw" -> element_at(xy, p + 4)): _*)
    val x = (0 until pp).map(i => v(s"x$i"))
    val (y, m, off, pw) = (v("y"), v("m"), v("off"), v("pw"))
    // η of the INCOMING beta (unused on the init pass)
    val withEta = if (init) inputs else add(inputs, "eta" ->
      (0 until pp).foldLeft(off)((acc, i) => acc + x(i) * element_at(col("beta"), i + 1)))
    val etaIn = v("eta")
    val inverse = link == LinkFn.Inverse
    val muE = fam match {
      case FamBinomial =>
        // y = successes in [0, m]; μ ∈ (0, m)
        val mu0 = if (init) m * (y + lit(0.5)) / (m + lit(1.0)) else link.inverse(etaIn, m)
        greatest(m * lit(Eps), least(m * lit(1.0 - Eps), mu0))
      case FamPoisson => if (init) y + lit(0.1) else greatest(lit(Eps), exp(etaIn))
      case FamGamma => // y must be > 0
        if (init) greatest(y, lit(Eps))
        else if (inverse) link.inverse(greatest(lit(Eps), etaIn), m)
        else greatest(lit(Eps), exp(etaIn))
      case _ => if (init) off else etaIn // gaussian identity: μ = η
    }
    val withMu = add(withEta, "mu" -> muE)
    val mu = v("mu")
    // the init pass derives η from its μ (gaussian does not use η)
    val eta = if (init) link.link(mu, m) + off else etaIn

    def lgamma(c: Column): Column = call_function("lgamma", c)
    // y·ln(y/μ) with the 0·ln0 = 0 convention (deviance terms)
    def ylog(a: Column, b: Column): Column =
      when(a > 0, a * log(a / b)).otherwise(lit(0.0))
    // the normal equations regress the OFFSET-FREE working response z − off
    // on X, exactly like the single-model GLM (GLM.scala:217)
    val (w, z, dev, ll) = fam match {
      case FamBinomial =>
        val fr = mu / m
        val lp = link.lprime(mu, m)
        val vb = mu * (m - mu) / m // binomial variance V(μ)
        (pw / (vb * lp * lp),
          eta + (y - mu) * lp - off,
          pw * lit(2.0) * (ylog(y, mu) + ylog(m - y, m - mu)),
          pw * (lgamma(m + lit(1.0)) - lgamma(y + lit(1.0)) -
            lgamma(m - y + lit(1.0)) + y * log(fr) + (m - y) * log1p(-fr)))
      case FamPoisson =>
        (pw * mu,
          eta + (y - mu) / mu - off,
          pw * lit(2.0) * (ylog(y, mu) - (y - mu)),
          pw * (y * log(mu) - mu - lgamma(y + lit(1.0))))
      case FamGamma =>
        // log link: V = μ², η′ = 1/μ → w = pw, z = η + (y−μ)/μ; inverse
        // link: η′ = −1/μ² → w = pw·μ², z = η − (y−μ)/μ²
        (if (inverse) pw * mu * mu else pw,
          if (inverse) eta - (y - mu) / (mu * mu) - off else eta + (y - mu) / mu - off,
          pw * lit(2.0) * (-log(y / mu) + (y - mu) / mu),
          pw * (-log(mu) - y / mu)) // unit shape, like GammaFamily
      case _ =>
        // gaussian identity: one-step weighted least squares on y − off.
        // The ll slot accumulates Σ ln(w): R's logLik.glm(gaussian)
        // profiles σ̂² = Σw(y−μ)²/n, giving ll = ½(Σ ln w − n(ln(2πσ̂²)+1))
        // — assembled in finishBuf from this slot, dev and n
        (pw, y - off, pw * (y - mu) * (y - mu), log(pw))
    }
    val rows = add(withMu, "w" -> w, "z" -> z, "dev" -> dev, "ll" -> ll)
    // per-row terms, replication-count-weighted when collapsed
    def wc(c: Column): Column = if (counted) c * col("__cnt") else c
    val wx = x.map(v("w") * _)
    val sums = Seq(
      if (counted) sum(col("__cnt")) else count(lit(1)).cast("double"),
      sum(wc(v("dev"))), sum(wc(v("ll")))) ++
      (0 until pp).map(i => sum(wc(wx(i) * v("z")))) ++
      (for (i <- 0 until pp; j <- i until pp) yield sum(wc(wx(i) * x(j))))
    val solve = udf((b: Seq[Double]) => finishBuf(fam, pp, b.toArray))
    val named = (sums :+ first(col("__prev"))).zipWithIndex
      .map { case (c, i) => c.as(s"${prefix}_c$i") }
    rows.groupBy(keyCols.map(col): _*)
      .agg(named.head, named.tail: _*)
      .select(keyCols.map(col) ++ Seq(
        solve(array(sums.indices.map(i => v(s"c$i")): _*)).as("buf"),
        v(s"c${sums.size}").as("__prev")): _*)
  }

  /** The link a grouped model uses: `linkName` when given, else the
    * family's default (binomial: logit; poisson, gamma: log; gaussian:
    * identity). [[fit]] checks the (family, link) pair before it resolves
    * through here; the scoring paths resolve through here directly.
    */
  private def linkOf(family: String, linkName: String): LinkFn =
    LinkFn(if (linkName.nonEmpty) linkName else family match {
      case "binomial" => "logit"
      case "poisson" | "gamma" => "log"
      case "gaussian" => "identity"
      case other => throw new IllegalArgumentException(
        s"GroupedGLM supports binomial|poisson|gamma|gaussian, got $other")
    })

  /** Fit one GLM per group of `keyCols`.
    *
    * @param family "binomial" (`yCol` is successes in [0, m] — 0/1
    *               without `mCol`), "poisson" (`yCol` is a count), "gamma"
    *               (`yCol` must be > 0), or "gaussian"
    * @param linkName binomial: logit (default), probit or cloglog; gamma:
    *               log (default) or inverse; poisson: log; gaussian:
    *               identity. "canonical" picks the family's canonical link
    *               (logit, inverse, log, identity).
    * @param mCol      binomial trials column (binomial only; defaults to 1)
    * @param offsetCol known-offset column added to η (defaults to 0) —
    *                  same semantics as the single-model GLM.fit
    * @param weightCol prior case-weight column (defaults to 1): scales the
    *                  IRLS weights and the deviance contributions
    * @param nullDeviance also fit the intercept-only null model per group
    *        (one extra grouped IRLS, broadcast-joined back) and append a
    *        `null_deviance` column — the denominator of the per-group
    *        pseudo-R² (1 − deviance/null_deviance) used to screen thousands
    *        of segment models
    * @param kernel append a `kernel` column with the packed upper-tri
    *        (XᵀWX)⁻¹ at convergence (p(p+1)/2 doubles per group) — the
    *        input [[predictWithSe]] needs. Off by default so existing
    *        consumers see an unchanged schema.
    * @return one row per group: keyCols ++ coefficient columns
    *         (`b_intercept` first when intercept, then `b_<feature>`),
    *         matching `se_intercept`/`se_<feature>` standard errors
    *         (sqrt(dispersion · diag((XᵀWX)⁻¹)) at convergence), deviance,
    *         n_rows, n_iter (the PER-GROUP iteration count — the pass this
    *         group's deviance stabilized at; groups converge and freeze
    *         independently), loglik, aic = −2·loglik + 2k (k = p, plus the
    *         profiled σ̂² for gaussian — loglik/aic follow R's logLik.glm/
    *         AIC.glm conventions exactly, gaussian included) (+
    *         null_deviance when requested). NaN coefficients/SEs mark
    *         underdetermined/singular groups.
    */
  def fit(
      df: DataFrame,
      keyCols: Seq[String],
      xCols: Seq[String],
      yCol: String,
      family: String = "binomial",
      linkName: String = "",
      intercept: Boolean = true,
      mCol: Option[String] = None,
      offsetCol: Option[String] = None,
      weightCol: Option[String] = None,
      maxIter: Int = 25,
      tol: Double = 1e-10,
      checkpointDir: Option[String] = None,
      nullDeviance: Boolean = false,
      kernel: Boolean = false): DataFrame = {
    require(keyCols.nonEmpty && xCols.nonEmpty && maxIter >= 1)
    val fam = family match {
      case "binomial" => FamBinomial
      case "poisson" => FamPoisson
      case "gamma" => FamGamma
      case "gaussian" => FamGaussian
      case other => throw new IllegalArgumentException(
        s"GroupedGLM supports binomial|poisson|gamma|gaussian, got $other")
    }
    require(mCol.isEmpty || fam == FamBinomial,
      "mCol (binomial trials) only applies to the binomial family")
    val link = (fam, linkName.toLowerCase) match {
      case (FamGamma, "canonical" | "inverse") => linkOf(family, "inverse") // R's canonical
      case (_, "canonical") => linkOf(family, "")
      case (FamBinomial, ln @ ("" | "logit" | "probit" | "cloglog")) => linkOf(family, ln)
      // default log for gamma, like the single GLM
      case (FamGamma | FamPoisson, ln @ ("" | "log")) => linkOf(family, ln)
      case (FamGaussian, ln @ ("" | "identity")) => linkOf(family, ln)
      case (_, other) => throw new IllegalArgumentException(
        s"unsupported link '$other' for family $family (binomial: " +
          "logit|probit|cloglog; gamma: log|inverse; poisson: log; " +
          "gaussian: identity)")
    }
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val p = xCols.size
    val pp = if (intercept) p + 1 else p
    // same durability contract as Dedup.connectedComponents: reliable
    // checkpoint() when a dir is configured (long fits on a real cluster
    // must survive executor loss), localCheckpoint as local-mode default.
    // Checkpointer frees each superseded generation as soon as the next
    // one is materialized — files/blocks stay O(betas), not O(iterations).
    val keys = keyCols.map(col)
    val lastFit = graft.Checkpointer.using(df.sparkSession, checkpointDir) { cp =>
      val assembled0 = df.select(keys :+
        array(xCols.map(c => col(c).cast("double")) ++ Seq(
          col(yCol).cast("double"),
          mCol.map(c => col(c).cast("double")).getOrElse(lit(1.0)),
          offsetCol.map(c => col(c).cast("double")).getOrElse(lit(0.0)),
          weightCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))): _*)
          .as("xy"): _*)
      // Sufficient-stats collapse of the DATA side (see [[SuffStats]]):
      // on a discrete design every per-group IRLS pass — at any scale —
      // aggregates over (key, pattern) rows with the count as a
      // replication weight.
      val collapsed = SuffStats.collapse(assembled0, "__cnt")
      val assembled = collapsed.map(_.view).getOrElse(assembled0.persist())

      // Per-group state frame (one row per group, riding the generation
      // chain): beta, previous deviance, last stats, a `frozen` convergence
      // flag and the iteration the group last computed at. Convergence is
      // PER GROUP — a group whose relative deviance change drops under `tol`
      // freezes: its rows stop flowing into the broadcast join (inner join
      // against the ACTIVE betas drops them map-side) and its Gram is never
      // recomputed, so one slow group no longer forces whole-data iterations
      // for the millions-of-groups regime. Frozen rows pass through each
      // generation unchanged (the state is one row per group — copying it is
      // free next to the data pass it saves).
      // The zero betas are placeholders — iteration 0 is the init pass,
      // which derives η from y per family and ignores them.
      val nUp = pp * (pp + 1) / 2
      var state = cp(assembled.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
        .select(keys ++ Seq(
          array(Seq.fill(pp)(lit(0.0)): _*).as("beta"),
          lit(Double.MaxValue).as("dev"),
          lit(0L).as("n"),
          array(Seq.fill(pp)(lit(Double.NaN)): _*).as("vdiag"),
          lit(0.0).as("ll"),
          array(Seq.fill(nUp)(lit(Double.NaN)): _*).as("kernel"),
          lit(false).as("frozen"),
          lit(0).as("n_iter")): _*))
      var iter = 0
      var remaining = 1L
      while (iter < maxIter && remaining > 0) {
        val active = state.filter(!col("frozen"))
        // ONE broadcast per iteration: the previous deviance rides along
        // with the betas (r15 — the r14 shape re-joined a second broadcast
        // of `active` post-aggregation just to fetch it) and passes through
        // the group aggregation as first(), so assessment needs no join
        val joined = assembled.join(
          broadcast(active.select(keys ++ Seq(col("beta"),
            col("dev").as("__prev")): _*)), keyCols)
        val step = gramPass(joined, keyCols, p, intercept, fam, link,
            init = iter == 0, counted = collapsed.isDefined)
          .select(keys ++ Seq(
            slice(col("buf"), 1, pp).as("beta"),
            element_at(col("buf"), pp + 1).as("dev"),
            element_at(col("buf"), pp + 2).cast("long").as("n"),
            slice(col("buf"), pp + 3, pp).as("vdiag"),
            element_at(col("buf"), 2 * pp + 3).as("ll"),
            slice(col("buf"), 2 * pp + 4, nUp).as("kernel"),
            col("__prev")): _*)
        // assess each recomputed group against ITS OWN previous deviance;
        // singular (NaN-beta) groups freeze immediately — they can never
        // converge and must not keep forcing data passes
        val assessed = step
          .withColumn("frozen", isnan(element_at(col("beta"), 1)) ||
            abs(col("__prev") - col("dev")) / (abs(col("dev")) + 0.1) < lit(tol))
          .withColumn("n_iter", lit(iter + 1))
          .drop("__prev")
        state = cp(state.filter(col("frozen"))
          .unionByName(assessed.select(state.columns.map(col): _*)))
        // one scalar to the driver per iteration: how many groups still move
        remaining = state.filter(!col("frozen")).count()
        iter += 1
      }
      assembled.unpersist(blocking = false)
      collapsed.foreach(_.unpersist())
      state // the final generation backs the result and outlives close()
    }

    val names = (if (intercept) Seq("b_intercept") else Nil) ++ xCols.map("b_" + _)
    // dispersion for the SEs: fixed 1 for binomial/poisson; the
    // deviance-based estimate dev/(n−p) for gaussian (= RSS/(n−p), exactly
    // WLS sigma²) and gamma (R's summary.glm uses the Pearson moment
    // estimator instead, so gamma SEs differ slightly from R's)
    val disp = fam match {
      case FamGaussian | FamGamma => col("dev") / (col("n") - lit(pp)).cast("double")
      case _ => lit(1.0)
    }
    val fitOut = lastFit.select(keys ++
      names.zipWithIndex.map { case (nm, i) => element_at(col("beta"), i + 1).as(nm) } ++
      names.zipWithIndex.map { case (nm, i) =>
        sqrt(element_at(col("vdiag"), i + 1) * disp).as("se_" + nm.stripPrefix("b_")) } ++
      Seq(col("dev").as("deviance"), col("n").as("n_rows"),
        col("n_iter"), col("ll").as("loglik"),
        // gaussian AIC counts the profiled σ̂² as a parameter (R AIC.glm)
        (col("ll") * -2.0 +
          lit(2.0 * (if (fam == FamGaussian) pp + 1 else pp))).as("aic")) ++
      // packed upper-tri (XᵀWX)⁻¹ per group, for predictWithSe
      (if (kernel) Seq(col("kernel")) else Nil): _*)
    if (!nullDeviance) fitOut
    else {
      // intercept-only null model by pure reuse: a constant feature with
      // intercept=false is exactly the per-group null fit; its converged
      // deviance broadcast-joins back (one row per group)
      val nd = fit(df.withColumn("__one", lit(1.0)), keyCols, Seq("__one"), yCol,
        family = family, linkName = linkName, intercept = false, mCol = mCol,
        offsetCol = offsetCol, weightCol = weightCol, maxIter = maxIter,
        tol = tol, checkpointDir = checkpointDir)
        .select(keys :+ col("deviance").as("null_deviance"): _*)
      fitOut.join(broadcast(nd), keyCols)
    }
  }

  /** R-formula front-end for grouped fits, mirroring [[GLM.fitFormula]]:
    * resolve the formula against the non-key columns, dummy-encode string
    * feature terms with GLOBAL k−1 lexicographic levels (one pass over the
    * whole frame — every group gets the SAME encoded columns, so the
    * per-group models stay comparable even when a group is missing a
    * level), drop NA rows, then [[fit]]. Interaction terms (`x1:x2`,
    * `x1*x2`) expand per [[ModelMatrix.termColumns]] — against the same
    * global levels, so interactions with string terms stay comparable
    * across groups too.
    */
  def fitFormula(df: DataFrame, keyCols: Seq[String], formula: String,
      family: String = "binomial", linkName: String = "",
      mCol: Option[String] = None, offsetCol: Option[String] = None,
      weightCol: Option[String] = None,
      maxIter: Int = 25, tol: Double = 1e-10,
      checkpointDir: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val special = keyCols.toSet ++ mCol ++ offsetCol ++ weightCol
    val f0 = Formula.parse(formula)
      .resolve(df.columns.toSeq.filterNot(special.contains))
    val extras = Seq(mCol, offsetCol, weightCol).flatten.distinct
    val base = f0.baseColumns
    val sel = ModelMatrix.naDrop(df.select(
      (keyCols ++ (f0.response +: base) ++ extras).distinct.map(col): _*))
    val stringCols = base.filter(c => sel.schema(c).dataType == StringType)
    val lv = ModelMatrix.levels(sel, stringCols)
    val feats = ModelMatrix.termColumns(f0.terms, lv)
    val encoded = sel.select(
      keyCols.map(col) ++ Seq(col(f0.response)) ++ feats.map(_._2) ++
        extras.map(col): _*)
    fit(encoded, keyCols, feats.map(_._1), f0.response, family = family,
      linkName = linkName, intercept = f0.intercept, mCol = mCol,
      offsetCol = offsetCol, weightCol = weightCol, maxIter = maxIter,
      tol = tol, checkpointDir = checkpointDir)
  }

  /** Score `df` with a per-group coefficient frame produced by [[fit]]
    * (also works on [[GroupedLM.fit]] output with `family = "gaussian"`):
    * broadcast-join the betas on the group key and evaluate
    * μ = link⁻¹(Σ bᵢ·xᵢ + offset) as a pure column expression — no UDF,
    * no driver state, scoring pipelines with the scan at any scale. The
    * betas frame is one row per group (small by construction) and is
    * broadcast; rows of groups absent from `betas` (or with NaN
    * coefficients) score NaN, marking them unscorable rather than silently
    * dropping them.
    */
  def predict(betas: DataFrame, df: DataFrame, keyCols: Seq[String],
      xCols: Seq[String], family: String = "binomial",
      linkName: String = "", intercept: Boolean = true,
      mCol: Option[String] = None, offsetCol: Option[String] = None,
      outputCol: String = "prediction"): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val coefCols = (if (intercept) Seq("b_intercept") else Nil) ++ xCols.map("b_" + _)
    val slim = betas.select((keyCols ++ coefCols).map(col): _*)
    val joined = df.join(broadcast(slim), keyCols, "left")
    val terms = xCols.map(c => col("b_" + c) * col(c).cast("double"))
    val eta0 = terms.foldLeft(
      if (intercept) col("b_intercept") else lit(0.0))(_ + _)
    val eta = offsetCol.map(c => eta0 + col(c).cast("double")).getOrElse(eta0)
    val m = mCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    // μ = link⁻¹(η): the same LinkFn expressions the single GLM scores with
    // (binomial μ is expected successes — the probability when m = 1)
    val mu = linkOf(family, linkName).inverse(eta, m)
    // absent group -> null coefficients -> null eta; surface as NaN
    joined.withColumn(outputCol, coalesce(mu, lit(Double.NaN)))
      .drop(coefCols: _*)
  }

  /** Score with per-row DELTA-METHOD standard errors from a per-group fit
    * — [[GLMModel.predictWithSe]] for grouped models, the same shape as
    * [[GroupedLM.predictWithSe]]: the `fit(..., kernel = true)` frame is
    * broadcast-joined on the group key, and prediction + se_fit are column
    * expressions over the joined coefficients and packed per-group
    * (XᵀWX)⁻¹ — no UDF, no driver state, any number of groups. On the link
    * scale se_η = sqrt(disp_g · x₀ᵀK_g x₀) with disp_g = 1 for binomial/
    * poisson and the per-group deviance estimate dev/(n−p) for gaussian/
    * gamma (the same dispersion the fit's `se_*` columns use); on the
    * response scale se_μ = se_η · |dμ/dη|. `prediction` is always μ, like
    * [[predict]]. Rows of groups absent from `betas` score NaN.
    */
  def predictWithSe(betas: DataFrame, df: DataFrame, keyCols: Seq[String],
      xCols: Seq[String], family: String = "binomial",
      linkName: String = "", intercept: Boolean = true,
      mCol: Option[String] = None, offsetCol: Option[String] = None,
      scale: String = "link"): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    require(Seq("link", "response").contains(scale),
      s"scale must be link|response, got $scale")
    require(betas.columns.contains("kernel"),
      "betas frame has no `kernel` column — fit with kernel = true")
    val p = xCols.size
    val pp = if (intercept) p + 1 else p
    val coefCols = (if (intercept) Seq("b_intercept") else Nil) ++ xCols.map("b_" + _)
    val dispG = family match {
      case "gaussian" | "gamma" =>
        col("deviance") / (col("n_rows") - lit(pp)).cast("double")
      case _ => lit(1.0)
    }
    val slim = betas.select(keyCols.map(col) ++ coefCols.map(col) ++ Seq(
      col("kernel").as("__kernel"), dispG.as("__disp")): _*)
    val joined = df.join(broadcast(slim), keyCols, "left")
    val xs: Seq[Column] = (if (intercept) Seq(lit(1.0)) else Nil) ++
      xCols.map(c => col(c).cast("double"))
    val eta0 = coefCols.map(col).zip(xs).map { case (b, x) => b * x }.reduce(_ + _)
    val eta = offsetCol.map(c => eta0 + col(c).cast("double")).getOrElse(eta0)
    val m = mCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val link = linkOf(family, linkName)
    val mu = link.inverse(eta, m)
    // x₀ᵀK x₀ from the packed upper-tri kernel (same indexing as
    // GroupedLM.predictWithSe) — element_at chains stay in codegen
    def kAt(i: Int, j: Int): Column =
      element_at(col("__kernel"), i * pp - i * (i - 1) / 2 + (j - i) + 1)
    var quad: Column = lit(0.0)
    for (i <- 0 until pp; j <- i until pp)
      quad = quad + (if (i == j) kAt(i, i) * xs(i) * xs(i)
                     else kAt(i, j) * xs(i) * xs(j) * 2.0)
    val seLink = sqrt(col("__disp") * quad)
    val se = if (scale == "link") seLink else seLink / abs(link.lprime(mu, m))
    joined.withColumn("prediction", coalesce(mu, lit(Double.NaN)))
      .withColumn("se_fit", coalesce(se, lit(Double.NaN)))
      .drop(coefCols :+ "__kernel" :+ "__disp": _*)
  }

  /** Per-row residuals against each row's OWN group model — the grouped
    * twin of [[GLMModel.residuals]] (response / pearson / deviance /
    * working, R `residuals.glm` formulas), built on the same
    * broadcast-join scoring path as [[predict]]: one codegen'd projection,
    * no driver state. Rows of groups absent from `betas` get NaN.
    */
  def residuals(betas: DataFrame, df: DataFrame, keyCols: Seq[String],
      xCols: Seq[String], yCol: String, rtype: String = "deviance",
      family: String = "binomial", linkName: String = "",
      intercept: Boolean = true, mCol: Option[String] = None,
      offsetCol: Option[String] = None,
      outputCol: String = "residual"): DataFrame = {
    require(Seq("response", "pearson", "deviance", "working").contains(rtype),
      s"rtype must be response|pearson|deviance|working, got $rtype")
    val scored = predict(betas, df, keyCols, xCols, family, linkName,
      intercept, mCol, offsetCol, outputCol = "__mu")
    val fam = Family(family)
    val link = linkOf(family, linkName)
    val m = mCol.map(c => col(c).cast("double")).getOrElse(lit(1.0))
    val mu = col("__mu")
    val y = col(yCol).cast("double")
    val raw = y - mu
    val resid = rtype match {
      case "response" => raw
      case "pearson"  => raw / sqrt(fam.variance(mu, m))
      case "deviance" => signum(raw) * sqrt(greatest(fam.deviance(y, mu, m), lit(0.0)))
      case "working"  => raw * link.lprime(mu, m)
    }
    scored.withColumn(outputCol, coalesce(resid, lit(Double.NaN))).drop("__mu")
  }
}
