package graft.glm

import breeze.linalg.{DenseVector => BDV}
import org.apache.commons.math3.distribution.{NormalDistribution, TDistribution}
import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.sql.types.DoubleType

/** Binomial generalized linear model via IRLS / Fisher scoring.
  *
  * Re-expression of the reference's `GLM`
  * (reference: GLM.scala:254-315 `fitSingleBinomial`,
  * GLM.scala:410-468 `fitMultipleBinomial`, GLM.scala:595-995 `fit`):
  *
  *  - the 16 `fit` overloads collapse to one method with default arguments
  *    (reference: GLM.scala:597-995 — and note only the first overload ever
  *    dispatched to the distributed path; the rest silently went
  *    single-partition, GLM.scala:640-642 — a gap, not a semantic, so we
  *    keep ONE code path for any partitioning);
  *  - each IRLS iteration is **one** pass: the working response z,
  *    weights w, μ, η are column expressions with literal coefficients
  *    (recomputed from β, never persisted), and the weighted normal
  *    equations AND the deviance sum come back from the same pass (the
  *    reference launches 3–4 jobs per iteration, GLM.scala:452-462);
  *  - where the pass runs is decided once, from a verified row count: when
  *    the working frame is a table of at most [[SuffStats.CollapseMax]]
  *    pattern rows (a discrete design's distinct rows, found in one
  *    bounded scan by [[SuffStats.patterns]], or a caller's `countCol`
  *    frame) it is brought to the driver once and every IRLS, statistics
  *    and null-deviance pass runs there with no Spark job — the
  *    reference's local fit of single-partition data (GLM.scala:254-315),
  *    but over the same column expressions, through a generated projection
  *    ([[DriverRows]]). A pass over a few thousand rows is otherwise one
  *    Spark action, ~0.25 s of fixed cost. The rows are sorted by value
  *    first, so a driver fit is bit-identical however its input was
  *    ordered or partitioned. [[fitFormula]] finds the pattern rows before
  *    encoding and encodes them on the driver, so a discrete formula fit
  *    is one Spark job in all. Any other frame is persisted and
  *    each pass is one `agg` job over it; [[Gram.normal]] projects z and w
  *    once per row before its sums, and the final statistics and
  *    null-deviance passes project μ once, so no pass plans a copy of the
  *    η/μ tree per sum (see [[Gram]] for why and what it saves);
  *  - convergence is on RELATIVE deviance change |ΔD| / (|D| + 0.1) < tol
  *    (R glm's criterion, default here 1e-10). The reference converges on
  *    ABSOLUTE |ΔD| < 1e-6 (reference: GLM.scala:281,452), which never
  *    terminates for families whose deviance carries the response's scale —
  *    gaussian deviance is the raw RSS (~1e12 on price-scale data), where
  *    float-reordering noise in ΔD alone exceeds any absolute threshold —
  *    so the relative form is a correctness requirement here, not a style
  *    choice (binomial deviance is O(n), where the two criteria coincide);
  *  - derived statistics follow reference: GLM.scala:59-88 `createObj`:
  *    dispersion = Pearson/dfResidual, AIC = −2·logLik + 2p.
  *
  * Scale: on the distributed path per-iteration driver↔executor traffic is
  * the p²-sized Gram buffer only; the input DataFrame is persisted once
  * before the loop and each iteration is a single whole-stage-codegen'd
  * scan over it.
  */
final class GLMModel(
    val xnames: Array[String],
    val yname: String,
    val intercept: Boolean,
    val family: String,
    val link: LinkFn,
    val coefs: BDV[Double],
    val stdErr: BDV[Double],
    val deviance: Double,
    val nullDeviance: Double,
    val pearson: Double,
    val loglik: Double,
    val n: Long,
    val iter: Int,
    /** (XᵀWX)⁻¹ at convergence — the unscaled coefficient covariance
      * kernel, kept for per-row scoring standard errors (p×p,
      * driver-local); NaN sentinel on models loaded from a pre-kernel
      * save (only [[predictWithSe]] needs it).
      */
    val xtwxInv: breeze.linalg.DenseMatrix[Double])
    extends Serializable {

  def p: Int = coefs.length
  def dfResidual: Long = n - p
  def dfNull: Long = n - 1
  def dispersion: Double = pearson / dfResidual

  /** AIC = −2·logLik + 2k; for gaussian and inverse-gaussian, k counts the
    * profiled dispersion as a parameter in addition to the p coefficients
    * (R's `AIC.glm`). NaN for the quasi families (R reports NA).
    */
  def aic: Double =
    -2.0 * loglik + 2.0 * (p +
      (if (family == "gaussian" || family == "inverse-gaussian") 1 else 0))

  /** Whether the family's dispersion is estimated (Pearson/dfResidual)
    * rather than fixed at 1 (binomial, poisson, negbin(θ)).
    */
  private def dispersionEstimated: Boolean = family match {
    case "gaussian" | "gamma" | "inverse-gaussian" |
         "quasipoisson" | "quasibinomial" => true
    case f => f.startsWith("tweedie")
  }

  /** The factor that turns the unscaled `stdErr` kernel into a standard
    * error: √dispersion where it is estimated, else 1 (R's summary.glm).
    */
  private def seScale: Double =
    if (dispersionEstimated) math.sqrt(dispersion) else 1.0

  /** Wald statistics coef / (`seScale` × `stdErr`): t statistics where
    * the dispersion is estimated, z where it is fixed at 1.
    */
  def zValues: BDV[Double] = BDV.tabulate(p)(i => coefs(i) / (stdErr(i) * seScale))

  /** Two-sided p-values of [[zValues]]: from t(dfResidual) where the
    * dispersion is estimated (NaN when dfResidual ≤ 0), else from N(0, 1),
    * as in R's summary.glm.
    */
  def pValues: BDV[Double] = {
    val cdf: Double => Double =
      if (!dispersionEstimated) new NormalDistribution(0.0, 1.0).cumulativeProbability(_)
      else if (dfResidual <= 0) _ => Double.NaN
      else new TDistribution(dfResidual.toDouble).cumulativeProbability(_)
    zValues.map(v => 2.0 * (1.0 - cdf(math.abs(v))))
  }

  def featureNames: Array[String] = if (intercept) xnames.drop(1) else xnames

  /** η as a literal-coefficient column expression. */
  def linearPredictor: Column = {
    val terms = featureNames.zipWithIndex.map { case (nm, i) =>
      col(nm).cast(DoubleType) *
        graft.functions.stableLit(coefs(if (intercept) i + 1 else i))
    }
    terms.foldLeft(
      if (intercept) graft.functions.stableLit(coefs(0)) else lit(0.0))(_ + _)
  }

  /** Score: μ on the response scale (probability when m = 1). */
  def predict(df: DataFrame, outputCol: String = "prediction",
      mCol: Option[String] = None, offsetCol: Option[String] = None): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val aligned = ModelMatrix.matchCols(featureNames.toSeq, df)
    val m = mCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    // models fit with an offset score with the scoring data's offset
    // (R predict.glm semantics)
    val off = offsetCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(0.0))
    aligned.withColumn(outputCol, link.inverse(linearPredictor + off, m))
  }

  /** Score with per-row DELTA-METHOD standard errors — R
    * `predict.glm(se.fit = TRUE)` semantics. On the link scale
    * (`scale = "link"`): se_η = sqrt(disp · x₀ᵀ(XᵀWX)⁻¹x₀) with
    * disp = 1 for binomial/poisson and the Pearson dispersion estimate
    * for gaussian/gamma (R's summary.glm convention — for gaussian this
    * is exactly predict.lm's σ̂·sqrt(quad)). On the response scale
    * (`scale = "response"`): se_μ = se_η · |dμ/dη| (the delta method;
    * dμ/dη = 1/l′(μ)). `prediction` is always μ on the response scale,
    * like [[predict]]. Everything is a literal-kernel column expression
    * (or one closure UDF for wide p) — one codegen'd projection at any
    * scale.
    */
  def predictWithSe(df: DataFrame, scale: String = "link",
      mCol: Option[String] = None, offsetCol: Option[String] = None): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    require(Seq("link", "response").contains(scale),
      s"scale must be link|response, got $scale")
    require(!xtwxInv(0, 0).isNaN,
      "this model has no (XᵀWX)⁻¹ kernel (loaded from a pre-xtwx_inv save?) — " +
        "refit or re-save with the current version to use predictWithSe")
    val aligned = ModelMatrix.matchCols(featureNames.toSeq, df)
    val xs: Array[Column] =
      (if (intercept) Array(lit(1.0)) else Array.empty[Column]) ++
        featureNames.map(nm => col(nm).cast(DoubleType))
    val quad = LinAlg.quadFormExpr(xtwxInv, xs)
    val m = mCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val off = offsetCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(0.0))
    val mu = link.inverse(linearPredictor + off, m)
    val seLink = lit(seScale) * sqrt(quad)
    val se =
      if (scale == "link") seLink
      else seLink / abs(link.lprime(mu, m))
    aligned.withColumn("prediction", mu).withColumn("se_fit", se)
  }

  /** Per-row residuals — R `residuals.glm` types, each a single
    * literal-coefficient codegen'd projection over the family's column
    * expressions (no materialized μ, no second pass):
    *
    *   response  = y − μ
    *   pearson   = (y − μ) / √V(μ)          (unscaled by dispersion, as R)
    *   deviance  = sign(y − μ)·√d_i          (d_i = per-row unit deviance;
    *                                          Σ deviance² = model deviance)
    *   working   = (y − μ)·(dη/dμ)           (the IRLS working residual)
    *
    * For binomial fits with `mCol`, y and μ are on the COUNT scale (0..m),
    * matching this engine's fit convention; at m = 1 all four types agree
    * with R exactly. `df` must carry the label column.
    */
  def residuals(df: DataFrame, rtype: String = "deviance",
      mCol: Option[String] = None, offsetCol: Option[String] = None,
      outputCol: String = "residual"): DataFrame = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    require(Seq("response", "pearson", "deviance", "working").contains(rtype),
      s"rtype must be response|pearson|deviance|working, got $rtype")
    val fam = Family(family)
    val aligned = ModelMatrix.matchCols(featureNames.toSeq, df)
    val m = mCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(1.0))
    val off = offsetCol.map(c => col(c).cast(DoubleType)).getOrElse(lit(0.0))
    val mu = link.inverse(linearPredictor + off, m)
    val y = col(yname).cast(DoubleType)
    val raw = y - mu
    val resid = rtype match {
      case "response" => raw
      case "pearson"  => raw / sqrt(fam.variance(mu, m))
      case "deviance" => signum(raw) * sqrt(greatest(fam.deviance(y, mu, m), lit(0.0)))
      case "working"  => raw * link.lprime(mu, m)
    }
    aligned.withColumn(outputCol, resid)
  }

  def formulaString: String = s"$yname ~ ${featureNames.mkString(" + ")}" +
    (if (intercept) "" else " - 1")

  /** Persist the model as a one-row parquet dataset (same contract as
    * [[LMModel.save]]); the link is stored by name and rebuilt by
    * [[GLM.load]].
    */
  def save(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    Seq((xnames.toSeq, yname, intercept, family, link.name,
        coefs.toArray.toSeq, stdErr.toArray.toSeq,
        deviance, nullDeviance, pearson, loglik, n, iter,
        (for (i <- 0 until p; j <- 0 until p) yield xtwxInv(i, j)).toSeq))
      .toDF("xnames", "yname", "intercept", "family", "link",
        "coefs", "std_err", "deviance", "null_deviance", "pearson",
        "loglik", "n", "iter", "xtwx_inv")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** R-style summary (reference: GLM.scala:998-1025). Where the
    * dispersion is estimated the standard errors are √dispersion ×
    * `stdErr` and the tests are t ([[zValues]], [[pValues]]), as in R's
    * `summary.glm`; elsewhere they are `stdErr` and z, and the printed
    * dispersion is 1 (the `dispersion` field stays Pearson/dfResidual).
    */
  def summary: String = {
    import NumFormat._
    val sb = new StringBuilder
    sb ++= s"Call:\nglm(formula = $formulaString, family = $family(link = ${link.name}))\n\n"
    sb ++= "Coefficients:\n"
    val (stat, pr) = if (dispersionEstimated) ("t", "|t|") else ("z", "|z|")
    sb ++= f"${""}%-20s${"Estimate"}%13s${"Std. Error"}%13s${s"$stat value"}%13s${s"Pr(>$pr)"}%13s\n"
    val se = stdErr * seScale
    val zv = zValues; val pv = pValues
    xnames.indices.foreach { i =>
      sb ++= f"${xnames(i)}%-20s${cell(coefs(i))}${cell(se(i))}${cell(zv(i))}${cell(pv(i))} ${stars(pv(i))}\n"
    }
    sb ++= "---\n"
    val shown = if (dispersionEstimated) sigDigits(dispersion, 6).toString else "1"
    sb ++= s"(Dispersion parameter for $family family taken to be $shown)\n\n"
    sb ++= s"    Null deviance: ${sigDigits(nullDeviance, 6)} on $dfNull degrees of freedom\n"
    sb ++= s"Residual deviance: ${sigDigits(deviance, 6)} on $dfResidual degrees of freedom\n"
    sb ++= s"AIC: ${sigDigits(aic, 6)}\n\n"
    sb ++= s"Number of Fisher Scoring iterations: $iter\n"
    sb.result()
  }
}

object GLM {

  /** Load a model persisted by [[GLMModel.save]]. Models saved before the
    * `xtwx_inv` column existed still load; only `predictWithSe` needs the
    * kernel and fails with a clear message on such a model.
    */
  def load(spark: SparkSession, path: String): GLMModel = {
    val df = spark.read.parquet(path)
    val r = df.head()
    def d(name: String) = r.getSeq[Double](r.fieldIndex(name)).toArray
    val coefs = d("coefs")
    val p = coefs.length
    val flat =
      if (df.columns.contains("xtwx_inv")) d("xtwx_inv")
      else Array.fill(p * p)(Double.NaN)
    new GLMModel(
      r.getSeq[String](r.fieldIndex("xnames")).toArray,
      r.getString(r.fieldIndex("yname")),
      r.getBoolean(r.fieldIndex("intercept")),
      r.getString(r.fieldIndex("family")),
      LinkFn(r.getString(r.fieldIndex("link"))),
      BDV(coefs), BDV(d("std_err")),
      r.getDouble(r.fieldIndex("deviance")),
      r.getDouble(r.fieldIndex("null_deviance")),
      r.getDouble(r.fieldIndex("pearson")),
      r.getDouble(r.fieldIndex("loglik")),
      r.getLong(r.fieldIndex("n")),
      r.getInt(r.fieldIndex("iter")),
      breeze.linalg.DenseMatrix.tabulate(p, p)((i, j) => flat(i * p + j)))
  }

  /** The shared native log-gamma ([[graft.functions.LogGamma]], a
    * codegen'd Catalyst expression — these composites stay inside
    * whole-stage codegen instead of dropping out through the scalar
    * UDFs they replaced). Callers must have run
    * [[graft.plans.GraftExtensions.ensureRegistered]] on the session
    * ([[fit]] does).
    */
  private def lgamma(x: Column): Column =
    call_function("lgamma", x.cast("double"))

  /** log C(m, y) via log-gamma, for the binomial log-likelihood
    * (reference computes per-row `Binomial(m, μ).logProbabilityOf(y)`,
    * GLM.scala:132-159). Zero for Bernoulli (m = 1).
    */
  def logChoose(m: Column, y: Column): Column =
    lgamma(m + lit(1.0)) - lgamma(y + lit(1.0)) - lgamma(m - y + lit(1.0))

  /** ln y! via log-gamma (Poisson log-likelihood). */
  def logFactorial(y: Column): Column = lgamma(y + lit(1.0))

  /** ln Γ(y+θ) − ln Γ(θ), for the negative-binomial log-likelihood
    * ([[Family.NegBinFamily]]).
    */
  def logGammaRatio(y: Column, theta: Column): Column =
    lgamma(y + theta) - lgamma(theta)

  /** Binomial deviance contribution of one row
    * (reference: GLM.scala:162-170 `devBinomial`).
    */
  def devExpr(y: Column, mu: Column, m: Column): Column =
    Family.BinomialFamily.deviance(y, mu, m)

  /** Binomial variance V(μ) = μ(1 − μ/m) (reference: GLM.scala:125-129). */
  def varExpr(mu: Column, m: Column): Column =
    Family.BinomialFamily.variance(mu, m)

  /** Fit a binomial GLM.
    *
    * @param df        input data (features, label, optional m / offset cols)
    * @param xCols     feature column names (numeric)
    * @param yCol      response: successes (counts in [0, m]; 0/1 when m = 1)
    * @param family    binomial | poisson | gaussian | gamma |
    *                  inverse-gaussian | quasipoisson | quasibinomial |
    *                  tweedie(p) | negbin(theta)
    *                  (the reference's family dispatch is vacuous — every
    *                  branch routes to binomial, reference:
    *                  GLM.scala:95-99,486-490 — binomial is the parity
    *                  surface, the others the same machinery extended; the
    *                  quasi twins refit their parent family but estimate
    *                  the dispersion, so scoring SEs scale by √disp and
    *                  loglik/AIC are NaN, as in R)
    * @param linkName  logit | probit | cloglog | log | identity | inverse |
    *                  sqrt | inverse-square; empty = family default
    * @param mCol      binomial denominator column (defaults to 1)
    * @param offsetCol known-offset column added to η (defaults to 0)
    * @param weightCol prior case-weight column (defaults to 1): scales the
    *                  IRLS working weights, deviance, Pearson χ² and
    *                  log-likelihood contributions — R's `glm(weights=)`;
    *                  an integer weight k is equivalent to k copies of the
    *                  row (same β/se/deviance; n still counts rows)
    * @param tol       relative deviance-change convergence threshold:
    *                  |ΔD| / (|D| + 0.1) < tol (see object doc)
    * @param initCoefs optional warm-start coefficients (intercept first
    *                  when `intercept`) — the first IRLS pass linearizes
    *                  at these instead of the μ₀ heuristic. Same fixed
    *                  point, fewer iterations; the lever that makes
    *                  outer loops re-fitting similar models cheap
    *                  ([[ZeroInfl.fitZip]]'s EM rounds)
    * @param countCol  replication-count column: each row stands for
    *                  `countCol` identical observations (deviance,
    *                  log-likelihood, the Gram, AND n scale accordingly —
    *                  unlike `weightCol`, which leaves n counting rows).
    *                  Outer loops that pre-collapse a discrete design to
    *                  (pattern, count) sufficient statistics pass it so
    *                  every IRLS pass runs over patterns, not rows. A
    *                  frame of at most [[SuffStats.CollapseMax]] rows is
    *                  collected once, sorted, and fitted on the driver; a
    *                  larger one is persisted and spread like any
    *                  uncollapsed input, each pass one distributed job
    */
  def fit(
      df: DataFrame,
      xCols: Seq[String],
      yCol: String,
      family: String = "binomial",
      linkName: String = "",
      intercept: Boolean = true,
      mCol: Option[String] = None,
      offsetCol: Option[String] = None,
      weightCol: Option[String] = None,
      tol: Double = 1e-10,
      maxIter: Int = 50,
      verbose: Boolean = false,
      initCoefs: Option[BDV[Double]] = None,
      computeStats: Boolean = true,
      countCol: Option[String] = None): GLMModel = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    fitOn(Left(df), xCols, yCol, family, linkName, intercept, mCol, offsetCol,
      weightCol, tol, maxIter, verbose, initCoefs, computeStats, countCol)
  }

  /** [[fit]] over a frame (Left) or over rows already on the driver
    * (Right, with `countCol` their replication count), which
    * [[fitFormula]] encodes from its collapsed input. `scan = false` skips
    * the pattern scan of a frame already known to have more than
    * [[SuffStats.CollapseMax]] distinct rows.
    */
  private def fitOn(
      src: Either[DataFrame, DriverRows],
      xCols: Seq[String],
      yCol: String,
      family: String,
      linkName: String,
      intercept: Boolean,
      mCol: Option[String],
      offsetCol: Option[String],
      weightCol: Option[String],
      tol: Double,
      maxIter: Int,
      verbose: Boolean = false,
      initCoefs: Option[BDV[Double]] = None,
      computeStats: Boolean = true,
      countCol: Option[String],
      scan: Boolean = true): GLMModel = {
    val fam = Family(family)
    val link = LinkFn(if (linkName.isEmpty) fam.defaultLink else linkName)

    // Assemble one flat working frame: every pass reads this (and only
    // this), collected or persisted below.
    val xs0 = xCols.map(c => col(c).cast(DoubleType))
    val xsNames = xCols.indices.map(i => s"x$i")
    val proj =
      xs0.zip(xsNames).map { case (c, n) => c.as(n) } ++ Seq(
        col(yCol).cast(DoubleType).as("y"),
        mCol.map(col(_).cast(DoubleType)).getOrElse(lit(1.0)).as("m"),
        offsetCol.map(col(_).cast(DoubleType)).getOrElse(lit(0.0)).as("off"),
        weightCol.map(col(_).cast(DoubleType)).getOrElse(lit(1.0)).as("pw")) ++
      countCol.map(col(_).cast(DoubleType).as("cnt")).toSeq
    // The pattern rows: the caller's count-carrying frame, or the
    // sufficient-statistics table of a discrete design (one bounded scan,
    // see [[SuffStats.patterns]]). When they number at most
    // SuffStats.CollapseMax they are brought to the driver once and every
    // pass below runs there with no Spark job (see [[Gram]]), over the rows
    // sorted by value, so no sum depends on the input's row order.
    val found: Either[DataFrame, DriverRows] = src match {
      case Right(rows) => Right(rows.select(proj))
      case Left(df) =>
        val proj0 = df.select(proj: _*)
        (if (countCol.isDefined) DriverRows.collect(proj0, SuffStats.CollapseMax)
         else if (scan) SuffStats.patterns(proj0, "cnt")
         else None).toRight(proj0)
    }
    val local: Option[DriverRows] = found.toOption.map(_.sorted)
    val cntOpt: Option[Column] =
      if (countCol.isDefined || local.isDefined) Some(col("cnt")) else None
    // otherwise every pass is one aggregation over this persisted frame,
    // spread across the cluster first (a single-file source would pin
    // every IRLS pass to one task), or merged down to one task per core
    // without a shuffle (every pass over many small partitions pays a
    // task per partition)
    val work: Option[DataFrame] = found.swap.toOption.map { proj0 =>
      val parallelism = proj0.sparkSession.sparkContext.defaultParallelism
      val parts = GraftSqlShim.numOutputPartitions(proj0)
      (if (parts > parallelism) proj0.coalesce(parallelism)
       else if (parts >= math.max(2, parallelism / 2)) proj0
       else proj0.repartition(parallelism))
        .persist(StorageLevel.MEMORY_AND_DISK)
    }
    // scale a per-row aggregate term by the replication count (identity
    // when uncollapsed — expressions stay byte-identical to the r14 path)
    def wc(c: Column): Column = cntOpt.map(c * _).getOrElse(c)

    val xs: Seq[Column] = (if (intercept) Seq(lit(1.0)) else Nil) ++ xsNames.map(col)
    initCoefs.foreach(b => require(b.length == xs.size,
      s"initCoefs length ${b.length} != coefficient count ${xs.size}"))
    val names = ((if (intercept) Seq("(Intercept)") else Nil) ++ xCols).toArray
    val y = col("y"); val m = col("m"); val off = col("off"); val pw = col("pw")

    def clamp(mu: Column): Column = fam.clampMu(mu, m)

    def gram(z: Column, w: Column, extras: Seq[Column]): Normal = local match {
      case Some(rows) => Gram.normal(rows, xs, z, w, extras)
      case None       => Gram.normal(work.get, xs, z, w, extras)
    }
    // Σ of each per-row term of μ; a distributed pass projects μ once per
    // row instead of inlining it into every sum (the same reasoning as
    // Gram.normal's projection)
    def sums(mu: Column)(terms: Column => Seq[Column]): Array[Double] = local match {
      case Some(rows) => rows.sums(terms(mu))
      case None =>
        val t = terms(col("mu")).map(sum)
        val r = work.get.select(col("*"), mu.as("mu")).agg(t.head, t.tail: _*).head()
        Array.tabulate(t.size)(r.getDouble)
    }

    try {
      var beta: BDV[Double] = initCoefs.orNull
      var dev = Double.NaN
      var devOld = Double.NaN
      var lastGram: Normal = null
      var iterations = 0
      var converged = false

      while (iterations < maxIter && !converged) {
        // η/μ from current β — or the standard GLM starting point
        // μ₀ = m(y + ½)/(m + 1) on the first pass.
        val (etaE, muE) =
          if (beta == null) {
            val mu0 = clamp(fam.initMu(y, m))
            (link.link(mu0, m) + off, mu0)
          } else {
            val eta = xs.zipWithIndex
              .map { case (c, i) => c * graft.functions.stableLit(beta(i)) }
              .reduce(_ + _) + off
            (eta, clamp(link.inverse(eta, m)))
          }
        val lp = link.lprime(muE, m)
        val z = etaE + (y - muE) * lp - off
        val w = pw / (fam.variance(muE, m) * lp * lp)

        // ONE pass: weighted normal equations + deviance.
        val g = gram(z, cntOpt.map(w * _).getOrElse(w),
          extras = Seq(wc(pw * fam.deviance(y, muE, m))))
        dev = g.extras(0)
        lastGram = g

        if (iterations > 0 &&
            math.abs(dev - devOld) < tol * (math.abs(devOld) + 0.1)) converged = true
        else {
          devOld = dev
          beta = LinAlg.solvePD(g.xtx, g.xty)
        }
        if (verbose) println(s"[glm] iter=$iterations deviance=$dev")
        iterations += 1
      }

      val p = lastGram.p
      val ixtwx = LinAlg.invPD(lastGram.xtx)
      val se = BDV.tabulate(p)(i => math.sqrt(ixtwx(i, i)))

      // Intermediate fits inside outer loops (EM rounds) only need β and
      // the deviance the IRLS pass already computed — skip the two stats
      // passes (Pearson/loglik pass + null-deviance pass) and mark the
      // derived statistics NaN/0
      if (!computeStats) {
        return new GLMModel(names, yCol, intercept, fam.name, link, beta,
          se, dev, Double.NaN, Double.NaN, Double.NaN, 0L, iterations,
          ixtwx)
      }

      // Final statistics: μ at the converged β.
      val etaF = xs.zipWithIndex
        .map { case (c, i) => c * graft.functions.stableLit(beta(i)) }
        .reduce(_ + _) + off
      val stats = sums(clamp(link.inverse(etaF, m))) { muF => Seq(
        wc(pw * (y - muF) * (y - muF) / fam.variance(muF, m)), // Pearson χ²
        wc(pw * fam.logLik(y, muF, m)),                        // log-likelihood
        wc(pw * y),
        wc(pw * m),
        // n counts OBSERVATIONS: rows, or the replication-count sum when
        // the frame is collapsed to (pattern, count) sufficient stats
        cntOpt.getOrElse(lit(1.0)),
        // Σ ln w over observations (NOT ln(w·cnt) — the count replicates
        // the row, it does not scale its prior weight)
        wc(log(pw)),
        wc(pw)) }
      val pearson = stats(0)
      val pHat = stats(2) / stats(3)
      val n = stats(4).toLong
      // gaussian log-likelihood follows R's logLik.glm convention: profile
      // σ̂² = RSS_w/n into ll = −n/2·(ln(2π·RSS_w/n) + 1) + ½Σln(w) (the
      // weighted-normal density term — R's aic.gaussian subtracts
      // sum(log(wt)); unit weights make it vanish) and count σ as a
      // parameter in the AIC — see GLMModel.aic; the per-row family
      // expression is the unit-dispersion term, correct for the others.
      // inverse-gaussian likewise profiles its dispersion (the exact
      // inverse of R's aic.invgauss, which uses Σw where gaussian uses n);
      // the stats log-likelihood slot carries its −(3/2)Σw·ln y data term.
      // The quasi families' per-row term is NaN, so their ll/AIC are NaN —
      // R reports NA.
      val ll = fam.name match {
        case "gaussian" =>
          -0.5 * n * (math.log(2.0 * math.Pi * dev / n) + 1.0) + 0.5 * stats(5)
        case "inverse-gaussian" =>
          val wsum = stats(6)
          -0.5 * wsum * (math.log(2.0 * math.Pi * dev / wsum) + 1.0) + stats(1)
        case _ => stats(1)
      }

      // Null deviance: the intercept-only MLE mean is m·(Σwy/Σwm) for both
      // families (binomial rate and, with m = 1, the Poisson ȳ) — closed
      // form, one small extra pass.
      val nullDev = sums(clamp(m * pHat))(mu0 => Seq(wc(pw * fam.deviance(y, mu0, m))))(0)

      new GLMModel(names, yCol, intercept, fam.name, link, beta, se,
        dev, nullDev, pearson, ll, n, iterations, ixtwx)
    } finally work.foreach(_.unpersist(blocking = false))
  }

  /** Formula front-end (dummy-encodes string columns first; interaction
    * terms `x1:x2` / `x1*x2` expand per [[ModelMatrix.termColumns]]).
    * `mCol` / `offsetCol` / `weightCol` pass through to [[fit]] and are
    * excluded from `.`-term expansion and encoding (they ride along
    * numeric-cast).
    *
    * A discrete input is collapsed BEFORE encoding: one bounded scan of
    * the NA-dropped response, term and pass-through columns
    * ([[SuffStats.patterns]]) brings at most [[SuffStats.CollapseMax]]
    * distinct rows to the driver with their counts. The factor levels are
    * read from those rows (in [[ModelMatrix.levels]]' order), the rows are
    * encoded on the driver by the same column expressions, and [[fit]]
    * runs over them with count semantics: the whole fit is that one Spark
    * job, with no level scan, shuffle or cache. Any other input takes the
    * distributed path: [[ModelMatrix.levels]], then [[fit]] over the
    * encoded frame without a second pattern scan, so such an input is read
    * for patterns once. Both give what [[fit]] gives over the encoded frame
    * when the encoding keeps distinct rows distinct; where it merges some
    * (an `a:b` product of two numerics), a raw input above the cap is
    * fitted uncollapsed even if its encoding would fit under it.
    */
  def fitFormula(
      df: DataFrame,
      formula: String,
      family: String = "binomial",
      linkName: String = "",
      mCol: Option[String] = None,
      offsetCol: Option[String] = None,
      weightCol: Option[String] = None,
      tol: Double = 1e-10,
      maxIter: Int = 50): GLMModel = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val extras = Seq(mCol, offsetCol, weightCol).flatten.distinct
    val f0 = Formula.parse(formula)
      .resolve(df.columns.toSeq.filterNot(extras.contains))
    val base = f0.baseColumns
    val dropped = ModelMatrix.naDrop(df.select(
      ((f0.response +: base) ++ extras).distinct.map(col): _*))
    val stringCols = base.filter(c =>
      dropped.schema(c).dataType == org.apache.spark.sql.types.StringType &&
        !extras.contains(c))
    // (feature names, the encoded frame's columns) for given levels
    def encoding(lv: Map[String, Array[String]]): (Seq[String], Seq[Column]) = {
      val feats = ModelMatrix.termColumns(f0.terms, lv)
      (feats.map(_._1), col(f0.response).cast("double").as(f0.response) +:
        (feats.map(_._2) ++ extras.map(c => col(c).cast("double").as(c))))
    }
    def fitTo(src: Either[DataFrame, DriverRows], xCols: Seq[String],
        countCol: Option[String]): GLMModel =
      fitOn(src, xCols, f0.response, family, linkName, f0.intercept, mCol, offsetCol,
        weightCol, tol, maxIter, countCol = countCol, scan = false)
    val cnt = SuffStats.freshName(dropped.columns.toSeq)
    SuffStats.patterns(dropped, cnt) match {
      case Some(rows) =>
        val lv = stringCols.map(c =>
          c -> ModelMatrix.levelOrder(rows.project(Seq(col(c))).map(_.getString(0)).toSeq)).toMap
        val (names, cols) = encoding(lv)
        // the count takes a name no encoded column has
        val cntOut = SuffStats.freshName(names ++ extras :+ f0.response)
        fitTo(Right(rows.select(cols :+ col(cnt).as(cntOut))), names, Some(cntOut))
      case None =>
        val (names, cols) = encoding(ModelMatrix.levels(dropped, stringCols))
        fitTo(Left(dropped.select(cols: _*)), names, None)
    }
  }
}
