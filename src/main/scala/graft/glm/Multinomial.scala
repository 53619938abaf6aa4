package graft.glm

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multiclass classification, two ways:
  *
  *  - [[fitOneVsRest]] — K independent binomial GLMs ("this class vs
  *    everything else"), per-class probabilities normalized to sum to 1.
  *    Calibrated per class but NOT jointly; coefficients are not
  *    comparable to R's `nnet::multinom`. The scalable pragmatic
  *    reduction (K embarrassingly parallel fits).
  *  - [[fitSoftmax]] — the TRUE joint multinomial (softmax) logit:
  *    P(y = c | x) = exp(η_c) / Σ_k exp(η_k), with the FIRST (sorted)
  *    class as baseline (η_1 = 0) and η_c = xᵀβ_c — exactly
  *    `nnet::multinom`'s parameterization, so coefficients transfer.
  *    Fit by BHHH scoring (the [[Ordinal]] machinery generalized): per
  *    iteration ONE fused aggregation computes ℓ, the m = (K−1)(p+1)
  *    per-row gradient sums and their m(m+1)/2 outer products as
  *    literal-parameter column expressions over the persisted input;
  *    only O(m²) scalars reach the driver. Steps halve when ℓ drops.
  *
  * Cluster cost either way is fused-aggregation passes over a persisted
  * frame; scoring is a single codegen'd projection (literal-β softmax),
  * no joins. The class list is a driver collect of class-count size.
  */
object Multinomial {

  final case class OvRModel(classes: Seq[String], models: Seq[GLMModel]) {
    /** Adds p_<class> columns (normalized), plus `predicted`. All K
      * scores are pure projections (literal-β inverse links), so the
      * whole scoring chain fuses into one codegen'd pass.
      */
    def predict(df: DataFrame): DataFrame = {
      val withRaw = classes.zip(models).foldLeft(df) { case (d, (c, m)) =>
        m.predict(d, s"__raw_$c")
      }
      val total = classes.map(c => col(s"__raw_$c")).reduce(_ + _)
      val withP = classes.foldLeft(withRaw) { (d, c) =>
        d.withColumn(s"p_$c", col(s"__raw_$c") / total)
      }
      // pairwise argmax; strict > means the FIRST (sorted) class wins ties
      val pred = classes.map(c => (col(s"p_$c"), lit(c)))
        .reduceLeft[(Column, Column)] { case ((bp, bc), (p, c)) =>
          (when(p > bp, p).otherwise(bp), when(p > bp, c).otherwise(bc))
        }
      withP.withColumn("predicted", pred._2)
        .drop(classes.map(c => s"__raw_$c"): _*)
    }
  }

  /** Fit one binomial GLM per distinct value of `targetCol` (collected,
    * sorted — class-count-sized driver state).
    */
  def fitOneVsRest(df: DataFrame, xCols: Seq[String], targetCol: String,
      linkName: String = "logit", tol: Double = 1e-10,
      maxIter: Int = 50): OvRModel = {
    // ONE sufficient-stats collapse over (x…, class) shared by ALL K
    // class fits (see [[SuffStats]]): each per-class working tuple
    // (x…, 1[class = c]) is a function of the shared pattern, so on a
    // discrete design the K·IRLS full-data passes all run over the same
    // tiny pattern table; per-class y derives from the pattern's class.
    val sel = df.select((xCols.map(c => col(c).cast("double").as(c)) :+
      col(targetCol).cast("string").as("__cls")): _*)
    val collapsed = SuffStats.collapse(sel, "__cnt")
    val src = collapsed.map(_.view).getOrElse(sel)
    val classes = src.select(col("__cls"))
      .filter(col("__cls").isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(classes.size >= 2, s"need >= 2 classes, got ${classes.size}")
    val models = classes.map { c =>
      val labeled = src.withColumn("__ovr_y",
        (col("__cls") === c).cast("double"))
      GLM.fit(labeled, xCols, "__ovr_y", family = "binomial",
        linkName = linkName, tol = tol, maxIter = maxIter,
        countCol = collapsed.map(_ => "__cnt"))
    }
    collapsed.foreach(_.unpersist())
    OvRModel(classes, models)
  }

  /** Joint softmax fit result. `beta(c)(j)`: class `classes(c + 1)` vs
    * the baseline `classes(0)`; j = 0 is the intercept when fitted, then
    * one slope per feature — `nnet::multinom`'s coefficient layout.
    */
  final case class SoftmaxModel(classes: Seq[String], features: Seq[String],
      intercept: Boolean, beta: Array[Array[Double]], loglik: Double,
      nullLoglik: Double, n: Long, iter: Int) {

    private def etas: Seq[Column] = beta.toSeq.map { b =>
      val terms = (if (intercept) Seq(lit(b(0))) else Nil) ++
        features.zipWithIndex.map { case (f, j) =>
          col(f) * lit(b(if (intercept) j + 1 else j)) }
      terms.reduce(_ + _)
    }

    /** p_<class> softmax probabilities + argmax `predicted` — one
      * codegen'd projection (log-sum-exp stabilized), no joins.
      */
    def predict(df: DataFrame): DataFrame = {
      val es = etas
      val mx = greatest((lit(0.0) +: es): _*)
      val den = exp(-mx) + es.map(e => exp(e - mx)).reduce(_ + _)
      val probs = (lit(0.0) +: es).map(e => exp(e - mx) / den)
      val withP = classes.zip(probs).foldLeft(df) { case (d, (c, pc)) =>
        d.withColumn(s"p_$c", pc)
      }
      val pred = classes.map(c => (col(s"p_$c"), lit(c)))
        .reduceLeft[(Column, Column)] { case ((bp, bc), (pc, cc)) =>
          (when(pc > bp, pc).otherwise(bp), when(pc > bp, cc).otherwise(bc))
        }
      withP.withColumn("predicted", pred._2)
    }
  }

  /** True joint multinomial (softmax) logit via BHHH scoring — see the
    * object doc. Baseline = first class in sorted order, as in
    * `nnet::multinom` (which baselines the first factor level).
    *
    * On a discrete design the (x…, class) contingency table is a
    * complete sufficient statistic for the softmax likelihood, so it is
    * brought to the driver (≤ CollapseMax rows, found by
    * [[SuffStats.patterns]]' bounded scan — the q300 discipline), sorted
    * by value, and the whole BHHH alternation replays there with counts as
    * replication weights: ONE distributed pass total instead of one per
    * candidate step, at any input scale. The scalar math mirrors the
    * distributed column expressions term for term; continuous designs
    * keep the distributed path unchanged.
    *
    * @param intercept fit a per-class intercept (R default)
    */
  def fitSoftmax(df: DataFrame, xCols: Seq[String], targetCol: String,
      intercept: Boolean = true, tol: Double = 1e-9,
      maxIter: Int = 60): SoftmaxModel = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val classes = df.select(col(targetCol).cast("string"))
      .filter(col(targetCol).isNotNull)
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    val k = classes.size
    require(k >= 2, s"need >= 2 classes, got $k")
    val x = xCols.map(c => col(c).cast("double"))
    val pFeat = xCols.length
    val pc = pFeat + (if (intercept) 1 else 0) // params per non-base class
    val m = (k - 1) * pc
    require(m >= 1, "no parameters to fit (no features, no intercept)")
    // class index 0..K−1 (0 = baseline)
    val yIdx = classes.zipWithIndex.foldLeft(lit(-1)) { case (acc, (cv, i)) =>
      when(col(targetCol).cast("string") === cv, lit(i)).otherwise(acc)
    }
    val base0 = df
      .filter(col(targetCol).isNotNull &&
        (if (pFeat == 0) lit(true) else x.map(_.isNotNull).reduce(_ && _)))
      .select((yIdx.as("__y") +: x.zipWithIndex.map { case (c, i) =>
        c.as(s"__x$i") }): _*)

    SuffStats.patterns(base0, "__cnt") match {
      case Some(rows) =>
        // one row per (class, x-pattern) with its count, sorted by value so
        // no sum below depends on the input's row order; replay BHHH on
        // the driver
        val pats = rows.sorted.project((base0.columns.toSeq :+ "__cnt").map(col)).map { r =>
          (r.getInt(0), Array.tabulate(pFeat)(i => r.getDouble(1 + i)),
            r.getDouble(1 + pFeat))
        }.toArray
        val n = pats.map(_._3).sum.toLong
        // per-pattern design value: intercept (1) then features — the
        // scalar twin of designCol below
        def design(xs: Array[Double], j: Int): Double =
          if (intercept) { if (j == 0) 1.0 else xs(j - 1) } else xs(j)
        // the scalar twin of the distributed pass: same per-row terms
        // (η reduce order, max-stabilized log-sum-exp, BHHH outer
        // products), count-weighted sums
        def pass(b: Array[Array[Double]]): (Double, BDV[Double], BDM[Double]) = {
          var ll = 0.0
          val g = new Array[Double](m)
          val h = BDM.zeros[Double](m, m)
          val gRow = new Array[Double](m)
          pats.foreach { case (y, xs, cnt) =>
            val es = Array.tabulate(k - 1) { c =>
              var e = design(xs, 0) * b(c)(0)
              var j = 1
              while (j < pc) { e += design(xs, j) * b(c)(j); j += 1 }
              e
            }
            var mx = 0.0
            es.foreach(e => if (e > mx) mx = e)
            var den = math.exp(-mx)
            es.foreach(e => den += math.exp(e - mx))
            val lse = mx + math.log(den)
            ll += cnt * ((if (y >= 1) es(y - 1) else 0.0) - lse)
            var idx = 0
            var c = 0
            while (c < k - 1) {
              val pc0 = math.exp(es(c) - mx) / den
              var j = 0
              while (j < pc) {
                gRow(idx) = ((if (y == c + 1) 1.0 else 0.0) - pc0) * design(xs, j)
                idx += 1; j += 1
              }
              c += 1
            }
            var i = 0
            while (i < m) {
              g(i) += cnt * gRow(i)
              var j2 = i
              while (j2 < m) { h(i, j2) += cnt * (gRow(i) * gRow(j2)); j2 += 1 }
              i += 1
            }
          }
          var i = 0
          while (i < m) {
            var j2 = i + 1
            while (j2 < m) { h(j2, i) = h(i, j2); j2 += 1 }
            i += 1
          }
          (ll, BDV(g), h)
        }
        val (beta, ll, iter) = bhhhLoop(k, pc, tol, maxIter, pass)
        // null model: ℓ0 = Σ_c n_c ln(n_c/n) from the same pattern table
        val ll0 = pats.groupBy(_._1).values
          .map(_.map(_._3).sum.toLong)
          .toSeq.map(c => c * math.log(c.toDouble / n)).sum
        return SoftmaxModel(classes, xCols, intercept, beta, ll, ll0, n, iter)
      case None => // continuous design: distributed BHHH below
    }

    val base = base0.persist()
    val n = base.count()

    // design columns per non-base class: intercept (1) then features
    def designCol(j: Int): Column =
      if (intercept) { if (j == 0) lit(1.0) else col(s"__x${j - 1}") }
      else col(s"__x$j")

    def pass(b: Array[Array[Double]]): (Double, BDV[Double], BDM[Double]) = {
      val es: Seq[Column] = (0 until k - 1).map { c =>
        (0 until pc).map(j => designCol(j) * graft.functions.stableLit(b(c)(j))).reduce(_ + _)
      }
      val mx = greatest((lit(0.0) +: es): _*)
      val den = exp(-mx) + es.map(e => exp(e - mx)).reduce(_ + _)
      val lse = mx + log(den) // ln Σ_k exp(η_k), η_base = 0
      val probs = es.map(e => exp(e - mx) / den)
      val etaY = (0 until k - 1).foldLeft(lit(0.0)) { (acc, c) =>
        when(col("__y") === c + 1, es(c)).otherwise(acc)
      }
      // per-row gradient g_{c,j} = (1[y = c] − P_c) · design_j
      val gCols: Seq[Column] = for (c <- 0 until k - 1; j <- 0 until pc)
        yield (when(col("__y") === c + 1, lit(1.0)).otherwise(lit(0.0)) -
          probs(c)) * designCol(j)
      val withG = base.select(
        ((etaY - lse).as("__ll") +: gCols.zipWithIndex.map { case (c, i) =>
          c.as(s"__g$i") }): _*)
      val aggs = Seq(sum(col("__ll")).as("ll")) ++
        (0 until m).map(i => sum(col(s"__g$i")).as(s"g$i")) ++
        (for (i <- 0 until m; j <- i until m) yield
          sum(col(s"__g$i") * col(s"__g$j")).as(s"h_${i}_$j"))
      val row = withG.agg(aggs.head, aggs.tail: _*).head()
      val ll = row.getDouble(0)
      val g = BDV.tabulate(m)(i => row.getDouble(1 + i))
      val h = BDM.zeros[Double](m, m)
      var idx = 1 + m
      for (i <- 0 until m; j <- i until m) {
        h(i, j) = row.getDouble(idx); h(j, i) = h(i, j); idx += 1
      }
      (ll, g, h)
    }

    val (beta, ll, iter) = bhhhLoop(k, pc, tol, maxIter, pass)
    // null model: intercept-only softmax has closed-form MLE at the
    // class frequencies — ℓ0 = Σ_c n_c ln(n_c/n)
    val counts = base.groupBy("__y").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(1))
    val ll0 = counts.map(c => c * math.log(c.toDouble / n)).sum
    base.unpersist(blocking = false)
    SoftmaxModel(classes, xCols, intercept, beta, ll, ll0, n, iter)
  }

  /** BHHH Newton alternation with step-halving — the outer loop shared
    * by the driver-replay and distributed softmax passes (identical
    * decisions given identical pass values).
    */
  private def bhhhLoop(k: Int, pc: Int, tol: Double, maxIter: Int,
      pass: Array[Array[Double]] => (Double, BDV[Double], BDM[Double]))
      : (Array[Array[Double]], Double, Int) = {
    var beta = Array.fill(k - 1)(Array.fill(pc)(0.0))
    var (ll, g, h) = pass(beta)
    var lastLl = Double.NegativeInfinity
    var iter = 0
    while (iter < maxIter && math.abs(ll - lastLl) >= tol) {
      lastLl = ll
      val dir = LinAlg.solvePD(h, g)
      var step = 1.0
      var accepted = false
      var tries = 0
      while (!accepted && tries < 8) {
        val b2 = Array.tabulate(k - 1, pc)((c, j) =>
          beta(c)(j) + step * dir(c * pc + j))
        val (ll2, g2, h2) = pass(b2)
        if (ll2 > ll || math.abs(ll2 - ll) < tol) {
          beta = b2; ll = ll2; g = g2; h = h2; accepted = true
        } else { step /= 2; tries += 1 }
      }
      if (!accepted) lastLl = ll // stuck: exit on the tol check
      iter += 1
    }
    (beta, ll, iter)
  }
}
