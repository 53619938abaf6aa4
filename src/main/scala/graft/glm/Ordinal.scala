package graft.glm

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordinal (proportional-odds / cumulative-logit) regression — the
  * ordered-category member of the classification family (binomial [[GLM]]
  * for K = 2, one-vs-rest [[Multinomial]] for unordered K, this for
  * ordered K):
  *
  *   P(Y ≤ k | x) = σ(θ_k − xᵀβ),  k = 1..K−1,  θ_1 < … < θ_{K−1}
  *
  * Fit by BHHH scoring (Berndt et al. 1974): Newton steps with the
  * outer-product-of-gradients information matrix Σ gᵢgᵢᵀ — first
  * derivatives only, always PSD, the standard drop-in where the observed
  * Hessian is error-prone. Per iteration ONE aggregation (the IRLS
  * discipline): per-row log-likelihood, the m = (K−1)+p gradient
  * components, and their m(m+1)/2 products are literal-parameter column
  * expressions over the persisted input; only O(m²) scalars reach the
  * driver. Thresholds initialize at the empirical cumulative logits
  * (one category-count pass), β at 0; steps halve when ℓ decreases.
  *
  * Convergence: |Δℓ| < tol.
  */
object Ordinal {

  final case class OrdinalModel(features: Seq[String], levels: Seq[Int],
      thresholds: Array[Double], beta: Array[Double], loglik: Double,
      n: Long, iter: Int) {

    /** Per-class probabilities + argmax prediction, pure projection. */
    def predict(df: DataFrame, outputCol: String = "prediction"): DataFrame = {
      val eta = if (features.isEmpty) lit(0.0)
        else features.zip(beta).map { case (f, b) => col(f) * lit(b) }
          .reduce(_ + _)
      def cdf(k: Int): Column =
        if (k <= 0) lit(0.0)
        else if (k >= levels.length) lit(1.0)
        else lit(1.0) / (lit(1.0) + exp(-(lit(thresholds(k - 1)) - eta)))
      val probs = levels.indices.map(i => cdf(i + 1) - cdf(i))
      val probsArr = array(probs: _*)
      val best = array_position(probsArr, array_max(probsArr)).cast("int")
      df.withColumn("probs", probsArr)
        .withColumn(outputCol,
          element_at(lit(levels.toArray), best))
    }
  }

  /** On a discrete design the (label, x…) contingency table is a
    * complete sufficient statistic for the cumulative-logit likelihood, so
    * it is brought to the driver (at most `CollapseMax` rows, found by
    * [[SuffStats.patterns]]' bounded scan), sorted by value, and the whole
    * BHHH alternation replays there with counts as replication weights — ONE
    * distributed pass total instead of one per candidate step, at any
    * input scale. The scalar math mirrors the distributed column
    * expressions term for term; continuous designs keep the distributed
    * path unchanged.
    */
  def fit(df: DataFrame, labelCol: String, features: Seq[String],
      tol: Double = 1e-9, maxIter: Int = 60): OrdinalModel = {
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val p = features.length
    val x = features.map(f => col(f).cast("double"))
    val base0 = df.filter(col(labelCol).isNotNull &&
      (if (p == 0) lit(true) else x.map(_.isNotNull).reduce(_ && _)))

    val sel0 = base0.select((col(labelCol).cast("int").as("__lbl") +:
      x.zipWithIndex.map { case (c, i) => c.as(s"__x$i") }): _*)
    SuffStats.patterns(sel0, "__cnt") match {
      case Some(rows) =>
        // sorted by value, so no sum below depends on the input's row order
        val raw = rows.sorted.project((sel0.columns.toSeq :+ "__cnt").map(col)).map { r =>
          (r.getInt(0), Array.tabulate(p)(i => r.getDouble(1 + i)),
            r.getDouble(1 + p))
        }.toArray
        val levels = raw.map(_._1).distinct.sorted.toSeq
        val k = levels.length
        require(k >= 2, s"need >= 2 ordered classes, got $levels")
        val lvlIdx = levels.zipWithIndex.toMap
        // (class 1..K, x pattern, count), like the distributed __y
        val pats = raw.map { case (lbl, xs, cnt) => (lvlIdx(lbl) + 1, xs, cnt) }
        val m = (k - 1) + p
        val counts = Array.tabulate(k) { i =>
          pats.filter(_._1 == i + 1).map(_._3).sum.toLong
        }
        val n = counts.sum
        val theta0 = Array.tabulate(k - 1) { i =>
          val cum = counts.take(i + 1).sum.toDouble / n
          math.log(cum / (1.0 - cum))
        }
        // the scalar twin of the distributed pass below: same per-row
        // terms (σ ladders, BHHH outer products), count-weighted sums
        def passD(th: Array[Double], be: Array[Double])
            : (Double, BDV[Double], BDM[Double]) = {
          @inline def sig(v: Double) = 1.0 / (1.0 + math.exp(-v))
          @inline def pdf(v: Double) = { val s = sig(v); s * (1.0 - s) }
          var ll = 0.0
          val g = new Array[Double](m)
          val h = BDM.zeros[Double](m, m)
          val gRow = new Array[Double](m)
          pats.foreach { case (y, xs, cnt) =>
            var eta = 0.0
            if (p > 0) {
              eta = xs(0) * be(0)
              var j = 1
              while (j < p) { eta += xs(j) * be(j); j += 1 }
            }
            val fUp = if (y == k) 1.0 else sig(th(y - 1) - eta)
            val fLo = if (y == 1) 0.0 else sig(th(y - 2) - eta)
            val dUp = if (y == k) 0.0 else pdf(th(y - 1) - eta)
            val dLo = if (y == 1) 0.0 else pdf(th(y - 2) - eta)
            val denom = fUp - fLo
            ll += cnt * math.log(denom)
            var t = 0
            while (t < k - 1) { gRow(t) = 0.0; t += 1 }
            // g_t = (1[y = t]·dUp − 1[y = t+1]·dLo)/denom, t = 1..k−1
            if (y <= k - 1) gRow(y - 1) = (dUp - 0.0) / denom
            if (y >= 2) gRow(y - 2) = (0.0 - dLo) / denom
            var j = 0
            while (j < p) {
              gRow(k - 1 + j) = (-xs(j)) * (dUp - dLo) / denom
              j += 1
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
        val (thetaF, betaF, llF, iterF) =
          bhhhLoop(k, p, tol, maxIter, theta0, passD)
        return OrdinalModel(features, levels, thetaF, betaF, llF, n, iterF)
      case None => // continuous design: distributed BHHH below
    }

    val levels = base0.select(col(labelCol).cast("int").as("y"))
      .distinct().orderBy("y").collect().map(_.getInt(0)).toSeq
    val k = levels.length
    require(k >= 2, s"need >= 2 ordered classes, got $levels")
    val m = (k - 1) + p
    // map raw labels to 1..K
    val yIdx = levels.zipWithIndex.foldLeft(lit(0)) { case (acc, (lv, i)) =>
      when(col(labelCol).cast("int") === lv, lit(i + 1)).otherwise(acc)
    }
    val base = base0
      .select((yIdx.as("__y") +: x.zipWithIndex.map { case (c, i) =>
        c.as(s"__x$i") }): _*)
      .persist()
    val counts = base.groupBy("__y").agg(count(lit(1)).as("c"))
      .orderBy("__y").collect().map(r => r.getLong(1))
    val n = counts.sum
    // thresholds at empirical cumulative logits
    val theta0 = Array.tabulate(k - 1) { i =>
      val cum = counts.take(i + 1).sum.toDouble / n
      math.log(cum / (1.0 - cum))
    }

    def pass(th: Array[Double], be: Array[Double]): (Double, BDV[Double], BDM[Double]) = {
      val eta: Column = if (p == 0) lit(0.0)
        else (0 until p).map(i => col(s"__x$i") * graft.functions.stableLit(be(i))).reduce(_ + _)
      def sig(c: Column) = lit(1.0) / (lit(1.0) + exp(-c))
      def pdf(c: Column) = { val s = sig(c); s * (lit(1.0) - s) }
      // F_y, F_{y-1}, f_y, f_{y-1} via CASE ladders over the class index
      def ladder(f: Int => Column, atZero: Column, atK: Column,
          shift: Int): Column =
        (1 to k).foldLeft(lit(null).cast("double")) { (acc, cls) =>
          val idx = cls - shift // threshold index used for this class
          val v = if (idx == 0) atZero
            else if (idx == k) atK
            else f(idx)
          when(col("__y") === cls, v).otherwise(acc)
        }
      val fUp = ladder(i => sig(graft.functions.stableLit(th(i - 1)) - eta), lit(0.0), lit(1.0), 0)
      val fLo = ladder(i => sig(graft.functions.stableLit(th(i - 1)) - eta), lit(0.0), lit(1.0), 1)
      val dUp = ladder(i => pdf(graft.functions.stableLit(th(i - 1)) - eta), lit(0.0), lit(0.0), 0)
      val dLo = ladder(i => pdf(graft.functions.stableLit(th(i - 1)) - eta), lit(0.0), lit(0.0), 1)
      val denom = fUp - fLo
      val gCols: Seq[Column] =
        (1 until k).map { t =>
          (when(col("__y") === t, dUp).otherwise(lit(0.0)) -
            when(col("__y") === t + 1, dLo).otherwise(lit(0.0))) / denom
        } ++ (0 until p).map { j =>
          -col(s"__x$j") * (dUp - dLo) / denom
        }
      val withG = base.select(
        (log(denom).as("__ll") +: gCols.zipWithIndex.map { case (c, i) =>
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

    val (theta, beta, ll, iter) = bhhhLoop(k, p, tol, maxIter, theta0, pass)
    base.unpersist(blocking = false)
    OrdinalModel(features, levels, theta, beta, ll, n, iter)
  }

  /** BHHH Newton alternation with step-halving and the threshold-order
    * guard — the outer loop shared by the driver-replay and distributed
    * passes (identical decisions given identical pass values).
    */
  private def bhhhLoop(k: Int, p: Int, tol: Double, maxIter: Int,
      theta0: Array[Double],
      pass: (Array[Double], Array[Double]) => (Double, BDV[Double], BDM[Double]))
      : (Array[Double], Array[Double], Double, Int) = {
    var theta = theta0
    var beta = Array.fill(p)(0.0)
    var (ll, g, h) = pass(theta, beta)
    var lastLl = Double.NegativeInfinity
    var iter = 0
    while (iter < maxIter && math.abs(ll - lastLl) >= tol) {
      lastLl = ll
      val dir = LinAlg.solvePD(h, g)
      // step-halving line search on the exact likelihood
      var step = 1.0
      var accepted = false
      var tries = 0
      while (!accepted && tries < 8) {
        val th2 = Array.tabulate(k - 1)(i => theta(i) + step * dir(i))
        val be2 = Array.tabulate(p)(j => beta(j) + step * dir(k - 1 + j))
        val ordered = (1 until k - 1).forall(i => th2(i) > th2(i - 1))
        if (ordered) {
          val (ll2, g2, h2) = pass(th2, be2)
          if (ll2 > ll || math.abs(ll2 - ll) < tol) {
            theta = th2; beta = be2; ll = ll2; g = g2; h = h2
            accepted = true
          } else { step /= 2; tries += 1 }
        } else { step /= 2; tries += 1 }
      }
      if (!accepted) { lastLl = ll } // stuck: exit on the tol check
      iter += 1
    }
    (theta, beta, ll, iter)
  }
}
