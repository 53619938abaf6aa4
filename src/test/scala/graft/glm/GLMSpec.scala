package graft.glm

import graft.SparkSpec
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class GLMSpec extends SparkSpec {
  import spark.implicits._

  /** Synthetic Bernoulli data with known logit coefficients (−1, 0.8, −0.5). */
  private lazy val bern = {
    val rng = new scala.util.Random(11)
    val rows = (1 to 2000).map { i =>
      val x1 = rng.nextDouble() * 4 - 2
      val x2 = rng.nextDouble() * 2
      val eta = -1.0 + 0.8 * x1 - 0.5 * x2
      val p = 1.0 / (1.0 + math.exp(-eta))
      val y = if (rng.nextDouble() < p) 1.0 else 0.0
      (i, x1, x2, y)
    }
    rows.toDF("id", "x1", "x2", "y")
  }

  test("intercept-only logit recovers log-odds of the mean exactly") {
    val m = GLM.fit(bern, Seq.empty[String] :+ "x1", "y") // warm-up is separate; real check below
    val only = GLM.fit(bern.withColumn("one", lit(1.0)), Seq("one"), "y", intercept = false)
    val pBar = bern.agg(avg($"y")).head().getDouble(0)
    val expected = math.log(pBar / (1 - pBar))
    assert(math.abs(only.coefs(0) - expected) < 1e-7, s"${only.coefs(0)} vs $expected")
    // null deviance equals residual deviance for the intercept-only model
    assert(math.abs(only.nullDeviance - only.deviance) < 1e-6)
    assert(m.iter > 0)
  }

  test("logit fit recovers the generating coefficients") {
    val m = GLM.fit(bern, Seq("x1", "x2"), "y")
    assert(math.abs(m.coefs(0) - (-1.0)) < 0.25, s"b0=${m.coefs(0)}")
    assert(math.abs(m.coefs(1) - 0.8) < 0.2, s"b1=${m.coefs(1)}")
    assert(math.abs(m.coefs(2) - (-0.5)) < 0.3, s"b2=${m.coefs(2)}")
    assert(m.deviance < m.nullDeviance)
    assert(m.iter >= 3 && m.iter <= 25)
    assert(m.aic > 0 && m.dispersion > 0)
  }

  test("fit is invariant to partitioning") {
    val a = GLM.fit(bern.repartition(1), Seq("x1", "x2"), "y")
    val b = GLM.fit(bern.repartition(9), Seq("x1", "x2"), "y")
    (0 until 3).foreach(i => assert(math.abs(a.coefs(i) - b.coefs(i)) < 1e-8))
    assert(math.abs(a.deviance - b.deviance) < 1e-6)
  }

  test("grouped binomial (m > 1) equals Bernoulli expansion") {
    // aggregate to groups over a coarse x grid: y successes out of m trials
    val grouped = bern
      .withColumn("xg", round($"x1" * 2) / 2.0)
      .groupBy("xg").agg(sum($"y").as("succ"), count(lit(1)).cast("double").as("m"))
    val g = GLM.fit(grouped, Seq("xg"), "succ", mCol = Some("m"))
    val e = GLM.fit(bern.withColumn("xg", round($"x1" * 2) / 2.0), Seq("xg"), "y")
    (0 until 2).foreach(i => assert(math.abs(g.coefs(i) - e.coefs(i)) < 1e-6,
      s"coef $i: ${g.coefs(i)} vs ${e.coefs(i)}"))
    assert(math.abs(g.loglik) > 0)
  }

  test("probit and cloglog converge and predict probabilities in (0,1)") {
    Seq("probit", "cloglog").foreach { ln =>
      val m = GLM.fit(bern, Seq("x1", "x2"), "y", linkName = ln)
      assert(m.iter < 30, s"$ln did not converge quickly")
      assert(m.deviance < m.nullDeviance)
      val preds = m.predict(bern.limit(100)).select("prediction")
        .collect().map(_.getDouble(0))
      assert(preds.forall(p => p > 0 && p < 1), s"$ln prediction out of range")
    }
  }

  test("offset shifts the intercept by its value") {
    val withOff = bern.withColumn("o", lit(0.7))
    val m0 = GLM.fit(bern, Seq("x1", "x2"), "y")
    val m1 = GLM.fit(withOff, Seq("x1", "x2"), "y", offsetCol = Some("o"))
    assert(math.abs((m0.coefs(0) - m1.coefs(0)) - 0.7) < 1e-6)
    assert(math.abs(m0.coefs(1) - m1.coefs(1)) < 1e-7)
    // scoring with the offset reproduces the no-offset model's predictions
    val p0 = m0.predict(bern.limit(20)).select("prediction")
      .collect().map(_.getDouble(0))
    val p1 = m1.predict(withOff.limit(20), offsetCol = Some("o"))
      .select("prediction").collect().map(_.getDouble(0))
    p0.zip(p1).foreach { case (a, b) => assert(math.abs(a - b) < 1e-6) }
  }

  /** Deterministic gamma fixture: x_i = i/100 (i = 1..200),
    * y_i = exp(0.5 + 0.3·x_i) · f_i with f cycling [0.6, 0.9, 1.1, 1.4] —
    * reproducible bit-for-bit in any engine. Goldens below come from an
    * INDEPENDENT numpy IRLS implementation (plain weighted normal equations,
    * converged to 1e-14 on β), not from this library.
    */
  private lazy val gammaFix = {
    val rows = (1 to 200).map { i =>
      val x = i / 100.0
      val f = Array(0.6, 0.9, 1.1, 1.4)((i - 1) % 4)
      (x, math.exp(0.5 + 0.3 * x) * f)
    }
    rows.toDF("x", "y")
  }

  test("gaussian + identity IRLS equals the OLS solution (GLM ≡ LM property)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val g = GLM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice",
      family = "gaussian")
    val l = LM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice")
    (0 until 3).foreach { i =>
      assert(math.abs(g.coefs(i) - l.coefs(i)) < 1e-8 * (1.0 + math.abs(l.coefs(i))),
        s"coef $i: ${g.coefs(i)} vs ${l.coefs(i)}")
    }
    // GLM's stdErr is unscaled sqrt((XᵀWX)⁻¹)_jj; for gaussian (w = 1),
    // scaling by LM's sigma must reproduce LM's standard errors
    (0 until 3).foreach { i =>
      assert(math.abs(g.stdErr(i) * l.sigma - l.stdErr(i)) < 1e-6 * l.stdErr(i),
        s"se $i: ${g.stdErr(i) * l.sigma} vs ${l.stdErr(i)}")
    }
    // deviance = SSE, null deviance = TSS, so 1 − D/D₀ = R²
    assert(math.abs((1.0 - g.deviance / g.nullDeviance) - l.r2) < 1e-9)
    assert(g.iter <= 4, s"gaussian IRLS should converge immediately, took ${g.iter}")
  }

  test("gamma + log link matches the independent numpy IRLS golden") {
    val m = GLM.fit(gammaFix, Seq("x"), "y", family = "gamma") // default link: log
    assert(math.abs(m.coefs(0) - 0.490184787756) < 1e-7, s"b0=${m.coefs(0)}")
    assert(math.abs(m.coefs(1) - 0.309750614473) < 1e-7, s"b1=${m.coefs(1)}")
    assert(math.abs(m.deviance - 18.434034420493) < 1e-5, s"dev=${m.deviance}")
    assert(math.abs(m.stdErr(0) - 0.1419533507) < 1e-5, s"se0=${m.stdErr(0)}")
    assert(math.abs(m.stdErr(1) - 0.1224760181) < 1e-5, s"se1=${m.stdErr(1)}")
    assert(m.deviance < m.nullDeviance)
  }

  test("gamma + inverse (canonical) link matches the independent numpy IRLS golden") {
    val m = GLM.fit(gammaFix, Seq("x"), "y", family = "gamma", linkName = "inverse")
    assert(math.abs(m.coefs(0) - 0.593148515168) < 1e-7, s"b0=${m.coefs(0)}")
    assert(math.abs(m.coefs(1) - (-0.136851273484)) < 1e-7, s"b1=${m.coefs(1)}")
    assert(math.abs(m.deviance - 18.469709563516) < 1e-5, s"dev=${m.deviance}")
  }

  test("gaussian logLik/AIC follow R's profiled-σ² convention (closed-form golden)") {
    // independent golden: plain normal equations + R's logLik.glm formula
    // ll = −n/2·(ln(2π·RSS/n)+1), AIC = −2ll + 2(p+1) (σ̂² counted), computed
    // outside this library on the deterministic fixture
    val m = GLM.fit(gammaFix, Seq("x"), "y", family = "gaussian")
    assert(math.abs(m.coefs(0) - 1.563764920448159) < 1e-9, s"b0=${m.coefs(0)}")
    assert(math.abs(m.coefs(1) - 0.6974187783927634) < 1e-9, s"b1=${m.coefs(1)}")
    assert(math.abs(m.deviance - 89.83305623139627) < 1e-7, s"rss=${m.deviance}")
    assert(math.abs(m.loglik - (-203.75127169148178)) < 1e-7, s"ll=${m.loglik}")
    assert(math.abs(m.aic - 413.50254338296355) < 1e-6, s"aic=${m.aic}")
  }

  test("binomial interaction fit matches the saturated-design closed form") {
    // 2×2 cells with fixed success counts: the full-interaction logistic
    // model is saturated, so the MLE reproduces each cell's empirical
    // logit exactly — an R-golden without needing R
    val cells = Seq((0, 0, 20), (1, 0, 40), (0, 1, 30), (1, 1, 60))
    val rows = cells.flatMap { case (x1, x2, k) =>
      (1 to 100).map(i => (x1.toDouble, x2.toDouble, if (i <= k) 1.0 else 0.0))
    }
    val m = GLM.fitFormula(rows.toDF("x1", "x2", "y"), "y ~ x1*x2",
      family = "binomial")
    def logit(p: Double) = math.log(p / (1 - p))
    assert(m.xnames.toSeq == Seq("(Intercept)", "x1", "x2", "x1:x2"))
    assert(math.abs(m.coefs(0) - logit(0.2)) < 1e-7, s"b0=${m.coefs(0)}")
    assert(math.abs(m.coefs(1) - (logit(0.4) - logit(0.2))) < 1e-7)
    assert(math.abs(m.coefs(2) - (logit(0.3) - logit(0.2))) < 1e-7)
    assert(math.abs(m.coefs(3) -
      (logit(0.6) - logit(0.3) - logit(0.4) + logit(0.2))) < 1e-7)
  }

  test("identity and inverse links round-trip and have correct derivatives") {
    val df = Seq(0.5, 1.0, 2.0, 4.0).toDF("mu")
    val idL = LinkFn("identity"); val invL = LinkFn("inverse")
    val out = df.select(
      idL.inverse(idL.link(col("mu"), lit(1.0)), lit(1.0)).as("id_rt"),
      invL.inverse(invL.link(col("mu"), lit(1.0)), lit(1.0)).as("inv_rt"),
      idL.lprime(col("mu"), lit(1.0)).as("id_lp"),
      invL.lprime(col("mu"), lit(1.0)).as("inv_lp"),
      col("mu")).collect()
    out.foreach { r =>
      val mu = r.getDouble(4)
      assert(math.abs(r.getDouble(0) - mu) < 1e-15)
      assert(math.abs(r.getDouble(1) - mu) < 1e-15)
      assert(r.getDouble(2) == 1.0)
      assert(math.abs(r.getDouble(3) - (-1.0 / (mu * mu))) < 1e-15)
    }
  }

  test("pnormApprox is within its documented 7.5e-8 of the exact Φ") {
    val nd = new org.apache.commons.math3.distribution.NormalDistribution(0.0, 1.0)
    val xs = Seq(-4.0, -3.0, -1.5, -0.5, -0.01, 0.0, 0.01, 0.5, 1.5, 3.0, 4.0).toDF("x")
    xs.select(LinkFn.pnormApprox(col("x")).as("p"), col("x")).collect().foreach { r =>
      val exact = nd.cumulativeProbability(r.getDouble(1))
      assert(math.abs(r.getDouble(0) - exact) < 7.5e-8,
        s"x=${r.getDouble(1)}: ${r.getDouble(0)} vs $exact")
    }
  }

  test("fitFormula passes the offset through and keeps it out of the terms") {
    val withOff = bern.withColumn("off", lit(0.3) * $"x2")
    val viaFormula = GLM.fitFormula(withOff, "y ~ x1 + x2", offsetCol = Some("off"))
    val direct = GLM.fit(withOff, Seq("x1", "x2"), "y", offsetCol = Some("off"))
    viaFormula.coefs.toArray.zip(direct.coefs.toArray).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12)
    }
    // '.' expansion must not absorb the offset column as a feature
    val dotFit = GLM.fitFormula(withOff.drop("id"), "y ~ .", offsetCol = Some("off"))
    assert(!dotFit.featureNames.contains("off"))
    assert(dotFit.featureNames.toSet === Set("x1", "x2"))
  }

  test("prior weight k is equivalent to k row copies (R glm(weights=))") {
    val weighted = bern.withColumn("w", when($"id" % 3 === 0, 3.0).otherwise(1.0))
    val expanded = bern.union(bern.filter($"id" % 3 === 0))
      .union(bern.filter($"id" % 3 === 0))
    val mw = GLM.fit(weighted, Seq("x1", "x2"), "y", weightCol = Some("w"))
    val me = GLM.fit(expanded, Seq("x1", "x2"), "y")
    (0 until 3).foreach(i => assert(math.abs(mw.coefs(i) - me.coefs(i)) < 1e-7,
      s"coef $i: ${mw.coefs(i)} vs ${me.coefs(i)}"))
    assert(math.abs(mw.deviance - me.deviance) < 1e-5 * (1 + me.deviance))
    assert(math.abs(mw.nullDeviance - me.nullDeviance) < 1e-5 * (1 + me.nullDeviance))
    assert(math.abs(mw.pearson - me.pearson) < 1e-5 * (1 + me.pearson))
    assert(math.abs(mw.loglik - me.loglik) < 1e-5 * (1 + math.abs(me.loglik)))
    (0 until 3).foreach(i => assert(math.abs(mw.stdErr(i) - me.stdErr(i)) <
      1e-6 * (1 + me.stdErr(i))))
    // n counts ROWS (R convention), not the weight total
    assert(mw.n === 2000 && me.n > 2000)
  }

  test("weighted intercept-only logit recovers logit of the weighted mean exactly") {
    val weighted = bern.withColumn("one", lit(1.0))
      .withColumn("w", lit(1.0) + ($"id" % 5).cast("double"))
    val m = GLM.fit(weighted, Seq("one"), "y", intercept = false,
      weightCol = Some("w"))
    val r = weighted.agg(sum($"w" * $"y"), sum($"w")).head()
    val pBar = r.getDouble(0) / r.getDouble(1)
    assert(math.abs(m.coefs(0) - math.log(pBar / (1 - pBar))) < 1e-7)
  }

  test("weighted gaussian GLM equals the WLS LM solution") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("w", lit(1.0) + col("l_linenumber").cast("double"))
    val g = GLM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice",
      family = "gaussian", weightCol = Some("w"))
    val l = LM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice",
      weightCol = Some("w"))
    (0 until 3).foreach { i =>
      assert(math.abs(g.coefs(i) - l.coefs(i)) < 1e-8 * (1.0 + math.abs(l.coefs(i))),
        s"coef $i: ${g.coefs(i)} vs ${l.coefs(i)}")
    }
  }

  test("save/load round-trips the model, its link, and the scoring expression") {
    val dir = java.nio.file.Files.createTempDirectory("graft-glm-model").toString
    try {
      val m = GLM.fit(bern, Seq("x1", "x2"), "y", family = "binomial", linkName = "cloglog")
      m.save(spark, s"$dir/m")
      val back = GLM.load(spark, s"$dir/m")
      assert(back.coefs === m.coefs && back.stdErr === m.stdErr)
      assert(back.family === m.family && back.link.name === "cloglog")
      assert(back.deviance === m.deviance && back.loglik === m.loglik &&
        back.n === m.n && back.iter === m.iter)
      assert(back.summary === m.summary)
      val a = m.predict(bern).select("prediction").collect().map(_.getDouble(0))
      val b = back.predict(bern).select("prediction").collect().map(_.getDouble(0))
      assert(a === b)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("gaussian predictWithSe equals LM's se_fit (R predict.glm ≡ predict.lm)") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val g = GLM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice",
      family = "gaussian")
    val l = LM.fit(li, Seq("l_quantity", "l_discount"), "l_extendedprice")
    val sg = g.predictWithSe(li, scale = "link")
      .select("se_fit", "prediction").collect()
    val sl = l.predictWithSe(li).select("se_fit", "prediction").collect()
    sg.zip(sl).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(0) - b.getDouble(0)) < 1e-8 * (1 + b.getDouble(0)))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-6 * (1 + math.abs(b.getDouble(1))))
    }
  }

  test("binomial predictWithSe matches an independent local delta-method computation") {
    val m = GLM.fit(bern, Seq("x1", "x2"), "y")
    // independent reference: rebuild (X'WX)^-1 with plain breeze at the
    // CONVERGED beta (W = μ(1−μ) for logit), then the delta method
    val rows = bern.select("x1", "x2").collect()
      .map(r => Array(1.0, r.getDouble(0), r.getDouble(1)))
    val xtwx = breeze.linalg.DenseMatrix.zeros[Double](3, 3)
    rows.foreach { x0 =>
      val eta = m.coefs(0) + m.coefs(1) * x0(1) + m.coefs(2) * x0(2)
      val mu = 1.0 / (1.0 + math.exp(-eta))
      val w = mu * (1.0 - mu)
      for (i <- 0 until 3; j <- 0 until 3) xtwx(i, j) += w * x0(i) * x0(j)
    }
    val k = breeze.linalg.inv(xtwx)
    val got = m.predictWithSe(bern, scale = "link")
      .select("x1", "x2", "se_fit").collect()
    val gotResp = m.predictWithSe(bern, scale = "response")
      .select("x1", "x2", "se_fit", "prediction").collect()
    got.take(50).foreach { r =>
      val x0 = breeze.linalg.DenseVector(1.0, r.getDouble(0), r.getDouble(1))
      val seRef = math.sqrt(x0 dot (k * x0))
      assert(math.abs(r.getDouble(2) - seRef) < 1e-4 * (1 + seRef),
        s"se ${r.getDouble(2)} vs $seRef")
    }
    // response scale: se_μ = se_η · μ(1−μ) (dμ/dη for logit)
    gotResp.take(50).zip(got.take(50)).foreach { case (rp, rl) =>
      val mu = rp.getDouble(3)
      assert(math.abs(rp.getDouble(2) - rl.getDouble(2) * mu * (1 - mu)) <
        1e-10 * (1 + rp.getDouble(2)))
    }
  }

  test("GLM load tolerates a pre-kernel save; only predictWithSe then fails") {
    val dir = java.nio.file.Files.createTempDirectory("graft-glm-legacy").toString
    try {
      val m = GLM.fit(bern, Seq("x1", "x2"), "y")
      m.save(spark, s"$dir/m")
      val back = GLM.load(spark, s"$dir/m")
      // kernel round-trips: se_fit identical
      val sa = m.predictWithSe(bern.limit(50)).select("se_fit").collect().map(_.getDouble(0))
      val sb = back.predictWithSe(bern.limit(50)).select("se_fit").collect().map(_.getDouble(0))
      assert(sa === sb)
      spark.read.parquet(s"$dir/m").drop("xtwx_inv")
        .coalesce(1).write.parquet(s"$dir/legacy")
      val legacy = GLM.load(spark, s"$dir/legacy")
      assert(legacy.predict(bern.limit(5)).count() === 5) // scoring still works
      val e = intercept[IllegalArgumentException] {
        legacy.predictWithSe(bern.limit(5)).collect()
      }
      assert(e.getMessage.contains("xtwx_inv"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("summary renders") {
    val m = GLM.fit(bern, Seq("x1", "x2"), "y")
    val s = m.summary
    assert(s.contains("Null deviance") && s.contains("AIC") && s.contains("Fisher"))
  }

  test("summary: estimated dispersion scales the standard errors and tests t") {
    val df = (1 to 60).map { i =>
      val x = i / 10.0
      (x, 1.5 + 0.2 * x + math.sin(i * 1.7))
    }.toDF("x", "y")
    val g = GLM.fit(df, Seq("x"), "y", family = "gaussian")
    val l = LM.fit(df, Seq("x"), "y")
    // the coefficient rows: name, estimate, std. error, statistic, p, stars
    def rows(s: String): Seq[Array[String]] =
      s.linesIterator.dropWhile(_ != "Coefficients:").drop(2)
        .takeWhile(_ != "---").map(_.trim.split("\\s+")).toSeq
    val gs = g.summary
    assert(gs.contains("t value") && gs.contains("Pr(>|t|)") && !gs.contains("z value"), gs)
    val gr = rows(gs)
    assert(gr.size === 2, gs)
    gr.zipWithIndex.foreach { case (r, i) =>
      assert(math.abs(r(2).toDouble - l.stdErr(i)) < 1e-5 * l.stdErr(i),
        s"se $i: ${r(2)} vs ${l.stdErr(i)}")
      assert(math.abs(r(4).toDouble - l.pValues(i)) < 1e-5 * l.pValues(i) + 1e-12,
        s"p $i: ${r(4)} vs ${l.pValues(i)}")
      // the model's own statistics are the printed ones
      assert(math.abs(g.zValues(i) - l.tValues(i)) < 1e-8 * math.abs(l.tValues(i)),
        s"t $i: ${g.zValues(i)} vs ${l.tValues(i)}")
      assert(math.abs(g.pValues(i) - l.pValues(i)) < 1e-6 * l.pValues(i) + 1e-12,
        s"p $i: ${g.pValues(i)} vs ${l.pValues(i)}")
    }
    // a fixed-dispersion family prints the unscaled kernel and z tests
    val b = GLM.fit(bern, Seq("x1", "x2"), "y")
    val bs = b.summary
    assert(bs.contains("z value") && bs.contains("Pr(>|z|)") && !bs.contains("t value"), bs)
    rows(bs).zipWithIndex.foreach { case (r, i) =>
      assert(r(2) === NumFormat.cell(b.stdErr(i)).trim, s"se $i")
      assert(r(3) === NumFormat.cell(b.zValues(i)).trim, s"z $i")
    }
  }

  test("fitFormula on real parquet: returnflag ~ quantity + discount") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("is_r", when($"l_returnflag" === "R", 1.0).otherwise(0.0))
    val m = GLM.fit(li, Seq("l_quantity", "l_discount"), "is_r")
    assert(m.n == 6000)
    assert(m.iter < 30)
    assert(m.deviance <= m.nullDeviance + 1e-9)
  }

  test("wide-p GLM (p > maxExprWidth) converges via the packed Gram path") {
    // 70 hash-derived pseudo-random features force the treeAggregate Gram;
    // the per-iteration deviance extra is summed in its packed buffers
    // (this previously threw "extras unsupported on the wide path")
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("yy", when(col("l_discount") >= 0.05, 1.0).otherwise(0.0))
    val featNames = (1 to 70).map(i => s"h$i")
    val wide = featNames.foldLeft(li) { (d, nm) =>
      d.withColumn(nm,
        pmod(xxhash64(col("l_orderkey") * 7 + col("l_linenumber"), lit(nm)), lit(1000))
          .cast("double") / 1000.0)
    }
    assert(featNames.size + 1 > Gram.maxExprWidth)
    val m = GLM.fit(wide, featNames, "yy", family = "binomial", maxIter = 30)
    assert(m.coefs.length === 71)
    assert(m.coefs.forall(c => java.lang.Double.isFinite(c)))
    assert(m.deviance <= m.nullDeviance + 1e-9)
    assert(m.iter < 30)
  }

  test("inverse-gaussian intercept-only canonical fit matches the closed forms") {
    // intercept-only GLM MLE mean is the sample mean for ANY family (the
    // common factor 1/(V·g') drops out of the score); with the canonical
    // 1/μ² link, β0 = 1/ȳ². Deviance/Pearson/dispersion then have closed
    // forms the fit must hit exactly.
    val m = GLM.fit(gammaFix.withColumn("one", lit(1.0)), Seq("one"), "y",
      family = "inverse-gaussian", intercept = false)
    val rows = gammaFix.select("y").collect().map(_.getDouble(0))
    val ybar = rows.sum / rows.length
    assert(math.abs(m.coefs(0) - 1.0 / (ybar * ybar)) < 1e-8 * (1 + m.coefs(0)),
      s"b0=${m.coefs(0)} vs ${1.0 / (ybar * ybar)}")
    val dev = rows.map(y => (y - ybar) * (y - ybar) / (ybar * ybar * y)).sum
    val pea = rows.map(y => (y - ybar) * (y - ybar) / (ybar * ybar * ybar)).sum
    assert(math.abs(m.deviance - dev) < 1e-8 * (1 + dev), s"dev=${m.deviance} vs $dev")
    assert(math.abs(m.pearson - pea) < 1e-8 * (1 + pea))
    assert(math.abs(m.dispersion - pea / (rows.length - 1)) < 1e-10)
    // R's profiled inverse-gaussian loglik: −½[n(ln(2π·D/n)+1) + 3Σln y]
    val n = rows.length
    val llRef = -0.5 * (n * (math.log(2.0 * math.Pi * dev / n) + 1.0) +
      3.0 * rows.map(math.log).sum)
    assert(math.abs(m.loglik - llRef) < 1e-8 * (1 + math.abs(llRef)))
    assert(math.abs(m.aic - (-2.0 * llRef + 2.0 * 2)) < 1e-6) // p=1 + dispersion
  }

  test("inverse-gaussian regression zeroes the score equations at convergence") {
    val m = GLM.fit(gammaFix, Seq("x"), "y", family = "inverse-gaussian")
    assert(m.deviance < m.nullDeviance)
    // score_j = Σ (y−μ)/(V(μ)·g'(μ))·x_j must vanish at the MLE
    // (V = μ³, g' = −2/μ³ for the canonical link → term = −(y−μ)/2 · x_j)
    val rows = gammaFix.select("x", "y").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val scores = Array(0.0, 0.0)
    rows.foreach { case (x, y) =>
      val eta = m.coefs(0) + m.coefs(1) * x
      val mu = 1.0 / math.sqrt(eta)
      val term = -(y - mu) / 2.0
      scores(0) += term; scores(1) += term * x
    }
    val scale = rows.map(_._2).sum
    assert(math.abs(scores(0)) < 1e-6 * scale, s"score0=${scores(0)}")
    assert(math.abs(scores(1)) < 1e-6 * scale, s"score1=${scores(1)}")
  }

  test("quasipoisson: same beta as poisson, estimated dispersion, NaN loglik/AIC") {
    val cnt = bern.withColumn("k", floor($"x1" * $"x1" * 3 + 1).cast("double"))
    val qp = GLM.fit(cnt, Seq("x2"), "k", family = "quasipoisson")
    val po = GLM.fit(cnt, Seq("x2"), "k", family = "poisson")
    (0 until 2).foreach(i => assert(math.abs(qp.coefs(i) - po.coefs(i)) < 1e-10,
      s"coef $i: ${qp.coefs(i)} vs ${po.coefs(i)}"))
    assert(qp.stdErr.toArray === po.stdErr.toArray) // unscaled kernel SEs equal
    assert(math.abs(qp.dispersion - po.dispersion) < 1e-10) // same Pearson/df
    assert(qp.loglik.isNaN && qp.aic.isNaN)
    assert(!po.loglik.isNaN)
    // scoring SEs scale by sqrt(dispersion) for the quasi family only
    val seQ = qp.predictWithSe(cnt.limit(20), scale = "link")
      .select("se_fit").collect().map(_.getDouble(0))
    val seP = po.predictWithSe(cnt.limit(20), scale = "link")
      .select("se_fit").collect().map(_.getDouble(0))
    val f = math.sqrt(qp.dispersion)
    seQ.zip(seP).foreach { case (a, b) =>
      assert(math.abs(a - b * f) < 1e-10 * (1 + a)) }
  }

  test("quasibinomial: same beta as binomial, NaN loglik") {
    val qb = GLM.fit(bern, Seq("x1", "x2"), "y", family = "quasibinomial")
    val bi = GLM.fit(bern, Seq("x1", "x2"), "y")
    (0 until 3).foreach(i => assert(math.abs(qb.coefs(i) - bi.coefs(i)) < 1e-10))
    assert(qb.loglik.isNaN && qb.aic.isNaN)
    assert(math.abs(qb.deviance - bi.deviance) < 1e-10 * (1 + bi.deviance))
  }

  test("tweedie(1.5): intercept-only MLE is ybar; deviance matches a local computation") {
    // counts with zeros — the compound Poisson-gamma support
    val cnt = bern.withColumn("k", floor($"x1" * $"x1" * 2).cast("double"))
      .withColumn("one", lit(1.0))
    val m = GLM.fit(cnt, Seq("one"), "k", family = "tweedie(1.5)", intercept = false)
    val ys = cnt.select("k").collect().map(_.getDouble(0))
    val ybar = ys.sum / ys.length
    // log link: b0 = ln(ybar) (intercept-only MLE is the mean, any family)
    assert(math.abs(m.coefs(0) - math.log(ybar)) < 1e-7, s"${m.coefs(0)}")
    val p = 1.5
    val devRef = ys.map(y => 2.0 * (math.pow(y, 2 - p) / ((1 - p) * (2 - p))
      - y * math.pow(ybar, 1 - p) / (1 - p) + math.pow(ybar, 2 - p) / (2 - p))).sum
    assert(math.abs(m.deviance - devRef) < 1e-6 * (1 + devRef),
      s"dev=${m.deviance} vs $devRef")
    assert(m.loglik.isNaN && m.aic.isNaN) // no closed-form tweedie density
    assert(m.family === "tweedie(1.5)")
    // a sloped fit reduces deviance and scoring SEs scale by sqrt(disp)
    val s = GLM.fit(cnt, Seq("x2"), "k", family = "tweedie(1.5)")
    assert(s.deviance < s.nullDeviance)
    val se = s.predictWithSe(cnt.limit(5)).select("se_fit").collect()
    assert(se.forall(r => r.getDouble(0) > 0))
  }

  test("negbin(theta): intercept-only MLE is ybar; theta -> inf approaches poisson") {
    val cnt = bern.withColumn("k", floor($"x1" * $"x1" * 3 + 1).cast("double"))
      .withColumn("one", lit(1.0))
    val m = GLM.fit(cnt, Seq("one"), "k", family = "negbin(2.0)", intercept = false)
    val ybar = cnt.agg(avg($"k")).head().getDouble(0)
    assert(math.abs(m.coefs(0) - math.log(ybar)) < 1e-7)
    // deviance against a local computation at mu = ybar
    val ys = cnt.select("k").collect().map(_.getDouble(0))
    val th = 2.0
    val devRef = ys.map { y =>
      val t1 = if (y > 0) y * math.log(y / ybar) else 0.0
      2.0 * (t1 - (y + th) * math.log((y + th) / (ybar + th)))
    }.sum
    assert(math.abs(m.deviance - devRef) < 1e-6 * (1 + devRef))
    // loglik is the exact negative-binomial density sum
    val llRef = ys.map { y =>
      org.apache.commons.math3.special.Gamma.logGamma(y + th) -
        org.apache.commons.math3.special.Gamma.logGamma(th) -
        org.apache.commons.math3.special.Gamma.logGamma(y + 1.0) +
        y * math.log(ybar / (ybar + th)) + th * math.log(th / (ybar + th))
    }.sum
    assert(math.abs(m.loglik - llRef) < 1e-6 * (1 + math.abs(llRef)))
    // theta -> infinity: V = mu + mu^2/theta -> mu, the poisson limit
    val big = GLM.fit(cnt, Seq("x2"), "k", family = "negbin(100000.0)")
    val po = GLM.fit(cnt, Seq("x2"), "k", family = "poisson")
    (0 until 2).foreach(i =>
      assert(math.abs(big.coefs(i) - po.coefs(i)) < 1e-3 * (1 + math.abs(po.coefs(i))),
        s"coef $i: ${big.coefs(i)} vs ${po.coefs(i)}"))
  }

  test("poisson + sqrt link: intercept-only MLE is sqrt(ybar)") {
    val cnt = bern.withColumn("k", floor($"x1" * $"x1" * 3 + 1).cast("double"))
      .withColumn("one", lit(1.0))
    val m = GLM.fit(cnt, Seq("one"), "k", family = "poisson",
      linkName = "sqrt", intercept = false)
    val ybar = cnt.agg(avg($"k")).head().getDouble(0)
    assert(math.abs(m.coefs(0) - math.sqrt(ybar)) < 1e-8, s"${m.coefs(0)}")
    // and a sloped sqrt-link fit still reduces deviance
    val s = GLM.fit(cnt, Seq("x2"), "k", family = "poisson", linkName = "sqrt")
    assert(s.deviance < s.nullDeviance)
  }

  test("residuals: deviance² sums to the model deviance, pearson² to the Pearson stat") {
    val m = GLM.fit(bern, Seq("x1", "x2"), "y")
    val rd = m.residuals(bern, "deviance", outputCol = "r")
      .agg(sum($"r" * $"r")).head().getDouble(0)
    assert(math.abs(rd - m.deviance) < 1e-6 * (1 + m.deviance), s"$rd vs ${m.deviance}")
    val rp = m.residuals(bern, "pearson", outputCol = "r")
      .agg(sum($"r" * $"r")).head().getDouble(0)
    assert(math.abs(rp - m.pearson) < 1e-6 * (1 + m.pearson), s"$rp vs ${m.pearson}")
    // binomial m=1 pearson residual is (y−μ)/√(μ(1−μ)); spot-check rows
    val rows = m.residuals(m.predict(bern), "pearson", outputCol = "r")
      .select($"y", $"prediction", $"r").limit(20).collect()
    rows.foreach { r =>
      val (y, mu) = (r.getDouble(0), r.getDouble(1))
      val ref = (y - mu) / math.sqrt(mu * (1.0 - mu))
      assert(math.abs(r.getDouble(2) - ref) < 1e-10)
    }
  }

  test("residuals: gaussian identity makes all four types equal y − μ") {
    val g = bern.withColumn("yy", $"x1" * 2.0 + $"x2" + $"y") // any numeric response
    val m = GLM.fit(g, Seq("x1", "x2"), "yy", family = "gaussian")
    val types = Seq("response", "pearson", "deviance", "working")
    val agg = types.foldLeft(g) { case (d, ty) =>
      m.residuals(d, ty, outputCol = s"r_$ty")
    }.agg(
      sum(abs(col("r_response") - col("r_pearson"))),
      sum(abs(col("r_response") - col("r_deviance"))),
      sum(abs(col("r_response") - col("r_working"))),
      sum(abs(col("r_response") - (col("yy") - col("x1") * m.coefs(1)
        - col("x2") * m.coefs(2) - m.coefs(0))))).head()
    (0 until 4).foreach(i => assert(agg.getDouble(i) < 1e-6, s"slot $i: ${agg.getDouble(i)}"))
  }

  test("summary prints dispersion 1 for binomial, poisson and negbin, as R does") {
    val counts = bern.withColumn("k", floor($"x2" * 3))
    Seq(
      GLM.fit(bern, Seq("x1", "x2"), "y"),
      GLM.fit(counts, Seq("x1"), "k", family = "poisson"),
      GLM.fit(counts, Seq("x1"), "k", family = "negbin(2.0)")).foreach { m =>
      assert(m.summary.contains(s"(Dispersion parameter for ${m.family} family taken to be 1)"),
        m.summary)
      // the field is still the Pearson estimate
      assert(m.dispersion != 1.0)
    }
    val g = GLM.fit(bern, Seq("x1"), "x2", family = "gaussian")
    assert(g.summary.contains(
      s"family taken to be ${NumFormat.sigDigits(g.dispersion, 6)})"), g.summary)
  }

  /** Runs `f`; returns the jobs it started and (tasks, call-site details)
    * of each stage it completed.
    */
  private def observe(f: => Unit): (Int, Seq[(Int, String)]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add((e.stageInfo.numTasks, e.stageInfo.details))
    }
    TestBus.drain(sc)
    sc.addSparkListener(l)
    try { f; TestBus.drain(sc) } finally sc.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    (jobs.get, stages.asScala.toSeq)
  }

  test("a collapsed discrete design runs its IRLS passes with no Spark job") {
    val disc = bern.select($"y", round($"x1").as("a"), floor($"x2" * 2).as("b"))
    // tol = 0 never converges, so each fit runs exactly maxIter passes
    def jobs(iters: Int): Int =
      observe(GLM.fit(disc, Seq("a", "b"), "y", tol = 0.0, maxIter = iters))._1
    val (two, six) = (jobs(2), jobs(6))
    assert(two == six, s"maxIter 2 ran $two jobs, maxIter 6 ran $six")
  }

  test("a countCol frame above the collapse cap spreads its Gram pass over tasks") {
    val n = SuffStats.CollapseMax + 904
    val df = spark.range(0, n, 1, 4).select(
      ($"id" / n.toDouble).as("x"),
      when($"id" % 3 === 0, 1.0).otherwise(0.0).as("y"),
      ($"id" % 2 + 1).cast("double").as("cnt"))
    val (_, stages) = observe(GLM.fit(df, Seq("x"), "y", maxIter = 1,
      computeStats = false, countCol = Some("cnt")))
    val gram = stages.filter(_._2.contains("graft.glm.Gram$.normal"))
    assert(gram.nonEmpty, "no Gram pass ran as a job")
    assert(gram.map(_._1).max > 1, s"Gram stages ran on ${gram.map(_._1)} tasks")
  }

  test("a distributed fit over 200 partitions runs a task per core, same fit") {
    // a continuous design: every IRLS pass runs as a job over the frame
    def frame(parts: Int) = spark.range(0, 10000, 1, parts).select(
      sin($"id" * 0.37).as("x1"), (($"id" * 7919) % 1000 / 1000.0).as("x2"),
      (sin($"id" * 1.3) + sin($"id" * 0.37) > 0.2).cast("double").as("y"))
    var wide: GLMModel = null
    val (_, stages) = observe { wide = GLM.fit(frame(200), Seq("x1", "x2"), "y") }
    val cores = spark.sparkContext.defaultParallelism
    val gram = stages.filter(_._2.contains("graft.glm.Gram$.normal"))
    assert(gram.nonEmpty && stages.forall(_._1 <= cores),
      s"stage tasks ${stages.map(_._1)} on $cores cores")
    val narrow = GLM.fit(frame(16), Seq("x1", "x2"), "y")
    assert(wide.iter == narrow.iter)
    wide.coefs.toArray.zip(narrow.coefs.toArray).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.abs(b), s"$a vs $b")
    }
  }

  /** A discrete design with two string factors (3 and 4 levels) and a
    * 5-valued numeric over the Bernoulli rows.
    */
  private lazy val factors = bern.select($"y",
    when($"x1" < -0.5, "lo").when($"x1" < 0.5, "mid").otherwise("hi").as("f"),
    concat(lit("g"), floor($"x2" * 2).cast("string")).as("g"),
    round($"x1").as("d"))

  /** Every statistic of a model as raw bits, then n and the iteration count. */
  private def fingerprint(m: GLMModel): Seq[Long] = {
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    m.coefs.toArray.map(bits).toSeq ++ m.stdErr.toArray.map(bits) ++
      Seq(m.deviance, m.nullDeviance, m.pearson, m.loglik).map(bits) ++ Seq(m.n, m.iter.toLong)
  }

  test("a discrete fit is bit-identical whatever the input's row order and partitioning") {
    val disc = bern.select($"y", round($"x1").as("a"), floor($"x2" * 2).as("b"))
    def numericFits(d: DataFrame): Seq[Seq[Long]] =
      Seq(GLM.fit(d, Seq("a", "b"), "y"), GLM.fit(d, Seq("a", "b"), "y", family = "poisson"))
        .map(fingerprint)
    def formulaFits(d: DataFrame): Seq[Seq[Long]] =
      Seq(GLM.fitFormula(d, "y ~ f + g + d"), GLM.fitFormula(d, "y ~ g * d", linkName = "probit"))
        .map(fingerprint)
    val (numeric, formula) = (numericFits(disc), formulaFits(factors))
    for (reorder <- Seq[DataFrame => DataFrame](_.repartition(3), _.orderBy(rand(7)))) {
      assert(numericFits(reorder(disc)) == numeric)
      assert(formulaFits(reorder(factors)) == formula)
    }
  }

  test("fitFormula on a discrete string-factor design is one job, bit-identical to fit") {
    var m: GLMModel = null
    val (jobs, stages) = observe { m = GLM.fitFormula(factors, "y ~ f + g + d") }
    assert(jobs == 1, s"$jobs jobs")
    assert(!stages.exists(_._2.contains("graft.glm.ModelMatrix")),
      "a level scan ran: " + stages.map(_._2.linesIterator.next()).mkString("; "))
    val encoded = ModelMatrix.encode(factors)
    assert(m.featureNames.toSeq == Seq("f_lo", "f_mid", "g_g1", "g_g2", "g_g3", "d"))
    assert(fingerprint(m) == fingerprint(GLM.fit(encoded, m.featureNames.toSeq, "y")))
  }

  test("exactly CollapseMax distinct rows collapse and one more do not; -0.0 is 0.0") {
    val k = SuffStats.CollapseMax
    // `distinct` (x, y) patterns over about twice as many rows
    def frame(distinct: Int, parts: Int) = spark.range(0, 2L * distinct + 7, 1, parts).select(
      (($"id" % distinct) / distinct.toDouble).as("x"),
      ($"id" % distinct % 2).cast("double").as("y"))
    // the number of pattern rows, when there is a table
    def patterns(df: DataFrame): Option[Double] =
      SuffStats.patterns(df, "cnt").map(_.sums(Seq(lit(1.0))).head)
    for (parts <- Seq(1, 4)) {
      assert(patterns(frame(k, parts)).contains(k.toDouble))
      assert(patterns(frame(k + 1, parts)).isEmpty)
    }
    def gramJobs(df: DataFrame): Int =
      observe(GLM.fit(df, Seq("x"), "y", maxIter = 1, computeStats = false))._2
        .count(_._2.contains("graft.glm.Gram$.normal"))
    assert(gramJobs(frame(k, 4)) == 0)
    assert(gramJobs(frame(k + 1, 4)) > 0)

    // x = 0 is written as 0.0 on even ids and -0.0 on odd ones
    val signed = spark.range(0, 420, 1, 4).select(
      when($"id" % 3 =!= 0, ($"id" % 3).cast("double"))
        .when($"id" % 2 === 0, lit(0.0)).otherwise(lit(-0.0)).as("x"),
      when($"id" % 7 < 3, 1.0).otherwise(0.0).as("y"))
    assert(signed.filter($"x" === 0.0).select("x").collect()
      .map(r => java.lang.Double.doubleToRawLongBits(r.getDouble(0))).distinct.length == 2)
    assert(patterns(signed).contains(6.0))
    val m = GLM.fit(signed, Seq("x"), "y")
    assert(m.n == 420)
    val plusZero = signed.select(($"x" + 0.0).as("x"), $"y")
    assert(fingerprint(m) == fingerprint(GLM.fit(plusZero, Seq("x"), "y")))
  }

  test("a discrete frame over 200 partitions collapses exactly in one scan job") {
    // 286 (a, b, y) patterns over 40k rows
    val df = spark.range(0, 40000, 1, 200).select(
      ($"id" % 13).cast("double").as("a"),
      concat(lit("b"), ($"id" / 13 % 11).cast("long").cast("string")).as("b"),
      (($"id" * 7919) % 10 < 3).cast("double").as("y"))
    val exact = df.groupBy("a", "b", "y").count().collect().map(r =>
      (r.getDouble(0), r.getString(1), r.getDouble(2)) -> r.getLong(3).toDouble).toMap
    def table(rows: Option[DriverRows]) = rows.get.project(Seq($"a", $"b", $"y", $"cnt")).map(r =>
      (r.getDouble(0), r.getString(1), r.getDouble(2)) -> r.getDouble(3)).toMap
    // by default one scan task per core
    var got: Option[DriverRows] = None
    val (jobs, stages) = observe { got = SuffStats.patterns(df, "cnt") }
    assert(jobs == 1 && stages.map(_._1) == Seq(spark.sparkContext.defaultParallelism),
      s"$jobs jobs, stage tasks ${stages.map(_._1)}")
    assert(exact.size == 286 && table(got) == exact)
    // 200 scan tasks: the driver takes in a few merged tables, not one per task
    val (jobs200, stages200) = observe { got = SuffStats.patterns(df, "cnt", tasks = 200) }
    assert(jobs200 == 1 && stages200.exists(_._1 == 200) && stages200.last._1 <= 32,
      s"$jobs200 jobs, stage tasks ${stages200.map(_._1)}")
    assert(table(got) == exact)
    assert(fingerprint(GLM.fitFormula(df, "y ~ a + b")) ==
      fingerprint(GLM.fitFormula(df.coalesce(1), "y ~ a + b")))
  }
}
