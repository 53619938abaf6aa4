package graft.glm

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.Exp
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._

class GroupedGLMSpec extends SparkSpec {
  import spark.implicits._

  private lazy val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    .withColumn("y", when(col("l_discount") >= 0.05, 1.0).otherwise(0.0))

  test("per-group binomial fits match the whole-pipeline GLM on each subset") {
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity", "l_tax"), "y")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("b_intercept"), r.getAs[Double]("b_l_quantity"),
          r.getAs[Double]("b_l_tax"), r.getAs[Double]("deviance"))).toMap
    assert(grouped.nonEmpty)
    grouped.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity", "l_tax"), "y", family = "binomial")
      val (b0, b1, b2, dev) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$flag b_quantity")
      assert(math.abs(b2 - m.coefs(2)) < 1e-6, s"$flag b_tax")
      assert(math.abs(dev - m.deviance) / m.deviance < 1e-6, s"$flag deviance")
    }
  }

  test("predictWithSe equals the single-model GLM.predictWithSe per group") {
    val betas = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "y",
      kernel = true)
    Seq("link", "response").foreach { sc =>
      val scored = GroupedGLM.predictWithSe(betas, li, Seq("l_returnflag"),
          Seq("l_quantity"), scale = sc)
        .select($"l_returnflag", $"l_quantity", $"prediction", $"se_fit")
        .collect()
      scored.map(_.getString(0)).distinct.foreach { flag =>
        val sub = li.filter($"l_returnflag" === flag)
        val m = GLM.fit(sub, Seq("l_quantity"), "y")
        val ref = m.predictWithSe(sub, scale = sc)
          .select($"l_quantity", $"prediction", $"se_fit").collect()
          .map(r => r.getDouble(0) -> (r.getDouble(1), r.getDouble(2))).toMap
        scored.filter(_.getString(0) == flag).take(20).foreach { r =>
          val (p, se) = ref(r.getDouble(1))
          assert(math.abs(r.getDouble(2) - p) < 1e-5 * (1 + math.abs(p)),
            s"$flag/$sc pred ${r.getDouble(2)} vs $p")
          assert(math.abs(r.getDouble(3) - se) < 1e-4 * (1 + se),
            s"$flag/$sc se ${r.getDouble(3)} vs $se")
        }
      }
    }
  }

  test("per-group gaussian fits equal GroupedLM least squares") {
    val glm = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "l_extendedprice",
        family = "gaussian")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val lm = GroupedLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "l_extendedprice")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(glm.keySet === lm.keySet)
    glm.foreach { case (k, (b0, b1)) =>
      assert(math.abs(b0 - lm(k)._1) < 1e-6 * math.abs(lm(k)._1), s"$k intercept")
      assert(math.abs(b1 - lm(k)._2) < 1e-6 * math.abs(lm(k)._2), s"$k slope")
    }
  }

  test("per-group poisson fits match the whole-pipeline GLM on each subset") {
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"),
        "l_linenumber", family = "poisson")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    grouped.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity"), "l_linenumber", family = "poisson")
      val (b0, b1) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$flag slope")
    }
  }

  test("per-group gamma fits match the whole-pipeline GLM on each subset") {
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"),
        "l_extendedprice", family = "gamma")
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    grouped.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity"), "l_extendedprice", family = "gamma")
      val (b0, b1) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$flag slope")
    }
  }

  test("grouped binomial with an m column matches the whole-pipeline GLM per subset") {
    // grouped-binomial shape: one row per (flag, quantity), m = trials,
    // y = successes — the m>1 path must reproduce GLM.fit(mCol) exactly
    val gb = li.groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).cast("double").as("m"), sum("y").as("succ"))
    val grouped = GroupedGLM.fit(gb, Seq("l_returnflag"), Seq("l_quantity"), "succ",
        mCol = Some("m"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(grouped.nonEmpty)
    grouped.keys.foreach { flag =>
      val sub = gb.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity"), "succ", family = "binomial",
        mCol = Some("m"))
      val (b0, b1) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$flag slope")
    }
  }

  test("grouped poisson with an offset matches the whole-pipeline GLM per subset") {
    val withOff = li.withColumn("off", log(col("l_quantity") + 1.0))
    val grouped = GroupedGLM.fit(withOff, Seq("l_returnflag"), Seq("l_tax"),
        "l_linenumber", family = "poisson", offsetCol = Some("off"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    grouped.keys.foreach { flag =>
      val sub = withOff.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_tax"), "l_linenumber", family = "poisson",
        offsetCol = Some("off"))
      val (b0, b1) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$flag slope")
    }
  }

  test("grouped gaussian with prior weights equals per-subset WLS") {
    val wdf = li.withColumn("wt", col("l_quantity"))
    val grouped = GroupedGLM.fit(wdf, Seq("l_returnflag"), Seq("l_discount"),
        "l_extendedprice", family = "gaussian", weightCol = Some("wt"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    grouped.keys.foreach { flag =>
      val sub = wdf.filter(col("l_returnflag") === flag)
      val m = LM.fit(sub, Seq("l_discount"), "l_extendedprice", weightCol = Some("wt"))
      val (b0, b1) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6 * math.abs(m.coefs(0)), s"$flag intercept")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6 * math.abs(m.coefs(1)), s"$flag slope")
    }
  }

  test("predict scores each row with its own group's model; absent groups score NaN") {
    val betas = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity", "l_tax"), "y")
    val scored = GroupedGLM.predict(betas, li, Seq("l_returnflag"),
        Seq("l_quantity", "l_tax"))
      .select(col("l_returnflag"), col("l_quantity"), col("l_tax"), col("prediction"))
      .collect()
    assert(scored.length === li.count())
    // spot-check every group against the single-model GLM's predictions
    val flags = scored.map(_.getString(0)).distinct
    flags.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity", "l_tax"), "y")
      val want = m.predict(sub).select("l_quantity", "l_tax", "prediction")
        .collect().map(r => (r.getDouble(0), r.getDouble(1)) -> r.getDouble(2)).toMap
      scored.filter(_.getString(0) == flag).take(50).foreach { r =>
        val key = (r.getDouble(1), r.getDouble(2))
        assert(math.abs(r.getDouble(3) - want(key)) < 1e-6, s"$flag $key")
      }
    }
    // a group with no fitted betas scores NaN, not a dropped row
    val foreign = Seq(("Z", 1.0, 0.1)).toDF("l_returnflag", "l_quantity", "l_tax")
    val out = GroupedGLM.predict(betas, foreign, Seq("l_returnflag"),
      Seq("l_quantity", "l_tax")).select("prediction").head().getDouble(0)
    assert(out.isNaN)
  }

  test("fitFormula dummy-encodes categorical terms and matches per-subset GLM.fitFormula") {
    // a derived categorical with every level present in every group, so the
    // per-subset GLM.fitFormula resolves the same k-1 dummy columns
    val bands = li.withColumn("qband",
      when(col("l_quantity") <= 10, "low")
        .when(col("l_quantity") <= 30, "mid").otherwise("high"))
    val grouped = GroupedGLM.fitFormula(bands, Seq("l_returnflag"),
      "y ~ l_tax + qband")
    val cols = grouped.columns
    assert(cols.contains("b_l_tax"))
    // k-1 lexicographic dummies for the string term
    assert(cols.count(_.startsWith("b_qband_")) === 2)
    val rows = grouped.collect().map(r => r.getString(0) -> r).toMap
    rows.keys.foreach { flag =>
      val sub = bands.filter(col("l_returnflag") === flag)
      val m = GLM.fitFormula(sub, "y ~ l_tax + qband")
      val r = rows(flag)
      // same intercept and slope; dummy coefficients match by level name
      assert(math.abs(r.getAs[Double]("b_intercept") - m.coefs(0)) < 1e-6, s"$flag b0")
      m.featureNames.zipWithIndex.foreach { case (nm, i) =>
        assert(math.abs(r.getAs[Double](s"b_$nm") - m.coefs(i + 1)) < 1e-6, s"$flag $nm")
      }
    }
  }

  test("per-group probit and cloglog fits match the whole-pipeline GLM per subset") {
    Seq("probit", "cloglog").foreach { link =>
      val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "y",
          linkName = link)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Double]("b_intercept"), r.getAs[Double]("b_l_quantity"))).toMap
      grouped.keys.foreach { flag =>
        val sub = li.filter(col("l_returnflag") === flag)
        val m = GLM.fit(sub, Seq("l_quantity"), "y", linkName = link)
        val (b0, b1) = grouped(flag)
        assert(math.abs(b0 - m.coefs(0)) < 1e-6, s"$link $flag b0: $b0 vs ${m.coefs(0)}")
        assert(math.abs(b1 - m.coefs(1)) < 1e-6, s"$link $flag b1")
      }
    }
    // a link override on a non-binomial family is rejected
    intercept[IllegalArgumentException] {
      GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "l_extendedprice",
        family = "gaussian", linkName = "probit")
    }
  }

  test("probit, cloglog and gamma-inverse with weights and offsets match GLM.fit per subset") {
    // binomial: one row per (flag, quantity) with m trials and y successes
    val gb = li.groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).cast("double").as("m"), sum("y").as("succ"))
      .withColumn("wt", (col("l_quantity") % 3) + 0.5)
      .withColumn("off", (col("l_quantity") % 5) * 0.05)
    // gamma-inverse: η = 1/μ is ~3e-5 here, so the offset stays far smaller
    val ga = li.withColumn("wt", col("l_tax") + 0.01)
      .withColumn("off", col("l_linenumber") * 1e-7)
    val cases = Seq(
      ("binomial", "probit", gb, "succ", Some("m")),
      ("binomial", "cloglog", gb, "succ", Some("m")),
      ("gamma", "inverse", ga, "l_extendedprice", None))
    def close(a: Double, b: Double): Boolean = math.abs(a - b) < 1e-6 * math.abs(b)
    cases.foreach { case (famName, link, df, yc, mCol) =>
      val rows = GroupedGLM.fit(df, Seq("l_returnflag"), Seq("l_quantity"), yc,
          family = famName, linkName = link, mCol = mCol, offsetCol = Some("off"),
          weightCol = Some("wt"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(rows.size == 3, s"$link groups")
      rows.foreach { case (flag, r) =>
        val m = GLM.fit(df.filter(col("l_returnflag") === flag), Seq("l_quantity"), yc,
          family = famName, linkName = link, mCol = mCol, offsetCol = Some("off"),
          weightCol = Some("wt"))
        // binomial dispersion is 1; gamma's is the deviance estimate dev/(n−p)
        val disp = if (famName == "gamma") m.deviance / (m.n - m.p) else 1.0
        Seq("intercept", "l_quantity").zipWithIndex.foreach { case (nm, i) =>
          val b = r.getAs[Double](s"b_$nm")
          val se = r.getAs[Double](s"se_$nm")
          val seRef = m.stdErr(i) * math.sqrt(disp)
          assert(close(b, m.coefs(i)), s"$link $flag b_$nm: $b vs ${m.coefs(i)}")
          assert(close(se, seRef), s"$link $flag se_$nm: $se vs $seRef")
        }
        val dev = r.getAs[Double]("deviance")
        val ll = r.getAs[Double]("loglik")
        assert(close(dev, m.deviance), s"$link $flag deviance: $dev vs ${m.deviance}")
        assert(close(ll, m.loglik), s"$link $flag loglik: $ll vs ${m.loglik}")
      }
    }
  }

  test("one IRLS pass projects μ once: the exp of η appears once in its plan") {
    // records each plan when it reaches the optimizer's user-rule batch,
    // after the operator rules (CollapseProject among them) have run; the
    // pass frames are materialized through RDD checkpoints, which no
    // query listener sees
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]
    object Record extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan = { seen.add(plan); plan }
    }
    val before = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = before :+ Record
    // logit: pass 0 starts μ from y (no exp), pass 1 has μ = m/(exp(−η)+1)
    try GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity", "l_tax"), "y",
      maxIter = 2).collect()
    finally spark.experimental.extraOptimizations = before
    def expCount(node: LogicalPlan): Int =
      node.expressions.map(_.collect { case e: Exp => e }.size).sum
    import scala.jdk.CollectionConverters._
    val passes = seen.asScala.toSeq.filter(_.find(expCount(_) > 0).isDefined)
    assert(passes.nonEmpty, "no plan of the fit computes exp")
    passes.foreach { plan =>
      val withExp = plan.collect { case n if expCount(n) > 0 => n }
      assert(withExp.size == 1 && expCount(withExp.head) == 1,
        s"exp of η should appear exactly once:\n$plan")
      assert(withExp.head.isInstanceOf[Project], s"not a Project:\n$plan")
      assert(plan.collectFirst { case a: Aggregate => a }
        .exists(_.find(_ eq withExp.head).isDefined),
        s"the projection is not below the aggregate:\n$plan")
    }
  }

  test("a key column named like the pass's internal columns changes nothing") {
    val df = li.select(col("l_returnflag"), col("l_quantity"), col("y"))
    def fitBy(key: String) =
      GroupedGLM.fit(df.withColumnRenamed("l_returnflag", key), Seq(key),
          Seq("l_quantity"), "y")
        .collect().map(r => r.getString(0) -> r.getAs[Double]("b_l_quantity")).toMap
    val (a, b) = (fitBy("__t_x0"), fitBy("flag"))
    assert(a.keySet == b.keySet && a.size == 3)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-9 * math.abs(b(k)), k) }
  }

  test("per-group standard errors match the single-model GLM and WLS") {
    // binomial: dispersion is fixed at 1, SEs come straight from the Gram
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity", "l_tax"), "y")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("se_intercept"), r.getAs[Double]("se_l_quantity"))).toMap
    grouped.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity", "l_tax"), "y")
      val (se0, se1) = grouped(flag)
      assert(math.abs(se0 - m.stdErr(0)) < 1e-6 * m.stdErr(0), s"$flag se0")
      assert(math.abs(se1 - m.stdErr(1)) < 1e-6 * m.stdErr(1), s"$flag se1")
    }
    // gaussian: dev/(n−p) is exactly the WLS sigma², so SEs equal LM's
    val gauss = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"),
        "l_extendedprice", family = "gaussian")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("se_intercept"), r.getAs[Double]("se_l_quantity"))).toMap
    gauss.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = LM.fit(sub, Seq("l_quantity"), "l_extendedprice")
      val (se0, se1) = gauss(flag)
      assert(math.abs(se0 - m.stdErr(0)) < 1e-8 * m.stdErr(0), s"$flag se0")
      assert(math.abs(se1 - m.stdErr(1)) < 1e-8 * m.stdErr(1), s"$flag se1")
    }
  }

  test("per-group loglik and AIC match the single-model GLM per subset") {
    // gaussian included: both sides follow R's profiled-σ² convention
    Seq(("binomial", "y"), ("poisson", "l_linenumber"),
        ("gaussian", "l_extendedprice")).foreach { case (famName, yc) =>
      val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), yc,
          family = famName)
        .collect().map(r => r.getString(0) ->
          (r.getAs[Double]("loglik"), r.getAs[Double]("aic"))).toMap
      grouped.keys.foreach { flag =>
        val m = GLM.fit(li.filter(col("l_returnflag") === flag),
          Seq("l_quantity"), yc, family = famName)
        val (llG, aicG) = grouped(flag)
        assert(math.abs(llG - m.loglik) < 1e-6 * math.abs(m.loglik),
          s"$famName $flag ll: $llG vs ${m.loglik}")
        assert(math.abs(aicG - m.aic) < 1e-6 * math.abs(m.aic), s"$famName $flag aic")
      }
    }
  }

  test("gamma inverse (canonical) link matches the single GLM per subset") {
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"),
        "l_extendedprice", family = "gamma", linkName = "inverse")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("b_intercept"), r.getAs[Double]("b_l_quantity"),
          r.getAs[Double]("deviance"))).toMap
    assert(grouped.nonEmpty)
    grouped.keys.foreach { flag =>
      val sub = li.filter(col("l_returnflag") === flag)
      val m = GLM.fit(sub, Seq("l_quantity"), "l_extendedprice",
        family = "gamma", linkName = "inverse")
      val (b0, b1, dev) = grouped(flag)
      assert(math.abs(b0 - m.coefs(0)) < 1e-6 * math.abs(m.coefs(0)),
        s"$flag intercept: $b0 vs ${m.coefs(0)}")
      assert(math.abs(b1 - m.coefs(1)) < 1e-6 * math.abs(m.coefs(1)), s"$flag slope")
      assert(math.abs(dev - m.deviance) < 1e-6 * m.deviance, s"$flag deviance")
    }
    // "canonical" resolves to inverse for gamma; rejects a bogus link
    intercept[IllegalArgumentException] {
      GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"),
        "l_extendedprice", family = "gamma", linkName = "probit")
    }
  }

  test("weighted gaussian loglik follows R's weighted logLik.glm formula") {
    val wdf = li.withColumn("wt", col("l_quantity"))
    val row = GroupedGLM.fit(wdf, Seq("l_returnflag"), Seq("l_discount"),
        "l_extendedprice", family = "gaussian", weightCol = Some("wt"))
      .filter(col("l_returnflag") === "R").head()
    val dev = row.getAs[Double]("deviance")
    val n = row.getAs[Long]("n_rows").toDouble
    val sumLogW = wdf.filter(col("l_returnflag") === "R")
      .agg(sum(log(col("wt")))).head().getDouble(0)
    val expected = 0.5 * (sumLogW - n * (math.log(2.0 * math.Pi * dev / n) + 1.0))
    val ll = row.getAs[Double]("loglik")
    assert(math.abs(ll - expected) < 1e-8 * math.abs(expected), s"$ll vs $expected")
    assert(math.abs(row.getAs[Double]("aic") - (-2.0 * ll + 2.0 * 3)) < 1e-9)
  }

  test("per-group null deviance matches the single-model GLM's closed form") {
    val grouped = GroupedGLM.fit(li, Seq("l_returnflag"), Seq("l_quantity"), "y",
        nullDeviance = true)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("deviance"), r.getAs[Double]("null_deviance"))).toMap
    grouped.keys.foreach { flag =>
      val m = GLM.fit(li.filter(col("l_returnflag") === flag), Seq("l_quantity"), "y")
      val (dev, nullDev) = grouped(flag)
      assert(math.abs(nullDev - m.nullDeviance) < 1e-6 * m.nullDeviance, s"$flag null")
      assert(dev <= nullDev + 1e-9, s"$flag fitted deviance must not exceed null")
    }
  }

  test("fits are invariant to input partitioning") {
    def coefs(df: org.apache.spark.sql.DataFrame) =
      GroupedGLM.fit(df, Seq("l_returnflag"), Seq("l_quantity"), "y")
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val a = coefs(li)
    val b = coefs(li.repartition(17))
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-8, k) }
  }

  test("groups converge and freeze independently (per-group n_iter)") {
    // "flat": no signal, the logit stabilizes in a few passes; "steep":
    // near-separated data drifts toward a large |β| for many passes. With
    // per-group freeze the flat group must stop early — its n_iter is the
    // pass its OWN deviance stabilized at, not the slow group's
    val rows =
      (1 to 200).map(i => ("flat", i / 100.0, (i % 2).toDouble)) ++
      (1 to 200).map { i =>
        val x = i / 100.0
        val y = if (i == 40) 1.0 else if (i == 160) 0.0 else if (x > 1.0) 1.0 else 0.0
        ("steep", x, y)
      }
    val out = GroupedGLM.fit(rows.toDF("g", "x", "y"), Seq("g"), Seq("x"), "y",
        maxIter = 40)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Double]("b_intercept"), r.getAs[Double]("b_x"),
          r.getAs[Int]("n_iter"))).toMap
    val (_, _, itFlat) = out("flat")
    val (_, _, itSteep) = out("steep")
    assert(itFlat < itSteep, s"flat froze at $itFlat, steep at $itSteep")
    // the early freeze must not change the answer: each group still matches
    // its own single-model fit
    Seq("flat", "steep").foreach { g =>
      val sub = rows.filter(_._1 == g).map(t => (t._2, t._3)).toDF("x", "y")
      val m = GLM.fit(sub, Seq("x"), "y", maxIter = 40)
      assert(math.abs(out(g)._1 - m.coefs(0)) < 1e-5 * (1 + math.abs(m.coefs(0))),
        s"$g intercept: ${out(g)._1} vs ${m.coefs(0)}")
      assert(math.abs(out(g)._2 - m.coefs(1)) < 1e-5 * (1 + math.abs(m.coefs(1))),
        s"$g slope: ${out(g)._2} vs ${m.coefs(1)}")
    }
  }

  test("underdetermined groups yield NaN coefficients, not a crash") {
    val tiny = Seq(
      ("a", 1.0, 0.0), ("a", 2.0, 1.0), ("a", 3.0, 0.0), ("a", 4.0, 1.0),
      ("b", 1.0, 1.0)).toDF("g", "x", "y")
    val out = GroupedGLM.fit(tiny, Seq("g"), Seq("x"), "y", maxIter = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("b").isNaN) // 1 row, 2 params
    assert(!out("a").isNaN)
  }

  test("grouped residuals match single-model GLM residuals per subset") {
    val df = li.limit(3000)
      .withColumn("y", (col("l_discount") < 0.05).cast("double"))
      .select(col("l_returnflag"), col("l_quantity").cast("double").as("x"), col("y"))
    val betas = GroupedGLM.fit(df, Seq("l_returnflag"), Seq("x"), "y",
      family = "binomial")
    Seq("response", "pearson", "deviance", "working").foreach { ty =>
      val grouped = GroupedGLM.residuals(betas, df, Seq("l_returnflag"),
        Seq("x"), "y", ty, family = "binomial", outputCol = "r")
        .groupBy("l_returnflag").agg(sum($"r" * $"r").as("ss"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      betas.select("l_returnflag").collect().map(_.getString(0)).foreach { g =>
        val sub = df.filter($"l_returnflag" === g)
        val single = GLM.fit(sub, Seq("x"), "y")
        val ssRef = single.residuals(sub, ty, outputCol = "r")
          .agg(sum($"r" * $"r")).head().getDouble(0)
        assert(math.abs(grouped(g) - ssRef) < 1e-6 * (1 + ssRef),
          s"$ty group $g: ${grouped(g)} vs $ssRef")
      }
    }
    // rows of an unknown group get NaN, not a silent drop
    val foreign = Seq(("Z", 1.0, 1.0)).toDF("l_returnflag", "x", "y")
    val rz = GroupedGLM.residuals(betas, foreign, Seq("l_returnflag"),
      Seq("x"), "y", "pearson", family = "binomial").head()
    assert(rz.getDouble(rz.fieldIndex("residual")).isNaN)
  }
}
