package graft.glm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OrdinalSpec extends SparkSpec {
  import spark.implicits._

  // independent likelihood straight from the model definition
  private def localLl(rows: Seq[(Int, Double)], levels: Seq[Int],
      th: Array[Double], b: Double): Double = {
    def cdf(i: Int, x: Double): Double =
      if (i <= 0) 0.0
      else if (i >= levels.length) 1.0
      else 1.0 / (1.0 + math.exp(-(th(i - 1) - b * x)))
    rows.map { case (y, x) =>
      val i = levels.indexOf(y) + 1
      math.log(cdf(i, x) - cdf(i - 1, x))
    }.sum
  }

  // ordered outcome driven by x: larger x → higher category
  private def data3: Seq[(Int, Double)] = {
    val r = new scala.util.Random(7)
    (1 to 300).map { _ =>
      val x = r.nextDouble() * 4 - 2
      val star = 1.2 * x + 1.5 * r.nextGaussian()
      val y = if (star < -1) 1 else if (star < 1) 2 else 3
      (y, x)
    }
  }

  test("K = 2 reduces to binomial logistic (parity with GLM)") {
    val rows = data3.map { case (y, x) => (if (y >= 2) 2 else 1, x) }
    val df = rows.toDF("y", "x")
    val om = Ordinal.fit(df, "y", Seq("x"))
    // P(Y=2) = sigma(x*beta - theta): binomial on 1{Y=2} with intercept
    val bdf = df.select((col("y") === 2).cast("double").as("yy"),
      lit(1.0).as("one"), col("x"))
    val gm = GLM.fit(bdf, Seq("one", "x"), "yy", family = "binomial",
      intercept = false, tol = 1e-12)
    assert(math.abs(om.thresholds(0) - -gm.coefs(0)) < 1e-5,
      s"${om.thresholds(0)} vs ${-gm.coefs(0)}")
    assert(math.abs(om.beta(0) - gm.coefs(1)) < 1e-5,
      s"${om.beta(0)} vs ${gm.coefs(1)}")
  }

  test("K = 3 fit is a local maximum of the independent likelihood") {
    val df = data3.toDF("y", "x")
    val m = Ordinal.fit(df, "y", Seq("x"))
    assert(m.thresholds(0) < m.thresholds(1))
    assert(m.beta(0) > 0.5) // planted positive effect
    val ll0 = localLl(data3, m.levels, m.thresholds, m.beta(0))
    assert(math.abs(ll0 - m.loglik) < 1e-8) // same likelihood value
    val eps = 1e-3
    for (d <- Seq(-eps, eps)) {
      assert(localLl(data3, m.levels,
        Array(m.thresholds(0) + d, m.thresholds(1)), m.beta(0)) <= ll0 + 1e-9)
      assert(localLl(data3, m.levels,
        Array(m.thresholds(0), m.thresholds(1) + d), m.beta(0)) <= ll0 + 1e-9)
      assert(localLl(data3, m.levels, m.thresholds, m.beta(0) + d)
        <= ll0 + 1e-9)
    }
  }

  test("predict: probabilities sum to 1 and track x ordering") {
    val df = data3.toDF("y", "x")
    val m = Ordinal.fit(df, "y", Seq("x"))
    val scored = m.predict(df.select("x").distinct())
      .select(col("x"), col("probs"), col("prediction"))
      .collect()
    scored.foreach { r =>
      val p = r.getSeq[Double](1)
      assert(math.abs(p.sum - 1.0) < 1e-12)
      assert(p.forall(v => v >= 0 && v <= 1))
    }
    // extreme x lands in the extreme classes
    val lo = scored.minBy(_.getDouble(0))
    val hi = scored.maxBy(_.getDouble(0))
    assert(lo.getInt(2) === 1)
    assert(hi.getInt(2) === 3)
  }

  test("non-contiguous labels keep their raw values in predictions") {
    val rows = data3.map { case (y, x) => (y * 10, x) } // labels 10/20/30
    val m = Ordinal.fit(rows.toDF("y", "x"), "y", Seq("x"))
    assert(m.levels === Seq(10, 20, 30))
    val preds = m.predict(rows.toDF("y", "x")).select("prediction")
      .distinct().collect().map(_.getInt(0)).toSet
    assert(preds.subsetOf(Set(10, 20, 30)))
  }

  test("fit is invariant to input partitioning") {
    val df = data3.toDF("y", "x")
    val a = Ordinal.fit(df, "y", Seq("x"))
    val b = Ordinal.fit(df.repartition(9), "y", Seq("x"))
    assert(math.abs(a.beta(0) - b.beta(0)) < 1e-10)
    assert(math.abs(a.thresholds(0) - b.thresholds(0)) < 1e-10)
  }

  test("a collapsed fit is bit-identical whatever the input's row order and partitioning") {
    // 300 distinct (y, x) rows: a pattern table of count-1 rows
    val df = data3.toDF("y", "x")
    def bits(m: Ordinal.OrdinalModel): Seq[Long] =
      (m.thresholds ++ m.beta :+ m.loglik).map(java.lang.Double.doubleToRawLongBits).toSeq
    val a = bits(Ordinal.fit(df, "y", Seq("x")))
    assert(bits(Ordinal.fit(df.repartition(9), "y", Seq("x"))) == a)
    assert(bits(Ordinal.fit(df.orderBy(rand(7)), "y", Seq("x"))) == a)
  }
}
