package graft.glm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultinomialSpec extends SparkSpec {
  import spark.implicits._

  // saturated design: one binary feature, three classes with known cell
  // proportions -> each OvR binomial fit recovers the cell proportions
  // exactly, and the normalized scores are those proportions rescaled
  private def cells = Seq(
    // (x, class, copies): x=0 cell is A-heavy, x=1 cell is C-heavy
    (0.0, "A", 6), (0.0, "B", 3), (0.0, "C", 1),
    (1.0, "A", 1), (1.0, "B", 4), (1.0, "C", 5)
  ).flatMap { case (x, c, n) => Seq.fill(n)((x, c)) }.toDF("x", "cls")

  test("fitOneVsRest recovers saturated cell proportions, normalized") {
    val m = Multinomial.fitOneVsRest(cells, Seq("x"), "cls")
    assert(m.classes === Seq("A", "B", "C"))
    val scored = m.predict(cells).select("x", "p_A", "p_B", "p_C", "predicted")
      .distinct().collect().map(r => r.getDouble(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getString(4))).toMap
    // x=0: raw probs 0.6/0.3/0.1 already sum to 1
    val (a0, b0, c0, p0) = scored(0.0)
    assert(math.abs(a0 - 0.6) < 1e-6 && math.abs(b0 - 0.3) < 1e-6 &&
      math.abs(c0 - 0.1) < 1e-6)
    assert(p0 === "A")
    val (a1, b1, c1, p1) = scored(1.0)
    assert(math.abs(a1 - 0.1) < 1e-6 && math.abs(b1 - 0.4) < 1e-6 &&
      math.abs(c1 - 0.5) < 1e-6)
    assert(p1 === "C")
  }

  test("predict: probabilities sum to 1 and ties break to the first class") {
    val m = Multinomial.fitOneVsRest(cells, Seq("x"), "cls")
    val sums = m.predict(cells)
      .select((col("p_A") + col("p_B") + col("p_C")).as("s"))
      .collect().map(_.getDouble(0))
    sums.foreach(s => assert(math.abs(s - 1.0) < 1e-12))
    // two-class perfect tie: balanced cells -> p = 0.5 each -> 'A' wins
    val tie = Seq((0.0, "A"), (1.0, "A"), (0.0, "B"), (1.0, "B"))
      .toDF("x", "cls")
    val mt = Multinomial.fitOneVsRest(tie, Seq("x"), "cls")
    assert(mt.predict(tie).select("predicted").head().getString(0) === "A")
  }

  test("fitOneVsRest rejects single-class targets") {
    val one = Seq((0.0, "A"), (1.0, "A")).toDF("x", "cls")
    intercept[IllegalArgumentException] {
      Multinomial.fitOneVsRest(one, Seq("x"), "cls")
    }
  }

  /** Independent driver-local softmax MLE by plain gradient ascent —
    * written directly from the log-likelihood, sharing no code with
    * fitSoftmax. beta layout: (K−1) × (1 + p), intercept first.
    */
  private def localSoftmax(rows: Seq[(Array[Double], Int)], k: Int,
      p: Int, iters: Int = 40000, lr: Double = 0.5): Array[Array[Double]] = {
    val b = Array.fill(k - 1)(Array.fill(p + 1)(0.0))
    for (_ <- 1 to iters) {
      val g = Array.fill(k - 1)(Array.fill(p + 1)(0.0))
      for ((x, y) <- rows) {
        val etas = b.map(bc => bc(0) + (0 until p).map(j =>
          bc(j + 1) * x(j)).sum)
        val mx = math.max(0.0, etas.max)
        val den = math.exp(-mx) + etas.map(e => math.exp(e - mx)).sum
        for (c <- 0 until k - 1) {
          val pc = math.exp(etas(c) - mx) / den
          val err = (if (y == c + 1) 1.0 else 0.0) - pc
          g(c)(0) += err
          for (j <- 0 until p) g(c)(j + 1) += err * x(j)
        }
      }
      for (c <- 0 until k - 1; j <- 0 to p) b(c)(j) += lr * g(c)(j) / rows.size
    }
    b
  }

  // strongly OVERLAPPING 3-class data (every cell hosts ≥ 2 classes):
  // separable data has no finite softmax MLE — β diverges and the BHHH
  // information goes singular, so the fixture must mix labels per cell
  private def softRows = Seq(
    (0.0, 0.0, "A"), (0.0, 0.0, "A"), (0.0, 0.0, "B"), (0.0, 0.0, "B"),
    (0.0, 0.0, "C"), (0.0, 1.0, "A"), (0.0, 1.0, "A"), (0.0, 1.0, "C"),
    (0.0, 1.0, "B"), (1.0, 0.0, "B"), (1.0, 0.0, "B"), (1.0, 0.0, "A"),
    (1.0, 0.0, "C"), (1.0, 1.0, "C"), (1.0, 1.0, "C"), (1.0, 1.0, "B"),
    (1.0, 1.0, "A"), (0.5, 0.5, "A"), (0.5, 0.5, "B"), (0.5, 0.5, "C"))

  test("fitSoftmax matches an independent local softmax MLE") {
    val df = softRows.toDF("x1", "x2", "cls")
    val m = Multinomial.fitSoftmax(df, Seq("x1", "x2"), "cls")
    val ref = localSoftmax(softRows.map { case (a, b, c) =>
      (Array(a, b), Seq("A", "B", "C").indexOf(c)) }, k = 3, p = 2)
    for (c <- 0 until 2; j <- 0 until 3)
      assert(math.abs(m.beta(c)(j) - ref(c)(j)) < 2e-3,
        s"beta($c)($j): ${m.beta(c)(j)} vs ${ref(c)(j)}")
    assert(m.loglik > m.nullLoglik)
    assert(m.classes === Seq("A", "B", "C"))
  }

  test("fitSoftmax with K = 2 equals the binomial logit GLM") {
    // overlapping x ranges (separable data diverges for both fitters)
    val rows = Seq((0.2, "no"), (0.5, "no"), (0.9, "no"), (1.4, "yes"),
      (0.7, "yes"), (1.1, "yes"), (0.4, "no"), (1.6, "yes"), (0.3, "yes"),
      (1.2, "no"))
    val df = rows.toDF("x", "cls")
    val sm = Multinomial.fitSoftmax(df, Seq("x"), "cls")
    // binomial y = 1[class = "yes"]; GLM fits its own intercept
    val bdf = df.withColumn("y", (col("cls") === "yes").cast("double"))
    val glm = GLM.fit(bdf, Seq("x"), "y", family = "binomial")
    assert(math.abs(sm.beta(0)(0) - glm.coefs(0)) < 1e-5,
      s"${sm.beta(0)(0)} vs ${glm.coefs(0)}")
    assert(math.abs(sm.beta(0)(1) - glm.coefs(1)) < 1e-5,
      s"${sm.beta(0)(1)} vs ${glm.coefs(1)}")
  }

  test("fitSoftmax predict: probabilities sum to 1, argmax consistent") {
    val df = softRows.toDF("x1", "x2", "cls")
    val m = Multinomial.fitSoftmax(df, Seq("x1", "x2"), "cls")
    val out = m.predict(df)
      .select((col("p_A") + col("p_B") + col("p_C")).as("s"),
        col("p_A"), col("p_B"), col("p_C"), col("predicted"))
      .collect()
    out.foreach { r =>
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
      val probs = Seq(r.getDouble(1), r.getDouble(2), r.getDouble(3))
      assert(probs(Seq("A", "B", "C").indexOf(r.getString(4))) ===
        probs.max)
    }
  }

  test("fitSoftmax is invariant to input partitioning") {
    val df = softRows.toDF("x1", "x2", "cls")
    val a = Multinomial.fitSoftmax(df, Seq("x1", "x2"), "cls")
    val b = Multinomial.fitSoftmax(df.repartition(7), Seq("x1", "x2"), "cls")
    for (c <- 0 until 2; j <- 0 until 3)
      assert(math.abs(a.beta(c)(j) - b.beta(c)(j)) < 1e-9)
  }

  test("a collapsed fitSoftmax is bit-identical whatever the input's row order and partitioning") {
    val df = softRows.toDF("x1", "x2", "cls")
    def bits(m: Multinomial.SoftmaxModel): Seq[Long] =
      (m.beta.flatten :+ m.loglik).map(java.lang.Double.doubleToRawLongBits).toSeq
    val a = bits(Multinomial.fitSoftmax(df, Seq("x1", "x2"), "cls"))
    assert(bits(Multinomial.fitSoftmax(df.repartition(7), Seq("x1", "x2"), "cls")) == a)
    assert(bits(Multinomial.fitSoftmax(df.orderBy(rand(7)), Seq("x1", "x2"), "cls")) == a)
  }
}
