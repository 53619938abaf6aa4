package graft.glm

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Weighted normal-equation components:
  *
  *   XᵀWX (p×p), XᵀWy (p), yᵀWy, Σwy, Σw, n
  *
  * This is the distributed-linear-algebra kernel of the engine — the analog
  * of the reference's per-partition outer products + treeReduce
  * (reference: LM.scala:141-155 `rowPartitionedComponents`,
  * utils.scala:83-100 `wlsComponents`, utils.scala:58-64 `reduceNormal`).
  *
  * Spark-first design: instead of dropping to RDDs, the Gram matrix is
  * expressed as p(p+1)/2 + p + 3 plain `sum(...)` aggregates over products of
  * columns, evaluated in ONE `df.agg(...)` pass. Catalyst gives partial
  * (map-side) aggregation and whole-stage codegen for free, the shuffle
  * payload is p²-sized (never data-sized), and only O(p²) doubles reach the
  * driver — the same network profile as the reference's treeReduce, minus the
  * row→Breeze copy and with codegen'd inner loops.
  *
  * Each input is evaluated once per row: one `select` first projects y, w
  * and every x into internal columns, then the sums multiply those column
  * references. Summing the caller's expressions directly would copy each
  * tree into every sum that uses it — an IRLS weight (η over p literal
  * terms, the μ clamp, the link derivative, the variance) into
  * p(p+1)/2 + p + 2 aggregates — and Catalyst re-analyzes, re-optimizes
  * and re-compiles that plan on every iteration. The projection survives
  * optimization (CollapseProject does not inline a non-cheap expression
  * referenced more than once) and adds no job. Measured on a binomial
  * p = 10 fit over 384 collapsed pattern rows (4 cores): optimizer time
  * per pass 250–410 ms → 25–45 ms, driver time between consecutive Gram
  * jobs 1.4–2.1 s → 0.2–0.3 s. The row arithmetic is unchanged, so every
  * sum is bit-identical.
  *
  * For very wide feature matrices (p > `maxExprWidth`) the expression count
  * would bloat codegen, so we fall back to an equivalent single-pass
  * `treeAggregate` over packed double arrays (still p²-sized payloads,
  * log-depth reduction — the reference's exact network shape,
  * reference: LM.scala:150-152).
  */
final case class Normal(
    p: Int,
    xtx: BDM[Double],
    xty: BDV[Double],
    yty: Double,
    ySum: Double,
    wSum: Double,
    n: Long,
    extras: Array[Double])

object Gram {

  /** Widest p taking the expression (codegen) path; above it the packed
    * `treeAggregate` runs instead. At p = 64 the p(p+1)/2 + p + 4 ≈ 2148
    * sum expressions overflow janino's 64 KB method limit — the agg then
    * SILENTLY falls back to interpreted per-expression eval (observed:
    * "Code grows beyond 64 KB" on the q101 embedding Gram), which is the
    * wrong trade at scale. 32 (≈ 564 exprs) compiles comfortably and
    * measures identical to the fallback at bench SF, without the
    * ERROR-level noise or the interpreted hot path.
    */
  val maxExprWidth = 32

  /** Upper-triangular packed index for (i,j), i <= j. */
  @inline private def utIndex(i: Int, j: Int, p: Int): Int = i * p - i * (i - 1) / 2 + (j - i)

  /** One-pass normal equations over arbitrary column expressions.
    *
    * @param xs     feature column expressions (already double)
    * @param y      response expression
    * @param w      weight expression (defaults to 1.0)
    * @param extras additional aggregate expressions evaluated in the same
    *               pass (e.g. a deviance sum inside the IRLS loop) — each
    *               must be a single aggregate returning a double
    */
  def normal(
      df: DataFrame,
      xs: Seq[Column],
      y: Column,
      w: Column = lit(1.0),
      extras: Seq[Column] = Nil): Normal = {
    val p = xs.size
    require(p > 0, "at least one feature column required")
    if (p > maxExprWidth) {
      // wide path: the Gram goes through packed treeAggregate buffers;
      // extras (e.g. the IRLS deviance sum) run as one additional tiny agg
      // job — two jobs instead of one, only above the expression-width cap
      val g = normalWide(df, xs, y, w)
      if (extras.isEmpty) return g
      val row = df.agg(extras.head, extras.tail: _*).head()
      val ex = Array.tabulate(extras.size)(k => row.get(k) match {
        case null      => 0.0
        case x: Double => x
        case x: Number => x.doubleValue()
      })
      return g.copy(extras = ex)
    }

    // project the inputs once (see the object doc); df's own columns ride
    // along so `extras` still resolve, and the internal names take a
    // prefix no column of df starts with, so they can neither collide nor
    // shadow
    val taken = df.columns.map(_.toLowerCase(java.util.Locale.ROOT))
    var prefix = "_gram"
    while (taken.exists(_.startsWith(prefix))) prefix = "_" + prefix
    val xNames = (0 until p).map(i => s"${prefix}_x$i")
    val (yName, wName) = (s"${prefix}_y", s"${prefix}_w")
    val rows = df.select(Seq(col("*"), y.as(yName), w.as(wName)) ++
      xs.zip(xNames).map { case (c, nm) => c.as(nm) }: _*)
    val (xc, yc, wc) = (xNames.map(col), col(yName), col(wName))

    val upper = for { i <- 0 until p; j <- i until p }
      yield sum(wc * xc(i) * xc(j)).as(s"g_${i}_$j")
    val moment = (0 until p).map(i => sum(wc * xc(i) * yc).as(s"v_$i"))
    val scalars = Seq(
      sum(wc * yc * yc).as("yty"),
      sum(wc * yc).as("y_sum"),
      sum(wc).as("w_sum"),
      count(lit(1)).as("n"))
    val all = upper ++ moment ++ scalars ++ extras
    val row = rows.agg(all.head, all.tail: _*).head()

    unpack(row, p, extras.size)
  }

  private def unpack(row: Row, p: Int, nExtras: Int): Normal = {
    val nUpper = p * (p + 1) / 2
    def d(i: Int): Double = row.get(i) match {
      case null      => 0.0
      case x: Double => x
      case x: Number => x.doubleValue()
    }
    val xtx = BDM.zeros[Double](p, p)
    for (i <- 0 until p; j <- i until p) {
      val v = d(utIndex(i, j, p))
      xtx(i, j) = v
      xtx(j, i) = v
    }
    val xty = BDV.tabulate(p)(i => d(nUpper + i))
    val base = nUpper + p
    val extras = Array.tabulate(nExtras)(k => d(base + 4 + k))
    Normal(p, xtx, xty, d(base), d(base + 1), d(base + 2), row.getLong(base + 3), extras)
  }

  /** Wide-p path: single-pass `treeAggregate` over packed buffers.
    * Buffer layout: [upper-tri xtx (p(p+1)/2) | xty (p) | yty, ySum, wSum, n].
    */
  private def normalWide(df: DataFrame, xs: Seq[Column], y: Column, w: Column): Normal = {
    val p = xs.size
    val nUpper = p * (p + 1) / 2
    val len = nUpper + p + 4
    val rows = df.select(array(xs.map(_.cast("double")): _*).as("x"),
      y.cast("double").as("y"), w.cast("double").as("w"))

    val agg = rows.queryExecution.toRdd
      .mapPartitions { it =>
        val buf = new Array[Double](len)
        val xArr = new Array[Double](p)
        while (it.hasNext) {
          val r = it.next()
          val xd = r.getArray(0)
          var i = 0
          while (i < p) { xArr(i) = xd.getDouble(i); i += 1 }
          val yv = r.getDouble(1)
          val wv = r.getDouble(2)
          i = 0
          var k = 0
          while (i < p) {
            val wxi = wv * xArr(i)
            var j = i
            while (j < p) { buf(k) += wxi * xArr(j); k += 1; j += 1 }
            buf(nUpper + i) += wxi * yv
            i += 1
          }
          buf(nUpper + p) += wv * yv * yv
          buf(nUpper + p + 1) += wv * yv
          buf(nUpper + p + 2) += wv
          buf(nUpper + p + 3) += 1.0
        }
        Iterator.single(buf)
      }
      .treeAggregate(new Array[Double](len))(
        seqOp = (a, b) => { var i = 0; while (i < len) { a(i) += b(i); i += 1 }; a },
        combOp = (a, b) => { var i = 0; while (i < len) { a(i) += b(i); i += 1 }; a })

    val xtx = BDM.zeros[Double](p, p)
    for (i <- 0 until p; j <- i until p) {
      val v = agg(utIndex(i, j, p))
      xtx(i, j) = v
      xtx(j, i) = v
    }
    val xty = BDV.tabulate(p)(i => agg(nUpper + i))
    Normal(p, xtx, xty, agg(nUpper + p), agg(nUpper + p + 1), agg(nUpper + p + 2),
      agg(nUpper + p + 3).toLong, Array.empty)
  }
}
