package graft.glm

import breeze.linalg.{DenseMatrix => BDM, DenseVector => BDV}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, AttributeSeq, BindReferences, BoundReference, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{GenerateOrdering, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

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
  *
  * A model-sized frame already collected to the driver ([[DriverRows]])
  * takes the same packed loop with no Spark job at all — the analog of the
  * reference's local-Breeze fit of single-partition data
  * (reference: GLM.scala:254-315 `fitSingleBinomial`). One Spark action
  * on a one-partition frame costs ~0.25 s of fixed driver and scheduler
  * time whatever its size, so over a few thousand pattern rows the pass
  * IS that cost. The loop's arithmetic is the expression path's term for
  * term (`(w·xᵢ)·xⱼ`, summed from 0.0 in row order), so on rows collected
  * in the order one task would scan them every sum is bit-identical.
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
    * @param extras per-row double terms summed in the same pass (e.g. the
    *               IRLS deviance contributions); their sums come back in
    *               [[Normal.extras]]
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
      // wide path: one treeAggregate of the packed buffers, extras included
      val nExtras = extras.size
      val len = bufferLength(p, nExtras)
      val buf = df.select(packedCols(xs, y, w, extras): _*).queryExecution.toRdd
        .mapPartitions(it => Iterator.single(Gram.accumulate(it, p, nExtras)))
        .treeAggregate(new Array[Double](len))(
          seqOp = (a, b) => { var i = 0; while (i < len) { a(i) += b(i); i += 1 }; a },
          combOp = (a, b) => { var i = 0; while (i < len) { a(i) += b(i); i += 1 }; a })
      return fromBuffer(buf, p, nExtras)
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
    val all = upper ++ moment ++ scalars ++ extras.map(sum)
    val row = rows.agg(all.head, all.tail: _*).head()
    fromBuffer(Array.tabulate(row.length)(i => row.get(i) match {
      case null      => 0.0
      case x: Double => x
      case x: Number => x.doubleValue()
    }), p, extras.size)
  }

  /** The same normal equations over a frame held on the driver: one
    * generated projection of x…, y, w and the extras per row, summed by
    * the packed loop in row order. No Spark job runs.
    */
  private[glm] def normal(
      rows: DriverRows,
      xs: Seq[Column],
      y: Column,
      w: Column,
      extras: Seq[Column]): Normal = {
    val p = xs.size
    require(p > 0, "at least one feature column required")
    fromBuffer(accumulate(rows.project(packedCols(xs, y, w, extras)), p, extras.size),
      p, extras.size)
  }

  /** Buffer layout: [upper-tri xtx (p(p+1)/2) | xty (p) | yty, ySum, wSum, n | extras]. */
  private def bufferLength(p: Int, nExtras: Int): Int = p * (p + 1) / 2 + p + 4 + nExtras

  /** The packed loop's input row: x…, y, w, then the extras, as doubles. */
  private def packedCols(xs: Seq[Column], y: Column, w: Column, extras: Seq[Column]): Seq[Column] =
    (xs ++ Seq(y, w) ++ extras).map(_.cast("double"))

  /** Sums the normal-equation terms of `packedCols` rows into a fresh
    * buffer, from 0.0 in row order — each slot the exact sequence of
    * additions Spark's `sum` makes over the same rows. A null input reads
    * as 0.0, so a term it nulls adds 0.0 (given finite co-factors) where
    * `sum` would skip it.
    */
  private def accumulate(it: Iterator[InternalRow], p: Int, nExtras: Int): Array[Double] = {
    val nUpper = p * (p + 1) / 2
    val base = nUpper + p
    val buf = new Array[Double](bufferLength(p, nExtras))
    val xArr = new Array[Double](p)
    while (it.hasNext) {
      val r = it.next()
      var i = 0
      while (i < p) { xArr(i) = r.getDouble(i); i += 1 }
      val yv = r.getDouble(p)
      val wv = r.getDouble(p + 1)
      i = 0
      var k = 0
      while (i < p) {
        val wxi = wv * xArr(i)
        var j = i
        while (j < p) { buf(k) += wxi * xArr(j); k += 1; j += 1 }
        buf(nUpper + i) += wxi * yv
        i += 1
      }
      buf(base) += wv * yv * yv
      buf(base + 1) += wv * yv
      buf(base + 2) += wv
      buf(base + 3) += 1.0
      k = 0
      while (k < nExtras) { buf(base + 4 + k) += r.getDouble(p + 2 + k); k += 1 }
    }
    buf
  }

  private def fromBuffer(buf: Array[Double], p: Int, nExtras: Int): Normal = {
    val nUpper = p * (p + 1) / 2
    val base = nUpper + p
    val xtx = BDM.zeros[Double](p, p)
    for (i <- 0 until p; j <- i until p) {
      val v = buf(utIndex(i, j, p))
      xtx(i, j) = v
      xtx(j, i) = v
    }
    Normal(p, xtx, BDV.tabulate(p)(i => buf(nUpper + i)), buf(base), buf(base + 1),
      buf(base + 2), buf(base + 3).toLong, Array.tabulate(nExtras)(k => buf(base + 4 + k)))
  }
}

/** A model-sized frame brought to the driver once, so that every later
  * pass over it runs there with no Spark job (see [[Gram]]). Column
  * expressions are resolved against the frame's own plan and evaluated by
  * one generated projection per pass: the same expressions a distributed
  * pass would run, so no family or link needs a scalar twin, and the same
  * generated arithmetic (interpreted `eval` can differ from generated code
  * in the last bit: `Exp` calls `StrictMath.exp` there and `Math.exp` in
  * generated code). The plan is analyzed, not optimized, so a constant
  * subtree is computed by the generated code instead of folded through
  * `eval`; the two agree where such a subtree is plain arithmetic or calls
  * one function from both (negbin's `lgamma(θ)`), as in every family and
  * link here. Rows are visited in the order they were found (for
  * [[DriverRows.collect]] of a one-partition frame, the order its one task
  * scans) until [[sorted]] puts them in the order of their values.
  */
private[glm] final class DriverRows private[glm] (frame: DataFrame, rows: Array[InternalRow]) {

  /** `cols` evaluated per row, in row order; the returned row object is
    * reused, so read each one before advancing.
    */
  def project(cols: Seq[Column]): Iterator[InternalRow] =
    rows.iterator.map(projection(frame.select(cols: _*)))

  /** `cols` evaluated per row as new driver rows: a generated projection,
    * no Spark job (a select over a `LocalRelation` would fold through
    * interpreted `eval`).
    */
  def select(cols: Seq[Column]): DriverRows = {
    val sel = frame.select(cols: _*)
    val proj = projection(sel)
    new DriverRows(sel, rows.map(r => proj(r).copy(): InternalRow))
  }

  /** The rows in ascending order of all their columns, by a generated
    * ordering: sums over them no longer depend on how the rows were found
    * (partitioning, input order, hash order).
    */
  def sorted: DriverRows = {
    val ord = GenerateOrdering.generate(frame.schema.fields.toSeq.zipWithIndex.map {
      case (f, i) => SortOrder(BoundReference(i, f.dataType, nullable = true), Ascending)
    })
    new DriverRows(frame, rows.sorted(ord))
  }

  /** Σ of each per-row double term, from 0.0 in row order (a null term
    * adds nothing) — Spark's `sum` over the same rows, bit for bit.
    */
  def sums(terms: Seq[Column]): Array[Double] = {
    val acc = new Array[Double](terms.size)
    project(terms.map(_.cast("double"))).foreach { r =>
      var k = 0
      while (k < acc.length) { acc(k) += r.getDouble(k); k += 1 }
    }
    acc
  }

  /** The generated projection of a select over `frame`. */
  private def projection(sel: DataFrame): UnsafeProjection = sel.queryExecution.analyzed match {
    case Project(list, child) =>
      GenerateUnsafeProjection.generate(
        BindReferences.bindReferences(list, AttributeSeq(child.output)),
        SQLConf.get.subexpressionEliminationEnabled)
    case other => throw new IllegalStateException(s"not a projection:\n$other")
  }
}

private[glm] object DriverRows {

  /** `df`'s rows on the driver when it has at most `max` of them (one
    * bounded collect, in partition order); None when it has more.
    */
  def collect(df: DataFrame, max: Int): Option[DriverRows] = {
    val got = df.limit(max + 1).collect()
    if (got.length > max) None
    else {
      val toCatalyst = CatalystTypeConverters.createToCatalystConverter(df.schema)
      Some(new DriverRows(df, got.map(r => toCatalyst(r).asInstanceOf[InternalRow])))
    }
  }
}
