package graft.glm

import graft.SparkSpec
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Exp
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** `Gram.normal`'s expression path projects y, w and every x once per row
  * and sums products of the projected columns: the weight tree appears once
  * in the plan instead of once per sum (p(p+1)/2 + p + 2 copies), the pass
  * stays one aggregation, and the sums are bit-identical to summing over a
  * frame that materialized the weight first. The packed loop, on the
  * driver over collected rows or per partition on the wide path, sums the
  * same terms bit for bit.
  */
class GramSpec extends SparkSpec {

  /** Deterministic doubles from a range; `parts` = 1 fixes the summation
    * order, so two plans over the same rows can be compared bit for bit.
    */
  private def frame(parts: Int): DataFrame =
    spark.range(0, 2000, 1, parts).select(
      col("id"),
      sin(col("id") * 0.7).as("a"),
      cos(col("id") * 1.3).as("b"),
      (col("id") % 17).cast("double").as("c"))

  private val xs: Seq[Column] = Seq(lit(1.0), col("a"), col("b"), col("a") * col("c"))
  private val y: Column = col("c") + col("b") * 0.5
  /** A weight whose only `exp` marks it in a plan (IRLS weights are trees
    * of this kind over η, μ and the link derivative).
    */
  private val wExpr: Column = exp(col("a") * 0.37) / (lit(1.0) + col("b") * col("b"))
  /** Per-row terms summed in the same pass. */
  private val extras: Seq[Column] = Seq(col("a") * col("c"), col("b"))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)

  private def assertBitEqual(g: Normal, h: Normal): Unit = {
    assert(g.p == h.p)
    for (i <- 0 until g.p; j <- 0 until g.p)
      assert(bits(g.xtx(i, j)) == bits(h.xtx(i, j)), s"xtx($i,$j): ${g.xtx(i, j)} vs ${h.xtx(i, j)}")
    for (i <- 0 until g.p) assert(bits(g.xty(i)) == bits(h.xty(i)), s"xty($i)")
    assert(bits(g.yty) == bits(h.yty))
    assert(bits(g.ySum) == bits(h.ySum))
    assert(bits(g.wSum) == bits(h.wSum))
    assert(g.n == h.n)
    assert(g.extras.map(bits).toSeq == h.extras.map(bits).toSeq)
  }

  /** Runs `f` and returns the jobs it started and the query executions of
    * its actions.
    */
  private def observe(f: => Unit): (Int, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val jl = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val ql = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = qes.add(qe)
      override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestBus.drain(sc)
    sc.addSparkListener(jl)
    spark.listenerManager.register(ql)
    try { f; TestBus.drain(sc) }
    finally { sc.removeSparkListener(jl); spark.listenerManager.unregister(ql) }
    import scala.jdk.CollectionConverters._
    (jobs.get, qes.asScala.toSeq)
  }

  private def expCount(node: LogicalPlan): Int =
    node.expressions.map(_.collect { case e: Exp => e }.size).sum

  test("the weight expression is projected once below the aggregate; one pass") {
    val df = frame(parts = 4)
    val (jobs, qes) = observe(Gram.normal(df, xs, y, wExpr, extras))
    // one pass = one action with the job count of any single global
    // aggregate (under AQE its partial-aggregate stage runs as a job of
    // its own)
    val (aggJobs, _) = observe(df.agg(sum(col("a"))).head())
    assert(qes.size == 1, s"Gram.normal ran ${qes.size} actions")
    assert(jobs == aggJobs, s"Gram.normal ran $jobs jobs, a single aggregate $aggJobs")
    val plan = qes.head.optimizedPlan
    val withExp = plan.collect { case n if expCount(n) > 0 => n }
    assert(withExp.size == 1 && expCount(withExp.head) == 1,
      s"weight expression should appear exactly once:\n$plan")
    assert(withExp.head.isInstanceOf[Project], s"not a Project:\n$plan")
    val agg = plan.collectFirst { case a: Aggregate => a }
    assert(agg.exists(_.find(_ eq withExp.head).isDefined),
      s"the projection is not below the aggregate:\n$plan")
  }

  test("sums are bit-identical to summing over a materialized weight column") {
    val df = frame(parts = 1)
    val g = Gram.normal(df, xs, y, wExpr, extras)
    val h = Gram.normal(df.withColumn("w", wExpr), xs, y, col("w"), extras)
    assertBitEqual(g, h)
  }

  test("frame columns named like the internal columns change nothing") {
    val df = frame(parts = 1)
    // occupy the internal names (in either case) and a longer prefix, with
    // junk values that would show in any sum that picked them up
    val crowded = df
      .withColumn("_gram_w", lit(1e6)).withColumn("_GRAM_y", lit(-3.0))
      .withColumn("_gram_x0", lit(7.0)).withColumn("__gram_x1", col("c") * 11.0)
      .withColumn("w", wExpr)
    val ex = extras :+ col("_gram_w")
    val g = Gram.normal(crowded, xs, y, wExpr, ex)
    val h = Gram.normal(df.withColumn("w", wExpr), xs, y, col("w"), extras)
    assertBitEqual(g.copy(extras = g.extras.init), h)
    // an extra over a frame column still reads that column
    assert(g.extras.last == 2000 * 1e6)
  }

  test("over rows collected to the driver the sums are bit-identical and no job runs") {
    val df = frame(parts = 1)
    val rows = DriverRows.collect(df, SuffStats.CollapseMax).get
    var g: Normal = null
    val (jobs, qes) = observe { g = Gram.normal(rows, xs, y, wExpr, extras) }
    assert(jobs == 0 && qes.isEmpty, s"$jobs jobs, ${qes.size} actions")
    assertBitEqual(g, Gram.normal(df, xs, y, wExpr, extras))
    // a frame above the bound is not collected
    assert(DriverRows.collect(df, 1999).isEmpty)
  }

  test("the wide path sums its extras in its one pass, as the driver loop does") {
    val df = frame(parts = 1)
    val wide = (0 until Gram.maxExprWidth + 2).map(k => sin(col("id") * (0.1 + 0.01 * k)))
    val (jobs, _) = observe(Gram.normal(df, wide, y, wExpr))
    var g: Normal = null
    val (jobsEx, _) = observe { g = Gram.normal(df, wide, y, wExpr, extras) }
    assert(jobsEx == jobs, s"extras added ${jobsEx - jobs} jobs")
    assertBitEqual(g, Gram.normal(DriverRows.collect(df, SuffStats.CollapseMax).get,
      wide, y, wExpr, extras))
  }
}
