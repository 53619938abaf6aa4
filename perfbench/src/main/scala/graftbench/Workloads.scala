package graftbench

import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.feature.RFormula
import org.apache.spark.ml.regression.GeneralizedLinearRegression
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.glm.{GLM, GLMModel, Gram, GroupedGLM, ModelMatrix}
import graft.ops.Graph

/** One workload: the timed op (a call into the library's public API, as a
  * user would make it, on inputs read from parquet), the untimed check of
  * every op's output against an answer computed independently, and the
  * direct layer calls a traced run times on the workload's inputs.
  */
abstract class Workload {
  type R
  /** Input rows (or edges) one op processes. */
  def units: Long
  /** Untimed: compute the reference answer the checks compare against. */
  def prepare(spark: SparkSession): Unit
  def op(spark: SparkSession): R
  /** None when the op's output is correct, else what was wrong. */
  def check(r: R): Option[String]
  /** Numbers the op's result reports about itself (iterations, p, …). */
  def info(r: R): Map[String, Double]
  /** Direct calls into single layers' public functions, by name; a traced
    * run times (and traces) each of them after its ops.
    */
  def direct(spark: SparkSession): Seq[(String, () => Any)] = Nil
}

/** A fitted coefficient vector (intercept first) with names, and its deviance. */
final case class Fit(names: Seq[String], coefs: Seq[Double], deviance: Double)

object Workloads {
  val Tol = 1e-6

  def apply(name: String, inputs: String, p: Map[String, String]): Workload = name match {
    case "glm_factor" => new GlmFactor(inputs, p("rows").toLong)
    case "graph_labelprop" => new GraphLabelProp(inputs, p("rounds").toInt, p("edges").toLong)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Spark MLlib's IRLS fit of a binomial GLM on `features` and `label` columns. */
  def mllib(df: DataFrame, link: String): Fit = {
    val m = new GeneralizedLinearRegression().setFamily("binomial").setLink(link)
      .setMaxIter(100).setTol(1e-12).setLabelCol("label").setFeaturesCol("features")
      .fit(df)
    val names = AttributeGroup.fromStructField(df.schema("features")).attributes
      .map(_.map(_.name.getOrElse("")).toSeq).getOrElse(Nil)
    Fit("(Intercept)" +: names, m.intercept +: m.coefficients.toArray.toSeq,
      m.summary.deviance)
  }

  /** Coefficients (matched by name) and deviance agree within [[Tol]]. */
  def compare(what: String, got: Fit, ref: Fit): Option[String] = {
    def close(a: Double, b: Double) = math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))
    val g = got.names.zip(got.coefs).toMap
    if (got.names.toSet != ref.names.toSet)
      Some(s"$what: coefficient names ${got.names.mkString(",")} vs ${ref.names.mkString(",")}")
    else ref.names.zip(ref.coefs).collectFirst {
      case (n, b) if !close(g(n), b) => s"$what: $n = ${g(n)}, reference $b"
    }.orElse(
      if (close(got.deviance, ref.deviance)) None
      else Some(s"$what: deviance ${got.deviance}, reference ${ref.deviance}"))
  }

  def fitOf(m: GLMModel): Fit = Fit(m.xnames.toSeq, m.coefs.toArray.toSeq, m.deviance)
}

import Workloads._

/** `GLM.fitFormula` on a discrete design: three string factors and a
  * four-valued numeric, so the sufficient-statistics collapse applies.
  */
final class GlmFactor(inputs: String, rows: Long) extends Workload {
  type R = GLMModel
  private val path = s"$inputs/factor.parquet"
  private val formula = "y ~ a + b + c + d"
  private val factors = Seq("a", "b", "c")
  private var ref: Fit = _
  def units: Long = rows
  def prepare(spark: SparkSession): Unit = {
    // alphabetDesc puts the alphabetically first level last, and RFormula
    // drops the last level: the same baseline as R and ModelMatrix
    val rf = new RFormula().setFormula(formula).setStringIndexerOrderType("alphabetDesc")
      .setFeaturesCol("features").setLabelCol("label")
    val df = spark.read.parquet(path)
    ref = mllib(rf.fit(df).transform(df), "logit")
  }
  def op(spark: SparkSession): GLMModel =
    GLM.fitFormula(spark.read.parquet(path), formula)
  def check(m: GLMModel): Option[String] = compare("glm_factor", fitOf(m), ref)
  def info(m: GLMModel): Map[String, Double] = Map("iters" -> m.iter, "p" -> m.p)
  /** The design layer's level scan; one Gram pass over the encoded
    * design; and `GroupedGLM.fit` by factor `a` with both of its Gram
    * paths: logit (native expressions) and probit (the `GlmGramAgg`
    * aggregator).
    */
  override def direct(spark: SparkSession): Seq[(String, () => Any)] = {
    val df = spark.read.parquet(path)
    val lv = ModelMatrix.levels(df, factors)
    val xs = lit(1.0) +: (factors.flatMap(c => ModelMatrix.dummyColumns(c, lv(c))) :+ col("d"))
    def grouped(link: String) =
      () => GroupedGLM.fit(df, Seq("a"), Seq("d"), "y", linkName = link).collect()
    Seq("design.levels" -> (() => ModelMatrix.levels(df, factors)),
      "gram.pass" -> (() => Gram.normal(df, xs, col("y"))),
      "grouped.native" -> grouped("logit"),
      "grouped.udaf" -> grouped("probit"))
  }
}

/** `Graph.labelPropagation` on a directed edge list with string node ids,
  * result written to the `noop` sink.
  */
final class GraphLabelProp(inputs: String, rounds: Int, edges: Long) extends Workload {
  type R = DataFrame
  private val path = s"$inputs/edges.parquet"
  private var ref: Map[String, String] = _
  def units: Long = edges
  def prepare(spark: SparkSession): Unit = {
    val e = spark.read.parquet(path).collect().map(r => (r.getString(0), r.getString(1)))
    ref = GraphLabelProp.lpa(e, rounds)
  }
  def op(spark: SparkSession): DataFrame = {
    val out = Graph.labelPropagation(spark.read.parquet(path), rounds)
    out.write.format("noop").mode("overwrite").save()
    out
  }
  def check(out: DataFrame): Option[String] = {
    val got = out.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    if (got.size != ref.size) Some(s"graph_labelprop: ${got.size} nodes, reference ${ref.size}")
    else ref.collectFirst { case (u, l) if !got.get(u).contains(l) =>
      s"graph_labelprop: node $u label ${got.getOrElse(u, "<missing>")}, reference $l"
    }
  }
  def info(out: DataFrame): Map[String, Double] = Map.empty
}

object GraphLabelProp {
  /** Plain synchronous label propagation on the driver: every node starts
    * with its own id; each round a node with out-edges adopts the most
    * frequent label among its (distinct) out-neighbours, ties to the
    * smallest label; nodes without out-edges keep theirs.
    */
  def lpa(edges: Seq[(String, String)], rounds: Int): Map[String, String] = {
    val adj = edges.distinct.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    var label = edges.flatMap { case (u, v) => Seq(u, v) }.distinct.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val prev = label
      label = prev.map { case (u, own) =>
        adj.get(u) match {
          case None => u -> own
          case Some(vs) =>
            val counts = vs.groupBy(prev).map { case (l, ls) => l -> ls.size }
            u -> counts.minBy { case (l, n) => (-n, l) }._1
        }
      }
    }
    label
  }
}
