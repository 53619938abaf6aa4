package graft.glm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

/** Data-prep transforms that turn an arbitrary DataFrame into an all-double
  * model matrix.
  *
  * Semantics follow the reference (reference: modelMatrix.scala:18-85,
  * utils.scala:21-33, R/pkg/R/utils.R:24-27):
  *
  *  - every `StringType` column becomes k−1 dummy 0/1 columns, one per
  *    distinct level in **lexicographic** order with the first level dropped
  *    as the baseline, named `{col}_{level}` (reference: modelMatrix.scala:56-58
  *    sorts levels and drops the head — NOT MLlib's frequency order);
  *  - all other columns are cast to double, names preserved
  *    (reference: modelMatrix.scala:79-85 `castAll`);
  *  - `matchCols` aligns a scoring DataFrame with the training columns by
  *    adding any missing column as constant 0.0 (reference: utils.scala:21-33),
  *    and additionally reorders to the training order;
  *  - `naDrop` drops rows with any null (reference: R/pkg/R/utils.R:24-27).
  *
  * Scale notes: level discovery is two aggregations over all string
  * columns at once (a `countDistinct` guard, then `collect_set` per column),
  * unlike the reference's one `distinct().collect()` job per column
  * (reference: modelMatrix.scala:56-58). Under AQE each aggregation's
  * shuffle stages run as jobs of their own: 5 jobs in a traced `glm_factor`
  * op (100k rows, 3 string columns). Only the level values (small, by the
  * definition of a categorical column) reach the driver. `GLM.fitFormula`
  * skips the scan on a discrete input: it reads the levels from the pattern
  * rows it already holds, in the same order ([[levelOrder]]). The encoding
  * itself is a pure projection — codegen'd, no shuffle, safe at any scale.
  */
object ModelMatrix {

  /** Cardinality ceiling for a column to count as categorical: beyond this,
    * `levels` fails fast instead of collecting an id-like column's entire
    * value set into one driver row (and k−1 of everything as dummy columns).
    */
  val maxLevels = 10000

  /** Distinct values of each given column, sorted ascending.
    *
    * Two jobs by design: a cheap `countDistinct` guard pass first (partial-
    * aggregated, bounded memory) so a high-cardinality column — an id
    * mistaken for a categorical — fails fast BY NAME before any
    * `collect_set` buffer is ever built on the executors or the driver.
    */
  def levels(df: DataFrame, cols: Seq[String]): Map[String, Array[String]] = {
    if (cols.isEmpty) return Map.empty
    val counts = df.agg(
      countDistinct(col(cols.head)).as(cols.head),
      cols.tail.map(c => countDistinct(col(c)).as(c)): _*
    ).head()
    cols.zipWithIndex.foreach { case (c, i) =>
      require(counts.getLong(i) <= maxLevels,
        s"column '$c' has ${counts.getLong(i)} distinct values (max $maxLevels " +
          "for categorical encoding) — is it an id rather than a categorical?")
    }
    val row = df.agg(
      collect_set(col(cols.head)).as(cols.head),
      cols.tail.map(c => collect_set(col(c)).as(c)): _*
    ).head()
    cols.zipWithIndex.map { case (c, i) => c -> levelOrder(row.getSeq[String](i)) }.toMap
  }

  /** A column's levels from its values: distinct, sorted ascending. */
  private[glm] def levelOrder(values: Seq[String]): Array[String] = values.distinct.toArray.sorted

  /** Dummy columns for one string column: k−1 indicator columns, first
    * (lexicographically smallest) level is the baseline.
    */
  def dummyColumns(c: String, lvls: Array[String]): Seq[Column] =
    lvls.drop(1).toSeq.map { lvl =>
      when(col(c) === lit(lvl), 1.0).otherwise(0.0).as(s"${c}_$lvl")
    }

  /** Encode `df` into an all-double model matrix (see object doc). */
  def encode(df: DataFrame): DataFrame = {
    val stringCols = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val lv = levels(df, stringCols.toSeq)
    val out: Seq[Column] = df.schema.fields.toSeq.flatMap { f =>
      if (f.dataType == StringType) dummyColumns(f.name, lv(f.name))
      else Seq(col(f.name).cast(DoubleType).as(f.name))
    }
    df.select(out: _*)
  }

  /** Encoded feature columns for formula terms, interactions included.
    *
    * Each term component expands to its encoded columns — a numeric column
    * to itself (cast double), a categorical (one with an entry in `lv`) to
    * its k−1 dummies — and an interaction term (`"a:b"`) to the CROSS
    * PRODUCT of its components' encoded columns, one column per
    * combination, value = product, name = the component column names
    * joined with `:` (R's convention under treatment coding: with main
    * effects present, numeric×numeric is one product column,
    * numeric×factor is k−1 `x:f_lvl` columns, factor×factor is
    * (k−1)(m−1) columns). Pure projection — codegen'd, no shuffle.
    *
    * @return (name, aliased column) per encoded feature, in term order
    */
  def termColumns(terms: Seq[String],
      lv: Map[String, Array[String]]): Seq[(String, Column)] =
    terms.flatMap { t =>
      val parts: Seq[Seq[(String, Column)]] = Formula.components(t).map { c =>
        if (lv.contains(c))
          lv(c).drop(1).toSeq.map(l =>
            (s"${c}_$l", when(col(c) === lit(l), 1.0).otherwise(0.0)))
        else if (Formula.isTransform(c))
          Seq((c, FormulaExpr.column(c).cast(DoubleType)))
        else Seq((c, col(c).cast(DoubleType)))
      }
      parts.reduceLeft { (acc, nxt) =>
        for ((an, ac) <- acc; (bn, bc) <- nxt) yield (s"$an:$bn", ac * bc)
      }
    }.map { case (n, c) => (n, c.as(n)) }

  /** Cast every column of `df` to double, preserving names. */
  def castAll(df: DataFrame): DataFrame =
    df.select(df.columns.toSeq.map(c => col(c).cast(DoubleType).as(c)): _*)

  /** Align a scoring DataFrame with training columns: add missing columns as
    * 0.0 and reorder to `xnames`; columns not in `xnames` are kept after.
    */
  def matchCols(xnames: Seq[String], df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    val aligned = xnames.map { n =>
      if (present(n)) col(n).cast(DoubleType).as(n) else lit(0.0).as(n)
    }
    val rest = df.columns.toSeq.filterNot(xnames.contains).map(col)
    df.select(aligned ++ rest: _*)
  }

  /** Drop rows containing any null. */
  def naDrop(df: DataFrame): DataFrame = df.na.drop("any")
}
