package graft.glm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Sufficient-statistics collapse for iterative fits (guide §1.2 "fewer
  * passes", §2.3 "aggregate before you shuffle" — the r14 q300 discipline
  * generalized): every IRLS/Newton/EM aggregate in this package is a sum
  * of per-row terms that depend on the data ONLY through the working
  * tuple (x…, y, m, off, w), so on a DISCRETE design (saturated
  * contrasts, binned covariates, label×flag grids) the grouped
  * (tuple → count) table is a complete sufficient statistic: every
  * subsequent pass — at ANY input scale — runs over at most
  * `CollapseMax` pattern rows with the count as a replication weight.
  *
  * Two entry points build that table:
  *
  *  - [[patterns]] brings it to the driver in one [[graft.BoundedScan]].
  *    At most one task per core (the partitions coalesced, no shuffle)
  *    hash-counts its rows by their bytes, with floats normalized as
  *    Spark's group-by does, and stops reading once it meets a new tuple
  *    past the cap. The task tables are merged on the executors, at most
  *    16 to a merge (a shuffle of tables only past 16 tasks), so the
  *    driver takes in a few tables of at most `CollapseMax` keys. That
  *    is one job, with nothing persisted, and it is exact: it returns the
  *    table iff the frame has at most `CollapseMax` distinct tuples,
  *    whatever the row order or partitioning. A continuous design costs
  *    each task ~`CollapseMax` rows. `GLM.fit`,
  *    `GLM.fitFormula`, `Ordinal.fit` and `Multinomial.fitSoftmax` use it
  *    and sort the rows they fit, so the order the table was found in
  *    reaches no sum.
  *  - [[collapse]] builds it as a cached frame, for the fits that still
  *    run Spark jobs over the table (ZeroInfl's E-step, NegBin's θ step,
  *    GroupedGLM's grouped passes, the K `GLM.fit` calls of
  *    `Multinomial.fitOneVsRest`). Its gate is a ~20k-row sample: one
  *    whose approximate distinct count (approx_count_distinct, one job)
  *    passes the cap by 10% skips the collapse; any other is verified
  *    against the true grouped cardinality (a group-by, a persist and a
  *    count) before committing. So near the cap the two entry points can
  *    decide differently. The frame is viewed through `coalesce(1)`: a job
  *    over it is one task instead of 32 near-empty ones (measured: the
  *    fleet of tiny tasks, not the data, dominated collapsed-fit wall time
  *    at sf0.1). `patterns` needs neither: its table is never a frame.
  */
private[glm] object SuffStats {

  val CollapseMax = 4096

  /** A count-column name equal to none of `taken` (case-insensitively). */
  def freshName(taken: Seq[String]): String = {
    val lower = taken.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    var name = "cnt"
    while (lower(name)) name = "_" + name
    name
  }

  /** `view` is the single-partition working frame (pattern rows + count);
    * `unpersist()` releases the backing cache (the view is a coalesce
    * OVER the cached plan, so unpersisting must target the handle).
    */
  final case class Collapsed(view: DataFrame, private val handle: DataFrame) {
    def unpersist(): Unit = handle.unpersist(blocking = false)
  }

  /** `df`'s distinct rows (all columns form the pattern) on the driver,
    * each with a double `cntCol` replication count, when there are at most
    * `CollapseMax` of them; None otherwise. One job over `df`'s rows (see
    * the object doc), run as a SQL execution of `df`'s plan so that SQL
    * listeners see it as they see any action; the rows come in no
    * particular order.
    */
  def patterns(df: DataFrame, cntCol: String): Option[DriverRows] =
    patterns(df, cntCol, df.sparkSession.sparkContext.defaultParallelism)

  /** [[patterns]] with at most `tasks` scan tasks. */
  private[glm] def patterns(df: DataFrame, cntCol: String, tasks: Int): Option[DriverRows] = {
    val max = CollapseMax
    val fields = df.schema.fields.toSeq
    val key = fields.indices.map(i =>
      GraftSqlShim.normalizeFloats(BoundReference(i, fields(i).dataType, nullable = true)))
    // b's counts added into a; None once either side or the union passed the cap
    def merge(a: Option[Table], b: Option[Table]): Option[Table] = (a, b) match {
      case (Some(x), Some(y)) =>
        y.forEach { (k, c) =>
          val cur = x.putIfAbsent(k, c)
          if (cur != null) cur(0) += c(0)
        }
        if (x.size > max) None else a
      case _ => None
    }
    // a continuous design stops after ~max rows per task
    val table = graft.BoundedScan(df, "patterns", tasks) { it =>
      val proj = UnsafeProjection.create(key)
      val counts = new Table
      var over = false
      while (!over && it.hasNext) {
        val k = proj(it.next())
        val c = counts.get(k)
        if (c != null) c(0) += 1
        else if (counts.size < max) counts.put(k.copy(), Array(1L))
        else over = true
      }
      if (over) None else Some(counts)
    }(merge)
    table.map { t =>
      val rows = t.entrySet.asScala.toArray.map(e =>
        new JoinedRow(e.getKey, InternalRow(e.getValue()(0).toDouble)): InternalRow)
      new DriverRows(df.select(col("*"), lit(0.0).as(cntCol)), rows)
    }
  }

  /** One task's pattern counts: key bytes to a one-slot count. */
  private type Table = java.util.HashMap[UnsafeRow, Array[Long]]

  /** Collapse `df` (all columns form the pattern) to one row per
    * distinct tuple with a double `cntCol` replication count, when the
    * design is discrete enough; None (and no persisted state) otherwise.
    * Caller owns `unpersist()` on the result.
    */
  def collapse(df: DataFrame, cntCol: String): Option[Collapsed] = {
    val sampleDistinct = df.limit(20000)
      .agg(approx_count_distinct(struct(df.columns.map(col): _*)))
      .head().getLong(0)
    // approx error is a few %; at the boundary a false skip only loses
    // an optimization, never correctness — pad the cap to reduce those
    if (sampleDistinct > CollapseMax * 1.1) return None
    val grouped = df.groupBy(df.columns.map(col): _*)
      .agg(count(lit(1)).cast("double").as(cntCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (grouped.count() <= CollapseMax) Some(Collapsed(grouped.coalesce(1), grouped))
    else { grouped.unpersist(blocking = false); None }
  }
}
