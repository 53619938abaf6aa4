package graft.glm

import org.apache.spark.sql.DataFrame
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
  * The gate is adaptive and EXACT on the skip side: a ~20k-row sample
  * with more distinct tuples than the cap proves the full frame has
  * more, so continuous designs skip for the price of one small scan
  * (one job, approx_count_distinct); a passing sample still verifies
  * against the true grouped cardinality before committing (a sample
  * under the cap does not bound the full frame). The collapsed frame is
  * viewed through `coalesce(1)`. Fits that iterate over it collect it
  * once and run their passes on the driver (GLM.fit through
  * [[DriverRows]], Multinomial, Ordinal); the one partition fixes the
  * collect order, which is the order one task would scan and sum it in.
  * A pass that still runs as a Spark job over the view (ZeroInfl's
  * E-step, NegBin's θ step) is one task instead of 32 near-empty ones
  * (measured: the fleet of tiny tasks, not the data, dominated
  * collapsed-fit wall time at sf0.1).
  */
private[glm] object SuffStats {

  val CollapseMax = 4096

  /** `view` is the single-partition working frame (pattern rows + count);
    * `unpersist()` releases the backing cache (the view is a coalesce
    * OVER the cached plan, so unpersisting must target the handle).
    */
  final case class Collapsed(view: DataFrame, private val handle: DataFrame) {
    def unpersist(): Unit = handle.unpersist(blocking = false)
  }

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
