package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object ops {

  /** Spread a narrow input across the cluster before per-row-expensive
    * stages. A single-file (single-row-group) parquet source arrives as ONE
    * partition no matter how many cores exist, serializing every signature/
    * scoring kernel downstream; at real scale inputs have many splits and
    * this is a no-op. The class, when to apply it and when not to, and the
    * plan-level regression net that pins it (PlanSpec check 6) are
    * documented in COVERAGE.md §"The fanOut class".
    *
    * The fan target is BYTES-AWARE (r15): `min(defaultParallelism,
    * max(2, estimatedBytes / splitBytes))`. r14's unconditional
    * `repartition(defaultParallelism)` made a sub-MB input pay a
    * full-width shuffle — ~29 queries carried a 1–2.5 s floor each at
    * sf0.1 while the kernels themselves took milliseconds. The split
    * size reflects KERNEL cost, not scan cost, and was MEASURED at both
    * scales (r15): the fronts this guards (regex/split/sentences,
    * shingle hashing, per-row DP) explode each input byte into n-gram /
    * token work, so even a ~6 MB corpus wants full-width fan (q249 at
    * 10×: 4.1 s full-fan vs 13.9 s at 6 partitions) while a ~0.6 MB one
    * wants a narrow one (q24 at sf0.1: 0.7 s at 5 partitions vs 3.15 s
    * full-width r14 floor). 128 KB/split sits on the measured crossover:
    * sub-MB inputs fan to ~2–5 partitions (floor gone), low-MB inputs
    * reach full width (scale win kept). Tunable via
    * `spark.graft.fanout.splitBytes` for clusters whose
    * kernel-throughput/shuffle-cost ratio differs.
    * Unknown sizes (non-scan frames report `defaultSizeInBytes`) keep
    * the full-parallelism target, same as r14.
    * The same split is the coalesce floor of every loop shuffle while a
    * [[graft.Checkpointer]] is open (see [[splitBytes]]).
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    val sc = df.sparkSession.sparkContext
    val parallelism = sc.defaultParallelism
    val split = splitBytes(df.sparkSession)
    val bytes = GraftSqlShim.estimatedSizeInBytes(df)
    val byBytes =
      if (bytes > BigInt(split) * parallelism) parallelism
      else math.max(2, ((bytes + split - 1) / split).toInt)
    val target = math.min(parallelism, byBytes)
    if (GraftSqlShim.numOutputPartitions(df) >= math.max(2, target / 2)) df
    else df.repartition(target)
  }

  /** The engine's one bytes-per-task figure: `spark.graft.fanout.splitBytes`,
    * default 128 KB. [[fanOut]] sizes its fan from it, and an open
    * [[graft.Checkpointer]] makes it AQE's coalesce floor.
    */
  private[graft] def splitBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.fanout.splitBytes")
      .map(_.toLong).getOrElse(128L << 10)
}
