package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** `private[sql]` doors. Most are opened for [[graft.Checkpointer]]:
  * materializing a DataFrame as an RDD of INTERNAL rows and rebuilding a
  * DataFrame over one with truthful statistics attached. [[normalizeFloats]]
  * gives `graft.glm.SuffStats` and `graft.ops.Graph.labelPropagation`
  * Spark's group-by key rule; [[broadcastThreshold]] and [[localFrame]]
  * let label propagation decide on, and return, a driver-held result.
  *
  * `Dataset.rdd` (what the checkpointer used before) decodes every
  * InternalRow into an external `Row` — boxing each double, converting
  * arrays to `Seq`, timestamps to java.time — and `createDataFrame(rdd,
  * schema)` then re-encodes every row on EVERY downstream read. For a
  * checkpoint that is pure overhead: the row is about to be stored and
  * re-read by Spark itself, no user code ever sees it. Going through
  * `queryExecution.toRdd` (with the same defensive `copy()` that
  * `Dataset.checkpoint` itself performs — unsafe rows are buffer-reused
  * per partition) keeps rows in the compact UnsafeRow format end to end:
  * smaller to persist, nothing to convert on read, and the rebuilt scan
  * participates in whole-stage codegen as a plain input adapter.
  *
  * The rebuilt LogicalRDD deliberately reports UnknownPartitioning and
  * NO ordering. An r14 experiment preserved the executed plan's
  * partitioning/ordering (what `Dataset.checkpoint` does via
  * `LogicalRDD.fromDataset`, plus un-coalesced materialization so the
  * layout stays reusable): measured NET LOSS on every checkpoint-loop
  * operator — iterative consumers union/re-key each generation, so the
  * metadata almost never removes an exchange, while full-width
  * (un-coalesced) generations multiplied downstream shuffle map tasks
  * and their per-file work (q200 k-core 9.5 s → 29 s, task time 3.4 s →
  * 849 s, thread dumps pinned in BypassMergeSortShuffleWriter file
  * churn). The statistics, by contrast, are a pure win — see
  * [[materializeCounted]]. A loop-invariant frame that every round
  * groups by its key can still ask for its partitioning
  * ([[fromInternalRdd]]'s `partitioned`).
  */
object GraftSqlShim {

  /** The dataframe's physical output as copied internal rows. Triggers
    * planning (and, under AQE, final-plan resolution happens when the
    * returned RDD is first materialized).
    */
  def toInternalRdd(df: Dataset[Row]): RDD[InternalRow] =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd.map(_.copy())

  /** Physical output partition count WITHOUT building the deserializer
    * lineage that `Dataset.rdd` instantiates per call (a per-call driver
    * cost [[graft.ops.fanOut]] used to pay).
    */
  def numOutputPartitions(df: Dataset[Row]): Int =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution.toRdd.getNumPartitions

  /** The optimizer's size estimate for the frame (for parquet scans:
    * on-disk file bytes; `defaultSizeInBytes`-huge when unknown).
    */
  def estimatedSizeInBytes(df: Dataset[Row]): BigInt =
    df.asInstanceOf[classic.Dataset[Row]].queryExecution
      .optimizedPlan.stats.sizeInBytes

  /** `e` as Spark's group-by keys on it: every float and double in it
    * (inside structs and arrays too) with -0.0 read as 0.0 and every NaN
    * as one NaN, so two values group together iff their bytes are equal.
    */
  def normalizeFloats(e: catalyst.expressions.Expression): catalyst.expressions.Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Materialize `rdd` (the action that makes a local checkpoint live)
    * while measuring it: returns (rowCount, exactBytes). One job — the
    * byte measurement rides the same pass the old `rdd.count()` was, and
    * feeds truthful `Statistics` into [[fromInternalRdd]] so the planner
    * can broadcast small materialized intermediates (ALS factor frames,
    * graph rank vectors, candidate sets) instead of assuming
    * `defaultSizeInBytes` (= never broadcast).
    */
  def materializeCounted(rdd: RDD[InternalRow],
      schema: types.StructType): (Long, Long) = {
    val fallbackRowSize = schema.defaultSize.toLong + 8L
    rdd.mapPartitions { it =>
      var n = 0L; var b = 0L
      it.foreach {
        case u: catalyst.expressions.UnsafeRow => n += 1; b += u.getSizeInBytes
        case _ => n += 1; b += fallbackRowSize
      }
      Iterator((n, b))
    }.collect().foldLeft((0L, 0L)) { case ((n1, b1), (n2, b2)) =>
      (n1 + n2, b1 + b2)
    }
  }

  /** The session's `spark.sql.autoBroadcastJoinThreshold` in bytes
    * (negative: never broadcast).
    */
  def broadcastThreshold(spark: SparkSession): Long =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
      .autoBroadcastJoinThreshold

  /** Whether the planner broadcasts a frame that [[fromInternalRdd]]
    * rebuilds over `bytes` measured bytes, under a broadcast threshold of
    * `limit` (negative: never): its size estimate is
    * [[plannedSizeInBytes]].
    */
  def withinBroadcastThreshold(bytes: Long, limit: Long): Boolean =
    limit >= 0 && plannedSizeInBytes(bytes) <= limit

  /** The size [[fromInternalRdd]] reports for `bytes` measured bytes:
    * the payload inflated 4x (see there), and at least 1.
    */
  def plannedSizeInBytes(bytes: Long): Long = math.max(4L * bytes, 1L)

  /** A frame over `rows` held on the driver (a local relation), with
    * `schema`'s columns.
    */
  def localFrame(spark: SparkSession, schema: types.StructType,
      rows: Seq[InternalRow]): Dataset[Row] =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      catalyst.plans.logical.LocalRelation(
        catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** Rebuild a DataFrame over a MATERIALIZED internal-row RDD of
    * `origin`'s rows, carrying exact measured statistics (sizeInBytes
    * floor of 1 keeps an empty frame from reading as "free"). With
    * `partitioned` the frame reports the output partitioning of the plan
    * that produced `rdd` (`toInternalRdd(origin)`, already executed, so
    * under AQE the final plan's), so a consumer that groups by that key
    * adds no exchange.
    */
  def fromInternalRdd(origin: Dataset[Row],
      rdd: RDD[InternalRow],
      stats: Option[(Long, Long)] = None,
      partitioned: Boolean = false): Dataset[Row] = {
    val ds = origin.asInstanceOf[classic.Dataset[Row]]
    val originStats = stats.map { case (n, bytes) =>
      // The planner compares sizeInBytes directly against
      // autoBroadcastJoinThreshold, but a broadcast hash relation's real
      // driver/executor footprint is several times the raw UnsafeRow
      // payload (hash table, object headers). Inflate the measured bytes
      // 4x so frames just under the threshold don't flip to broadcast on
      // exact payload size and pressure memory; genuinely small frames
      // (the ALS factor / rank-vector cases this exists for) stay far
      // under the threshold either way. rowCount stays exact.
      catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(plannedSizeInBytes(bytes)),
        rowCount = Some(BigInt(n)))
    }
    val partitioning =
      if (!partitioned) catalyst.plans.physical.UnknownPartitioning(0)
      else ds.queryExecution.executedPlan match {
        case a: execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.outputPartitioning
        case p => p.outputPartitioning
      }
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD(ds.logicalPlan.output, rdd, partitioning, Nil,
        isStreaming = false)(ds.sparkSession, originStats))
  }
}
