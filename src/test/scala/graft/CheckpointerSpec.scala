package graft

import org.apache.spark.sql.functions._

/** The r14 internal-row checkpointer: row fidelity across types, and the
  * stats-driven broadcast property (a checkpointed small frame carries
  * exact measured Statistics, so the planner can auto-broadcast it into a
  * later join with no hint). Partitioning is deliberately NOT preserved —
  * the rebuilt frame reports UnknownPartitioning; preserving the layout
  * was measured as a net loss (full-width generations multiplied
  * downstream shuffle map work, OPTIMIZATION_r14.md §3) and reverted.
  */
class CheckpointerSpec extends SparkSpec {

  test("checkpointed frame preserves rows across types (incl. arrays, timestamps)") {
    val df = spark.range(100).select(
      col("id"),
      (col("id") % 7).cast("int").as("i"),
      col("id").cast("double").as("d"),
      concat(lit("s"), col("id")).as("s"),
      array(col("id"), col("id") * 2).as("arr"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      when(col("id") % 10 === 0, lit(null).cast("double"))
        .otherwise(col("id").cast("double")).as("nd"))
    val cp = new Checkpointer(spark, None)
    val (out, n) = cp.applyCounted(df)
    assert(n === 100L)
    val a = df.orderBy("id").collect()
    val b = out.orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
    cp.close()
  }

  test("checkpointed frame carries exact measured stats: small side broadcasts") {
    val df = spark.range(1000).select((col("id") % 50).as("k"),
      col("id").as("v"))
    val cp = new Checkpointer(spark, None)
    val small = cp(df.groupBy("k").agg(sum("v").as("s")))
    // without stats a LogicalRDD reports defaultSizeInBytes (huge) and a
    // join against it can never auto-broadcast; with the materialization
    // pass's exact byte count the planner sees a ~KB frame and picks a
    // broadcast hash join without any explicit hint
    val big = spark.range(100000).select((col("id") % 50).as("k"),
      col("id").as("w"))
    val joined = big.join(small, "k")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "measured stats missing — checkpointed small side not broadcast:\n"
        + plan)
    assert(joined.count() === 100000L)
    cp.close()
  }

  test("generation chain frees predecessors and final generation survives close()") {
    val cp = new Checkpointer(spark, None)
    var gen = cp(spark.range(10).toDF("v"))
    for (i <- 1 to 3)
      gen = cp(gen.select((col("v") + 1).as("v")))
    cp.close()
    assert(gen.agg(sum("v")).head().getLong(0) === (3 to 12).sum.toLong)
  }

  test("codegen class names drop stage ids while open; close() restores the caller's value") {
    val key = Checkpointer.IdInClassName
    for (prev <- Seq(Some("true"), None)) {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      val cp = new Checkpointer(spark, None)
      assert(spark.conf.getOption(key) === Some("false"))
      cp(spark.range(10).toDF("v"))
      cp.close()
      assert(spark.conf.getAll.get(key) === prev, s"caller had $prev")
    }
  }
}
