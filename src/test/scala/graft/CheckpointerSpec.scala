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
    Checkpointer.using(spark, None) { cp =>
      val (out, n) = cp.applyCounted(df)
      assert(n === 100L)
      val a = df.orderBy("id").collect()
      val b = out.orderBy("id").collect()
      assert(a.toSeq === b.toSeq)
    }
  }

  test("checkpointed frame carries exact measured stats: small side broadcasts") {
    val df = spark.range(1000).select((col("id") % 50).as("k"),
      col("id").as("v"))
    Checkpointer.using(spark, None) { cp =>
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
    }
  }

  test("generation chain frees predecessors and final generation survives close()") {
    val gen = Checkpointer.using(spark, None) { cp =>
      var gen = cp(spark.range(10).toDF("v"))
      for (i <- 1 to 3)
        gen = cp(gen.select((col("v") + 1).as("v")))
      gen
    }
    assert(gen.agg(sum("v")).head().getLong(0) === (3 to 12).sum.toLong)
  }

  test("codegen class names drop stage ids while open; close() restores the caller's value") {
    val key = Checkpointer.IdInClassName
    for (prev <- Seq(Some("true"), None)) {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
      Checkpointer.using(spark, None) { cp =>
        assert(spark.conf.getOption(key) === Some("false"))
        cp(spark.range(10).toDF("v"))
      }
      assert(spark.conf.getAll.get(key) === prev, s"caller had $prev")
    }
  }

  test("loop shuffles coalesce no finer than the split while open; close() restores the caller's floor") {
    val key = Checkpointer.CoalesceFloor
    val split = "spark.graft.fanout.splitBytes"
    try {
      for (prev <- Seq(Some("2m"), None); setSplit <- Seq(None, Some("65536"))) {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        setSplit match {
          case Some(v) => spark.conf.set(split, v)
          case None => spark.conf.unset(split)
        }
        Checkpointer.using(spark, None) { cp =>
          assert(spark.conf.getOption(key) === Some(setSplit.getOrElse("131072")))
          cp(spark.range(10).toDF("v"))
        }
        assert(spark.conf.getAll.get(key) === prev, s"caller had $prev")
      }
    } finally {
      spark.conf.unset(key)
      spark.conf.unset(split)
    }
  }

  // the scoped settings as the caller left them: an explicit floor, and
  // whatever the class-name flag was
  private def callerSettings =
    Seq(Checkpointer.CoalesceFloor, Checkpointer.IdInClassName)
      .map(k => k -> spark.conf.getAll.get(k))

  test("an op with two Checkpointers open at once restores the caller's settings") {
    import spark.implicits._
    val ratings = Seq((1L, 10L, 2.0), (1L, 11L, 1.0), (2L, 10L, 4.0),
      (2L, 11L, 2.0)).toDF("u", "i", "r")
    spark.conf.unset(Checkpointer.CoalesceFloor)
    val before = callerSettings
    graft.ops.Factorize.als(ratings, "u", "i", "r", rank = 1, iters = 1)
    assert(callerSettings === before)
  }

  test("an op that fails inside its Checkpointer scope restores the caller's settings") {
    val key = Checkpointer.CoalesceFloor
    try {
      spark.conf.set(key, "2m")
      val before = callerSettings
      intercept[Exception] {
        Checkpointer.using(spark, None) { cp =>
          val gen = cp(spark.range(10).toDF("v"))
          cp(gen.select(when(col("v") === 7, raise_error(lit("boom")))
            .otherwise(col("v")).as("v")))
        }
      }
      assert(callerSettings === before)
      // a public loop op whose first materialization (pageRank's edge
      // pin) fails inside its scope
      val edges = spark.range(20).select(concat(lit("n"), col("id")).as("u"),
        when(col("id") === 13, raise_error(lit("boom")))
          .otherwise(concat(lit("n"), col("id") + 1)).as("v"))
      intercept[Exception](graft.ops.Graph.pageRank(edges, 2))
      assert(callerSettings === before)
    } finally spark.conf.unset(key)
  }
}
