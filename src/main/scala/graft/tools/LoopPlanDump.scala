package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dumps the INTRA-LOOP plan of the checkpointed iterative operators —
  * the evidence PlanDump cannot show (the Checkpointer severs lineage, so
  * a final-frame dump is just `Scan ExistingRDD`). Replicates the loop
  * body of the named operator exactly as the op builds it for one round
  * and writes `.explain("formatted")` of that round's frame.
  *
  *   sbt "runMain graft.tools.LoopPlanDump /root/testdata/sf0.1 plans/r15 after q176_label_prop"
  */
object LoopPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, queries @ _*) = args.toSeq.toArray
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[loopplan] wrote $name")
    }

    // q176's edge relation (SparkEntry q176_label_prop), through the same
    // public op entry — the round body is rebuilt here exactly as
    // Graph.labelPropagation builds it so the per-round join/agg shape is
    // pinned as evidence.
    def q176Edges = {
      val pe = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(concat(lit("p"), col("l_partkey")).as("u"),
          concat(lit("s"), col("l_suppkey")).as("v")).distinct()
      pe.unionByName(pe.select(col("v").as("u"), col("u").as("v")))
    }

    // mirror Graph.labelPropagation's DataFrame loop body, which runs
    // only when the edges are above the broadcast threshold (round 2
    // shape: the state side is a materialized generation, as mid-loop
    // rounds see after a checkpoint). q176's edges are far below the
    // threshold at the test scales, so the dump turns broadcasting off to
    // show the round that the op runs above it
    def dumpLoopBody(name: String): Unit = {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1L)
      graft.Checkpointer.using(spark, None) { cp =>
        val e = cp.pinPartitioned(q176Edges.select(col("u"), col("v"))
          .repartition(col("u")).distinct())
        def adopt(votes: org.apache.spark.sql.DataFrame) = votes
          .groupBy("u", "label").agg(count(lit(1)).as("n"))
          .groupBy("u").agg(min(struct((-col("n")).as("nn"),
            col("label"))).as("__best"))
          .select(col("u"), col("__best.label").as("label"))
        val prev = cp(adopt(e.select(col("u"), col("v").as("label"))))
          .select(col("u").as("v"), col("label").as("__l"))
        dump(name, adopt(e.join(prev, Seq("v"), "left")
          .select(col("u"), coalesce(col("__l"), col("v")).as("label"))))
      }
    }

    queries.foreach {
      case "q176_label_prop" => dumpLoopBody("q176_label_prop_loopbody")
      case other =>
        System.err.println(s"[loopplan] no loop-body recipe for $other")
    }
    spark.stop()
  }
}
