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

    // mirror Graph.labelPropagation's loop body (round 2 shape: the
    // labels side is a materialized generation, as mid-loop rounds see
    // after a checkpoint); `longIds` mirrors the production knob
    def dumpLoopBody(name: String, longIds: Boolean): Unit =
      graft.Checkpointer.using(spark, None) { cp =>
        val edges = q176Edges
        val rawE = edges.select(col("u"), col("v")).distinct()
        val e = cp.pin(if (!longIds) rawE else {
          val nodes = Seq("u", "v").map(c => edges.select(col(c).as("node")))
            .reduce(_ unionAll _).distinct().orderBy("node")
          val withIds = nodes.select(col("node"))
            .as(org.apache.spark.sql.Encoders.STRING).rdd.zipWithIndex()
          import spark.implicits._
          val dict = cp.pin(withIds.toDF("node", "nid"))
          def enc(df: org.apache.spark.sql.DataFrame, c: String) =
            df.join(dict.select(col("node").as(c), col("nid").as(s"__$c")), c)
              .drop(c).withColumnRenamed(s"__$c", c)
          enc(enc(rawE, "u"), "v")
        })
        val nodes = e.select(col("u"))
          .unionAll(e.select(col("v").as("u"))).distinct()
        val labels = cp(nodes.select(col("u"), col("u").as("label")))
        val votes = e
          .join(labels.select(col("u").as("v"), col("label")), "v")
          .repartition(col("u"))
          .groupBy("u", "label").agg(count(lit(1)).as("n"))
        dump(name, votes
          .groupBy("u").agg(min(struct((-col("n")).as("nn"),
            col("label"))).as("__best"))
          .select(col("u"), col("__best.label").as("label")))
      }

    queries.foreach {
      case "q176_label_prop" =>
        dumpLoopBody("q176_label_prop_loopbody", longIds = false)
      case "q176_label_prop_longids" =>
        dumpLoopBody("q176_label_prop_loopbody_longids", longIds = true)
      case other =>
        System.err.println(s"[loopplan] no loop-body recipe for $other")
    }
    spark.stop()
  }
}
