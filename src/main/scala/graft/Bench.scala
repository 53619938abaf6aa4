package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Benchmark main: runs every SparkEntry query against SPARK_GRAFT_SF_DIR
  * and prints ONE JSON line. Results are materialized through the `noop`
  * sink so the full plan executes (a bare `count()` would let Catalyst
  * prune projections and skip most of the work being measured).
  *
  * Weather instrumentation: a FIXED control query (one lineitem
  * aggregation) runs before the suite, after every 10th query, and at
  * the end; its timings ship in the JSON as `control` with
  * `drift_factor` = max/median. A calm host keeps the factor near 1; CPU
  * steal storms (MICROBENCH.md documents 10–40% steal on this host)
  * push it up, flagging single-shot regressions in the same run as
  * weather rather than code — adjudicate those with
  * `graft.tools.MicroBench` min-of-3 before believing them.
  *
  * Each query also records its janino compiles and compile seconds (the
  * JVM-wide codegen counters, read around the timed region): the full
  * line and `bench_full.json` carry them per query under `codegen`, the
  * compact line carries the summed count.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.autoBroadcastJoinThreshold", 64 * 1024 * 1024)
      .config("spark.ui.enabled", "false")
      // events.parquet carries TIMESTAMP(NANOS); without this the warmup
      // scan throws and spams an executor stack trace into the bench log
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // warm up the JVM/parquet-reader/codegen paths so the first timed query
    // doesn't absorb one-time init cost
    Seq("lineitem", "documents", "embeddings", "events").foreach { n =>
      try spark.read.parquet(s"$sfDir/$n.parquet").count()
      catch { case _: Throwable => }
    }
    val controlRuns = scala.collection.mutable.ArrayBuffer.empty[Double]
    def controlOnce(): Double = {
      val t0 = System.nanoTime()
      try spark.read.parquet(s"$sfDir/lineitem.parquet")
        .selectExpr("sum(l_extendedprice * (1 - l_discount)) AS rev",
          "avg(l_quantity) AS qty", "count(*) AS n")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => }
      (System.nanoTime() - t0) / 1e9
    }
    def runControl(): Unit = controlRuns += controlOnce()
    controlOnce() // unrecorded: absorbs the control's own JIT/codegen cost
    runControl()
    val results = SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((name, fn), idx) =>
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileS = (CodeGenerator.compileTime - compileNs0) / 1e9
      // between queries (outside the timed region): drop leftover cached
      // state and let the context cleaner reclaim broadcasts, so later
      // queries aren't taxed by earlier queries' garbage
      spark.catalog.clearCache()
      System.gc()
      if ((idx + 1) % 10 == 0) runControl()
      (name, dt, ok, compiles, compileS)
    }
    runControl()
    // a failed query must not make the benchmark look faster: report it as
    // -1 in the per-query map, list it under "failed", exclude from total
    val qs = results.map { case (k, v, ok, _, _) =>
      "\"" + k + "\":" + (if (ok) f"$v%.3f" else "-1")
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.collect { case (_, v, true, _, _) => v }.sum
    val codegen = results.map { case (k, _, _, n, cs) =>
      f""""$k":{"compiles":$n,"compile_s":$cs%.3f}"""
    }.mkString("{", ",", "}")
    val compiles = results.map(_._4).sum
    val cr = controlRuns.toSeq
    val med = cr.sorted.apply(cr.size / 2)
    // max/median, not max/min: one lucky fast rep shouldn't read as drift
    val drift = if (cr.nonEmpty && med > 0) cr.max / med else -1.0
    val control = f"""{"runs":${cr.map(v => f"$v%.3f").mkString("[", ",", "]")},"min":${cr.min}%.3f,"median":$med%.3f,"max":${cr.max}%.3f,"drift_factor":$drift%.2f}"""
    val json = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"codegen":$codegen,"failed":$failed,"control":$control,"sf":"$sfDir","note":"single-shot timings; +/-20pct JVM variance per query - use graft.tools.MicroBench (min-of-3) for before/after comparisons; control = fixed lineitem agg interleaved every 10 queries, drift_factor near 1 = calm host, >>1 = steal storm (distrust single-shot regressions in this run)"}"""
    println(json)
    // The full line above is tens of KB (376-key per-query maps) and artifact
    // captures that keep only a short stdout TAIL truncate it mid-map,
    // leaving no parseable JSON (PERF_r13/r14 lost both rounds' totals to
    // this). Print a SECOND, compact summary line — same value under its
    // own metric name, no per-query map — so any tail capture of the last
    // ~1 KB always contains one complete parseable line, and a consumer
    // that takes the first or the last metric line never sees two "total"s.
    // The per-query map lives in the full line and in bench_full.json.
    println(f"""{"metric":"total_compact","value":$total%.3f,"unit":"sec","n_queries":${results.size},"codegen_compiles":$compiles,"failed":$failed,"control":$control,"sf":"$sfDir","per_query_in":"bench_full.json"}""")
    // BENCH_r*.json artifacts keep only a stdout tail, which truncates the
    // per-query map around q99; persist the complete line so round-over-round
    // comparison covers every query (commit this file each round)
    try java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")),
      (json + "\n").getBytes("UTF-8"))
    catch { case e: Throwable => System.err.println(s"[bench] bench_full.json write failed: ${e.getMessage}") }
    spark.stop()
  }
}
