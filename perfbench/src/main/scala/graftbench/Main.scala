package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** JVM side of the benchmark: one closed-loop client in one JVM.
  *
  * {{{
  * Main --workload W --inputs DIR --out FILE --seconds S --trace 0|1
  *      --cpus N --warmup-ops W --min-ops M --direct-reps D
  *      [--conf k=v]... [--param k=v]...
  * }}}
  *
  * Set-up is timed from JVM start: a SparkSession plus W untimed warm-up
  * ops, not counting the reference answers computed before the warm-up
  * (the benchmark's own work, like input generation). Then ops run
  * back to back until S seconds have passed (and at least M ops); each
  * op's output is checked outside the timed region. With `--trace 1`,
  * every other op is traced: a [[Tracer]] is attached for that op only,
  * and the untraced ops between them give the untraced median the tracing
  * overhead is measured against; after the ops, each direct layer call of
  * the workload runs D times, traced. Everything is written as one JSON
  * document to FILE at the end.
  */
/** One timed call: an op, or a direct layer call of a traced run. */
final case class Span(i: Int, traced: Boolean, startMs: Long, endMs: Long, wallS: Double,
    cachePeak: Long, compiles: Long, compileNs: Long) {
  def json(extra: (String, Any)*): Json.Raw = Json.obj(Seq("i" -> i, "traced" -> traced,
    "start_ms" -> startMs, "end_ms" -> endMs, "wall_s" -> wallS,
    "cache_peak_bytes" -> cachePeak, "compiles" -> compiles, "compile_ns" -> compileNs) ++
    extra: _*)
}

object Main {
  def session(cpus: Int, conf: Seq[(String, String)]): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cpus]").appName("graftbench")
    conf.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def one(k: String): String = opts.collectFirst { case (`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"missing --$k"))
    def pairs(k: String): Seq[(String, String)] = opts.collect {
      case (`k`, kv) => val Array(a, b) = kv.split("=", 2); a -> b
    }
    val cpus = one("cpus").toInt
    val trace = one("trace") == "1"
    val conf = pairs("conf")
    val wl = Workloads(one("workload"), one("inputs"), pairs("param").toMap)

    // set-up: JVM start to a ready session, plus the warm-up ops. The
    // reference answers are computed in between, untimed, so the queries
    // they run cannot evict the ops' generated classes before timing.
    val spark = session(cpus, conf)
    val sessionS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    wl.prepare(spark)
    val t0 = System.nanoTime()
    (1 to one("warmup-ops").toInt).foreach(_ => wl.op(spark))
    val setupS = sessionS + (System.nanoTime() - t0) / 1e9
    val sc = spark.sparkContext

    val usage = new BlockUsage
    sc.addSparkListener(usage)
    val tracer = new Tracer(Thread.currentThread())

    /** Runs `body` once as span `i`: timed, with block usage and codegen
      * counted, and traced when asked. The bus is drained on both sides,
      * outside the timed region, so no event leaks into another span.
      */
    def span[T](i: Int, traced: Boolean)(body: => T): (Span, Either[Exception, T]) = {
      System.gc() // lets the context cleaner drop results of earlier ops
      BenchBus.drain(sc)
      usage.reset()
      if (traced) {
        tracer.op = i
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = try Right(body) catch { case e: Exception => Left(e) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileNs = CodeGenerator.compileTime - compileNs0
      BenchBus.drain(sc)
      if (traced) {
        spark.listenerManager.unregister(tracer)
        sc.removeSparkListener(tracer)
      }
      (Span(i, traced, startMs, endMs, wallS, usage.peak, compiles, compileNs), out)
    }

    val ops = ArrayBuffer.empty[Json.Raw]
    val deadline = System.nanoTime() + (one("seconds").toDouble * 1e9).toLong
    val minOps = one("min-ops").toInt
    while (ops.size < minOps || System.nanoTime() < deadline) {
      val (s, out) = span(ops.size, traced = trace && ops.size % 2 == 0)(wl.op(spark))
      val error = out.fold(e => Some(s"op failed: $e"),
        r => try wl.check(r) catch { case e: Exception => Some(s"check failed: $e") })
      ops += s.json("error" -> error,
        "info" -> out.fold(_ => Map.empty[String, Double], r => wl.info(r)))
    }
    // direct layer calls get span ids after the ops'
    val direct = ArrayBuffer.empty[Json.Raw]
    if (trace) for ((name, call) <- wl.direct(spark); _ <- 1 to one("direct-reps").toInt) {
      val (s, out) = span(ops.size + direct.size, traced = true)(call())
      direct += s.json("name" -> name, "error" -> out.left.toOption.map(_.toString))
    }
    spark.stop()

    val w = new PrintWriter(new File(one("out")), "UTF-8")
    try w.write(Json.obj(
      "units" -> wl.units,
      "setup_s" -> setupS,
      "ops" -> ops,
      "direct" -> direct,
      "jobs" -> tracer.jobs.map(j => Json.obj("op" -> j.op, "id" -> j.id,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs, "frame" -> j.frame,
        "stages" -> j.stages, "tasks" -> j.tasks, "task_ms" -> j.taskMs, "gc_ms" -> j.gcMs,
        "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes, "cached_bytes" -> j.cachedBytes)),
      "queries" -> tracer.queries.map(q => Json.obj("op" -> q.op,
        "analysis_ms" -> q.analysisMs, "optimization_ms" -> q.optimizationMs,
        "planning_ms" -> q.planningMs))).json)
    finally w.close()
  }
}

/** Just enough JSON writing for the harness's output document. */
object Json {
  final case class Raw(json: String)

  def obj(kvs: (String, Any)*): Raw =
    Raw(kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  private def value(v: Any): String = v match {
    case Raw(j) => j
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }
      .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
