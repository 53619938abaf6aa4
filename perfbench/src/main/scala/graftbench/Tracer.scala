package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** Bytes held in Spark block storage by cached RDD blocks (persisted or
  * checkpointed frames) created since the last [[reset]], and their peak. Blocks that existed before the reset are
  * ignored, so leftovers of an earlier op never count against this one.
  */
final class BlockUsage extends SparkListener {
  private val sizes = mutable.Map.empty[BlockId, Long]
  private var current = 0L
  private var peakBytes = 0L

  def reset(): Unit = synchronized { sizes.clear(); current = 0L; peakBytes = 0L }
  def peak: Long = synchronized(peakBytes)

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val bytes = info.memSize + info.diskSize
    if (info.blockId.isRDD && (bytes > 0 || sizes.contains(info.blockId))) {
      current += bytes - sizes.getOrElse(info.blockId, 0L)
      sizes(info.blockId) = bytes
      peakBytes = math.max(peakBytes, current)
    }
  }
}

/** One Spark job inside a traced op: its span, the first `graft.*` frame of
  * its call site (the layer it is charged to) and the work its tasks did.
  */
final class JobSpan(val op: Int, val id: Int, val startMs: Long, val frame: String) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var cachedBytes = 0L
}

/** Catalyst phase times of one query (one Dataset action) in a traced op. */
final case class QuerySpan(op: Int, analysisMs: Long, optimizationMs: Long, planningMs: Long)

/** Records spans for traced ops: a [[SparkListener]] for jobs, stages,
  * tasks and new cached blocks, plus a [[QueryExecutionListener]] for the
  * per-query Catalyst phases. Attached only around a traced op (see
  * [[Main]]); everything stays in memory until the run ends.
  */
final class Tracer(driver: Thread) extends SparkListener with QueryExecutionListener {
  val jobs = ArrayBuffer.empty[JobSpan]
  val queries = ArrayBuffer.empty[QuerySpan]
  @volatile var op: Int = -1
  private val byStage = mutable.Map.empty[Int, JobSpan]
  private val byExecution = mutable.Map.empty[String, String]
  private var running: List[JobSpan] = Nil

  // A Dataset action's call site is taken on the calling thread when its
  // SQL execution starts; the jobs it runs may be submitted from other
  // threads (adaptive query stages), whose own call sites hold no
  // library frame, so they inherit the execution's. A job with neither
  // (an RDD over a query plan, run from such a thread) is charged to
  // where the op's thread is when the job starts: it is blocked in the
  // library call that waits for the job.
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      byExecution(s.executionId.toString) = Tracer.graftFrame(s.details)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val own = e.stageInfos.headOption.map(s => Tracer.graftFrame(s.details)).getOrElse("")
    val frame = if (own.nonEmpty) own else Seq("spark.sql.execution.id",
      "spark.sql.execution.root.id").iterator
      .flatMap(k => Option(e.properties).flatMap(p => Option(p.getProperty(k))))
      .flatMap(byExecution.get).find(_.nonEmpty)
      .getOrElse(Tracer.graftFrame(driver.getStackTrace
        .map(f => s"${f.getClassName}.${f.getMethodName}(${f.getFileName}:${f.getLineNumber})")
        .mkString("\n")))
    val j = new JobSpan(op, e.jobId, e.time, frame)
    jobs += j
    e.stageIds.foreach(byStage(_) = j)
    running = j :: running
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    running.find(_.id == e.jobId).foreach { j =>
      j.endMs = e.time
      running = running.filterNot(_ eq j)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    byStage.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    }
  }

  // a newly cached RDD block is charged to the most recently started job
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid) running.headOption
      .foreach(_.cachedBytes += info.memSize + info.diskSize)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      queries += QuerySpan(op, ms("analysis"), ms("optimization"), ms("planning"))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Tracer {
  /** The first stack frame of a call site that belongs to the library
    * (`graft.*`), or "" when none does (e.g. a job submitted from a
    * Spark-internal thread).
    */
  def graftFrame(callSite: String): String =
    callSite.split('\n').iterator.map(_.trim).find(_.startsWith("graft.")).getOrElse("")
}
