package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.SQLExecution

/** One read of a frame's rows into a value on the driver, with nothing
  * persisted: the scan behind `graft.glm.SuffStats.patterns` and the
  * driver-state path of `graft.ops.Graph.labelPropagation`.
  *
  * The scan is one SQL execution of the frame's plan, so SQL listeners see
  * it as they see any action. Its partitions are coalesced (no shuffle) to
  * at most `tasks` tasks, and each task folds all its rows into one part,
  * so a fold that stops reading early stops once per task, not once per
  * small partition. The parts are merged on the executors, at most
  * [[MergeFanIn]] to a merge: up to that many tasks the driver merges them
  * as they arrive, with no shuffle; past it one or more shuffle rounds of
  * parts run first. Either way the driver takes in a few parts whatever
  * the partition count.
  */
private[graft] object BoundedScan {

  /** The most parts one merge takes in. */
  val MergeFanIn = 16

  /** Each task's rows folded by `fold`, the parts combined by the
    * associative `merge`; `fold` of no rows when the frame has no
    * partitions. `name` labels the SQL execution.
    */
  def apply[P: ClassTag](df: DataFrame, name: String, tasks: Int)(
      fold: Iterator[InternalRow] => P)(merge: (P, P) => P): P = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd
      val scan = if (rdd.getNumPartitions > tasks) rdd.coalesce(tasks) else rdd
      val n = scan.getNumPartitions
      if (n == 0) fold(Iterator.empty)
      else {
        val depth =
          if (n <= MergeFanIn) 1 else math.ceil(math.log(n) / math.log(MergeFanIn)).toInt
        scan.mapPartitions(it => Iterator.single(fold(it))).treeReduce(merge, depth)
      }
    }
  }
}
