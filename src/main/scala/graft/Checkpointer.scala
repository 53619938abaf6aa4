package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow

/** Generational checkpoint manager for iterative DataFrame algorithms
  * (IRLS in [[graft.glm.GroupedGLM]], label propagation in
  * [[graft.ops.Dedup.connectedComponents]]).
  *
  * `Dataset.checkpoint()` gives durability and flat lineage but leaks:
  * superseded reliable-checkpoint files accumulate in the checkpoint dir
  * for the life of the application, and superseded `localCheckpoint`
  * blocks stay pinned in executor storage — an N-iteration fit holds N
  * generations of state. This helper checkpoints at the RDD level so it
  * keeps a handle to each generation and, as soon as the NEXT generation
  * is materialized, deletes the previous one's checkpoint files (reliable)
  * or unpersists its blocks (local). At any moment at most two
  * generations exist; a multi-hour 100 TB job's checkpoint dir stays
  * O(state size), not O(state × iterations).
  *
  * Durability contract (unchanged from before): RELIABLE `checkpoint()`
  * when `checkpointDir` is given or the session already has one set —
  * survives executor loss; `localCheckpoint` (lineage severed
  * unrecoverably) only as the local-mode default. When this helper sets
  * the session checkpoint dir, `close()` restores the previous value
  * (including none — `setCheckpointDir(null)` unsets), so no
  * session-global state leaks out of a fit.
  *
  * Codegen class names: while a Checkpointer is open it sets the
  * session's `spark.sql.codegen.useIdInClassName` to `false`, and
  * `close()` restores the caller's value (or unsets it if there was
  * none). With ids in the names, Spark writes each whole-stage-codegen
  * stage number into the generated class name, so every round of a lazy
  * R-round chain (the rounds of [[graft.ops.Graph.pageRank]] between
  * checkpoints, or of [[graft.ops.Graph.labelPropagation]] above the
  * broadcast threshold) is a distinct source text. Measured on label
  * propagation's chain when it ran at every size: a 10-round run over
  * 100k edges generated 85–118 of them, more than the 100-entry codegen
  * cache holds, so every run recompiled them all (118 compiles, 1.5 s of
  * janino in one traced op, local[4]). With id-free names round k+1's
  * stages have round k's source and hit the cache: 0 compiles, and the
  * op's median fell from 9.0 to 5.1 s over 10 runs each. Plans, jobs,
  * results and cached bytes are unchanged; only class names differ.
  *
  * Coalesce floor: while open it also sets AQE's
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` to the
  * engine's bytes-per-task split ([[graft.ops.splitBytes]], the 128 KB
  * `fanOut` split, measured at two scales in r15), and `close()` restores
  * it the same way. AQE's default floor is 1 MB, and a loop round's
  * shuffle is usually smaller: a label-propagation round that shuffled
  * its votes over 100k edges moved 0.1–1.3 MB, so AQE folded every round
  * into one or two tasks while the other cores sat idle (31 jobs on 47
  * tasks, executor utilization 0.16 in one traced op, local[4]). With
  * the floor each loop shuffle gets max(bytes / parallelism, 128 KB) per
  * partition. Measured on that round body with one vote shuffle per
  * round: a traced op ran 22 jobs on 96 tasks at utilization 0.39, its
  * time per round fell from 0.85 to 0.62 s, and its median fell from 8.5
  * to 7.5 s against the same body without the floor (5 of 6 runs); with
  * the older two-exchange round the floor did not move the op (5 of 9).
  * Label propagation no longer shuffles per round, but the loops that
  * still run through a Checkpointer do ([[graft.ops.Graph.pageRank]]'s
  * contribution aggregate, the k-core peel's degree counts, the
  * connected-components rounds), and the floor stays for them on that
  * measurement. Partition counts decide the order of floating-point
  * sums, so the floor must never outlive the loop that set it.
  *
  * Scope: a Checkpointer exists only inside [[Checkpointer.using]], which
  * closes it in a `finally`, so the caller's checkpoint dir and settings
  * come back when the body throws too. Nested scopes close innermost
  * first, which the restore needs (each one restores what it saw when it
  * opened). Caveat: two scopes open AT THE SAME TIME on one session from
  * different threads can still restore the settings early, in whichever
  * order they close; that changes partition counts and class names, so
  * speed and the order of floating-point sums, not which rows come out.
  *
  * The FINAL generation backs the returned DataFrame, so it is NOT
  * cleaned by `close()` — it lives until the RDD is garbage-collected
  * (enable `spark.cleaner.referenceTracking.cleanCheckpoints` to reap its
  * files then) or the application exits.
  */
private[graft] final class Checkpointer private (spark: SparkSession,
    checkpointDir: Option[String]) {
  private val sc = spark.sparkContext
  private val prevDir = sc.getCheckpointDir
  checkpointDir.foreach(sc.setCheckpointDir)
  private val reliable = sc.getCheckpointDir.isDefined
  // the session settings scoped to this Checkpointer (see the class doc),
  // each with the caller's value: getAll holds only explicitly set keys
  // (getOption would report the default for an unset one, and close()
  // must unset it again)
  private val scoped = {
    val caller = spark.conf.getAll
    Seq(Checkpointer.IdInClassName -> "false",
      Checkpointer.CoalesceFloor -> graft.ops.splitBytes(spark).toString)
      .map { case (k, v) => spark.conf.set(k, v); k -> caller.get(k) }
  }
  private var last: RDD[InternalRow] = null

  /** Checkpoint `df` eagerly (materialized before return) and free the
    * previous tracked generation. The returned frame reads from the
    * checkpoint — flat lineage.
    */
  def apply(df: DataFrame): DataFrame = {
    val out = checkpointRdd(df)
    clean(last)
    last = out._2
    out._1
  }

  /** [[apply]], also returning the row count the materialization already
    * computed — iterative loops with a size-based convergence probe
    * (k-core peel, BFS frontier) read it for free instead of launching a
    * second count job per generation.
    */
  def applyCounted(df: DataFrame): (DataFrame, Long) = {
    val out = checkpointRdd(df)
    clean(last)
    last = out._2
    (out._1, out._3)
  }

  /** Checkpoint OUTSIDE the generation chain — for loop-invariant frames
    * (e.g. the edge relation) that every iteration reads. Freed only at
    * `close()`.
    */
  def pin(df: DataFrame): DataFrame = {
    val out = checkpointRdd(df, serialized = true)
    pinned ::= out._2
    out._1
  }
  private var pinned: List[RDD[InternalRow]] = Nil

  /** [[pin]] for a frame that the loop groups by its partitioning key:
    * the pinned frame reports the partitioning it was computed with
    * (hash of that key), so those groupings add no exchange.
    */
  def pinPartitioned(df: DataFrame): DataFrame = {
    val out = checkpointRdd(df, serialized = true, partitioned = true)
    pinned ::= out._2
    out._1
  }

  /** Checkpoint a generation that BACKS the returned result — tracked
    * nowhere, never freed by [[close]]; like the final [[apply]]
    * generation it lives until the RDD is garbage-collected. For
    * algorithms whose RESULT is the union over ALL generations
    * ([[graft.ops.Graph.randomWalks]]): returning the union of kept
    * generations instead of re-checkpointing it avoids holding a second
    * full-output copy in executor storage on top of the generations
    * themselves — the r13 q338 100× run blew past storage exactly there.
    */
  def keep(df: DataFrame): DataFrame = checkpointRdd(df, serialized = true)._1

  /** Free pinned generations and restore the caller's checkpoint dir and
    * the two scoped session settings.
    * The last tracked generation stays alive (it backs the result frame).
    * Note `setCheckpointDir` always resolves to a fresh UUID subdirectory,
    * so the restored dir is a CHILD of the previous one — subsequent
    * checkpoints still land under the caller's chosen root.
    */
  private def close(): Unit = {
    pinned.foreach(clean)
    pinned = Nil
    if (checkpointDir.isDefined) sc.setCheckpointDir(prevDir.orNull)
    scoped.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `serialized` (long-lived frames: [[pin]]/[[keep]]): persist the
    * local checkpoint MEMORY_AND_DISK_SER instead of the deserialized
    * default — `localCheckpoint` keeps an existing level's
    * (de)serialization flag when adding disk, and serialized rows run
    * 3-5× smaller, so loop-invariant relations and result-backing
    * generations stop starving execution memory (the r13→r14 q338 100×
    * run OOM'd its PMI aggregation against deserialized pinned walk
    * state). Generation-chain frames ([[apply]]) stay deserialized:
    * they are short-lived and re-read in the hot loop.
    */
  private def checkpointRdd(df: DataFrame, serialized: Boolean = false,
      partitioned: Boolean = false): (DataFrame, RDD[InternalRow], Long) = {
    // INTERNAL rows end to end (GraftSqlShim): `df.rdd` would decode every
    // row to an external Row here and re-encode it on every downstream
    // read — pure per-row overhead for a frame only Spark itself touches.
    // (Partitioning/ordering preservation was tried and measured a net
    // loss — see the GraftSqlShim scaladoc; only exact statistics ride
    // along, unless a loop-invariant frame asks for its partitioning.)
    val rdd = GraftSqlShim.toInternalRdd(df)
    if (reliable) rdd.checkpoint()
    else {
      if (serialized)
        rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      rdd.localCheckpoint()
    }
    // materialize now (so the predecessor can be freed), measuring exact
    // row count + bytes in the same job for truthful planner statistics
    val (n, bytes) = GraftSqlShim.materializeCounted(rdd, df.schema)
    (GraftSqlShim.fromInternalRdd(df, rdd, Some((n, bytes)), partitioned),
      rdd, n)
  }

  private def clean(r: RDD[InternalRow]): Unit = if (r != null) {
    r.getCheckpointFile.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      // best-effort: a failed delete only re-introduces the old leak
      try p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
      catch { case scala.util.control.NonFatal(_) => }
    }
    r.unpersist(blocking = false)
  }
}

private[graft] object Checkpointer {
  /** The session settings an open Checkpointer scopes (see the class doc). */
  val IdInClassName = "spark.sql.codegen.useIdInClassName"
  val CoalesceFloor = "spark.sql.adaptive.coalescePartitions.minPartitionSize"

  /** Run `body` with a fresh Checkpointer and close it afterwards, also
    * when `body` throws. `body`'s result may read the final generation,
    * which outlives the close (see the class doc).
    */
  def using[A](spark: SparkSession, checkpointDir: Option[String])(
      body: Checkpointer => A): A = {
    val cp = new Checkpointer(spark, checkpointDir)
    try body(cp) finally cp.close()
  }
}
