package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftSqlShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow,
  InterpretedOrdering, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType,
  StructField, StructType}

/** Iterative graph propagation beyond connected components: PageRank over
  * an edge relation. Each iteration is one equi-join + one aggregation on
  * the edge key — the textbook distributed formulation (contributions flow
  * along edges, never a matrix in driver memory), so the cluster cost is
  * `iters` keyed shuffles of (node, rank) pairs.
  *
  * For long runs the caller should pass `checkpointEvery` so the lineage
  * is cut the same way the connected-components loops do it
  * (graft.Checkpointer); the default (0 = off) suits the few-iteration
  * analytical use this engine gates.
  */
object Graph {

  /** Edges whose endpoints are both non-null: no null node can appear in
    * the result of an op that drops them first.
    */
  private def dropNullEnds(edges: DataFrame): DataFrame =
    edges.filter(col("u").isNotNull && col("v").isNotNull)

  /** k-core decomposition by iterative peeling on an UNDIRECTED graph
    * (edge list `(u, v)`; duplicates, self-loops and both orientations
    * tolerated — canonicalized first). Each round removes every vertex
    * whose CURRENT degree is below k and the edges incident to it; the
    * fixed point is the k-core: the maximal subgraph where every vertex
    * keeps degree ≥ k (Seidman 1983). Deterministic — the fixed point is
    * unique regardless of peel order.
    *
    * One round = one degree aggregation + two semi-joins on the edge
    * keys; every shuffle carries (node) or (edge) pairs, never anything
    * data-squared. Each generation materializes through the
    * [[graft.Checkpointer]] (the edge frame is consumed by the degree
    * agg, both semi-joins AND the convergence probe — a lazy chain would
    * replay the whole peel prefix per consumer, the dangling-PageRank
    * lesson). The convergence probe is one `count()` per round: a driver
    * scalar, not data.
    *
    * @param maxRounds peel-round cap; the loop stops early at the fixed
    *                  point (almost always long before — peel depth is
    *                  the graph's degeneracy ordering length, typically
    *                  tens of rounds even on billion-edge graphs)
    * @return (node, deg) for every vertex of the k-core, with its degree
    *         INSIDE the core (≥ k by construction); empty when the graph
    *         has no k-core
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(maxRounds >= 1, "need at least one round")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      def degrees(e: DataFrame): DataFrame = e.select(col("a").as("node"))
        .unionAll(e.select(col("b").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
      // the checkpoint materialization already counts rows — read it for
      // the convergence probe instead of launching a count job per round
      var (cur, nEdges) = cp.applyCounted(edges.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct())
      var round = 0
      var converged = nEdges == 0L
      while (!converged && round < maxRounds) {
        val keep = degrees(cur).filter(col("deg") >= k)
        val (next, nNext) = cp.applyCounted(cur
          .join(keep.select(col("node").as("a")), Seq("a"), "left_semi")
          .join(keep.select(col("node").as("b")), Seq("b"), "left_semi")
          .select(col("a"), col("b")))
        converged = nNext == nEdges
        nEdges = nNext
        cur = next
        round += 1
      }
      val out = degrees(cur).filter(col("deg") >= k)
      // materialize the result before close() frees the generations
      val res = cp(out)
      res
    }
  }

  /** Single-source BFS hop distances on a DIRECTED edge list `(u, v)`
    * (symmetrize first for undirected semantics). Frontier expansion:
    * round r joins the current frontier against the edges and anti-joins
    * the already-visited set, so every node is settled at its FIRST
    * (minimal) depth — classic distributed BFS, one equi-join + one
    * distinct + one anti-join per level, all keyed by node id.
    *
    * Both the visited set and the frontier are multi-consumer frames
    * (join + anti-join + empty probe), so each generation materializes
    * through the [[graft.Checkpointer]]. The per-level empty probe is an
    * `isEmpty` (driver boolean, not data).
    *
    * @param source   the start node id (same type as u/v after Spark's
    *                 usual literal coercion)
    * @param maxDepth levels to expand (distances beyond it are absent
    *                 from the result, as is every unreachable node)
    * @return (node, dist) with dist in [0, maxDepth]
    */
  def bfsLevels(edges: DataFrame, source: Any, maxDepth: Int): DataFrame = {
    require(maxDepth >= 0, "maxDepth must be >= 0")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = cp.pin(edges.select(col("u"), col("v")).distinct())
      // single generation chain: the frontier is a FILTER over the
      // checkpointed visited frame (dist == depth), never a second live
      // generation — the Checkpointer frees each superseded generation as
      // the next lands, so holding two would read freed blocks
      var (visited, nVisited) = cp.applyCounted(e.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0).as("dist")))
      var depth = 0
      var done = false
      while (!done && depth < maxDepth) {
        val frontier = visited.filter(col("dist") === depth)
        // candidates need no distinct and no anti-join: the min(dist)
        // aggregation over (visited ∪ candidates) dedups AND settles every
        // node at its first depth in the SAME single shuffle
        val cand = e
          .join(frontier.select(col("node").as("u")), "u")
          .select(col("v").as("node"), lit(depth + 1).as("dist"))
        val (v2, n2) = cp.applyCounted(visited.unionByName(cand)
          .groupBy("node").agg(min("dist").as("dist")))
        // the checkpoint materialization's count doubles as the
        // convergence probe (no growth → frontier added nothing)
        visited = v2
        done = n2 == nVisited
        nVisited = n2
        depth += 1
      }
      visited
    }
  }

  /** Single-source shortest paths on a WEIGHTED directed edge list
    * `(u, v, w)` — distributed Bellman–Ford: each round relaxes every
    * edge once,
    *
    *   dist'(v) = min(dist(v), min_{u→v} dist(u) + w(u,v)),
    *
    * as ONE frontier-free equi-join + ONE min aggregation keyed by node
    * (the [[bfsLevels]] settle-in-one-shuffle shape, with + w instead of
    * + 1). `rounds` bounds the hop count of discovered paths — run it to
    * the graph's (weighted-path) diameter for exact distances; a fixed
    * round count keeps the result deterministic and the oracle
    * closed-form. Parallel edges collapse to their MINIMUM weight first.
    *
    * Each generation materializes through [[graft.Checkpointer]] so the
    * lineage stays flat on long runs.
    *
    * @return (node, dist) for every node reached within `rounds` hops
    */
  def sssp(edges: DataFrame, source: Any, rounds: Int): DataFrame = {
    require(rounds >= 0, "rounds must be >= 0")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = cp.pin(edges
        .select(col("u"), col("v"), col("w").cast("double").as("w"))
        .groupBy("u", "v").agg(min("w").as("w")))
      var dist = cp(e.sparkSession.range(1)
        .select(lit(source).as("node"), lit(0.0).as("dist")))
      var round = 0
      while (round < rounds) {
        val cand = e
          .join(dist.select(col("node").as("u"), col("dist").as("du")), "u")
          .select(col("v").as("node"), (col("du") + col("w")).as("dist"))
        dist = cp(dist.unionByName(cand)
          .groupBy("node").agg(min("dist").as("dist")))
        round += 1
      }
      dist
    }
  }

  /** Weighted one-mode projection of a bipartite graph: given left–right
    * incidences `(u, v)` (customers–products, parts–suppliers,
    * documents–terms), connect left nodes that share a right node, with
    * weight = number of shared right nodes — the co-occurrence graph the
    * community/centrality operators then consume.
    *
    * The projection's cost is Σ_v deg(v)² — ONE hub right-node makes it
    * quadratic, so `maxRightDegree` EXCLUDES right nodes above the cap
    * before the self-join (the LSH bucket-cap discipline; in co-purchase
    * practice hubs are stop-products and dropping them is standard).
    * Execution: one degree aggregation + one count-filter semi-join +
    * one self-join keyed on the right node + one (a, b) count — all
    * shuffles are edge- or pair-keyed.
    *
    * @return (a, b, weight) with a < b, only pairs that co-occur
    */
  def bipartiteProject(edges: DataFrame, maxRightDegree: Int): DataFrame = {
    require(maxRightDegree >= 2, "maxRightDegree must be >= 2")
    val e = edges.select(col("u"), col("v")).distinct()
    val keep = e.groupBy("v").agg(count(lit(1)).as("__d"))
      .filter(col("__d") <= maxRightDegree)
      .select(col("v"))
    val pruned = e.join(keep, Seq("v"), "left_semi")
    pruned.join(pruned.select(col("v"), col("u").as("u2")), "v")
      .filter(col("u") < col("u2"))
      .groupBy(col("u").as("a"), col("u2").as("b"))
      .agg(count(lit(1)).as("weight"))
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) on a DIRECTED edge list
    * `(u, v)`: good hubs point at good authorities and vice versa. Each
    * iteration updates a(v) = Σ_{u→v} h(u), then h(u) = Σ_{u→v} a(v),
    * each L1-normalized (Σ = 1 — the sum-norm variant, which keeps both
    * vectors probability-like and the oracle arithmetic closed-form).
    *
    * Fixed `iters`, no convergence probe — the analytical use runs a
    * handful of power iterations and a fixed count keeps the result
    * engine-reproducible and the oracle unrollable (the q176 discipline).
    * Per iteration: two edge-keyed join+aggregations + two one-row total
    * frames carried as broadcasts; the (node, h, a) state materializes
    * through the [[graft.Checkpointer]] every iteration (it is
    * multi-consumer: both update joins and the totals read it).
    *
    * @return (node, hub, authority) over the union of sources and sinks,
    *         both columns ≥ 0 and summing to 1
    */
  def hits(edges: DataFrame, iters: Int,
      checkpointEvery: Int = 1): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = cp.pin(edges.select(col("u"), col("v")).distinct())
      val nodes = cp.pin(e.select(col("u"))
        .unionAll(e.select(col("v").as("u"))).distinct()
        .select(col("u").as("node")))
      val n = nodes.count()
      var state = cp(nodes.select(col("node"),
        lit(1.0 / n).as("h"), lit(1.0 / n).as("a")))
      for (i <- 1 to iters) {
        val aRaw = nodes.join(
          e.join(state.select(col("node").as("u"), col("h")), "u")
            .groupBy(col("v").as("node")).agg(sum("h").as("__x")),
          Seq("node"), "left")
          .select(col("node"), coalesce(col("__x"), lit(0.0)).as("ar"))
        val aTot = aRaw.agg(sum("ar").as("__t"))
        val aN = aRaw.crossJoin(broadcast(aTot))
          .select(col("node"), (col("ar") / col("__t")).as("a"))
        val hRaw = nodes.join(
          e.join(aN.select(col("node").as("v"), col("a")), "v")
            .groupBy(col("u").as("node")).agg(sum("a").as("__x")),
          Seq("node"), "left")
          .select(col("node"), coalesce(col("__x"), lit(0.0)).as("hr"))
        val hTot = hRaw.agg(sum("hr").as("__t"))
        val hN = hRaw.crossJoin(broadcast(hTot))
          .select(col("node"), (col("hr") / col("__t")).as("h"))
        val next = hN.join(aN, "node").select(col("node"), col("h"), col("a"))
        state =
          if (i == iters || (checkpointEvery > 0 && i % checkpointEvery == 0))
            cp(next)
          else next
      }
      state.withColumnRenamed("h", "hub").withColumnRenamed("a", "authority")
    }
  }

  /** Synchronous label-propagation community detection on a DIRECTED
    * adjacency list `(u, v)` (symmetrize first for undirected semantics —
    * a node adopts labels from nodes it points AT). Every node starts
    * labeled with its own id; each round it adopts the most frequent
    * label among its out-neighbors, ties broken toward the SMALLEST
    * label — a total order, so the whole run is deterministic and
    * engine-reproducible (asynchronous LPA is not). Nodes with no
    * out-edges keep their label.
    *
    * The label state lives in one of two places, chosen by a guard:
    * whether the planner would broadcast the distinct edges, i.e. whether
    * they are within `spark.sql.autoBroadcastJoinThreshold` by their
    * measured size (`GraftSqlShim.withinBroadcastThreshold` over the bytes
    * of the distinct (u, v) rows). The state has at most one entry per
    * edge, so that size bounds it.
    *
    *  - Within the threshold the whole run is one bounded scan
    *    ([[graft.BoundedScan]]) plus driver arithmetic, with no shuffle and
    *    nothing cached. Each scan task numbers its ends in a local
    *    dictionary, keeps its distinct edges as codes over it and adds up
    *    their bytes, and stops reading once that total passes the guard
    *    (its edges are some of all the distinct edges, so all of them are
    *    then past it too). The parts are merged exactly, so the guard reads
    *    the same bytes whatever the input's partitioning, duplicates or
    *    row order. The driver numbers the nodes in Spark's order for their
    *    type (so the smallest id is the smallest label) and runs every
    *    round in an `Int` label array over one adjacency of the edges. The
    *    result is a driver-held frame built from the last array. Ids whose
    *    equality is not binary (strings under a non-binary collation), and
    *    ends of two types unless both are integral, take the loop below at
    *    any size.
    *  - Above it the rounds are a lazy DataFrame chain over the distinct
    *    edges, shuffled once by `u` and pinned through the
    *    [[graft.Checkpointer]] with that partitioning. The state is one
    *    (u, label) row per node with an out-edge: round 1 reads label = v
    *    with no join, and round i left-joins the edges to the previous
    *    state on `v` (a `v` with no out-edges is not in it and votes with
    *    its own id); the planner shuffles both sides. The vote count and
    *    the arg-max group by keys that start with `u` (the arg-max is a
    *    sort aggregate). Nodes that appear only as `v` never update, so
    *    they are added once, to the final generation. Rounds share
    *    compiled stages: the Checkpointer keeps stage ids out of generated
    *    class names. When the guard sends the edges here, the scan above
    *    has already read as much of them as it took to tell.
    *
    * Both paths return the same rows with the same schema.
    *
    * Fixed `rounds`, no convergence probe: the analytical use runs a
    * handful of rounds, and a fixed count keeps the oracle unrollable.
    *
    * Edges with a NULL `u` or `v` are dropped, so no null node appears in
    * the result.
    *
    * @param checkpointEvery cut the chain's lineage every this many rounds
    *                        (0 = never); only the DataFrame loop above the
    *                        threshold has a lineage to cut
    * @return (u, label) for every node that appears in a non-null edge
    */
  def labelPropagation(edges: DataFrame, rounds: Int,
      checkpointEvery: Int = 0): DataFrame =
    labelPropagation(edges, rounds, checkpointEvery,
      edges.sparkSession.sparkContext.defaultParallelism)

  /** [[labelPropagation]] with at most `tasks` tasks in the driver-state
    * path's scan.
    */
  private[graft] def labelPropagation(edges: DataFrame, rounds: Int,
      checkpointEvery: Int, tasks: Int): DataFrame = {
    require(rounds >= 1, "need at least one round")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      // the scope's settings matter only to the loop (the driver-state path
      // plans no round), but `e` is planned inside it too: the loop reads
      // the rows of the scan's execution, so an input's own exchanges get
      // the loop settings whichever path then reads them
      val e = dropNullEnds(edges).select(col("u"), col("v"))
      LabelKernel(e, rounds, tasks).getOrElse {
        // `e`'s rows as the scan's execution made them, so an input with
        // exchanges of its own does not run them again
        val rows = GraftSqlShim.fromInternalRdd(e, e.queryExecution.toRdd)
        val distinct = cp.pinPartitioned(rows.repartition(col("u")).distinct())
        // arg-max by (n desc, label asc) as a MIN over (−n, label) structs:
        // same winner as a rank-1 window (struct comparison is
        // lexicographic), without sorting every vote row per u
        def adopt(votes: DataFrame): DataFrame = votes
          .groupBy("u", "label").agg(count(lit(1)).as("n"))
          .groupBy("u").agg(min(struct((-col("n")).as("nn"),
            col("label"))).as("__best"))
          .select(col("u"), col("__best.label").as("label"))
        var state = adopt(distinct.select(col("u"), col("v").as("label")))
        for (i <- 2 to rounds) {
          // the checkpointEvery cadence cuts the lineage after round i − 1
          if (checkpointEvery > 0 && (i - 1) % checkpointEvery == 0)
            state = cp(state)
          val prev = state.select(col("u").as("v"), col("label").as("__l"))
          state = adopt(distinct.join(prev, Seq("v"), "left")
            .select(col("u"), coalesce(col("__l"), col("v")).as("label")))
        }
        val sinks = distinct.select(col("v").as("u"))
          .join(distinct.select(col("u")).distinct(), Seq("u"), "left_anti").distinct()
        cp(state.unionByName(sinks.select(col("u"), col("u").as("label"))))
      }
    }
  }

  /** [[labelPropagation]]'s driver-state path (see there). */
  private object LabelKernel {

    /** The result for the non-null edges `e`; None when their distinct
      * rows are past the broadcast guard (having read only as much of `e`
      * as it took to tell) or their ids take the loop.
      */
    def apply(e: DataFrame, rounds: Int, tasks: Int): Option[DataFrame] = {
      val spark = e.sparkSession
      val limit = GraftSqlShim.broadcastThreshold(spark)
      if (limit < 0) return None
      val Array(uF, vF) = e.schema.fields
      // u and v compared as Spark compares them: in their common type. Ends
      // of two types take the kernel only when both are integral, so that
      // the cast to the wider one is exact and a node is one id on both
      // ends (Long against Double, say, would merge ids above 2^53 that
      // `distinct` keeps apart)
      val t = if (uF.dataType == vF.dataType) uF.dataType
        else if (integral(uF.dataType) && integral(vF.dataType))
          e.select(col("u")).union(e.select(col("v"))).schema.head.dataType
        else return None
      if (!UnsafeRowUtils.isBinaryStable(t)) return None
      // an endpoint as a one-field row whose bytes are equal iff Spark
      // groups the two ids together
      val tz = spark.conf.get("spark.sql.session.timeZone")
      val key = Seq(uF, vF).zipWithIndex.map { case (f, i) =>
        val ref = BoundReference(i, f.dataType, nullable = true)
        GraftSqlShim.normalizeFloats(
          if (f.dataType == t) ref else Cast(ref, t, Some(tz)))
      }
      // the (u, v) row that `distinct` emits for an edge, in the ends' own
      // types, from its two node rows: its bytes are what the guard adds up
      val edgeRow = Seq(uF, vF).zipWithIndex.map { case (f, i) =>
        val ref = BoundReference(i, t, nullable = true)
        if (f.dataType == t) ref else Cast(ref, f.dataType, Some(tz))
      }
      val ord = InterpretedOrdering.forSchema(Seq(t))
      graft.BoundedScan(e, "labelPropagation", tasks) { it =>
        val ends = key.map(k => UnsafeProjection.create(Seq(k)))
        val row = UnsafeProjection.create(edgeRow)
        val pair = new JoinedRow
        val ids = new java.util.HashMap[UnsafeRow, Integer]
        val nodes = mutable.ArrayBuffer.empty[UnsafeRow]
        def id(k: UnsafeRow): Int = {
          val i = ids.get(k)
          if (i != null) i
          else { val c = k.copy(); ids.put(c, nodes.length); nodes += c; nodes.length - 1 }
        }
        val seen = new mutable.LongMap[Unit]
        val codes = Array.newBuilder[Long]
        var bytes = 0L
        // a part's distinct edges are some of `e`'s, so a part past the
        // guard puts the whole of `e` past it
        while (GraftSqlShim.withinBroadcastThreshold(bytes, limit) && it.hasNext) {
          val r = it.next()
          val (u, v) = (id(ends(0)(r)), id(ends(1)(r)))
          val c = u.toLong << 32 | v
          if (!seen.contains(c)) {
            seen(c) = ()
            codes += c
            bytes += row(pair(nodes(u), nodes(v))).getSizeInBytes
          }
        }
        if (!GraftSqlShim.withinBroadcastThreshold(bytes, limit)) None
        else Some(Edges(nodes.toArray, codes.result(), bytes, ord))
      } { (a, b) =>
        for (x <- a; y <- b; m = x.union(y, ord, UnsafeProjection.create(edgeRow))
          if GraftSqlShim.withinBroadcastThreshold(m.bytes, limit)) yield m
      }.map { edges =>
        val nodes = edges.nodes
        val label = vote(edges.codes, nodes.length, rounds)
        val rows = nodes.indices.map(i => new GenericInternalRow(
          Array[Any](nodes(i).get(0, t), nodes(label(i)).get(0, t))): InternalRow)
        // the DataFrame loop's schema: u is nullable when either input end
        // is, label always (an aggregate's result)
        val out = GraftSqlShim.localFrame(spark, StructType(Seq(
          StructField(uF.name, t, uF.nullable || vF.nullable),
          StructField("label", t))), rows)
        if (vF.dataType == t) out
        else out.select(col(uF.name), col("label").cast(vF.dataType))
      }
    }

    private def integral(t: DataType): Boolean = t match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }

    /** The label of each of `n` nodes after `rounds` synchronous votes over
      * the distinct edges `codes` (`u << 32 | v`, ascending): a node with
      * out-edges adopts its out-neighbours' most frequent label, ties to the
      * smallest; the others keep their own.
      */
    private def vote(codes: Array[Long], n: Int, rounds: Int): Array[Int] = {
      // CSR: src(i)'s out-neighbours are nbr(off(i) until off(i + 1))
      val off = codes.indices.filter(j =>
        j == 0 || (codes(j) >>> 32) != (codes(j - 1) >>> 32)).toArray :+ codes.length
      val src = off.init.map(j => (codes(j) >>> 32).toInt)
      val nbr = codes.map(_.toInt)
      val votes = new Array[Int](n)
      var label = Array.range(0, n)
      for (_ <- 1 to rounds) {
        val next = label.clone()
        for (i <- src.indices) {
          var best = -1
          var bestN = 0
          var j = off(i)
          while (j < off(i + 1)) {
            val l = label(nbr(j))
            val c = votes(l) + 1
            votes(l) = c
            if (c > bestN || (c == bestN && l < best)) { best = l; bestN = c }
            j += 1
          }
          j = off(i)
          while (j < off(i + 1)) { votes(label(nbr(j))) = 0; j += 1 }
          next(src(i)) = best
        }
        label = next
      }
      label
    }
  }

  /** Distinct edges: `nodes` are their distinct ends as one-field key
    * rows, ascending in Spark's order, so a smaller index is a smaller id;
    * `codes` are the edges as `u << 32 | v` over those indices, ascending;
    * `bytes` are the edges' measured bytes as (u, v) rows.
    */
  private final class Edges(val nodes: Array[UnsafeRow], val codes: Array[Long],
      val bytes: Long) extends Serializable {

    /** The edges of both, each once. `edgeRow` builds an edge's (u, v) row
      * from its two node rows.
      */
    def union(o: Edges, ord: Ordering[InternalRow], edgeRow: UnsafeProjection): Edges = {
      if (codes.isEmpty) return o
      if (o.codes.isEmpty) return this
      // the sorted union of the nodes, and where each side's nodes went
      val all = Array.newBuilder[UnsafeRow]
      val (to, oTo) = (new Array[Int](nodes.length), new Array[Int](o.nodes.length))
      var i = 0; var j = 0; var k = 0
      while (i < nodes.length || j < o.nodes.length) {
        val c = if (i == nodes.length) 1 else if (j == o.nodes.length) -1
          else ord.compare(nodes(i), o.nodes(j))
        if (c <= 0) { all += nodes(i); to(i) = k; i += 1 }
        else all += o.nodes(j)
        if (c >= 0) { oTo(j) = k; j += 1 }
        k += 1
      }
      // renumbering keeps each side's codes ascending: merge them, and take
      // an edge both sides hold once, with its bytes
      def renum(c: Long, m: Array[Int]) = m((c >>> 32).toInt).toLong << 32 | m(c.toInt)
      val merged = Array.newBuilder[Long]
      var bytes = this.bytes + o.bytes
      i = 0; j = 0
      while (i < codes.length || j < o.codes.length) {
        val a = if (i < codes.length) renum(codes(i), to) else Long.MaxValue
        val b = if (j < o.codes.length) renum(o.codes(j), oTo) else Long.MaxValue
        if (a <= b) { merged += a; i += 1 } else { merged += b; j += 1 }
        if (a == b) {
          j += 1
          bytes -= edgeRow(new JoinedRow(nodes((codes(i - 1) >>> 32).toInt),
            nodes(codes(i - 1).toInt))).getSizeInBytes
        }
      }
      new Edges(all.result(), merged.result(), bytes)
    }
  }

  private object Edges {
    /** From unsorted `nodes` and `codes` over their indices. */
    def apply(nodes: Array[UnsafeRow], codes: Array[Long], bytes: Long,
        ord: Ordering[InternalRow]): Edges = {
      val order = nodes.indices.toArray.sortBy(i => nodes(i): InternalRow)(ord)
      val rank = new Array[Int](nodes.length)
      order.indices.foreach(k => rank(order(k)) = k)
      val sorted = codes.map(c => rank((c >>> 32).toInt).toLong << 32 | rank(c.toInt))
      java.util.Arrays.sort(sorted)
      new Edges(order.map(nodes), sorted, bytes)
    }
  }

  /** Degree assortativity of an UNDIRECTED graph: the Pearson
    * correlation of endpoint degrees over all directed edge stubs (each
    * undirected edge contributes both orientations — the standard
    * Newman 2002 estimator). Positive: hubs link to hubs; negative:
    * hubs link to leaves.
    *
    * Degrees are exact integer aggregates; the correlation's five
    * moments sum exact integers (degrees are bounded by n, so the
    * products stay inside 2⁵³ in double far beyond any real graph's
    * edge file), and r is one fixed-order expression on the single
    * moments row.
    *
    * @return one row (n_edges, assortativity) — assortativity on a
    *         6-digit grid, null for degree-regular graphs (zero variance)
    */
  def degreeAssortativity(edges: DataFrame): DataFrame = {
    val e = edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // over the two orientations the stub moments are symmetric
    // (sx = sy, sxx = syy), so ONE pass over the canonical edges carries
    // everything: n = 2E, sx = Σ(da+db), sxy = 2Σ da·db,
    // sxx = Σ(da²+db²), and r = (n·sxy − sx²)/(n·sxx − sx²) — the sqrt
    // cancels exactly
    val m = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).as("ne"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("db")).as("sxy2"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"))
    val den = lit(2) * col("ne") * col("sxx") - col("sx") * col("sx")
    m.select(col("ne").as("n_edges"),
      round(when(den =!= 0,
        (lit(2) * col("ne") * (lit(2) * col("sxy2")) -
          col("sx") * col("sx")).cast("double") / den.cast("double")),
        6).as("assortativity"))
  }

  /** Exact triangle count + global clustering coefficient on an
    * UNDIRECTED graph given as an edge list `(u, v)` (duplicates,
    * self-loops and both orientations tolerated — normalized first).
    *
    * Uses the degree-ordered orientation: every edge points from its
    * lower-(degree, id) endpoint to the higher one, which bounds every
    * out-neighborhood by O(√m), so the wedge join materializes
    * Σ outdeg² = O(m^1.5) candidate wedges instead of Σ deg² (which a
    * hub node makes quadratic). Each triangle is counted exactly once:
    * it has a unique minimum vertex in the (degree, id) total order, and
    * only that vertex emits the wedge. All shuffles are edge-keyed; the
    * only driver values are the five scalars of the result row.
    *
    * @return one row: (n_nodes, n_edges, n_wedges, n_triangles,
    *         clustering_coeff = 3·T / wedges, 6-digit grid)
    */
  def triangleStats(edges: DataFrame): DataFrame = {
    // canonical simple undirected edges: a < b by id order
    val e = edges.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient by (deg, id): ties in degree fall back to the id order the
    // canonical pair already encodes (a < b)
    val withDeg = e
      .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db")), col("a"))
        .otherwise(col("b")).as("src"),
      when(col("da") < col("db") || (col("da") === col("db")), col("b"))
        .otherwise(col("a")).as("dst"))
    // wedges at the minimum vertex; the unordered {y, z} pair is emitted
    // once (y < z by id), and its canonical closing edge is then (y, z)
    val wedges = oriented.select(col("src"), col("dst").as("y"))
      .join(oriented.select(col("src"), col("dst").as("z")), "src")
      .filter(col("y") < col("z"))
    val triangles = wedges
      .join(e, col("y") === col("a") && col("z") === col("b"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val base = deg.agg(
      count(lit(1)).as("n_nodes"),
      (sum("deg") / 2).cast("long").as("n_edges"),
      sum(col("deg") * (col("deg") - 1) / 2).cast("long").as("n_wedges"))
    base.crossJoin(broadcast(triangles))
      .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
        col("n_triangles"),
        round(lit(3.0) * col("n_triangles") /
          when(col("n_wedges") === 0, lit(null)).otherwise(col("n_wedges")),
          6).as("clustering_coeff"))
  }

  /** k-truss decomposition (Cohen 2008): the maximal subgraph in which
    * every edge closes at least k−2 triangles WITHIN the subgraph.
    * Iterative peel, the [[kCore]] shape one level up: each round
    * enumerates the surviving graph's triangles with [[triangleStats]]'s
    * degree-ordered wedge join (out-neighborhoods bounded O(√m), so the
    * wedge surface is O(m^1.5), hub-safe), counts per-edge support with
    * ONE edge-keyed aggregation over the 3-edges-per-triangle explode,
    * and drops under-supported edges with a semi join. Rounds are
    * bounded by `maxRounds` and stop early at the fixpoint (the
    * convergence probe reads the checkpoint's own row count — no extra
    * job); extra rounds past convergence are no-ops, so a fixed-round
    * unroll replays the result exactly.
    *
    * @param edges (u, v) stubs — duplicates, self-loops, both
    *              orientations tolerated (normalized to canonical a < b)
    * @return surviving canonical edges with their final within-truss
    *         support: (a, b, support), support >= k−2
    */
  def kTruss(edges: DataFrame, k: Int, maxRounds: Int = 5): DataFrame = {
    require(k >= 3, s"need k >= 3 (k-truss is triangle-based), got $k")
    require(maxRounds >= 1, "need at least one round")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      def support(e: DataFrame): DataFrame = {
        val deg = e.select(col("a").as("node"))
          .unionAll(e.select(col("b").as("node")))
          .groupBy("node").agg(count(lit(1)).as("deg"))
        val withDeg = e
          .join(deg.select(col("node").as("a"), col("deg").as("da")), "a")
          .join(deg.select(col("node").as("b"), col("deg").as("db")), "b")
        val oriented = withDeg.select(
          when(col("da") < col("db") || (col("da") === col("db")), col("a"))
            .otherwise(col("b")).as("src"),
          when(col("da") < col("db") || (col("da") === col("db")), col("b"))
            .otherwise(col("a")).as("dst"))
        val tri = oriented.select(col("src"), col("dst").as("y"))
          .join(oriented.select(col("src"), col("dst").as("z")), "src")
          .filter(col("y") < col("z"))
          .join(e, col("y") === col("a") && col("z") === col("b"), "left_semi")
        // each triangle (x, y, z) supports its three canonical edges; the
        // wedge vertex x = src can sit anywhere in the id order
        tri.select(least(col("src"), col("y")).as("a"),
            greatest(col("src"), col("y")).as("b"))
          .unionAll(tri.select(least(col("src"), col("z")).as("a"),
            greatest(col("src"), col("z")).as("b")))
          .unionAll(tri.select(col("y").as("a"), col("z").as("b")))
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
      }
      var (cur, nEdges) = cp.applyCounted(edges.filter(col("u") =!= col("v"))
        .select(least(col("u"), col("v")).as("a"),
          greatest(col("u"), col("v")).as("b"))
        .distinct())
      var round = 0
      var converged = nEdges == 0L
      while (!converged && round < maxRounds) {
        val keep = support(cur).filter(col("support") >= k - 2)
          .select("a", "b")
        val (next, nNext) = cp.applyCounted(
          cur.join(keep, Seq("a", "b"), "left_semi"))
        converged = nNext == nEdges
        nEdges = nNext
        cur = next
        round += 1
      }
      val res = cp(cur.join(support(cur), Seq("a", "b"))
        .select(col("a"), col("b"), col("support")))
      res
    }
  }

  /** Standard damped PageRank on a DIRECTED edge list `(u, v)` (symmetrize
    * first for undirected graphs). Nodes are the union of sources and
    * sinks; dangling nodes (no outgoing edge) redistribute their rank
    * uniformly each iteration, so Σ rank = 1 exactly on ANY directed
    * graph:
    *
    * r₀ = 1/n; rₖ₊₁(v) = (1−d)/n + d · (Σ_{u→v} rₖ(u)/outdeg(u) + Dₖ/n)
    *
    * where Dₖ = Σ rₖ over dangling nodes — ONE extra anti-join aggregate
    * per iteration, carried as a broadcast one-row frame (no driver
    * action, the loop stays fully declarative).
    *
    * Edges with a NULL `u` or `v` are dropped, so no null node appears in
    * the result.
    *
    * @return (u, rank) for every node of a non-null edge, Σ rank = 1
    *         (float tolerance)
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85,
      checkpointEvery: Int = 0): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    // the input relation is consumed several times (degree agg, dangling
    // probe, every iteration's join) and is often itself an expensive
    // lazy plan (a distinct, a filter over a big fact) — pin it ONCE so
    // all consumers read a materialized frame
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = cp.pin(dropNullEnds(edges))
      val deg = e.groupBy("u").agg(count(lit(1)).as("d"))
      // dangling detection: does any edge TARGET a node that never appears
      // as a source? One anti-join probe with a `take(1)` short circuit
      // over the pinned edges — the build side is the (much smaller)
      // source-key frame, typically a broadcast probe
      val hasDangling = !e.select(col("v"))
        .join(deg.select(col("u").as("__s")), col("v") === col("__s"),
          "left_anti")
        .isEmpty
      if (!hasDangling) {
        // node universe ≡ source keys; scalar metadata via one count job
        val n = deg.count()
        // closed graph (every node is a source — always true for
        // symmetrized graphs): the loop is a pure lazy chain, ONE join+agg
        // per iteration, nothing consumed twice; the FINAL generation
        // materializes through the checkpointer so close() can free the
        // pinned edges, intermediates follow the checkpointEvery cadence
        val withDeg = e.join(deg, "u")
        var ranks = deg.select(col("u"), lit(1.0 / n).as("r"))
        for (i <- 1 to iters) {
          val next = withDeg.join(ranks, "u")
            .groupBy(col("v"))
            .agg(sum(col("r") / col("d")).as("in_mass"))
            .select(col("v").as("u"),
              (lit((1.0 - damping) / n) + lit(damping) * col("in_mass")).as("r"))
          ranks =
            if (i == iters || (checkpointEvery > 0 && i % checkpointEvery == 0))
              cp(next)
            else next
        }
        ranks
      } else {
        // dangling nodes exist: their rank is redistributed uniformly each
        // iteration, so Σ rank = 1 exactly. The dangling aggregate and the
        // contribution join BOTH consume the previous ranks — a lazy chain
        // would re-execute each prior iteration per consumer (exponential),
        // so every generation materializes through the checkpointer (the
        // GroupedGLM discipline; local checkpoints, superseded generations
        // freed as the next lands).
        val withDeg = cp.pin(e.join(deg, "u"))
        val nodes = cp.pin(e.select(col("u"))
          .union(e.select(col("v").as("u"))).distinct())
        // node count is scalar metadata (one count job over the pinned set)
        val n = nodes.count()
        var ranks = cp(nodes.select(col("u"), lit(1.0 / n).as("r")))
        for (_ <- 1 to iters) {
          // dangling mass: a tiny aggregate over the MATERIALIZED ranks,
          // carried as a broadcast one-row frame (no driver action)
          val dangling = ranks.join(deg, Seq("u"), "left_anti")
            .agg(coalesce(sum("r"), lit(0.0)).as("dm"))
          val inMass = withDeg.join(ranks, "u")
            .groupBy(col("v"))
            .agg(sum(col("r") / col("d")).as("in_mass"))
            .select(col("v").as("u"), col("in_mass"))
          val next = nodes.join(inMass, Seq("u"), "left")
            .crossJoin(broadcast(dangling))
            .select(col("u"),
              (lit((1.0 - damping) / n) + lit(damping) *
                (coalesce(col("in_mass"), lit(0.0)) + col("dm") / n)).as("r"))
          ranks = cp(next)
        }
        ranks
      }
    }
  }

  /** Personalized PageRank / random walk with restart (Haveliwala 2002) —
    * proximity of every node to a SOURCE set, the random-walk similarity
    * primitive behind related-item recommendation and seed expansion
    * ("people also bought", fraud-ring neighborhoods). [[pageRank]]'s
    * uniform teleport becomes a restart to the sources only, and dangling
    * mass returns to the sources too, so Σ rank = 1 exactly and mass is
    * CONCENTRATED around the seeds instead of spread globally.
    *
    * Same execution discipline as [[pageRank]]'s dangling branch: per
    * iteration ONE contribution join + aggregation, a tiny dangling
    * aggregate carried as a broadcast one-row frame, every generation
    * through the checkpointer (two consumers read each ranks frame).
    * Masses are quantized to the 1e-12 grid per round (the fixed-round
    * replay discipline); nodes with zero mass are dropped each round, so
    * the vector only ever holds the walk's reachable neighborhood.
    *
    * @param sources one-column frame of seed node ids (its first column
    *                is used); seeds absent from the graph are ignored
    * @return (u, r) over nodes with positive mass after `iters` rounds
    */
  def personalizedPageRank(edges: DataFrame, sources: DataFrame,
      iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = cp.pin(edges)
      val deg = cp.pin(e.groupBy("u").agg(count(lit(1)).as("d")))
      val withDeg = cp.pin(e.join(deg, "u"))
      val nodes = e.select(col("u"))
        .union(e.select(col("v").as("u"))).distinct()
      val src = cp.pin(nodes.join(
        sources.select(col(sources.columns.head).as("u")).distinct(),
        Seq("u"), "left_semi"))
      val nS = src.count()
      require(nS > 0, "no source node appears in the graph")
      val restart = cp.pin(src.select(col("u"), lit(1.0 / nS).as("rst")))
      val q12 = (c: Column) => floor(c * 1e12 + lit(0.5)) / 1e12
      var ranks = cp(restart.select(col("u"), col("rst").as("r")))
      for (_ <- 1 to iters) {
        val dangling = ranks.join(deg, Seq("u"), "left_anti")
          .agg(coalesce(sum("r"), lit(0.0)).as("dm"))
        val inMass = withDeg
          .join(ranks.select(col("u"), col("r").as("__r")), "u")
          .groupBy(col("v"))
          .agg(sum(col("__r") / col("d")).as("im"))
          .select(col("v").as("u"), col("im"))
        ranks = cp(restart.join(inMass, Seq("u"), "full")
          .crossJoin(broadcast(dangling))
          .select(col("u"), q12(
            coalesce(col("rst"), lit(0.0)) *
              (lit(1.0 - damping) + lit(damping) * col("dm")) +
              lit(damping) * coalesce(col("im"), lit(0.0))).as("r"))
          .filter(col("r") > 0))
      }
      ranks
    }
  }

  /** Newman modularity of a node partition — the quality readout for any
    * community assignment ([[labelPropagation]], connected components, or
    * an attribute partition): Q = Σ_c (e_c/M − (d_c/2M)²), where e_c is
    * the number of intra-community edges and d_c the total degree of
    * community c. Q ≈ 0 means the partition is no better than random
    * rewiring with the same degrees; well-separated communities score
    * 0.3–0.7.
    *
    * Input is the repo's symmetrized stub convention (every undirected
    * edge appears as both (u,v) and (v,u)), so 2M = stub count, intra
    * stubs = 2·e_c, and Q folds to Σ_c (intra2_c − d_c²/2M) / 2M.
    * Execution: TWO label equi-joins (labels frame is node-sized; AQE
    * broadcasts when small) + ONE per-community aggregation — all counts
    * exact integers, one pinned division per community at the end.
    *
    * @param labels (id, label) one row per node; stubs whose endpoint is
    *               missing from `labels` are dropped (and counted into
    *               no community)
    * @return per community: (label, n_nodes, intra2, degree2, q_contrib)
    *         with q_contrib on the 9-digit grid; sum(q_contrib) = Q
    */
  /** Deterministic DeepWalk walks (Perozzi et al. 2014's corpus step):
    * `walksPerNode` truncated random walks of `walkLen` nodes from every
    * node, where step t of walk (u, w) draws its neighbor from
    * md5("u#w#t") — content-keyed like the isolation-forest splits, so
    * walks are engine-replayable and partition-invariant, no RNG state.
    * Neighbor choice = 60-bit draw mod degree against the neighbor list
    * ranked by id (a total order).
    *
    * Scale shape: per step TWO node-keyed equi-joins (degree, then the
    * (node, rank) neighbor pick) over the walk frontier — walk state is
    * one row per live walk, never a path string; steps land as rows.
    * Frontiers are materialized through [[graft.Checkpointer.keep]] and
    * the returned union reads those generations directly — flat lineage
    * without a second full-corpus checkpoint of the union itself.
    *
    * @param edges symmetrized (u, v) stubs; deduplicated internally so
    *              ranks are well-defined under duplicate stubs
    * @return (walk_id, step, node) — walk_id = "u#w", step 0..walkLen−1;
    *         walks starting at isolated nodes stay at step 0
    */
  def randomWalks(edges: DataFrame, walksPerNode: Int,
      walkLen: Int): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"need 1 <= walksPerNode <= 64, got $walksPerNode")
    require(walkLen >= 2 && walkLen <= 32,
      s"need 2 <= walkLen <= 32, got $walkLen")
    graft.plans.GraftExtensions.ensureRegistered(edges.sparkSession)
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = edges.select(col("u"), col("v")).distinct()
      val w = Window.partitionBy("u").orderBy("v")
      val nbrs = cp.pin(e.withColumn("__rank",
        row_number().over(w).cast("long") - 1L))
      val degs = cp.pin(nbrs.groupBy("u").agg(count(lit(1)).as("__deg")))
      val starts = degs
        .select(col("u"), col("__deg"), explode(sequence(lit(0),
          lit(walksPerNode - 1))).as("__w"))
        .select(concat(col("u"), lit("#"), col("__w")).as("walk_id"),
          col("u").as("node"), col("__deg"))
      // neighbor rows carry the DESTINATION's degree (one upfront join),
      // so the frontier always knows its current node's degree and each
      // step is ONE (node, rank) compound-key equi-join — not a degree
      // join followed by a neighbor join. Walks are bit-identical to the
      // two-join form (same draw, same rank); only the plan changes.
      // A destination with no out-edges carries a null degree: the next
      // step's pmod(draw, null) rank matches nothing and the walk ends,
      // exactly as the inner degree-join ended it before.
      val degsV = degs.select(col("u").as("__vd"), col("__deg").as("__vdeg"))
      val nj = cp.pin(nbrs.join(degsV, col("v") === col("__vd"), "left")
        .select(col("u").as("__nu"), col("__rank").as("__nr"), col("v"),
          col("__vdeg")))
      // generations go through Checkpointer.keep: each frontier is
      // materialized once and BACKS the returned union directly (walkLen
      // <= 32 bounds the union width), instead of being pinned AND then
      // copied wholesale into one final full-output checkpoint. Peak
      // executor storage drops from 2x the walk corpus (all frontiers +
      // the union copy) to 1x — the r13 100x q338 run overflowed storage
      // at exactly that final copy (SCALE.md).
      var frontier = cp.keep(starts)
      var out = frontier.select(col("walk_id"), lit(0).as("step"),
        col("node"))
      for (t <- 1 until walkLen) {
        // step index as stable_lit: every step shares ONE compiled stage
        // set instead of recompiling the md5-draw join per step (r14)
        val draw = conv(substring(md5(concat(col("walk_id"), lit("#"),
          graft.functions.stableLitI(t).cast("string"))), 1, 15), 16, 10)
          .cast("long")
        frontier = cp.keep(frontier
          .select(col("walk_id"),
            pmod(draw, col("__deg")).as("__rank"), col("node"))
          .join(nj, col("node") === col("__nu") &&
            col("__rank") === col("__nr"))
          .select(col("walk_id"), col("v").as("node"),
            col("__vdeg").as("__deg")))
        out = out.unionByName(frontier.select(col("walk_id"),
          graft.functions.stableLitI(t).as("step"), col("node")))
      }
      out
    }
  }

  /** Consecutive-step (node, next) pairs of [[randomWalks]], emitted
    * INSIDE the generation loop (r15): each step's join output already
    * holds (node_{t−1}, node_t), so the pair corpus needs NO post-hoc
    * per-walk lead-window sort over the full walk corpus — that sort was
    * q338's residual term after r14. Same draws, same joins, same kept
    * generations as [[randomWalks]] (the walk frames are bit-identical);
    * walks that end early or start isolated contribute no pair, exactly
    * as the window form's null lead filter.
    */
  private[graft] def randomWalkPairs(edges: DataFrame, walksPerNode: Int,
      walkLen: Int): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 64,
      s"need 1 <= walksPerNode <= 64, got $walksPerNode")
    require(walkLen >= 2 && walkLen <= 32,
      s"need 2 <= walkLen <= 32, got $walkLen")
    graft.plans.GraftExtensions.ensureRegistered(edges.sparkSession)
    graft.Checkpointer.using(edges.sparkSession, None) { cp =>
      val e = edges.select(col("u"), col("v")).distinct()
      val w = Window.partitionBy("u").orderBy("v")
      val nbrs = cp.pin(e.withColumn("__rank",
        row_number().over(w).cast("long") - 1L))
      val degs = cp.pin(nbrs.groupBy("u").agg(count(lit(1)).as("__deg")))
      val starts = degs
        .select(col("u"), col("__deg"), explode(sequence(lit(0),
          lit(walksPerNode - 1))).as("__w"))
        .select(concat(col("u"), lit("#"), col("__w")).as("walk_id"),
          col("u").as("node"), col("__deg"))
      val degsV = degs.select(col("u").as("__vd"), col("__deg").as("__vdeg"))
      val nj = cp.pin(nbrs.join(degsV, col("v") === col("__vd"), "left")
        .select(col("u").as("__nu"), col("__rank").as("__nr"), col("v"),
          col("__vdeg")))
      var frontier = cp.keep(starts)
      var pairs: DataFrame = null
      for (t <- 1 until walkLen) {
        val draw = conv(substring(md5(concat(col("walk_id"), lit("#"),
          graft.functions.stableLitI(t).cast("string"))), 1, 15), 16, 10)
          .cast("long")
        // keep the JOINED step frame (previous node rides along): the one
        // materialization feeds both the pair emission and the next frontier
        val stepped = cp.keep(frontier
          .select(col("walk_id"),
            pmod(draw, col("__deg")).as("__rank"), col("node"))
          .join(nj, col("node") === col("__nu") &&
            col("__rank") === col("__nr"))
          .select(col("walk_id"), col("node").as("__prev"),
            col("v").as("node"), col("__vdeg").as("__deg")))
        val p = stepped.select(col("__prev").as("node"),
          col("node").as("__next"))
        pairs = if (pairs == null) p else pairs.unionByName(p)
        frontier = stepped.select(col("walk_id"), col("node"), col("__deg"))
      }
      pairs
    }
  }

  /** DeepWalk-as-counts node similarity: PMI of consecutive-step node
    * pairs over a [[randomWalks]] corpus — the count-based readout of
    * the DeepWalk/node2vec objective (its skip-gram factorizes a
    * shifted PMI matrix; window-1 counts give the exact-arithmetic
    * member of that family, like [[graft.ops.Colloc]] for text). Pairs
    * are counted in both directions, so n_a is each node's total
    * transition participation.
    *
    * @return top-K (a, b, n_ab, pmi) by (pmi desc, a, b) — pmi on the
    *         6-digit grid; counts exact integers
    */
  def walkPmi(walks: DataFrame, topK: Int): DataFrame = {
    val w = Window.partitionBy("walk_id").orderBy("step")
    val steps = walks.withColumn("__next", lead("node", 1).over(w))
      .filter(col("__next").isNotNull)
    walkPmiFromSteps(steps.select(col("node"), col("__next")), topK)
  }

  /** [[walkPmi]] over pre-built consecutive (node, __next) pairs —
    * [[randomWalkPairs]]' output — skipping the corpus-wide lead-window
    * sort the generic entry pays. Counts are exact integers, so the PMI
    * output is identical to the window form's.
    */
  private[graft] def walkPmiFromSteps(steps: DataFrame, topK: Int): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    graft.Checkpointer.using(steps.sparkSession, None) { cp =>
      val pairs = steps.select(col("node").as("a"), col("__next").as("b"))
        .union(steps.select(col("__next").as("a"), col("node").as("b")))
      // nAB feeds three consumers (nA, tot, the join) and nA two — pin both
      // once (r14); their exact measured stats let the planner broadcast
      // the node-bounded nA sides automatically iff they are actually
      // small, which is the decision that stays right at any graph size
      val nAB = cp.pin(pairs.groupBy("a", "b").agg(count(lit(1)).as("n_ab")))
      val nA = cp.pin(nAB.groupBy("a").agg(sum("n_ab").as("__na")))
      val tot = nAB.agg(sum("n_ab").as("__n"))
      val out = cp(nAB.join(nA, Seq("a"))
        .join(nA.select(col("a").as("b"), col("__na").as("__nb")), Seq("b"))
        .crossJoin(broadcast(tot))
        .select(col("a"), col("b"), col("n_ab"),
          round(log(col("n_ab").cast("double") * col("__n") /
            (col("__na").cast("double") * col("__nb"))), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("a"), col("b"))
        .limit(topK))
      out
    }
  }

  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val lab = labels.select(col(labels.columns(0)).as("__id"),
      col(labels.columns(1)).as("__lab"))
    val m2Row = edges.agg(count(lit(1)).as("__m2"))
    val stubs = edges
      .join(lab.select(col("__id").as("u"), col("__lab").as("__lu")), "u")
      .join(lab.select(col("__id").as("v"), col("__lab").as("__lv")), "v")
    val perC = stubs.groupBy(col("__lu").as("label"))
      .agg(sum(when(col("__lu") === col("__lv"), 1L).otherwise(0L))
          .as("intra2"),
        count(lit(1)).as("degree2"))
    val nodesPerC = lab.groupBy(col("__lab").as("label"))
      .agg(count(lit(1)).as("n_nodes"))
    perC.join(nodesPerC, Seq("label"))
      .crossJoin(broadcast(m2Row))
      .select(col("label"), col("n_nodes"), col("intra2"), col("degree2"),
        round((col("intra2").cast("double") -
          col("degree2").cast("double") * col("degree2") /
            col("__m2").cast("double")) /
          col("__m2").cast("double"), 9).as("q_contrib"))
  }
}
