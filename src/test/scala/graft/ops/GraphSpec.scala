package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpec {
  import spark.implicits._

  // undirected triangle + pendant, symmetrized
  private def closedEdges = {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    (und ++ und.map(_.swap)).toDF("u", "v")
  }

  private def localReference(iters: Int): Map[String, Double] = {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    val dir = und ++ und.map(_.swap)
    val out = dir.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = out.keySet
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to iters) {
      r = nodes.map { v =>
        v -> ((1.0 - 0.85) / nodes.size + 0.85 *
          out.toSeq.filter(_._2.contains(v)).map { case (u, os) => r(u) / os.size }.sum)
      }.toMap
    }
    r
  }

  test("pageRank matches a local dense reference on a closed graph") {
    val got = Graph.pageRank(closedEdges, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = localReference(5)
    assert(got.keySet === ref.keySet)
    got.foreach { case (v, r) => assert(math.abs(r - ref(v)) < 1e-12, v) }
    // the hub (c, degree 3) outranks the pendant (d, degree 1)
    assert(got("c") > got("d"))
  }

  test("pageRank mass is conserved (sum = 1) on the symmetrized graph") {
    val s = Graph.pageRank(closedEdges, iters = 8)
      .agg(sum("r")).head().getDouble(0)
    assert(math.abs(s - 1.0) < 1e-12)
  }

  test("dangling nodes: mass is redistributed, sum stays = 1, sinks rank") {
    // directed chain a→b→c plus a→c: b and c are reachable, c is a pure
    // sink (dangling) — its rank must exist and total mass must hold
    val dirEdges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")
    val got = Graph.pageRank(dirEdges, iters = 10)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set("a", "b", "c"))
    assert(math.abs(got.values.sum - 1.0) < 1e-12)
    // local dense reference with uniform dangling redistribution
    val out = Map("a" -> Seq("b", "c"), "b" -> Seq("c"))
    val nodes = Seq("a", "b", "c")
    var r = nodes.map(_ -> 1.0 / 3).toMap
    for (_ <- 1 to 10) {
      val dm = r.filter { case (k, _) => !out.contains(k) }.values.sum
      r = nodes.map { v =>
        v -> ((1.0 - 0.85) / 3 + 0.85 *
          (out.toSeq.filter(_._2.contains(v)).map { case (u, os) => r(u) / os.size }.sum
            + dm / 3))
      }.toMap
    }
    nodes.foreach(v => assert(math.abs(got(v) - r(v)) < 1e-12, v))
    // the sink receives from everyone and must outrank its feeders
    assert(got("c") > got("a") && got("c") > got("b"))
  }

  test("checkpointed run returns the same ranks as the plain run") {
    val plain = Graph.pageRank(closedEdges, iters = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ck = Graph.pageRank(closedEdges, iters = 4, checkpointEvery = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ck === plain)
  }

  test("pageRank rejects bad parameters") {
    intercept[IllegalArgumentException] { Graph.pageRank(closedEdges, 0) }
    intercept[IllegalArgumentException] {
      Graph.pageRank(closedEdges, 1, damping = 1.0)
    }
  }

  private def triRow(edges: Seq[(String, String)]) =
    Graph.triangleStats(edges.toDF("u", "v")).head()

  test("triangleStats: K4 has 4 triangles and clustering coefficient 1") {
    val k4 = for {
      a <- Seq("a", "b", "c", "d"); b <- Seq("a", "b", "c", "d") if a < b
    } yield (a, b)
    val r = triRow(k4)
    assert(r.getLong(0) === 4L) // nodes
    assert(r.getLong(1) === 6L) // edges
    assert(r.getLong(2) === 12L) // wedges: 4 · C(3,2)
    assert(r.getLong(3) === 4L) // triangles
    assert(r.getDouble(4) === 1.0)
  }

  test("triangleStats: triangle + pendant — 1 triangle, gcc 3/5") {
    val r = triRow(Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")))
    assert(r.getLong(3) === 1L)
    assert(r.getLong(2) === 5L) // wedges: 1 + 1 + C(3,2) + 0
    assert(r.getDouble(4) === 0.6)
  }

  test("triangleStats: a 4-cycle has wedges but no triangle (gcc null-safe 0/4)") {
    val r = triRow(Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")))
    assert(r.getLong(3) === 0L)
    assert(r.getLong(2) === 4L)
    assert(r.getDouble(4) === 0.0)
  }

  test("triangleStats normalizes duplicates, self-loops and both orientations") {
    val messy = Seq(("a", "b"), ("b", "a"), ("a", "b"), ("a", "a"),
      ("b", "c"), ("c", "a"))
    val r = triRow(messy)
    assert(r.getLong(1) === 3L)
    assert(r.getLong(3) === 1L)
  }

  test("labelPropagation: two cliques bridged by one edge form two communities") {
    val cliqueA = Seq("a1", "a2", "a3", "a4")
    val cliqueB = Seq("b1", "b2", "b3", "b4")
    def clique(ns: Seq[String]) =
      for (x <- ns; y <- ns if x != y) yield (x, y)
    val edges = (clique(cliqueA) ++ clique(cliqueB) ++
      Seq(("a1", "b1"), ("b1", "a1"))).toDF("u", "v")
    val got = Graph.labelPropagation(edges, rounds = 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // each clique converges to its own min label
    cliqueA.foreach(n => assert(got(n) === "a1", n))
    cliqueB.drop(1).foreach(n => assert(got(n) === "b1", n))
  }

  test("labelPropagation: ties adopt the smallest label deterministically") {
    // c points at a and b equally; after round 1 both still carry their
    // own labels, so c must adopt min(a, b) = a
    val edges = Seq(("c", "a"), ("c", "b"), ("a", "c"), ("b", "c"))
      .toDF("u", "v")
    val got = Graph.labelPropagation(edges, rounds = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("c") === "a")
  }

  test("labelPropagation: sinks keep their own label; result covers all nodes") {
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "c")).toDF("u", "v")
    val got = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got.keySet === Set("a", "b", "c"))
    assert(got("c") === "c") // pure sink never updates
  }

  test("labelPropagation checkpointed run equals the plain run") {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val plain = Graph.labelPropagation(edges, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val ck = Graph.labelPropagation(edges, rounds = 3, checkpointEvery = 1)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(ck === plain)
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` at -1, which
    * sends labelPropagation down its DataFrame loop.
    */
  private def noBroadcast[A](body: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val caller = spark.conf.getAll.get(key)
    spark.conf.set(key, "-1")
    try body finally caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("labelPropagation: rounds share compiled stages (no codegen per extra round)") {
    // without id-free class names every round of the DataFrame loop gets
    // new whole-stage-codegen stage numbers, so rounds 4-8 would each
    // compile; the driver-state rounds compile nothing at all. The
    // warm-up holds every shape of a round: round 1 has no join, and a
    // middle round (a join over a join) first appears with 3 rounds
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val compiles = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    for (path <- Seq("driver state", "DataFrame loop")) {
      def run(rounds: Int) =
        if (path == "driver state") Graph.labelPropagation(edges, rounds)
        else noBroadcast(Graph.labelPropagation(edges, rounds))
      run(3) // warm-up: rounds 1 to 3
      val before = compiles.getCount
      run(8)
      assert(compiles.getCount === before,
        s"$path: ${compiles.getCount - before} codegen compiles in rounds 4-8")
    }
  }

  /** Runs `f`; returns the jobs it started, the shuffle bytes its tasks
    * wrote and the SQL executions it ran.
    */
  private def observe(f: => Unit): (Int, Long, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val queries = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    val ql = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        queries.incrementAndGet()
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
        queries.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(l)
    spark.listenerManager.register(ql)
    try { f; org.apache.spark.TestBus.drain(sc) }
    finally {
      sc.removeSparkListener(l)
      spark.listenerManager.unregister(ql)
    }
    (jobs.get, bytes.get, queries.get)
  }

  test("labelPropagation: a fixed number of jobs whatever the rounds") {
    // within the guard the edges are read once, with no shuffle, and every
    // round runs on the driver
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    val edges = ((und ++ und.map(_.swap)) :+ ("e", "f")).toDF("u", "v")
    val (jobs2, bytes2, sql2) = observe(Graph.labelPropagation(edges, 2))
    val (jobs6, bytes6, sql6) = observe(Graph.labelPropagation(edges, 6))
    assert(jobs6 === jobs2, s"rounds = 2 ran $jobs2 jobs, rounds = 6 ran $jobs6")
    assert(sql6 === sql2, s"rounds = 2 ran $sql2 SQL executions, rounds = 6 ran $sql6")
    assert(bytes2 === 0L && bytes6 === 0L,
      s"rounds = 2 wrote $bytes2 shuffle bytes, rounds = 6 wrote $bytes6")
    // the DataFrame loop shuffles in every round (its join and its vote)
    val (_, loop2, _) = observe(noBroadcast(Graph.labelPropagation(edges, 2)))
    val (_, loop6, _) = observe(noBroadcast(Graph.labelPropagation(edges, 6)))
    assert(loop2 > 0 && loop6 > loop2,
      s"the loop wrote $loop2 shuffle bytes in 2 rounds, $loop6 in 6")
  }

  /** Synchronous LPA on the driver: a node with out-edges adopts the most
    * frequent label among its distinct out-neighbours, ties to the
    * smallest by `ord`; a node without out-edges keeps its own id.
    */
  private def lpaReference[A](edges: Seq[(A, A)], rounds: Int)(
      implicit ord: Ordering[A]): Map[A, A] = {
    val adj = edges.distinct.groupBy(_._1).map { case (u, vs) => u -> vs.map(_._2) }
    var label = edges.flatMap { case (u, v) => Seq(u, v) }.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      val prev = label
      label = prev.map { case (u, own) =>
        u -> adj.get(u).fold(own)(_.groupBy(prev).map { case (l, ls) =>
          l -> ls.size }.minBy { case (l, n) => (-n, l) }._1)
      }
    }
    label
  }

  /** Spark's order of strings: by their UTF-8 bytes, unsigned. */
  private val utf8Order: Ordering[String] = Ordering.by[String, Iterable[Int]](
    _.getBytes("UTF-8").toSeq.map(_ & 0xff))(Ordering.Iterable[Int])

  /** 2k skewed edges (cubed-uniform targets) from 300 sources into 400
    * nodes, so n300..n399 are sinks.
    */
  private lazy val skewed = {
    val rng = new scala.util.Random(17)
    Seq.fill(2000)((f"n${rng.nextInt(300)}%03d",
      f"n${(math.pow(rng.nextDouble(), 3) * 400).toInt}%03d"))
  }

  private def labels[A](df: org.apache.spark.sql.DataFrame): Map[A, A] =
    df.collect().map(r => r.getAs[A](0) -> r.getAs[A](1)).toMap

  test("labelPropagation: no-broadcast run equals broadcast run and driver LPA") {
    val edges = skewed.toDF("u", "v")
    def run() = labels[String](Graph.labelPropagation(edges, rounds = 4))
    val plain = noBroadcast(run())
    val ref = lpaReference(skewed, 4)
    assert(ref.keySet.exists(_ >= "n300"))
    assert(plain === ref)
    assert(run() === ref)
    assert(Graph.labelPropagation(edges, 4).schema ===
      noBroadcast(Graph.labelPropagation(edges, 4)).schema)
  }

  /** Whether labelPropagation's result is the driver-state path's. */
  private def onDriver(df: org.apache.spark.sql.DataFrame) = df.queryExecution.logical
    .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  test("labelPropagation: state on the driver exactly within the broadcast threshold") {
    // the guard reads the distinct edges' measured bytes as the planner
    // would size a frame pinned over them
    import org.apache.spark.sql.GraftSqlShim
    val edges = skewed.toDF("u", "v")
    val distinct = edges.repartition(col("u")).distinct()
    val (_, bytes) = GraftSqlShim.materializeCounted(
      GraftSqlShim.toInternalRdd(distinct), distinct.schema)
    val size = GraftSqlShim.plannedSizeInBytes(bytes)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val caller = spark.conf.getAll.get(key)
    def run(e: org.apache.spark.sql.DataFrame, limit: Long) = {
      spark.conf.set(key, limit)
      try Graph.labelPropagation(e, 3)
      finally caller.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    // duplicates spread over input partitions are counted once
    for (e <- Seq(edges, edges.union(edges).repartition(5))) {
      val (within, above) = (run(e, size), run(e, size - 1))
      assert(onDriver(within) && !onDriver(above))
      assert(labels[String](within) === labels[String](above))
      assert(labels[String](within) === lpaReference(skewed, 3))
    }
  }

  test("labelPropagation: string ties go to the smallest label in Spark's UTF-8 order") {
    // U+FFFD is EF BF BD in UTF-8 and U+1F600 is F0 9F 98 80, so Spark
    // orders "\uFFFD" first; Java's String.compareTo compares UTF-16
    // units and orders the emoji (D83D DE00) first
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    assert(emoji.compareTo(rep) < 0 && utf8Order.lt(rep, emoji))
    val pairs = Seq(("c", rep), ("c", emoji), ("d", emoji), ("d", rep),
      ("d", "c"), (rep, emoji), (emoji, rep), ("x", "d"), ("x", "c"))
    val edges = pairs.toDF("u", "v")
    for (rounds <- Seq(1, 2)) {
      val kernel = labels[String](Graph.labelPropagation(edges, rounds))
      assert(kernel("c") === rep, s"rounds = $rounds")
      assert(kernel === noBroadcast(labels[String](Graph.labelPropagation(edges, rounds))))
      assert(kernel === lpaReference(pairs, rounds)(utf8Order))
    }
  }

  test("labelPropagation: a LongType-id graph") {
    // ids of both signs and widths, so numeric order is not byte order
    val pairs = skewed.map { case (u, v) =>
      def id(s: String) = (s.drop(1).toLong - 150L) * 0x10000001L
      (id(u), id(v))
    }
    val edges = pairs.toDF("u", "v")
    val kernel = Graph.labelPropagation(edges, 4)
    val plain = noBroadcast(Graph.labelPropagation(edges, 4))
    assert(kernel.schema === plain.schema)
    assert(kernel.schema.map(_.dataType).distinct ===
      Seq(org.apache.spark.sql.types.LongType))
    val ref = lpaReference(pairs, 4)
    assert(labels[Long](kernel) === ref)
    assert(labels[Long](plain) === ref)
    // ends of two types meet in their common type, as in the loop's join
    val mixed = pairs.map { case (u, v) => (u / 0x10000001L, (v / 0x10000001L).toInt) }
      .toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = (df.schema,
      df.collect().map(r => (r.get(0), r.get(1))).toSet)
    assert(rows(Graph.labelPropagation(mixed, 4)) ===
      rows(noBroadcast(Graph.labelPropagation(mixed, 4))))
  }

  test("labelPropagation: the result does not depend on input partitioning or order") {
    val edges = skewed.toDF("u", "v")
    def run(e: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(e, 5).collect().toSeq
    val base = run(edges)
    assert(run(edges.repartition(7)) === base)
    assert(run(edges.orderBy(rand(7))) === base)
  }

  test("labelPropagation: a scan of more tasks than one merge takes is one job") {
    // 48 input partitions with no exchange, read by 40 tasks: the parts are
    // merged in two levels, inside the scan's one job
    val edges = spark.range(0, 2000, 1, 48).select(
      format_string("n%03d", (col("id") * 7919 % 300).cast("int")).as("u"),
      format_string("n%03d", (pow(col("id") * 104729 % 1000 / 1000.0, 3) * 400)
        .cast("int")).as("v"))
    val pairs = edges.collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val ref = lpaReference(pairs, 4)
    var wide: org.apache.spark.sql.DataFrame = null
    val (jobs, _, _) = observe { wide = Graph.labelPropagation(edges, 4, 0, 40) }
    assert(onDriver(wide))
    assert(jobs === 1, s"$jobs jobs")
    assert(labels[String](wide) === ref)
    assert(labels[String](Graph.labelPropagation(edges, 4)) === ref)
    assert(labels[String](noBroadcast(Graph.labelPropagation(edges, 4))) === ref)
  }

  test("labelPropagation: no non-null edge gives an empty result with the loop's schema") {
    val empty = Seq.empty[(String, String)].toDF("u", "v")
    val nulls = Seq[(String, String)](("a", null), (null, "b"), (null, null)).toDF("u", "v")
    for (e <- Seq(empty, nulls)) {
      val kernel = Graph.labelPropagation(e, 3)
      val loop = noBroadcast(Graph.labelPropagation(e, 3))
      assert(onDriver(kernel))
      assert(kernel.schema === loop.schema)
      val ref = lpaReference(Seq.empty[(String, String)], 3)
      assert(labels[String](kernel) === ref && labels[String](loop) === ref)
    }
  }

  test("labelPropagation: Long and Double ends past 2^53 take the loop") {
    // 2^53 and 2^53 + 1 are two ids to `distinct` on the Long end but one
    // Double; here they are sources only, so every node's label is exact
    val (big, next) = (1L << 53, (1L << 53) + 1)
    val pairs = Seq((big, 1.0), (big, 2.0), (next, 2.0), (next, 3.0), (next, 3.0),
      (1L, 2.0), (2L, 3.0), (3L, 1.0), (3L, 2.0))
    val edges = pairs.toDF("u", "v")
    def rows(df: org.apache.spark.sql.DataFrame) = (df.schema,
      df.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq.sorted)
    val kernel = Graph.labelPropagation(edges, 3)
    assert(!onDriver(kernel))
    assert(rows(kernel) === rows(noBroadcast(Graph.labelPropagation(edges, 3))))
    val ref = lpaReference(pairs.map { case (u, v) => (BigDecimal(u), BigDecimal(v)) }, 3)
    assert(rows(kernel)._2 ===
      ref.toSeq.map { case (u, l) => (u.toDouble, l.toDouble) }.sorted)
    assert(rows(kernel)._2.count(_._1 == big.toDouble) === 2)
  }

  test("null endpoints: LPA and pageRank drop the edge, no null node appears") {
    val base = spark.range(0, 400).select(
      concat(lit("p"), col("id") % 40).as("u"),
      concat(lit("s"), col("id") % 7).as("v"))
    val edges = base.unionByName(base.select(col("v").as("u"), col("u").as("v")))
      .distinct()
    // "pz" occurs only in an edge with a null end, so it must vanish too
    val withNulls = edges.unionByName(Seq[(String, String)](("p1", null),
      (null, "s2"), (null, null), ("pz", null)).toDF("u", "v"))
    def run(e: org.apache.spark.sql.DataFrame) = (
      Graph.labelPropagation(e, rounds = 3).orderBy("u").collect(),
      Graph.pageRank(e, iters = 3).orderBy("u").collect())
    val (lp, pr) = run(withNulls)
    val (lpClean, prClean) = run(edges)
    assert(lp.toSeq === lpClean.toSeq)
    assert(pr.map(_.getString(0)).toSeq === prClean.map(_.getString(0)).toSeq)
    pr.zip(prClean).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9)
    }
    for (rows <- Seq(lp, pr); r <- rows) {
      assert(!r.isNullAt(0) && r.getString(0) != "pz", r)
      assert(!r.isNullAt(1), r)
    }
  }

  test("degreeAssortativity: a star is perfectly disassortative (-1)") {
    val star = (1 to 5).map(i => ("hub", s"leaf$i")).toDF("u", "v")
    val r = Graph.degreeAssortativity(star).head()
    assert(r.getLong(0) === 5L)
    assert(r.getDouble(1) === -1.0)
  }

  test("degreeAssortativity: regular graphs have no degree variance (null)") {
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("u", "v")
    assert(Graph.degreeAssortativity(cycle).head().isNullAt(1))
  }

  test("degreeAssortativity matches a local Pearson over stubs") {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
    val deg = und.flatMap(e => Seq(e._1, e._2)).groupBy(identity)
      .view.mapValues(_.size.toDouble).toMap
    val stubs = und.flatMap { case (x, y) =>
      Seq((deg(x), deg(y)), (deg(y), deg(x))) }
    val n = stubs.size.toDouble
    val sx = stubs.map(_._1).sum
    val sxy = stubs.map(p => p._1 * p._2).sum
    val sxx = stubs.map(p => p._1 * p._1).sum
    val expect = (n * sxy - sx * sx) / (n * sxx - sx * sx)
    val got = Graph.degreeAssortativity(und.toDF("u", "v")).head().getDouble(1)
    assert(math.abs(got - expect) < 1e-6)
  }

  test("triangleStats counts each triangle once under skewed degrees") {
    // hub h connected to k spokes, spokes chained pairwise: triangles =
    // number of chain edges; the hub's orientation must not double count
    val spokes = (1 to 6).map(i => s"s$i")
    val star = spokes.map(s => ("h", s))
    val chain = spokes.sliding(2).map { case Seq(x, y) => (x, y) }.toSeq
    val r = triRow(star ++ chain)
    assert(r.getLong(3) === chain.size.toLong)
  }

  test("kCore: K4 plus a pendant path peels to the 3-core = the K4") {
    // K4 on {a,b,c,d}; path d-e-f hangs off it. 3-core = exactly the K4
    // (e, f peel in successive rounds — exercises the iteration).
    val k4 = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"),
      ("b", "d"), ("c", "d"))
    val edges = (k4 ++ Seq(("d", "e"), ("e", "f"))).toDF("u", "v")
    val core = Graph.kCore(edges, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set("a", "b", "c", "d"))
    // degrees are measured INSIDE the core: d loses its pendant edge
    assert(core.values.toSet === Set(3L))
  }

  test("kCore: whole graph survives when min degree already >= k") {
    val tri = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("u", "v")
    val core = Graph.kCore(tri, k = 2).collect()
    assert(core.map(_.getString(0)).toSet === Set("a", "b", "c"))
    assert(core.forall(_.getLong(1) === 2L))
  }

  test("kCore: empty result when no k-core exists; input noise normalized") {
    // a tree has no 2-core; duplicates/self-loops/orientations tolerated
    val tree = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "c"),
      ("b", "d"), ("b", "d")).toDF("u", "v")
    assert(Graph.kCore(tree, k = 2).isEmpty)
  }

  test("kCore: cascade peel terminates at the fixed point, not maxRounds") {
    // chain a-b-c-d-e: 2-core empty, found in a few rounds well under cap
    val chain = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"))
      .toDF("u", "v")
    assert(Graph.kCore(chain, k = 2, maxRounds = 50).isEmpty)
  }

  test("bfsLevels: hop distances on a directed graph; unreachable absent") {
    // a→b→c, a→d; e isolated (only e→e ignored as self-loop is still an
    // edge — keep e reachable only from itself)
    val edges = Seq(("a", "b"), ("b", "c"), ("a", "d"), ("x", "y"))
      .toDF("u", "v")
    val d = Graph.bfsLevels(edges, "a", maxDepth = 5).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d === Map("a" -> 0, "b" -> 1, "d" -> 1, "c" -> 2))
  }

  test("bfsLevels: a node is settled at its minimal depth (diamond)") {
    // a→b→d and a→d: d must be depth 1, not 2
    val edges = Seq(("a", "b"), ("b", "d"), ("a", "d")).toDF("u", "v")
    val d = Graph.bfsLevels(edges, "a", maxDepth = 5).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d("d") === 1)
  }

  test("bfsLevels: maxDepth truncates; depth 0 returns just the source") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d")).toDF("u", "v")
    val d1 = Graph.bfsLevels(edges, "a", maxDepth = 1).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d1 === Map("a" -> 0, "b" -> 1))
    val d0 = Graph.bfsLevels(edges, "a", maxDepth = 0).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d0 === Map("a" -> 0))
  }

  test("bfsLevels handles cycles without looping (convergence probe)") {
    val cyc = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("u", "v")
    val d = Graph.bfsLevels(cyc, "a", maxDepth = 10).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(d === Map("a" -> 0, "b" -> 1, "c" -> 2))
  }

  test("hits: closed one-iteration values on a two-authority graph") {
    // a→x, b→x, c→y: after one L1-normalized iteration
    // authority: x = 2/3, y = 1/3; hub: a = b = 0.4, c = 0.2
    val e = Seq(("a", "x"), ("b", "x"), ("c", "y")).toDF("u", "v")
    val got = Graph.hits(e, iters = 1).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(math.abs(got("x")._2 - 2.0 / 3) < 1e-12)
    assert(math.abs(got("y")._2 - 1.0 / 3) < 1e-12)
    assert(math.abs(got("a")._1 - 0.4) < 1e-12)
    assert(math.abs(got("b")._1 - 0.4) < 1e-12)
    assert(math.abs(got("c")._1 - 0.2) < 1e-12)
    // pure sinks have hub 0; pure sources authority 0
    assert(got("x")._1 === 0.0 && got("a")._2 === 0.0)
  }

  test("hits: both vectors stay L1-normalized over several iterations") {
    val e = Seq(("a", "x"), ("b", "x"), ("c", "y"), ("x", "c"))
      .toDF("u", "v")
    val out = Graph.hits(e, iters = 4)
    val sums = out.agg(sum("hub"), sum("authority")).head()
    assert(math.abs(sums.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(sums.getDouble(1) - 1.0) < 1e-12)
  }

  test("bipartiteProject: co-occurrence weights on a closed bipartite graph") {
    // parts p1,p2 share suppliers s1,s2; p2,p3 share only s3
    val e = Seq(("p1", "s1"), ("p2", "s1"), ("p1", "s2"), ("p2", "s2"),
      ("p2", "s3"), ("p3", "s3")).toDF("u", "v")
    val got = Graph.bipartiteProject(e, maxRightDegree = 10).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("p1", "p2") -> 2L, ("p2", "p3") -> 1L))
  }

  test("bipartiteProject: hub right nodes above the cap are excluded") {
    // s_hub connects 4 parts; cap 3 drops it, leaving only the s1 pair
    val e = Seq(("p1", "s_hub"), ("p2", "s_hub"), ("p3", "s_hub"),
      ("p4", "s_hub"), ("p1", "s1"), ("p2", "s1")).toDF("u", "v")
    val got = Graph.bipartiteProject(e, maxRightDegree = 3).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === Map(("p1", "p2") -> 1L))
  }

  test("bipartiteProject normalizes duplicate incidences") {
    val e = Seq(("p1", "s1"), ("p1", "s1"), ("p2", "s1")).toDF("u", "v")
    val got = Graph.bipartiteProject(e, 10).collect()
    assert(got.length === 1 && got.head.getLong(2) === 1L)
  }

  test("hits is invariant to input partitioning") {
    val e = Seq(("a", "x"), ("b", "x"), ("c", "y"), ("x", "y"),
      ("y", "a")).toDF("u", "v")
    val p1 = Graph.hits(e, iters = 3).orderBy("node").collect().toSeq
    val p2 = Graph.hits(e.repartition(5), iters = 3)
      .orderBy("node").collect().toSeq
    assert(p1.map(_.getString(0)) === p2.map(_.getString(0)))
    p1.zip(p2).foreach { case (x, y) =>
      assert(math.abs(x.getDouble(1) - y.getDouble(1)) < 1e-12)
      assert(math.abs(x.getDouble(2) - y.getDouble(2)) < 1e-12)
    }
  }

  test("sssp matches local Dijkstra on a weighted graph") {
    // a->b (1), b->c (1), a->c (5), c->d (1), a->d (10): shortest a->c
    // is 2 via b, a->d is 3 — the direct heavy edges must lose
    val edges = Seq(("a", "b", 1.0), ("b", "c", 1.0), ("a", "c", 5.0),
      ("c", "d", 1.0), ("a", "d", 10.0)).toDF("u", "v", "w")
    val got = Graph.sssp(edges, "a", rounds = 4)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got === Map("a" -> 0.0, "b" -> 1.0, "c" -> 2.0, "d" -> 3.0))
  }

  test("sssp: rounds bound hop count; parallel edges keep min weight") {
    val edges = Seq(("a", "b", 3.0), ("a", "b", 1.0), ("b", "c", 1.0),
      ("c", "d", 1.0)).toDF("u", "v", "w")
    val one = Graph.sssp(edges, "a", rounds = 1)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(one === Map("a" -> 0.0, "b" -> 1.0)) // min parallel edge; 1 hop
    val three = Graph.sssp(edges, "a", rounds = 3)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(three("d") === 3.0)
  }

  test("sssp is partition-invariant") {
    val edges = (1L to 50L).map(i =>
      (s"n${i % 10}", s"n${(i * 3) % 10}", (i % 7 + 1).toDouble))
      .toDF("u", "v", "w")
    val a = Graph.sssp(edges, "n1", 5).orderBy("node").collect().toSeq
    val b = Graph.sssp(edges.repartition(7), "n1", 5)
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("personalizedPageRank: two-node cycle converges to the closed form") {
    // a ↔ b, restart at a: fixed point r(a) = 1/(1+d), r(b) = d/(1+d)
    val edges = Seq(("a", "b"), ("b", "a")).toDF("u", "v")
    val src = Seq("a").toDF("u")
    val out = Graph.personalizedPageRank(edges, src, iters = 40)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val d = 0.85
    assert(math.abs(out("a") - 1.0 / (1 + d)) < 1e-3, out.toString)
    assert(math.abs(out("b") - d / (1 + d)) < 1e-3)
    assert(math.abs(out.values.sum - 1.0) < 1e-9, "mass conserved")
  }

  test("personalizedPageRank: mass stays near the seeds; dangling returns") {
    // chain a→b→c (c dangling) plus a far component x↔y; seed = a
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "x"))
      .toDF("u", "v")
    val out = Graph.personalizedPageRank(edges, Seq("a").toDF("u"),
        iters = 30)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(!out.contains("x") && !out.contains("y"), "unreachable stays 0")
    assert(math.abs(out.values.sum - 1.0) < 1e-9, "dangling mass restarts")
    assert(out("a") > out("b") && out("b") > out("c"))
  }

  test("personalizedPageRank rejects seeds absent from the graph") {
    val edges = Seq(("a", "b")).toDF("u", "v")
    intercept[IllegalArgumentException] {
      Graph.personalizedPageRank(edges, Seq("zzz").toDF("u"), iters = 2)
    }
  }

  test("personalizedPageRank is partition-invariant") {
    val edges = (1L to 60L).map(i =>
      (s"n${i % 12}", s"n${(i * 5) % 12}")).toDF("u", "v")
    val src = Seq("n1", "n2").toDF("u")
    val a = Graph.personalizedPageRank(edges.repartition(1), src, 6)
      .orderBy("u").collect().toSeq
    val b = Graph.personalizedPageRank(edges.repartition(7), src, 6)
      .orderBy("u").collect().toSeq
    assert(a === b)
  }

  test("randomWalks: forced path on a two-node graph is closed-form") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("u", "v")
    val got = Graph.randomWalks(edges, walksPerNode = 1, walkLen = 4)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getString(2))
      .toMap
    // degree 1 everywhere: walks alternate regardless of the draws
    assert(got === Map(
      ("a#0", 0) -> "a", ("a#0", 1) -> "b", ("a#0", 2) -> "a",
      ("a#0", 3) -> "b",
      ("b#0", 0) -> "b", ("b#0", 1) -> "a", ("b#0", 2) -> "b",
      ("b#0", 3) -> "a"))
  }

  test("randomWalks: every step follows an edge; counts are exact") {
    val und = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("a", "c"))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val walks = Graph.randomWalks(edges, walksPerNode = 3, walkLen = 6)
    assert(walks.count() === 4L * 3 * 6)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("walk_id").orderBy("step")
    val trans = walks.withColumn("nxt", lead("node", 1).over(w))
      .filter(col("nxt").isNotNull)
      .select(col("node").as("u"), col("nxt").as("v"))
    assert(trans.join(edges, Seq("u", "v"), "left_anti").count() === 0L,
      "every transition must be a graph edge")
  }

  test("randomWalks are deterministic and partition-invariant") {
    val und = (1L to 40L).map(i => (s"n${i % 9}", s"n${(i * 7) % 9}"))
      .filter(p => p._1 != p._2)
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val run = (p: Int) => Graph.randomWalks(edges.repartition(p), 2, 5)
      .orderBy("walk_id", "step").collect().toSeq
    assert(run(1) === run(7))
  }

  test("walkPmi: two-node alternation gives pmi = ln 2 both ways") {
    val edges = Seq(("a", "b"), ("b", "a")).toDF("u", "v")
    val got = Graph.walkPmi(Graph.randomWalks(edges, 1, 4), topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    // all pairs are a↔b: n_ab = 6, na = nb = 6, N = 12 → ln 2
    val ln2 = BigDecimal(math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got === Map(("a", "b") -> ((6L, ln2)), ("b", "a") -> ((6L, ln2))))
  }

  test("modularity: closed two-component case") {
    // triangle {1,2,3} + edge {4,5}: 2M = 8 stubs
    //   comp A: intra2 = 6, degree2 = 6 → (6 − 36/8)/8 = 0.1875
    //   comp B: intra2 = 2, degree2 = 2 → (2 − 4/8)/8  = 0.1875
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"),
      (5L, "B")).toDF("id", "label")
    val got = Graph.modularity(edges, labels).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got === Map("A" -> ((3L, 6L, 6L, 0.1875)),
      "B" -> ((2L, 2L, 2L, 0.1875))))
  }

  test("modularity: one community scores exactly zero") {
    val und = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val labels = Seq(1L, 2L, 3L, 4L).toDF("id")
      .select(col("id"), lit("all").as("label"))
    val row = Graph.modularity(edges, labels).head()
    // intra2 = degree2 = 2M → contribution (2M − 2M)/2M = 0
    assert(row.getDouble(4) === 0.0)
  }

  test("modularity: cross-community edges lower Q below the CC ideal") {
    val und = Seq((1L, 2L), (2L, 3L), (1L, 3L), (4L, 5L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("u", "v")
    val labels = Seq((1L, "A"), (2L, "A"), (3L, "A"), (4L, "B"),
      (5L, "B")).toDF("id", "label")
    val q = Graph.modularity(edges, labels)
      .agg(sum("q_contrib")).head().getDouble(0)
    assert(q > 0.0 && q < 0.375, s"partition with a bridge: got $q")
  }

  test("kTruss: K4 survives the 4-truss, pendant and weak triangles peel") {
    // K4 on 1..4 (every edge in 2 triangles) + a pendant edge (4,6) and
    // a triangle {1,2,5} hanging off edge (1,2). Round 1 drops (4,6)
    // (support 0) and (1,5)/(2,5) (support 1 < k−2=2); the cascade
    // leaves exactly K4, every edge at support 2.
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L))
    val edges = (k4 ++ Seq((4L, 6L), (1L, 5L), (2L, 5L)))
      .toDF("u", "v")
    val out = Graph.kTruss(edges, k = 4, maxRounds = 3)
      .orderBy("a", "b").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2)))
    assert(out.map(_._1).toSeq === k4)
    assert(out.forall(_._2 === 2L), out.mkString(", "))
  }

  test("kTruss: k above the densest truss empties the graph") {
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)).toDF("u", "v")
    assert(Graph.kTruss(k4, k = 5, maxRounds = 3).count() === 0L)
  }

  test("kTruss normalizes stubs and is partition-invariant") {
    val und = Seq((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L), (2L, 3L),
      (1L, 1L), (1L, 2L))
    val run = (p: Int) => Graph.kTruss(und.toDF("u", "v").repartition(p),
      k = 3, maxRounds = 2).orderBy("a", "b").collect().toSeq
    val r1 = run(1)
    assert(r1.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    assert(r1 === run(5))
  }
}
