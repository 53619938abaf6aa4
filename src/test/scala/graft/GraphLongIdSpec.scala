package graft

import org.apache.spark.sql.functions._
import graft.ops.Graph

/** The production long-id knob (`spark.graft.graph.longIds`, see
  * Graph.nodeDict) must be a pure execution-strategy switch: flag-on and
  * flag-off runs of the encoded ops return IDENTICAL rows. Vote counts
  * are exact integers and nid order == string order, so labelPropagation
  * parity is bit-exact; pageRank sums doubles in a different partition
  * order under encoding, so its parity is checked on the 1e-9 grid.
  * Edges with a NULL endpoint are dropped on both paths, so they cannot
  * make the two disagree.
  */
class GraphLongIdSpec extends SparkSpec {
  import spark.implicits._

  private def edges = {
    val base = spark.range(0, 400).select(
      concat(lit("p"), (col("id") % 40)).as("u"),
      concat(lit("s"), (col("id") % 7)).as("v"))
    base.unionByName(base.select(col("v").as("u"), col("u").as("v"))).distinct()
  }

  private def withFlag[A](on: Boolean)(body: => A): A = {
    spark.conf.set("spark.graft.graph.longIds", on.toString)
    try body finally spark.conf.unset("spark.graft.graph.longIds")
  }

  test("labelPropagation: long-id flag does not change the result") {
    val off = withFlag(false)(
      Graph.labelPropagation(edges, rounds = 3).orderBy("u").collect())
    val on = withFlag(true)(
      Graph.labelPropagation(edges, rounds = 3).orderBy("u").collect())
    assert(on.toSeq === off.toSeq)
  }

  test("pageRank: long-id flag agrees on the 1e-9 grid") {
    val off = withFlag(false)(
      Graph.pageRank(edges, iters = 3).orderBy("u").collect())
    val on = withFlag(true)(
      Graph.pageRank(edges, iters = 3).orderBy("u").collect())
    assert(on.length === off.length)
    on.zip(off).foreach { case (a, b) =>
      assert(a.getString(0) === b.getString(0))
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9,
        s"rank mismatch at ${a.getString(0)}")
    }
  }

  test("null endpoints: both paths drop the edge, no null node appears") {
    // "pz" occurs only in an edge with a null end, so it must vanish too
    val withNulls = edges.unionByName(Seq[(String, String)](("p1", null),
      (null, "s2"), (null, null), ("pz", null)).toDF("u", "v"))
    def run(on: Boolean) = withFlag(on)((
      Graph.labelPropagation(withNulls, rounds = 3).orderBy("u").collect(),
      Graph.pageRank(withNulls, iters = 3).orderBy("u").collect()))
    val (lpOff, prOff) = run(false)
    val (lpOn, prOn) = run(true)
    assert(lpOn.toSeq === lpOff.toSeq)
    assert(prOn.map(_.getString(0)).toSeq === prOff.map(_.getString(0)).toSeq)
    prOn.zip(prOff).foreach { case (a, b) =>
      assert(math.abs(a.getDouble(1) - b.getDouble(1)) < 1e-9)
    }
    for (rows <- Seq(lpOff, prOff); r <- rows) {
      assert(!r.isNullAt(0) && r.getString(0) != "pz", r)
      assert(!r.isNullAt(1), r)
    }
  }
}
