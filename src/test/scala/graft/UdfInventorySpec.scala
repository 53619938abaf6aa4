package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source-level regression net for the UDF and UDAF budgets (SURVEY §7
  * grants UDFs ONLY where no Catalyst built-in exists — array-kernel
  * signatures and broadcast-object probes). All scalar math is native expressions
  * (lgamma, erf/erfc/erfinv, t_quantile); a convenience `udf {}` added
  * anywhere else fails this suite the way a codegen fallback fails
  * PlanSpec's strict conf. PlanSpec's sweep pins the same inventory at
  * the PLAN level for the gated queries; this test covers the ops the
  * gate doesn't reach.
  */
class UdfInventorySpec extends AnyFunSuite {

  /** Per-file counts of the lines under src/main/scala/graft where `call`
    * matches outside line comments and scaladoc lines. Comment stripping
    * is quote-aware: a `//` is only a comment start when an EVEN number of
    * '"' precedes it on the line, so a URL or path inside a string literal
    * no longer truncates the rest of the line (which could have hidden a
    * later call on the same line). Still a line heuristic, not a
    * tokenizer — multi-line strings containing the call or a
    * quote-containing comment before a call site can in principle still
    * fool it.
    */
  private def callSites(call: java.util.regex.Pattern): Map[String, Int] = {
    val root = new java.io.File("src/main/scala/graft")
    assert(root.isDirectory, s"expected to run from the repo root, cwd=" +
      new java.io.File(".").getAbsolutePath)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    def stripLineComment(l: String): String = {
      var i = l.indexOf("//")
      while (i >= 0 && l.substring(0, i).count(_ == '"') % 2 == 1)
        i = l.indexOf("//", i + 1)
      if (i < 0) l else l.substring(0, i)
    }
    walk(root).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val n = try src.getLines()
        .map(stripLineComment)
        .filterNot(_.trim.startsWith("*"))
        .count(l => call.matcher(l).find())
      finally src.close()
      if (n > 0) Some(f.getPath.replace('\\', '/')
        .stripPrefix("src/main/scala/graft/") -> n)
      else None
    }.toMap
  }

  test("udf call sites in src/main are exactly the sanctioned inventory") {
    // a call site is `udf {` or `udf(` at a word boundary (docstrings
    // mentioning "udf(" in prose don't match the call pattern; `udaf` does
    // not match the boundary)
    val counts = callSites(java.util.regex.Pattern.compile("(?<![\\w.])udf\\s*[({]"))
    val sanctioned = Map(
      // MinHash/SimHash token-array signatures — per-row array kernels
      // with no built-in equivalent (xxhash64 has no per-element min-fold)
      "ops/Dedup.scala" -> 4,
      // LSH plane projections + IVF assign/probe over array<double>
      "ops/Similarity.scala" -> 3,
      // Bloom-filter probe: closes over the broadcast filter OBJECT
      "ops/JoinOps.scala" -> 1,
      // z-order bit interleave over an array of normalized dims
      "ops/Layout.scala" -> 1,
      // wide-p (p > 16) quadratic form: one closure carrying the p×p
      // kernel keeps the Catalyst tree O(p) instead of O(p²) literals
      "glm/LinAlg.scala" -> 1,
      // GroupedGLM per-GROUP p×p solve (breeze solvePD/invPD) applied
      // POST-aggregation — one call per group, never per row; the per-row
      // math is built-in sums and this UDF is the matrix solve no
      // Catalyst built-in provides
      "glm/GroupedGLM.scala" -> 1)
    assert(counts === sanctioned,
      "UDF inventory drifted.\n  found:      " + counts.toSeq.sorted
        .mkString(", ") + "\n  sanctioned: " + sanctioned.toSeq.sorted
        .mkString(", ") +
        "\n(new UDFs need a no-built-in justification here AND in " +
        "COVERAGE.md; scalar math belongs in graft.functions expressions)")
  }

  test("udaf call sites in src/main are exactly the sanctioned inventory") {
    // `udaf(` wraps a per-row Aggregator: JVM objects per row and no
    // whole-stage codegen, where built-in sums over projected columns do
    // the same work natively
    val counts = callSites(java.util.regex.Pattern.compile("(?<![\\w.])udaf\\s*[({]"))
    val sanctioned = Map(
      // GroupedLM's GramAgg: per-group OLS Gram with the packed buffer
      "glm/GroupedLM.scala" -> 1)
    assert(counts === sanctioned,
      "UDAF inventory drifted.\n  found:      " + counts.toSeq.sorted
        .mkString(", ") + "\n  sanctioned: " + sanctioned.toSeq.sorted
        .mkString(", ") +
        "\n(per-row math belongs in built-in aggregate expressions)")
  }
}
