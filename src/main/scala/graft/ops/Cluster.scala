package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** K-means over an embedding column — the clustering pass a curation
  * pipeline runs to diversify/tier a corpus (cluster-balanced sampling,
  * per-cluster quality cuts, semantic dedup at coarse granularity).
  *
  * Lloyd's iterations, Spark-first:
  *  - centroids are DRIVER state (k×dim doubles — tiny), pushed into each
  *    assignment pass as array LITERALS, so the distance kernel is the
  *    codegen'd native `array_dot` ([[graft.functions.ArrayDot]]) against
  *    a constant and the whole assignment stage is one narrow projection;
  *  - argmin is `array_min` over (distance, cluster) structs —
  *    lexicographic struct order gives deterministic smallest-id
  *    tie-breaks, no UDF;
  *  - the update is ONE (cluster, dimension) aggregation (posexplode →
  *    partial sums map-side) plus ONE (cluster) aggregation for
  *    sizes/inertia; k×dim rows return to the driver per iteration.
  *
  * Initialization is the k rows with smallest (md5(id), id) — a
  * content-keyed deterministic draw (same rows on any partitioning/engine),
  * the repo's standard determinism device (capPerKey, splits). Distances
  * use ‖x−c‖² = ‖x‖² − 2x·c + ‖c‖² with ‖x‖² computed once per row.
  *
  * The input projection is persisted (MEMORY_AND_DISK) for the iteration
  * loop and unpersisted before returning; the returned assignment frame
  * re-derives from the source lineage with the final centroids (one more
  * scan when consumed).
  */
object Cluster {

  final case class KMeansResult(assignments: DataFrame,
      centroids: Array[Array[Double]], inertia: Double, iterations: Int)

  /** @param df     input with an id column and an array<float|double> column
    * @param k      cluster count (driver holds k×dim doubles)
    * @param maxIter Lloyd iteration cap
    * @param tol    stop when no centroid moved more than `tol` (L∞)
    * @return assignments (input columns + cluster, dist2), final centroids,
    *         total inertia (Σ min-dist²), iterations run
    */
  def kmeans(df: DataFrame, idCol: String, vecCol: String, k: Int,
      maxIter: Int = 10, tol: Double = 1e-9): KMeansResult = {
    require(k >= 1, s"need k >= 1, got $k")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val base = df.select(col(idCol).as("__id"),
        col(vecCol).cast("array<double>").as("__x"))
      .filter(col("__x").isNotNull)
      .withColumn("__xx", call_function("array_dot", col("__x"), col("__x")))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids = base
        .orderBy(md5(col("__id").cast("string").cast("binary")), col("__id"))
        .limit(k)
        .select("__x").collect().map(_.getSeq[Double](0).toArray)
      require(centroids.length == k, s"fewer than $k non-null vectors")

      // partial distance to centroid j (‖x‖² added once, outside the argmin
      // — it shifts every distance equally)
      def partialDist(c: Array[Double]) =
        lit(-2.0) * call_function("array_dot", col("__x"),
          typedLit(c.toSeq)) + graft.functions.stableLit(c.map(v => v * v).sum)
      def clusterCol(cs: Array[Array[Double]]) =
        array_min(array(cs.zipWithIndex.map { case (c, j) =>
          struct(partialDist(c).as("d"), lit(j).as("c"))
        }: _*))

      var iters = 0
      var inertia = 0.0
      var converged = false
      while (iters < maxIter && !converged) {
        val assigned = base.withColumn("__best", clusterCol(centroids))
          .select(col("__id"), col("__x"), col("__xx"),
            col("__best.c").as("__c"), col("__best.d").as("__d"))
        // update: per-(cluster, dim) sums — map-side partials, k×dim rows
        // out — UNIONED with the per-cluster inertia collapse so both
        // land in ONE collect job per round instead of two (r14; the
        // arithmetic of each arm is unchanged, dim rows tagged __p >= 0,
        // inertia rows __p = -1)
        val dimSumsA = assigned
          .select(col("__c"), posexplode(col("__x")).as(Seq("__p", "__v")))
          .groupBy("__c", "__p").agg(sum("__v").as("__s"), count(lit(1)).as("__n"))
        val inertiaA = assigned.groupBy("__c")
          .agg(sum(col("__xx") + col("__d")).as("__s"))
          .select(col("__c"), lit(-1).as("__p"), col("__s"), lit(0L).as("__n"))
        val both = dimSumsA.unionByName(inertiaA).collect()
        val dimSums = both.filter(_.getInt(1) >= 0)
        val sizesInertia = both.filter(_.getInt(1) < 0)
        inertia = sizesInertia.map(_.getDouble(2)).sum
        val next = centroids.zipWithIndex.map { case (old, j) =>
          val dims = dimSums.filter(_.getInt(0) == j)
          if (dims.isEmpty) old // empty cluster keeps its centroid
          else {
            val c = old.clone()
            dims.foreach(r => c(r.getInt(1)) = r.getDouble(2) / r.getLong(3))
            c
          }
        }
        converged = centroids.zip(next).forall { case (a, b) =>
          a.zip(b).forall { case (u, v) => math.abs(u - v) <= tol }
        }
        centroids = next
        iters += 1
      }

      val assignments = df
        .withColumn("__x0", col(vecCol).cast("array<double>"))
        .filter(col("__x0").isNotNull)
        .withColumn("__xx0",
          call_function("array_dot", col("__x0"), col("__x0")))
        .withColumn("__best", array_min(array(
          centroids.zipWithIndex.map { case (c, j) =>
            struct((lit(-2.0) * call_function("array_dot", col("__x0"),
              typedLit(c.toSeq)) + lit(c.map(v => v * v).sum)).as("d"),
              lit(j).as("c"))
          }: _*)))
        .withColumn("cluster", col("__best.c"))
        .withColumn("dist2", greatest(col("__xx0") + col("__best.d"), lit(0.0)))
        .drop("__x0", "__xx0", "__best")
      KMeansResult(assignments, centroids, inertia, iters)
    } finally base.unpersist(blocking = false)
  }

  /** Simplified silhouette of a centroid model (the centroid-based
    * silhouette of Hruschka et al. — a(x) = distance to the NEAREST
    * centroid (= the assignment), b(x) = distance to the second-nearest,
    * s = (b − a)/max(a, b) — the O(n·k) readout the full O(n²) pairwise
    * silhouette can never be at scale; with nearest-centroid
    * assignments s is in [0, 1] by construction). Feed it [[kmeans]]'s
    * centroids (or any literal model).
    *
    * Scale shape: distances are literal-centroid codegen'd `array_dot`
    * projections (one pass, no shuffle beyond the per-cluster collapse);
    * per-point scores MICRO-quantize before the mean so the per-cluster
    * sums are exact longs on any partitioning. The (distance, cluster)
    * sort tiebreak matches [[kmeans]]'s assignment argmin in intent, but
    * NOT bit-for-bit: distances here add the ||x||² term and a sqrt that
    * the kmeans argmin omits (both monotone in the true distance, so any
    * divergence needs a float NEAR-tie where the two roundings order two
    * centroids differently) — a point within float-epsilon of two
    * centroids can report a different "own" cluster than its kmeans
    * assignment. Real-data impact is nil; exact-tie synthetic grids
    * should assign clusters explicitly.
    *
    * @return per cluster: (cluster, n, silhouette) — the mean simplified
    *         silhouette on a 4-digit grid
    */
  def simplifiedSilhouette(df: DataFrame, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    require(centroids.length >= 2, "need at least 2 centroids")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val base = df.select(col(vecCol).cast("array<double>").as("__x"))
      .filter(col("__x").isNotNull)
      .withColumn("__xx",
        call_function("array_dot", col("__x"), col("__x")))
    val dists = centroids.zipWithIndex.map { case (c, j) =>
      struct(sqrt(greatest(col("__xx") +
        lit(-2.0) * call_function("array_dot", col("__x"),
          typedLit(c.toSeq)) + graft.functions.stableLit(c.map(v => v * v).sum), lit(0.0)))
        .as("d"), lit(j).as("c"))
    }
    val arr = array_sort(array(dists: _*))
    val a = col("__arr").getItem(0).getField("d")
    val b = col("__arr").getItem(1).getField("d")
    val own = col("__arr").getItem(0).getField("c")
    val sil = when(greatest(a, b) > 0.0, (b - a) / greatest(a, b))
      .otherwise(lit(0.0))
    base.withColumn("__arr", arr)
      .select(own.as("cluster"),
        round(sil * 1e6).cast("long").as("__sm"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n"), sum("__sm").as("__s"))
      .select(col("cluster"), col("n"),
        round(col("__s").cast("double") / col("n").cast("double") / 1e6,
          4).as("silhouette"))
  }

  /** Pairwise cosine similarity between per-label embedding centroids —
    * the label-confusion geometry check (which classes/clusters sit close
    * in embedding space, which sources overlap semantically).
    *
    * ONE (label, dimension) aggregation reduces the data (map-side
    * partials; |labels|×dim rows out); everything after — norms, the
    * label_a < label_b pair join, the dot products — is arithmetic on
    * that tiny frame.
    *
    * @return (label_a, label_b, cos) for label_a < label_b
    */
  def labelCentroidCosine(df: DataFrame, labelCol: String,
      vecCol: String): DataFrame = {
    val dims = df
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("__p", "__v")))
      .groupBy("label", "__p").agg(avg("__v").as("__m"))
    val norms = dims.groupBy("label")
      .agg(sum(col("__m") * col("__m")).as("__n2"))
    val a = dims.select(col("label").as("label_a"), col("__p"),
      col("__m").as("__ma"))
    val b = dims.select(col("label").as("label_b"), col("__p"),
      col("__m").as("__mb"))
    a.join(b, Seq("__p")).filter(col("label_a") < col("label_b"))
      .groupBy("label_a", "label_b")
      .agg(sum(col("__ma") * col("__mb")).as("__dot"))
      .join(norms.select(col("label").as("label_a"),
        col("__n2").as("__na")), "label_a")
      .join(norms.select(col("label").as("label_b"),
        col("__n2").as("__nb")), "label_b")
      .withColumn("cos", col("__dot") / sqrt(col("__na") * col("__nb")))
      .select("label_a", "label_b", "cos")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, public):
    * k-means partitions the embedding space, near-duplicate pairs are
    * sought ONLY within each cluster, and each duplicate group keeps its
    * smallest id. The cluster scoping is what makes embedding dedup
    * feasible at corpus scale — the pair space shrinks from n² to
    * Σ|cluster|², and k is the knob that bounds it.
    *
    * Execution: one k-means fit ([[kmeans]]: literal-centroid codegen'd
    * assignment), one cluster-keyed self-join for candidate pairs (the
    * only quadratic step, bounded per cluster and capped — clusters above
    * `maxClusterSize` are dropped from pairing with the same
    * count-filter-join guard every banded self-join here uses), exact
    * cosine verification on the 6-digit grid, LSS connected components,
    * and one keep-smallest anti-filter.
    *
    * Fidelity caveats vs exact dedup (by design): pairs straddling a
    * cluster boundary are missed (raise k-means `maxIter`/lower k to
    * taste), and oversized clusters are skipped entirely.
    *
    * @return the surviving rows of `df` (all input columns)
    */
  def semanticDedup(df: DataFrame, idCol: String, vecCol: String, k: Int,
      threshold: Double, maxIter: Int = 5, maxClusterSize: Int = 10000,
      checkpointDir: Option[String] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val asg = kmeans(df, idCol, vecCol, k, maxIter).assignments
      .select(col(idCol).as("__sd_id"), col(vecCol).as("__sd_v"),
        col("cluster").as("__sd_c"))
    val okClusters = asg.groupBy("__sd_c").agg(count(lit(1)).as("__n"))
      .filter(col("__n") <= maxClusterSize).select("__sd_c")
    val scoped = asg.join(okClusters, Seq("__sd_c"), "left_semi")
    val pairs = scoped
      .select(col("__sd_c"), col("__sd_id").as("id_a"), col("__sd_v").as("__va"))
      .join(scoped.select(col("__sd_c"), col("__sd_id").as("id_b"),
        col("__sd_v").as("__vb")), "__sd_c")
      .filter(col("id_a") < col("id_b"))
      .withColumn("__cos", round(Similarity.cosine(
        col("__va").cast("array<double>"), col("__vb").cast("array<double>")), 6))
      .filter(col("__cos") >= threshold)
      .select("id_a", "id_b")
    val labels = graft.ops.Dedup.connectedComponentsLSS(pairs,
        checkpointDir = checkpointDir)
      .withColumnRenamed("id", idCol).withColumnRenamed("label", "__sd_label")
    df.join(labels, Seq(idCol), "left")
      .filter(col("__sd_label").isNull || col("__sd_label") === col(idCol))
      .drop("__sd_label")
  }

  /** DBSCAN density clustering in 2-D (Ester et al. 1996) — the
    * arbitrary-shape / noise-aware companion to [[kmeans]] (for vectors,
    * project first: `Similarity.randomProject` or `glm.PCA` to 2-D).
    *
    * Spark-first shape — grid-blocked, never a self-cross-join:
    *  1. each point gets its ⌊x/eps⌋×⌊y/eps⌋ grid cell; one side of the
    *     neighbor join fans out to its 9 adjacent cells (explode of a
    *     9-literal offset array), the other keeps its own cell — the join
    *     is a plain equi-join on the cell key, and since every point
    *     belongs to exactly ONE cell each neighbor pair is produced
    *     exactly once; the ε-disc predicate then filters the candidates;
    *  2. core points = neighbor count ≥ minPts (ONE groupBy; a point is
    *     its own neighbor, per the standard definition);
    *  3. clusters = connected components over CORE–CORE ε-edges
    *     ([[Dedup.connectedComponentsLSS]], checkpointed generations) —
    *     labels are component-minimum ids, so deterministic;
    *  4. border points (non-core with a core ε-neighbor) take the MINIMUM
    *     cluster label among their core neighbors — the one ambiguity in
    *     classic DBSCAN, resolved to a total order; everything else is
    *     noise (`cluster` null).
    *
    * Hot cells are a density property the grid cannot fix (a cell denser
    * than `maxCellSize` makes the candidate join quadratic in that cell):
    * the operator fails LOUDLY with the measured max instead of running a
    * silent blow-up — shrink eps or thin the data first.
    *
    * @return (idCol, is_core, cluster) — cluster is the minimum member id
    *         of the density-connected component, null for noise
    */
  def dbscan(df: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int, maxCellSize: Int = 100000,
      checkpointDir: Option[String] = None): DataFrame = {
    require(eps > 0, s"eps must be > 0, got $eps")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val pts = df.select(col(idCol).as("__id"),
      col(xCol).cast("double").as("__x"), col(yCol).cast("double").as("__y"))
      .withColumn("__cx", floor(col("__x") / eps).cast("long"))
      .withColumn("__cy", floor(col("__y") / eps).cast("long"))
    val cellMax = pts.groupBy("__cx", "__cy").agg(count(lit(1)).as("n"))
      .agg(max("n")).head().getLong(0)
    require(cellMax <= maxCellSize,
      s"densest eps-cell holds $cellMax points (> maxCellSize $maxCellSize)" +
        " — the candidate join would be quadratic in that cell; shrink eps" +
        " or thin the input first")
    val offsets = explode(array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*))
    val probes = pts.select(col("__id").as("id_a"), col("__x").as("xa"),
        col("__y").as("ya"), col("__cx"), col("__cy"), offsets.as("o"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("__cx") + col("o.dx")).as("__cx"),
        (col("__cy") + col("o.dy")).as("__cy"))
    val nbrs = probes.join(
        pts.select(col("__id").as("id_b"), col("__x").as("xb"),
          col("__y").as("yb"), col("__cx"), col("__cy")),
        Seq("__cx", "__cy"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(eps * eps))
      .select("id_a", "id_b")
    graft.Checkpointer.using(df.sparkSession, checkpointDir) { cp =>
      val nb = cp.pin(nbrs) // counts + core edges + border both reuse it
      val cores = nb.groupBy("id_a").agg(count(lit(1)).as("__deg"))
        .filter(col("__deg") >= minPts).select(col("id_a").as("__core_id"))
      val coreEdges = nb
        .join(cores.select(col("__core_id").as("id_a")), Seq("id_a"), "left_semi")
        .join(cores.select(col("__core_id").as("id_b")), Seq("id_b"), "left_semi")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b")
      val coreLabels = Dedup.connectedComponentsLSS(coreEdges,
          checkpointDir = checkpointDir)
        .select(col("id").as("__core_id"), col("label").as("__lbl"))
      // isolated cores (no other core in range) label themselves
      val allCoreLabels = cores.join(coreLabels, Seq("__core_id"), "left")
        .select(col("__core_id"),
          coalesce(col("__lbl"), col("__core_id")).as("__lbl"))
      val borderLabels = nb
        .join(cores.withColumnRenamed("__core_id", "id_a"),
          Seq("id_a"), "left_anti") // id_a not core
        .join(allCoreLabels.withColumnRenamed("__core_id", "id_b"), Seq("id_b"))
        .groupBy(col("id_a")).agg(min("__lbl").as("__lbl"))
      val out = pts.select(col("__id"))
        .join(allCoreLabels.withColumnRenamed("__core_id", "__id")
          .withColumn("is_core", lit(true)), Seq("__id"), "left")
        .join(borderLabels.withColumnRenamed("id_a", "__id")
          .withColumnRenamed("__lbl", "__blbl"), Seq("__id"), "left")
        .select(col("__id").as(idCol),
          coalesce(col("is_core"), lit(false)).as("is_core"),
          coalesce(col("__lbl"), col("__blbl")).as("cluster"))
      val materialized = cp(out)
      materialized
    }
  }
}
