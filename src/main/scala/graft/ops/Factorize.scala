package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Low-rank matrix factorization by alternating least squares (ALS) —
  * the collaborative-filtering / embedding-compression workhorse
  * (Koren, Bell, Volinsky 2009; Zhou et al. 2008 "Large-scale Parallel
  * Collaborative Filtering"): approximate the sparse rating matrix
  * R ≈ UᵀV with rank-r user factors U and item factors V, minimizing
  * Σ (r_ui − u·v)² + λ(‖U‖² + ‖V‖²).
  *
  * Spark-first realization: each half-step of ALS is EXACTLY a per-group
  * ridge regression — users given items, items given users — so each
  * iteration is two (join + [[graft.glm.GroupedLM.fit]]) rounds: the
  * ratings frame joins the current factor side on its key, and the Gram
  * aggregator solves every group's r×r normal equations inside the
  * aggregation `finish`. No driver state, no MLlib block structure —
  * keyed shuffles only, map-side partial Gram merge, any number of
  * users/items. Factor generations run through [[graft.Checkpointer]]
  * so lineage stays flat and at most two generations of factor state
  * exist at once.
  *
  * Determinism: init is md5-derived per (id, component) — the
  * content-keyed discipline — so fits reproduce bit-for-bit-modulo-ulp
  * on any partitioning; `init = "ones"` gives the constant init whose
  * rank-1 fixed path has a closed per-iteration form (the oracle gate).
  *
  * 100 TB design: per iteration 2 keyed joins + 2 keyed aggregations;
  * the shuffle carries one r(r+3)/2-double Gram buffer per (partition,
  * group), never row data. Skewed hot items (a product everyone rates)
  * cost one big Gram merge, not a data explosion — the buffer is
  * fixed-size. Rank is bounded by the r² buffer (r ≤ ~100), the same
  * constraint as the reference's normal-equation path.
  */
object Factorize {

  /** Fitted factors. Frames: (idCol, `f_0`..`f_{rank-1}`). */
  final case class ALSModel(rank: Int, userCol: String, itemCol: String,
      userFactors: DataFrame, itemFactors: DataFrame) {

    /** Score (user, item) pairs: prediction = u·v via the joined factor
      * columns — a pure column expression, no UDF. Pairs with an unseen
      * user or item predict NULL (unscorable, not dropped).
      */
    def predict(df: DataFrame): DataFrame = {
      val fCols = (0 until rank).map(k => s"f_$k")
      val uf = userFactors.select(col(userCol) +:
        fCols.map(c => col(c).as(s"__u_$c")): _*)
      val vf = itemFactors.select(col(itemCol) +:
        fCols.map(c => col(c).as(s"__v_$c")): _*)
      val dot = fCols.map(c => col(s"__u_$c") * col(s"__v_$c"))
        .reduce(_ + _)
      df.join(uf, Seq(userCol), "left").join(vf, Seq(itemCol), "left")
        .withColumn("prediction", dot)
        .drop(fCols.flatMap(c => Seq(s"__u_$c", s"__v_$c")): _*)
    }
  }

  /** md5-derived uniform in [0, 1): deterministic, engine-reproducible
    * (the q236 hashing-trick mapping over a 1e6 grid).
    */
  private def hashUnit(c: Column): Column =
    pmod(conv(substring(md5(c), 1, 15), 16, 10).cast("long"),
      lit(1000000L)).cast("double") / lit(1e6)

  /** Fit rank-r factors by `iters` full ALS sweeps (items init, then
    * user-step / item-step per sweep).
    *
    * Duplicate (user, item) pairs are legal — they weight the normal
    * equations like repeated observations (pre-aggregate upstream for
    * mean semantics).
    *
    * @param init  `"hash"` (default): component k of item i starts at
    *              uniform [0,1)/√rank keyed on md5(i#k) — deterministic,
    *              no RNG state. `"ones"`: every component 1/√rank (only
    *              sensible for rank 1 — identical columns are collinear,
    *              though the ridge keeps them solvable).
    * @param lambda L2 penalty added per group (plain λI, not λ·n_u —
    *               document-scale invariant and closed-form replayable)
    */
  def als(ratings: DataFrame, userCol: String, itemCol: String,
      ratingCol: String, rank: Int = 8, iters: Int = 5,
      lambda: Double = 0.1, init: String = "hash",
      checkpointDir: Option[String] = None): ALSModel = {
    require(rank >= 1, s"need rank >= 1, got $rank")
    require(iters >= 1, s"need iters >= 1, got $iters")
    require(lambda > 0.0, s"need lambda > 0 (PD solve for any group size), got $lambda")
    require(init == "hash" || init == "ones",
      s"init must be 'hash' or 'ones', got '$init'")
    val fCols = (0 until rank).map(k => s"f_$k")
    val r = ratings.select(col(userCol).as("__u"), col(itemCol).as("__i"),
        col(ratingCol).cast("double").as("__r"))
      .filter(col("__u").isNotNull && col("__i").isNotNull &&
        col("__r").isNotNull)
    // one generation tracker PER SIDE: Checkpointer frees the previous
    // generation on each apply, and both sides stay live across a sweep
    // (the item step reads the user factors just produced) — a single
    // tracker would free the user generation the moment the item step
    // materializes
    graft.Checkpointer.using(ratings.sparkSession, checkpointDir) { cpU =>
      graft.Checkpointer.using(ratings.sparkSession, checkpointDir) { cpV =>
        // the ratings frame feeds 2 joins per sweep — pin it once
        val rr = cpU.pin(r)
        val scale = 1.0 / math.sqrt(rank.toDouble)
        def initComp(id: Column, k: Int): Column = init match {
          case "ones" => lit(scale)
          case _ => hashUnit(concat_ws("#", id, lit(k))) * lit(scale)
        }
        var itemF = cpV(rr.select(col("__i")).distinct()
          .select(col("__i") +: fCols.zipWithIndex.map { case (c, k) =>
            initComp(col("__i"), k).as(c) }: _*))
        var userF: DataFrame = null
        def halfStep(solveKey: String, otherKey: String,
            factors: DataFrame): DataFrame = {
          val joined = rr.join(factors, Seq(otherKey))
          graft.glm.GroupedLM.fit(joined, Seq(solveKey), fCols, "__r",
              intercept = false, ridge = lambda)
            .select(col(solveKey) +: fCols.map(c => col(s"b_$c").as(c)): _*)
        }
        for (_ <- 1 to iters) {
          userF = cpU(halfStep("__u", "__i", itemF))
          itemF = cpV(halfStep("__i", "__u", userF))
        }
        // materialize both outputs before close() releases tracked state
        val uOut = userF.select(col("__u").as(userCol) +: fCols.map(col): _*)
          .localCheckpoint(true)
        val vOut = itemF.select(col("__i").as(itemCol) +: fCols.map(col): _*)
          .localCheckpoint(true)
        ALSModel(rank, userCol, itemCol, uOut, vOut)
      }
    }
  }
}
