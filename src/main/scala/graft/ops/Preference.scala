package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pairwise-preference ranking — the Bradley–Terry model (1952), the
  * standard strength model for preference data (RLHF comparison logs,
  * A/B taste tests, match results): P(i beats j) = π_i / (π_i + π_j).
  *
  * Fit by the classic MM update (Hunter 2004), which monotonically
  * increases the likelihood:
  *
  *   π'_i = W_i / Σ_{j ≠ i} n_ij / (π_i + π_j)
  *
  * with W_i = total wins of i and n_ij = games between i and j. Each
  * iteration is ONE keyed join of the (i, j, n_ij) pair frame against
  * the current π frame (both directions of every pair are materialized,
  * so the denominator is a single groupBy(i) sum) — no driver-held
  * state, item count unbounded. A fixed iteration count keeps the
  * result deterministic (and the DuckDB oracle closed-form: unrolled
  * update CTEs, the PageRank-oracle pattern).
  *
  * MLE caveat (documented, standard): items with zero wins drive
  * π → 0 and items with zero losses π → ∞ in the exact MLE; with a
  * finite iteration count they simply rank at the extremes.
  */
object Preference {

  /** @param iters MM update count (each = one cluster pass)
    * @return (item, wins, n_games, score) — score = π normalized to
    *         Σ = 1 over items, 6-digit grid; items that never won rank
    *         with score 0
    */
  def bradleyTerry(df: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 20): DataFrame = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val games = df.select(col(winnerCol).as("__w"), col(loserCol).as("__l"))
      .filter(col("__w").isNotNull && col("__l").isNotNull &&
        col("__w") =!= col("__l"))
    val wins = games.groupBy(col("__w").as("i")).agg(count(lit(1)).as("wi"))
    // both directions of every pair: n = total games between i and j
    val ordered = games.groupBy(col("__w").as("i"), col("__l").as("j"))
      .agg(count(lit(1)).as("nij"))
    // multi-consumer loop invariants (pair frame, win margins) pin via
    // the Checkpointer; each π generation materializes so the lineage
    // stays flat (π feeds TWO joins per iteration — unchecked, the plan
    // would double every round)
    graft.Checkpointer.using(df.sparkSession, None) { cp =>
      val pairs = cp.pin(ordered
        .unionByName(ordered.select(col("j").as("i"), col("i").as("j"),
          col("nij")))
        .groupBy("i", "j").agg(sum("nij").as("n")))
      val items = pairs.select(col("i")).distinct()
      val w = cp.pin(items.join(wins, Seq("i"), "left")
        .select(col("i"), coalesce(col("wi"), lit(0L)).as("wi")))
      var pi = cp(items.withColumn("pi", lit(1.0)))
      for (_ <- 1 to iters) {
        val denom = pairs
          .join(pi.select(col("i"), col("pi").as("__pi")), Seq("i"))
          .join(pi.select(col("i").as("j"), col("pi").as("__pj")), Seq("j"))
          .groupBy("i")
          .agg(sum(col("n").cast("double") / (col("__pi") + col("__pj")))
            .as("__d"))
        pi = cp(w.join(denom, Seq("i"))
          .select(col("i"), (col("wi").cast("double") / col("__d")).as("pi")))
      }
      val tot = pi.agg(sum("pi").as("__t"))
      val res = pi.crossJoin(broadcast(tot))
        .join(w, Seq("i"))
        .join(pairs.groupBy("i").agg(sum("n").as("n_games")), Seq("i"))
        .select(col("i").as("item"), col("wi").as("wins"), col("n_games"),
          round(col("pi") / col("__t"), 6).as("score"))
        .localCheckpoint(true) // materialize before close() frees generations
      res
    }
  }
}
