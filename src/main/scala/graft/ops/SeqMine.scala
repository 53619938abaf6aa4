package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequential-pattern mining (PrefixSpan semantics — Pei et al. 2001):
  * frequent subsequences-with-gaps over per-key ordered event streams,
  * support = number of DISTINCT keys containing the pattern. The
  * behavioral-motif reader next to [[EventSeq]]'s funnels (a funnel
  * checks ONE given sequence; this discovers ALL frequent ones) and
  * [[Assoc]]'s itemsets (which ignore order).
  *
  * Algorithm — earliest-occurrence frontier, the join-friendly form of
  * PrefixSpan's projected databases: a pattern P matches key k iff the
  * greedy left-to-right match succeeds, and extending from the EARLIEST
  * end position is complete (any later match of P only shrinks the
  * extension window). So per level the state is one row per (key,
  * pattern): the earliest end position. Level L+1 = ONE keyed join of
  * that frontier against the (pruned) event frame with pos > end + ONE
  * (key, pattern, item) min-aggregation. Anti-monotone support pruning
  * (every frequent L+1-pattern extends a frequent L-pattern) keeps the
  * frontier bounded: infrequent patterns leave it immediately, and the
  * item frame is pre-pruned to frequent items.
  *
  * Scale shape: no per-key explosion beyond |events_k| · |live patterns
  * in k| per level, the standard distributed PrefixSpan profile; the
  * per-level pattern census is REQUIRED ≤ maxPatterns, loudly, before
  * the next join fans out. All supports are exact distinct counts.
  *
  * Reference has no sequence miner; the DP discipline follows
  * graft's q305 earliest/first-win conventions.
  *
  * @param orderCols   must totally order events within a key (ties make
  *                    row_number nondeterministic) — e.g. (ts, event_id)
  * @param minSupport  keep patterns contained in ≥ this many keys
  * @param maxLen      longest pattern length (levels of the loop)
  * @param maxPatterns loud bound on the per-level frequent-pattern count
  * @return (pattern, len, support) — pattern items joined by "→"
  */
object SeqMine {

  def prefixSpan(df: DataFrame, keyCol: String, orderCols: Seq[String],
      itemCol: String, minSupport: Long, maxLen: Int,
      maxPatterns: Long = 4096L): DataFrame = {
    require(minSupport >= 1, s"need minSupport >= 1, got $minSupport")
    require(maxLen >= 1 && maxLen <= 8, s"need 1 <= maxLen <= 8, got $maxLen")
    require(orderCols.nonEmpty, "need at least one ordering column")
    graft.Checkpointer.using(df.sparkSession, None) { cp =>
      val w = Window.partitionBy(keyCol).orderBy(orderCols.map(col): _*)
      val ev = df.filter(col(itemCol).isNotNull)
        .withColumn("__pos", row_number().over(w))
        .select(col(keyCol).as("__k"), col(itemCol).cast("string").as("__i"),
          col("__pos"))
      val freq1 = cp.pin(ev.groupBy("__i")
        .agg(countDistinct("__k").as("support"))
        .filter(col("support") >= minSupport))
      val n1 = freq1.count()
      require(n1 <= maxPatterns,
        s"$n1 frequent items exceed maxPatterns=$maxPatterns; raise minSupport")
      // prune to frequent items once — every pattern is built from them
      val evF = cp.pin(ev.join(freq1.select("__i"), Seq("__i"), "left_semi"))
      var results = freq1
        .select(col("__i").as("pattern"), lit(1).as("len"), col("support"))
      var frontier = cp(evF.groupBy(col("__k"), col("__i").as("__p"))
        .agg(min("__pos").as("__end")))
      var live = n1
      for (len <- 2 to maxLen if live > 0) {
        val ext = evF.join(frontier, Seq("__k"))
          .filter(col("__pos") > col("__end"))
          .groupBy(col("__k"),
            concat(col("__p"), lit("→"), col("__i")).as("__p"))
          .agg(min("__pos").as("__end"))
        val sup = cp.pin(ext.groupBy("__p")
          .agg(countDistinct("__k").as("support"))
          .filter(col("support") >= minSupport))
        live = sup.count()
        require(live <= maxPatterns,
          s"$live frequent length-$len patterns exceed " +
            s"maxPatterns=$maxPatterns; raise minSupport")
        if (live > 0) {
          frontier = cp(ext.join(sup.select("__p"), Seq("__p"), "left_semi"))
          results = results.unionByName(sup
            .select(col("__p").as("pattern"), lit(len).as("len"),
              col("support")))
        }
      }
      // materialize the result as the final (uncleaned) generation BEFORE
      // close() frees the pinned per-level support frames it reads
      val out = cp(results)
      out
    }
  }
}
