package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** PLSA topic modeling (Hofmann 1999, probabilistic latent semantic
  * analysis) — the corpus-structure discovery operator next to the
  * tokenizer family: soft-EM over p(z|d) doc-topic mixtures and p(w|z)
  * topic-word distributions, the deterministic count-based core of the
  * LDA lineage (LDA = PLSA + Dirichlet smoothing; the EM skeleton and
  * every distributed shape are identical).
  *
  * Scale shape: the corpus collapses ONCE to the (doc, word, n) frame
  * restricted to the top-`topV` vocabulary, so the topic-word state is
  * vocab-bounded (k·V, driver-held as a plan literal — the
  * [[Unigram]]/[[Quantize]] codebook discipline) while doc-topic
  * mixtures stay a DataFrame keyed by doc (never collected). Each EM
  * round is ONE keyed join (counts × doc-topics) + a pure posterior
  * projection + TWO aggregations of the same quantized cell frame (by
  * doc → next θ; by word → next φ, k·V rows to the driver).
  *
  * Exact-replay discipline (the [[Unigram]] rules):
  *  - the posterior chain is pinned — θ_z = t_z/tot (one division),
  *    num_z = θ_z·φ_z(w), den = ((num_0 + num_1) + …) left-associated;
  *  - per-cell expected counts quantize to integer micro-units BEFORE
  *    any shuffle, so aggregation order never matters;
  *  - next-round θ and φ are exact integer ratios of those totals, each
  *    cell floored at 1 micro-unit (the SentencePiece keep-alive rule:
  *    a zero cell would zero a posterior denominator in a later round);
  *  - init is content-keyed: topic md5(doc) mod k gets a double share
  *    in θ0, topic md5(word) mod k a double share in φ0 — no RNG state,
  *    partition-invariant, identical in any engine.
  */
object Topics {

  /** Fitted PLSA state: doc-topic micro weights (DataFrame — one row
    * per (doc, topic), exact longs) and the vocab-bounded topic-word
    * micro weights.
    */
  final case class PlsaModel(k: Int, idCol: String,
      docTopics: DataFrame, topicWord: Seq[(Int, String, Long)]) {

    /** (topic, word, weight_micro, p) — p the exact within-topic ratio. */
    def topicWordDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
      import spark.implicits._
      val tot = topicWord.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
      topicWord
        .map { case (z, w, c) => (z, w, c, c.toDouble / tot(z).toDouble) }
        .toDF("topic", "word", "weight_micro", "p")
    }

    /** (idCol, topic, weight_micro, p) — p the exact within-doc ratio. */
    def docTopicsDF: DataFrame = {
      val cols = (0 until k).map(z => col(s"t_$z"))
      val tot = cols.map(_.cast("double")).reduceLeft(_ + _)
      docTopics.select(col(idCol) +: (0 until k).map(z =>
        struct(lit(z).as("topic"), col(s"t_$z").as("weight_micro"),
          (col(s"t_$z").cast("double") / tot).as("p")).as(s"s_$z")): _*)
        .select(col(idCol), explode(array((0 until k).map(z =>
          col(s"s_$z")): _*)).as("s"))
        .select(col(idCol), col("s.topic").as("topic"),
          col("s.weight_micro").as("weight_micro"), col("s.p").as("p"))
    }
  }

  private def draw60(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Fit `k` topics with `iters` EM rounds over the top-`topV` vocab. */
  def fitPlsa(df: DataFrame, idCol: String, textCol: String, k: Int = 4,
      topV: Int = 200, iters: Int = 2,
      checkpointDir: Option[String] = None): PlsaModel = {
    require(k >= 2, s"need k >= 2 topics, got $k")
    require(topV >= k, s"need topV >= k, got topV=$topV k=$k")
    require(iters >= 1, s"need iters >= 1, got $iters")
    val spark = df.sparkSession
    // one generation tracker PER LIVE LINEAGE (the Factorize.als rule):
    // theta and the cell frame are alive at the same time inside a
    // round — a single tracker would free theta's blocks the moment the
    // cells materialize
    graft.Checkpointer.using(spark, checkpointDir) { cp =>
      graft.Checkpointer.using(spark, checkpointDir) { cpCells =>
        val words = df.select(col(idCol).as("__d"),
          explode(split(col(textCol), "\\s+")).as("__w"))
          .filter(length(col("__w")) > 0)
        // vocab: top-V words by (count desc, word) — model-sized collect
        val vocab = words.groupBy("__w").agg(count(lit(1)).as("__c"))
          .orderBy(col("__c").desc, col("__w")).limit(topV)
          .collect().map(_.getString(0))
        require(vocab.nonEmpty,
          "plsa: corpus has no words (empty or all-whitespace text)")
        val vocabSet = typedLit(vocab.map(_ -> 1).toMap)
        val counts = cp.pin(words
          .filter(element_at(vocabSet, col("__w")).isNotNull)
          .groupBy("__d", "__w").agg(count(lit(1)).as("__n")))

        // φ0: topic md5(word) mod k gets count 2, others 1 — exact ratios
        def md5ModK(s: String): Int = {
          val h = java.lang.Long.parseLong(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(s)
              .substring(0, 15), 16)
          (h % k).toInt
        }
        var phiCounts: Map[(Int, String), Long] =
          (for (z <- 0 until k; w <- vocab)
            yield (z, w) -> (if (md5ModK(w) == z) 2L else 1L)).toMap
        def phiProbs: IndexedSeq[Map[String, Double]] = {
          val tot = (0 until k).map(z =>
            vocab.map(w => phiCounts((z, w))).sum)
          (0 until k).map(z => vocab.map(w =>
            w -> phiCounts((z, w)).toDouble / tot(z).toDouble).toMap)
        }

        // θ0: topic md5(doc) mod k gets 2e6 micro-units, others 1e6
        val mod = draw60(col("__d")) % k
        var theta = cp(counts.select("__d").distinct()
          .select(col("__d") +: (0 until k).map(z =>
            when(mod === z, lit(2000000L)).otherwise(lit(1000000L))
              .as(s"t_$z")): _*))

        for (_ <- 1 to iters) {
          val phis = phiProbs.map(typedLit(_))
          val tot = (0 until k).map(z => col(s"t_$z").cast("double"))
            .reduceLeft(_ + _)
          val joined = counts.join(theta, Seq("__d"))
            .withColumn("__tot", tot)
          // pinned posterior chain: num_z = (t_z/tot)·φ_z(w);
          // den = ((num_0 + num_1) + …) left-associated
          val nums = (0 until k).map(z =>
            (col(s"t_$z").cast("double") / col("__tot")) *
              element_at(phis(z), col("__w")))
          val den = nums.reduceLeft(_ + _)
          val cells = cpCells(joined.select(
            col("__d") +: col("__w") +: (0 until k).map(z =>
              round((col("__n").cast("double") * (nums(z) / den)) * lit(1e6))
                .cast("long").as(s"c_$z")): _*))
          val phiRows = cells.groupBy("__w").agg(
            sum("c_0").as("c_0"),
            (1 until k).map(z => sum(s"c_$z").as(s"c_$z")): _*)
            .collect()
          theta = cp(cells.groupBy("__d").agg(
            greatest(sum(s"c_0"), lit(1L)).as("t_0"),
            (1 until k).map(z =>
              greatest(sum(s"c_$z"), lit(1L)).as(s"t_$z")): _*))
          phiCounts = (for (z <- 0 until k; r <- phiRows) yield
            (z, r.getString(0)) -> math.max(r.getLong(1 + z), 1L)).toMap ++
            // vocab words absent from every doc cell keep the 1-floor
            (for (z <- 0 until k; w <- vocab
              if !phiRows.exists(_.getString(0) == w))
              yield (z, w) -> 1L)
        }
        // push the final (data-sized) cell generation out of storage —
        // the model keeps only theta and the vocab-bounded phi
        cpCells(theta.limit(1))
        val docOut = theta.select(col("__d").as(idCol) +:
          (0 until k).map(z => col(s"t_$z")): _*).localCheckpoint(true)
        val tw = (for (z <- 0 until k; w <- vocab)
          yield (z, w, phiCounts((z, w)))).toSeq
        PlsaModel(k, idCol, docOut, tw)
      }
    }
  }
}
