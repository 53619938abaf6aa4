package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Table profiling: per-column row/null/distinct counts in ONE aggregation
  * pass, unpivoted to one row per column. The first data-quality pass a
  * pipeline runs on an unknown 100 TB table.
  *
  * Exact mode plans the multi-column `countDistinct` set through a single
  * Expand — k columns cost one scan with a ×k row expansion, not k scans —
  * but that Expand shuffles every distinct value of every column.
  * `approxDistinct = true` swaps in PORTABLE per-column HLL register
  * tables ([[Sketch.hllCoords]]): a typed melt of the k columns, one
  * (column, bucket) register collapse — partial aggregation bounds every
  * partition's shuffle contribution at k·2^p cells — and the
  * engine-replayable readout, the right default at 100 TB where
  * per-column exact distincts are the expensive half of the pass. The
  * md5-derived registers replay bit-for-bit in ANSI SQL (unlike the
  * opaque HLL++ this replaced), so the approx pass carries a full
  * hash-equality oracle (q137). The approx estimate counts distinct
  * STRING RENDERINGS of the values (ties only differ for exotic
  * numerics like -0.0 vs 0.0).
  */
object Profile {

  /** @return (column, n_rows, n_nulls, n_distinct) — one row per requested
    *         column; `n_distinct` counts non-null values (approximately,
    *         at precision p = ceil(log2((1.04/rsd)^2)) clamped to 4..14,
    *         when `approxDistinct`)
    */
  def summarize(df: DataFrame, cols: Seq[String],
      approxDistinct: Boolean = false, rsd: Double = 0.05): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(cols.forall(df.columns.contains), "unknown column requested")
    if (!approxDistinct) {
      val aggs = cols.flatMap { c =>
        Seq(count(col(c)).as(s"__cnt_$c"),
          countDistinct(col(c)).as(s"__nd_$c"))
      }
      val row = df.agg(count(lit(1)).as("__n"), aggs: _*)
      // single-row frame → one output row per column (tiny, driver-free)
      val structs = array(cols.map { c =>
        struct(lit(c).as("column"), col("__n").as("n_rows"),
          (col("__n") - col(s"__cnt_$c")).as("n_nulls"),
          col(s"__nd_$c").as("n_distinct"))
      }: _*)
      row.select(explode(structs).as("p")).select("p.*")
    } else {
      require(rsd > 0 && rsd < 1, s"need 0 < rsd < 1, got $rsd")
      // standard error 1.04/sqrt(2^p) <= rsd → p = ceil(log2((1.04/rsd)^2))
      val p = math.min(14, math.max(4,
        math.ceil(2.0 * math.log(1.04 / rsd) / math.log(2.0)).toInt))
      val scale = 61 - p
      // ONE scan: typed melt to (column, bucket, rho) with nulls parked
      // in the sentinel bucket −1, then a two-level collapse — level 1
      // is the register table (≤ k·(2^p + 1) cells after partial agg),
      // level 2 the per-column counts + readout
      val (bucket, rho) = Sketch.hllCoords(col("e.__v"), p)
      val entries = cols.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("__v")))
      val lvl1 = df
        .select(explode(array(entries: _*)).as("e"))
        .select(col("e.column").as("column"),
          when(col("e.__v").isNull, lit(-1L)).otherwise(bucket)
            .as("__bucket"),
          when(col("e.__v").isNull, lit(null)).otherwise(rho).as("__rho"))
        .groupBy("column", "__bucket")
        .agg(count(lit(1)).as("__c"), max("__rho").as("__r"))
      lvl1.groupBy("column").agg(
        sum("__c").as("n_rows"),
        sum(when(col("__bucket") === -1L, col("__c")).otherwise(0L))
          .as("n_nulls"),
        sum(when(col("__bucket") >= 0L, 1L).otherwise(0L)).as("__occ"),
        coalesce(sum(when(col("__bucket") >= 0L,
          expr(s"shiftleft(CAST(1 AS BIGINT), $scale - __r)"))), lit(0L))
          .as("__s_occ"))
        .select(col("column"), col("n_rows"), col("n_nulls"),
          floor(Sketch.hllReadout(col("__occ"), col("__s_occ"), p) +
            lit(0.5)).cast("long").as("n_distinct"))
    }
  }

  /** Benford first-digit audit of a POSITIVE INTEGRAL column (counts, ids,
    * sizes) — the classic fabricated-data / truncation screen. The digit
    * comes from the long's decimal string (both engines render integers
    * identically; a float `log10` would flip at power-of-ten boundaries on
    * the last ulp), one groupBy(digit) shuffle, Benford's expectation
    * ln(1+1/d)/ln 10 as literal arithmetic.
    *
    * Rows with NULL or ≤ 0 values are excluded (they have no leading
    * significant digit).
    *
    * @return 9 rows (digit, n, frac, benford_p) ordered by digit
    */
  def benford(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).cast("long")
    val digits = df.filter(v.isNotNull && v > 0)
      .select(substring(v.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("__t"))
    digits.crossJoin(broadcast(tot))
      .select(col("digit"), col("n"),
        (col("n").cast("double") / col("__t")).as("frac"),
        (log(lit(1.0) + lit(1.0) / col("digit")) / math.log(10.0))
          .as("benford_p"))
      .orderBy("digit")
  }

  /** Gini concentration of a non-negative measure (how unequal are token
    * counts across documents / bytes across sources?) via the Lorenz
    * trapezoid identity on the DISTINCT-value frame:
    *
    *   G = 1 − Σ_v (c_v/n) · (2·S_<v + s_v)/S   (values ascending)
    *
    * One groupBy(value) collapse, the two-level [[Cumulative]] prefix pass
    * for S_<v — never a single-task sort of the raw rows.
    *
    * @return one row (gini, n_rows)
    */
  def gini(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("double")
    val byV = df.select(x.as("__v")).filter(col("__v").isNotNull)
      .groupBy("__v")
      .agg(count(lit(1)).as("__c"), sum("__v").as("__s"))
    val tot = byV.agg(sum("__c").as("__n"), sum("__s").as("__st"))
    Cumulative.runningSums(byV, "__v", Seq("__s"))
      .crossJoin(broadcast(tot))
      .agg(
        (lit(1.0) - sum(col("__c").cast("double") *
          (lit(2.0) * col("__s_cum") - col("__s"))) /
          (first(col("__n")).cast("double") * first(col("__st")))).as("gini"),
        first(col("__n")).as("n_rows"))
  }

  /** Fixed-width histogram over [lo, hi): `bins` equal buckets plus
    * underflow (bin −1) and overflow (bin `bins`) rows when such values
    * exist. Bin id = floor((x−lo)/w) with the hi endpoint clamped into the
    * last bucket (standard right-open convention). ONE groupBy(bin)
    * shuffle of int keys — the frame any distribution plot, drift check or
    * binned statistic starts from; pair with `approxQuantile` upstream
    * when [lo, hi) is unknown (the q138 pattern).
    *
    * @return (bin, bin_lo, bin_hi, n) ordered by bin; NULL values excluded
    */
  def histogram(df: DataFrame, valueCol: String, lo: Double, hi: Double,
      bins: Int): DataFrame = {
    require(bins >= 1, s"need bins >= 1, got $bins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    val x = col(valueCol).cast("double")
    val w = (hi - lo) / bins
    val bin = when(x < lo, lit(-1))
      .when(x >= hi, lit(bins))
      .otherwise(least(floor((x - lo) / w).cast("int"), lit(bins - 1)))
    df.filter(x.isNotNull)
      .select(bin.as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
      .withColumn("bin_lo",
        when(col("bin") === -1, lit(Double.NegativeInfinity))
          .otherwise(lit(lo) + col("bin") * w))
      .withColumn("bin_hi",
        when(col("bin") === bins, lit(Double.PositiveInfinity))
          .otherwise(lit(lo) + (col("bin") + 1) * w))
      .select("bin", "bin_lo", "bin_hi", "n")
  }

  /** Two-dimensional fixed-width histogram — the joint-density grid
    * behind heatmaps and drift-surface checks. Same right-open /
    * clamp-into-last-bin / under-overflow (−1, bins) conventions as
    * [[histogram]] on each axis, ONE (xbin, ybin) integer-key shuffle.
    *
    * @return (xbin, ybin, n) for occupied cells only
    */
  def histogram2d(df: DataFrame, xCol: String, yCol: String,
      xLo: Double, xHi: Double, xBins: Int,
      yLo: Double, yHi: Double, yBins: Int): DataFrame = {
    require(xBins >= 1 && yBins >= 1, "need bins >= 1 on both axes")
    require(xLo < xHi && yLo < yHi, "need lo < hi on both axes")
    def binOf(c: String, lo: Double, hi: Double, bins: Int) = {
      val x = col(c).cast("double")
      val w = (hi - lo) / bins
      when(x < lo, lit(-1)).when(x >= hi, lit(bins))
        .otherwise(least(floor((x - lo) / w).cast("int"), lit(bins - 1)))
    }
    df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(binOf(xCol, xLo, xHi, xBins).as("xbin"),
        binOf(yCol, yLo, yHi, yBins).as("ybin"))
      .groupBy("xbin", "ybin").agg(count(lit(1)).as("n"))
  }

  /** Per-group quantile estimates from a SHARED fixed-width bin grid —
    * the bounded-memory grouped-quantile path (exact `percentile` buffers
    * each group's values; `approx_percentile` keeps a sketch per group;
    * this keeps ONE integer per occupied (group, bin) cell and is
    * exactly reproducible cross-engine, the histogram/q58 trade).
    *
    * The q-quantile is reported as the lower edge of the first bin whose
    * cumulative count reaches q·n (values below `lo` clamp into bin 0,
    * at/above `hi` into the last bin — so edges always bracket the true
    * quantile to one bin width). All shuffles carry (group, bin) pairs;
    * the per-group window runs over ≤ nBins rows per group, bounded by
    * the grid, never the data.
    *
    * @param qs quantile levels in (0, 1]
    * @return (keyCol, q, bin, value) — value = lo + bin·binWidth
    */
  def groupedBinQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      lo: Double, hi: Double, nBins: Int, qs: Seq[Double]): DataFrame = {
    require(nBins >= 1, s"need nBins >= 1, got $nBins")
    require(lo < hi, s"need lo < hi, got [$lo, $hi)")
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantile levels must be in (0, 1]: $qs")
    val x = col(valueCol).cast("double")
    val w = (hi - lo) / nBins
    val bin = least(greatest(floor((x - lo) / w).cast("int"), lit(0)),
      lit(nBins - 1))
    val counts = df.filter(x.isNotNull)
      .groupBy(col(keyCol), bin.as("__b"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy(keyCol).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = counts
      .withColumn("__cum", sum("__c").over(wCum))
      .withColumn("__n", sum("__c").over(wAll))
    val picks = qs.zipWithIndex.map { case (q, i) =>
      min(when(col("__cum").cast("double") >=
        lit(q) * col("__n").cast("double"), col("__b"))).as(s"__p_$i")
    }
    cum.groupBy(col(keyCol)).agg(picks.head, picks.tail: _*)
      .select(col(keyCol), inline(array(qs.zipWithIndex.map { case (q, i) =>
        struct(lit(q).as("q"), col(s"__p_$i").as("bin"),
          (lit(lo) + col(s"__p_$i") * w).as("value"))
      }: _*)))
  }

  /** EXACT quantiles of an integral column by iterative histogram
    * refinement (distributed selection) — the hash-gated exact
    * alternative to `approx_percentile` (q58's tolerance twin): the k-th
    * order statistic WITHOUT sorting the data. Each round is ONE
    * aggregation whose shuffle carries at most `buckets`·|probs| cells
    * (map-side combine collapses every partition to that bound first —
    * data never shuffles); the driver narrows each probe's candidate
    * range by ×buckets per round, so a full 64-bit domain resolves in
    * ceil(64 / log2(buckets)) rounds — 7 scans at the default 1024, and
    * 2–3 on real cents/count-like columns. Sort-based exact quantiles
    * shuffle the ENTIRE column; this shuffles a bounded histogram per
    * round, the difference between a 100 TB exchange and a few full
    * scans of a cached/columnar value vector.
    *
    * Exact by construction: integer bucket arithmetic only, no floats
    * touch the data path. Answer convention: value with 1-based rank
    * ceil(p·n) among non-null values ascending (the discrete lower
    * quantile, R type-1 / "inverted_cdf").
    *
    * @param probs quantile levels in (0, 1]
    * @return (p, rank, value) one row per prob, ordered by p
    */
  def exactQuantiles(df: DataFrame, valueCol: String, probs: Seq[Double],
      buckets: Int = 1024): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0 && p <= 1),
      s"quantile levels must be in (0, 1]: $probs")
    require(buckets >= 2, s"need buckets >= 2, got $buckets")
    val integral = Set("byte", "short", "int", "bigint", "tinyint",
      "smallint", "integer", "long")
    require(integral(df.schema(valueCol).dataType.simpleString),
      s"exactQuantiles needs an integral column (got " +
        s"${df.schema(valueCol).dataType.simpleString}); convert floats " +
        "to a fixed-point grid first (e.g. cents) — exactness on an " +
        "unbounded float domain is not refinable by integer bisection")
    val spark = df.sparkSession
    val v = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull).persist()
    try {
      val head = v.agg(count(lit(1)).as("n"), min("v").as("lo"),
        max("v").as("hi")).head()
      val n = head.getLong(0)
      require(n > 0, s"exactQuantiles: no non-null values in $valueCol")
      require(BigInt(head.getLong(2)) - BigInt(head.getLong(1))
          < BigInt(Long.MaxValue),
        "exactQuantiles: value span exceeds 2^63 − 1 — rescale the " +
          "column (the practical integral domains this targets, cents/" +
          "counts/micros, are far inside the span limit)")
      // 1-based target ranks; clamp covers p·n < 1 underflow
      val ranks = probs.map(p => math.max(1L, math.ceil(p * n).toLong))
      // per-prob state: [lo, hi] candidate range and the count of values
      // strictly below lo (consumed rank mass)
      var lo = Array.fill(probs.size)(head.getLong(1))
      var hi = Array.fill(probs.size)(head.getLong(2))
      var below = Array.fill(probs.size)(0L)
      def bucketSize(l: Long, h: Long): Long = {
        val span = h - l + 1 // > 0: span-overflow require'd above
        (span + buckets - 1) / buckets
      }
      while (probs.indices.exists(i => lo(i) < hi(i))) {
        val live = probs.indices.filter(i => lo(i) < hi(i))
        val cells = live.map { i =>
          val bs = bucketSize(lo(i), hi(i))
          // integer `div`, not `/`: Spark long division returns DOUBLE,
          // whose 53-bit mantissa would corrupt wide-domain buckets
          struct(lit(i).as("i"),
            when(col("v") >= lo(i) && col("v") <= hi(i),
              expr(s"CAST((v - ${lo(i)}L) DIV ${bs}L AS INT)"))
              .as("b"))
        }
        val hist = v.select(explode(array(cells: _*)).as("c"))
          .select(col("c.i").as("i"), col("c.b").as("b"))
          .filter(col("b").isNotNull)
          .groupBy("i", "b").agg(count(lit(1)).as("c"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (i, rows) =>
            i -> rows.map(r => r.getInt(1) -> r.getLong(2)).sortBy(_._1)
          }
        val nlo = lo.clone(); val nhi = hi.clone(); val nbe = below.clone()
        live.foreach { i =>
          val bs = bucketSize(lo(i), hi(i))
          val want = ranks(i)
          var cum = below(i)
          var chosen = -1
          val it = hist(i).iterator
          while (chosen < 0 && it.hasNext) {
            val (b, c) = it.next()
            if (cum + c >= want) { chosen = b; nbe(i) = cum }
            else cum += c
          }
          // chosen >= 0 always: ranks(i) <= n and the range covers the
          // remaining mass by the loop invariant
          nlo(i) = lo(i) + chosen * bs
          nhi(i) = math.min(hi(i), lo(i) + (chosen + 1) * bs - 1)
        }
        lo = nlo; hi = nhi; below = nbe
      }
      import spark.implicits._
      probs.indices.map(i => (probs(i), ranks(i), lo(i)))
        .toDF("p", "rank", "value")
        .orderBy("p")
    } finally { v.unpersist(blocking = false); () }
  }

  /** Per-group mode (most frequent value), ties to the SMALLEST value —
    * a total order, so the result is deterministic and
    * engine-reproducible. One (group, value) aggregation + one keyed
    * rank window over the per-group distinct-value frame.
    *
    * @return (keyCol, mode, mode_n)
    */
  def groupedMode(df: DataFrame, keyCol: String, valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(keyCol), col(valueCol))
      .agg(count(lit(1)).as("__c"))
    val w = Window.partitionBy(keyCol)
      .orderBy(col("__c").desc, col(valueCol))
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(keyCol), col(valueCol).as("mode"), col("__c").as("mode_n"))
  }

  /** Foreign-key candidate probe: how fully is the child column contained
    * in the parent column? `containment` = |distinct(child) ∩
    * distinct(parent)| / |distinct(child)| — 1.0 means every child value
    * resolves (an FK candidate), and the distinct cardinalities expose
    * the direction (the parent side of a real FK is the key side).
    *
    * Both sides reduce to their distinct-value frames first, so the
    * intersection join carries distinct values only; nulls are excluded
    * from containment (SQL FK semantics) and reported separately.
    *
    * @return one row (n_child_distinct, n_parent_distinct, n_matched,
    *         containment, n_child_null_rows) — containment on a 6-digit
    *         grid, null when the child has no non-null values
    */
  def fkCandidates(child: DataFrame, childCol: String,
      parent: DataFrame, parentCol: String): DataFrame = {
    val c = child.select(col(childCol).as("__v")).filter(col("__v").isNotNull)
      .distinct()
    val p = parent.select(col(parentCol).as("__v"))
      .filter(col("__v").isNotNull).distinct()
    val matched = c.join(p, Seq("__v"), "left_semi")
      .agg(count(lit(1)).as("n_matched"))
    val cStats = c.agg(count(lit(1)).as("n_child_distinct"))
    val pStats = p.agg(count(lit(1)).as("n_parent_distinct"))
    val nulls = child.filter(col(childCol).isNull)
      .agg(count(lit(1)).as("n_child_null_rows"))
    cStats.crossJoin(broadcast(pStats)).crossJoin(broadcast(matched))
      .crossJoin(broadcast(nulls))
      .select(col("n_child_distinct"), col("n_parent_distinct"),
        col("n_matched"),
        round(when(col("n_child_distinct") > 0,
          col("n_matched").cast("double") / col("n_child_distinct")), 6)
          .as("containment"),
        col("n_child_null_rows"))
  }

  /** k-anonymity audit: the quasi-identifier combinations whose
    * equivalence class holds FEWER than k rows — each such combo
    * re-identifies its members (Sweeney 2002). The release gate a data
    * pipeline runs before publishing "anonymized" records.
    *
    * ONE groupBy over the quasi columns; the violating-combo frame is
    * what a remediation step (suppress / generalize) consumes. Nulls
    * group as their own value (SQL GROUP BY semantics) — a null quasi
    * value is still a distinguishing signature.
    *
    * @return per violating combo: (quasiCols…, n) with n < k, plus the
    *         caller can count rows for the headline violation number
    */
  def kAnonymityViolations(df: DataFrame, quasiCols: Seq[String],
      k: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(k >= 2, s"k < 2 is vacuous, got $k")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") < k)
  }

  /** Trimmed and winsorized means off EXACT quantile bounds — the
    * robust-location pair every metrics pipeline wants once heavy tails
    * appear (a mean of revenue cents is one whale away from useless):
    * trim drops values outside the [loP, hiP] quantiles, winsorize
    * clamps them to the bounds. Bounds come from [[exactQuantiles]]
    * (histogram-refinement selection, no sort), then ONE conditional
    * aggregation; with an integral column every sum is exact, so both
    * means are exact integer ratios.
    *
    * @return one row: (n, n_kept, q_lo, q_hi, trimmed_mean,
    *         winsorized_mean) — bounds inclusive on both sides
    */
  def trimmedMean(df: DataFrame, valueCol: String, loP: Double = 0.05,
      hiP: Double = 0.95): DataFrame = {
    require(loP > 0 && hiP < 1 && loP < hiP,
      s"need 0 < loP < hiP < 1, got [$loP, $hiP]")
    val qs = exactQuantiles(df, valueCol, Seq(loP, hiP))
      .orderBy("p").collect()
    val (qLo, qHi) = (qs(0).getLong(2), qs(1).getLong(2))
    val v = col(valueCol).cast("long")
    val kept = v >= qLo && v <= qHi
    val clamped = least(greatest(v, lit(qLo)), lit(qHi))
    df.filter(v.isNotNull).agg(
      count(lit(1)).as("n"),
      sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
      lit(qLo).as("q_lo"), lit(qHi).as("q_hi"),
      (sum(when(kept, v)).cast("double") /
        sum(when(kept, 1L).otherwise(0L)).cast("double"))
        .as("trimmed_mean"),
      (sum(clamped).cast("double") / count(lit(1)).cast("double"))
        .as("winsorized_mean"))
  }

  /** l-diversity release audit — [[kAnonymityViolations]]'s sibling
    * (Machanavajjhala et al. 2007): a quasi-identifier class is
    * l-diverse when its rows carry at least `l` DISTINCT values of the
    * sensitive attribute; a class of 50 rows that all share one
    * diagnosis is 50-anonymous yet fully disclosive. ONE groupBy with
    * an exact distinct count (null sensitive values excluded from the
    * diversity count — a null is not a disclosed value — but rows still
    * count toward n).
    *
    * @return per violating combo: (quasiCols…, n, n_sensitive) with
    *         n_sensitive < l
    */
  def lDiversityViolations(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, l: Long): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(l >= 2, s"l < 2 is vacuous, got $l")
    df.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .filter(col("n_sensitive") < l)
  }

  /** t-closeness release audit — the distributional member of the privacy
    * triad next to [[kAnonymityViolations]] and [[lDiversityViolations]]
    * (Li, Li & Venkatasubramanian 2007): a class can be l-diverse yet
    * still disclosive when its sensitive-value DISTRIBUTION skews far
    * from the table's (all 12 distinct salaries in the class being the 12
    * highest). Distance is the ordered-attribute Earth Mover's Distance:
    * EMD(P, Q) = (1/(m−1)) · Σᵢ |Σ_{j≤i} (p_j − q_j)| over the m global
    * sensitive values in order.
    *
    * Shapes: the sensitive attribute collapses to its global value frame
    * (REQUIRED ≤ maxValues, loudly — t-closeness over an unbounded
    * domain needs binning first) and classes collapse to one row each, so
    * the dense class × value grid is a bounded ≤ maxValues-fold
    * amplification of the class frame, never of the data. All mass
    * arithmetic is EXACT integers on the common denominator N·n_c
    * (cum = Σ (n_vj·n_c − c_j·N)); the single division to emd happens
    * once per class, so the audit replays bit-for-bit on any engine.
    *
    * @return per violating combo: (quasiCols…, n, emd) with emd > t,
    *         emd on the 9-digit grid
    */
  /** Key-skew concentration report — the audit run BEFORE a big join or
    * aggregation decides whether it needs [[Skew]]'s salting: per-key
    * frequencies collapse once, then one exact-integer reduce yields
    * the Herfindahl index (HHI = Σ(c_i/N)² = Σc_i²/N², squared counts
    * summed in Decimal(38,0)) and the top-1/top-K mass shares (suffix
    * of the count-ordered key frame via TakeOrdered — never a global
    * sort of the data).
    *
    * Reading: HHI ≈ 1/n_keys means uniform; top1_share near 1 means one
    * hot key will pin a shuffle partition at any scale.
    *
    * @return one row: (n_rows, n_keys, hhi, top1_share, topk_share) —
    *         shares and HHI on the 9-digit grid
    */
  def keySkew(df: DataFrame, keyCol: String, topK: Int = 10): DataFrame = {
    require(topK >= 1, s"need topK >= 1, got $topK")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val counts = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val tot = counts.agg(count(lit(1)).as("n_keys"),
      sum("__c").as("n_rows"),
      sum((col("__c") * col("__c")).cast(dec)).as("__c2"))
    val top = counts.orderBy(col("__c").desc, col(keyCol)).limit(topK)
      .agg(coalesce(max("__c"), lit(0L)).as("__top1"),
        coalesce(sum("__c"), lit(0L)).as("__topk"))
    tot.crossJoin(broadcast(top))
      .select(col("n_rows"), col("n_keys"),
        round(col("__c2").cast("double") /
          (col("n_rows").cast("double") * col("n_rows").cast("double")), 9)
          .as("hhi"),
        round(col("__top1").cast("double") / col("n_rows").cast("double"),
          9).as("top1_share"),
        round(col("__topk").cast("double") / col("n_rows").cast("double"),
          9).as("topk_share"))
  }

  /** Mondrian k-anonymization (LeFevre et al. 2006, strict top-down
    * multidimensional partitioning) — the TRANSFORM completing the
    * privacy family ([[kAnonymityViolations]] / [[lDiversityViolations]]
    * / [[tClosenessViolations]] audit; this actually generalizes):
    * recursively median-split the quasi-identifier space until no leaf
    * can split without a side dropping below k, then release each leaf
    * as its attribute RANGES. Deterministic variant: each round splits
    * on the widest-range attribute only (ties to the earlier column —
    * documented deviation from try-all-attributes Mondrian), at the
    * ceil(n/2) order statistic (the q316 rank rule), cut allowable iff
    * the right side keeps ≥ k rows (the left holds ≥ ceil(n/2) ≥ k
    * automatically when n ≥ 2k).
    *
    * Scale shape: per round THREE leaf-keyed aggregations/joins (stats,
    * median rank, left count) and a leaf-partitioned rank window — never
    * a global window or a driver collect; leaves are data-partition
    * parallel and the round count is a fixed driver loop. All
    * arithmetic is exact integers on the long-cast quasi columns, so
    * the whole recursion replays bit-for-bit.
    *
    * @param rounds fixed split rounds (leaves stop early when no cut is
    *               allowable); depth ≤ rounds bounds every leaf path
    * @return per final leaf: (leaf, n, <c>_min/<c>_max per quasi col),
    *         every leaf holding n ≥ k rows; null quasi values dropped
    */
  def mondrianAnonymize(df: DataFrame, quasiCols: Seq[String], k: Long,
      rounds: Int): DataFrame = {
    require(quasiCols.size >= 1 && quasiCols.size <= 8,
      s"need 1..8 quasi columns, got ${quasiCols.size}")
    require(k >= 2, s"k < 2 is vacuous, got $k")
    require(rounds >= 1 && rounds <= 16,
      s"need 1 <= rounds <= 16, got $rounds")
    graft.Checkpointer.using(df.sparkSession, None) { cp =>
      var cur = cp(df
        .filter(quasiCols.map(col(_).isNotNull).reduce(_ && _))
        .select(quasiCols.map(c => col(c).cast("long").as(c)): _*)
        .withColumn("__leaf", lit("r")))
      for (_ <- 1 to rounds) {
        val stats = cur.groupBy("__leaf").agg(
          count(lit(1)).as("__n"),
          quasiCols.flatMap(c => Seq(min(col(c)).as(s"__min_$c"),
            max(col(c)).as(s"__max_$c"))): _*)
        val ranges: Seq[(String, Column)] = quasiCols.map(c =>
          c -> (col(s"__max_$c") - col(s"__min_$c")))
        val maxRange = ranges.map(_._2).reduceLeft((a, b) => greatest(a, b))
        val splitAttr = ranges.init.foldRight(lit(quasiCols.last)) {
          case ((c: String, r: Column), acc: Column) =>
            when(r >= maxRange, lit(c)).otherwise(acc)
        }
        val st = stats.select(col("__leaf"), col("__n"),
          splitAttr.as("__attr"))
        val splitVal = quasiCols.init.foldRight(col(quasiCols.last)) {
          case (c: String, acc: Column) =>
            when(col("__attr") === c, col(c)).otherwise(acc)
        }
        val withVal = cur.join(st, "__leaf").withColumn("__sv", splitVal)
        val wLeaf = Window.partitionBy("__leaf").orderBy("__sv")
        val medf = withVal
          .withColumn("__rn", row_number().over(wLeaf))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col("__leaf"), col("__sv").as("__med"))
        val withMed = withVal.join(medf, "__leaf")
        val nl = withMed.groupBy("__leaf").agg(
          sum(when(col("__sv") <= col("__med"), 1L).otherwise(0L))
            .as("__nl"))
        cur = cp(withMed.join(nl, "__leaf")
          .withColumn("__leaf",
            when(col("__n") >= 2 * k && col("__n") - col("__nl") >= k,
              concat(col("__leaf"),
                when(col("__sv") <= col("__med"), "L").otherwise("R")))
              .otherwise(col("__leaf")))
          .select(col("__leaf") +: quasiCols.map(col): _*))
      }
      // Loud k-contract: splits guarantee children >= k, but a degenerate
      // input (< k rows after the null filter) would otherwise release the
      // root leaf as-is — a quiet privacy breach. The guard rides the
      // released `n` column so no optimizer rule can prune it.
      val out = cur.groupBy("__leaf").agg(
        count(lit(1)).as("__nraw"),
        quasiCols.flatMap(c => Seq(min(col(c)).as(s"${c}_min"),
          max(col(c)).as(s"${c}_max"))): _*)
        .withColumn("n", when(assert_true(col("__nraw") >= k,
          lit(s"mondrianAnonymize: leaf with n < k=$k (input has fewer " +
            "than k non-null rows) — refusing to release")).isNull,
          col("__nraw")))
        .select(col("__leaf").as("leaf") +: col("n") +:
          quasiCols.flatMap(c => Seq(col(s"${c}_min"), col(s"${c}_max"))): _*)
      val res = cp(out)
      res
    }
  }

  def tClosenessViolations(df: DataFrame, quasiCols: Seq[String],
      sensitiveCol: String, t: Double, maxValues: Int = 64): DataFrame = {
    require(quasiCols.nonEmpty, "need at least one quasi-identifier")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitive column '$sensitiveCol' cannot also be a quasi-identifier")
    require(t > 0 && t < 1, s"need 0 < t < 1, got $t")
    val s = col(sensitiveCol)
    val base = df.filter(s.isNotNull)
    val values = base.groupBy(s.as("__v"))
      .agg(count(lit(1)).as("__nv"))
    val nValues = values.count()
    require(nValues >= 2 && nValues <= maxValues,
      s"sensitive column '$sensitiveCol' has $nValues distinct values; " +
        s"need 2..$maxValues (bin a wide domain first)")
    val totals = values.agg(sum("__nv").as("__nn"))
    val classes = base.groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
    val cells = base.groupBy(quasiCols.map(col) :+ s.as("__v"): _*)
      .agg(count(lit(1)).as("__c"))
    // dense grid: every class × every global value (missing cells are
    // zero-mass); |grid| = |classes| · m with m caller-bounded
    val grid = classes
      .crossJoin(broadcast(values.crossJoin(totals)))
      .join(cells, quasiCols :+ "__v", "left")
      .withColumn("__c", coalesce(col("__c"), lit(0L)))
    // exact integer cumulative mass difference on denominator N·n_c
    val w = Window.partitionBy(quasiCols.map(col): _*).orderBy(col("__v"))
    val diff = col("__nv") * col("n") - col("__c") * col("__nn")
    grid
      .withColumn("__cum", sum(diff).over(w))
      .groupBy(quasiCols.map(col) :+ col("n") :+ col("__nn"): _*)
      .agg(sum(abs(col("__cum"))).as("__sumabs"),
        count(lit(1)).as("__m"))
      .withColumn("emd",
        round(col("__sumabs").cast("double") /
          (col("__nn").cast("double") * col("n").cast("double") *
            (col("__m") - 1).cast("double")), 9))
      .filter(col("emd") > t)
      .select(quasiCols.map(col) :+ col("n") :+ col("emd"): _*)
  }
}
