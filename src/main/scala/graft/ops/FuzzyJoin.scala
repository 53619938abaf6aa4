package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy matching: find near-identical strings (entity resolution,
  * product/name reconciliation, typo clusters) without the O(n²) cross
  * join. Candidates are generated by an equi-join on a cheap blocking key
  * (same first tokens, same length bucket, a phonetic code — anything
  * equality-comparable), then scored with `levenshtein` and thresholded.
  * Like every banded self-join in this repo (Dedup.minhashPairs,
  * simhashPairs, Similarity.cosinePairsLSH), pathological blocks are
  * capped: a block with more than `maxBlockSize` members is dropped before
  * the join, because the join is quadratic in block size and one
  * degenerate key ("", "unknown", a boilerplate title) would otherwise
  * dominate the stage at scale.
  */
object FuzzyJoin {

  /** Distinct within-block pairs (id_a < id_b) whose strings are within
    * `maxDist` edits. The blocking expression decides recall: rows in
    * different blocks are never compared — pick it so true matches share
    * the key (e.g. first token + length band for names).
    */
  def selfPairs(df: DataFrame, idCol: String, strCol: String,
      blockKey: Column, maxDist: Int, maxBlockSize: Int = 1000): DataFrame = {
    require(maxDist >= 0, "maxDist must be >= 0")
    require(maxBlockSize >= 2, "maxBlockSize must allow at least a pair")
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"),
      blockKey.as("blk"))
    // count-filter-join: the Dedup.scala bucket-cap pattern
    val ok = base.groupBy("blk").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBlockSize).select("blk")
    val b = base.join(ok, "blk")
    b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("dist", levenshtein(col("a.s"), col("b.s")))
      .filter(col("dist") <= maxDist)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("dist"))
  }

  /** [[selfPairs]]'s Jaro–Winkler twin: distinct within-block pairs
    * (id_a < id_b) scoring at least `minSim` under the native codegen'd
    * [[graft.functions.JaroWinkler]] expression (DuckDB/rapidfuzz
    * semantics — see its scaladoc for the pinned edge cases). Same
    * blocked shape as every banded self-join here: equi-join on the
    * blocking key, quadratic surface confined to capped blocks, the
    * scalar kernel inside whole-stage codegen.
    *
    * @return (id_a, id_b, jw) with jw rounded to 6 digits, every pair
    *         >= minSim on the ROUNDED value (so an engine-float wobble
    *         at the grid cannot flip membership differently per engine)
    */
  def jaroWinklerPairs(df: DataFrame, idCol: String, strCol: String,
      blockKey: Column, minSim: Double,
      maxBlockSize: Int = 1000): DataFrame = {
    require(minSim > 0 && minSim <= 1, s"minSim must be in (0, 1], got $minSim")
    require(maxBlockSize >= 2, "maxBlockSize must allow at least a pair")
    graft.plans.GraftExtensions.ensureRegistered(df.sparkSession)
    val base = df.select(col(idCol).as("id"), col(strCol).as("s"),
      blockKey.as("blk"))
    val ok = base.groupBy("blk").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBlockSize).select("blk")
    val b = base.join(ok, "blk")
    b.as("a").join(b.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("jw",
        round(call_function("jaro_winkler", col("a.s"), col("b.s")), 6))
      .filter(col("jw") >= minSim)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("jw"))
  }

  /** EXACT all-pairs Jaccard self-join via prefix filtering (the
    * PPJoin/AllPairs family, Chaudhuri et al. 2006 / Xiao et al. 2008)
    * — unlike the MinHash-LSH pipelines this has NO recall loss: every
    * pair of documents whose n-gram-shingle Jaccard reaches `threshold`
    * is returned with its exact similarity.
    *
    * Prefix-filter theorem: order every shingle by GLOBAL document
    * frequency ascending (rarest first; ties by hash). If J(A,B) >= t
    * then |A∩B| >= ceil(t·|A|), and by pigeonhole the smallest common
    * shingle must land in the first |A| − ceil(t·|A|) + 1 shingles of A
    * — and symmetrically of B. So joining only those PREFIXES loses
    * nothing, while the rarest-first order makes the join buckets small
    * by construction (a boilerplate shingle shared by half the corpus
    * sorts LAST and never enters a prefix unless a doc is nearly all
    * boilerplate). The ceil gets a 1e-9 slack so float rounding can only
    * LENGTHEN a prefix (extra candidates), never shorten it (missed
    * pairs).
    *
    * Execution: one distinct-shingle explode (64-bit hashes, strings
    * never shuffle), one frequency aggregation, one doc-partitioned rank
    * window, the prefix equi-join, then exact verification by counting
    * common shingles of the candidates. All shapes are keyed joins and
    * aggregations; the quadratic surface is confined to prefix buckets,
    * and `maxPrefixPostings` FAILS LOUDLY (rather than silently capping,
    * which would break exactness) if a degenerate corpus still produces
    * a hot prefix shingle.
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard rounded to
    *         6 digits, every pair >= threshold — exactly
    */
  def jaccardSelfJoin(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxPrefixPostings: Long = 100000): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // the shingle relation feeds FIVE plan arms (rank join, both sides
    // of the candidate self-join via prefix, both intersection probes) —
    // pin it and the ranked prefix ONCE instead of re-exploding and
    // re-ranking per consumer (r14; the connectedComponentsLSS
    // discipline: flat checkpointed lineage, AQE replans each pass)
    graft.Checkpointer.using(df.sparkSession, None) { cp =>
      val sh = cp.pin(fanOut(df).select(col(idCol).as("__id"),
        explode(Dedup.shingleHashExpr(col(textCol), n)).as("__g")))
      val dfreq = sh.groupBy("__g").agg(count(lit(1)).as("__gdf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__id").orderBy(col("__gdf"), col("__g"))
      val ranked = sh.join(dfreq, Seq("__g"))
        .withColumn("__rk", row_number().over(w))
        .withColumn("__sz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__id")))
      val prefix = cp.pin(ranked.filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
        .select("__id", "__g", "__sz"))
      val hot = prefix.groupBy("__g").agg(count(lit(1)).as("__p"))
        .filter(col("__p") > maxPrefixPostings).limit(1).collect()
      require(hot.isEmpty, s"a prefix shingle exceeds $maxPrefixPostings " +
        "postings — this corpus is degenerate for prefix filtering " +
        "(near-constant documents); raise maxPrefixPostings deliberately " +
        "or pre-dedup exact duplicates first")
      val cand = prefix.select(col("__g"), col("__id").as("id_a"),
          col("__sz").as("__sa"))
        .join(prefix.select(col("__g"), col("__id").as("id_b"),
          col("__sz").as("__sb")), "__g")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb").distinct()
      val inter = cand
        .join(sh.select(col("__id").as("id_a"), col("__g")), Seq("id_a"))
        .join(sh.select(col("__id").as("id_b"), col("__g")),
          Seq("id_b", "__g"))
        .groupBy("id_a", "id_b")
        .agg(count(lit(1)).as("__ni"), first(col("__sa")).as("__sa"),
          first(col("__sb")).as("__sb"))
      val jac = col("__ni").cast("double") /
        (col("__sa") + col("__sb") - col("__ni"))
      // materialize through the tracker so close() can free the pins
      val out = cp(inter.filter(jac >= threshold)
        .select(col("id_a"), col("id_b"), round(jac, 6).as("jaccard")))
      out
    }
  }

  /** EXACT all-pairs Jaccard CONTAINMENT self-join — the asymmetric
    * companion to [[jaccardSelfJoin]]: find documents whose shingle set
    * is mostly INSIDE another document's (quotes, excerpt pages,
    * near-subset boilerplate wrappers — pairs symmetric Jaccard misses
    * whenever the superset is much larger). Emits ORDERED pairs
    * (id_sub, id_sup) with C(sub→sup) = |S_sub ∩ S_sup| / |S_sub| >=
    * `threshold`, exactly — no recall loss.
    *
    * Prefix-filter theorem (containment form): if C(A→B) >= t then at
    * most |A| − ceil(t·|A|) of A's shingles are missing from B, so at
    * least one of A's first |A| − ceil(t·|A|) + 1 shingles in the
    * GLOBAL rarest-first order appears SOMEWHERE in B. Unlike the
    * symmetric case the B side cannot be prefix-trimmed (containment
    * places no lower bound on |B|) — so the candidate join pairs A's
    * prefix against the FULL posting lists. That stays bounded for the
    * same reason the prefix is effective: prefix shingles are the
    * RAREST of each document, so their postings are short by
    * construction; `maxPostings` FAILS LOUDLY (capping would break
    * exactness) if a degenerate corpus still produces a hot prefix
    * posting. The ceil gets the 1e-9 slack so float rounding can only
    * lengthen a prefix, never shorten it.
    *
    * @return (id_sub, id_sup, containment) ordered pairs, id_sub ≠
    *         id_sup, containment rounded to 6 digits, every pair >=
    *         threshold — exactly
    */
  def containmentSelfJoin(df: DataFrame, idCol: String, textCol: String,
      n: Int, threshold: Double,
      maxPostings: Long = 100000): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(threshold > 0 && threshold <= 1,
      s"threshold must be in (0, 1], got $threshold")
    // same pinning as [[jaccardSelfJoin]] (r14): the shingle relation
    // feeds the rank join, the candidate probe and both intersection
    // sides — materialize it and the prefix once
    graft.Checkpointer.using(df.sparkSession, None) { cp =>
      val sh = cp.pin(fanOut(df).select(col(idCol).as("__id"),
        explode(Dedup.shingleHashExpr(col(textCol), n)).as("__g")))
      val dfreq = sh.groupBy("__g").agg(count(lit(1)).as("__gdf"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("__id").orderBy(col("__gdf"), col("__g"))
      val ranked = sh.join(dfreq, Seq("__g"))
        .withColumn("__rk", row_number().over(w))
        .withColumn("__sz", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("__id")))
      val prefix = cp.pin(ranked.filter(col("__rk") <=
        col("__sz") - ceil(lit(threshold) * col("__sz") - lit(1e-9)) + 1)
        .select("__id", "__g", "__sz"))
      // the full-postings side of the candidate join is what a hot prefix
      // shingle would blow up: bound the JOIN's per-key work, loudly
      val hot = prefix.select("__g").distinct()
        .join(dfreq, Seq("__g"))
        .filter(col("__gdf") > maxPostings).limit(1).collect()
      require(hot.isEmpty, s"a prefix shingle has more than $maxPostings " +
        "postings — this corpus is degenerate for containment prefix " +
        "filtering (near-constant documents); raise maxPostings " +
        "deliberately or pre-dedup exact duplicates first")
      val cand = prefix.select(col("__g"), col("__id").as("id_sub"),
          col("__sz").as("__ssub"))
        .join(sh.select(col("__g"), col("__id").as("id_sup")), "__g")
        .filter(col("id_sub") =!= col("id_sup"))
        .select("id_sub", "id_sup", "__ssub").distinct()
      val inter = cand
        .join(sh.select(col("__id").as("id_sub"), col("__g")), Seq("id_sub"))
        .join(sh.select(col("__id").as("id_sup"), col("__g")),
          Seq("id_sup", "__g"))
        .groupBy("id_sub", "id_sup")
        .agg(count(lit(1)).as("__ni"), first(col("__ssub")).as("__ssub"))
      val cont = col("__ni").cast("double") / col("__ssub").cast("double")
      val out = cp(inter.filter(cont >= threshold)
        .select(col("id_sub"), col("id_sup"),
          round(cont, 6).as("containment")))
      out
    }
  }

  /** EXACT all-pairs edit-distance self-join via segment filtering (the
    * PassJoin scheme, Li/Deng/Feng 2011) — NO recall loss, unlike
    * [[selfPairs]] whose caller-chosen blocking key decides recall: every
    * unordered pair within `maxDist` Levenshtein edits is returned.
    *
    * Pigeonhole theorem: partition an indexed string into k = maxDist+1
    * contiguous segments. If ed(a, b) ≤ maxDist then at most maxDist
    * segments of b are touched by an optimal edit script, so at least one
    * segment survives VERBATIM inside a — at a position shifted by at
    * most maxDist from where it sits in b. So it suffices to equi-join
    *   b's segments  (segment index i, |b|, segment text)
    * against
    *   a's substrings (i, candidate partner length, substring text)
    * enumerated only at the ≤ 2·maxDist+1 positions the shift window
    * allows — every true pair is caught in at least one probe direction.
    * Segment lengths are the canonical near-even split (first k−r of
    * ⌊l/k⌋, last r = l mod k of ⌈l/k⌉), identical arithmetic on both
    * sides of the join.
    *
    * Strings shorter than k characters cannot be segmented (an empty
    * segment filters nothing) and instead join each other through a
    * LENGTH-BAND equi-join — bounded because there are ≤ k distinct
    * short lengths; short↔long pairs still flow through the probe path
    * (probing never requires the probe string to be long).
    *
    * Execution: all shapes are keyed equi-joins and aggregations — the
    * per-string fan-out is the constant (2d+1)·(d+1)·(2d+1) probe grid,
    * the quadratic surface is confined to identical-segment buckets, and
    * `maxSegPostings` FAILS LOUDLY (capping would break exactness) if a
    * degenerate corpus (near-constant strings) produces a hot segment.
    * Candidates are verified with the native codegen'd `levenshtein`.
    *
    * @return (id_a, id_b, dist) with id_a < id_b and dist ≤ maxDist
    */
  def editDistanceSelfJoin(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, maxSegPostings: Long = 100000): DataFrame = {
    require(maxDist >= 1, s"need maxDist >= 1, got $maxDist (use exact " +
      "groupBy dedup for maxDist = 0)")
    val d = maxDist; val k = d + 1
    val base = fanOut(df).select(col(idCol).as("__id"),
        col(strCol).as("__s"))
      .filter(col("__s").isNotNull)
      .withColumn("__l", length(col("__s")))

    // near-even segment arithmetic, shared by both join sides:
    // q = ⌊l/k⌋, r = l mod k; len_i = q + [i ≥ k−r]; start_i (0-based)
    // = i·q + max(0, i − (k−r))
    def segLen(l: Column, i: Column): Column = {
      val q = floor(l / k).cast("int"); val r = l - q * k
      q + when(i >= lit(k) - r, 1).otherwise(0)
    }
    def segStart(l: Column, i: Column): Column = {
      val q = floor(l / k).cast("int"); val r = l - q * k
      i * q + greatest(lit(0), i - (lit(k) - r))
    }
    // ascending sequence that is empty (not descending!) when a > b
    def seqOrEmpty(a: Column, b: Column): Column =
      when(a <= b, sequence(a, b)).otherwise(array().cast("array<int>"))

    // index side: the k segments of every long (l ≥ k) string
    val idx = base.filter(col("__l") >= k)
      .select(col("__id").as("__idx_id"), col("__s"), col("__l"),
        explode(sequence(lit(0), lit(k - 1))).as("__i"))
      .select(col("__idx_id"), col("__i"), col("__l").as("__pl"),
        col("__s").substr(segStart(col("__l"), col("__i")) + 1,
          segLen(col("__l"), col("__i"))).as("__seg"))
    val hot = idx.groupBy("__i", "__pl", "__seg")
      .agg(count(lit(1)).as("__p"))
      .filter(col("__p") > maxSegPostings).limit(1).collect()
    require(hot.isEmpty, s"a segment key exceeds $maxSegPostings postings" +
      " — this corpus is degenerate for segment filtering (near-constant" +
      " strings); pre-dedup exact duplicates or raise maxSegPostings" +
      " deliberately")

    // probe side: every string enumerates, for each long partner length
    // pl ∈ [max(k, l−d), l+d] and segment i, its substrings of length
    // len_i(pl) at the ≤ 2d+1 positions within the shift window
    val probes = base
      .select(col("__id").as("__prb_id"), col("__s"), col("__l"),
        explode(seqOrEmpty(greatest(lit(k), col("__l") - d),
          col("__l") + d)).as("__pl"))
      .select(col("__prb_id"), col("__s"), col("__l"), col("__pl"),
        explode(sequence(lit(0), lit(k - 1))).as("__i"))
      .select(col("__prb_id"), col("__s"), col("__i"), col("__pl"),
        explode(seqOrEmpty(
          greatest(lit(0), segStart(col("__pl"), col("__i")) - d),
          least(col("__l") - segLen(col("__pl"), col("__i")),
            segStart(col("__pl"), col("__i")) + d))).as("__p"))
      .select(col("__prb_id"), col("__i"), col("__pl"),
        col("__s").substr(col("__p") + 1,
          segLen(col("__pl"), col("__i"))).as("__seg"))
      .distinct()
    val candLong = probes.join(idx, Seq("__i", "__pl", "__seg"))
      .filter(col("__prb_id") =!= col("__idx_id"))
      .select(least(col("__prb_id"), col("__idx_id")).as("id_a"),
        greatest(col("__prb_id"), col("__idx_id")).as("id_b"))

    // short↔short (both l < k): length-band equi-join — ≤ k distinct
    // short lengths, so the band fan-out is a constant
    val shorts = base.filter(col("__l") < k)
    val candShort = shorts
      .select(col("__id").as("__prb_id"),
        explode(seqOrEmpty(greatest(lit(0), col("__l") - d),
          least(lit(k - 1), col("__l") + d))).as("__pl"))
      .join(shorts.select(col("__id").as("__idx_id"),
        col("__l").as("__pl")), Seq("__pl"))
      .filter(col("__prb_id") < col("__idx_id"))
      .select(col("__prb_id").as("id_a"), col("__idx_id").as("id_b"))

    val cand = candLong.union(candShort).distinct()
    cand
      .join(base.select(col("__id").as("id_a"), col("__s").as("__sa")),
        Seq("id_a"))
      .join(base.select(col("__id").as("id_b"), col("__s").as("__sb")),
        Seq("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb")))
      .filter(col("dist") <= d)
      .select("id_a", "id_b", "dist")
  }
}
