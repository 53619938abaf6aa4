package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, and SimHash near-duplicate detection.
  *
  * Scale design (the point of every choice here):
  *  - exact dedup is a hash aggregation on a digest, not on the full text —
  *    the shuffle carries 16-byte keys, not documents;
  *  - per-document signatures (MinHash, SimHash) are computed at ROW level
  *    from the shingle-hash array in one tight closure — no explode, no
  *    signature shuffle at all; only banded keys ever shuffle;
  *  - Jaccard candidates come from PPJoin-style prefix filtering, so the
  *    self-join sees a fraction of each posting list and verification runs
  *    per candidate pair on sorted arrays;
  *  - every bucket join caps pathological bucket sizes (skew guard), and
  *    SimHash's pigeonhole blocks turn hamming search into t+1 equi-joins
  *    instead of a cross join.
  */
object Dedup {

  /** Exact duplicate groups by content digest: one row per distinct text,
    * with the representative (minimum) id and the duplicate count.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Word n-gram shingles of `textCol` as an array column (distinct).
    * Documents shorter than `n` tokens yield an empty array (a bare
    * `sequence(0, size-n)` would descend for negative bounds).
    */
  def shingleExpr(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    when(size(toks) < n, array().cast("array<string>")).otherwise(
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))
  }

  /** 64-bit hashes of the word n-gram shingles (distinct), built without
    * materializing shingle strings: xxhash64 over token-array slices. Set
    * operations on shingles (Jaccard, MinHash) are collision-insensitive at
    * 64 bits, and downstream rows carry longs instead of n-word strings.
    */
  def shingleHashExpr(text: Column, n: Int): Column = {
    val toks = split(text, "\\s+")
    when(size(toks) < n, array().cast("array<bigint>")).otherwise(
      array_distinct(
        transform(sequence(lit(0), size(toks) - n),
          i => xxhash64(slice(toks, i + 1, lit(n))))))
  }

  /** Cross-document duplicated-span profile — the C4/RefinedWeb
    * "repeated n-gram" diagnostic at corpus level: for each document,
    * how many of its n-gram POSITIONS carry a gram that also occurs in
    * at least `minDocs − 1` other documents? High `dup_frac` marks
    * boilerplate, mirrored pages, and template text that document-level
    * near-dedup (MinHash on whole docs) misses.
    *
    * Execution: every position explodes to a 64-bit gram hash (tokens
    * never shuffle as strings), ONE distinct (gram, doc) pass counts
    * each gram's document frequency, and one hash-keyed join + doc-keyed
    * aggregation produces the per-doc profile. No self-join anywhere —
    * the shapes are all aggregations, so no cap is needed; collisions at
    * 64 bits are negligible for any real corpus.
    *
    * @param minDocs a gram is "duplicated" when it appears in >= minDocs
    *                distinct documents
    * @return per doc: (idCol, n_spans, n_dup_spans, dup_frac) — docs
    *         with fewer than n tokens have n_spans 0 and null dup_frac
    */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    val toks = filter(split(col(textCol), "\\s+"), t => t =!= "")
    // ALL positions (no distinct): dup_frac is a span-position fraction
    val spans = when(size(toks) < n, array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => xxhash64(slice(toks, i + 1, lit(n)))))
    // tokenize+hash is the per-row hot loop — spread a few-partition scan
    // (single-row-group files) across the cluster first
    val pos = fanOut(df).select(col(idCol).as("__id"), explode(spans).as("__g"))
    val docFreq = pos.select("__g", "__id").distinct()
      .groupBy("__g").agg(count(lit(1)).as("__docs"))
    val profiled = pos.join(docFreq, Seq("__g"))
      .groupBy(col("__id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__docs") >= minDocs, 1L).otherwise(0L))
          .as("n_dup_spans"))
    df.select(col(idCol)).distinct()
      .join(profiled.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        round(when(col("n_spans") > 0,
          col("n_dup_spans").cast("double") / col("n_spans")), 6)
          .as("dup_frac"))
  }

  /** Cross-document duplicated-span REMOVAL — the action
    * [[duplicateSpans]] profiles (Lee et al. 2022's exact-substring
    * dedup, word-level): every token covered by an n-gram that occurs
    * in >= `minDocs` distinct documents is dropped, and the document is
    * rebuilt from the surviving tokens. Run after document-level
    * near-dedup to strip boilerplate/template spans that whole-doc
    * MinHash can't see.
    *
    * Execution (all relational, no per-doc quadratic work):
    *  1. positions explode to 64-bit gram hashes (strings never
    *     shuffle);
    *  2. ONE distinct (gram, doc) pass + groupBy finds duplicated grams
    *     (doc frequency >= minDocs) — the join back is against this
    *     FILTERED, much smaller side;
    *  3. each duplicated position fans out to its n covered token
    *     indices (bounded n× blow-up of duplicated positions only);
    *  4. a (doc, index) left-anti join keeps uncovered tokens, and a
    *     per-doc sort-rebuild emits the cleaned text.
    * Shapes are keyed aggregations/joins throughout — no self-join, no
    * cap needed; per-doc state is bounded by document length, the same
    * bound any row-wise text operator already carries.
    *
    * @return per doc: (idCol, text_clean, n_tokens, n_kept) —
    *         text_clean is "" when every token was covered
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    require(n >= 1, s"need n >= 1, got $n")
    require(minDocs >= 2, s"need minDocs >= 2, got $minDocs")
    val toksOf = filter(split(col(textCol), "\\s+"), t => t =!= "")
    val base = fanOut(df).select(col(idCol).as("__id"), toksOf.as("__toks"))
    val gramArr = when(size(col("__toks")) < n,
        array().cast("array<bigint>"))
      .otherwise(transform(sequence(lit(0), size(col("__toks")) - n),
        i => xxhash64(slice(col("__toks"), i + 1, lit(n)))))
    val grams = base.select(col("__id"),
      posexplode(gramArr).as(Seq("__i", "__g")))
    val dupGrams = grams.select("__g", "__id").distinct()
      .groupBy("__g").agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select("__g")
    val covered = grams.join(dupGrams, Seq("__g"))
      .select(col("__id"),
        explode(sequence(col("__i"), col("__i") + (n - 1))).as("__idx"))
      .distinct()
    val tok = base.select(col("__id"),
      posexplode(col("__toks")).as(Seq("__idx", "__tok")))
    val rebuilt = tok.join(covered, Seq("__id", "__idx"), "left_anti")
      .groupBy("__id")
      .agg(count(lit(1)).as("__kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("__idx"), col("__tok")))),
          s => s.getField("__tok")), " ").as("text_clean"))
    // n_tokens reads the already-fanned token frame — recomputing the
    // split from the raw df would run it at scan parallelism (r13 class)
    base.select(col("__id").as(idCol),
        size(col("__toks")).cast("long").as("n_tokens"))
      .join(rebuilt.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_tokens"),
        coalesce(col("__kept"), lit(0L)).as("n_kept"))
  }

  /** splitmix64 finalizer — the per-function mix for MinHash. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** FNV-1a 64-bit over the chars of a string. */
  @inline private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** Distinct 64-bit n-gram hashes of a token sequence, computed entirely
    * in the JVM: one string hash per token, then an order-sensitive mix
    * chain per n-gram. The expression-tree equivalent re-hashes every token
    * n times through interpreted slices — this is the hot inner loop of
    * every near-dup signature, so it runs as plain Scala.
    */
  private def shingleHashes(toks: Seq[String], n: Int): Array[Long] = {
    val m = toks.size
    if (m < n) return Array.emptyLongArray
    val th = new Array[Long](m)
    var i = 0
    toks.foreach { t => th(i) = fnv64(t); i += 1 }
    val set = new java.util.HashSet[java.lang.Long](m * 2)
    val out = new Array[Long](m - n + 1)
    var k = 0
    i = 0
    while (i <= m - n) {
      var h = 0x9e3779b97f4a7c15L
      var j = 0
      while (j < n) { h = mix64(h ^ th(i + j)); j += 1 }
      if (set.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(out, k)
  }

  /** MinHash signature as one array column, computed per row in a single
    * closure (tokenize → shingle-hash → numHashes × |shingles| long-mixes),
    * no explode, no shuffle — the equivalent k-min-aggregates formulation
    * shuffles every (doc, shingle) pair.
    */
  def minhashSignatureArray(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, seed: Long = 42L): DataFrame = {
    val sigUdf = udf { (toks: Seq[String]) =>
      val a = shingleHashes(toks, shingleN)
      Array.tabulate(numHashes) { i =>
        val salt = seed + 0x9e3779b97f4a7c15L * (i + 1)
        var m = Long.MaxValue
        var j = 0
        while (j < a.length) {
          val v = mix64(a(j) ^ salt)
          if (v < m) m = v
          j += 1
        }
        m
      }
    }
    fanOut(df).select(col(idCol).as("id"),
      sigUdf(split(col(textCol), "\\s+")).as("sig"))
  }

  private val MersenneP = 2147483647L // 2^31 − 1

  /** Universal-hash parameters for portable-minhash row `i`: a odd-ish
    * multiplier and offset below the Mersenne prime, both closed-form in
    * `i` so any engine reproduces them (no RNG state).
    */
  private def portableAB(i: Int): (Long, Long) = {
    val a0 = (2654435761L * (i + 1)) % MersenneP
    ((if (a0 == 0) 1L else a0), (97531L * (i + 1)) % MersenneP)
  }

  /** ENGINE-PORTABLE MinHash signatures: one md5 per distinct shingle
    * string (the engine-reproducible q236 mapping, reduced mod the
    * Mersenne prime 2³¹−1), then `numHashes` universal hashes
    * (aᵢ·h + bᵢ) mod p whose products stay below 2⁶² — every step is
    * exact integer arithmetic ANY engine replays bit-for-bit, so
    * near-dup candidate generation gets a full hash-equality oracle
    * (the xxhash64 [[minhashSignatureArray]] path stays the fast
    * default; its mix64 wraps mod 2⁶⁴, which ANSI engines can't
    * express).
    *
    * Shape: ONE shingle explode + ONE groupBy(doc) carrying `numHashes`
    * min-aggregates — map-side combine reduces every partition to one
    * `numHashes`-long buffer per doc before the shuffle.
    *
    * @return (id, sig_0 … sig_{numHashes−1}); docs with fewer than
    *         `shingleN` tokens drop (no shingles → no signature)
    */
  def minhashSignaturesPortable(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 64): DataFrame = {
    require(numHashes >= 1, s"need numHashes >= 1, got $numHashes")
    val h = pmod(conv(substring(md5(col("__sh")), 1, 15), 16, 10)
      .cast("long"), lit(MersenneP))
    val aggs = (0 until numHashes).map { i =>
      val (a, b) = portableAB(i)
      min(pmod(col("__h") * lit(a) + lit(b), lit(MersenneP))).as(s"sig_$i")
    }
    fanOut(df).select(col(idCol).as("id"),
        explode(shingleExpr(col(textCol), shingleN)).as("__sh"))
      .select(col("id"), h.as("__h"))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs from the PORTABLE signatures (banding identical
    * to [[minhashPairs]], band keys as joined strings so the oracle
    * replays them): (id_a, id_b, n_bands_shared), id_a < id_b, hot
    * buckets capped like every banded join here.
    */
  def minhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, bands: Int = 4,
      maxBucketSize: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = minhashSignaturesPortable(df, idCol, textCol, shingleN,
      numHashes)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("#", (0 until rows).map(r =>
          col(s"sig_${b * rows + r}")): _*).as("bkey"))
    }
    val buckets = sig.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    val small = buckets.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize).select("band", "bkey")
    val pruned = buckets.join(small, Seq("band", "bkey"))
    val l = pruned.select(col("band"), col("bkey"), col("id").as("id_a"))
    val r = pruned.select(col("band"), col("bkey"), col("id").as("id_b"))
    l.join(r, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands_shared"))
  }

  /** ENGINE-PORTABLE SimHash: per-bit ±1 votes over the md5-derived
    * shingle hashes (reduced to `bits` low bits), fingerprint = the
    * sign bits — shift/mask/conditional-sum arithmetic any engine
    * replays exactly (the [[simhash]] 64-bit fnv/mix path stays the
    * fast default). ONE shingle explode + ONE groupBy(doc) carrying
    * `bits` conditional sums; ties (vote 0) resolve to bit 0, matching
    * [[simhash]].
    *
    * @return (id, simhash) — docs with fewer than `shingleN` tokens drop
    */
  def simhashPortable(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, bits: Int = 24): DataFrame = {
    require(bits >= 1 && bits <= 48, s"need 1 <= bits <= 48, got $bits")
    val h = pmod(conv(substring(md5(col("__sh")), 1, 15), 16, 10)
      .cast("long"), lit(1L << bits))
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("__h"), b).bitwiseAND(lit(1L)) === 1L,
        lit(1)).otherwise(lit(-1))).as(s"__v$b")
    }
    val fp = (0 until bits).map { b =>
      when(col(s"__v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    fanOut(df).select(col(idCol).as("id"),
        explode(shingleExpr(col(textCol), shingleN)).as("__sh"))
      .select(col("id"), h.as("__h"))
      .groupBy("id").agg(votes.head, votes.tail: _*)
      .select(col("id"), fp.as("simhash"))
  }

  /** MinHash signatures as `numHashes` columns (`sig_0` … ) — thin view
    * over [[minhashSignatureArray]].
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, seed: Long = 42L): DataFrame = {
    val arr = minhashSignatureArray(df, idCol, textCol, shingleN, numHashes, seed)
    arr.select(col("id") +:
      (0 until numHashes).map(i => element_at(col("sig"), i + 1).as(s"sig_$i")): _*)
  }

  /** LSH candidate pairs from MinHash signatures: `bands` bands of
    * `numHashes / bands` rows; docs sharing any band bucket are candidates.
    * Returns (id_a, id_b, n_bands_shared), id_a < id_b.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L, maxBucketSize: Int = 200): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val sig = minhashSignatureArray(df, idCol, textCol, shingleN, numHashes, seed)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), lit(b * rows + 1), lit(rows))).as("bkey"))
    }
    val buckets = sig.select(col("id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bkey"))
    // cap pathological buckets before the self-join
    val small = buckets.groupBy("band", "bkey").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize).select("band", "bkey")
    val pruned = buckets.join(small, Seq("band", "bkey"))
    val l = pruned.select(col("band"), col("bkey"), col("id").as("id_a"))
    val r = pruned.select(col("band"), col("bkey"), col("id").as("id_b"))
    l.join(r, Seq("band", "bkey")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_bands_shared"))
  }

  /** Near-duplicate pairs by exact n-gram Jaccard similarity ≥ `threshold`.
    * Returns (id_a, id_b, jaccard) with id_a < id_b.
    *
    * Candidate generation uses the full PPJoin filter stack:
    *  - **prefix filter** — under the numeric order of shingle hashes, two
    *    sets with Jaccard ≥ t MUST share a shingle among each set's first
    *    ⌊(1−t)·|S|⌋+1 smallest shingles, so only that row-level slice is
    *    exploded and self-joined;
    *  - **length filter** — J(A,B) ≥ t forces t·|B| ≤ |A| ≤ |B|/t, so
    *    joined rows whose set sizes are too far apart are dropped before
    *    the distinct/verify stages ever see them;
    *  - **positional filter** — a match at (sorted) positions p_a, p_b
    *    bounds the overlap by min(|A|−p_a, |B|−p_b), which must reach
    *    t·(|A|+|B|)/(1+t); valid for the smallest common shingle (zero
    *    common shingles precede it), and a pair survives if ANY of its
    *    prefix matches passes — lossless.
    * Verification then intersects the two sorted arrays per surviving
    * candidate. Lossless except for the `maxBucketSize` skew cap on prefix
    * buckets.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5, maxBucketSize: Int = 1000): DataFrame = {
    // sorted distinct shingle hashes, once per document, at row level
    val shUdf = udf { (toks: Seq[String]) =>
      val a = shingleHashes(toks, n)
      java.util.Arrays.sort(a)
      a
    }
    val sh = fanOut(df).select(col(idCol).as("id"),
      shUdf(split(col(textCol), "\\s+")).as("shs"))
    val prefix = sh
      .withColumn("sz", size(col("shs")))
      .select(col("id"), col("sz"),
        posexplode(slice(col("shs"), lit(1),
          (floor((lit(1.0) - threshold) * col("sz")) + 1).cast("int"))))
      .withColumnRenamed("col", "sh")
    val small = prefix.groupBy("sh").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize).select("sh")
    val prefixOk = prefix.join(small, Seq("sh"))
    // 1e-9 slack keeps double rounding from pruning exact-boundary pairs
    val cand = prefixOk
      .select(col("sh"), col("id").as("id_a"), col("sz").as("sz_a"), col("pos").as("pos_a"))
      .join(prefixOk
        .select(col("sh"), col("id").as("id_b"), col("sz").as("sz_b"), col("pos").as("pos_b")),
        Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")) - 1e-9)
      .filter(least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - 1e-9)
      .select("id_a", "id_b").distinct()

    // verify each candidate on the full sorted sets
    cand
      .join(sh.select(col("id").as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Cross-corpus exact Jaccard join — [[jaccardPairs]] between TWO
    * corpora (dedup a new crawl against the existing corpus, align two
    * document collections) instead of within one. Same PPJoin filter
    * stack (prefix + length + positional, see [[jaccardPairs]]); the
    * skew guard here caps the candidate PRODUCT per prefix bucket
    * (|bucket_a| · |bucket_b| ≤ `maxBucketPairs`), since a hot shingle
    * on both sides is what makes the cross join quadratic.
    *
    * @return (id_a, id_b, jaccard): id_a from `a`, id_b from `b`, every
    *         cross pair with J ≥ threshold (lossless except capped
    *         buckets)
    */
  def jaccardJoinPairs(a: DataFrame, aIdCol: String, aTextCol: String,
      b: DataFrame, bIdCol: String, bTextCol: String, n: Int = 3,
      threshold: Double = 0.5, maxBucketPairs: Long = 1000000L): DataFrame = {
    val shUdf = udf { (toks: Seq[String]) =>
      val arr = shingleHashes(toks, n)
      java.util.Arrays.sort(arr)
      arr
    }
    def side(df: DataFrame, id: String, text: String): (DataFrame, DataFrame) = {
      val sh = fanOut(df).select(col(id).as("id"),
        shUdf(split(col(text), "\\s+")).as("shs"))
      val prefix = sh
        .withColumn("sz", size(col("shs")))
        .select(col("id"), col("sz"),
          posexplode(slice(col("shs"), lit(1),
            (floor((lit(1.0) - threshold) * col("sz")) + 1).cast("int"))))
        .withColumnRenamed("col", "sh")
      (sh, prefix)
    }
    val (shA, prefA) = side(a, aIdCol, aTextCol)
    val (shB, prefB) = side(b, bIdCol, bTextCol)
    val ok = prefA.groupBy("sh").agg(count(lit(1)).as("na"))
      .join(prefB.groupBy("sh").agg(count(lit(1)).as("nb")), "sh")
      .filter(col("na") * col("nb") <= maxBucketPairs)
      .select("sh")
    val cand = prefA.join(ok, Seq("sh"))
      .select(col("sh"), col("id").as("id_a"), col("sz").as("sz_a"),
        col("pos").as("pos_a"))
      .join(prefB
        .select(col("sh"), col("id").as("id_b"), col("sz").as("sz_b"),
          col("pos").as("pos_b")),
        Seq("sh"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold) * greatest(col("sz_a"), col("sz_b")) - 1e-9)
      .filter(least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) >=
        lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - 1e-9)
      .select("id_a", "id_b").distinct()
    cand
      .join(shA.select(col("id").as("id_a"), col("shs").as("shs_a")), Seq("id_a"))
      .join(shB.select(col("id").as("id_b"), col("shs").as("shs_b")), Seq("id_b"))
      .withColumn("n_inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard", col("n_inter").cast("double") /
        (size(col("shs_a")) + size(col("shs_b")) - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** 64-bit SimHash per document, computed per row from the shingle-hash
    * array (no explode, no shuffle): each feature hash votes ±1 per bit,
    * the sign of each bit-sum is the signature bit. `shingleN` > 1 uses
    * word n-gram features — far more discriminative on template-heavy
    * corpora than unigrams (which mark any vocabulary overlap as near-dup).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val simUdf = udf { (toks: Seq[String]) =>
      val a =
        if (shingleN <= 1) {
          val set = new java.util.HashSet[java.lang.Long](toks.size * 2)
          toks.iterator.map(fnv64).filter(set.add(_)).toArray
        } else shingleHashes(toks, shingleN)
      val votes = new Array[Int](64)
      var j = 0
      while (j < a.length) {
        val h = a(j)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        j += 1
      }
      var out = 0L
      var b = 0
      while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
    fanOut(df).select(col(idCol).as("id"),
      simUdf(split(col(textCol), "\\s+")).as("simhash"))
  }

  /** Connected-component labels over an undirected pair relation
    * (id_a, id_b): iterative min-label propagation — each round every node
    * takes the minimum label in its neighborhood; rounds ≈ component
    * diameter (near-dup clusters are shallow). Each iteration is one join +
    * aggregation; intermediates are checkpointed so lineage stays flat.
    * Returns (id, label) for every id that appears in `pairs`, where
    * label = the minimum id of the component.
    *
    * Checkpoint durability: when `checkpointDir` is given (or the session
    * already has one set), intermediates use RELIABLE `checkpoint()` —
    * blocks live on shared storage and survive executor loss, which a
    * multi-hour 100 TB dedup job requires. `localCheckpoint` (blocks pinned
    * to executor memory/disk, lineage severed UNRECOVERABLY) remains only
    * the local-mode default, where executor == driver and there is nothing
    * to lose.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
      checkpointDir: Option[String] = None): DataFrame = {
    // Checkpointer frees each superseded label generation once the next is
    // materialized (and the pinned edges at close) — checkpoint storage
    // stays O(graph), not O(graph × iterations)
    graft.Checkpointer.using(pairs.sparkSession, checkpointDir) { cp =>
      val edges = cp.pin(pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())
      var labels = cp(edges.select(col("src").as("id")).distinct()
        .withColumn("label", col("id")))
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // shuffle-hash hint: same reasoning as the LSS phase join — labels is
        // O(nodes) (never broadcastable at scale) and pinning the plan avoids
        // AQE's runtime broadcast conversion inside a tight checkpoint loop
        val nbrMin = edges.join(labels.withColumnRenamed("id", "src")
            .hint("shuffle_hash"), "src")
          .groupBy(col("dst").as("id")).agg(min("label").as("nbr_label"))
        // the changed flag rides along INTO the checkpoint, so convergence is
        // read back with a cheap scan of the checkpointed result — no second
        // join against the previous labels, one pass per iteration
        val next = cp(labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"),
            (coalesce(col("nbr_label"), col("label")) < col("label")).as("__changed")))
        val changed = next.filter(col("__changed")).limit(1).count()
        labels = next.select("id", "label")
        converged = changed == 0
        iter += 1
      }
      labels
    }
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14): each round rewires edges toward neighborhood minima, and the
    * edge set converges to per-component stars rooted at the component min
    * in O(log n) rounds REGARDLESS of component diameter.
    *
    * Use this variant when components can be DEEP: [[connectedComponents]]'s
    * min-label propagation moves the min one hop per round, so a
    * 200-node chain needs ~200 rounds and silently returns partial labels
    * at the default maxIter — on chain/link-graph shapes LSS is the
    * correct at-scale choice. On shallow near-dup clusters the propagation
    * variant does fewer shuffles per round (no distinct); both return the
    * same (id, label = component min) relation.
    *
    * Per round: one symmetric-view aggregation for the neighborhood minima,
    * one broadcast-free equi-join to re-emit edges, one distinct — all
    * shuffles keyed on node ids, never materializing anything larger than
    * the (shrinking) edge set. Convergence is detected with an
    * order-independent (count, bit_xor of edge hashes) checksum — one tiny
    * aggregate per round instead of a set comparison. Same checkpoint
    * durability contract as [[connectedComponents]].
    */
  def connectedComponentsLSS(pairs: DataFrame, maxIter: Int = 30,
      checkpointDir: Option[String] = None): DataFrame = {
    graft.Checkpointer.using(pairs.sparkSession, checkpointDir) { cp =>
      // the inputs are CHECKPOINTED, not cached: a persisted InMemoryRelation
      // pins its fixed pre-AQE shuffle layout for every downstream round
      // (measured: q73 4.2s -> 7.4s with persist), while the checkpointed
      // LogicalRDD lets each round re-plan with AQE coalescing.
      // The pair relation is pinned ONCE and both views derive from it — a
      // candidate generator like jaccardPairs upstream is the dominant cost
      // and must not run twice (measured: q73 7.5s -> 4.4s)
      val base = cp.pin(pairs.select("id_a", "id_b"))
      val ids = base.select(col("id_a").as("id"))
        .union(base.select(col("id_b").as("id"))).distinct()
      // edges kept child→parent (u > v); self-loops dropped
      var edges = cp(base
        .filter(col("id_a") =!= col("id_b"))
        .select(greatest(col("id_a"), col("id_b")).as("u"),
          least(col("id_a"), col("id_b")).as("v"))
        .distinct())
      def checksum(e: DataFrame): (Long, Long) = {
        val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
        (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      }
      def phase(e: DataFrame, large: Boolean): DataFrame = {
        val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
        val mins = sym.groupBy("u")
          .agg(least(min(col("v")), first(col("u"))).as("m"))
        // shuffle-hash hint: the mins side is O(nodes), so at scale a
        // broadcast is impossible and the equi-join shuffles on the node id
        // anyway; pinning that plan here also stops AQE's runtime
        // broadcast-join conversion, which intermittently wedged the tight
        // checkpoint-per-round loop for minutes at a time (observed repeatedly
        // at gate scale: rounds of ~0.6s with sporadic 180-640s outliers, all
        // parked waiting on stage materialization with zero task activity)
        val rewired = sym.join(mins.hint("shuffle_hash"), "u")
          .filter(if (large) col("v") > col("u") else col("v") < col("u"))
          .select(col("v").as("u"), col("m").as("v"))
        // small-star also links each node itself to its neighborhood min
        val withSelf = if (large) rewired
          else rewired.union(mins.select(col("u"), col("m").as("v")))
        withSelf.filter(col("u") =!= col("v")).distinct()
      }
      var sum = checksum(edges)
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // one checkpoint per round: the large-star output stays lazy inside
        // the round's lineage (≈6 shuffles), halving materialization passes.
        // Folding TWO rounds per generation (12-shuffle lineage) was measured
        // WORSE: the deeper adaptive plan re-triggers the runtime
        // broadcast-conversion wedge noted in [[phase]] — negative A/B,
        // rounds are kept at one double-phase per generation
        edges = cp(phase(phase(edges, large = true), large = false))
        val next = checksum(edges)
        converged = next == sum
        sum = next
        iter += 1
      }
      // converged state: (child, component-min) stars; roots label themselves.
      // Materialized through the checkpointer so the final labels generation
      // is live BEFORE close() frees the pinned pair relation (base) that
      // `ids` lazily derives from.
      val labels = cp(ids.join(edges.withColumnRenamed("u", "id"), Seq("id"), "left")
        .select(col("id"), coalesce(col("v"), col("id")).as("label")))
      labels
    }
  }

  /** Remove near-duplicate documents end-to-end: MinHash-LSH candidate
    * pairs → connected components → keep the minimum id per component
    * (plus every document with no near-duplicate). The candidate relation
    * can be swapped (e.g. [[simhashPairs]] or [[jaccardPairs]] output) via
    * `pairsOpt`. `deepComponents = true` switches the labeling to
    * [[connectedComponentsLSS]] (O(log n) rounds) for graphs whose
    * duplicate chains can be deep; the default propagation is fewer
    * shuffles on the shallow clusters near-dup relations produce.
    */
  def removeNearDuplicates(df: DataFrame, idCol: String, textCol: String,
      pairsOpt: Option[DataFrame] = None,
      checkpointDir: Option[String] = None,
      deepComponents: Boolean = false): DataFrame = {
    val pairs = pairsOpt.getOrElse(
      minhashPairs(df, idCol, textCol).select("id_a", "id_b"))
    val labels =
      if (deepComponents)
        connectedComponentsLSS(pairs.select("id_a", "id_b"),
          checkpointDir = checkpointDir)
      else connectedComponents(pairs.select("id_a", "id_b"),
        checkpointDir = checkpointDir)
    df.join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .filter(col("label").isNull || col("label") === col(idCol))
      .drop("label")
  }

  /** Near-duplicate pairs with hamming(simhash) ≤ `maxHamming`, via the
    * pigeonhole block trick (t+1 equi-joins, no cross join).
    * Returns (id_a, id_b, hamming), id_a < id_b.
    *
    * Note on `maxHamming`: block width is 64/(t+1) bits, so high thresholds
    * mean narrow blocks, tiny bucket keyspaces, and quadratic bucket
    * blow-up (t=16 → 3-bit blocks → 8 buckets per block). Keep t ≤ 8 and
    * let `maxBucketSize` cap pathological buckets, same as MinHash LSH.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 8, maxBucketSize: Int = 500,
      shingleN: Int = 3): DataFrame = {
    val nBlocks = maxHamming + 1
    val width = 64 / nBlocks
    val sh = simhash(df, idCol, textCol, shingleN)
    val blockCols = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("bval"))
    }
    val blocks = sh.select(col("id"), col("simhash"), explode(array(blockCols: _*)).as("bk"))
      .select(col("id"), col("simhash"), col("bk.blk"), col("bk.bval"))
    val small = blocks.groupBy("blk", "bval").agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucketSize).select("blk", "bval")
    val pruned = blocks.join(small, Seq("blk", "bval"))
    val l = pruned.select(col("blk"), col("bval"), col("id").as("id_a"), col("simhash").as("sh_a"))
    val r = pruned.select(col("blk"), col("bval"), col("id").as("id_b"), col("simhash").as("sh_b"))
    l.join(r, Seq("blk", "bval")).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Benchmark decontamination: per-corpus-document n-gram CONTAINMENT
    * against a probe set (the benchmark/test documents whose leakage into
    * training data must be measured) — the overlap check every serious
    * training pipeline runs before a model ships.
    *
    *   containment(d) = |grams(d) ∩ grams(probe)| / |grams(d)|
    *
    * Scale shape: the probe set is tiny next to a 100 TB corpus, so its
    * DISTINCT gram hashes are computed once (a probe-only shuffle) and
    * BROADCAST; the corpus side is a projection + explode + broadcast hash
    * join + per-doc count with map-side partial aggregation — the corpus is
    * shuffled exactly once, at (doc id, two longs) granularity, never by
    * gram. Grams travel as 64-bit hashes ([[shingleHashExpr]]), not
    * n-word strings.
    *
    * Returns one row per corpus document: idCol, `n_grams` (distinct gram
    * count), `n_hit` (grams also present anywhere in the probe set), and
    * `containment` (0.0 for documents shorter than `n` tokens).
    */
  def containment(corpus: DataFrame, probe: DataFrame, idCol: String,
      textCol: String, n: Int = 5): DataFrame = {
    val probeGrams = fanOut(probe)
      .select(explode(shingleHashExpr(col(textCol), n)).as("g"))
      .distinct()
      .withColumn("hit", lit(1))
    // fan out before the per-row shingle kernel + explode (r13 class)
    val exploded = fanOut(corpus)
      .select(col(idCol), shingleHashExpr(col(textCol), n).as("gs"))
      .select(col(idCol), size(col("gs")).as("n_grams"),
        explode_outer(col("gs")).as("g"))
    exploded
      .join(broadcast(probeGrams), Seq("g"), "left")
      .groupBy(col(idCol), col("n_grams"))
      .agg(count(col("hit")).as("n_hit"))
      .withColumn("containment",
        when(col("n_grams") > 0,
          col("n_hit").cast("double") / col("n_grams")).otherwise(lit(0.0)))
  }

  /** Temporal dedup: keep AT MOST ONE row per key per tumbling time
    * window — the recrawl/refresh suppressor (the same content fetched
    * twice in a window is one observation; across windows it is a new
    * one). The batch twin of the streaming
    * `dropDuplicatesWithinWatermark` gate (q75), with deterministic
    * representative choice where the stream keeps arrival order's first:
    * the (ts, id)-minimal row of each (key, window) survives.
    *
    * Windows are ABSOLUTE epoch-aligned tumbling buckets
    * (floor(ts/window)) — a pure function of the timestamp, so the
    * result is partition- and history-independent (an anchored
    * per-key-first-sighting variant would make yesterday's output depend
    * on the retention horizon). ONE (key, bucket) shuffle.
    *
    * @param idCol unique tiebreak so equal-timestamp duplicates resolve
    *              deterministically
    * @return surviving input rows plus their `window_start` timestamp
    */
  def oncePerWindow(df: DataFrame, keyCol: String, tsCol: String,
      windowUs: Long, idCol: String): DataFrame = {
    require(windowUs > 0, "windowUs must be positive")
    // integer `div` — the `/` operator on longs is a DOUBLE division
    val bucket = expr(s"unix_micros(`$tsCol`) div ${windowUs}L")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol), bucket)
      .orderBy(col(tsCol), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .withColumn("window_start", timestamp_micros(bucket * windowUs))
  }
}
