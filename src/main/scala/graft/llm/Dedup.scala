package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection family beyond MinHash (l02/l02b): SimHash
  * (l02c), character-n-gram Jaccard with rare-gram candidate generation
  * (l02d), and embedding-cosine near-dup via LSH-bucket prefilter (l02e).
  * Plus the IVF ANN variant (l03c) — the coarse-quantizer scale path next
  * to l03b's hyperplane LSH.
  *
  * All pure relational Spark (portable md5-derived hashes, higher-order
  * array functions), so every query has a bit-for-bit DuckDB oracle.
  *
  * Scale posture, per operator:
  *  - l02c SimHash: fingerprints are one linear aggregation pass; the
  *    candidate join is banded (4×12-bit bands, pigeonhole over Hamming
  *    radius 3·k/48) so only same-band pairs meet — never all-pairs.
  *  - l02d: rare-gram candidate generation is the classic set-similarity
  *    prefilter; common grams (df > cap) generate no candidates, which is
  *    what keeps the gram self-join from exploding on boilerplate.
  *  - l02e: same-bucket hyperplane LSH prefilter → exact cosine verify;
  *    recall dials via plane count (fewer planes = bigger buckets).
  *  - l03c IVF: broadcast the centroid table, assign map-side, search
  *    only the probe's nprobe=2 nearest lists (~2/K of the corpus).
  */
object Dedup extends QueryModule {

  private val SimBits = 48 // stay clear of bigint sign in BOTH engines

  /** l02c: SimHash near-dup pairs. 48-bit fingerprint over distinct
    * word-3-shingles: bit b is the sign of Σ_shingles ±1 (± = bit b of
    * the shingle's 60-bit md5-derived hash). Unigram features would NOT
    * work here: docs sharing a vocabulary distribution collide at Hamming
    * 0 (measured: 485 identical fingerprints over 500 docs); shingles
    * separate true near-dups (hd ≤ 5) from topic-mates (hd ≥ 10) cleanly.
    * Candidates share one of four 12-bit bands; verification keeps
    * Hamming distance ≤ 6. */
  def l02c(spark: SparkSession, dir: String): DataFrame =
    simHashNearDupPairs(Tables.documents(spark, dir))

  /** Library path for l02c over any (doc_id, text) frame. Band buckets
    * above bucketCap are dropped before the candidate join (a fingerprint
    * flood — mass-identical boilerplate — is exact dedup's job, and its
    * bucket is quadratic pair work); the oracle applies the same cap. */
  /** (doc_id, fp) 48-bit SimHash fingerprints — one aggregation pass. */
  private def simHashFingerprints(docs: DataFrame): DataFrame = {
    graft.functions.Md5Hi60.register(docs.sparkSession)
    Tables.spread(docs, "doc_id") // shingle+md5 must not run single-split
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      // <3-word docs yield no shingles; unguarded, sequence(1, size(w)-2)
      // is descending and element_at(w, 0) throws (oracle's range is empty)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2))))"))
        .as("t"))
      .withColumn("hv", expr("md5_hi60(t)"))
      // one aggregation pass, 48 conditional sums — NOT an explode(48)
      // (which would 48× the shuffle and add a second aggregation)
      .groupBy("doc_id")
      .agg(
        sum(when(expr("(shiftright(hv, 0) & 1) = 1"), 1).otherwise(-1)).as("s0"),
        (1 until SimBits).map(b =>
          sum(when(expr(s"(shiftright(hv, $b) & 1) = 1"), 1).otherwise(-1)).as(s"s$b")): _*)
      .select(col("doc_id"),
        (0 until SimBits).map(b =>
          when(col(s"s$b") >= 0, lit(1L << b)).otherwise(0L))
          .reduce(_ + _).as("fp"))
  }

  /** (doc_id, fp, j, band) SimHash band rows, uncapped. */
  private def simHashBands(docs: DataFrame): DataFrame =
    simHashFingerprints(docs)
      .select(col("doc_id"), col("fp"),
        explode(sequence(lit(0), lit(3))).as("j"))
      .withColumn("band", expr("shiftright(fp, j * 12) & 4095"))

  /** Σ |bucket|·(|bucket|−1)/2 over the (j, band) SimHash buckets — the
    * candidate pairs the band join would generate uncapped, from bucket
    * sizes alone (ScalePatternsSpec's growth probe). */
  def simHashBandWork(docs: DataFrame): Long =
    simHashBands(docs)
      .groupBy("j", "band").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)).as("w"))
      .head().getLong(0)

  /** Corpus-scaled SimHash band width: random (non-dup) band collisions
    * generate ≈ nBands·n²/2^bandBits candidate pairs, so a PINNED width
    * is quadratic in the corpus — measured 82× band work for 10× docs at
    * the fixture's 12 bits. Growing the width as log2 keeps expected
    * random collisions ≈ target·n/2 (linear): bandBits =
    * ceil(log2(nBands·n/target)), floored at the fixture's 12. The
    * fingerprint needs nBands·bandBits bits; [[simHashNearDupPairsScaled]]
    * draws 60 bits per seed-prefixed md5 word, so width is not capped by
    * a single hash. Wider bands trade recall (a near-dup pair must agree
    * on all bandBits bits of some band) — the same dial as
    * [[scaledPlanes]], with OR-amplification (more bands) the recall-side
    * counterweight. */
  def scaledSimBandBits(n: Long, nBands: Int = 4, target: Long = 1L): Int =
    math.max(12, math.ceil(math.log(nBands.toDouble * math.max(1L, n) / target)
      / math.log(2.0)).toInt)

  /** Generalized SimHash band rows over seed-prefixed md5 words: bit b of
    * the fingerprint comes from bit (b % 60) of md5((b/60) || '|' || t).
    * Output: (doc_id, bands) with bands(j) packing bits
    * [j·bandBits, (j+1)·bandBits) — the bands partition the bit space, so
    * Hamming distance is Σ_j bit_count(bands(j) XOR bands'(j)). */
  private def simHashBandArrays(docs: DataFrame, nBands: Int,
      bandBits: Int): DataFrame = {
    val simBits = nBands * bandBits
    val words = (simBits + 59) / 60
    graft.functions.Md5Hi60.register(docs.sparkSession)
    val withHv = docs
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2))))"))
        .as("t"))
      .select(col("doc_id") +: (0 until words).map(k =>
        expr(s"md5_hi60(concat('$k|', t))")
          .as(s"hv$k")): _*)
    withHv
      .groupBy("doc_id")
      .agg(
        sum(when(expr("(shiftright(hv0, 0) & 1) = 1"), 1).otherwise(-1)).as("s0"),
        (1 until simBits).map(b =>
          sum(when(expr(s"(shiftright(hv${b / 60}, ${b % 60}) & 1) = 1"), 1)
            .otherwise(-1)).as(s"s$b")): _*)
      .select(col("doc_id"), array((0 until nBands).map(j =>
        (0 until bandBits).map(i =>
          when(col(s"s${j * bandBits + i}") >= 0, lit(1L << i)).otherwise(0L))
          .reduce(_ + _)): _*).as("bands"))
  }

  /** The scale path for l02c: band width derived from the corpus so
    * random band collisions stay linear in n (ScalePatternsSpec pins the
    * law on the real corpus, where the fixture's pinned 12-bit bands
    * measure quadratic). Hamming budget scales with the fingerprint:
    * simBits/8, the fixture's 6-of-48 ratio. */
  def simHashNearDupPairsScaled(docs: DataFrame, nBands: Int = 4,
      target: Long = 1L, bucketCap: Int = Llm.BandBucketCap): DataFrame = {
    val bandBits = scaledSimBandBits(CorpusStats.n(docs), nBands, target)
    val maxHamming = nBands * bandBits / 8
    val fp = simHashBandArrays(docs, nBands, bandBits)
    val bands = Llm.capBuckets(
      fp.select(col("doc_id"), col("bands"),
        posexplode(col("bands")).as(Seq("j", "band"))),
      Seq("j", "band"), bucketCap)
    bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.band") === col("y.band")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("aggregate(zip_with(x.bands, y.bands, (p, q) -> bit_count(p ^ q)), 0, (acc, v) -> acc + v)")
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  /** Band-bucket pair work of the scaled SimHash at a given width — the
    * growth probe ScalePatternsSpec runs at two corpus sizes. */
  def simHashBandWorkScaled(docs: DataFrame, nBands: Int, bandBits: Int): Long =
    simHashBandArrays(docs, nBands, bandBits)
      .select(posexplode(col("bands")).as(Seq("j", "band")))
      .groupBy("j", "band").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)).as("w"))
      .head().getLong(0)

  def simHashNearDupPairs(docs: DataFrame, maxHamming: Int = 6,
      bucketCap: Int = Llm.BandBucketCap): DataFrame = {
    val bands = Llm.capBuckets(simHashBands(docs), Seq("j", "band"), bucketCap)
    bands.as("x").join(bands.as("y"),
        col("x.j") === col("y.j") && col("x.band") === col("y.band")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        expr("bit_count(x.fp ^ y.fp)").cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("a", "b")
  }

  private val RareDf = 20 // grams in more docs than this generate no candidates
  private val JaccMin = 0.5
  private val GramLen = 8 // chars per gram (see scale note below)
  private val MinShared = 5 // candidate pairs must share this many rare grams

  /** l02d: exact character-8-gram Jaccard over rare-gram candidates.
    * A pair is comparable only if it shares a gram appearing in ≤ RareDf
    * docs — boilerplate grams never pair anyone. The Jaccard itself is
    * exact, over each candidate pair's FULL gram sets.
    *
    * Gram length is a SCALE parameter, not a tuning detail: with char
    * trigrams this corpus saturates at sf0.1 (only 377 distinct
    * trigrams exist; the rarest shared one is in 250 docs, so the
    * ≤ RareDf prefilter admits zero candidates and recall collapses).
    * 8-grams span ~1.5 words, the distinct-gram space grows with the
    * vocabulary instead of the alphabet, and rare grams stay rare as
    * the corpus grows — candidates scale with true near-dups (25 pairs
    * at sf0.01 → 253 at sf0.1), not with corpus². */
  def l02d(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardPairs(Tables.documents(spark, dir))

  /** The rare grams of a corpus (g = xxhash64 of the 8-gram, df) under
    * the corpus-relative rarity cap — shared by the pair pipeline and
    * the candidate-work probe.
    *
    * COLLISION EXPOSURE (round-5 advice): both the df-rarity counts here
    * AND the exact-verify intersections downstream run in 64-bit
    * xxhash64 space while the DuckDB oracle works on gram strings. A
    * cross-gram collision could perturb the rare set (two grams merge
    * their df) or inflate an intersection; over ≤ millions of distinct
    * grams the birthday bound keeps that ~1e-8 per corpus. DedupSpec
    * asserts distinct-hash == distinct-string gram counts at the test
    * SFs, so the test corpus is verified collision-free rather than
    * assumed. */
  private def rareGrams(gramsArr: DataFrame, docs: DataFrame): DataFrame = {
    val grams = gramsArr.select(col("doc_id"), explode(col("hs")).as("g"))
    // rarity cap is CORPUS-RELATIVE: max(RareDf, 1% of docs). An absolute
    // cap silently de-tunes as the corpus grows (a gram shared by every
    // copy in a 10×-duplicated cluster exceeds it and the cluster stops
    // pairing). The count arrives as a broadcast 1-row join, not a
    // driver-side action.
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    grams.groupBy("g").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") >= 2 &&
        col("df") <= greatest(lit(RareDf), (col("n_docs") / 100).cast("long")))
      .select("g", "df")
  }

  /** Per-doc DISTINCT gram-hash arrays. Grams are hashed at EXTRACTION
    * (xxhash64 inside the transform) so every downstream consumer — the
    * rarity explode, the candidate join, the exact-verify sets — reads
    * the same 8-byte longs; hashing once here (instead of re-hashing the
    * cached string arrays in each consumer) removes two full hash passes
    * and shrinks the cached arrays from 8-char strings to 8-byte longs.
    * array_distinct over hashes == distinct strings modulo the ~1e-8
    * collision exposure documented above (DedupSpec pins hash-vs-string
    * distinct counts at the test SFs). */
  private def gramArrays(docs: DataFrame): DataFrame =
    Tables.spread(docs, "doc_id") // gram hashing must not run single-split
      // <GramLen-char docs yield no grams (descending-sequence guard)
      .filter(length(col("text")) >= GramLen)
      .select(col("doc_id"), expr(
        s"array_distinct(transform(sequence(1, length(text) - ${GramLen - 1}), i -> xxhash64(substring(text, i, $GramLen))))").as("hs"))

  /** Σ df·(df−1)/2 over the rare grams — the candidate pairs the rare-gram
    * self-join generates (with multiplicity across grams), from the df
    * table alone. The growth law ScalePatternsSpec pins: because the
    * rarity cap is corpus-relative, this tracks true near-dup mass, not
    * corpus². */
  def ngramCandidateWork(docs: DataFrame): Long =
    rareGrams(gramArrays(docs), docs)
      .agg(coalesce(sum(expr("(df * (df - 1)) div 2")), lit(0L)).as("w"))
      .head().getLong(0)

  /** Library path for l02d over any (doc_id, text) frame. */
  def ngramJaccardPairs(docs: DataFrame): DataFrame = {
    // scoped cache on the per-doc DISTINCT-gram array: computed once from
    // each document row, it feeds (a) the exploded gram stream for the
    // rarity count and (b) the map-side hash sets for exact verify —
    // released before returning (the pair-sized result is
    // localCheckpoint-materialized below)
    val gramsArr = gramArrays(docs).cache()
    // all pairing/rarity plumbing shuffles the 8-byte gram HASH, never
    // the gram string — the string exists only inside its document row
    val grams = gramsArr.select(col("doc_id"), explode(col("hs")).as("g"))
    val rare = rareGrams(gramsArr, docs)
    // the candidate self-join runs on the RARE-gram subset only — both
    // sides are pre-filtered to rare grams before the pair shuffle, so
    // the full gram stream (the big table) never shuffles for pairing;
    // the rg cache holds the small filtered stream for its two uses
    val rg = grams.join(rare.select("g"), "g").cache()
    // candidates must share >= MinShared rare grams: true near-dups share
    // hundreds, so this drops the one-coincidental-gram junk pairs that
    // would otherwise dominate the exact-verify join (40× fewer
    // candidates at sf0.1 for a ~2% recall cost, asserted in DedupSpec)
    val cand = rg.select(col("g"), col("doc_id").as("a"))
      .join(rg.select(col("g"), col("doc_id").as("b")), "g")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(count(lit(1)).as("n_shared_rare"))
      .filter(col("n_shared_rare") >= MinShared)
      .select("a", "b")
    // exact verify via per-doc gram-HASH arrays + codegen'd
    // array_intersect: the hash set derives MAP-SIDE from the cached
    // per-doc array (zero shuffle — a doc's grams never leave their row),
    // then two |cand|-row joins. 64-bit xxhash64 over ≤ millions of
    // distinct grams makes a collision (the only way counts could differ
    // from the string oracle) ~1e-8.
    val gsets = gramsArr.select(col("doc_id"), col("hs"))
    val out = cand
      .join(gsets.select(col("doc_id").as("a"), col("hs").as("ha")), "a")
      .join(gsets.select(col("doc_id").as("b"), col("hs").as("hb")), "b")
      .withColumn("c", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("jaccard",
        round(col("c") / (size(col("ha")) + size(col("hb")) - col("c")), 6))
      .filter(col("jaccard") >= JaccMin)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
      .localCheckpoint()
    rg.unpersist(blocking = false)
    gramsArr.unpersist(blocking = false)
    out
  }

  // the synthetic embeddings are near-random (max pairwise cosine ≈ 0.51):
  // 0.4 keeps the top few dozen global pairs; the same-bucket prefilter
  // then keeps the ~20% of them whose 4-plane signatures agree — the
  // standard recall-for-throughput trade, asserted in DedupSpec
  private val CosMin = 0.4

  /** Corpus-scaled hyperplane count: enough planes that the expected
    * bucket population stays ≈ targetBucket as the corpus grows —
    * planes = ceil(log2(n / targetBucket)), floored at 4 (the oracled
    * fixture constant). With B = 2^planes ∈ [n/target, 2n/target], the
    * same-sig join generates Θ(n·target) candidate pairs — LINEAR in n,
    * where any pinned plane count silently degrades to all-pairs/2^p
    * (ScalePatternsSpec pins the growth exponent). */
  def scaledPlanes(n: Long, targetBucket: Long = 16L): Int =
    math.max(4, math.ceil(math.log(math.max(1L, n).toDouble / targetBucket)
      / math.log(2.0)).toInt)

  /** Corpus-scaled cluster count for the k-means-family operators
    * (SemDeDup, IVF): k = n / targetCluster keeps per-cluster pair work
    * O(n·targetCluster) — the floor of 16 preserves the oracled
    * fixture literals at test SF. */
  def scaledK(n: Long, targetCluster: Long = 16L): Int =
    math.max(16L, n / targetCluster).toInt

  /** Library path for l02e over any (vec_id, embedding) frame with an
    * explicit plane count — [[embedNearDupPairsScaled]] derives the count
    * from the corpus; the oracled l02e pins 4 planes (16 buckets), the
    * fixture shape whose literals the DuckDB oracle replays. Recall at a
    * given plane count trades against bucket size; OR-amplification
    * (multiple independent tables, l02-style banding) is the orthogonal
    * recall dial and multiplies this per-table work by #tables. */
  def embedNearDupPairs(emb0: DataFrame, nPlanes: Int,
      cosMin: Double): DataFrame = {
    // sig (the plane mega-expression) and the norm are computed ONCE PER
    // VECTOR before the join — per-pair they'd each re-run for every
    // candidate (norms alone are 2 of the 3 array folds). Both join sides
    // project the SAME plan, so the sig/norm stage and its exchange
    // canonicalize identically and ReuseExchange materializes them once.
    graft.functions.VecMath.register(emb0.sparkSession)
    val emb = emb0
      .withColumn("sig", expr(Llm.sigExprSpark("embedding", Llm.hyperplanes(nPlanes))))
      .withColumn("nrm", expr("sqrt(vec_dot(embedding, embedding))"))
      .select("vec_id", "embedding", "sig", "nrm")
    emb.as("x")
      .join(emb.as("y"),
        col("x.sig") === col("y.sig") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("dot", expr("vec_dot(x.embedding, y.embedding)"))
      .withColumn("cosine", round(col("dot") / (col("x.nrm") * col("y.nrm")), 6))
      .filter(col("cosine") >= cosMin)
      .select(col("x.vec_id").as("a"), col("y.vec_id").as("b"), col("cosine"))
      .orderBy("a", "b")
  }

  /** The scale path: plane count derived from the corpus size so the
    * candidate-pair join stays linear in n (one count() job up front —
    * at 100 TB that's a metadata-cheap scan next to the pair join it
    * right-sizes — memoized per input frame by CorpusStats, so a
    * composed curation pass probes each corpus once, not once per
    * stage). */
  def embedNearDupPairsScaled(emb: DataFrame, cosMin: Double = CosMin,
      targetBucket: Long = 16L): DataFrame =
    embedNearDupPairs(emb, scaledPlanes(CorpusStats.n(emb), targetBucket), cosMin)

  /** Σ |bucket|·(|bucket|−1)/2 over the sig buckets — the exact number of
    * candidate pairs the same-sig join generates, computed from bucket
    * SIZES (one aggregation) without running the join. ScalePatternsSpec
    * uses this to pin the linear-growth law. */
  def embedCandidateWork(emb: DataFrame, nPlanes: Int): Long = {
    graft.functions.VecMath.register(emb.sparkSession)
    emb.withColumn("sig", expr(Llm.sigExprSpark("embedding", Llm.hyperplanes(nPlanes))))
      .groupBy("sig").agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(expr("(c * (c - 1)) div 2")), lit(0L)).as("w"))
      .head().getLong(0)
  }

  /** l02e: embedding-cosine near-dup — hyperplane-LSH same-bucket
    * prefilter (16 buckets from Llm.Hyperplanes), exact cosine ≥ CosMin
    * verify. The bucket equi-join is the 100 TB-safe shape: shuffle on
    * sig, never all-pairs — with the plane count the fixture literal 4
    * here (the oracle needs literals) and corpus-scaled in
    * [[embedNearDupPairsScaled]]. */
  def l02e(spark: SparkSession, dir: String): DataFrame =
    embedNearDupPairs(Tables.embeddings(spark, dir), nPlanes = 4, cosMin = CosMin)

  private val NProbe = 2

  /** l03c: IVF ANN. Coarse quantizer = 16 fixed centroids (vec_ids 1-16 —
    * a deterministic stand-in for trained k-means centers; the plumbing is
    * identical). Every vector is assigned map-side to its best centroid
    * (broadcast); the probe searches only its NProbe nearest lists. */
  def l03c(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id").between(1, 16))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    def cosTo(v: String, c: String) = expr(
      s"""vec_dot($v, $c)
         | / (sqrt(vec_dot($v, $v)) * sqrt(vec_dot($c, $c)))""".stripMargin)
    // assignment: best centroid per vector (map-side: centroids broadcast)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    val assigned = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", cosTo("embedding", "cvec"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("label"), col("embedding"), col("cid"))
    // probe: nearest NProbe centroid lists
    val probe = emb.filter(col("vec_id") === 0)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", cosTo("embedding", "cvec"))
      .orderBy(col("ccos").desc, col("cid"))
      .limit(NProbe)
      .select(col("cid").as("pcid"), col("embedding").as("p"))
    assigned
      .join(broadcast(probe), col("cid") === col("pcid"))
      .withColumn("dot", expr("vec_dot(embedding, p)"))
      .withColumn("na", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("nb", expr("sqrt(vec_dot(p, p))"))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
      .select("vec_id", "label", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** l26: one Lloyd iteration of (spherical) k-means — assignment +
    * centroid update — the clustering engine behind semantic dedup,
    * domain discovery, and data-mixing curation. Assignment is l03c's
    * map-side broadcast-centroid argmax-cosine; the update is the part
    * worth pinning at scale: per-dimension component sums in integer
    * micro-units (round(x·1e6) as BIGINT), so the new centroid mean is
    * order-independent, exactly mergeable across partials (the h02
    * contract — partial sums from any partitioning merge bit-for-bit),
    * and therefore DuckDB-oracle-able where a float mean would diverge
    * on summation order. One shuffle on (cid, dim); a full k-means run
    * is this plan iterated with the driver checking movement, like l21's
    * label propagation. Output: 16×64 rows (cid, dim, n, mean). */
  /** The Lloyd assignment step against an arbitrary centroid table
    * (cid, cvec) — shared by l26 and DedupSpec's full-run convergence
    * proof. Keeps ccos so callers can evaluate the spherical objective
    * Σ cos(x, c(x)) without recomputation. */
  private[graft] def kmeansAssign(emb: DataFrame, cents: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(col("ccos").desc, col("cid"))
    emb
      .crossJoin(broadcast(cents))
      .withColumn("ccos", expr(
        """vec_dot(embedding, cvec)
          | / (sqrt(vec_dot(embedding, embedding)) * sqrt(vec_dot(cvec, cvec)))""".stripMargin))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"), col("ccos"))
  }

  def l26(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val cents = emb.filter(col("vec_id").between(1, 16))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"))
    kmeansAssign(emb, cents)
      .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy("cid", "dim")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(x * 1000000.0) AS BIGINT)")).as("s"))
      // no rounding: s/n/1e6 is the identical IEEE expression in DuckDB,
      // so the raw double is bit-equal (round() half-up semantics differ
      // between the engines at boundaries; r6 tricks aren't needed here)
      .select(col("cid"), col("dim").cast("bigint").as("dim"), col("n"),
        (col("s").cast("double") / col("n") / lit(1000000.0)).as("mean"))
      .orderBy("cid", "dim")
  }

  /** Library-level k-means: the FULL Lloyd fixpoint, not just l26's one
    * update step. Assignment is kmeansAssign's broadcast-centroid
    * argmax-cosine (map-side at any corpus size); the update gathers
    * l26-style integer micro-units but divides with FLOOR (`s div n`,
    * deterministic at any partitioning) — it differs from l26's exact
    * double mean by < 1 micro-unit per dimension, which is inside the
    * convergence tolerance; convergence = no centroid dimension moved more
    * than tolMicro micro-units. Runs through graft.Fixpoint.loopObserved
    * (the convergence probe is an observe() metric on the checkpoint job
    * itself — one Spark job per Lloyd round):
    * iterates are localCheckpoint-truncated and superseded ones are
    * released eagerly; the embedding scan is cached for the loop and
    * released before returning. Empty clusters keep their previous
    * centroid (the standard Lloyd fallback). Not oracled — the
    * iteration count is data/tolerance-dependent — FixpointSpec asserts
    * convergence, objective improvement over the seed, and checkpoint
    * hygiene. Returns (centroids (cid, cvec), iterations). */
  def kmeansFit(emb: DataFrame, k: Int = 0, maxIter: Int = 20,
      tolMicro: Long = 100L): (DataFrame, Int) = {
    graft.functions.VecMath.register(emb.sparkSession)
    val embC = emb.select("vec_id", "embedding").cache()
    // k ≤ 0 → corpus-scaled: clusters grow with the data so per-cluster
    // work (SemDeDup pairs, IVF list scans) stays bounded
    val k0 = if (k > 0) k else scaledK(CorpusStats.n(embC))
    val init = embC.filter(col("vec_id").between(1, k0))
      .select(col("vec_id").as("cid"), col("embedding").as("cvec"),
        lit(Long.MaxValue).as("moved_micro"))
    val (fin, iters) = graft.Fixpoint.loopObserved(init, maxIter) { cur =>
      val dims = kmeansAssign(embC, cur.select("cid", "cvec"))
        .select(col("cid"), posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("cid", "dim")
        .agg(sum(expr("CAST(round(x * 1000000.0) AS BIGINT)")).as("s"),
          count(lit(1)).as("n"))
        .select(col("cid"), col("dim"), expr("s div n").as("m"))
      val newCents = dims.groupBy("cid").agg(expr(
        "transform(array_sort(collect_list(struct(dim, m))), p -> CAST(p.m / 1000000.0 AS FLOAT))")
        .as("ncvec"))
      cur.select(col("cid"), col("cvec").as("pcvec"))
        .join(newCents, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("ncvec"), col("pcvec")).as("cvec"),
          coalesce(expr(
            """aggregate(
              |  zip_with(ncvec, pcvec, (a, b) ->
              |    abs(CAST(round(a * 1000000.0) AS BIGINT)
              |        - CAST(round(b * 1000000.0) AS BIGINT))),
              |  0L, (acc, d) -> greatest(acc, d))""".stripMargin),
            lit(0L)).as("moved_micro"))
    } (col("moved_micro") > tolMicro)
    val out = fin.select("cid", "cvec").orderBy("cid").localCheckpoint()
    graft.Fixpoint.release(fin)
    embC.unpersist(blocking = false)
    (out, iters)
  }

  /** l35: URL canonicalization + dedup — the web-crawl front door that
    * runs BEFORE any content dedup: the same page arrives as casing/
    * default-port/fragment/utm/trailing-slash variants, and collapsing
    * them is a pure map-side string normalization + one groupBy on the
    * canonical key (contrast l01's content hash: this needs no document
    * bytes at all). Six deterministic messy variants are synthesized per
    * order key; canonicalization = strip fragment, lowercase
    * scheme://host, drop :80, drop utm_* params, trim trailing slash —
    * each step a regexp with NO capture-group replacement (Java regex vs
    * RE2 backreference syntax differs; plain patterns behave identically,
    * which is what makes the DuckDB oracle exact). */
  def l35(spark: SparkSession, dir: String): DataFrame = {
    val urls = Tables.orders(spark, dir).selectExpr("o_orderkey",
      """CASE CAST(o_orderkey % 6 AS INT)
        |  WHEN 0 THEN concat('HTTP://Example.COM:80/items/', o_orderkey % 2000, '/')
        |  WHEN 1 THEN concat('http://example.com/items/', o_orderkey % 2000)
        |  WHEN 2 THEN concat('http://example.com/items/', o_orderkey % 2000,
        |                     '?utm_source=x&utm_campaign=y')
        |  WHEN 3 THEN concat('http://example.com/items/', o_orderkey % 2000, '#frag')
        |  WHEN 4 THEN concat('http://example.com/items/', o_orderkey % 2000,
        |                     '?ref=2&utm_medium=z')
        |  ELSE concat('https://Other.org/p?q=', o_orderkey % 2000)
        |END AS url""".stripMargin)
    // spread (§2.5): five regex passes per url are the heavy stage on
    // the 3-split orders scan; at-scale no-op
    Tables.spread(urls, "o_orderkey")
      .withColumn("s1", expr("regexp_replace(url, '#.*', '')"))
      .withColumn("pre", expr(
        "regexp_replace(lower(regexp_extract(s1, '^[a-zA-Z]+://[^/?#]+', 0)), ':80$', '')"))
      .withColumn("rest", expr(
        "substring(s1, length(regexp_extract(s1, '^[a-zA-Z]+://[^/?#]+', 0)) + 1)"))
      .withColumn("rest", expr("regexp_replace(rest, 'utm_[a-z]+=[^&]*&', '')"))
      .withColumn("rest", expr("regexp_replace(rest, '[?&]utm_[a-z]+=[^&]*', '')"))
      .withColumn("rest", expr("regexp_replace(rest, '/+$', '')"))
      .withColumn("canon_url", concat(col("pre"), col("rest")))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("url")).as("n_variants"),
        min(col("o_orderkey")).as("keep_key"))
      .orderBy("canon_url")
  }

  /** l34: cross-document segment-level boilerplate removal (the CCNet /
    * RefinedWeb paragraph-dedup stage): drop every text segment that
    * appears verbatim in ≥ 3 distinct documents, preserving each
    * document's remaining segment order. The synthetic corpus has no
    * newlines, so the segmentation rule is explicit: consecutive 8-token
    * blocks (real corpora would split on '\n\n'; the dataflow is
    * identical). Shape at 100 TB: segmentization is map-only (sequence +
    * slice over the token array, no explode-then-regroup); the
    * document-frequency pass is one seg-key shuffle; removal is a
    * left-anti join on the same key; reassembly sorts WITHIN each doc's
    * collected struct list (array_sort of (seg_idx, seg) — no window, no
    * global sort). Docs whose every segment is boilerplate survive as
    * empty strings via the final left join (same in the oracle). */
  /** The 8-token segment stream l34 shuffles — exposed so the
    * ScalePatternsSpec growth law measures the SAME frame the query
    * uses (an inline re-derivation would silently diverge if the
    * segmentation rule changes). One row per (doc_id, seg_idx, seg);
    * map-only. */
  private[graft] def segmentsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("a"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, CAST(ceil(size(a) / 8.0) AS INT) - 1),
          |          i -> array_join(slice(a, i * 8 + 1, 8), ' '))""".stripMargin))
        .as(Seq("seg_idx", "seg")))

  def l34(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // spread (§2.5): the 8-word slice/join transform is the heavy stage
    // and both consumers of segs (boiler agg + clean rebuild) re-run it
    // over the single-split scan; at-scale no-op
    val segs = segmentsOf(Tables.spread(docs, "doc_id"))
    val boiler = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 3)
      .select("seg")
    val cleaned = segs.join(boiler, Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(expr(
        "array_join(transform(array_sort(collect_list(struct(seg_idx, seg))), p -> p.seg), ' ')")
        .as("clean"),
        count(lit(1)).as("kept"))
    docs.select("doc_id")
      .join(cleaned, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean"), lit("")).as("text_clean"),
        coalesce(col("kept"), lit(0L)).as("n_kept"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l34_seg_dedup" -> l34,
    "l35_url_dedup" -> l35,
    "l02c_dedup_simhash" -> l02c,
    "l02d_dedup_ngram_jaccard" -> l02d,
    "l02e_dedup_embed" -> l02e,
    "l03c_sim_ivf" -> l03c,
    "l26_kmeans_update" -> l26)

  private def duckCos(v: String, c: String): String =
    s"""list_sum(list_transform(range(1, 65), i -> CAST($v[i] AS DOUBLE) * CAST($c[i] AS DOUBLE)))
       | / (sqrt(list_sum(list_transform($v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |    * sqrt(list_sum(list_transform($c, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  val oracles: Map[String, String] = Map(
    "l34_seg_dedup" ->
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents),
        |flat AS (SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos
        |         FROM toks),
        |segs AS (SELECT doc_id, (pos - 1) // 8 AS seg_idx,
        |                string_agg(tok, ' ' ORDER BY pos) AS seg
        |         FROM flat GROUP BY doc_id, (pos - 1) // 8),
        |boiler AS (SELECT seg FROM segs GROUP BY seg
        |           HAVING COUNT(DISTINCT doc_id) >= 3),
        |kept AS (SELECT doc_id, seg_idx, seg FROM segs
        |         ANTI JOIN boiler USING (seg)),
        |agg AS (SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean,
        |               COUNT(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(text_clean, '') AS text_clean,
        |       CAST(COALESCE(n_kept, 0) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "l35_url_dedup" ->
      """WITH u AS (
        |  SELECT o_orderkey,
        |         CASE CAST(o_orderkey % 6 AS INT)
        |           WHEN 0 THEN concat('HTTP://Example.COM:80/items/', o_orderkey % 2000, '/')
        |           WHEN 1 THEN concat('http://example.com/items/', o_orderkey % 2000)
        |           WHEN 2 THEN concat('http://example.com/items/', o_orderkey % 2000,
        |                              '?utm_source=x&utm_campaign=y')
        |           WHEN 3 THEN concat('http://example.com/items/', o_orderkey % 2000, '#frag')
        |           WHEN 4 THEN concat('http://example.com/items/', o_orderkey % 2000,
        |                              '?ref=2&utm_medium=z')
        |           ELSE concat('https://Other.org/p?q=', o_orderkey % 2000)
        |         END AS url
        |  FROM orders),
        |c AS (
        |  SELECT o_orderkey, url,
        |         regexp_replace(lower(regexp_extract(regexp_replace(url, '#.*', ''),
        |                        '^[a-zA-Z]+://[^/?#]+')), ':80$', '')
        |         || regexp_replace(regexp_replace(regexp_replace(
        |              substring(regexp_replace(url, '#.*', ''),
        |                length(regexp_extract(regexp_replace(url, '#.*', ''),
        |                       '^[a-zA-Z]+://[^/?#]+')) + 1),
        |              'utm_[a-z]+=[^&]*&', ''),
        |              '[?&]utm_[a-z]+=[^&]*', ''),
        |              '/+$', '') AS canon_url
        |  FROM u)
        |SELECT canon_url, COUNT(*) AS n_rows,
        |       COUNT(DISTINCT url) AS n_variants,
        |       MIN(o_orderkey) AS keep_key
        |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin,
    "l26_kmeans_update" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 16),
         |scored AS (
         |  SELECT e.vec_id, e.embedding, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c),
         |assigned AS (SELECT vec_id, embedding, cid FROM scored WHERE rn = 1),
         |comp AS (
         |  SELECT cid, i.i - 1 AS dim,
         |         CAST(round(CAST(embedding[i.i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
         |  FROM assigned CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i)
         |SELECT cid, dim, COUNT(*) AS n,
         |       CAST(SUM(xq) AS DOUBLE) / COUNT(*) / 1000000.0 AS mean
         |FROM comp GROUP BY cid, dim ORDER BY cid, dim""".stripMargin,
    "l02c_dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
         |tok AS (
         |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(range(1, len(w)-1),
         |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS t
         |  FROM w),
         |h AS (SELECT doc_id, t,
         |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok),
         |bits AS (
         |  SELECT doc_id, b.b,
         |         SUM(CASE WHEN (hv >> b.b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         |  FROM h CROSS JOIN (SELECT unnest(range(0, $SimBits)) AS b) b
         |  GROUP BY doc_id, b.b),
         |fp AS (
         |  SELECT doc_id,
         |         SUM(CASE WHEN s >= 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS fp
         |  FROM bits GROUP BY doc_id),
         |bands0 AS (
         |  SELECT doc_id, fp, j.j, (fp >> (j.j * 12)) & 4095 AS band
         |  FROM fp CROSS JOIN (SELECT unnest(range(0, 4)) AS j) j),
         |bsz AS (SELECT j, band, COUNT(*) AS bsz FROM bands0 GROUP BY 1, 2),
         |bands AS (
         |  SELECT b.doc_id, b.fp, b.j, b.band
         |  FROM bands0 b JOIN bsz USING (j, band) WHERE bsz <= ${Llm.BandBucketCap})
         |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |       CAST(bit_count(xor(x.fp, y.fp)) AS BIGINT) AS hamming
         |FROM bands x JOIN bands y ON x.j = y.j AND x.band = y.band
         |  AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.fp, y.fp)) <= 6
         |ORDER BY a, b""".stripMargin,
    "l02d_dedup_ngram_jaccard" ->
      s"""WITH grams AS (
         |  SELECT DISTINCT doc_id,
         |         unnest(list_distinct(list_transform(range(1, length(text) - ${GramLen - 2}),
         |           i -> substr(text, CAST(i AS INTEGER), $GramLen)))) AS g
         |  FROM documents),
         |rare AS (SELECT g FROM grams GROUP BY g
         |         HAVING COUNT(*) >= 2 AND COUNT(*) <= GREATEST($RareDf,
         |           CAST((SELECT COUNT(*) FROM documents) / 100 AS BIGINT))),
         |cand AS (
         |  SELECT x.doc_id AS a, y.doc_id AS b
         |  FROM grams x JOIN rare USING (g)
         |       JOIN grams y ON x.g = y.g AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $MinShared),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
         |common AS (
         |  SELECT c.a, c.b, COUNT(*) AS c
         |  FROM cand c JOIN grams sa ON sa.doc_id = c.a
         |              JOIN grams sb ON sb.doc_id = c.b AND sb.g = sa.g
         |  GROUP BY c.a, c.b)
         |SELECT common.a, common.b,
         |       round(c / (na.n + nb.n - c), 6) AS jaccard
         |FROM common JOIN sizes na ON na.doc_id = common.a
         |            JOIN sizes nb ON nb.doc_id = common.b
         |WHERE round(c / (na.n + nb.n - c), 6) >= $JaccMin
         |ORDER BY a, b""".stripMargin,
    "l02e_dedup_embed" ->
      s"""WITH e AS (SELECT vec_id, embedding, ${Llm.sigExprDuck("embedding")} AS sig
         |           FROM embeddings)
         |SELECT x.vec_id AS a, y.vec_id AS b,
         |       round(${duckCos("x.embedding", "y.embedding")}, 6) AS cosine
         |FROM e x JOIN e y ON x.sig = y.sig AND x.vec_id < y.vec_id
         |WHERE round(${duckCos("x.embedding", "y.embedding")}, 6) >= $CosMin
         |ORDER BY a, b""".stripMargin,
    "l03c_sim_ivf" ->
      s"""WITH cents AS (
         |  SELECT vec_id AS cid, embedding AS cvec FROM embeddings
         |  WHERE vec_id BETWEEN 1 AND 16),
         |scored AS (
         |  SELECT e.vec_id, e.label, e.embedding, c.cid,
         |         row_number() OVER (PARTITION BY e.vec_id
         |           ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cid) AS rn
         |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id <> 0),
         |assigned AS (
         |  SELECT vec_id, label, embedding, cid FROM scored WHERE rn = 1),
         |probe AS (
         |  SELECT c.cid AS pcid, e.embedding AS p
         |  FROM embeddings e CROSS JOIN cents c WHERE e.vec_id = 0
         |  ORDER BY ${duckCos("e.embedding", "c.cvec")} DESC, c.cid
         |  LIMIT $NProbe)
         |SELECT a.vec_id, a.label,
         |       round(${duckCos("a.embedding", "probe.p")}, 6) AS cosine
         |FROM assigned a JOIN probe ON a.cid = probe.pcid
         |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin)
}
