package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over documents/embeddings
  * (SURVEY.md §2.2 l01-l05 + text-analysis extensions l06-l09).
  *
  * Everything here is expressed in relational Spark (no UDFs): hashing via
  * md5_hi60(x), the top 60 bits of md5(x) as a BIGINT (the codegen'd
  * [[graft.functions.Md5Hi60]], equal to the built-in md5 → 15 hex digits
  * → conv(.., 16, 10) → BIGINT chain; the DuckDB oracle side is unchanged,
  * CAST('0x'||substr(md5(..),1,15) AS BIGINT)), folds via higher-order
  * array functions (left-to-right in both engines).
  *
  * Scale posture: l02's MinHash-LSH is the standard shingle → K minhashes →
  * banded buckets → candidate-pair join → exact-Jaccard verify pipeline.
  * Work is linear in corpus size until the bucket join, which only pairs
  * documents sharing a band signature — the 100 TB-safe alternative to the
  * quadratic all-pairs similarity join. Skewed buckets are handled two
  * ways: AQE skew splitting re-plans oversize shuffle partitions, and a
  * BUCKET-SIZE CAP ([[BandBucketCap]]) drops band buckets whose membership
  * exceeds the cap before the pair join — a boilerplate flood (10⁶ docs
  * sharing a signature) is otherwise a single 10¹² -pair bucket that AQE
  * can split but not shrink. Dropped buckets are mass-identical documents,
  * which exact dedup (l01) already collapses; [[minHashBucketAudit]]
  * surfaces the dropped mass, and DedupSpec's adversarial flood test pins
  * the bound.
  */
object Llm extends QueryModule {

  /** Portable 6-decimal half-up rounding: round()'s tie-breaking differs
    * between Spark (HALF_UP) and DuckDB on doubles; floor(x*1e6+0.5)/1e6
    * is identical IEEE arithmetic in both engines. Inputs here are small
    * rationals (token-count ratios), which DO land exactly on rounding
    * boundaries. */
  private def r6(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor(c * 1000000.0 + 0.5) / 1000000.0

  def l01(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))
      .select("keep_id", "n_dups")
      .orderBy("keep_id")

  /** Word-3-shingles of lowered text, distinct per doc, over any
    * (doc_id, text) frame.
    *
    * Dedup is per-doc ((doc_id, sh) rows are what downstream consumes),
    * so it runs MAP-SIDE as array_distinct over the in-row shingle list
    * before the explode — a set-identical result with ZERO exchange.
    * The old global `.distinct()` was semantically the same dedup but
    * paid a full shuffle of every (doc_id, shingle) row: the largest
    * exchange in the dedup spine, carried by every consumer (l02 pair
    * graph, l25/l54 band indexes, l56's truth join, l63-l65 via the
    * shared spine). At 100 TB that exchange is corpus-shingle-sized;
    * the map-side form ships nothing. */
  /** Spread a small-scan input across the session's cores before the
    * shingle/minhash compute. The map-side distinct below removed the
    * spine's shuffle, but with it went the RE-PARTITIONING that shuffle
    * provided: a corpus that planner-packs into fewer splits than the
    * session has cores (the sf0.1 bench: one parquet file = one split)
    * would run the whole extraction+minhash serially. The decision is
    * planner METADATA (no job): when the scan already yields at least
    * half the default parallelism — any at-scale corpus — this is a
    * no-op and the spine stays exchange-free up to the doc_id partial
    * agg; when it does not, ONE hash exchange of (doc_id, text) rows
    * (fewer bytes than the old shingle-row shuffle, ~1/3) restores
    * parallelism AND pre-partitions by doc_id, so bandSignatures'
    * groupBy(doc_id) reuses it instead of adding its own. */
  private def spreadDocs(docs: DataFrame): DataFrame =
    Tables.spread(docs, "doc_id") // generalized there in r15; one impl

  private[llm] def shinglesOf(docs: DataFrame): DataFrame =
    spreadDocs(docs)
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      // docs under 3 words have no 3-shingles; without the guard
      // sequence(1, size(w)-2) turns DESCENDING ([1,0]) and element_at(w,0)
      // is a runtime error (DuckDB's range is empty for the same input)
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(w)-2), i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2))))"))
        .as("sh"))

  private def shingles(spark: SparkSession, dir: String): DataFrame =
    shinglesOf(Tables.documents(spark, dir))

  private[llm] val NumHashes = 8
  private[llm] val RowsPerBand = 2 // 4 bands

  /** MinHash band signatures (doc_id, band, m0, m1) of a distinct-shingle
    * table. K independent hash functions: seed-prefixed md5, low 60 bits
    * as long. All K minhashes aggregate in ONE groupBy(doc_id) pass — the
    * K md5s are map-side column expressions, partial aggregation collapses
    * each doc to a single K-column row before the exchange. The
    * alternative (explode(K) + groupBy(doc_id, h) + regroup by band)
    * shuffles K rows per doc per source partition and pays a second
    * exchange for the banding — at 100 TB that's K× the shuffle volume for
    * no information. Bands (RowsPerBand consecutive minhashes each) derive
    * map-side: 4 rows per doc, no extra shuffle before the candidate
    * equi-join. */
  private[llm] def bandSignatures(sh: DataFrame): DataFrame = {
    graft.functions.Md5Hi60.register(sh.sparkSession)
    val minsig = sh.groupBy("doc_id").agg(
      min(expr("md5_hi60(concat('0|', sh))")).as("mh0"),
      (1 until NumHashes).map(h =>
        min(expr(s"md5_hi60(concat('$h|', sh))")).as(s"mh$h")): _*)
    minsig.select(col("doc_id"), explode(array(
      (0 until NumHashes / RowsPerBand).map(j => struct(
        lit(j).as("band"),
        col(s"mh${RowsPerBand * j}").as("m0"),
        col(s"mh${RowsPerBand * j + 1}").as("m1"))): _*)).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"),
        col("bs.m0").as("m0"), col("bs.m1").as("m1"))
  }

  /** Band buckets whose membership exceeds this never enter a candidate
    * join: a flooded bucket of b docs is b²/2 pairs of work, and a 10⁶-doc
    * boilerplate bucket is 5·10¹¹ pairs AQE can split but not shrink.
    * Mass-identical documents are exact dedup's job (l01), not the
    * near-dup pass's. 256 is far above any organic bucket at the test SFs
    * (measured max ≈ dup-cluster size ~10), so the capped queries stay
    * bit-identical to their oracles — which apply the SAME cap. */
  private[llm] val BandBucketCap = 256

  /** Keep only rows of `bands` whose bucket (the `keys` tuple) has ≤ cap
    * members. The membership count is a window count partitioned on the
    * same keys the candidate join shuffles on — the bands plan is
    * evaluated ONCE and the count rides that single exchange (a
    * groupBy+self-join here would re-evaluate the signature aggregation
    * and add a second exchange; measured 2× on l02). Per-bucket audit
    * goes through [[minHashBucketAudit]]. */
  private[llm] def capBuckets(bands: DataFrame, keys: Seq[String], cap: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    bands
      .withColumn("bsz", count(lit(1)).over(w))
      .filter(col("bsz") <= cap)
      .drop("bsz")
  }

  /** Map-only (ZERO-shuffle) image of [[bandSignatures]]: the same
    * (band, m0, m1) rows derived per input row with array higher-order
    * functions — distinct shingles via array_distinct, each minhash an
    * array_min over the in-row shingle list. Row-for-row equal to the
    * explode+groupBy path (DedupSpec pins it); exists because a STREAM
    * can't pay a stateful groupBy just to hash one document: this
    * version makes band signing a stateless projection, so l02's
    * candidate generation lifts onto readStream with state only at the
    * final pair dedup. All other input columns pass through (the
    * streaming caller keeps its event-time column). Docs under 3 words
    * have no shingles and are dropped, same as [[shinglesOf]]. */
  private[graft] def withBandSignatures(docs: DataFrame): DataFrame = {
    graft.functions.Md5Hi60.register(docs.sparkSession)
    def mh(h: Int) = s"array_min(transform(_shs, s -> md5_hi60(concat('$h|', s))))"
    docs
      .withColumn("_w", split(lower(col("text")), " "))
      .filter(size(col("_w")) >= 3)
      .withColumn("_shs", expr("array_distinct(transform(sequence(1, size(_w)-2), " +
        "i -> concat_ws(' ', element_at(_w,i), element_at(_w,i+1), element_at(_w,i+2))))"))
      .withColumn("_bs", explode(array(
        (0 until NumHashes / RowsPerBand).map(j => struct(
          lit(j).as("band"),
          expr(mh(RowsPerBand * j)).as("m0"),
          expr(mh(RowsPerBand * j + 1)).as("m1"))): _*)))
      .withColumn("band", col("_bs.band"))
      .withColumn("m0", col("_bs.m0"))
      .withColumn("m1", col("_bs.m1"))
      .drop("_w", "_shs", "_bs")
  }

  /** The PERSISTABLE band index of a corpus: one (doc_id, band, m0, m1)
    * row per band signature — what l25's "historical side" looks like as
    * a stored table instead of a per-run recomputation. Write it
    * bucketed on (band, m0, m1) (s11's machinery) and the daily delta's
    * candidate probe becomes an index-sized join with NO corpus rescan;
    * [[graft.streaming.StreamingLift.nearDupCandidates]] probes the same
    * frame per micro-batch. DedupSpec gates a write→read→probe roundtrip
    * against the in-memory recomputation. */
  def bandIndexOf(docs: DataFrame): DataFrame =
    bandSignatures(shinglesOf(docs))

  /** A band index with its flooded buckets (membership > cap) removed —
    * what a candidate-generation PROBE should join against.
    * [[minHashNearDupPairs]] applies the same cap to its in-memory
    * bands; a stored index keeps every bucket (l54's telemetry needs
    * them), so the probe-side cap is applied at read time. Without it,
    * one arriving document hitting a 10⁶-doc boilerplate bucket emits
    * 10⁶ candidate pairs per micro-batch — exactly the unshrinkable
    * work [[BandBucketCap]] exists to refuse. */
  def cappedBandIndex(index: DataFrame,
      cap: Int = BandBucketCap): DataFrame =
    capBuckets(index, Seq("band", "m0", "m1"), cap)

  /** Library path for l02 over any (doc_id, text) frame: MinHash banded
    * candidates (bucket-capped) + exact shingle-Jaccard verify. */
  /** THE production candidate stage — the banded self-join both l02 and
    * the l56 eval score share (one body, so the eval can never silently
    * drift from what l02 actually runs). */
  private[llm] def bandedCandidatePairs(bands: DataFrame): DataFrame =
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.m0") === col("y.m0")
          && col("x.m1") === col("y.m1") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()

  /** Session-scoped memo for the verified pair graph (graft.FrameMemo):
    * the pair list is localCheckpoint-materialized and tiny, while
    * deriving it (shingle → band → capped self-join → exact-Jaccard
    * verify) is the dedup family's dominant shared cost. A composed
    * pipeline running l02 → l21 → l53 over one corpus — or the sweep's
    * registered queries doing the same — pays it once: dedupClusterLabels'
    * cold path calls straight through here. Keyed by (docs plan, jaccMin,
    * bucketCap); clear with [[clearPairsMemo]] when a corpus is rewritten
    * in place (the FrameMemo staleness contract). */
  private val pairsMemo = graft.FrameMemo.frames[(Double, Int)]()

  def clearPairsMemo(): Unit = pairsMemo.clear()

  def minHashNearDupPairs(docs: DataFrame, jaccMin: Double = 0.4,
      bucketCap: Int = BandBucketCap): DataFrame =
    pairsMemo.getOrCompute((docs.sparkSession,
      docs.queryExecution.normalized, (jaccMin, bucketCap))) {
      minHashNearDupPairsUncached(docs, jaccMin, bucketCap)
    }

  /** [[minHashNearDupPairs]] for a caller that ALREADY holds the spine's
    * cached (shingles, bands) — the fused day-close (Pipeline.l64),
    * which needs the bands for its other legs anyway. Same memo, same
    * key, same result: the cold build runs the one shared
    * [[verifiedPairsFrom]] body over the caller's frames (sh/bands are
    * themselves pure functions of `docs`, so whichever caller populates
    * the entry, the frame is identical); a hit skips the candidate join
    * + exact-Jaccard verify entirely — the dedup family's dominant
    * shared cost, now shared by the composition too, tagged memo_pre
    * like every other cross-query ride. */
  private[llm] def minHashNearDupPairsWith(docs: DataFrame, sh: DataFrame,
      bands: DataFrame, jaccMin: Double, bucketCap: Int): DataFrame =
    pairsMemo.getOrCompute((docs.sparkSession,
      docs.queryExecution.normalized, (jaccMin, bucketCap))) {
      verifiedPairsFrom(sh, bands, jaccMin, bucketCap)
        .orderBy("a", "b")
        .localCheckpoint()
    }

  /** The UNCHECKPOINTED pair spine, for plan evidence only
    * (`graft.Plans` id `l02_pair_spine`): the registered queries return
    * memoized/localCheckpoint-materialized frames whose plans are opaque
    * RDD scans, so the optimization rounds dump this frame's plan to show
    * the spine's exchange structure. Same [[pairSpine]] body as the real
    * path, so the two cannot drift. Not used by any registered query. */
  def pairSpineForPlan(docs: DataFrame): DataFrame =
    pairSpine(shinglesOf(docs), 0.4, BandBucketCap)

  private def pairSpine(sh: DataFrame, jaccMin: Double,
      bucketCap: Int): DataFrame =
    verifiedPairsFrom(sh, bandSignatures(sh), jaccMin, bucketCap)
      .orderBy("a", "b")

  private def minHashNearDupPairsUncached(docs: DataFrame, jaccMin: Double,
      bucketCap: Int): DataFrame = {
    // scoped cache: 5 consumers inside the spine; released before
    // returning — the (tiny) result is localCheckpoint-materialized so
    // the returned plan reads stored blocks, not the unpersisted shingles
    val sh = shinglesOf(docs).cache()
    val out = pairSpine(sh, jaccMin, bucketCap).localCheckpoint()
    sh.unpersist(blocking = false)
    out
  }

  /** The verified-pair spine from a PRECOMPUTED (shingles, bands) pair —
    * ONE body shared by [[minHashNearDupPairsUncached]] and the fused
    * day-close (Pipeline.l64), so the capped candidate join + exact
    * Jaccard verify can never drift between the memoized path and a
    * composition that also needs the bands for other legs. */
  private[llm] def verifiedPairsFrom(sh: DataFrame, bands: DataFrame,
      jaccMin: Double, bucketCap: Int): DataFrame = {
    val cand = bandedCandidatePairs(
      capBuckets(bands, Seq("band", "m0", "m1"), bucketCap))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b2"), col("sh").as("shb")),
        col("b") === col("b2") && col("sha") === col("shb"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard", round(col("c") / (col("na") + col("nb") - col("c")), 6))
      .filter(col("jaccard") >= jaccMin)
      .select("a", "b", "jaccard")
  }

  /** l56: DEDUP-PIPELINE EVALUATION — l55's "measure, don't guess"
    * discipline applied to the near-dup stack: how good are l02's banded
    * MinHash candidates, really? A deterministic CONSTANT-SIZE probe
    * sample (doc_id ≡ 0 mod [[probeModulus]], modulus derived from the
    * corpus count so |probe| ≈ [[ProbeTargetCount]] at ANY scale) gets
    * EXACT ground truth — every ≥0.4-shingle-jaccard pair a probe
    * participates in, via the probe-restricted inverted-index join
    * (probe shingles ⋈ corpus shingles; the eval's intrinsic cost,
    * bounded by the probe COUNT — never corpus²) — and the candidate
    * stage is scored against it in BOTH configurations: the production
    * BandBucketCap and uncapped. The gap between the two recalls is the
    * measured price of the flood guard; candidate precision is the
    * measured exact-verify work the bands waste. Counts are integers,
    * ratios floor-rounded — engine-exact. */
  def l56(spark: SparkSession, dir: String): DataFrame =
    dedupEval(Tables.documents(spark, dir))

  /** Probe-sample sizing for the dedup eval. Round 10 measured the fixed
    * FRACTION rule (doc_id % 7, ~14%) at 45× truth-join work for 10×
    * docs — each probe's inverted-index fan-out grows with corpus df, so
    * a fraction-sized probe set is quadratic-in-practice. A fixed COUNT
    * (modulus = n/target, so |probe| ≈ target at every scale) makes the
    * enumeration grow only with df — linear on a stable dup rate
    * (ScalePatternsSpec re-measures the law). 64 probes keep the
    * precision/recall estimate's sampling error useful without paying a
    * corpus-fraction join; integer division keeps the rule engine-exact
    * (mirrored as `greatest(1, count(*) // 64)` in the oracle), and at
    * the 500-doc test SFs it derives the historical modulus 7, so the
    * small-SF results are unchanged. */
  private[graft] val ProbeTargetCount = 64L
  private[graft] def probeModulus(nDocs: Long): Long =
    math.max(1L, nDocs / ProbeTargetCount)

  /** l56's core over an arbitrary (doc_id, text) corpus — exposed so the
    * spec can feed a synthetic corpus with borderline-jaccard pairs that
    * the bands probabilistically miss (the production corpus's dups are
    * near-identical, so recall saturates at 1.0 there; the metric must be
    * shown to MOVE). */
  private[graft] def dedupEval(docs: DataFrame): DataFrame = {
    // constant-size probe set: modulus from a FRESH corpus count (one
    // count-star job — parquet metadata, not a scan). Deliberately NOT
    // CorpusStats: that memo's documented staleness tolerance is written
    // for whole-bit band-width derivation, but the modulus here must
    // match the oracle's fresh count(*) exactly — a stale n across a
    // modulus boundary would silently probe a different sample.
    val m = probeModulus(docs.count())
    val sh = shinglesOf(docs).cache()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val isProbe = (c: org.apache.spark.sql.Column) => pmod(c, lit(m)) === 0
    // exact probe-side truth: all pairs touching a probe, exact jaccard
    val common = sh.filter(isProbe(col("doc_id"))).select(col("doc_id").as("p"), col("sh"))
      .join(sh.select(col("doc_id").as("o"), col("sh")), "sh")
      .filter(col("p") =!= col("o"))
      // probe-probe pairs are generated from BOTH directions — keep one,
      // or the shared-shingle count doubles and jaccard inflates
      .filter(!isProbe(col("o")) || col("p") < col("o"))
      .select(least(col("p"), col("o")).as("a"),
        greatest(col("p"), col("o")).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    def jaccardOf(pairs: DataFrame): DataFrame = pairs
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard", round(col("c") / (col("na") + col("nb") - col("c")), 6))
    // probe-probe pairs arrive once per direction; the groupBy above
    // already merged them (canonical a<b before the count)
    val truth = jaccardOf(common).filter(col("jaccard") >= 0.4)
      .select("a", "b").localCheckpoint()
    // ONE band join for both configs: tag every bucket with its
    // membership, join once, and derive the capped set from a per-pair
    // flag — a capped candidate pair exists iff SOME shared bucket is
    // within the cap, which is exactly capBuckets-then-join (DedupSpec's
    // flood test pins the equivalence against exact expected counts).
    // PROBE-SIDED join, not full-self-join-then-filter: a candidate pair
    // must TOUCH a probe, and the `isProbe(a) || isProbe(b)` predicate is
    // an OR across both join sides — Catalyst can't push it into either
    // input, so the full corpus² bucket join ran before the filter. The
    // one-sided restriction (x = probe rows only, ~64 docs' bands) IS
    // pushable by construction and yields the identical pair set:
    // every qualifying pair appears with x = a probe; probe-probe pairs
    // arrive once per direction and collapse in the canonical groupBy;
    // bsz is a bucket property, the same value on both sides.
    // Materialized once (consumed by two aggregates).
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "m0", "m1")
    val bands0 = bandSignatures(sh)
      .withColumn("bsz", count(lit(1)).over(wB))
    val allCand = bands0.filter(isProbe(col("doc_id"))).as("x")
      .join(bands0.as("y"),
        col("x.band") === col("y.band") && col("x.m0") === col("y.m0")
          && col("x.m1") === col("y.m1") && col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("b"),
        (col("x.bsz") <= BandBucketCap).as("ok"))
      .groupBy("a", "b").agg(max("ok").as("capped_ok"))
      .localCheckpoint()
    def candidates(capped: Boolean): DataFrame =
      if (capped) allCand.filter(col("capped_ok")).select("a", "b")
      else allCand.select("a", "b")
    def score(config: String, cand: DataFrame): DataFrame = {
      // truth IS the jaccard≥0.4 subset of the probe pairs, already
      // materialized — confirmed = candidates ∩ truth, no re-join of the
      // corpus-sized shingle frames (the oracle does the same)
      val confirmed = cand.join(truth, Seq("a", "b"))
      val r6 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(confirmed.agg(count(lit(1)).as("n_confirmed")))
        .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
        .select(lit(config).as("config"),
          col("n_candidates"), col("n_confirmed"), col("n_truth"),
          when(col("n_candidates") === 0, 0.0)
            .otherwise(r6(col("n_confirmed").cast("double") / col("n_candidates")))
            .as("prec"),
          when(col("n_truth") === 0, 0.0)
            .otherwise(r6(col("n_confirmed").cast("double") / col("n_truth")))
            .as("recall"))
    }
    val out = score("capped", candidates(capped = true))
      .unionByName(score("uncapped", candidates(capped = false)))
      .orderBy("config")
      .localCheckpoint()
    sh.unpersist(blocking = false)
    Seq(truth, allCand).foreach(graft.Fixpoint.release)
    out
  }

  /** Work probe for [[dedupEval]]'s exact truth join: the number of
    * (probe-shingle, corpus-shingle) match rows its inverted-index join
    * enumerates — Σ over shingles of cnt_probe·cnt_all. This is the
    * eval's intrinsic cost and it grows with the SQUARE of shingle
    * document frequency, so on a dup-heavy corpus it is superlinear in
    * the corpus (measured 45× for 10× docs at sf0.01→sf0.1, truth
    * itself only ~7×). Measured alternatives, both REJECTED on this
    * corpus (round 10): prefix filtering (Bayardo et al., WWW'07 —
    * join only each doc's rarest (1-t)·n+1 shingles, exact) halves the
    * enumeration constant but its candidate-pair set degrades 247× for
    * 10× docs (565 → 139,691: rare-shingle df's grow with the corpus,
    * collapsing the filter's selectivity) AND forces a per-candidate
    * exact re-verify that costs more than the direct count; exact
    * set-similarity enumeration is Ω(prefix-sharing pairs) in the
    * published frontier, which this corpus makes ~quadratic. The round-11
    * fix: the probe set is now a constant COUNT ([[probeModulus]] —
    * modulus grows with the corpus so |probe| ≈ 64 at any scale), which
    * turns the enumeration's growth from Σ df² (fraction-sized probes)
    * to ~Σ df (each probe doc's fan-out is its shingles' corpus df) —
    * near-linear on a stable dup rate. ScalePatternsSpec pins the
    * re-measured law so a corpus change that worsens it is caught, not
    * discovered in a sweep. */
  def truthJoinWork(docs: DataFrame): Long = {
    val m = probeModulus(docs.count()) // fresh, like dedupEval's
    val sh = shinglesOf(docs)
    sh.groupBy("sh")
      .agg(sum(when(pmod(col("doc_id"), lit(m)) === 0, 1L).otherwise(0L))
        .as("cp"), count(lit(1)).as("ca"))
      .agg(coalesce(sum(col("cp") * col("ca")), lit(0L)))
      .head().getLong(0)
  }

  /** Dropped-mass audit for the capped banded join: one row per band
    * bucket with its membership and whether [[minHashNearDupPairs]]'s cap
    * excluded it — the "log the dropped mass" side channel, as a frame a
    * pipeline can sink next to its pairs output. */
  def minHashBucketAudit(docs: DataFrame,
      bucketCap: Int = BandBucketCap): DataFrame =
    bandSignatures(shinglesOf(docs))
      .groupBy("band", "m0", "m1").agg(count(lit(1)).as("bsz"))
      .withColumn("dropped", col("bsz") > bucketCap)

  def l02(spark: SparkSession, dir: String): DataFrame =
    minHashNearDupPairs(Tables.documents(spark, dir))

  /** Brute-force cosine top-k vs a probe vector — the exact baseline; the
    * LSH-bucketed scale path for all-pairs is l02's shape applied to
    * random-hyperplane signatures. Probe is a 1-row broadcast, so this is
    * a map-only scan at any corpus size. */
  def l03(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("p"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("dot", expr("vec_dot(embedding, p)"))
      .withColumn("na", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("nb", expr("sqrt(vec_dot(p, p))"))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
      .select("vec_id", "label", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  /** l03b: approximate nearest neighbors — the scale path for l03.
    * Random-hyperplane LSH: 4 deterministic ±1 hyperplanes bucket vectors
    * by the sign pattern of their projections (16 buckets); the probe only
    * scores vectors in its own bucket and the 4 at Hamming distance 1
    * (multi-probe), then exact cosine ranks them. At 100 TB this turns a full-corpus
    * scan per probe into one bucket's worth of exact work; recall/latency
    * trades via plane count and multi-probe. Hyperplanes are literal
    * constants (seeded), so the DuckDB oracle replays bit-for-bit.
    */
  /** The first `n` deterministic ±1 hyperplanes from the fixed seed.
    * PREFIX property: the seeded sequence is consumed in order, so
    * hyperplanes(m) is a prefix of hyperplanes(n) for m ≤ n — scaling the
    * plane count up never changes the oracled 4-plane constants. */
  def hyperplanes(n: Int): Seq[Seq[Int]] = {
    val rnd = new scala.util.Random(42)
    Seq.fill(n)(Seq.fill(64)(if (rnd.nextBoolean()) 1 else -1))
  }

  val Hyperplanes: Seq[Seq[Int]] = hyperplanes(4)

  /** Callers must VecMath.register(spark) first. ±1 weights are exact in
    * FLOAT, and vec_dot folds left-to-right in DOUBLE — bit-identical to
    * the aggregate(zip_with(..)) fold this replaces, but codegen'd (HOFs
    * are CodegenFallback: an interpreted lambda per element). */
  def sigExprSpark(vcol: String): String = sigExprSpark(vcol, Hyperplanes)

  /** Parameterized signature over an arbitrary plane set — the scale
    * path: Dedup.scaledPlanes derives the count from corpus size so
    * bucket population stays ~targetBucket as the corpus grows. */
  def sigExprSpark(vcol: String, planes: Seq[Seq[Int]]): String =
    planes.zipWithIndex.map { case (h, j) =>
      val arr = h.mkString("array(", "D, ", "D)")
      s"CAST(vec_dot($vcol, CAST($arr AS ARRAY<FLOAT>)) >= 0 AS INT) * ${1L << j}L"
    }.mkString(" + ")

  /** DuckDB image of sigExprSpark — same literal hyperplanes. */
  def sigExprDuck(vcol: String): String =
    Hyperplanes.zipWithIndex.map { case (h, j) =>
      val arr = h.mkString("[", ", ", "]")
      s"CAST(list_sum(list_transform(range(1, 65), i -> CAST($vcol[i] AS DOUBLE) * ($arr)[i])) >= 0 AS INT) * ${1 << j}"
    }.mkString(" + ")

  /** Library path for l03b: top-k by exact cosine over the multi-probe
    * LSH candidate set — buckets within Hamming `radius` of the probe's
    * signature. The radius is THE recall/latency dial: radius r scans
    * Σ_{i≤r} C(planes, i) / 2^planes of the corpus; AnnSpec sweeps it
    * against the exact scan at all three SFs and pins recall
    * monotonicity. Probe row = vec_id 0. */
  def annSearch(emb0: DataFrame, k: Int = 10, radius: Int = 1,
      planes: Seq[Seq[Int]] = Hyperplanes): DataFrame = {
    graft.functions.VecMath.register(emb0.sparkSession)
    val emb = emb0.withColumn("sig", expr(sigExprSpark("embedding", planes)))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("p"), col("sig").as("psig"))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(probe), expr(s"bit_count(sig ^ psig) <= $radius"))
      .withColumn("dot", expr("vec_dot(embedding, p)"))
      .withColumn("na", expr("sqrt(vec_dot(embedding, embedding))"))
      .withColumn("nb", expr("sqrt(vec_dot(p, p))"))
      .withColumn("cosine", round(col("dot") / (col("na") * col("nb")), 6))
      .select("vec_id", "label", "cosine")
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(k)
  }

  def l03b(spark: SparkSession, dir: String): DataFrame =
    // multi-probe: own bucket + the 4 at Hamming distance 1 (5/16 of
    // the space scanned; recall/latency dial = plane count + radius)
    annSearch(Tables.embeddings(spark, dir))

  /** l49: FILTERED vector search, pre-filter route — ANN restricted to a
    * metadata predicate (label ≡ 0 mod 3 here). The classic trap is
    * POST-filtering: take the unfiltered top-k, then filter — with a
    * selective predicate most of the k dies and recall collapses. The
    * pre-filter route applies the predicate BEFORE bucketing/probing,
    * so the candidate set is drawn entirely from the allowed subset and
    * k survivors are guaranteed if they exist. Costs nothing extra at
    * scale: the predicate prunes the scan (it reaches the parquet
    * reader), and the LSH probe machinery is annSearch unchanged. */
  def l49(spark: SparkSession, dir: String): DataFrame =
    annSearch(Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0 || pmod(col("label"), lit(3)) === 0))

  /** Diagnostic for AnnSpec: how many vectors the multi-probe touches. */
  def annProbedCount(emb0: DataFrame, radius: Int = 1,
      planes: Seq[Seq[Int]] = Hyperplanes): Long = {
    graft.functions.VecMath.register(emb0.sparkSession)
    val emb = emb0.withColumn("sig", expr(sigExprSpark("embedding", planes)))
    val probe = emb.filter(col("vec_id") === 0)
      .select(col("sig").as("psig"))
    emb.filter(col("vec_id") =!= 0)
      .join(broadcast(probe), expr(s"bit_count(sig ^ psig) <= $radius"))
      .count()
  }

  /** l55: ANN RECALL EVALUATION — the harness that makes the l03b/l03c/l44
    * shortcuts trustworthy. At 100 TB nobody can eyeball whether the LSH
    * route is losing neighbors; the production answer is to hold out a
    * deterministic PROBE SAMPLE (vec_id ≡ 0 mod 97, ~1%), compute exact
    * ground truth for just that sample, and report recall@k per probe
    * radius. With 4 hyperplanes the Hamming radius saturates at 4, so the
    * radius-4 slice of the SAME candidate frame IS the exact ground truth —
    * one frame, one window, no separate brute-force pass to keep in sync.
    *
    * Scale shape: signatures are map-side; the probe table is
    * sample-sized and BROADCAST; the candidate frame is (corpus ×
    * probes) — the eval's intrinsic ground-truth cost, bounded by the
    * probe rate, never corpus×corpus; the only shuffle is the one
    * (radius, probe) top-k window. Ranking is on the floor-rounded
    * cosine with vec_id tie-break, so the top-10 SETS are identical
    * across engines and recall is integer-exact.
    *
    * Output per radius: probes evaluated, candidate pairs scanned (the
    * cost axis), exact-top-10 hits (the quality axis), recall. */
  def annRecallEval(emb0: DataFrame, k: Int = 10,
      probeMod: Int = 97): DataFrame = {
    val spark = emb0.sparkSession
    graft.functions.VecMath.register(spark)
    import spark.implicits._
    val maxRadius = Hyperplanes.size // saturating radius = exact scan
    val emb = emb0.withColumn("sig", expr(sigExprSpark("embedding")))
    val probes = emb.filter(pmod(col("vec_id"), lit(probeMod)) === 0)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"),
        col("sig").as("psig"))
    val cand = emb
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("d", expr("bit_count(sig ^ psig)"))
      .withColumn("cosine", r6(expr("vec_dot(embedding, p)")
        / (sqrt(expr("vec_dot(embedding, embedding)"))
          * sqrt(expr("vec_dot(p, p)")))))
      .select("probe_id", "vec_id", "d", "cosine")
    val radii = Seq(0, 1, 2, maxRadius).toDF("radius")
    val byRadius = cand.join(broadcast(radii), col("d") <= col("radius"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("radius", "probe_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    val top = byRadius
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select("radius", "probe_id", "vec_id")
      .localCheckpoint() // radius-4 slice re-read as ground truth below
    val exact = top.filter(col("radius") === maxRadius)
      .select(col("probe_id").as("ep"), col("vec_id").as("ev"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    val hits = top
      .join(exact, col("probe_id") === col("ep") && col("vec_id") === col("ev"),
        "left_semi")
      .groupBy("radius").agg(count(lit(1)).as("n_hits"))
    byRadius.groupBy("radius")
      .agg(countDistinct("probe_id").as("n_probes"),
        count(lit(1)).as("n_scanned"))
      .join(hits, Seq("radius"))
      .crossJoin(broadcast(nExact)) // 1-row denominator, stays lazy
      .withColumn("recall", r6(col("n_hits") / col("n_exact")))
      .select(col("radius").cast("long").as("radius"), col("n_probes"),
        col("n_scanned"), col("n_hits"), col("recall"))
      .orderBy("radius")
  }

  def l55(spark: SparkSession, dir: String): DataFrame =
    annRecallEval(Tables.embeddings(spark, dir))

  def l04(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(col("text")), " "))
      .select(
        col("doc_id"), col("lang"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_calc"),
        (floor(expr("aggregate(toks, CAST(0.0 AS DOUBLE), (acc, t) -> acc + length(t)) / size(toks)") * 1000000.0 + 0.5) / 1000000.0).as("avg_wlen"),
        size(array_distinct(col("toks"))).cast("long").as("n_uniq"))
      .orderBy("doc_id")

  /** Multimodal struct column: text + embedding + metadata bundled, then a
    * flattened projection (the oracle sees only flat columns). */
  def l05(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .join(Tables.embeddings(spark, dir), col("doc_id") === col("vec_id"))
      .withColumn("bundle", struct(
        struct(col("text"), col("lang"), col("source")).as("doc"),
        col("embedding").as("vec"),
        struct(col("n_chars"), col("label")).as("meta")))
      .select(
        col("doc_id"),
        col("bundle.doc.lang").as("lang"),
        size(col("bundle.vec")).cast("long").as("dim"),
        col("bundle.meta.label").as("label"),
        length(col("bundle.doc.text")).cast("long").as("text_len"))
      .orderBy("doc_id")

  /** Integer micro-unit image of l07's quality composite — the total-order
    * ranking key quality-aware passes (l53) sort by. Same term order as
    * l07 so the double expression is bit-identical cross-engine before
    * the single floor. */
  private[graft] def qualityU(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("toks")).cast("double"))
      .withColumn("stop_raw",
        expr(s"size(filter(toks, t -> ${stopHits(enStops)}))") / col("n_tok"))
      .withColumn("uniq_raw", size(array_distinct(col("toks"))) / col("n_tok"))
      .withColumn("len_raw", least(col("n_tok") / 100.0, lit(1.0)))
      .select(col("doc_id"),
        floor((lit(0.4) * col("uniq_raw") + lit(0.3) * col("len_raw")
          + lit(0.3) * least(col("stop_raw") * 5.0, lit(1.0)))
          * lit(1000000.0) + lit(0.5)).cast("long").as("quality_u"))

  private val enStops = Seq("the", "and", "of", "to", "a", "in", "is", "for")
  private val esStops = Seq("el", "la", "de", "que", "y", "en", "un", "por")
  private val deStops = Seq("der", "die", "und", "das", "ist", "von", "mit", "ein")

  private def stopHits(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("t IN (", ", ", ")")

  /** The qualityU composite as DuckDB SQL (a CTE body over `documents`).
    * The stopword IN-list is interpolated from the SAME `enStops` the
    * Spark expression uses — one source of truth, so an edit to the list
    * can never silently diverge the oracle from the engine (the l53
    * keep-best contract depends on this composite being engine-exact). */
  private[graft] val qualityUSql: String =
    s"""SELECT doc_id,
       |  CAST(floor((0.4 * (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE))
       |     + 0.3 * least(len(toks) / 100.0, 1.0)
       |     + 0.3 * least(len(list_filter(toks, t -> ${stopHits(enStops)}))
       |                   / CAST(len(toks) AS DOUBLE) * 5.0, 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS quality_u
       |FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) tq""".stripMargin

  /** Language-ID heuristic: stopword voting (n-gram profile stand-in that
    * stays oracle-able). */
  def l06(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("s_en", expr(s"size(filter(toks, t -> ${stopHits(enStops)}))").cast("long"))
      .withColumn("s_es", expr(s"size(filter(toks, t -> ${stopHits(esStops)}))").cast("long"))
      .withColumn("s_de", expr(s"size(filter(toks, t -> ${stopHits(deStops)}))").cast("long"))
      .withColumn("pred_lang",
        when(col("s_en") >= col("s_es") && col("s_en") >= col("s_de"), "en")
          .when(col("s_es") >= col("s_de"), "es")
          .otherwise("de"))
      .select("doc_id", "lang", "s_en", "s_es", "s_de", "pred_lang")
      .orderBy("doc_id")

  /** Quality scoring: length/stopword/uniqueness ratios → one score. */
  def l07(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("toks")).cast("double"))
      // raw (unrounded) ratios feed the composite: rounding first would
      // park the weighted sum exactly on .5 ulp boundaries where Spark
      // (HALF_UP) and DuckDB disagree
      .withColumn("stop_raw",
        expr(s"size(filter(toks, t -> ${stopHits(enStops)}))") / col("n_tok"))
      .withColumn("uniq_raw", size(array_distinct(col("toks"))) / col("n_tok"))
      .withColumn("len_raw", least(col("n_tok") / 100.0, lit(1.0)))
      .select(
        col("doc_id"),
        r6(col("stop_raw")).as("stop_ratio"),
        r6(col("uniq_raw")).as("uniq_ratio"),
        r6(col("len_raw")).as("len_score"),
        r6(lit(0.4) * col("uniq_raw") + lit(0.3) * col("len_raw")
          + lit(0.3) * least(col("stop_raw") * 5.0, lit(1.0))).as("quality"))
      .orderBy("doc_id")

  /** l60: CROSS-SOURCE QUALITY CALIBRATION — each document's quality
    * mapped to its percentile WITHIN ITS OWN SOURCE, plus the calibrated
    * top-75% keep gate. The cross-corpus gating problem an absolute
    * threshold (l18) gets wrong: raw score distributions drift per
    * source (a crawl slice scores systematically lower than curated
    * text), so one absolute cut keeps 95% of one source and 20% of
    * another. Percentile-calibrating per source makes the gate keep the
    * same fraction everywhere — mix ratios survive the gate.
    *
    * Scale shape: a22's collapsed-histogram trick. Percentile needs the
    * per-source score distribution, not a per-document rank: collapse to
    * a (source, quality_u) count table (bounded by source × quantized
    * score domain, never corpus-sized), run the strictly-below
    * cumulative window on THAT frame, then one equi join back on
    * (source, quality_u) — broadcastable at any corpus size. Never a
    * per-source global-rank window over the documents themselves.
    * Percentile = rows-strictly-below · 1e6 ÷ n in BIGINT (exact). */
  def l60(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "text")
    val dq = qualityU(docs)
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    val hist = dq.groupBy("source", "quality_u").agg(count(lit(1)).as("cnt"))
    val wBelow = Window.partitionBy("source").orderBy("quality_u")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cal = hist
      .withColumn("below", coalesce(sum("cnt").over(wBelow), lit(0L)))
      .withColumn("n_src", sum("cnt").over(Window.partitionBy("source")))
      .withColumn("pct_micro", expr("below * 1000000 div n_src"))
      .select("source", "quality_u", "pct_micro")
    dq.join(broadcast(cal), Seq("source", "quality_u"))
      .withColumn("keep", (col("pct_micro") >= 250000L).cast("int"))
      .select("doc_id", "source", "quality_u", "pct_micro", "keep")
      .orderBy("doc_id")
  }

  /** Token counting: whitespace vs a BPE-ish regex segmentation. */
  def l08(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("long").as("bpeish_tokens"),
        (length(col("text")) / lit(4)).cast("long").as("len4_estimate"))
      .orderBy("doc_id")

  /** Document fingerprinting: order-independent 64-bit sketches over the
    * token multiset (min-hash + xor-fold + unique count). */
  def l09(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    // spread (§2.5): the per-TOKEN md5 below is the heavy stage and ran
    // on the single-split documents scan (measured ~1 s serial); the
    // explode preserves the pinned partitioning and the doc_id groupBy
    // reuses it — no second exchange. At-scale no-op.
    Tables.spread(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("t"))
      .withColumn("hv", expr("md5_hi60(t)"))
      .groupBy("doc_id")
      .agg(
        min("hv").as("minhash"),
        expr("bit_xor(DISTINCT hv)").as("xor_fingerprint"),
        countDistinct(col("t")).as("n_uniq_tokens"))
      .orderBy("doc_id")
  }

  /** l10: deterministic seeded global shuffle — the pre-training
    * permutation. Order key = md5(seed || doc_id): uniform, reproducible,
    * engine-portable. At 100 TB this is a total sort by a uniform key —
    * range partitioning balances output files regardless of input order
    * or skew, unlike rand() (non-reproducible) or monotonically_increasing
    * _id (preserves input clustering). */
  def l10(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("shuffle_key",
        md5(concat(lit("42:"), col("doc_id").cast("string"))))
      .select("shuffle_key", "doc_id", "lang", "n_chars")
      .orderBy("shuffle_key", "doc_id")

  /** l47: shard-manifest export integrity — the bookkeeping every
    * training-data export needs: documents deterministically sharded
    * (hash of doc_id, l11's discipline), and per shard a manifest row of
    * counts, token/byte volume, id range, and an ORDER-INDEPENDENT
    * content fingerprint (XOR of per-doc 60-bit content hashes — any
    * dropped/duplicated/corrupted doc flips it). Writer and reader can
    * each compute the manifest independently and diff — the cross-system
    * handoff check (trainer vs curator). ONE map-side-combinable
    * aggregate: every stat here merges associatively+commutatively, so
    * the shuffle carries 8 partial rows per partition at any scale. */
  def l47(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        expr("md5_hi60(concat('shard:', CAST(doc_id AS STRING))) % 8").as("shard"),
        expr("md5_hi60(text)").as("h"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), "\\s+")).cast("bigint")).as("total_ws_tokens"),
        sum(octet_length(col("text")).cast("bigint")).as("total_bytes"),
        expr("bit_xor(h)").as("content_xor"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .orderBy("shard")
  }

  /** l11: hash-based train/val/test split (80/10/10). Assignment is a pure
    * function of the example id, so it is stable under re-runs,
    * repartitioning, and incremental appends — the property random splits
    * lack. Map-only: no shuffle before the deterministic ORDER BY. */
  def l11(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(
        "md5_hi60(concat('split:', CAST(doc_id AS STRING))) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "bucket", "split")
      .orderBy("doc_id")
  }

  /** l36: leakage-safe split assignment — the train/test-contamination
    * guard l11 lacks: two IDENTICAL documents must never land in
    * different splits (The Pile / C4 postmortem lesson: eval leakage via
    * duplicates). Every document is keyed by its content hash, the
    * cluster representative is the min doc_id of that hash group, and
    * the split bucket is derived from the REPRESENTATIVE — so the whole
    * duplicate cluster moves as one unit. Shape at 100 TB: one hash-key
    * shuffle for the representative aggregate, one equi join back on the
    * same key (exchange reuse), map-side bucket derivation. For NEAR-dup
    * safety, feed l21's connected-component root in place of the md5
    * group (same dataflow; the exact-hash variant is what the SQL oracle
    * can express). */
  /** Library path for l36 over any (doc_id, text) frame. The cluster
    * representative is a window MIN over the hash partition — ONE scan
    * and ONE exchange (a groupBy+join-back would scan the corpus twice
    * and add a second exchange plus the join; capBuckets learned the
    * same lesson). */
  def leakageSafeSplit(docs: DataFrame): DataFrame = {
    graft.functions.Md5Hi60.register(docs.sparkSession)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("h")
    docs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .withColumn("rep", min("doc_id").over(w))
      .withColumn("bucket", expr(
        "md5_hi60(concat('split:', CAST(rep AS STRING))) % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .select("doc_id", "rep", "bucket", "split")
      .orderBy("doc_id")
  }

  def l36(spark: SparkSession, dir: String): DataFrame =
    leakageSafeSplit(Tables.documents(spark, dir))

  /** l12: redaction pass — scrub numeric tokens and email-shaped spans
    * (the PII-scrub shape: the real pipeline swaps in its own pattern
    * set). Patterns stay in the POSIX-compatible subset so Java regex
    * (Spark) and RE2 (DuckDB) agree. Map-only at any scale. */
  def l12(spark: SparkSession, dir: String): DataFrame = {
    val numRe = "[0-9]+"
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
    // spread (§2.5): three regex passes per document are the heavy
    // stage, and the final order-by's bounds sampler evaluates the
    // projection twice — both passes ran on the single-split scan
    // (f03's shape; measured ~1 s serial). At-scale no-op.
    Tables.spread(Tables.documents(spark, dir), "doc_id")
      .select(
        col("doc_id"),
        regexp_count(col("text"), lit(numRe)).cast("long").as("n_numbers"),
        regexp_count(col("text"), lit(emailRe)).cast("long").as("n_emails"),
        length(regexp_replace(regexp_replace(col("text"), emailRe, "<EMAIL>"),
          numRe, "<NUM>")).cast("long").as("redacted_len"))
      .orderBy("doc_id")
  }

  /** l13: repetition detection — max word-3-shingle multiplicity over
    * total shingles (boilerplate/looping-generation signal; a standard
    * pre-training quality filter next to l07's ratios). */
  def l13(spark: SparkSession, dir: String): DataFrame =
    // spread (§2.5): the 3-shingle transform + concat per word is the
    // heavy stage (shingles are near-unique, so the (doc_id, sh) partial
    // agg does NOT collapse map-side — this is the l02d class, not the
    // l18/l20 class); both doc_id aggregates reuse the pinned exchange.
    Tables.spread(Tables.documents(spark, dir), "doc_id")
      .select(col("doc_id"), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w)-2), i -> concat_ws(' ', element_at(w,i), element_at(w,i+1), element_at(w,i+2)))"))
        .as("sh"))
      .groupBy("doc_id", "sh").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("max_rep"), sum(col("c")).as("n_shingles"))
      .select(col("doc_id"), col("max_rep"), col("n_shingles"),
        r6(col("max_rep") / col("n_shingles")).as("rep_ratio"))
      .orderBy("doc_id")

  /** l25: incremental dedup — a new ingest batch (doc_id % 10 == 0, ~10%)
    * checked against the historical corpus (the other 90%), the shape a
    * continuously-fed training pipeline runs daily: never re-deduplicate
    * the corpus, only probe the day's batch against a persisted index.
    *
    * Two index probes: (1) exact — md5 equality against the historical
    * hash index; (2) near — the same K=8/4-band MinHash scheme as l02,
    * new-batch band signatures joined against the historical band index,
    * survivors verified by exact shingle-set Jaccard >= 0.4. Verdict per
    * new doc: exact_dup beats near_dup beats unique; dup_of is the
    * smallest matching historical id.
    *
    * Scale posture: both indexes are groupBy/agg artifacts of the
    * historical corpus — in production they are computed once and
    * persisted (bucketed by hash / by (band, m0, m1)), so a daily run
    * scans only the batch. The batch side is broadcast into the candidate
    * join (a day's batch fits in memory even when the corpus is 100 TB),
    * making both probes map-side against the index — no corpus shuffle
    * per ingest. Here both sides derive in-plan from the same table, which
    * keeps the query self-contained and oracle-able. */
  def l25(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val newMark = col("doc_id") % 10 === 0
    val exactIdx = docs.filter(!newMark)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("hist_id"))
    val newExact = docs.filter(newMark)
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(exactIdx, Seq("h"), "left")
      .select(col("doc_id"), col("hist_id").as("exact_of"))
    val sh = shingles(spark, dir).cache() // scoped: released before return
    val bands = bandSignatures(sh)
    val histBands = bands.filter(!(col("doc_id") % 10 === 0))
    val newBands = bands.filter(col("doc_id") % 10 === 0)
    val cand = histBands.as("y")
      .join(broadcast(newBands.as("x")),
        col("x.band") === col("y.band") && col("x.m0") === col("y.m0")
          && col("x.m1") === col("y.m1"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col("doc_id").as("a"), col("sh").as("sha")), "a")
      .join(sh.select(col("doc_id").as("b2"), col("sh").as("shb")),
        col("b") === col("b2") && col("sha") === col("shb"))
      .groupBy("a", "b").agg(count(lit(1)).as("c"))
    val near = common
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), "b")
      .filter(round(col("c") / (col("na") + col("nb") - col("c")), 6) >= 0.4)
      .groupBy("a").agg(min(col("b")).as("near_of"))
    val out = newExact
      .join(near, col("doc_id") === col("a"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, "exact_dup")
          .when(col("near_of").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"))
      .orderBy("doc_id")
      .localCheckpoint()
    sh.unpersist(blocking = false)
    out
  }

  /** l54: MinHash band-INDEX MAINTENANCE — the persisted-index image of
    * l25's daily-ingest story. l25 recomputes the historical band
    * signatures every run; at 100 TB the historical index is a STORED
    * bucketed table ([[bandIndexOf]]) and the daily unit of work is this
    * query: sign the delta (map-only), roll it up per bucket, and LEFT
    * JOIN the historical per-bucket stats — output one row per bucket
    * the delta TOUCHES (n_new / n_hist / n_total + min doc ids), i.e.
    * the index-merge upsert set and the flood telemetry (a bucket whose
    * n_total crosses BandBucketCap is a boilerplate cluster the capped
    * candidate join will skip). Both rollups are map-side-combinable
    * counts on the bucket key; the join is delta-bucket-sized; nothing
    * is corpus-sized after the two signature scans. */
  def l54(spark: SparkSession, dir: String): DataFrame = {
    val bands = bandSignatures(shingles(spark, dir))
    val newMark = col("doc_id") % 10 === 0
    val hist = bands.filter(!newMark).groupBy("band", "m0", "m1")
      .agg(count(lit(1)).as("n_hist"), min("doc_id").as("min_hist_doc"))
    val delta = bands.filter(newMark).groupBy("band", "m0", "m1")
      .agg(count(lit(1)).as("n_new"), min("doc_id").as("min_new_doc"))
    delta.join(hist, Seq("band", "m0", "m1"), "left")
      .select(col("band"), col("m0"), col("m1"),
        col("n_new"), col("min_new_doc"),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"), col("min_hist_doc"),
        (col("n_new") + coalesce(col("n_hist"), lit(0L))).as("n_total"))
      .orderBy("band", "m0", "m1")
  }

  /** l52: HARD-NEGATIVE MINING for contrastive training — per anchor,
    * the top-3 most-cosine-similar vectors carrying a DIFFERENT label
    * (the "looks alike, isn't" examples that make embedding models
    * learn boundaries; the batch-mining pass behind DPR/SimCSE-style
    * pipelines). Plan: anchors are a deterministic sparse slice
    * (vec_id % 500) and BROADCAST; per-row norms are computed ONCE on
    * each side before the pair expansion (not per pair); the only
    * shuffle is the per-anchor top-k window over |anchors|·|corpus|
    * scored rows. At 100 TB the anchor set is the small side by
    * construction, so this is one corpus scan per mining batch — and
    * the exact scorer drops in behind l03b's LSH prefilter when the
    * corpus outgrows a full scan. */
  def l52(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VecMath.register(spark)
    val emb = Tables.embeddings(spark, dir)
      .withColumn("na", expr("sqrt(vec_dot(embedding, embedding))"))
    val anchors = emb.filter(pmod(col("vec_id"), lit(500)) === 0)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        col("embedding").as("p"), col("na").as("nb"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("anchor_id")
      .orderBy(col("cosine").desc, col("vec_id"))
    emb.crossJoin(broadcast(anchors))
      .filter(col("label") =!= col("anchor_label"))
      // the repo-standard r6 floor rounding (l07/l51/t23, and AnnSpec's
      // brute-force replay) — round(_, 6) is HALF_UP on BigDecimal and
      // disagrees with it on negative-cosine half-boundaries, which
      // would make operator/oracle/spec three subtly different surfaces
      .withColumn("cosine",
        r6(expr("vec_dot(embedding, p)") / (col("na") * col("nb"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("anchor_id"), col("anchor_label"),
        col("rk").cast("long").as("rk"), col("vec_id").as("negative_id"),
        col("label").as("negative_label"), col("cosine"))
      .orderBy("anchor_id", "rk")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l01_dedup_exact" -> l01,
    "l02_dedup_near" -> l02,
    "l56_dedup_eval" -> l56,
    "l52_hard_negatives" -> l52,
    "l03_sim_topk" -> l03,
    "l03b_sim_ann" -> l03b,
    "l55_ann_recall" -> l55,
    "l49_filtered_ann" -> l49,
    "l04_text_stats" -> l04,
    "l05_multimodal_cols" -> l05,
    "l06_langid" -> l06,
    "l07_quality_score" -> l07,
    "l60_quality_calibrate" -> l60,
    "l08_token_count" -> l08,
    "l09_fingerprint" -> l09,
    "l10_seeded_shuffle" -> l10,
    "l11_split_assign" -> l11,
    "l47_export_manifest" -> l47,
    "l12_redact" -> l12,
    "l13_repetition" -> l13,
    "l25_dedup_incremental" -> l25,
    "l54_minhash_index" -> l54,
    "l36_leakage_split" -> l36)


  /** Oracle for l03b, generated from the same literal hyperplanes. */
  // l49: l03b's oracle with the pre-filter predicate applied to the
  // candidate universe (probe row exempt) — same buckets, same ranking
  private def l49Oracle: String =
    l03bOracle.replace(
      "FROM embeddings),",
      "FROM embeddings WHERE vec_id = 0 OR label % 3 = 0),")

  /** Oracle for l55: the full recall-eval replayed in DuckDB — same
    * literal hyperplanes, same floor-rounded cosine, same radius sweep;
    * radius 4 is the saturating (exact) slice in both engines, so the
    * recall denominator needs no separate brute-force restatement. */
  private def l55Oracle: String = {
    val sig = sigExprDuck("embedding")
    // dim and radius sweep DERIVED, not hardcoded: out-of-range list
    // indexing in DuckDB yields NULLs that list_sum silently skips, so a
    // literal 65 would truncate the dot product without failing if the
    // fixture dimension ever changed; same for the saturating radius
    val dot = "list_sum(list_transform(range(1, len(e.embedding) + 1), i -> CAST(e.embedding[i] AS DOUBLE) * CAST(pr.pe[i] AS DOUBLE)))"
    val na = "sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    val nb = "sqrt(list_sum(list_transform(pr.pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
       |pr AS MATERIALIZED (SELECT vec_id AS probe_id, embedding AS pe, sig AS psig
       |  FROM e WHERE vec_id % 97 = 0),
       |cand AS MATERIALIZED (
       |  SELECT pr.probe_id, e.vec_id, bit_count(xor(e.sig, pr.psig)) AS d,
       |         floor($dot / ($na * $nb) * 1000000.0 + 0.5) / 1000000.0 AS cosine
       |  FROM e, pr WHERE e.vec_id <> pr.probe_id),
       |byr AS MATERIALIZED (
       |  SELECT r.radius, c.* FROM cand c
       |  JOIN (VALUES (0), (1), (2), (${Hyperplanes.size})) AS r(radius) ON c.d <= r.radius),
       |topk AS MATERIALIZED (
       |  SELECT radius, probe_id, vec_id FROM (
       |    SELECT radius, probe_id, vec_id,
       |           row_number() OVER (PARTITION BY radius, probe_id
       |                              ORDER BY cosine DESC, vec_id) AS rk
       |    FROM byr) t WHERE rk <= 10),
       |exact AS MATERIALIZED (SELECT probe_id, vec_id FROM topk WHERE radius = ${Hyperplanes.size}),
       |hits AS (
       |  SELECT radius, CAST(COUNT(*) AS BIGINT) AS n_hits FROM topk
       |  WHERE EXISTS (SELECT 1 FROM exact x
       |                WHERE x.probe_id = topk.probe_id AND x.vec_id = topk.vec_id)
       |  GROUP BY radius)
       |SELECT CAST(b.radius AS BIGINT) AS radius,
       |       CAST(COUNT(DISTINCT b.probe_id) AS BIGINT) AS n_probes,
       |       CAST(COUNT(*) AS BIGINT) AS n_scanned,
       |       h.n_hits,
       |       floor(CAST(h.n_hits AS DOUBLE)
       |             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM exact)
       |             * 1000000.0 + 0.5) / 1000000.0 AS recall
       |FROM byr b JOIN hits h ON b.radius = h.radius
       |GROUP BY b.radius, h.n_hits
       |ORDER BY radius""".stripMargin
  }

  private def l03bOracle: String = {
    val sig = sigExprDuck("embedding")
    s"""WITH e AS (SELECT vec_id, label, embedding, $sig AS sig FROM embeddings),
       |p AS (SELECT embedding AS pe, sig AS psig FROM e WHERE vec_id = 0)
       |SELECT vec_id, label,
       |       round(
       |         list_sum(list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)))
       |         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       |            * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
       |FROM e JOIN p ON bit_count(xor(e.sig, p.psig)) <= 1
       |WHERE vec_id <> 0
       |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin
  }

  /** DuckDB image of the MinHash band-signature derivation (hashed →
    * minsig → bands0) — ONE text for every band-family oracle (l02, l25,
    * l54, l56, l64), so the hashing scheme can never drift between them. */
  private[llm] val duckBandCtes: String =
    s"""hashed AS (
       |  SELECT doc_id, sh, hs.h,
       |         CAST(('0x' || substr(md5(hs.h || '|' || sh), 1, 15)) AS BIGINT) AS hv
       |  FROM sh CROSS JOIN (SELECT unnest(range(0, $NumHashes)) AS h) hs),
       |minsig AS (SELECT doc_id, h, MIN(hv) AS mh FROM hashed GROUP BY doc_id, h),
       |bands0 AS (
       |  SELECT doc_id, h // $RowsPerBand AS band,
       |         MIN(CASE WHEN h % $RowsPerBand = 0 THEN mh END) AS m0,
       |         MIN(CASE WHEN h % $RowsPerBand = 1 THEN mh END) AS m1
       |  FROM minsig GROUP BY doc_id, band)""".stripMargin

  private[llm] val duckShingles =
    """t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
      |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w)-1),
      |         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM t)""".stripMargin

  val oracles: Map[String, String] = Map(
    "l01_dedup_exact" ->
      """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "l02_dedup_near" ->
      s"""WITH $duckShingles,
         |$duckBandCtes,
         |bsz AS (SELECT band, m0, m1, COUNT(*) AS bsz FROM bands0 GROUP BY 1, 2, 3),
         |bands AS (
         |  SELECT b.doc_id, b.band, b.m0, b.m1
         |  FROM bands0 b JOIN bsz USING (band, m0, m1) WHERE bsz <= $BandBucketCap),
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands x JOIN bands y
         |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
         |   AND x.doc_id < y.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT c.a, c.b, COUNT(*) AS c
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a
         |              JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY c.a, c.b)
         |SELECT common.a, common.b,
         |       round(c / (na.n + nb.n - c), 6) AS jaccard
         |FROM common JOIN sizes na ON na.doc_id = common.a
         |            JOIN sizes nb ON nb.doc_id = common.b
         |WHERE round(c / (na.n + nb.n - c), 6) >= 0.4
         |ORDER BY a, b""".stripMargin,
    // l56: the l02 band restatement scored against the probe-side exact
    // truth — same shingles, same banded join (capped AND uncapped),
    // same round-6 jaccard gate; ratios floor-rounded. The probe modulus
    // mirrors Llm.probeModulus: greatest(1, n_docs // 64) — a constant
    // probe COUNT, not a fixed fraction (the round-10 scale flaw).
    "l56_dedup_eval" ->
      s"""WITH $duckShingles,
         |pm AS (SELECT greatest(1, count(*) // $ProbeTargetCount) AS m
         |       FROM documents),
         |$duckBandCtes,
         |bsz AS (SELECT band, m0, m1, COUNT(*) AS bsz FROM bands0 GROUP BY 1, 2, 3),
         |bands_c AS (
         |  SELECT b.doc_id, b.band, b.m0, b.m1
         |  FROM bands0 b JOIN bsz USING (band, m0, m1) WHERE bsz <= $BandBucketCap),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT least(p.doc_id, o.doc_id) AS a,
         |         greatest(p.doc_id, o.doc_id) AS b, COUNT(*) AS c
         |  FROM sh p JOIN sh o ON o.sh = p.sh
         |   AND p.doc_id % (SELECT m FROM pm) = 0 AND o.doc_id <> p.doc_id
         |   AND (o.doc_id % (SELECT m FROM pm) <> 0 OR p.doc_id < o.doc_id)
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT common.a, common.b,
         |         round(c / (na.n + nb.n - c), 6) AS jaccard
         |  FROM common JOIN sizes na ON na.doc_id = common.a
         |              JOIN sizes nb ON nb.doc_id = common.b),
         |truth AS (SELECT a, b FROM jac WHERE jaccard >= 0.4),
         |cand_c AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands_c x JOIN bands_c y
         |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
         |   AND x.doc_id < y.doc_id
         |  WHERE x.doc_id % (SELECT m FROM pm) = 0
         |     OR y.doc_id % (SELECT m FROM pm) = 0),
         |cand_u AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands0 x JOIN bands0 y
         |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
         |   AND x.doc_id < y.doc_id
         |  WHERE x.doc_id % (SELECT m FROM pm) = 0
         |     OR y.doc_id % (SELECT m FROM pm) = 0),
         |s AS (
         |  SELECT 'capped' AS config,
         |    (SELECT COUNT(*) FROM cand_c) AS n_candidates,
         |    (SELECT COUNT(*) FROM cand_c JOIN truth USING (a, b)) AS n_confirmed,
         |    (SELECT COUNT(*) FROM truth) AS n_truth
         |  UNION ALL
         |  SELECT 'uncapped',
         |    (SELECT COUNT(*) FROM cand_u),
         |    (SELECT COUNT(*) FROM cand_u JOIN truth USING (a, b)),
         |    (SELECT COUNT(*) FROM truth))
         |SELECT config, CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_confirmed AS BIGINT) AS n_confirmed,
         |       CAST(n_truth AS BIGINT) AS n_truth,
         |       CASE WHEN n_candidates = 0 THEN 0.0 ELSE
         |         floor(CAST(n_confirmed AS DOUBLE) / n_candidates * 1000000.0 + 0.5)
         |           / 1000000.0 END AS prec,
         |       CASE WHEN n_truth = 0 THEN 0.0 ELSE
         |         floor(CAST(n_confirmed AS DOUBLE) / n_truth * 1000000.0 + 0.5)
         |           / 1000000.0 END AS recall
         |FROM s ORDER BY config""".stripMargin,
    "l25_dedup_incremental" ->
      s"""WITH $duckShingles,
         |exact_idx AS (
         |  SELECT md5(text) AS h, MIN(doc_id) AS hist_id
         |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY md5(text)),
         |new_exact AS (
         |  SELECT n.doc_id, e.hist_id AS exact_of
         |  FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0) n
         |  LEFT JOIN exact_idx e ON n.h = e.h),
         |$duckBandCtes,
         |cand AS (
         |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
         |  FROM bands0 x JOIN bands0 y
         |    ON x.band = y.band AND x.m0 = y.m0 AND x.m1 = y.m1
         |   AND x.doc_id % 10 = 0 AND y.doc_id % 10 <> 0),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
         |common AS (
         |  SELECT c.a, c.b, COUNT(*) AS c
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a
         |              JOIN sh sb ON sb.doc_id = c.b AND sb.sh = sa.sh
         |  GROUP BY c.a, c.b),
         |near AS (
         |  SELECT common.a, MIN(common.b) AS near_of
         |  FROM common JOIN sizes na ON na.doc_id = common.a
         |              JOIN sizes nb ON nb.doc_id = common.b
         |  WHERE round(c / (na.n + nb.n - c), 6) >= 0.4
         |  GROUP BY common.a)
         |SELECT ne.doc_id,
         |       CASE WHEN ne.exact_of IS NOT NULL THEN 'exact_dup'
         |            WHEN near.near_of IS NOT NULL THEN 'near_dup'
         |            ELSE 'unique' END AS status,
         |       COALESCE(ne.exact_of, near.near_of) AS dup_of
         |FROM new_exact ne LEFT JOIN near ON near.a = ne.doc_id
         |ORDER BY ne.doc_id""".stripMargin,
    // l54: same minhash/band restatement as l02, rolled up per bucket on
    // each side of the delta split — no cap here (the INDEX stores every
    // bucket; the cap applies at candidate-join time)
    "l54_minhash_index" ->
      s"""WITH $duckShingles,
         |$duckBandCtes,
         |hist AS (SELECT band, m0, m1, COUNT(*) AS n_hist, MIN(doc_id) AS min_hist_doc
         |         FROM bands0 WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3),
         |newb AS (SELECT band, m0, m1, COUNT(*) AS n_new, MIN(doc_id) AS min_new_doc
         |         FROM bands0 WHERE doc_id % 10 = 0 GROUP BY 1, 2, 3)
         |SELECT n.band, n.m0, n.m1, n.n_new, n.min_new_doc,
         |       COALESCE(h.n_hist, 0) AS n_hist, h.min_hist_doc,
         |       n.n_new + COALESCE(h.n_hist, 0) AS n_total
         |FROM newb n LEFT JOIN hist h USING (band, m0, m1)
         |ORDER BY band, m0, m1""".stripMargin,
    "l47_export_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, text,
        |         CAST(('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 8 AS shard,
        |         CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS h
        |  FROM documents)
        |SELECT shard, COUNT(*) AS n_docs,
        |       CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT) AS total_ws_tokens,
        |       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
        |       bit_xor(h) AS content_xor,
        |       MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
        |FROM d GROUP BY shard ORDER BY shard""".stripMargin,
    "l10_seeded_shuffle" ->
      """SELECT md5('42:' || CAST(doc_id AS VARCHAR)) AS shuffle_key,
        |       doc_id, lang, n_chars
        |FROM documents ORDER BY shuffle_key, doc_id""".stripMargin,
    "l11_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id,
        |         CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 AS bucket
        |  FROM documents)
        |SELECT doc_id, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "l36_leakage_split" ->
      """WITH h AS (SELECT doc_id, md5(text) AS h FROM documents),
        |rep AS (SELECT h, MIN(doc_id) AS rep FROM h GROUP BY h),
        |b AS (SELECT doc_id, rep,
        |             CAST(('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)), 1, 15))
        |                  AS BIGINT) % 100 AS bucket
        |      FROM h JOIN rep USING (h))
        |SELECT doc_id, rep, bucket,
        |       CASE WHEN bucket < 80 THEN 'train'
        |            WHEN bucket < 90 THEN 'val'
        |            ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    "l12_redact" ->
      """SELECT doc_id,
        |       len(regexp_extract_all(text, '[0-9]+')) AS n_numbers,
        |       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+')) AS n_emails,
        |       length(regexp_replace(regexp_replace(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
        |         '[0-9]+', '<NUM>', 'g')) AS redacted_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l13_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(w)-1),
        |    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
        |  FROM t WHERE len(w) >= 3),
        |cnt AS (SELECT doc_id, sh, COUNT(*) AS c FROM sh GROUP BY doc_id, sh)
        |SELECT doc_id, MAX(c) AS max_rep, CAST(SUM(c) AS BIGINT) AS n_shingles,
        |       floor((MAX(c) / CAST(SUM(c) AS BIGINT)) * 1000000 + 0.5) / 1000000 AS rep_ratio
        |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "l03b_sim_ann" -> l03bOracle,
    "l55_ann_recall" -> l55Oracle,
    "l49_filtered_ann" -> l49Oracle,
    // l52: same scorer as l03 (per-element double products, sequential
    // sum), the repo-standard floor(x·1e6+0.5)/1e6 surface, ties broken
    // by vec_id
    "l52_hard_negatives" ->
      """WITH pr AS (
        |  SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS p
        |  FROM embeddings WHERE vec_id % 500 = 0),
        |c AS (
        |  SELECT anchor_id, anchor_label, vec_id, label,
        |         floor(
        |           list_sum(list_transform(range(1, len(embedding) + 1),
        |             i -> CAST(embedding[i] AS DOUBLE) * CAST(p[i] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |              * sqrt(list_sum(list_transform(p, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))
        |           * 1000000.0 + 0.5) / 1000000.0 AS cosine
        |  FROM embeddings CROSS JOIN pr
        |  WHERE label <> anchor_label),
        |r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id
        |        ORDER BY cosine DESC, vec_id) AS rk FROM c)
        |SELECT anchor_id, anchor_label, CAST(rk AS BIGINT) AS rk,
        |       vec_id AS negative_id, label AS negative_label, cosine
        |FROM r WHERE rk <= 3 ORDER BY anchor_id, rk""".stripMargin,
    "l03_sim_topk" ->
      """WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0)
        |SELECT vec_id, label,
        |       round(
        |         list_sum(list_transform(range(1, len(embedding) + 1),
        |           i -> CAST(embedding[i] AS DOUBLE) * CAST(pe[i] AS DOUBLE)))
        |         / (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |            * sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cosine
        |FROM embeddings CROSS JOIN p
        |WHERE vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin,
    "l04_text_stats" ->
      """SELECT doc_id, lang,
        |       CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens,
        |       CAST(length(text) AS BIGINT) AS n_chars_calc,
        |       floor(list_sum(list_transform(string_split(lower(text), ' '), t -> length(t)))
        |             / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS avg_wlen,
        |       CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT) AS n_uniq
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l05_multimodal_cols" ->
      """SELECT doc_id, lang, CAST(len(embedding) AS BIGINT) AS dim, label,
        |       CAST(length(text) AS BIGINT) AS text_len
        |FROM documents JOIN embeddings ON doc_id = vec_id
        |ORDER BY doc_id""".stripMargin,
    "l06_langid" ->
      """WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents),
        |s AS (SELECT doc_id, lang,
        |   CAST(len(list_filter(toks, t -> t IN ('the','and','of','to','a','in','is','for'))) AS BIGINT) AS s_en,
        |   CAST(len(list_filter(toks, t -> t IN ('el','la','de','que','y','en','un','por'))) AS BIGINT) AS s_es,
        |   CAST(len(list_filter(toks, t -> t IN ('der','die','und','das','ist','von','mit','ein'))) AS BIGINT) AS s_de
        | FROM t)
        |SELECT doc_id, lang, s_en, s_es, s_de,
        |       CASE WHEN s_en >= s_es AND s_en >= s_de THEN 'en'
        |            WHEN s_es >= s_de THEN 'es' ELSE 'de' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    // l60: the same qualityU CTE + the same collapsed-histogram window;
    // percentile and gate are BIGINT floor arithmetic in both engines
    "l60_quality_calibrate" ->
      s"""WITH q AS ($qualityUSql),
        |dq AS (SELECT d.doc_id, d.source, q.quality_u
        |       FROM documents d JOIN q USING (doc_id)),
        |h AS (SELECT source, quality_u, COUNT(*) AS cnt FROM dq GROUP BY 1, 2),
        |c AS (SELECT source, quality_u,
        |        CAST(COALESCE(SUM(cnt) OVER (PARTITION BY source
        |          ORDER BY quality_u
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS BIGINT) AS below,
        |        CAST(SUM(cnt) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |      FROM h)
        |SELECT dq.doc_id, dq.source, dq.quality_u,
        |       below * 1000000 // n_src AS pct_micro,
        |       CAST(below * 1000000 // n_src >= 250000 AS INT) AS keep
        |FROM dq JOIN c USING (source, quality_u)
        |ORDER BY dq.doc_id""".stripMargin,
    "l07_quality_score" ->
      s"""WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |r AS (SELECT doc_id,
        |   len(list_filter(toks, t -> ${stopHits(enStops)})) / CAST(len(toks) AS DOUBLE) AS stop_raw,
        |   len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE) AS uniq_raw,
        |   least(len(toks) / CAST(100.0 AS DOUBLE), 1.0) AS len_raw
        | FROM t)
        |SELECT doc_id, floor(stop_raw * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
        |       floor(uniq_raw * 1000000.0 + 0.5) / 1000000.0 AS uniq_ratio,
        |       floor(len_raw * 1000000.0 + 0.5) / 1000000.0 AS len_score,
        |       floor((0.4 * uniq_raw + 0.3 * len_raw + 0.3 * least(stop_raw * 5.0, 1.0)) * 1000000.0 + 0.5) / 1000000.0 AS quality
        |FROM r ORDER BY doc_id""".stripMargin,
    "l08_token_count" ->
      """SELECT doc_id,
        |       CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS ws_tokens,
        |       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens,
        |       length(text) // 4 AS len4_estimate
        |FROM documents ORDER BY doc_id""".stripMargin,
    "l09_fingerprint" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
        |h AS (SELECT doc_id, t,
        |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS hv FROM tok)
        |SELECT doc_id, MIN(hv) AS minhash,
        |       bit_xor(DISTINCT hv) AS xor_fingerprint,
        |       COUNT(DISTINCT t) AS n_uniq_tokens
        |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin)
}
