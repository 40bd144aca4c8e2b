package graft.llm

import graft.{QueryModule, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond the dedup/similarity family:
  * benchmark decontamination, sequence packing, stratified sampling and
  * epoch-weighted source mixing, rule-based quality gating (the Gopher-
  * style counterpart to l07's continuous score).
  *
  * Like the rest of the llm package everything is relational (no UDFs)
  * and engine-portable: hashing via md5-hex→bigint, ratios via the
  * floor(x*1e6+0.5)/1e6 half-up rounding both engines compute identically.
  *
  * Reference anchor: the reference's import pipeline treats each study
  * file as an opaque batch (src/lens/import_clinical_data.clj:300-327);
  * the corpus-hygiene operators here are the additional surface a
  * pre-training data pipeline needs on top of that batch model.
  */
object Pipeline extends QueryModule {

  private def r6(c: Column): Column = floor(c * 1000000.0 + 0.5) / 1000000.0

  /** Portable uniform bucket in [0, 100) from a seeded md5 of the id.
    * Callers must Md5Hi60.register(spark) first. */
  private def hashBucket(seed: String): Column = expr(
    s"md5_hi60(concat('$seed', CAST(doc_id AS STRING))) % 100")

  /** Distinct word-8-gram hashes per document. 8 words is the standard
    * contamination shingle (large enough that shared grams imply copied
    * text, small enough to catch partial overlap). Hashing to 60-bit
    * longs before the join keeps the shuffled/broadcast payload at 8
    * bytes per gram instead of the full gram text. */
  private def gram8(spark: SparkSession, dir: String): DataFrame =
    gramsBy(spark, dir, "doc_id")

  /** Distinct word-8-gram hashes per `key` (doc_id for the per-document
    * operators, source for the corpus-level overlap matrix). */
  private def gramsBy(spark: SparkSession, dir: String, key: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    // spread by doc_id (high-cardinality) even when keyed by source: the
    // gram hashing below is the expensive stage and must not run on the
    // one task a single-split fixture scan yields (Tables.spread doc)
    Tables.spread(Tables.documents(spark, dir)
        .select((Seq("doc_id", key).distinct :+ "text").map(col): _*), "doc_id")
      .select(col(key), split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 8) // sequence(1, size-7) turns descending below 8 words
      .select(col(key), explode(expr(
        "transform(sequence(1, size(w)-7), i -> concat_ws(' ', slice(w, i, 8)))")).as("g"))
      .select(col(key), expr("md5_hi60(g)").as("gh"))
      .distinct()
  }

  /** l14: benchmark decontamination — flag training documents sharing any
    * word-8-gram with the held-out eval slice (doc_id % 97 == 0 stands in
    * for the benchmark corpus; a real run would read it as its own table).
    *
    * Scale shape: the eval side is tiny by construction (benchmarks are
    * MBs, the corpus is TBs), so its distinct gram hashes broadcast and
    * the contamination check is a map-side hash probe over the corpus —
    * no shuffle of the 100 TB side at all. The per-doc rollup then
    * aggregates doc-local rows (partial agg collapses before exchange). */
  def l14(spark: SparkSession, dir: String): DataFrame = {
    val grams = gram8(spark, dir)
    val evalGrams = grams.filter(col("doc_id") % 97 === 0)
      .select(col("gh")).distinct().withColumn("hit", lit(1))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(evalGrams), Seq("gh"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).cast("long").as("n_hits"))
      .withColumn("contaminated", (col("n_hits") > 0).cast("int"))
      .orderBy("doc_id")
  }

  /** l15: sequence packing — concatenate the corpus in doc_id order and
    * chunk it into fixed 2048-token context windows (the GPT-style
    * concat-then-chunk packing). A document's bin is floor(prefix_sum /
    * capacity) of the tokens *before* it.
    *
    * The global prefix sum is computed the way a 1000-executor cluster
    * has to: per-bucket partial sums (one narrow aggregation), an
    * exclusive prefix over the tiny bucket table (broadcastable — one row
    * per 1024 docs), then a *partitioned* window inside each bucket. No
    * single-partition global window anywhere in the plan. */
  def l15(spark: SparkSession, dir: String): DataFrame = {
    val capacity = 2048
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("CAST(floor(doc_id / 1024) AS BIGINT)").as("bucket"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // exclusive prefix over buckets: tiny (corpus_size / 1024 rows)
    val bucketTotals = toks.groupBy("bucket").agg(sum("n_tok").as("bucket_tok"))
    val offsets = bucketTotals
      .withColumn("offset",
        coalesce(sum("bucket_tok").over(
          Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "offset")
    val wInBucket = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.join(broadcast(offsets), Seq("bucket"))
      .withColumn("cum_before", col("offset") + sum("n_tok").over(wInBucket) - col("n_tok"))
      .withColumn("bin_id", floor(col("cum_before") / capacity).cast("long"))
      .groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .withColumn("fill_ratio", r6(col("bin_tokens") / lit(capacity.toDouble)))
      .orderBy("bin_id")
  }

  /** l16: stratified sampling — per-language keep rates (100% en, 50% de,
    * 25% rest) decided by a pure hash of the doc id, so the sample is
    * reproducible, append-stable, and needs no shuffle to draw (the
    * rollup here only verifies achieved rates). */
  def l16(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    val rate = when(col("lang") === "en", 100)
      .when(col("lang") === "de", 50).otherwise(25)
    Tables.documents(spark, dir)
      .withColumn("kept", (hashBucket("strat:") < rate).cast("int"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"), sum("kept").cast("long").as("n_kept"))
      .withColumn("achieved_rate", r6(col("n_kept") / col("n_total")))
      .orderBy("lang")
  }

  /** l17: epoch-weighted source mixing — each source repeats 1-3 times in
    * the training mix (epochs = 1 + src_index % 3), every (doc, epoch)
    * copy getting its own position in the l10-style global shuffle order.
    * Replication is a map-side explode (sequence + explode), so the mix
    * costs epochs× output volume but zero extra shuffles before the
    * consumer's sort. */
  def l17(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("epochs", expr("1 + CAST(substr(source, 4) AS INT) % 3"))
      .select(col("doc_id"), col("source"),
        explode(expr("sequence(1, epochs)")).as("epoch"))
      .withColumn("epoch", col("epoch").cast("long"))
      .withColumn("shuffle_key",
        md5(concat(lit("mix:"), col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))))
      .groupBy("source", "epoch")
      .agg(count(lit(1)).as("n_docs"), min("shuffle_key").as("first_key"))
      .orderBy("source", "epoch")

  /** l41: quality-weighted resampling with stochastic rounding — the soft
    * counterpart of l18's hard gate and the per-DOCUMENT refinement of
    * l17's per-source epochs (the FineWeb/DCLM move: each document gets a
    * fractional target weight from its quality features; low-quality text
    * is downsampled, high-quality text repeats). Weight is kept in
    * QUARTER-copy integer units (2..8 quarters = 0.5..2.0 copies) derived
    * from integer feature thresholds (uniq%, length, stopword%), and the
    * fractional remainder rounds stochastically via an exact integer
    * compare against a seeded md5 uniform — n_copies = wq div 4 + [u4 <
    * wq mod 4]. E[copies] = wq/4 per doc, yet every run, partitioning,
    * and engine derives the identical sample (no floats anywhere).
    * Map-only: threshold features, hash, sequence-explode — the whole op
    * rides the first pass over raw text, zero shuffles before the
    * deterministic ORDER BY. */
  def l41(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    Tables.documents(spark, dir)
      .withColumn("toks", split(lower(col("text")), " "))
      .withColumn("n_tok", size(col("toks")))
      .withColumn("uniq_pct", expr("100 * size(array_distinct(toks)) div n_tok"))
      .withColumn("stop_pct", expr(
        "100 * size(filter(toks, t -> t IN ('a', 'the'))) div n_tok"))
      .withColumn("wq", expr(
        "2 + IF(uniq_pct >= 60, 2, 0) + IF(n_tok >= 40, 2, 0) + IF(stop_pct >= 8, 2, 0)"))
      .withColumn("u4", expr(
        "md5_hi60(concat('rs:', CAST(doc_id AS STRING))) % 4"))
      .withColumn("n_copies", expr("wq div 4 + IF(u4 < wq % 4, 1, 0)"))
      .filter(col("n_copies") > 0)
      .select(col("doc_id"), col("wq").cast("long").as("wq"),
        col("n_copies").cast("long").as("n_copies"),
        explode(expr("sequence(1, n_copies)")).as("copy_idx"))
      .withColumn("copy_idx", col("copy_idx").cast("long"))
      .orderBy("doc_id", "copy_idx")
  }

  /** l18: rule-based quality gate (Gopher-style hard filters): word count
    * in [5, 5000], mean word length in [2, 12], digit fraction <= 0.2,
    * symbol fraction <= 0.05. Emits the per-rule verdicts plus the
    * conjunction, all map-side — at scale this is the first pass over raw
    * text and must stay shuffle-free, which it is (the ORDER BY is the
    * harness determinism contract, not part of the operator). */
  def l18(spark: SparkSession, dir: String): DataFrame = {
    val words = size(split(col("text"), " ")).cast("long")
    val meanWlen = length(regexp_replace(col("text"), " ", "")) / words
    val digitRatio = regexp_count(col("text"), lit("[0-9]")) / length(col("text"))
    val symRatio = regexp_count(col("text"), lit("[#<>{}|~]")) / length(col("text"))
    val rLen = (words >= 5) && (words <= 5000)
    val rWlen = (meanWlen >= 2.0) && (meanWlen <= 12.0)
    val rDigit = digitRatio <= 0.2
    val rSym = symRatio <= 0.05
    // measured: spreading here LOSES 0.1-0.2 s — one pass of regex gates
    // into a map-side-collapsing aggregate is lighter than the exchange
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        words.as("n_words"),
        r6(meanWlen).as("mean_wlen"),
        r6(digitRatio).as("digit_ratio"),
        r6(symRatio).as("sym_ratio"),
        rLen.cast("int").as("r_len"),
        rWlen.cast("int").as("r_wlen"),
        rDigit.cast("int").as("r_digit"),
        rSym.cast("int").as("r_sym"),
        (rLen && rWlen && rDigit && rSym).cast("int").as("keep"))
      .orderBy("doc_id")
  }

  /** l19: the curation pipeline end-to-end — quality gate (l18 rules) →
    * exact dedup (min doc_id per text hash) → benchmark decontamination
    * (l14) → hash split (l11) → per-(lang, split) corpus summary. One
    * composed DataFrame: Catalyst fuses the gate predicates into the
    * scan, the dedup is a hash aggregate + semi join on the already-
    * gated (smaller) side, the contamination probe joins against the
    * tiny flagged set, and nothing materializes between stages. This is
    * the query shape a real 100 TB curation run executes as a single
    * job. */
  /** One source of truth for the curation gate expressions — l19 applies
    * them as filters, l61 reports them per doc, and l61's kept==l19
    * contract depends on the two never drifting apart. */
  private def gateWordCount: Column = size(split(col("text"), " ")).cast("long")
  private def gatePasses: Column = {
    val words = gateWordCount
    val meanW = length(regexp_replace(col("text"), " ", "")) / words
    val digR = regexp_count(col("text"), lit("[0-9]")) / length(col("text"))
    val symR = regexp_count(col("text"), lit("[#<>{}|~]")) / length(col("text"))
    words.between(5L, 5000L) && meanW.between(2.0, 12.0) &&
      digR <= 0.2 && symR <= 0.05
  }

  def l19(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    val gated = Tables.spread(Tables.documents(spark, dir), "doc_id")
      .filter(col("doc_id") % 97 =!= 0) // the eval slice is not training data
      .filter(gatePasses) // regex gates — single-split without the spread
    val keepIds = gated
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("doc_id")).select("doc_id")
    val contaminated = l14(spark, dir)
      .filter(col("contaminated") === 1).select("doc_id")
    gated
      .join(keepIds, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("split",
        when(hashBucket("split:") < 80, "train")
          .when(hashBucket("split:") < 90, "val").otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(gateWordCount).as("tot_tokens"))
      .orderBy("lang", "split")
  }

  /** l61: CURATION PROVENANCE — the per-document audit of l19's pipeline:
    * which gate dropped each doc (eval-holdout, quality, exact-dup,
    * contamination), the first stage that failed, and the final keep
    * decision. l19 answers "what survived"; this answers "why did MY doc
    * disappear" — the debugging surface every curation run ships next to
    * its output, and the input to gate-attrition dashboards (sum each
    * flag = stage attrition).
    *
    * Stage contract: a flag is evaluated only for docs that REACH that
    * stage (NULL below), exactly mirroring l19's filter order — so
    * `kept == 1` rows are precisely l19's surviving population
    * (spec-pinned against l19's own counts).
    *
    * Scale shape: the gates are map-only expressions; the dup stage is
    * ONE window over the text-hash key (the md5 collapses before any
    * exchange — the shuffle carries 16-byte keys); contamination reuses
    * l14's broadcast probe. Nothing corpus-sized beyond those two
    * exchanges. */
  def l61(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.spread(Tables.documents(spark, dir), "doc_id")
      .withColumn("f_eval", (col("doc_id") % 97 === 0).cast("int"))
      .withColumn("f_quality",
        when(col("f_eval") === 1, lit(null).cast("int"))
          .otherwise((!gatePasses).cast("int")))
    val dup = docs.filter(col("f_eval") === 0 && col("f_quality") === 0)
      .withColumn("h", md5(col("text").cast("binary")))
      .withColumn("keeper", min("doc_id").over(Window.partitionBy("h")))
      .select(col("doc_id"), (col("doc_id") =!= col("keeper")).cast("int").as("f_dup"))
    val contam = l14(spark, dir).select(col("doc_id"), col("contaminated"))
    docs.select("doc_id", "f_eval", "f_quality")
      .join(dup, Seq("doc_id"), "left")
      .join(contam, Seq("doc_id"), "left")
      .withColumn("f_contam",
        when(col("f_dup") === 0, coalesce(col("contaminated"), lit(0))))
      .select(col("doc_id"), col("f_eval"), col("f_quality"), col("f_dup"),
        col("f_contam"),
        when(col("f_eval") === 1, "eval_holdout")
          .when(col("f_quality") === 1, "quality")
          .when(col("f_dup") === 1, "exact_dup")
          .when(col("f_contam") === 1, "contaminated").as("first_failed"),
        (col("f_eval") === 0 && col("f_quality") === 0 && col("f_dup") === 0
          && col("f_contam") === 0).cast("int").as("kept"))
      .orderBy("doc_id")
  }

  /** l20: TF-IDF top-3 terms per document. Two linear aggregations (term
    * frequency per doc, document frequency per term) + an in-plan corpus
    * count (1-row broadcast — no driver-side .count()), then a doc-
    * partitioned window for the top-k. The df table is vocabulary-sized —
    * orders of magnitude under corpus size — so the tf⋈df join's shuffle
    * is bounded by vocabulary, not corpus. Ties (equal tf and df → bit-
    * identical doubles in both engines) break on the term itself. */
  def l20(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // measured: spreading the tokenize stage LOSES ~0.2 s here — the
    // split+explode is light and both aggregates map-side collapse
    val words = docs.select(col("doc_id"),
      explode(split(lower(col("text")), " ")).as("t"))
    val tf = words.groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val dfT = words.select("doc_id", "t").distinct()
      .groupBy("t").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("tfidf_raw").desc, col("t"))
    tf.join(dfT, "t").crossJoin(broadcast(nDocs))
      .withColumn("tfidf_raw", col("tf") * log(col("n_docs") / col("df")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("t").as("term"),
        col("tf"), col("df"), r6(col("tfidf_raw")).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** l21: near-duplicate clustering — connected components over the l02
    * MinHash pair graph, each document labeled with its component's min
    * doc_id (the canonical representative the dedup pass keeps).
    *
    * CC runs through graft.Fixpoint.connectedComponentsStar: alternating
    * large-star/small-star (round count O(log² n) on ANY graph, where
    * plain min-label propagation pays the component diameter — the
    * adversarial-chain case), localCheckpoint-truncated lineage, and
    * superseded iterates unpersisted the moment their successor
    * materializes (retained checkpoints were the round-4 in-sweep GC
    * debt). Labels are the component minimum either way, so the
    * recursive-CTE oracle is unchanged. */
  def l21(spark: SparkSession, dir: String): DataFrame =
    l21From(dedupClusterLabels(spark, dir))

  /** Session-scoped memo for CC labelings (graft.FrameMemo): the labels
    * frame is localCheckpoint-materialized and tiny (one row per node in
    * a near-dup pair), so holding a handful per session is cheap; the win
    * is that a sweep running BOTH l21 and l53 over one corpus pays the
    * multi-round CC fixpoint — the r8 sweep's dominant tail (l53 38.7 s +
    * l21 15.3 s in-sweep) — exactly once. */
  private val ccMemo = graft.FrameMemo.frames[Unit]()

  /** The shared CC labeling both l21 and l53 canonicalize from: one
    * large-star/small-star run over the l02 MinHash pair graph, round
    * cap adaptive (ceil(log₂ n)² — Fixpoint.adaptiveCcCap), memoized per
    * (session, corpus plan) so repeated calls — the registered l21 and
    * l53 queries, or a composed pipeline labeling once and canonicalizing
    * twice — re-run nothing (PipelineSpec pins the sharing AND the memo
    * hit). Keyed on the raw documents READ plan, not the l02 pair plan:
    * l02 localCheckpoints its (eager) result, so constructing it both
    * runs jobs and yields a fresh never-matching LogicalRDD — the hit
    * path must not touch l02 at all. */
  def dedupClusterLabels(spark: SparkSession, dir: String): DataFrame =
    ccMemo.getOrCompute((spark,
      Tables.documents(spark, dir).queryExecution.normalized, ())) {
      graft.Fixpoint.connectedComponentsStar(
        Llm.l02(spark, dir).select("a", "b"))
    }

  /** Invalidation hook (clearTrainMemo's sibling): drop memoized CC
    * labelings — a corpus regenerated in place still sameResult-matches
    * a re-read of the same path and would keep serving stale labels
    * (PipelineSpec pins the contract). Also clears the upstream pair-graph
    * memo: labels DERIVE from pairs, so "fresh labels over stale pairs"
    * is never a coherent state — recomputing CC after this hook must
    * re-derive the pair graph too. */
  def clearCcMemo(): Unit = {
    ccMemo.clear()
    Llm.clearPairsMemo()
  }

  /** l21's cluster report from a precomputed (id, label) CC labeling. */
  def l21From(labels: DataFrame): DataFrame = {
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("id").as("doc_id"), col("label").as("cluster_rep"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** l53: QUALITY-AWARE dedup canonicalization — production near-dup
    * passes don't keep the min-id document, they keep the BEST one
    * (highest quality score) per duplicate cluster and drop the rest.
    * Clusters come from l21's large-star/small-star CC over the MinHash
    * pair graph; the ranking key is l07's quality composite in integer
    * micro-units (one floor, total order, doc_id tie-break) so the pick
    * is engine-exact. Singletons (no near-dup pair) keep themselves via
    * the left join's COALESCE. One window over the cluster key after the
    * CC labels land — the same shuffle the labeling already pays. */
  def l53(spark: SparkSession, dir: String): DataFrame =
    l53From(spark, dir, dedupClusterLabels(spark, dir))

  /** l53's keep-best pick from a precomputed (id, label) CC labeling —
    * share one [[dedupClusterLabels]] run with [[l21From]]. */
  def l53From(spark: SparkSession, dir: String, labels: DataFrame): DataFrame = {
    val q = Llm.qualityU(Tables.documents(spark, dir))
    val lab = q.join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster_rep", coalesce(col("label"), col("doc_id")))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("quality_u").desc, col("doc_id"))
    lab
      .withColumn("rk", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster_rep")))
      .filter(col("rk") === 1)
      .select(col("cluster_rep"), col("doc_id").as("keep_doc_id"),
        col("quality_u"), col("cluster_size"))
      .orderBy("cluster_rep")
  }

  /** l63: INCREMENTAL CLUSTER MAINTENANCE — the missing leg of the
    * daily-dedup story: l25 probes a new batch against persisted pair
    * indexes, but the cluster LABELS (l21/l53's CC output) went stale on
    * every ingest, and re-running the fixpoint over the full corpus is
    * exactly the 100 TB cost a daily pipeline cannot pay. This operator
    * merges the day's delta edges into PERSISTED labels touching only
    * the affected components:
    *
    *  1. historical labels (CC over edges among historical docs,
    *     doc_id % 10 != 0 — l25/l54's batch split) are committed to
    *     parquet, standing in for yesterday's published label table;
    *  2. the delta edge set (every near-dup pair touching a new doc) is
    *     CONTRACTED through those labels — each endpoint replaced by its
    *     component label (itself when unlabeled), self-loops dropped —
    *     so the merge graph has one node per AFFECTED component or new
    *     doc, never one per corpus document;
    *  3. the CC fixpoint runs on that contracted graph only (the
    *     distributed union-find-on-the-delta: delta-sized input, same
    *     large-star/small-star machinery);
    *  4. reconciliation: a broadcast label→merged-label map rewrites
    *     affected historical rows (the persisted table is read, not
    *     rescanned from text), and contracted nodes that are raw doc ids
    *     (new docs; historical docs whose first-ever edge is in the
    *     delta) carry their labels directly.
    *
    * Labels compose exactly: a historical label IS its component's min
    * doc id, so the contracted CC's min-of-node-ids is the global
    * min-of-member-ids — the oracle proves incremental == full recompute
    * (l21's recursive-CTE CC over the whole pair graph, the h06/s20
    * "incremental == rebuild" contract applied to clustering).
    *
    * Scale posture: step 1 is yesterday's state (here derived in-plan so
    * the query is self-contained and oracle-able, exactly l25's pattern
    * for its indexes); the daily unit of work is steps 2-4 — one
    * delta-edge join against the label table, a fixpoint over a
    * delta-sized graph, and a broadcast-relabel join. PipelineSpec pins
    * the contraction (merge-graph edges ≤ delta edges, strictly fewer
    * nodes than the full graph) and the component-merge semantics on a
    * synthetic bridge corpus. */
  def l63(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Llm.minHashNearDupPairs(Tables.documents(spark, dir))
      .select("a", "b")
    val labels = incrementalCcLabels(spark, pairs,
      c => pmod(c, lit(10)) === 0, Tables.scratchPath("l63_labels", dir))
    val out = l21From(labels).localCheckpoint()
    graft.Fixpoint.release(labels)
    out
  }

  /** l64: the DAILY-CLOSE DEDUP COMPOSITION — l25 (batch probe), l54
    * (band-index upsert) and l63 (cluster-label maintenance) fused into
    * the ONE query a daily pipeline actually runs at close, l19-style:
    * a single shingle pass and a single banded candidate join feed all
    * three legs instead of each registered query re-deriving them.
    *
    *  - shared spine: shingles → band signatures (both cached for the
    *    plan's lifetime), capped candidate join, exact-Jaccard verify —
    *    ONE pair graph serves the probe verdicts AND the CC delta edges;
    *  - probe leg (l25): per new doc (doc_id%10==0), exact_dup via the
    *    historical md5 index, near_dup via the shared pair graph's
    *    hist-partner minimum — note it probes the PRODUCTION capped
    *    graph, where l25 demonstrates the uncapped variant;
    *  - index leg (l54): per new doc, how many of its band buckets are
    *    first-ever (absent from the historical index) — the upsert's
    *    insert-vs-merge split, from the same cached signatures;
    *  - label leg (l63): persisted historical labels + delta contraction
    *    + fixpoint on the contracted graph; the emitted label/cluster
    *    size are POST-close (new docs merged in).
    *
    * The oracle recomputes all six columns from scratch in DuckDB (full
    * recursive-CTE CC, uncontracted), so a pass proves composed-
    * incremental == full rebuild in one gate; PipelineSpec pins the
    * sharing itself (the fused run costs fewer jobs than the three legs
    * run separately) and per-leg agreement with l25/l21. Scale posture
    * is the legs' own: nothing here is corpus²; the fusion only REMOVES
    * two shingle scans and a duplicate band exchange. */
  def l64(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isNew = (c: Column) => pmod(c, lit(10)) === 0
    val sh = Llm.shinglesOf(docs).cache() // scoped: released before return
    val bands = Llm.bandSignatures(sh).cache() // ditto
    // ONE shared spine body with the memoized l02 path — THROUGH the
    // same pairsMemo entry (same key, same result; the cold build uses
    // the sh/bands cached above, which the probe legs need anyway): a
    // composed pipeline that already ran l02 over this corpus folds the
    // day-close without re-running the candidate join + Jaccard verify,
    // the dedup family's dominant shared cost. Tagged memo_pre in the
    // bench; memo-cold the cost is exactly the old shape's. The three
    // consumers below (CC's historical edges, the delta contraction,
    // the near-probe leg) read the one materialized frame.
    val pairs = Llm
      .minHashNearDupPairsWith(docs, sh, bands, 0.4, Llm.BandBucketCap)
      .select("a", "b")
    val exactIdx = docs.filter(!isNew(col("doc_id")))
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min("doc_id").as("hist_id"))
    val histBuckets = bands.filter(!isNew(col("doc_id")))
      .groupBy("band", "m0", "m1").agg(count(lit(1)).as("n_hist"))
    // The CC label maintenance is a driver-side fixpoint loop of TINY
    // jobs (the contracted graph is delta-sized) that leaves the
    // executor pool idle, while the three probe legs are independent
    // aggregates over the already-materialized pairs/bands/docs — so
    // the legs materialize CONCURRENTLY with the label loop (guide
    // §2.6) instead of waiting for it. Same algebra, same inputs; each
    // leg is localCheckpoint-materialized and released after the
    // composed result materializes.
    val Seq(labels, newExact, near, newBuckets) = graft.Harness.inParallel(Seq(
      () => incrementalCcLabels(spark, pairs, isNew,
        Tables.scratchPath("l64_labels", dir)),
      () => docs.filter(isNew(col("doc_id")))
        .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
        .join(exactIdx, Seq("h"), "left")
        .select(col("doc_id"), col("hist_id").as("exact_of"))
        .localCheckpoint(),
      () => pairs.select(col("a").as("d"), col("b").as("o"))
        .unionAll(pairs.select(col("b").as("d"), col("a").as("o")))
        .filter(isNew(col("d")) && !isNew(col("o")))
        .groupBy("d").agg(min("o").as("near_of"))
        .localCheckpoint(),
      () => bands.filter(isNew(col("doc_id")))
        .join(histBuckets, Seq("band", "m0", "m1"), "left")
        .groupBy("doc_id")
        .agg(sum(when(col("n_hist").isNull, 1L).otherwise(0L)).as("n_new_buckets"))
        .localCheckpoint()))
    val csize = labels.groupBy("label").agg(count(lit(1)).as("cs"))
    val out = newExact
      .join(near, col("doc_id") === col("d"), "left")
      .join(labels.withColumnRenamed("id", "lid"),
        col("doc_id") === col("lid"), "left")
      .join(csize, Seq("label"), "left")
      .join(newBuckets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_of").isNotNull, "exact_dup")
          .when(col("near_of").isNotNull, "near_dup")
          .otherwise("unique").as("status"),
        coalesce(col("exact_of"), col("near_of")).as("dup_of"),
        coalesce(col("label"), col("doc_id")).as("label"),
        coalesce(col("cs"), lit(1L)).as("cluster_size"),
        coalesce(col("n_new_buckets"), lit(0L)).as("n_new_buckets"))
      .orderBy("doc_id")
      .localCheckpoint()
    // pairs is NOT released — the memo owns that frame (l02's contract)
    Seq(labels, newExact, near, newBuckets)
      .foreach(graft.Fixpoint.release)
    bands.unpersist(blocking = false)
    sh.unpersist(blocking = false)
    out
  }

  /** l63's merge engine over an arbitrary pair graph and batch
    * predicate — exposed so the spec can feed synthetic edge sets
    * (component bridges, label takeovers, delta-only nodes) and compare
    * against a from-scratch CC. Returns the (id, label) labeling of the
    * FULL graph, localCheckpoint-materialized; the caller owns its
    * release. */
  private[graft] def incrementalCcLabels(spark: SparkSession,
      pairs: DataFrame, isNew: Column => Column,
      labelPath: String): DataFrame = {
    val histEdges = pairs.filter(!isNew(col("a")) && !isNew(col("b")))
    val deltaEdges = pairs.filter(isNew(col("a")) || isNew(col("b")))
    // yesterday's published state: CC over historical edges, committed
    // to parquet and READ BACK — the merge below must only touch this
    // table, never the historical text/pair derivation
    val histCc = graft.Fixpoint.connectedComponentsStar(histEdges)
    histCc.write.mode("overwrite").parquet(labelPath)
    graft.Fixpoint.release(histCc)
    ccMergeStep(spark.read.parquet(labelPath), deltaEdges)
  }

  /** ONE day-close merge: fold a delta edge set into a persisted (id,
    * label) table — the repeatable unit [[incrementalCcLabels]] runs
    * once and l65 runs once per ingest day. Precondition (inductively
    * preserved): `histLabels` are component MINIMA of the graph seen so
    * far. Returns the full labeling, localCheckpoint-materialized; the
    * caller owns its release. */
  private[graft] def ccMergeStep(histLabels: DataFrame,
      deltaEdges: DataFrame): DataFrame = {
    val contracted = contractDelta(deltaEdges, histLabels)
    // the union-find on the delta: fixpoint over the contracted graph
    // (nodes = affected component labels + delta-only doc ids)
    val mergedCc = graft.Fixpoint.connectedComponentsStar(contracted)
    // reconciliation: labels are component MINIMA, so min-of-node-ids on
    // the contracted graph is the global min-of-members — relabel
    // affected historical rows via a broadcast (delta-sized) map...
    val relab = mergedCc.select(col("id").as("label"),
      col("label").as("new_label"))
    val histFinal = histLabels.join(broadcast(relab), Seq("label"), "left")
      .select(col("id"),
        coalesce(col("new_label"), col("label")).as("label"))
    // ...and emit contracted nodes that are raw doc ids directly. A node
    // id here is either a historical component's label or the id of a
    // doc in no historical component — and a doc id equal to some label
    // IS that label's doc (ids are unique), so the anti-join keeps
    // exactly the delta-only docs, each disjoint from histFinal's rows.
    val direct = mergedCc
      .join(histLabels.select(col("label").as("id")).distinct(),
        Seq("id"), "left_anti")
    val out = histFinal.unionByName(direct).localCheckpoint()
    graft.Fixpoint.release(mergedCc)
    out
  }

  /** l65: MULTI-DAY INCREMENTAL CLOSE — l63 proved ONE merge equals a
    * rebuild; a production pipeline runs the merge EVERY day against the
    * state the previous day persisted, and errors compound if the
    * invariant (labels = component minima) doesn't survive iteration.
    * This operator simulates three ingest days (doc_id%10 = 1, 2, 3;
    * everything else is the base corpus): day 0 commits CC labels over
    * base-only edges; each day d folds in exactly the edges whose newest
    * endpoint arrived on day d ([[ccMergeStep]] against the PERSISTED
    * previous-day table — never the text or pair derivation), and
    * commits the result. The emitted labeling after day 3 is oracled
    * against l21's from-scratch recursive-CTE CC over the WHOLE pair
    * graph: equality proves the merge invariant is closed under
    * iteration (3 merges == 1 rebuild). PipelineSpec additionally pins
    * each intermediate day against a from-scratch CC over its prefix
    * graph. Scale posture: each day pays one delta-edge contraction
    * join, a delta-sized fixpoint, and a broadcast relabel — the corpus
    * is never rescanned after day 0. */
  def l65(spark: SparkSession, dir: String): DataFrame = {
    val pairs = Llm.minHashNearDupPairs(Tables.documents(spark, dir))
      .select("a", "b")
    val labels = l65Close(spark, pairs, Tables.scratchPath("l65_labels", dir))
    val out = l21From(labels).localCheckpoint()
    graft.Fixpoint.release(labels)
    out
  }

  /** The three-day close over an arbitrary pair graph: day of an id is
    * id%10 if in {1,2,3} else 0 (base). Returns the final persisted-day
    * labeling (checkpointed; caller releases). Exposed for the spec's
    * prefix-graph pins. */
  private[graft] def l65Close(spark: SparkSession, pairs: DataFrame,
      labelRoot: String): DataFrame = {
    def day(c: Column): Column =
      when(pmod(c, lit(10)).isin(1, 2, 3), pmod(c, lit(10))).otherwise(lit(0L))
    val base = graft.Fixpoint.connectedComponentsStar(
      pairs.filter(day(col("a")) === 0 && day(col("b")) === 0))
    base.write.mode("overwrite").parquet(s"$labelRoot/day0")
    graft.Fixpoint.release(base)
    var labels = spark.read.parquet(s"$labelRoot/day0")
    for (d <- 1 to 3) {
      val delta = pairs.filter(
        greatest(day(col("a")), day(col("b"))) === d)
      val merged = ccMergeStep(labels, delta)
      // commit today's state; tomorrow reads THIS table, not the lineage
      merged.write.mode("overwrite").parquet(s"$labelRoot/day$d")
      graft.Fixpoint.release(merged)
      labels = spark.read.parquet(s"$labelRoot/day$d")
    }
    labels.localCheckpoint()
  }

  /** The merge graph: delta endpoints contracted through the persisted
    * labels; endpoints outside any historical component (new docs,
    * historical docs with no prior edge) stand for themselves.
    * Self-loops (both endpoints in one component) drop — that component
    * is affected but not merged. PipelineSpec pins that this graph is
    * delta-sized, not corpus-sized. */
  private[graft] def contractDelta(deltaEdges: DataFrame,
      histLabels: DataFrame): DataFrame =
    deltaEdges
      .join(histLabels.select(col("id").as("a"), col("label").as("la")),
        Seq("a"), "left")
      .join(histLabels.select(col("id").as("b"), col("label").as("lb")),
        Seq("b"), "left")
      .select(coalesce(col("la"), col("a")).as("a"),
        coalesce(col("lb"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))

  private def l53Oracle: String = {
    val pairSql = Llm.oracles("l02_dedup_near")
      .replaceAll("\\s*ORDER BY a, b\\s*$", "")
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($pairSql) qq),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
       |lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
       |q AS (${Llm.qualityUSql}),
       |fl AS (SELECT q.doc_id, COALESCE(lab.label, q.doc_id) AS cluster_rep,
       |              q.quality_u
       |       FROM q LEFT JOIN lab ON lab.id = q.doc_id),
       |r AS (SELECT *,
       |        row_number() OVER (PARTITION BY cluster_rep
       |          ORDER BY quality_u DESC, doc_id) AS rk,
       |        COUNT(*) OVER (PARTITION BY cluster_rep) AS cluster_size
       |      FROM fl)
       |SELECT cluster_rep, doc_id AS keep_doc_id, quality_u, cluster_size
       |FROM r WHERE rk = 1 ORDER BY cluster_rep""".stripMargin
  }

  /** l64's from-scratch restatement: the capped verified pair graph
    * (l02's SQL) feeds a FULL recursive-CTE CC (no contraction, no
    * persisted labels — equality proves composed-incremental == rebuild),
    * the md5 index gives the exact leg, the band CTEs give the per-doc
    * first-bucket count, and singletons default to (own id, size 1). */
  private def l64Oracle: String = {
    val pairSql = Llm.oracles("l02_dedup_near")
      .replaceAll("\\s*ORDER BY a, b\\s*$", "")
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($pairSql) qq),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
       |lab AS (SELECT id, MIN(r) AS label FROM reach GROUP BY id),
       |sz AS (SELECT label, COUNT(*) AS cluster_size FROM lab GROUP BY label),
       |${Llm.duckShingles},
       |${Llm.duckBandCtes},
       |hist AS (SELECT band, m0, m1, COUNT(*) AS n_hist
       |         FROM bands0 WHERE doc_id % 10 <> 0 GROUP BY 1, 2, 3),
       |nb AS (SELECT b.doc_id,
       |         CAST(SUM(CASE WHEN h.n_hist IS NULL THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_new_buckets
       |       FROM bands0 b LEFT JOIN hist h
       |         ON b.band = h.band AND b.m0 = h.m0 AND b.m1 = h.m1
       |       WHERE b.doc_id % 10 = 0 GROUP BY b.doc_id),
       |exact_idx AS (
       |  SELECT md5(text) AS h, MIN(doc_id) AS hist_id
       |  FROM documents WHERE doc_id % 10 <> 0 GROUP BY md5(text)),
       |new_exact AS (
       |  SELECT n.doc_id, e.hist_id AS exact_of
       |  FROM (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0) n
       |  LEFT JOIN exact_idx e ON n.h = e.h),
       |near AS (
       |  SELECT d, MIN(o) AS near_of FROM (
       |    SELECT a AS d, b AS o FROM pairs
       |    UNION ALL SELECT b AS d, a AS o FROM pairs) u
       |  WHERE d % 10 = 0 AND o % 10 <> 0 GROUP BY d)
       |SELECT ne.doc_id,
       |       CASE WHEN ne.exact_of IS NOT NULL THEN 'exact_dup'
       |            WHEN near.near_of IS NOT NULL THEN 'near_dup'
       |            ELSE 'unique' END AS status,
       |       COALESCE(ne.exact_of, near.near_of) AS dup_of,
       |       COALESCE(lab.label, ne.doc_id) AS label,
       |       COALESCE(sz.cluster_size, 1) AS cluster_size,
       |       COALESCE(nb.n_new_buckets, 0) AS n_new_buckets
       |FROM new_exact ne
       |LEFT JOIN near ON near.d = ne.doc_id
       |LEFT JOIN lab ON lab.id = ne.doc_id
       |LEFT JOIN sz ON sz.label = lab.label
       |LEFT JOIN nb ON nb.doc_id = ne.doc_id
       |ORDER BY ne.doc_id""".stripMargin
  }

  private def l21Oracle: String = {
    // reuse l02's full pair SQL as a derived table (strip its final sort)
    val pairSql = Llm.oracles("l02_dedup_near")
      .replaceAll("\\s*ORDER BY a, b\\s*$", "")
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM ($pairSql) q),
       |edges AS (SELECT a, b FROM pairs UNION ALL SELECT b AS a, a AS b FROM pairs),
       |reach(id, r) AS (
       |  SELECT a AS id, a AS r FROM edges
       |  UNION
       |  SELECT e.a AS id, reach.r FROM edges e JOIN reach ON reach.id = e.b),
       |lab AS (SELECT id, MIN(r) AS cluster_rep FROM reach GROUP BY id),
       |sz AS (SELECT cluster_rep, COUNT(*) AS cluster_size FROM lab GROUP BY cluster_rep)
       |SELECT lab.id AS doc_id, lab.cluster_rep, sz.cluster_size
       |FROM lab JOIN sz USING (cluster_rep) ORDER BY doc_id""".stripMargin
  }

  /** l22: one-pass data-quality constraint report (the deequ-style
    * expectation suite a pipeline runs before publishing a snapshot).
    * Every metric comes out of a SINGLE aggregation over the table —
    * completeness, key uniqueness, cross-field consistency, domain
    * membership, bounds — then pivots to one row per check. At 100 TB
    * this is one scan + one 1-row shuffle regardless of check count;
    * metrics are int/int double divisions (identical IEEE both engines). */
  def l22(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val agg = d.agg(
      count(lit(1)).as("n"),
      sum((col("text").isNotNull && length(col("text")) > 0).cast("long")).as("n_nonempty"),
      countDistinct(col("doc_id")).as("n_ids"),
      sum((col("n_chars") === length(col("text"))).cast("long")).as("n_consistent"),
      sum(col("lang").isin("en", "de", "fr", "es", "it", "zh").cast("long")).as("n_lang"),
      min(col("n_chars")).cast("double").as("chars_min"),
      max(col("n_chars")).cast("double").as("chars_max"))
    agg.select(expr(
      """stack(6,
        |  'completeness_text', CAST(n_nonempty AS DOUBLE) / n, n_nonempty = n,
        |  'uniqueness_doc_id', CAST(n_ids AS DOUBLE) / n, n_ids = n,
        |  'consistency_n_chars', CAST(n_consistent AS DOUBLE) / n, n_consistent = n,
        |  'domain_lang', CAST(n_lang AS DOUBLE) / n, n_lang = n,
        |  'min_chars_ge_1', chars_min, chars_min >= 1,
        |  'max_chars_le_10000', chars_max, chars_max <= 10000
        |) AS (check_name, metric, pass)""".stripMargin))
      .withColumn("pass", col("pass").cast("int"))
      .orderBy("check_name")
  }

  /** l23: overlapping token-window chunking (training-sequence prep):
    * 32-token chunks, stride 24, plus a forced final window so trailing
    * tokens are never dropped when (n-32) is not a stride multiple.
    * Pure array ops on the row — embarrassingly parallel, no shuffle
    * before the output sort; chunk count per doc is ceil((n-32)/24)+1. */
  def l23(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("w"), explode(expr(
        "array_distinct(concat(sequence(1, greatest(size(w)-31, 1), 24)," +
          " array(greatest(size(w)-31, 1))))")).as("s"))
      .select(col("doc_id"), col("s").as("chunk_start"),
        least(lit(32), size(col("w")) - col("s") + 1).cast("long").as("n_tokens"),
        expr("array_join(slice(w, s, 32), ' ')").as("chunk"))
      .orderBy("doc_id", "chunk_start")
  }

  /** l24: bloom-accelerated decontamination — same contamination
    * semantics as l14, for the regime where the eval-side gram set no
    * longer broadcasts as an exact hash set (contaminant corpora in the
    * GBs). A fixed-size bloom of the eval grams (scalar subquery → one
    * broadcast of ~1 MB regardless of item count) prunes the corpus
    * map-side; only bloom-POSITIVE grams reach the exact verify join, so
    * the shuffle carries candidate grams, not the corpus. False positives
    * are removed by the verify; false negatives are impossible — output
    * is exactly the contaminated-doc hit counts. Eval slice is
    * doc_id % 31 (wider than l14's % 97) so the contaminated set is
    * non-empty at every test SF. */
  def l24(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.BloomFunctions.register(spark)
    gram8(spark, dir).createOrReplaceTempView("graft_l24_grams")
    spark.sql(
      """WITH eval AS (SELECT DISTINCT gh FROM graft_l24_grams WHERE doc_id % 31 = 0),
        |corpus AS (SELECT doc_id, gh FROM graft_l24_grams WHERE doc_id % 31 <> 0),
        |cand AS (SELECT doc_id, gh FROM corpus
        |         WHERE graft_might_contain((SELECT graft_bloom_agg(gh) FROM eval), gh)),
        |hits AS (SELECT cand.doc_id FROM cand JOIN eval ON cand.gh = eval.gh)
        |SELECT doc_id, COUNT(*) AS n_hit_grams
        |FROM hits GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** l31: the dataset card — per-source corpus report a data team ships
    * with a training set: volume, token mass, exact-dup rate, language
    * spread, quality-gate pass rate. ONE aggregation pass over the
    * corpus (count-distinct of the content hash rides the same shuffle);
    * every number is an integer sum or a fixed-shape ratio, so the whole
    * card is exactly reproducible. */
  def l31(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("h", md5(col("text")))
      .withColumn("wc", size(split(col("text"), " ")).cast("long"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct("h").as("n_unique_texts"),
        sum("wc").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        countDistinct("lang").as("n_langs"),
        sum(when(col("wc").between(50, 5000), 1L).otherwise(0L)).as("n_pass_gate"))
      .select(col("source"), col("n_docs"), col("n_unique_texts"),
        ((col("n_docs") - col("n_unique_texts")).cast("double") / col("n_docs"))
          .as("dup_rate"),
        col("total_tokens"),
        (col("total_chars").cast("double") / col("n_docs")).as("mean_chars"),
        col("n_langs"),
        (col("n_pass_gate").cast("double") / col("n_docs")).as("gate_pass_rate"))
      .orderBy("source")

  /** l32: snapshot diff — the dataset-versioning primitive: what changed
    * between two corpus snapshots, by CONTENT (hash), not by id. Two
    * deterministic synthetic snapshots (doc_id mod 5 slices with
    * overlap), one full-outer join of their distinct content-hash sets,
    * one counting pass. At scale both sides shuffle once on the hash —
    * and the hash sets are the compact dedup indexes a corpus store
    * keeps anyway (l25's incremental probe reads the same structure). */
  def l32(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("h", md5(col("text")))
    val old = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      .select("h").distinct().withColumn("in_old", lit(1))
    val neu = docs.filter(pmod(col("doc_id"), lit(5)) =!= 1)
      .select("h").distinct().withColumn("in_new", lit(1))
    old.join(neu, Seq("h"), "full")
      .agg(
        sum(when(col("in_new").isNotNull && col("in_old").isNull, 1L)
          .otherwise(0L)).as("n_added"),
        sum(when(col("in_old").isNotNull && col("in_new").isNull, 1L)
          .otherwise(0L)).as("n_removed"),
        sum(when(col("in_old").isNotNull && col("in_new").isNotNull, 1L)
          .otherwise(0L)).as("n_retained"))
      .select(col("n_added"), col("n_removed"), col("n_retained"),
        (col("n_retained").cast("double")
          / (col("n_added") + col("n_removed") + col("n_retained")))
          .as("snapshot_jaccard"))
  }

  /** l33: fixed-width histogram of document lengths per language — the
    * distribution profile behind every data-quality dashboard. Bounds
    * come from a broadcast one-row min/max (no driver trip), bucket
    * assignment is a map-side integer expression, and the final agg runs
    * on the |langs|·|buckets| grid. Integer bucket math only — no
    * float binning to diverge between engines; the max value is clamped
    * into the last bucket (the half-open-interval edge case). */
  def l33(spark: SparkSession, dir: String): DataFrame = {
    val nb = 10
    val docs = Tables.documents(spark, dir).select("lang", "n_chars")
    val bounds = docs.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
    docs.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        least(expr(s"(n_chars - lo) * $nb div greatest(hi - lo + 1, 1)"), lit(nb - 1)))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n"),
        min("n_chars").as("bucket_min"), max("n_chars").as("bucket_max"))
      .orderBy("lang", "bucket")
  }

  /** l37: distributed bigram language-model counts — the model-BUILDING
    * counterpart to l29's scoring: raw bigram counts (min-count 5
    * pruned) plus the Kneser-Ney ingredients, n_hist = |{w₁ : c(w₁,w₂)>0}|
    * (continuation count of w₂) and n_follow = |{w₂ : c(w₁,w₂)>0}|
    * (right-diversity of w₁). Shape at 100 TB: bigram generation is
    * map-only (transform over the token array — no posexplode self-join),
    * the count is ONE bigram-key shuffle over the corpus; n_hist/n_follow
    * aggregate the already-tiny count table (vocab², not corpus-sized)
    * and join back broadcast. Pruning happens AFTER the diversity
    * aggregates, which must see all bigrams (KN counts are over the
    * unpruned table). */
  /** The (w1, w2) bigram stream l37 counts — exposed so the
    * ScalePatternsSpec vocab-bounded growth law measures the SAME
    * derivation the query uses. Map-only. */
  private[graft] def bigramsOf(docs: DataFrame): DataFrame =
    docs
      .select(split(lower(col("text")), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1),
          |          i -> struct(element_at(w, i) AS w1, element_at(w, i + 1) AS w2))""".stripMargin))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  def l37(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = bigramsOf(Tables.documents(spark, dir))
    val counts = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c"))
    val cont = counts.groupBy("w2").agg(countDistinct("w1").as("n_hist"))
    val fol = counts.groupBy("w1").agg(countDistinct("w2").as("n_follow"))
    counts
      .join(broadcast(cont), "w2")
      .join(broadcast(fol), "w1")
      .filter(col("c") >= 5)
      .select("w1", "w2", "c", "n_hist", "n_follow")
      .orderBy("w1", "w2")
  }

  /** l42: distributed BPE merge statistics — ONE iteration of
    * byte-pair-encoding tokenizer TRAINING (count adjacent symbol pairs
    * corpus-wide, weighted by word frequency; the top pair is the next
    * merge). The l37 scale trick does the heavy lifting: the corpus
    * collapses to the word-frequency table first (one word-key shuffle
    * with map-side combine — word-count shape), and pair generation then
    * runs over DISTINCT words only, so the pair explode is
    * VOCAB-bounded, not corpus-bounded — at 100 TB the pair pass costs
    * the same as at 1 GB once the frequency table exists. Full BPE
    * training = this plan iterated under graft.Fixpoint with the chosen
    * merge applied to the symbol sequences (the g02/l21 loop pattern);
    * the single-round statistics are the oracled contract. */
  def l42(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
    words.filter(length(col("w")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum("freq").as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)
  }

  /** A vocabulary word as its current symbol sequence + corpus frequency. */
  final case class BpeWord(syms: Seq[String], freq: Long)

  /** Left-to-right non-overlapping application of merge (a,b) → ab —
    * the published BPE rule (greedy from the left, a merged token never
    * re-merges within the same pass). */
  private[graft] def mergePair(syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toSeq
  }

  /** l43: full BPE tokenizer training — l42's pair statistics ITERATED,
    * each round applying the chosen merge to the symbol sequences and
    * recounting (the algorithm of Sennrich et al. / every GPT-style
    * tokenizer, distributed). Scale shape per round: the working frame
    * is the VOCABULARY (distinct words as symbol arrays × corpus
    * frequency) — corpus-sized work happens exactly once, in the initial
    * word count; each round is then a vocab-bounded pair count (one tiny
    * shuffle), a 1-row driver fetch of the arg-max merge (deterministic
    * tie-break: count desc, pair asc), and a map-only merge application.
    * Superseded vocab iterates are unpersisted eagerly (the Fixpoint
    * hygiene). Rounds stop early when no adjacent pair remains. Returns
    * the merge table (round, s1, s2, n) — the trained tokenizer. */
  /** Session-scoped memo for trained merge tables, keyed like
    * CorpusStats: the normalized logical plan of (docs, rounds). A
    * sweep or composed pipeline that trains (l43) and then encodes
    * (l45) over the SAME corpus pays the ~10 driver-coordinated
    * training rounds once — the "train once, encode many" contract at
    * the library level, without the caller having to thread the merge
    * table through. Bounded like CorpusStats' memo; the values are
    * driver-side Seqs, so overflow and eviction just drop them. */
  private val trainMemo = new graft.FrameMemo[
      (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Int),
      Seq[(Int, String, String, Long)]](16,
    (a, b) => a._2 == b._2 && a._1.sameResult(b._1))

  def bpeTrain(docs: DataFrame, rounds: Int = 10): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = trainMemo.getOrCompute((docs.queryExecution.normalized, rounds))(
      bpeTrainRows(docs, rounds))
    rows.toDF("round", "s1", "s2", "n")
      .withColumn("round", col("round").cast("long"))
      .orderBy("round")
  }

  /** Invalidation hook (CorpusStats.clear's sibling): drop memoized
    * merge tables when a corpus is regenerated in place — the
    * normalized plan still sameResult-matches a re-read of the same
    * path, so without this a mutated corpus would keep serving its old
    * tokenizer. */
  def clearTrainMemo(): Unit = trainMemo.clear()

  /** The trained merge list in application order — the ONE accessor
    * every encode-side consumer shares (row layout stated here once). */
  def trainedMerges(docs: DataFrame, rounds: Int = 10): Seq[(String, String)] =
    bpeTrain(docs, rounds).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq

  /** Chain merge-application LAZILY between cache points: the sequential
    * dependency (round r's pair counts need rounds 1..r-1 applied) is
    * intrinsic to BPE, but materializing every round is not. One Spark
    * job per round (the top-pair collect, with the pending merge maps
    * fused into its scan) halves the loop's job count vs the old
    * cache-per-round shape and drops ten cache materializations —
    * measured 3.7 → ~2.3 s cold at sf0.1. The recompute depth (round
    * r re-applies up to CacheEvery-1 narrow maps over a CACHED
    * vocabulary-sized table) is bounded by re-caching every CacheEvery
    * rounds, so a large `rounds` stays O(rounds·CacheEvery) map passes,
    * not O(rounds²). */
  private val CacheEvery = 8

  private def bpeTrainRows(docs: DataFrame,
      rounds: Int): Seq[(Int, String, String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    var cached = docs
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("freq"))
      .as[BpeWord].cache()
    var vocab = cached      // cached base + <CacheEvery lazy merge maps
    var sinceCache = 0
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val top = vocab.flatMap(v =>
          v.syms.sliding(2).collect { case Seq(a, b) => (a, b, v.freq) })
        .toDF("s1", "s2", "f")
        .groupBy("s1", "s2").agg(sum("f").as("n"))
        .orderBy(col("n").desc, col("s1"), col("s2"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, n))
        vocab = vocab.map(v => BpeWord(mergePair(v.syms, a, b), v.freq))
        sinceCache += 1
        if (sinceCache == CacheEvery && r < rounds) {
          val next = vocab.cache()
          next.foreach(_ => ()) // materialize before releasing the parent
          cached.unpersist(blocking = false)
          cached = next
          vocab = next
          sinceCache = 0
        }
        r += 1
      }
    }
    cached.unpersist(blocking = false)
    merges.toSeq
  }

  def l43(spark: SparkSession, dir: String): DataFrame =
    bpeTrain(Tables.documents(spark, dir))

  /** l45: apply a trained merge table — the ENCODE step every training
    * batch runs after l43's train step. Each word starts as characters
    * and folds through the merges in priority order, one left-to-right
    * non-overlapping pass per merge (exactly the training-side
    * mergePair, so train and encode agree on tokenization by
    * construction). The merge list is parameter-sized (10 rows) and
    * ships in the task closure; encoding is a typed partition-local map
    * over documents — zero shuffles before the deterministic ORDER BY,
    * which is what lets the encode stage fuse into the first pass over
    * raw text at 100 TB. Output per doc: symbol counts before/after and
    * the compression the learned merges bought. */
  def l45(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeEncode(docs, trainedMerges(docs))
  }

  /** The encode stage on its own, for library callers that already hold
    * a trained merge table (train once with bpeTrain, encode many
    * corpora) — the self-contained l45 query retrains because every
    * query derives its own inputs by contract, but a pipeline should
    * not pay the training shuffles per encode pass. */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // the per-word merge fold below is the heaviest per-row stage in the
    // module — it must not run on the one task a single-split scan yields
    Tables.spread(docs.select("doc_id", "text"), "doc_id").as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, text) =>
          val words = text.toLowerCase.split(" ")
          var nStart = 0L
          var nEnd = 0L
          words.foreach { w =>
            val chars: Seq[String] = w.map(_.toString)
            nStart += chars.length
            nEnd += merges.foldLeft(chars)((s, m) => mergePair(s, m._1, m._2)).length
          }
          (id, words.length.toLong, nStart, nEnd)
        }
      }
      .toDF("doc_id", "n_words", "n_syms_chars", "n_syms_bpe")
      .withColumn("compression",
        col("n_syms_chars").cast("double") / col("n_syms_bpe"))
      .orderBy("doc_id")
  }

  /** l48: tokenizer FERTILITY by language — BPE symbols per word, the
    * standard multilingual-equity metric for a trained tokenizer (a
    * tokenizer trained on English-heavy data over-segments other
    * languages; fertility quantifies by how much, and drives vocab-size
    * / data-mix decisions). Rides the memoized merge table (train once
    * per corpus per session) + the typed partition-local encode; the
    * only shuffle is the 5-row language rollup. Oracled since round 8
    * via the unrolled training chain (see l48OracleSql); PipelineSpec
    * additionally recomputes from the encode output and pins
    * fertility ≥ 1. */
  def l48(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    bpeEncode(docs, trainedMerges(docs))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("n_words"),
        sum("n_syms_bpe").as("n_syms_bpe"),
        (floor(sum("n_syms_bpe") / sum("n_words") * 1000000.0 + 0.5)
          / 1000000.0).as("fertility"))
      .orderBy("lang")
  }

  /** l50: SFT chat-template formatting — the last hop before tokenized
    * training batches: split each document into a prompt/completion
    * pair, wrap in the chat template, and emit the LOSS-MASK OFFSET
    * (completion tokens train, prompt tokens are masked — the
    * supervised-fine-tuning convention). Map-only string assembly; the
    * formatted text itself is surfaced as an md5 (keeps the gated
    * output row small while still pinning every byte of the template),
    * plus the whitespace token estimate and a truncation flag. */
  def l50(spark: SparkSession, dir: String): DataFrame = {
    val promptChars = 120
    val maxChars = 520
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        substring(col("text"), 1, promptChars).as("prompt"),
        substring(col("text"), promptChars + 1, maxChars - promptChars)
          .as("completion"),
        (length(col("text")) > maxChars).as("truncated"))
      .select(col("doc_id"), col("lang"), col("truncated"),
        concat(lit("<|user|>\n"), col("prompt"),
          lit("\n<|assistant|>\n"), col("completion"), lit("<|end|>"))
          .as("formatted"),
        // loss mask starts at the first completion character:
        // |<|user|>\n| + prompt + |\n<|assistant|>\n|
        (lit(9) + length(col("prompt")) + lit(15)).cast("bigint")
          .as("mask_off"))
      .select(col("doc_id"), col("lang"), col("truncated"),
        md5(col("formatted").cast("binary")).as("formatted_md5"),
        length(col("formatted")).cast("bigint").as("n_chars"),
        size(split(col("formatted"), "\\s+")).cast("bigint").as("ws_tokens"),
        col("mask_off"))
      .orderBy("doc_id")
  }

  /** l51: TEMPERATURE-scaled source mixing — the multilingual/multi-
    * source sampling law (α-smoothed: p_i ∝ (n_i/N)^α) that keeps
    * low-resource slices from vanishing under natural-proportion
    * sampling while not drowning the head. α = 0.5 so the power is
    * sqrt — IEEE-exact in BOTH engines (pow() differs by ulps across
    * libm implementations; sqrt is correctly-rounded everywhere). The
    * smoothed mass is summed in DECIMAL(38,6) (order-independent), and
    * every surfaced ratio is one double division + the shared
    * floor(x·1e6+0.5)/1e6 rounding rule — bit-identical cross-engine.
    * Cost: one (source, lang) aggregate + a broadcast scalar — the
    * whole op is corpus-stats-sized, nothing document-sized shuffles. */
  def l51(spark: SparkSession, dir: String): DataFrame = {
    def r6(c: Column): Column = floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)
    val g = Tables.documents(spark, dir)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
      .withColumn("st", sqrt(col("n_chars"))
        .cast(org.apache.spark.sql.types.DecimalType(38, 6)))
    val tot = g.agg(sum("n_chars").as("tot_chars"), sum("st").as("tot_st"))
    val pNat = col("n_chars").cast("double") / col("tot_chars").cast("double")
    val pTemp = col("st").cast("double") / col("tot_st").cast("double")
    g.crossJoin(broadcast(tot))
      .select(col("source"), col("lang"), col("n_docs"), col("n_chars"),
        r6(pNat).as("p_natural"), r6(pTemp).as("p_temp"),
        r6(pTemp / pNat).as("boost"))
      .orderBy("source", "lang")
  }

  /** l57: DOMAIN MIX UNDER A TOKEN BUDGET — the waterfilling allocator
    * every pre-training mix needs: split a global token budget (80% of the
    * corpus here — high enough that heavy domains exhaust and the
    * redistribution path actually runs) across domains proportionally to their weights, cap
    * each domain at what it actually has, and redistribute the stranded
    * mass of exhausted domains to the still-open ones. Three fixed
    * redistribution rounds keep it hash-gateable (the unbounded version
    * is a Fixpoint loop on "no newly exhausted domain"); in practice the
    * allocation is within one floor-division residue of the fixpoint
    * after 2 rounds on any realistic weight spread. Integer-exact
    * end-to-end: token masses in BIGINT, weights 1..5 from the md5 image
    * of the domain name (portable across engines), every division a
    * floor div — no float until the surfaced rate. Scale: ONE corpus
    * pass (the per-source token sum); everything after runs on the
    * parameter-sized domain frame with 1-row broadcast totals. */
  def l57(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.Md5Hi60.register(spark)
    val d0 = Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(sum(expr("n_chars div 4")).as("avail"))
      .withColumn("w",
        expr("md5_hi60(source) % 5 + 1"))
    val tot = d0.agg(sum("avail").as("tot_avail"), sum("w").as("tot_w"))
    val r1 = d0.crossJoin(broadcast(tot))
      .withColumn("budget", expr("tot_avail * 4 div 5"))
      .withColumn("asg", least(col("avail"), expr("budget * w div tot_w")))
      .drop("tot_avail", "tot_w")
    def redistribute(df: DataFrame): DataFrame = {
      val s = df.agg(sum("asg").as("sum_asg"),
        sum(when(col("asg") < col("avail"), col("w")).otherwise(lit(0L)))
          .as("open_w"))
      df.crossJoin(broadcast(s))
        .withColumn("asg",
          when(col("asg") < col("avail") && col("open_w") > 0,
            least(col("avail"),
              col("asg") + expr("(budget - sum_asg) * w div open_w")))
            .otherwise(col("asg")))
        .drop("sum_asg", "open_w")
    }
    val r3 = redistribute(redistribute(r1))
    r3.select(col("source"), col("avail"), col("w").as("weight"),
        col("asg").as("take_tokens"),
        expr("CASE WHEN avail > 0 THEN asg * 1000000 div avail ELSE 0 END")
          .as("rate_micro"),
        (col("asg") === col("avail")).cast("long").as("exhausted"))
      .orderBy("source")
  }

  /** l58: N-GRAM NOVELTY — per-document fraction of its distinct word
    * 8-grams that occur in NO other document (corpus-wide document
    * frequency 1). The memorization-risk / boilerplate dial: low novelty
    * means the document is assembled from text the corpus already has
    * (template spam, licence headers); high novelty marks genuinely new
    * text worth its tokens.
    *
    * Scale shape: NO gram-level join-back. The gram table (l14's shared
    * gram8: distinct 60-bit hashes per doc) aggregates twice — once by
    * doc for the denominator, once by gram hash where df==1 grams keep
    * their unique owner via min(doc_id), so the novel count per doc is a
    * second small aggregation over the df==1 subset. Both passes are
    * map-side-combinable; the final join is doc-sized × doc-sized. */
  def l58(spark: SparkSession, dir: String): DataFrame = {
    val grams = gram8(spark, dir)
    val perDoc = grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy("gh")
      .agg(count(lit(1)).as("df"), min("doc_id").as("doc_id"))
      .filter(col("df") === 1)
      .groupBy("doc_id").agg(count(lit(1)).as("n_novel"))
    perDoc.join(novel, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty",
        r6(col("n_novel").cast("double") / col("n_grams")))
      .orderBy("doc_id")
  }

  /** l59: SOURCE-OVERLAP MATRIX — for every pair of sources, how many
    * distinct word-8-grams they share and the Jaccard of their gram
    * sets. The cross-corpus contamination dashboard: a crawl slice that
    * heavily overlaps a curated source is double-counting the same text
    * mass (l14/l24 answer "is THIS doc contaminated"; this answers
    * "which SOURCES duplicate each other, and how much").
    *
    * Scale shape: no gram-level self-join. The (source, gram) table
    * collapses per gram to its sorted source SET — bounded by the
    * source COUNT (a catalog-sized number), never corpus-sized — and
    * pairs explode inside that tiny array, then one map-side-combinable
    * count per pair. Per-source set sizes broadcast back for the
    * Jaccard denominator. Output = overlapping pairs only. */
  def l59(spark: SparkSession, dir: String): DataFrame = {
    val sg = gramsBy(spark, dir, "source")
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    sg.groupBy("gh").agg(sort_array(collect_set("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(expr(
        "flatten(transform(ss, (a, i) -> " +
          "transform(slice(ss, i + 2, size(ss)), b -> struct(a AS s1, b AS s2))))"))
        .as("p"))
      .select(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_shared"))
      .join(broadcast(sizes.select(col("source").as("s1"), col("n").as("n1"))), Seq("s1"))
      .join(broadcast(sizes.select(col("source").as("s2"), col("n").as("n2"))), Seq("s2"))
      .withColumn("jaccard", r6(col("n_shared").cast("double") /
        (col("n1") + col("n2") - col("n_shared"))))
      .select(col("s1"), col("s2"), col("n_shared"), col("n1"), col("n2"),
        col("jaccard"))
      .orderBy("s1", "s2")
  }

  override val sinkQueries: Set[String] =
    Set("l63_cc_incremental", "l64_daily_close", "l65_multiday_close")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "l59_source_overlap" -> l59,
    "l58_ngram_novelty" -> l58,
    "l57_mix_budget" -> l57,
    "l51_mix_temperature" -> l51,
    "l50_sft_format" -> l50,
    "l37_ngram_lm" -> l37,
    "l42_bpe_stats" -> l42,
    "l43_bpe_train" -> l43,
    "l45_bpe_encode" -> l45,
    "l48_tokenizer_fertility" -> l48,
    "l33_histogram" -> l33,
    "l32_corpus_diff" -> l32,
    "l31_dataset_card" -> l31,
    "l14_decontaminate" -> l14,
    "l15_pack_sequences" -> l15,
    "l16_sample_stratified" -> l16,
    "l41_quality_resample" -> l41,
    "l17_mix_weighted" -> l17,
    "l18_quality_gate" -> l18,
    "l19_curation_e2e" -> l19,
    "l61_curation_provenance" -> l61,
    "l20_tfidf" -> l20,
    "l21_dedup_clusters" -> l21,
    "l53_dedup_keep_best" -> l53,
    "l63_cc_incremental" -> l63,
    "l64_daily_close" -> l64,
    "l65_multiday_close" -> l65,
    "l22_constraint_report" -> l22,
    "l23_chunk_overlap" -> l23,
    "l24_decontaminate_bloom" -> l24)

  /** DuckDB restatement of the BPE TRAINING LOOP (round 8; upgrades
    * l43/l45/l48 from spec-gated to hash-oracled): the 10 rounds are
    * UNROLLED into a CTE chain — per round a pair count, the argmax
    * merge (same tie-break: n DESC, s1, s2), and the merge application.
    * Symbol sequences live as delimiter-bracketed strings
    * (chr(1)||sym||chr(2) per symbol), which makes the left-to-right
    * non-overlapping `mergePair` pass EXACTLY DuckDB's plain substring
    * replace(): each pattern is a whole bracketed unit, so the char
    * scan is the symbol scan, and an already-merged token (a||b) can
    * never re-match s1 within the same pass (that would need b = '').
    * The corpus is ASCII single-spaced (TESTDATA.md), so lower()/
    * split/substring agree byte-for-byte across engines; a committed
    * merge-table fixture was rejected because the trained table is
    * SF-dependent (sf0.01 and sf0.1 diverge from round 3). Every CTE is
    * MATERIALIZED — without it DuckDB inlines the whole training chain
    * into each of the 10 scalar merge lookups (measured >120 s vs 1 s
    * at sf0.1). */
  private val bpeD1 = "chr(1)"
  private val bpeD2 = "chr(2)"
  private val bpeRoundsSql = 10

  /** w (a word) → its bracketed character-symbol string. */
  private def bpeSymStr(w: String): String =
    s"regexp_replace($w, '(.)', $bpeD1 || '\\1' || $bpeD2, 'g')"

  /** The shared training chain: v0..v10 vocab iterates, p/m pair-count +
    * argmax per round. Ends with m1..m10 holding (s1, s2, n). */
  private def bpeTrainCtes: Seq[String] = {
    val v0 = s"""v0 AS MATERIALIZED (
  SELECT ${bpeSymStr("w")} AS s, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t
  GROUP BY 1)"""
    v0 +: (1 to bpeRoundsSql).flatMap { r =>
      Seq(
        s"""p$r AS MATERIALIZED (
  SELECT sy[CAST(i AS INT)] AS s1, sy[CAST(i AS INT)+1] AS s2, freq FROM (
    SELECT string_split(trim(s, $bpeD1 || $bpeD2), $bpeD2 || $bpeD1) AS sy, freq
    FROM v${r - 1}) t,
    LATERAL (SELECT unnest(range(1, len(sy))) AS i) g)""",
        s"""m$r AS MATERIALIZED (
  SELECT s1, s2, CAST(SUM(freq) AS BIGINT) AS n
  FROM p$r GROUP BY 1, 2 ORDER BY n DESC, s1, s2 LIMIT 1)""",
        s"""v$r AS MATERIALIZED (
  SELECT replace(v.s, $bpeD1 || m.s1 || $bpeD2 || $bpeD1 || m.s2 || $bpeD2,
                 $bpeD1 || m.s1 || m.s2 || $bpeD2) AS s, v.freq
  FROM v${r - 1} v, m$r m)""")
    }
  }

  /** Encode-side CTEs: per-merge replace patterns + the per-distinct-word
    * encode (the corpus has a tiny closed vocabulary, so encoding each
    * distinct word once and joining back is the cheap restatement of the
    * Scala per-occurrence fold — same values by determinism of the fold). */
  private def bpeEncodeCtes: Seq[String] = {
    val mpats = (1 to bpeRoundsSql).map { r =>
      s"""mp$r AS MATERIALIZED (SELECT $bpeD1 || s1 || $bpeD2 || $bpeD1 || s2 || $bpeD2 AS pat,
  $bpeD1 || s1 || s2 || $bpeD2 AS rep FROM m$r)"""
    }
    val encExpr = (1 to bpeRoundsSql).foldLeft(bpeSymStr("w")) { (e, r) =>
      s"replace($e, (SELECT pat FROM mp$r), (SELECT rep FROM mp$r))"
    }
    mpats ++ Seq(
      s"""dw AS MATERIALIZED (
  SELECT w, CAST(length(w) AS BIGINT) AS nc,
         CAST((length(e) - length(replace(e, $bpeD1, ''))) AS BIGINT) AS nb
  FROM (SELECT DISTINCT w FROM (SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents) t) u,
       LATERAL (SELECT $encExpr AS e) x)""",
      """words AS MATERIALIZED (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents)""")
  }

  private def l43OracleSql: String = {
    val union = (1 to bpeRoundsSql)
      .map(r => s"SELECT CAST($r AS BIGINT) AS round, s1, s2, n FROM m$r")
      .mkString("\nUNION ALL\n")
    "WITH " + bpeTrainCtes.mkString(",\n") + "\n" + union + "\nORDER BY round"
  }

  private def l45OracleSql: String =
    "WITH " + (bpeTrainCtes ++ bpeEncodeCtes).mkString(",\n") + """
SELECT words.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(dw.nc) AS BIGINT) AS n_syms_chars,
       CAST(SUM(dw.nb) AS BIGINT) AS n_syms_bpe,
       CAST(SUM(dw.nc) AS DOUBLE) / CAST(SUM(dw.nb) AS DOUBLE) AS compression
FROM words JOIN dw USING (w)
GROUP BY words.doc_id ORDER BY words.doc_id"""

  private def l48OracleSql: String =
    "WITH " + (bpeTrainCtes ++ bpeEncodeCtes).mkString(",\n") + """,
enc AS MATERIALIZED (
  SELECT words.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         CAST(SUM(dw.nb) AS BIGINT) AS n_syms_bpe
  FROM words JOIN dw USING (w) GROUP BY words.doc_id)
SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(enc.n_words) AS BIGINT) AS n_words,
       CAST(SUM(enc.n_syms_bpe) AS BIGINT) AS n_syms_bpe,
       floor(CAST(SUM(enc.n_syms_bpe) AS DOUBLE) / CAST(SUM(enc.n_words) AS DOUBLE)
             * 1000000.0 + 0.5) / 1000000.0 AS fertility
FROM enc JOIN documents d USING (doc_id)
GROUP BY d.lang ORDER BY d.lang"""

  val oracles: Map[String, String] = Map(
    // l59: the oracle takes the direct self-join route (DuckDB corpus is
    // small) — equality with the set-collapse plan proves the pair
    // explosion enumerated exactly the s1 < s2 combinations
    "l59_source_overlap" ->
      """WITH t AS (SELECT source, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT source,
        |        unnest(list_transform(range(1, len(w)-6),
        |          i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(w) >= 8),
        |gh AS (SELECT source,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |sz AS (SELECT source, COUNT(*) AS n FROM gh GROUP BY source),
        |p AS (SELECT a.source AS s1, b.source AS s2, COUNT(*) AS n_shared
        |      FROM gh a JOIN gh b ON a.gh = b.gh AND a.source < b.source
        |      GROUP BY 1, 2)
        |SELECT s1, s2, n_shared, sa.n AS n1, sb.n AS n2,
        |       floor(CAST(n_shared AS DOUBLE) / (sa.n + sb.n - n_shared)
        |             * 1000000 + 0.5) / 1000000 AS jaccard
        |FROM p JOIN sz sa ON p.s1 = sa.source JOIN sz sb ON p.s2 = sb.source
        |ORDER BY s1, s2""".stripMargin,
    // l58: same gram8 hash image, same agg-twice shape (df + unique
    // owner), shared floor(x*1e6+0.5)/1e6 rounding on a small-integer
    // ratio
    "l58_ngram_novelty" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(w)-6),
        |          i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(w) >= 8),
        |gh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |pd AS (SELECT doc_id, COUNT(*) AS n_grams FROM gh GROUP BY doc_id),
        |df AS (SELECT gh, COUNT(*) AS df, MIN(doc_id) AS doc_id
        |       FROM gh GROUP BY gh),
        |nv AS (SELECT doc_id, COUNT(*) AS n_novel FROM df
        |       WHERE df = 1 GROUP BY doc_id)
        |SELECT pd.doc_id, pd.n_grams,
        |       CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
        |       floor(CAST(COALESCE(nv.n_novel, 0) AS DOUBLE) / pd.n_grams
        |             * 1000000 + 0.5) / 1000000 AS novelty
        |FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id
        |ORDER BY pd.doc_id""".stripMargin,
    // l57: the three waterfilling rounds unrolled — every division a
    // floor div on BIGINTs, the weight from the same md5 image
    "l57_mix_budget" ->
      """WITH d0 AS (
        |  SELECT source, CAST(SUM(n_chars // 4) AS BIGINT) AS avail,
        |         CAST(('0x' || substr(md5(source), 1, 15)) AS BIGINT) % 5 + 1 AS w
        |  FROM documents GROUP BY source),
        |tot AS (SELECT CAST(SUM(avail) AS BIGINT) AS tot_avail,
        |               CAST(SUM(w) AS BIGINT) AS tot_w FROM d0),
        |r1 AS (SELECT d0.source, d0.avail, d0.w, tot_avail * 4 // 5 AS budget,
        |              least(avail, (tot_avail * 4 // 5) * w // tot_w) AS asg
        |       FROM d0, tot),
        |s1 AS (SELECT CAST(SUM(asg) AS BIGINT) AS sum_asg,
        |              CAST(SUM(CASE WHEN asg < avail THEN w ELSE 0 END) AS BIGINT) AS open_w
        |       FROM r1),
        |r2 AS (SELECT source, avail, w, budget,
        |              CASE WHEN asg < avail AND open_w > 0
        |                   THEN least(avail, asg + (budget - sum_asg) * w // open_w)
        |                   ELSE asg END AS asg
        |       FROM r1, s1),
        |s2 AS (SELECT CAST(SUM(asg) AS BIGINT) AS sum_asg,
        |              CAST(SUM(CASE WHEN asg < avail THEN w ELSE 0 END) AS BIGINT) AS open_w
        |       FROM r2),
        |r3 AS (SELECT source, avail, w, budget,
        |              CASE WHEN asg < avail AND open_w > 0
        |                   THEN least(avail, asg + (budget - sum_asg) * w // open_w)
        |                   ELSE asg END AS asg
        |       FROM r2, s2)
        |SELECT source, avail, w AS weight, asg AS take_tokens,
        |       CASE WHEN avail > 0 THEN asg * 1000000 // avail ELSE 0 END AS rate_micro,
        |       CAST(asg = avail AS BIGINT) AS exhausted
        |FROM r3 ORDER BY source""".stripMargin,
    "l43_bpe_train" -> l43OracleSql,
    "l45_bpe_encode" -> l45OracleSql,
    "l48_tokenizer_fertility" -> l48OracleSql,
    // l51: sqrt is correctly-rounded in both engines; the smoothed mass
    // sums in DECIMAL and every ratio shares the floor-rounding rule
    "l51_mix_temperature" ->
      """WITH g AS (
        |  SELECT source, lang, COUNT(*) AS n_docs,
        |         CAST(SUM(n_chars) AS BIGINT) AS n_chars,
        |         CAST(sqrt(SUM(n_chars)) AS DECIMAL(38,6)) AS st
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT SUM(n_chars) AS tot_chars, SUM(st) AS tot_st FROM g)
        |SELECT source, lang, n_docs, n_chars,
        |       floor(CAST(n_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS p_natural,
        |       floor(CAST(st AS DOUBLE) / CAST(tot_st AS DOUBLE)
        |             * 1000000.0 + 0.5) / 1000000.0 AS p_temp,
        |       floor((CAST(st AS DOUBLE) / CAST(tot_st AS DOUBLE))
        |             / (CAST(n_chars AS DOUBLE) / CAST(tot_chars AS DOUBLE))
        |             * 1000000.0 + 0.5) / 1000000.0 AS boost
        |FROM g, t ORDER BY source, lang""".stripMargin,
    // l50: byte-identical template assembly — the md5 pins every byte
    "l50_sft_format" ->
      """WITH s AS (
        |  SELECT doc_id, lang,
        |         substr(text, 1, 120) AS prompt,
        |         substr(text, 121, 400) AS completion,
        |         length(text) > 520 AS truncated
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, truncated,
        |         '<|user|>' || chr(10) || prompt || chr(10) ||
        |         '<|assistant|>' || chr(10) || completion || '<|end|>' AS formatted,
        |         CAST(9 + length(prompt) + 15 AS BIGINT) AS mask_off
        |  FROM s)
        |SELECT doc_id, lang, truncated,
        |       md5(formatted) AS formatted_md5,
        |       CAST(length(formatted) AS BIGINT) AS n_chars,
        |       CAST(len(string_split_regex(formatted, '\s+')) AS BIGINT) AS ws_tokens,
        |       mask_off
        |FROM f ORDER BY doc_id""".stripMargin,
    "l37_ngram_lm" ->
      """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS a FROM documents),
        |flat AS (SELECT doc_id, unnest(a) AS tok, generate_subscripts(a, 1) AS pos
        |         FROM toks),
        |bg AS (SELECT f1.tok AS w1, f2.tok AS w2
        |       FROM flat f1 JOIN flat f2
        |         ON f1.doc_id = f2.doc_id AND f2.pos = f1.pos + 1),
        |c AS (SELECT w1, w2, COUNT(*) AS c FROM bg GROUP BY w1, w2),
        |cont AS (SELECT w2, COUNT(DISTINCT w1) AS n_hist FROM c GROUP BY w2),
        |fol AS (SELECT w1, COUNT(DISTINCT w2) AS n_follow FROM c GROUP BY w1)
        |SELECT w1, w2, c, n_hist, n_follow
        |FROM c JOIN cont USING (w2) JOIN fol USING (w1)
        |WHERE c >= 5 ORDER BY w1, w2""".stripMargin,
    "l33_histogram" ->
      """WITH b AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents),
        |d AS (SELECT lang, n_chars,
        |             LEAST((n_chars - b.lo) * 10 // GREATEST(b.hi - b.lo + 1, 1), 9)
        |               AS bucket
        |      FROM documents, b)
        |SELECT lang, bucket, COUNT(*) AS n,
        |       MIN(n_chars) AS bucket_min, MAX(n_chars) AS bucket_max
        |FROM d GROUP BY lang, bucket ORDER BY lang, bucket""".stripMargin,
    "l32_corpus_diff" ->
      """WITH d AS (SELECT doc_id, md5(text) AS h FROM documents),
        |old AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 0),
        |new AS (SELECT DISTINCT h FROM d WHERE doc_id % 5 <> 1),
        |j AS (SELECT old.h AS oh, new.h AS nh
        |      FROM old FULL OUTER JOIN new ON old.h = new.h),
        |c AS (SELECT
        |        CAST(SUM(CASE WHEN nh IS NOT NULL AND oh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |        CAST(SUM(CASE WHEN oh IS NOT NULL AND nh IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |        CAST(SUM(CASE WHEN oh IS NOT NULL AND nh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
        |      FROM j)
        |SELECT n_added, n_removed, n_retained,
        |       CAST(n_retained AS DOUBLE) / (n_added + n_removed + n_retained)
        |         AS snapshot_jaccard
        |FROM c""".stripMargin,
    "l31_dataset_card" ->
      """WITH d AS (
        |  SELECT source, lang, n_chars, md5(text) AS h,
        |         len(string_split(text, ' ')) AS wc
        |  FROM documents),
        |a AS (
        |  SELECT source, COUNT(*) AS n_docs,
        |         COUNT(DISTINCT h) AS n_unique_texts,
        |         CAST(SUM(wc) AS BIGINT) AS total_tokens,
        |         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |         COUNT(DISTINCT lang) AS n_langs,
        |         CAST(SUM(CASE WHEN wc BETWEEN 50 AND 5000 THEN 1 ELSE 0 END)
        |              AS BIGINT) AS n_pass_gate
        |  FROM d GROUP BY source)
        |SELECT source, n_docs, n_unique_texts,
        |       CAST(n_docs - n_unique_texts AS DOUBLE) / n_docs AS dup_rate,
        |       total_tokens,
        |       CAST(total_chars AS DOUBLE) / n_docs AS mean_chars,
        |       n_langs,
        |       CAST(n_pass_gate AS DOUBLE) / n_docs AS gate_pass_rate
        |FROM a ORDER BY source""".stripMargin,
    "l24_decontaminate_bloom" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(w)-6),
        |          i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(w) >= 8),
        |gh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |e AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 31 = 0),
        |tr AS (SELECT * FROM gh WHERE doc_id % 31 <> 0)
        |SELECT tr.doc_id, COUNT(*) AS n_hit_grams
        |FROM tr JOIN e ON tr.gh = e.gh
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "l22_constraint_report" ->
      """WITH a AS (
        |  SELECT COUNT(*) AS n,
        |         SUM(CASE WHEN text IS NOT NULL AND length(text) > 0 THEN 1 ELSE 0 END) AS n_nonempty,
        |         COUNT(DISTINCT doc_id) AS n_ids,
        |         SUM(CASE WHEN n_chars = length(text) THEN 1 ELSE 0 END) AS n_consistent,
        |         SUM(CASE WHEN lang IN ('en','de','fr','es','it','zh') THEN 1 ELSE 0 END) AS n_lang,
        |         CAST(MIN(n_chars) AS DOUBLE) AS chars_min,
        |         CAST(MAX(n_chars) AS DOUBLE) AS chars_max
        |  FROM documents)
        |SELECT check_name, metric, pass FROM (
        |  SELECT 'completeness_text' AS check_name,
        |         CAST(n_nonempty AS DOUBLE)/n AS metric,
        |         CAST(n_nonempty = n AS INT) AS pass FROM a
        |  UNION ALL SELECT 'uniqueness_doc_id', CAST(n_ids AS DOUBLE)/n,
        |         CAST(n_ids = n AS INT) FROM a
        |  UNION ALL SELECT 'consistency_n_chars', CAST(n_consistent AS DOUBLE)/n,
        |         CAST(n_consistent = n AS INT) FROM a
        |  UNION ALL SELECT 'domain_lang', CAST(n_lang AS DOUBLE)/n,
        |         CAST(n_lang = n AS INT) FROM a
        |  UNION ALL SELECT 'min_chars_ge_1', chars_min,
        |         CAST(chars_min >= 1 AS INT) FROM a
        |  UNION ALL SELECT 'max_chars_le_10000', chars_max,
        |         CAST(chars_max <= 10000 AS INT) FROM a) t
        |ORDER BY check_name""".stripMargin,
    "l23_chunk_overlap" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |s AS (
        |  SELECT doc_id, w, unnest(range(1, greatest(len(w)-31, 1) + 1, 24)) AS s FROM d
        |  UNION
        |  SELECT doc_id, w, greatest(len(w)-31, 1) AS s FROM d)
        |SELECT doc_id, s AS chunk_start,
        |       least(32, len(w) - s + 1) AS n_tokens,
        |       array_to_string(list_slice(w, s, least(s + 31, len(w))), ' ') AS chunk
        |FROM s ORDER BY doc_id, chunk_start""".stripMargin,
    "l14_decontaminate" ->
      """WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(w)-6),
        |          i -> array_to_string(list_slice(w, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(w) >= 8),
        |gh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |e AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 97 = 0),
        |tr AS (SELECT * FROM gh WHERE doc_id % 97 <> 0)
        |SELECT tr.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |       CAST(SUM(CASE WHEN e.gh IS NULL THEN 0 ELSE 1 END) AS BIGINT) AS n_hits,
        |       CAST(MAX(CASE WHEN e.gh IS NULL THEN 0 ELSE 1 END) AS INT) AS contaminated
        |FROM tr LEFT JOIN e ON tr.gh = e.gh
        |GROUP BY tr.doc_id ORDER BY tr.doc_id""".stripMargin,
    "l15_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tok,
        |         SUM(n_tok) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok AS cum_before
        |  FROM t)
        |SELECT CAST(floor(cum_before / 2048.0) AS BIGINT) AS bin_id,
        |       COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
        |       MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc,
        |       floor(CAST(SUM(n_tok) AS BIGINT) / 2048.0 * 1000000.0 + 0.5) / 1000000.0 AS fill_ratio
        |FROM c GROUP BY 1 ORDER BY bin_id""".stripMargin,
    "l42_bpe_stats" ->
      """WITH w AS (
        |  SELECT tok AS w, COUNT(*) AS freq FROM (
        |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents) t
        |  GROUP BY 1),
        |p AS (
        |  SELECT substr(w, CAST(i AS INT), 2) AS pair, freq
        |  FROM w, LATERAL (SELECT unnest(range(1, length(w))) AS i) t
        |  WHERE length(w) >= 2)
        |SELECT pair, CAST(SUM(freq) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    "l41_quality_resample" ->
      """WITH f AS (
        |  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents),
        |w AS (
        |  SELECT doc_id, len(toks) AS n_tok,
        |         100 * len(list_distinct(toks)) // len(toks) AS uniq_pct,
        |         100 * len(list_filter(toks, t -> t IN ('a', 'the'))) // len(toks) AS stop_pct
        |  FROM f),
        |wq AS (
        |  SELECT doc_id,
        |         2 + (CASE WHEN uniq_pct >= 60 THEN 2 ELSE 0 END)
        |           + (CASE WHEN n_tok >= 40 THEN 2 ELSE 0 END)
        |           + (CASE WHEN stop_pct >= 8 THEN 2 ELSE 0 END) AS wq,
        |         CAST(('0x' || substr(md5('rs:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 4 AS u4
        |  FROM w),
        |c AS (
        |  SELECT doc_id, CAST(wq AS BIGINT) AS wq,
        |         CAST(wq // 4 + (CASE WHEN u4 < wq % 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_copies
        |  FROM wq)
        |SELECT doc_id, wq, n_copies, CAST(ci AS BIGINT) AS copy_idx
        |FROM c, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS ci) t
        |WHERE n_copies > 0
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "l16_sample_stratified" ->
      """WITH t AS (
        |  SELECT lang,
        |         CASE WHEN CAST(('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100
        |              < (CASE WHEN lang = 'en' THEN 100 WHEN lang = 'de' THEN 50 ELSE 25 END)
        |         THEN 1 ELSE 0 END AS kept
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_total, CAST(SUM(kept) AS BIGINT) AS n_kept,
        |       floor(CAST(SUM(kept) AS BIGINT) / CAST(COUNT(*) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS achieved_rate
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,
    "l17_mix_weighted" ->
      """WITH t AS (
        |  SELECT doc_id, source,
        |         unnest(range(1, 2 + CAST(substr(source, 4) AS INT) % 3)) AS epoch
        |  FROM documents)
        |SELECT source, CAST(epoch AS BIGINT) AS epoch, COUNT(*) AS n_docs,
        |       MIN(md5('mix:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR))) AS first_key
        |FROM t GROUP BY source, epoch ORDER BY source, epoch""".stripMargin,
    "l18_quality_gate" ->
      """WITH m AS (
        |  SELECT doc_id,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |         length(replace(text, ' ', '')) / CAST(len(string_split(text, ' ')) AS BIGINT) AS mean_wlen,
        |         len(regexp_extract_all(text, '[0-9]')) / CAST(length(text) AS DOUBLE) AS digit_ratio,
        |         len(regexp_extract_all(text, '[#<>{}|~]')) / CAST(length(text) AS DOUBLE) AS sym_ratio
        |  FROM documents)
        |SELECT doc_id, n_words,
        |       floor(mean_wlen * 1000000.0 + 0.5) / 1000000.0 AS mean_wlen,
        |       floor(digit_ratio * 1000000.0 + 0.5) / 1000000.0 AS digit_ratio,
        |       floor(sym_ratio * 1000000.0 + 0.5) / 1000000.0 AS sym_ratio,
        |       CAST(n_words >= 5 AND n_words <= 5000 AS INT) AS r_len,
        |       CAST(mean_wlen >= 2.0 AND mean_wlen <= 12.0 AS INT) AS r_wlen,
        |       CAST(digit_ratio <= 0.2 AS INT) AS r_digit,
        |       CAST(sym_ratio <= 0.05 AS INT) AS r_sym,
        |       CAST(n_words >= 5 AND n_words <= 5000 AND mean_wlen >= 2.0 AND mean_wlen <= 12.0
        |            AND digit_ratio <= 0.2 AND sym_ratio <= 0.05 AS INT) AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    // l61: l19's gate CTEs restated per-doc; stage flags NULL below the
    // first failure (the reach contract), kept == l19's population
    "l61_curation_provenance" ->
      """WITH w AS (
        |  SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |m AS (
        |  SELECT *, length(replace(text, ' ', '')) / n_words AS mean_wlen,
        |         len(regexp_extract_all(text, '[0-9]')) / CAST(length(text) AS DOUBLE) AS dig,
        |         len(regexp_extract_all(text, '[#<>{}|~]')) / CAST(length(text) AS DOUBLE) AS sym
        |  FROM w),
        |q AS (
        |  SELECT doc_id, text, CAST(doc_id % 97 = 0 AS INT) AS f_eval,
        |         CASE WHEN doc_id % 97 = 0 THEN NULL
        |              ELSE CAST(NOT (n_words BETWEEN 5 AND 5000
        |                AND mean_wlen BETWEEN 2.0 AND 12.0
        |                AND dig <= 0.2 AND sym <= 0.05) AS INT) END AS f_quality
        |  FROM m),
        |dup AS (
        |  SELECT doc_id,
        |         CAST(doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS INT) AS f_dup
        |  FROM q WHERE f_eval = 0 AND f_quality = 0),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS wl FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(wl)-6),
        |          i -> array_to_string(list_slice(wl, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(wl) >= 8),
        |gh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |e AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT tr.doc_id FROM gh tr JOIN e ON tr.gh = e.gh
        |  WHERE tr.doc_id % 97 <> 0)
        |SELECT q.doc_id, q.f_eval, q.f_quality, d.f_dup,
        |       CASE WHEN d.f_dup = 0
        |            THEN CAST(c.doc_id IS NOT NULL AS INT) END AS f_contam,
        |       CASE WHEN q.f_eval = 1 THEN 'eval_holdout'
        |            WHEN q.f_quality = 1 THEN 'quality'
        |            WHEN d.f_dup = 1 THEN 'exact_dup'
        |            WHEN d.f_dup = 0 AND c.doc_id IS NOT NULL
        |            THEN 'contaminated' END AS first_failed,
        |       CAST(q.f_eval = 0 AND q.f_quality = 0 AND d.f_dup = 0
        |            AND c.doc_id IS NULL AS INT) AS kept
        |FROM q LEFT JOIN dup d USING (doc_id) LEFT JOIN contam c USING (doc_id)
        |ORDER BY q.doc_id""".stripMargin,
    "l19_curation_e2e" ->
      """WITH w AS (
        |  SELECT *, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words FROM documents),
        |m AS (
        |  SELECT *, length(replace(text, ' ', '')) / n_words AS mean_wlen,
        |         len(regexp_extract_all(text, '[0-9]')) / CAST(length(text) AS DOUBLE) AS dig,
        |         len(regexp_extract_all(text, '[#<>{}|~]')) / CAST(length(text) AS DOUBLE) AS sym
        |  FROM w),
        |gated AS (
        |  SELECT * FROM m
        |  WHERE doc_id % 97 <> 0 AND n_words BETWEEN 5 AND 5000
        |    AND mean_wlen BETWEEN 2.0 AND 12.0 AND dig <= 0.2 AND sym <= 0.05),
        |keepids AS (SELECT MIN(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
        |t AS (SELECT doc_id, string_split(lower(text), ' ') AS wl FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |        unnest(list_transform(range(1, len(wl)-6),
        |          i -> array_to_string(list_slice(wl, i, i + 7), ' '))) AS gtext
        |      FROM t WHERE len(wl) >= 8),
        |gh AS (SELECT doc_id,
        |         CAST(('0x' || substr(md5(gtext), 1, 15)) AS BIGINT) AS gh FROM g),
        |e AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 97 = 0),
        |contam AS (
        |  SELECT DISTINCT tr.doc_id FROM gh tr JOIN e ON tr.gh = e.gh
        |  WHERE tr.doc_id % 97 <> 0),
        |final AS (
        |  SELECT * FROM gated
        |  WHERE doc_id IN (SELECT doc_id FROM keepids)
        |    AND doc_id NOT IN (SELECT doc_id FROM contam))
        |SELECT lang,
        |       CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80 THEN 'train'
        |            WHEN CAST(('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90 THEN 'val'
        |            ELSE 'test' END AS split,
        |       COUNT(*) AS n_docs, CAST(SUM(n_words) AS BIGINT) AS tot_tokens
        |FROM final GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "l20_tfidf" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents),
        |tf AS (SELECT doc_id, t, COUNT(*) AS tf FROM w GROUP BY doc_id, t),
        |df AS (SELECT t, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY t),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |s AS (
        |  SELECT tf.doc_id, tf.t, tf.tf, df.df,
        |         tf.tf * ln(n_docs / CAST(df AS DOUBLE)) AS tfidf_raw
        |  FROM tf JOIN df USING (t) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY tfidf_raw DESC, t) AS rk FROM s)
        |SELECT doc_id, rk, t AS term, tf, df,
        |       floor(tfidf_raw * 1000000.0 + 0.5) / 1000000.0 AS tfidf
        |FROM r WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "l21_dedup_clusters" -> l21Oracle,
    // l63: the oracle is deliberately the SAME full-recompute CC as l21's
    // (recursive CTE over the whole pair graph) — hash equality IS the
    // "incremental == rebuild" contract
    "l63_cc_incremental" -> l21Oracle,
    "l64_daily_close" -> l64Oracle,
    // l65: same truth as l21/l63 — the from-scratch CC over the whole
    // pair graph; equality after three sequential merges proves the
    // invariant is closed under iteration
    "l65_multiday_close" -> l21Oracle,
    "l53_dedup_keep_best" -> l53Oracle)
}
