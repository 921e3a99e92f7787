package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.exec.Exec.{cachedModel, finish, parBuild, parPinned, pin,
  warm}
import graft.functions.HashFns._
import graft.model.Model.{MediaFeature, MediaRecord, MediaThumb}
import graft.nlp.Lexicons
import graft.nlp.NlpFunctions.{tokens, MICRO}

/**
 * The LLM-training-data-pipeline operator surface (builder brief §"Beyond
 * the reference's own operators"): deduplication (exact, MinHash+LSH,
 * SimHash, blocked n-gram Jaccard, embedding-cosine), similarity search
 * (brute-force and IVF-bucketed ANN over `embeddings.parquet`), text
 * analysis (language-ID, quality scoring, token counting, fingerprinting)
 * and multimodal-column plumbing — over the driver's `documents` /
 * `embeddings` tables. Every query has a DuckDB mirror in
 * [[graft.oracle.OracleSqlData]]; determinism comes from integer-first
 * arithmetic (micro-unit BIGINTs, MD5-based hashing via
 * [[graft.functions.HashFns]]) so no cross-engine float-summation-order
 * issue can exist.
 *
 * 100 TB design notes (per operator, also in SURVEY.md §2.7):
 *  - every dedup/pair operator generates candidates through a *bucket
 *    join* (LSH band, SimHash chunk, source block, IVF cell) — never an
 *    all-pairs product; the verify stage touches candidates only;
 *  - per-document stages are single-pass projections over one scan;
 *  - MinHash signatures are K min-aggregations in ONE hash aggregate (no
 *    K-fold row blowup before the shuffle);
 *  - ANN broadcasts the small side (queries / centroids) and keeps the
 *    big side un-shuffled until the final per-query top-k.
 */
object DataOps {

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  /** Whitespace words of `text`, empties dropped (the shingling unit) —
    * the native [[graft.functions.WordGramsExpr]] with n = 1 (property-
    * pinned ≡ the `filter(split(...))` composition, whose lambda is
    * CodegenFallback and sat over the documents scan in every token-
    * count query — CodegenLintSpec). */
  private def words(text: Column): Column =
    graft.functions.WordGramsExpr.grams(SparkSession.active, text, 1,
      distinct = false)

  // =================================================================
  // Dedup family
  // =================================================================

  /** Exact dedup: documents grouped by md5(text); survivor = min doc_id,
    * `copies` = group size. One hash-aggregate over the text hash — at
    * 100 TB the shuffle carries (hash, id), never the text. */
  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
      .select(col("doc_id"), col("copies"))

  /** Distinct 3-word shingles per document: (doc_id, sh). Computed by
    * the native [[graft.functions.WordGramsExpr]] — the composed
    * `transform(sequence(...))` form is CodegenFallback and its
    * interpreted evaluation cost more than all of dedupMinhash's joins
    * and aggregates combined (5.5 s vs 0.6 s at sf0.1). */
  private def shingleRows(spark: SparkSession, sfDir: String): DataFrame =
    shingleRowsOf(spark, docs(spark, sfDir))

  private def shingleRowsOf(spark: SparkSession, d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 3,
        distinct = true)).as("sh"))

  /** MinHash parameters: K = B·R signature size, R rows per band. With
    * B=12, R=4 the LSH S-curve threshold is (1/12)^(1/4) ≈ 0.54 — tuned
    * to the verify threshold Jaccard ≥ 0.5. (MinHash: Broder 1997, "On
    * the resemblance and containment of documents"; banded LSH: Leskovec/
    * Rajaraman/Ullman, Mining of Massive Datasets ch. 3.) */
  val MinhashK = 48
  val MinhashR = 4
  val MinhashB = 12

  /** Distinct-shingle HASHES of any (doc_id, text) frame: (doc_id, h)
    * with the full 60-bit [[hash60]] — the signature/verify input
    * shared with the persistent index ([[graft.sources.MinhashIndex]]);
    * verify-stage equality keeps the 2^-60 collision contract, and the
    * mod-P reduction the permutations need happens at signature time. */
  private[graft] def shingleHashes(spark: SparkSession,
      d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 3,
        distinct = true)).as("sh"))
      .select(col("doc_id"), hash60(col("sh")).as("h"))

  /** LSH band buckets of a (doc_id, h) shingle-hash relation:
    * (doc_id, bh) with one 64-bit bucket hash per band — the same
    * banding math as [[dedupMinhash]]'s inline form (kept inline there
    * because that operator's verify stage — and its oracle — compare
    * shingle STRINGS, so its source relation carries `sh`, not `h`). */
  private[graft] def minhashBandsOf(sh: DataFrame): DataFrame = {
    val mins = (0 until MinhashK).map(i =>
      min(permHash(i, pmod(col("h"), lit(graft.functions.HashFns.P))))
        .as(s"m$i"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandArr = array((0 until MinhashB).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until MinhashR).map(r =>
          col(s"m${b * MinhashR + r}")): _*).as("bkey"))
    }: _*)
    sig.select(col("doc_id"), explode(bandArr).as("bk"))
      .select(col("doc_id"),
        xxhash64(col("bk.band"), col("bk.bkey")).as("bh"))
  }

  /** MinHash+LSH near-dup: 3-word shingles → 48-permutation signature →
    * 12 bands of 4 → bucket self-join → exact-Jaccard verify ≥ 0.5.
    * Output: (doc_a, doc_b, jac_micro), doc_a < doc_b.
    *
    * The signature is ONE groupBy(doc_id) with 48 min() aggregates over a
    * per-shingle hash array — map-side partial min keeps the shuffle at
    * 48 longs per document regardless of document size. */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    dedupMinhashFrom(spark, docs(spark, sfDir))

  /** [[dedupMinhash]] over an explicit (doc_id, text) frame — the same
    * plan on any sub-corpus (shared with [[dedupRecallEval]]'s
    * sample-restricted tier). */
  private[graft] def dedupMinhashFrom(spark: SparkSession,
      d: DataFrame): DataFrame = {
    // Persisted: the shingle relation feeds four plan branches (signature,
    // both verify sides, sizes) and the band relation two (the bucket
    // self-join); without persistence Spark re-executes each occurrence.
    val sh = Exec.persist(
      shingleRowsOf(spark, d).withColumn("hp", hashP(col("sh"))))
    val mins = (0 until MinhashK).map(i =>
      min(permHash(i, col("hp"))).as(s"m$i"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandArr = array((0 until MinhashB).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until MinhashR).map(r =>
          col(s"m${b * MinhashR + r}")): _*).as("bkey"))
    }: _*)
    // Band buckets join on ONE 64-bit hash of (band, bkey) instead of the
    // ~40-char signature string — a narrower shuffle at any scale. A hash
    // collision only ADDs a candidate pair, which the exact-Jaccard
    // verify below re-checks: a false pair dies there, and a colliding
    // TRUE pair (Jaccard >= 0.5 yet sharing no band) would be a bonus
    // catch banded LSH misses — in that ~2^-64 event this engine and the
    // string-keyed oracle differ; LSH candidates are probabilistic by
    // design, so parity is with-high-probability, not bit-guaranteed.
    val bands = Exec.persist(sig
      .select(col("doc_id"), explode(bandArr).as("bk"))
      .select(col("doc_id"),
        xxhash64(col("bk.band"), col("bk.bkey")).as("bh")))
    // (Round 17 probed the dedupNgramSource candidate-pin here — a
    // paired A/B read it neutral-to-negative for this operator, whose
    // verify carries scalar shingle rows rather than per-doc arrays,
    // so the pin stays ngram-only. See OPTIMIZATION_r17.md.)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val nsh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val inter = cand
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    finish(inter
      .join(nsh.as("na"), col("doc_a") === col("na.doc_id"))
      .join(nsh.as("nb"), col("doc_b") === col("nb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na.nsh") + col("nb.nsh") - col("inter")).cast("double") *
          lit(MICRO)).cast("long").as("jac_micro"))
      .where(col("jac_micro") >= 500000L),
      sh, bands)
  }

  /** Hard cap on the recall-evaluation sample: the eval computes the
    * TRUE near-dup pair set (complete all-pairs-with-a-common-shingle
    * ground truth), which is quadratic in the sample — sound for QC on
    * a bounded sample, never a production dedup path. The assert makes
    * a corpus-scaling sample fail loudly (the [[MaxAnnQueries]] /
    * [[MaxBenchmarkGrams]] pattern). */
  val MaxRecallEvalDocs: Long = 4096L

  /** MinHash/LSH RECALL EVALUATION — the sketch-QC pass beside the
    * dedup operator itself (as [[langConfusion]] is to [[langId]]): on
    * a deterministic ~20% hash sample of documents, compare the banded
    * LSH candidate pairs against the complete ground truth (every pair
    * with exact Jaccard ≥ 0.5 — complete because J ≥ 0.5 implies a
    * shared shingle, so the common-shingle join misses nothing).
    * Output one row: (n_docs, n_true, n_cand, n_hit, recall_micro,
    * precision_micro) — recall is the S-curve guarantee actually
    * delivered on this corpus; precision is the verify-stage workload
    * the bands admit.
    *
    * Candidate parity note: the engine's band buckets key on a 64-bit
    * hash, the oracle's on the signature string — identical pair sets
    * except under a ~2^-64 hash collision (same documented
    * with-high-probability contract as [[dedupMinhash]]). */
  def minhashRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    // deterministic sample, salt decorrelated from sampleByHash/strat
    val ids0 = docs(spark, sfDir).select(col("doc_id"))
      .where(pmod(graft.functions.HashFns.hash60(
        concat(lit("recall:"), col("doc_id"))), lit(5L)) === 0L)
    // Persisted: the one-row count feeds both the in-plan guard and the
    // output row — without it the documents scan + count would execute
    // once per use (exchange reuse does not span the persist boundary).
    val ndocs = Exec.persist(ids0.agg(count(lit(1)).as("n_docs")))
    // The size-cap guard rides INSIDE the plan (assert_true over the
    // broadcast count) instead of an eager driver-side count(), so
    // CONSTRUCTING this query runs no job (plan-only paths — explain,
    // registry audits — stay lazy). The guarded sample feeds every
    // downstream branch, so an oversized sample fails in the first
    // stage that reads it, before any quadratic work.
    val ids = ids0.crossJoin(broadcast(ndocs))
      .select(when(assert_true(col("n_docs") <= lit(MaxRecallEvalDocs),
          lit(s"recall-eval sample has >$MaxRecallEvalDocs docs — the " +
            "all-pairs ground truth would go quadratic; shrink the " +
            "sample rate")).isNull,
        col("doc_id")).as("doc_id"))
    val sh = Exec.persist(shingleRows(spark, sfDir)
      .join(ids, Seq("doc_id"), "left_semi")
      .withColumn("hp", hashP(col("sh"))))
    // exact ground truth: common-shingle pairs + Jaccard >= 0.5 — the
    // SAME relation [[dedupRecallEval]] scores against (same 'recall:'
    // mod-5 sample, same threshold), so it shares that audit's
    // (sfDir)-keyed [[cachedModel]] entry: the quadratic all-pairs
    // stage runs once per JVM whichever audit asks first (the
    // [[annTruth]] discipline — truths are cached, TIERS re-run).
    val truth = cachedModel(s"dedupTruth:$sfDir") {
      val nsh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      sh.as("sa").join(sh.as("sb"),
          col("sa.sh") === col("sb.sh") &&
            col("sa.doc_id") < col("sb.doc_id"))
        .groupBy(col("sa.doc_id").as("doc_a"), col("sb.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(nsh.as("na"), col("doc_a") === col("na.doc_id"))
        .join(nsh.as("nb"), col("doc_b") === col("nb.doc_id"))
        .where(round(col("inter").cast("double") /
          (col("na.nsh") + col("nb.nsh") - col("inter")).cast("double") *
          lit(MICRO)).cast("long") >= 500000L)
        .select(col("doc_a"), col("doc_b"))
    }
    // LSH candidates: same signature/band plan as dedupMinhash
    val mins = (0 until MinhashK).map(i =>
      min(permHash(i, col("hp"))).as(s"m$i"))
    val sig = sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
    val bandArr = array((0 until MinhashB).map { b =>
      struct(lit(b).as("band"),
        concat_ws("_", (0 until MinhashR).map(r =>
          col(s"m${b * MinhashR + r}")): _*).as("bkey"))
    }: _*)
    val bands = sig.select(col("doc_id"), explode(bandArr).as("bk"))
      .select(col("doc_id"),
        xxhash64(col("bk.band"), col("bk.bkey")).as("bh"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val hits = cand.join(truth, Seq("doc_a", "doc_b"), "left_semi")
    val out = truth.agg(count(lit(1)).as("n_true"))
      .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .crossJoin(broadcast(ndocs))
      .select(col("n_docs"), col("n_true"), col("n_cand"),
        col("n_hit"),
        expr("CASE WHEN n_true > 0 THEN (n_hit * 1000000) div n_true " +
          "ELSE 1000000 END").as("recall_micro"),
        expr("CASE WHEN n_cand > 0 THEN (n_hit * 1000000) div n_cand " +
          "ELSE 1000000 END").as("precision_micro"))
    finish(out, sh, ndocs)
  }

  /** DEDUP-FAMILY RECALL AUDIT — the [[annRecallEval]] discipline
    * applied to the text-dedup tiers: every SHIPPED pair relation
    * (exact md5 pairs, the MinHash-LSH verified pairs of
    * [[dedupMinhash]], the Hamming ≤ 3 pairs of [[dedupSimhash]], the
    * within-source Jaccard ≥ 0.8 pairs of [[dedupNgramSource]]) scored
    * on ONE sampled sub-corpus against ONE exact ground truth — the
    * complete common-shingle pair set at shingle-Jaccard ≥ 0.5
    * ([[minhashRecallEval]]'s truth) — so the tiers' coverage is
    * COMPARABLE: which true near-dup pairs each tier actually reports,
    * and how much verify workload it admits per hit. Output 4 rows:
    * (tier ∈ {exact, minhash, ngram, simhash}, n_true, n_cand, n_hit,
    * recall_micro, precision_micro). Expected shape, pinned in
    * DataOpsSpec: exact recall ≪ simhash/ngram ≪ minhash (each tier
    * targets a stricter similarity than the truth's 0.5), minhash
    * precision = 10^6 by construction (its verify threshold IS the
    * truth's).
    *
    * Each tier runs its standalone operator's own plan verbatim over
    * the sampled frame ([[dedupMinhashFrom]] / [[dedupSimhashFrom]] /
    * [[ngramPairsFrom]] — per-doc signatures depend only on a doc's
    * own text, and the PPJoin prefix filter is lossless, so
    * sample-restriction commutes with every tier).
    *
    * 100 TB shape: the sample is guarded at [[MaxRecallEvalDocs]]
    * (in-plan assert — the all-pairs truth is the one quadratic here);
    * every tier inherits its operator's own scale plan; the audit
    * algebra runs on pair relations of the bounded sample. */
  def dedupRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val ids0 = docs(spark, sfDir).select(col("doc_id"))
      .where(pmod(graft.functions.HashFns.hash60(
        concat(lit("recall:"), col("doc_id"))), lit(5L)) === 0L)
    val ndocs = Exec.persist(ids0.agg(count(lit(1)).as("n_docs")))
    val ids = ids0.crossJoin(broadcast(ndocs))
      .select(when(assert_true(col("n_docs") <= lit(MaxRecallEvalDocs),
          lit(s"recall-eval sample has >$MaxRecallEvalDocs docs — the " +
            "all-pairs ground truth would go quadratic; shrink the " +
            "sample rate")).isNull,
        col("doc_id")).as("doc_id"))
    val d = Exec.persist(docs(spark, sfDir)
      .join(ids, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("source"), col("text")))
    // exact ground truth: common-shingle pairs + Jaccard >= 0.5 (the
    // minhashRecallEval truth, over the same sample). Deterministic and
    // (sfDir)-keyed, so it joins the [[cachedModel]] discipline — the
    // all-pairs scan (the audit's single heaviest stage, guarded to the
    // 4096-doc sample) runs once per JVM; the TIERS, the audit's actual
    // product, re-run per call.
    val truth = cachedModel(s"dedupTruth:$sfDir") {
      val sh = Exec.persist(shingleRowsOf(spark, d))
      val nsh = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
      val t = pin(sh.as("sa").join(sh.as("sb"),
          col("sa.sh") === col("sb.sh") &&
            col("sa.doc_id") < col("sb.doc_id"))
        .groupBy(col("sa.doc_id").as("doc_a"),
          col("sb.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("inter"))
        .join(nsh.as("na"), col("doc_a") === col("na.doc_id"))
        .join(nsh.as("nb"), col("doc_b") === col("nb.doc_id"))
        .where(round(col("inter").cast("double") /
          (col("na.nsh") + col("nb.nsh") - col("inter")).cast("double") *
          lit(MICRO)).cast("long") >= 500000L)
        .select(col("doc_a"), col("doc_b")))
      sh.unpersist()
      t
    }
    val hashes = d.select(col("doc_id"), md5(col("text")).as("h"))
    val exactPairs = hashes.as("a").join(hashes.as("b"),
        col("a.h") === col("b.h") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // Warm the shared sampled-corpus cache once, then evaluate the four
    // tier pair reports on overlapped driver threads ([[parPinned]] —
    // all bounded by the guarded sample) instead of strictly serially.
    warm(d)
    val tiers: Seq[(String, DataFrame)] =
      Seq("exact", "minhash", "ngram", "simhash").zip(parPinned(Seq(
        () => exactPairs,
        () => dedupMinhashFrom(spark, d)
          .select(col("doc_a"), col("doc_b")),
        () => ngramPairsFrom(spark, d)
          .select(col("doc_a"), col("doc_b")),
        () => dedupSimhashFrom(spark, d)
          .select(col("doc_a"), col("doc_b")))))
    val out = tiers.map { case (name, pairs) =>
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(pairs.agg(count(lit(1)).as("n_cand")))
        .crossJoin(pairs.join(truth, Seq("doc_a", "doc_b"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(lit(name).as("tier"), col("n_true"), col("n_cand"),
          col("n_hit"),
          expr("CASE WHEN n_true > 0 THEN (n_hit * 1000000) div n_true " +
            "ELSE 1000000 END").as("recall_micro"),
          expr("CASE WHEN n_cand > 0 THEN (n_hit * 1000000) div n_cand " +
            "ELSE 1000000 END").as("precision_micro"))
    }.reduce(_ unionByName _)
    finish(out, d, ndocs)
  }

  /** Min-label connected components over an undirected edge list
    * (doc_a, doc_b): returns (doc_id, rep) for every node APPEARING IN AN
    * EDGE, rep = minimum id reachable — with O(log n) convergence and
    * per-round lineage truncation.
    *
    * Each round combines two exact label updates:
    *  1. HOP — every node takes the min of its own and its neighbors'
    *     labels (one join + one min-aggregate), the MapReduce "hash-min"
    *     step (cf. Kiveris et al. 2014, "Connected Components in
    *     MapReduce and Beyond");
    *  2. POINTER JUMP — every node then shortcuts to its (new) label's
    *     OWN label (one self-join), the PRAM pointer-doubling step.
    * Hop alone converges in O(diameter) rounds (a 1000-doc chain = 1000
    * rounds); the jump roughly doubles each node's distance-to-minimum
    * coverage per round, giving O(log n) on chains — pinned by a
    * 1024-node-chain fixture in DataOpsSpec. Labels only ever decrease
    * and never leave the component, so the fixpoint (no change anywhere)
    * is exactly "every component uniformly labeled with its min".
    *
    * Every round's labels are eagerly `localCheckpoint`ed: the plan feeds
    * the next round, so without truncation lineage would deepen by two
    * joins per round and re-planning cost would grow quadratically; the
    * checkpoint also IS the round's cache (tiny — two longs per near-dup
    * node), and abandoned round frames are reaped by the context cleaner.
    * Returns (labels, rounds). */
  private[graft] def connectedComponents(spark: SparkSession,
      pairs: DataFrame): (DataFrame, Int) = {
    val edges = Exec.persist(pairs.select(col("doc_a"), col("doc_b"))
      .union(pairs.select(col("doc_b").as("doc_a"),
        col("doc_a").as("doc_b"))))
    def roundStep(labels: DataFrame): DataFrame =
      componentRound(edges, labels)
    val init = edges.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("rep", col("doc_id"))
    if (Exec.planOnly) {
      // Plan-audit mode: a fixed 2-round unrolling as a PURE plan — no
      // counts, no checkpoints, zero jobs at construction. The unrolled
      // round bodies are exactly the executed ones, so plan audits
      // (codegen / join-strategy asserts) see the real shapes.
      val two = roundStep(roundStep(init)).select(col("doc_id"), col("rep"))
      return (two, 2)
    }
    var labels = init.localCheckpoint(true)
    var changed = 1L
    var rounds = 0
    while (changed > 0) {
      val step = roundStep(labels).localCheckpoint(true)
      changed = step.where(col("rep") =!= col("orep")).count()
      labels = step.select(col("doc_id"), col("rep"))
      rounds += 1
    }
    edges.unpersist()
    (labels, rounds)
  }

  /** One component round: hash-min HOP + POINTER JUMP (the two exact
    * label updates of [[connectedComponents]]'s scaladoc), exposed so
    * ScaleOpsSpec can pin its skew behavior on the IDENTICAL join
    * expressions the loop executes.
    *
    * HOT-KEY SHAPE AT CRAWL SCALE: a mega dup-family (one boilerplate
    * page duplicated millions of times) makes (a) its hub nodes hot on
    * `doc_b` in the neighbor join and (b) its min label hot on `rep1`
    * in the jump join. Neither side is small (labels is dup-subgraph-
    * sized), so the [[graft.ops.ScaleOps.saltedJoin]] small-dim
    * replication trick does not apply — this is exactly the
    * both-sides-large case its scaladoc routes to AQE, and the loop's
    * per-round `localCheckpoint` is what KEEPS both skewable joins
    * splittable: labels enter every round as a lineage-free scan, so
    * each join reads two PLAIN exchanges (`ENSURE_REQUIREMENTS`
    * shuffles directly under the join) — the only shape
    * OptimizeSkewedJoin can split; an aggregate-produced side
    * (co-partitioned, no exchange under the join) would be
    * unsplittable. Pinned in ScaleOpsSpec on a hot-family star fixture
    * (`skew=true` in the executed sort-merge join, test-scaled
    * thresholds). The middle hop join — labels ⋈ per-node neighbor
    * mins — is the one join whose right side IS aggregate-produced,
    * and deliberately so: both its keys (doc_id, doc_a-after-agg) are
    * UNIQUE per row, so no hot key can exist there. Labels only ever
    * decrease, so the hot key's row count is bounded by the family
    * size in every round. */
  private[graft] def componentRound(edges: DataFrame,
      labels: DataFrame): DataFrame = {
    val nbr = edges
      .join(labels.select(col("doc_id").as("nid"), col("rep").as("nrep")),
        col("doc_b") === col("nid"))
      .groupBy(col("doc_a")).agg(min(col("nrep")).as("nbrRep"))
    val hop = labels
      .join(nbr, col("doc_id") === col("doc_a"), "left")
      .select(col("doc_id"), col("rep").as("orep"),
        least(col("rep"), coalesce(col("nbrRep"), col("rep"))).as("rep1"))
    hop
      .join(labels.select(col("doc_id").as("jid"), col("rep").as("jrep")),
        col("rep1") === col("jid"), "left")
      .select(col("doc_id"), col("orep"),
        least(col("rep1"), coalesce(col("jrep"), col("rep1"))).as("rep"))
  }

  /** Near-dup cluster assignment: connected components over the MinHash
    * pair graph ([[dedupMinhash]]), labeling every document with the
    * minimum doc_id reachable through near-dup edges — the survivor its
    * cluster keeps. Output (doc_id, rep, keep) for ALL documents
    * (singletons are their own rep).
    *
    * The component loop ([[connectedComponents]]: hash-min hop + pointer
    * jump, O(log n) rounds, per-round lineage checkpoint) iterates over
    * the near-dup SUBGRAPH only — its working set is proportional to the
    * duplicate graph, not the corpus; singletons join back in one final
    * pass and the text never enters the loop. */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // dedupMinhash returns a materialized, lineage-free pair set (its
    // `finish`), so both union branches inside the loop read cheap scans.
    val pairs = dedupMinhash(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val (labels, _) = connectedComponents(spark, pairs)
    docs(spark, sfDir).select(col("doc_id"))
      .join(labels.withColumnRenamed("doc_id", "mid"),
        col("doc_id") === col("mid"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("rep"))
      .withColumn("keep", col("doc_id") === col("rep"))
  }

  /** TRIANGLE ENUMERATION over the near-dup pair graph — the
    * transitivity QC of the dedup pass (graph-analytics tier beside
    * [[dedupClusters]]'s connected components): every doc triple whose
    * three pairs all verified as near-dups in [[dedupMinhash]]. Dense
    * triangle support says a cluster is a genuine dup family; an edge
    * in no triangle is more likely an LSH borderline pair.
    *
    * The plan is the DEGREE-ORDERED ORIENTED wedge join (the standard
    * O(m^1.5) distributed triangle scheme — e.g. Suri & Vassilvitskii
    * 2011): orient each undirected edge from its lower-(degree, id)
    * endpoint to the higher; every triangle then has exactly ONE vertex
    * with both triangle edges outgoing, so wedges (pairs of
    * out-neighbors) enumerate each triangle once, and a hot hub's wedge
    * count is bounded by its ORIENTED out-degree (≤ √(2m) amortized),
    * never its raw degree — the difference between a celebrity node
    * producing deg² wedges and the provably-linear-ish plan. The wedge
    * close is one equi-join back on the (a<b) undirected pair set.
    * Output (doc_a, doc_b, doc_c), id-sorted. */
  def dupTriangles(spark: SparkSession, sfDir: String): DataFrame = {
    val p = Exec.persist(
      dedupMinhash(spark, sfDir).select(col("doc_a"), col("doc_b")))
    val deg = p.select(col("doc_a").as("v"))
      .union(p.select(col("doc_b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val oriented = p
      .join(deg.select(col("v").as("doc_a"), col("d").as("da")),
        Seq("doc_a"))
      .join(deg.select(col("v").as("doc_b"), col("d").as("db")),
        Seq("doc_b"))
      .select(
        when(struct(col("da"), col("doc_a")) <
          struct(col("db"), col("doc_b")), col("doc_a"))
          .otherwise(col("doc_b")).as("src"),
        when(struct(col("da"), col("doc_a")) <
          struct(col("db"), col("doc_b")), col("doc_b"))
          .otherwise(col("doc_a")).as("dst"))
    val wedges = oriented.select(col("src"), col("dst").as("w1"))
      .join(oriented.select(col("src"), col("dst").as("w2")), Seq("src"))
      .where(col("w1") < col("w2"))
    val out = wedges
      .join(p.select(col("doc_a").as("w1"), col("doc_b").as("w2")),
        Seq("w1", "w2"))
      .select(expr("array_sort(array(src, w1, w2))").as("t"))
      .select(col("t").getItem(0).as("doc_a"),
        col("t").getItem(1).as("doc_b"),
        col("t").getItem(2).as("doc_c"))
    finish(out, p)
  }

  /** Synchronous label-propagation rounds of [[dupCommunities]] —
    * fixed so the oracle can unroll them. */
  val LpaIters = 5

  /** COMMUNITY DETECTION by label propagation (Raghavan, Albert &
    * Kumara 2007) over the near-dup pair graph — the graph tier's
    * FOURTH member beside components (D15), triangles (D51) and
    * PageRank (E15): [[LpaIters]] SYNCHRONOUS rounds, every node
    * simultaneously adopting its neighbors' plurality label (count
    * desc, label asc tie-break), labels initialized to the node id.
    * Where components answer "what is connected at all", communities
    * split a weak LSH-borderline bridge between two dense dup families
    * — the cluster-granularity QC sitting between D15's components and
    * D51's per-edge triangle support. Sync LPA with a deterministic
    * tie-break is fully replayable (no randomized async schedule — what
    * makes a DuckDB oracle possible), and the fixed round count
    * sidesteps sync-LPA's known 2-cycles. Output (doc_id, community,
    * n_members) over the pair-graph nodes.
    *
    * 100 TB shape: each round is ONE equi-join of the edge relation
    * onto the label relation + two hash aggregates (plurality =
    * `max(struct(cnt, −label))` — no per-node window, no sort); rounds
    * localCheckpoint like [[connectedComponents]] so lineage stays
    * flat; every relation is proportional to the DUP GRAPH, never the
    * corpus. Oracle: the [[dedupMinhash]] pair CTE inlined + the rounds
    * unrolled as generated CTEs (the mmrDiversify discipline). */
  def dupCommunities(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = dedupMinhash(spark, sfDir)
      .select(col("doc_a"), col("doc_b"))
    val edges = Exec.persist(
      pairs.select(col("doc_a").as("a"), col("doc_b").as("b"))
        .union(pairs.select(col("doc_b").as("a"), col("doc_a").as("b"))))
    def step(labels: DataFrame): DataFrame =
      edges.join(labels.select(col("node").as("b"), col("lab")), Seq("b"))
        .groupBy(col("a"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("a"))
        .agg(max(struct(col("c"), (-col("lab")).as("nl"))).as("m"))
        .select(col("a").as("node"), (-col("m.nl")).as("lab"))
    var labels = pin(edges.select(col("a").as("node")).distinct()
      .select(col("node"), col("node").as("lab")))
    (1 to LpaIters).foreach { _ => labels = pin(step(labels)) }
    val sizes = labels.groupBy(col("lab"))
      .agg(count(lit(1)).as("n_members"))
    finish(labels.join(sizes, Seq("lab"))
      .select(col("node").as("doc_id"), col("lab").as("community"),
        col("n_members")),
      edges)
  }

  /** SimHash signature width and chunk geometry. 60 bits (the full
    * [[hash60]] word) split into 4 chunks of 15 bits ⇒ 32768 buckets per
    * chunk, so bucket population is ~N/32768 and the candidate self-join
    * stays near-linear as the corpus grows (the earlier 32-bit/8-bit
    * form had only 256 buckets per chunk — quadratic at scale).
    * Pigeonhole exactness for d ≤ 3 needs only ≥ 4 chunks, so the wider
    * chunks lose nothing. */
  val SimhashBits = 60
  val SimhashChunks = 4
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks

  /** 60-bit SimHash over whitespace-token frequencies (Charikar 2002
    * similarity estimation; chunk-bucketed pairing as in Manku et al.
    * 2007, "Detecting Near-Duplicates for Web Crawling"). */
  private def simhashSigsFrom(spark: SparkSession, d: DataFrame): DataFrame = {
    val wc = d
      .select(col("doc_id"),
        explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 1,
          distinct = false)).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("h", hash60(col("w")))
    val sums = (0 until SimhashBits).map(j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L,
        col("cnt")).otherwise(-col("cnt"))).as(s"s$j"))
    wc.groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup: pairs at Hamming distance ≤ 3 over the
    * [[SimhashBits]]-bit signature. Candidates via [[SimhashChunks]]
    * 15-bit-chunk buckets — EXACT for d ≤ 3 by pigeonhole (4 chunks,
    * ≤ 3 differing bits ⇒ ≥ 1 equal chunk), so the bucket join loses
    * nothing vs all-pairs. Output (doc_a, doc_b, hamming). */
  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    dedupSimhashFrom(spark, docs(spark, sfDir))

  /** [[dedupSimhash]] over an explicit (doc_id, text) frame (shared
    * with [[dedupRecallEval]]'s sample-restricted tier). */
  private[graft] def dedupSimhashFrom(spark: SparkSession,
      d: DataFrame): DataFrame = {
    // Persisted: feeds the chunk self-join (twice) and both verify sides.
    val sig = Exec.persist(simhashSigsFrom(spark, d))
    val chunkArr = array((0 until SimhashChunks).map(c =>
      struct(lit(c).as("c"),
        shiftright(col("simhash"), SimhashChunkBits * c)
          .bitwiseAND(lit((1L << SimhashChunkBits) - 1))
          .as("chunk"))): _*)
    val chunks = sig.select(col("doc_id"), explode(chunkArr).as("ck"))
      .select(col("doc_id"), col("ck.c").as("c"), col("ck.chunk").as("chunk"))
    val cand = chunks.as("x").join(chunks.as("y"),
        col("x.c") === col("y.c") && col("x.chunk") === col("y.chunk") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    finish(cand
      .join(sig.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sig.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sa.simhash").bitwiseXOR(col("sb.simhash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3L),
      sig)
  }

  /** Blocked n-gram (token-set) Jaccard: near-dup pairs *within a source
    * block* at Jaccard ≥ 0.8 — the crawl-snapshot dedup pattern where the
    * block key (source) bounds the candidate set. Output (source, doc_a,
    * doc_b, jac_micro).
    *
    * Candidate generation uses EXACT prefix filtering (AllPairs:
    * Bayardo et al. 2007, "Scaling Up All Pairs Similarity Search";
    * PPJoin: Xiao et al. 2008): under a global token order (rarest first, token asc
    * tie-break), two sets with Jaccard ≥ t MUST share a token among each
    * set's first |T| − ⌈t·|T|⌉ + 1 tokens — so only those prefix tokens
    * enter the bucket join, pruning the frequent-token buckets that
    * dominate an unfiltered (block, token) self-join. Verification then
    * touches candidate pairs only. */
  def dedupNgramSource(spark: SparkSession, sfDir: String): DataFrame =
    ngramPairsFrom(spark, docs(spark, sfDir))

  /** [[dedupNgramSource]] over an explicit (doc_id, source, text) frame
    * (shared with [[dedupRecallEval]]'s sample-restricted tier). The
    * PPJoin prefix ranks re-derive from whatever corpus is passed, and
    * since prefix+position filtering is LOSSLESS the output pair set is
    * the definitional Jaccard ≥ 0.8 relation either way. */
  private[graft] def ngramPairsFrom(spark: SparkSession,
      d: DataFrame): DataFrame = {
    // Persisted: token relation feeds ranking, both verify sides, sizes.
    // Warmed once up front so the candidate job's branches (ntok, freq,
    // both self-join sides) read a filled cache instead of racing to
    // duplicate the tokenize (paired with the cand pin below: part of
    // the measured 6.1–6.8 → 3.0–3.5 s round-17 win).
    val tok = Exec.persist(d
      .select(col("doc_id"), col("source"),
        explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 1,
          distinct = true)).as("w")))
    warm(tok)
    val ntok = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("nt"))
    val freq = tok.groupBy(col("w")).agg(count(lit(1)).as("f"))
    val ranked = tok.join(freq, Seq("w"))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("f").asc, col("w").asc)))
      .join(ntok, Seq("doc_id"))
      // prefix length = nt − ⌈0.8·nt⌉ + 1, with the ceil in EXACT integer
      // arithmetic (⌈4·nt/5⌉ = (4·nt+4) div 5) — a float ceil could round
      // 4.0 up spuriously and silently drop true pairs.
      .where(col("r") <= col("nt") - expr("(nt * 4 + 4) div 5") + 1)
      .select(col("doc_id"), col("source"), col("w"), col("nt"),
        col("r").cast("long").as("r"))
    // Candidate join on a 64-bit (source, token) hash — narrower shuffle
    // than the raw strings; collisions only add candidates, and the exact
    // set-intersection verify below discards them. The PPJoin LENGTH
    // filter rides along: J ≥ 4/5 forces min(nt)/max(nt) ≥ 4/5 (since
    // J ≤ min/max for sets), so `5·min ≥ 4·max` in exact integers never
    // drops a true pair — it cut the surviving candidate pairs 47%
    // (606k → 322k at sf0.1) before the expensive verify join.
    val pref = ranked.select(
      col("doc_id"), col("source"), col("nt"), col("r"),
      xxhash64(col("source"), col("w")).as("wh"))
    // PPJoin POSITION filter (Xiao et al. 2008 §3.2) as a join residual:
    // a matching token at 1-based global-order ranks (r_a, r_b) bounds
    // the remaining overlap by min(nt_a − r_a, nt_b − r_b) + 1, and
    // J ≥ 4/5 needs overlap O with 9·O ≥ 4·(nt_a + nt_b) exactly (O
    // integer). A true pair always survives via its FIRST common token:
    // every common token sits at rank ≥ r on both sides there, so the
    // bound ≥ O holds — the filter only prunes candidates the verify
    // would reject, for free (a join residual, no extra shuffle).
    // Measured on the adversarial sf0.1 fixture: 322k → 304k verify
    // pairs (~6% — the 31-word uniform vocabulary that defeats prefix
    // pruning makes positions near-uninformative too; on a Zipfian
    // real-corpus vocabulary the prefix ranks separate and this filter
    // is the classic PPJoin win).
    // The candidate relation is persisted and warmed before the verify
    // join plans: with its ACTUAL size known (|pairs| rows of three
    // scalar columns — two ids and a source, bounded by the prefix
    // filter), the verify joins build against the candidate side and
    // the array-carrying docTok relation stops being re-shuffled under
    // both join branches of one monolithic job. Measured round 17
    // (same band, exact-copy control): 6.1–6.8 s → 3.0–3.5 s at sf0.1
    // — the single largest honest cost in the registry halved with the
    // pair set, the verify arithmetic and the output bit-identical
    // (guide §1.2 step 1 / §3.1 "pick the join strategy
    // deliberately"). Scale note: |cand| is the PPJoin survivor set —
    // the relation the verify was already paying a shuffle for — so
    // the extra materialization is |pairs|·3 scalars, never corpus-
    // sized text.
    val cand = Exec.persist(pref.as("a").join(pref.as("b"),
        col("a.wh") === col("b.wh") &&
          col("a.source") === col("b.source") &&
          col("a.doc_id") < col("b.doc_id") &&
          col("a.nt") * 5 >= col("b.nt") * 4 &&
          col("b.nt") * 5 >= col("a.nt") * 4 &&
          lit(9L) * (least(col("a.nt") - col("a.r"),
            col("b.nt") - col("b.r")) + 1L) >=
            lit(4L) * (col("a.nt") + col("b.nt")))
      .select(col("a.source").as("source"), col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"))
      .distinct())
    warm(cand)
    // Exact verify: each doc's DISTINCT token set rides through the pair
    // join as ONE array row and the intersection is a per-pair
    // `array_intersect` — |pairs| shuffled rows with bounded arrays,
    // instead of the |pairs × tokens| double-explode join (≈20× more
    // rows at sf0.1). Set size is bounded by document length, so the
    // array form also holds at 100 TB; intersection size is
    // order-independent, so the unordered collect_set is deterministic.
    val docTok = tok.groupBy(col("doc_id"))
      .agg(collect_set(col("w")).as("ws"), count(lit(1)).as("nt"))
    finish(cand
      .join(docTok.select(col("doc_id").as("doc_a"), col("ws").as("wa"),
        col("nt").as("na")), Seq("doc_a"))
      .join(docTok.select(col("doc_id").as("doc_b"), col("ws").as("wb"),
        col("nt").as("nb")), Seq("doc_b"))
      .withColumn("inter", size(array_intersect(col("wa"), col("wb")))
        .cast("long"))
      .select(col("source"), col("doc_a"), col("doc_b"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double") *
          lit(MICRO)).cast("long").as("jac_micro"))
      .where(col("jac_micro") >= 800000L),
      tok, cand)
  }

  /** Verbatim-run length for substring dedup. Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") uses
    * 50 BPE tokens on web corpora; the fixture documents average 54
    * whitespace tokens (max 99), so the registry entry runs at 20 —
    * same plan, fixture-proportionate threshold. The operator takes the
    * length as a parameter; 50 stays the production default. */
  val SubstringRunDefault = 50
  val SubstringRunFixture = 20

  /** SUBSTRING-level exact dedup (Lee et al. 2022): flag documents that
    * share a ≥ g-token VERBATIM token run with an EARLIER document —
    * the dedup mode that catches boilerplate/quotation overlap between
    * otherwise-distinct documents, which whole-document hashing
    * ([[dedupExact]]) and set-similarity ([[dedupMinhash]] /
    * [[dedupNgramSource]]) both miss.
    *
    * Shape (suffix-array-free, relational): every g-token sliding gram
    * becomes a 60-bit fingerprint at its token position; a gram
    * occurrence in doc d is DUPLICATED iff the corpus-wide minimum
    * doc_id holding that fingerprint is < d (the earliest document
    * keeps its copy — the same survivor discipline as [[dedupExact]]);
    * each doc's duplicated occurrences [p, p+g−1] then interval-merge
    * into maximal duplicated runs (two intervals merge when they
    * overlap or touch: p ≤ prev_p + g).
    *
    * Output, one row per document with ≥ 1 duplicated run:
    * (doc_id, n_tokens, n_runs, dup_tokens, max_run) — dup_tokens is
    * the merged coverage a trim pass would cut.
    *
    * 100 TB plan notes: the gram STRING dies in the first projection —
    * only (gh, doc_id, pos) shuffles (the [[dedupExact]] discipline);
    * the min-doc aggregate is map-side combinable and its exchange is
    * reused by the duplicated-occurrence join (same gh key); the
    * interval-merge windows partition by doc_id over DUPLICATED
    * occurrences only, bounded by document length — no all-pairs stage,
    * no per-pair alignment, no suffix array. */
  /** The merged duplicated-run intervals behind [[dedupSubstring]] /
    * [[trimSubstringDups]]: (doc_id, n_tok, run_id, s, e) — one row per
    * maximal duplicated token run [s, e] (0-based, inclusive). */
  private def substringRuns(spark: SparkSession, sfDir: String,
      g: Int): DataFrame = {
    // The gram array is materialized ONCE as a column; n_tok derives
    // from its size (n_grams + g − 1 ≡ the token count for every doc
    // long enough to emit a gram — shorter docs emit nothing). No
    // higher-order lambda appears anywhere, so the explode + hash
    // projection stays inside whole-stage codegen — a `size(filter(
    // split(...)))` here demoted the entire 178k-row stage to
    // interpreted eval and cost ~2 s of the query's 3.4 s at sf0.1.
    val occ = docs(spark, sfDir)
      .select(col("doc_id"),
        graft.functions.WordGramsExpr.grams(spark, col("text"),
          g, distinct = false).as("gs"))
      .select(col("doc_id"),
        (size(col("gs")) + lit(g - 1)).cast("long").as("n_tok"),
        posexplode(col("gs")).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("n_tok"), col("pos").cast("long").as("pos"),
        hash60(col("gram")).as("gh"))
    // Corpus-wide min doc per fingerprint as ONE unordered window over
    // the gh exchange — the occurrence relation is scanned once and
    // never persisted (the agg+join form re-reads it and, at scale,
    // shuffles the corpus-sized min-doc relation a second time for the
    // join; the window computes min and filters in the same partition).
    val dup = occ
      .withColumn("mind",
        min(col("doc_id")).over(Window.partitionBy(col("gh"))))
      .where(col("mind") < col("doc_id"))
      .select(col("doc_id"), col("n_tok"), col("pos"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // Positions ascend within a doc, so lag(pos) IS the running max and
    // the previous interval's end is lag + g − 1; a new run starts when
    // pos > lag + g (strictly past overlap-or-touch).
    dup
      .withColumn("brk",
        when(col("pos") > coalesce(lag(col("pos"), 1).over(w),
          lit(Long.MinValue / 2)) + g, 1L).otherwise(0L))
      .withColumn("run_id", sum(col("brk")).over(w))
      .groupBy(col("doc_id"), col("n_tok"), col("run_id"))
      .agg(min(col("pos")).as("s"),
        (max(col("pos")) + lit(g - 1)).as("e"))
  }

  def dedupSubstring(spark: SparkSession, sfDir: String,
      g: Int = SubstringRunDefault): DataFrame =
    finish(substringRuns(spark, sfDir, g)
      .withColumn("run_len", col("e") - col("s") + 1L)
      .groupBy(col("doc_id"), col("n_tok"))
      .agg(count(lit(1)).as("n_runs"),
        sum(col("run_len")).as("dup_tokens"),
        max(col("run_len")).as("max_run"))
      .select(col("doc_id"), col("n_tok").as("n_tokens"), col("n_runs"),
        col("dup_tokens"), col("max_run")))

  /** SUBSTRING-DEDUP TRIM — the removal step of Lee et al. 2022 beside
    * the [[dedupSubstring]] report: for every document with a
    * duplicated run, reconstruct the text with the merged duplicated
    * intervals CUT OUT (tokens re-joined by single spaces — the
    * engine's tokenization contract). Output one row per affected doc:
    * (doc_id, text_clean, n_clean, dup_tokens, n_tokens); a fully
    * duplicated document trims to the empty string.
    *
    * 100 TB shape: every stage after the shared run computation touches
    * FLAGGED documents only (the semi/anti joins prune the rest at the
    * scan); the anti join is doc_id-equi with a per-doc bounded range
    * residual, and the rebuild is one ordered-array aggregate per
    * affected doc — never a corpus-wide re-tokenization. */
  def trimSubstringDups(spark: SparkSession, sfDir: String,
      g: Int = SubstringRunDefault): DataFrame = {
    // Persisted: the run relation feeds the per-doc totals, the anti
    // join and (via the semi join) the token explode.
    val runs = Exec.persist(substringRuns(spark, sfDir, g))
    val flagged = runs.groupBy(col("doc_id"), col("n_tok"))
      .agg(sum(col("e") - col("s") + 1L).as("dup_tokens"))
    val toks = docs(spark, sfDir)
      .join(flagged.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"),
        posexplode(graft.functions.WordGramsExpr.grams(spark, col("text"),
          1, distinct = false)).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val kept = toks.join(runs.as("r"),
      toks("doc_id") === col("r.doc_id") &&
        col("pos") >= col("r.s") && col("pos") <= col("r.e"),
      "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(
        concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            e => e.getField("tok"))).as("text_clean"),
        count(lit(1)).as("n_clean"))
    finish(flagged.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        col("dup_tokens"), col("n_tok").as("n_tokens")),
      runs)
  }

  // =================================================================
  // Embedding similarity family
  // =================================================================

  /** Embeddings with micro-unit integer vectors: every cross-engine dot
    * product / norm is then EXACT int64 arithmetic — float summation
    * order can never flip a result. (em_i = round(x_i · 1e6); |x| < 1 and
    * dim = 64 keep dots < 2^46.) */
  private[graft] def emb(spark: SparkSession, sfDir: String): DataFrame =
    microVectors(spark.read.parquet(s"$sfDir/embeddings.parquet"))

  /** (vec_id, embedding) → (vec_id, em, nrm): the micro-unit vector and
    * its exact squared norm — the one projection the loader above, the
    * vector stores' ingest absorb and the streaming vector queries
    * share. */
  private[graft] def microVectors(v: DataFrame): DataFrame =
    v.select(col("vec_id"), graft.functions.MicroVecExpr
        .micro(v.sparkSession, col("embedding")).as("em"))
      .withColumn("nrm", graft.functions.VecDotExpr
        .dot(v.sparkSession, col("em"), col("em")))

  /** Exact integer dot product of two micro-unit vectors — the native
    * codegen [[graft.functions.VecDotExpr]] (the former
    * `aggregate(zip_with(...))` composition is CodegenFallback and
    * demoted every embedding projection to interpreted eval — the
    * WordGramsExpr failure class over the ANN candidate counts). */
  private def dot(a: Column, b: Column): Column =
    graft.functions.VecDotExpr.dot(SparkSession.active, a, b)

  /** cos(a,b)·1e6 as BIGINT — double only in the final normalize, with
    * the operand order mirrored exactly in the oracle. */
  private def cosMicro(d: Column, na: Column, nb: Column): Column =
    round(d.cast("double") /
      (sqrt(na.cast("double")) * sqrt(nb.cast("double"))) * lit(MICRO))
      .cast("long")

  /** Raw cosine (double) for ranking; same expression both engines. */
  private def cosRaw(d: Column, na: Column, nb: Column): Column =
    d.cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double")))

  /** IVF coarse quantizer cell count (inverted-file ANN as in Jégou et
    * al. 2011 / the FAISS IVF-Flat index). */
  val IvfC = 16

  /** Lloyd refinement rounds shared by BOTH k-means quantizers (the
    * IVF coarse cells here and the PQ sub-space codebooks in
    * [[pqTrain]]). Production FAISS trains ~25; 5 exact-integer rounds
    * recover most of the quantization-error drop while keeping the
    * oracle replayable as T unrolled CTE blocks (the fixed-round
    * [[dupCommunities]]/eventPagerank precedent). Each round is one
    * assignment pass (broadcast C centroids over one scan) plus one
    * integer-mean aggregate, so training stays linear in the corpus —
    * rounds multiply the constant, never the asymptotics. */
  val LloydT = 5

  /** IVF centroids: hash-stratified seed picks refined by [[LloydT]]
    * exact k-means (Lloyd) rounds, fully oracle-replayable.
    *
    * Seeds: stratum = hash60(vec_id) mod C, seed = the stratum's
    * (hash, vec_id)-minimal vector — a deterministic spread sample. At
    * real scale `vec_id < C` would take the first C INSERTED vectors,
    * which share a shard/time window and cluster together (overlapping
    * cells, poor recall); the md5 stratifier is insert-order independent.
    * Selection is aggregation-only (min per stratum + a C-row join).
    *
    * Refinement (×[[LloydT]]): every vector joins its best current
    * centroid (broadcast C centroids, bounded C-row rank per vector),
    * then each cell's centroid becomes the member-wise INTEGER mean
    * (`sum div count` per dimension — truncating division, identical in
    * Spark `div` and DuckDB `//`), so the refined centroids are exact
    * integers in both engines after EVERY round. A cell whose mean
    * vector is all-zero (norm 0) is dropped — cosine to it is undefined
    * and NaN ordering differs across engines; a cell that loses every
    * member simply stops existing (no reseeding — same in the oracle).
    * Intermediate rounds are pinned (16-row checkpoints) so round t+1's
    * assignment pass doesn't re-execute rounds 1..t under each of its
    * plan branches. */
  private[graft] def centroids(spark: SparkSession, sfDir: String): DataFrame =
    cachedModel(s"ivf:$sfDir:c=$IvfC:t=$LloydT")(
      centroidsFrom(emb(spark, sfDir)))

  private[graft] def centroidsFrom(v: DataFrame, c: Int = IvfC,
      rounds: Int = LloydT): DataFrame = {
    val seeds = v
      .withColumn("h", hash60(col("vec_id").cast("string")))
      .withColumn("stratum", pmod(col("h"), lit(c.toLong)))
      .groupBy(col("stratum"))
      .agg(min(struct(col("h"), col("vec_id"))).as("m"))
      .select(col("stratum").as("cid"), col("m.vec_id").as("cvid"))
    var cents = seeds.join(v, col("cvid") === col("vec_id"))
      .select(col("cid"), col("em").as("cem"), col("nrm").as("cn"))
    for (t <- 1 to rounds) {
      // Top-1 assignment as an AGGREGATE argmax (the [[pqAssign]]
      // discipline): max(struct(cs, −cid)) IS the (cs desc, cid asc)
      // pick — a hash aggregate with map-side partials instead of a
      // row_number sort exchange over the N·C scored rows, per round.
      // Every group's rows carry the SAME `em` (one vector × C cells),
      // so first(em) rides along and the mean step needs no second
      // corpus scan or join — each round is ONE pass over v.
      // (The final probe-facing rank relation, [[cellRanksFrom]],
      // stays a window — callers need ranks 1..C, not just the top.)
      val assign = v.crossJoin(broadcast(cents))
        .select(col("vec_id"), col("em"), col("cid"),
          cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn")).as("cs"))
        .groupBy(col("vec_id"))
        .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"),
          first(col("em")).as("em"))
        .select((-col("b.ncid")).as("cid"), col("em"))
      val next = assign
        .select(col("cid"), posexplode(col("em")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .withColumn("cv", expr("s div cnt"))
        .groupBy(col("cid"))
        .agg(collect_list(struct(col("i"), col("cv"))).as("l"))
        .select(col("cid"),
          transform(array_sort(col("l")), e => e.getField("cv")).as("cem"))
        .withColumn("cn", dot(col("cem"), col("cem")))
        .where(col("cn") > 0)
      cents = if (t < rounds) pin(next) else next
    }
    cents
  }

  /** (vec_id, cid, rnk): each vector's cells ranked by cosine to the
    * given centroids (desc, cid asc) — broadcast the C centroids, never
    * shuffle the big side. */
  private[graft] def cellRanks(spark: SparkSession, sfDir: String,
      cents: DataFrame): DataFrame =
    cellRanksFrom(emb(spark, sfDir), cents)

  private[graft] def cellRanksFrom(v: DataFrame,
      cents: DataFrame): DataFrame = {
    v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn")).as("cs"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cs").desc, col("cid").asc)))
  }

  /** Embedding-cosine near-dup, IVF-blocked: each vector joins its top-2
    * IVF cells; candidate pairs share a cell; verify exact cosine ≥ 0.4.
    * Output (id_a, id_b, cos_micro). The cell join bounds candidates to
    * ~2·N²/C instead of N² — the knob (C, probes) scales with N. */
  def dedupEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    // Persisted: the cell assignment feeds both sides of the bucket join.
    val assign = Exec.persist(cellRanks(spark, sfDir,
        centroids(spark, sfDir)).where(col("rnk") <= 2)
      .select(col("vec_id"), col("cid")))
    embedPairTail(emb(spark, sfDir), assign)
  }

  /** The pair-report tail of [[dedupEmbed]] — shared-cell candidate
    * pairs, exact-cosine verify at 0.4 — shared VERBATIM by the fixed-C
    * registry form and the scaled-C production tier
    * ([[dedupEmbedScaled]]), so the two differ only in the clustering
    * knob. `assign` must be persisted (it feeds both sides of the cell
    * join). */
  private def embedPairTail(v: DataFrame, assign: DataFrame): DataFrame = {
    val cand = assign.as("x").join(assign.as("y"),
        col("x.cid") === col("y.cid") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      .distinct()
    finish(cand
      .join(v.as("va"), col("id_a") === col("va.vec_id"))
      .join(v.as("vb"), col("id_b") === col("vb.vec_id"))
      .select(col("id_a"), col("id_b"),
        cosMicro(dot(col("va.em"), col("vb.em")),
          col("va.nrm"), col("vb.nrm")).as("cos_micro"))
      .where(col("cos_micro") >= 400000L),
      assign)
  }

  /** SCALED-C PRODUCTION TIER of [[dedupEmbed]] — retires the engine's
    * last contractual OOM: the fixed-C=16 pair report's within-cell
    * term is N²/16 pairs and dies at the 100× decade BY CONTRACT, while
    * this form holds the MEAN CELL SIZE constant (C = max([[IvfC]],
    * N / [[SemCellTarget]]), the [[semdedupScaled]] knob — N is just
    * count(*), so the oracle derives C and the training-sample modulus
    * in its scalar `prm` CTE and replays the tier definitionally at any
    * corpus size). Training fits on a hash sample (~32 vectors/cell,
    * one refinement round — the FAISS sample-training discipline).
    *
    * The top-2 cell assignment — [[dedupEmbed]] keeps two probes so
    * boundary pairs split across adjacent cells still meet — is a
    * bounded [[graft.functions.TopKAgg]] aggregate (`top_k(struct(cs,
    * −cid), 2)` ≡ the (cs desc, cid asc) window rank), NOT a
    * row_number window: map-side combine trims every partition's
    * contribution to 2 rows per vector before the shuffle, where the
    * window form would sort the N·C scored rows — with C ∝ N that sort
    * exchange is the quadratic term this tier exists to avoid.
    *
    * Verify tail = [[embedPairTail]] VERBATIM: candidates share a
    * cell (~2·N·[[SemCellTarget]] pairs, linear in the corpus), exact
    * cosine ≥ 0.4 decides. */
  def dedupEmbedScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val (c, sampleMod) = scaledCellKnobs(v)
    val sample = v.where(
      pmod(hash60(col("vec_id").cast("string")), lit(sampleMod)) === 0)
    val cents = pin(centroidsFrom(sample, c, rounds = 1))
    val assign = Exec.persist(v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct(col("cs"), (-col("cid")).as("ncid")), 2).as("top"))
      .select(col("vec_id"), explode(col("top")).as("e"))
      .select(col("vec_id"), (-col("e.ncid")).as("cid")))
    embedPairTail(v, assign)
  }

  /** EMBED-DEDUP RECALL AUDIT — the [[dedupRecallEval]] discipline
    * applied to the EMBEDDING-dedup tiers: both shipped pair reports
    * (the fixed-C=16 [[dedupEmbed]] and the C ∝ N
    * [[dedupEmbedScaled]]) scored on ONE hash-sampled sub-corpus
    * against the EXACT all-pairs cosine ≥ 0.4 ground truth, so the
    * blocked scans' coverage is a MONITORED relation — the
    * scanned-fraction price of IVF blocking (BASELINE's measured
    * 0.21 at the 10× decade) becomes a driver-hashed number, not a
    * one-off numpy audit. Output 2 rows: (tier ∈ {blocked16,
    * scaledC}, n_true, n_cand, n_hit, recall_micro, precision_micro).
    * Expected shape, pinned in DataOpsSpec: precision = 10^6 for BOTH
    * tiers by construction (their verify threshold IS the truth's
    * 0.4), scaledC recall ≤ blocked16 at fixture scale where C floors
    * at 16 and the scaled model trains on a sample with one round.
    *
    * Each tier runs its standalone operator's own plan restricted to
    * the sample — restriction COMMUTES exactly: a vector's top-2
    * cells depend only on its own embedding and the (full-corpus /
    * full-count) trained model, and the verify is per-pair, so
    * shipped-pairs ∩ sample×sample ≡ sample-assigned pairs.
    *
    * 100 TB shape: the sample is guarded at [[MaxRecallEvalDocs]]
    * (in-plan assert — the all-pairs truth is the one quadratic, and
    * it fires at the 10× fixture BY CONTRACT like the other two
    * recall audits); the truth is [[cachedModel]]-cached per sfDir;
    * the tiers inherit their operators' own scale plans. */
  def embedDedupRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val ids0 = v.select(col("vec_id"))
      .where(pmod(graft.functions.HashFns.hash60(
        concat(lit("erecall:"), col("vec_id"))), lit(2L)) === 0L)
    val nv = Exec.persist(ids0.agg(count(lit(1)).as("n_docs")))
    val ids = ids0.crossJoin(broadcast(nv))
      .select(when(assert_true(col("n_docs") <= lit(MaxRecallEvalDocs),
          lit(s"embed-recall sample has >$MaxRecallEvalDocs vectors — " +
            "the all-pairs ground truth would go quadratic; shrink " +
            "the sample rate")).isNull,
        col("vec_id")).as("vec_id"))
    val vs = Exec.persist(v.join(ids, Seq("vec_id"), "left_semi"))
    val truth = cachedModel(s"embedDedupTruth:$sfDir") {
      vs.as("va").join(vs.as("vb"),
          col("va.vec_id") < col("vb.vec_id"))
        .select(col("va.vec_id").as("id_a"), col("vb.vec_id").as("id_b"),
          cosMicro(dot(col("va.em"), col("vb.em")),
            col("va.nrm"), col("vb.nrm")).as("cm"))
        .where(col("cm") >= 400000L)
        .select(col("id_a"), col("id_b"))
    }
    // The two tier pair reports are independent end-to-end builds
    // (trained model + assignment + verify each), so they run on
    // overlapped driver threads ([[parBuild]] — each tail is already
    // eagerly pinned by its own finish) instead of strictly serially.
    // Both tiers read the SAME persisted sample relation `vs`: warmed
    // ONCE here so the overlapped tiers hit a filled cache instead of
    // racing to compute it, and used for BOTH verify sides — the
    // sample restriction commutes (see scaladoc), so scoring/verifying
    // off `vs` instead of the full corpus reads the warm half-size
    // cache where the round-16 form re-scanned (and re-windowed) the
    // full embeddings per tier (guide §2.3 "shuffle fewer bytes" /
    // §2.4: the pairs can only carry sample ids, so joining the full
    // corpus buys nothing).
    warm(vs)
    val Seq(fixedPairs, scaledPairs) = parBuild(Seq(
      () => {
        // fixed tier: the shipped full-corpus model's top-2
        // assignment, restricted to the sample — restriction moved
        // BEFORE the rank window (a vector's cell ranks depend only on
        // its own embedding and the trained model, so filter-then-rank
        // ≡ rank-then-filter), replacing a full-corpus N·C window +
        // semi-join with a sample-sized one over the warm cache.
        val fixedAssign = Exec.persist(
          cellRanksFrom(vs, centroids(spark, sfDir))
          .where(col("rnk") <= 2)
          .select(col("vec_id"), col("cid")))
        embedPairTail(vs, fixedAssign)
      },
      () => {
        // scaled tier: the shipped knobs (full-corpus count) and the
        // shipped sample-trained model; assignment restricted to the
        // sample
        val (c, sampleMod) = scaledCellKnobs(v)
        val trainSample = v.where(
          pmod(hash60(col("vec_id").cast("string")), lit(sampleMod)) === 0)
        val cents = pin(centroidsFrom(trainSample, c, rounds = 1))
        val scaledAssign = Exec.persist(
          vs.crossJoin(broadcast(cents))
            .select(col("vec_id"), col("cid"),
              cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn"))
                .as("cs"))
            .groupBy(col("vec_id"))
            .agg(graft.functions.TopKAgg.topK(spark,
              struct(col("cs"), (-col("cid")).as("ncid")), 2).as("top"))
            .select(col("vec_id"), explode(col("top")).as("e"))
            .select(col("vec_id"), (-col("e.ncid")).as("cid")))
        embedPairTail(vs, scaledAssign)
      }))
    val out = Seq("blocked16" -> fixedPairs, "scaledC" -> scaledPairs)
      .map { case (name, pairs0) =>
        val pairs = pairs0.select(col("id_a"), col("id_b"))
        truth.agg(count(lit(1)).as("n_true"))
          .crossJoin(pairs.agg(count(lit(1)).as("n_cand")))
          .crossJoin(pairs.join(truth, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit")))
          .select(lit(name).as("tier"), col("n_true"), col("n_cand"),
            col("n_hit"),
            expr("CASE WHEN n_true > 0 THEN (n_hit * 1000000) div " +
              "n_true ELSE 1000000 END").as("recall_micro"),
            expr("CASE WHEN n_cand > 0 THEN (n_hit * 1000000) div " +
              "n_cand ELSE 1000000 END").as("precision_micro"))
      }.reduce(_ unionByName _)
    finish(out, vs, nv)
  }

  /** The shared scaled-C knobs ([[semdedupScaled]] /
    * [[dedupEmbedScaled]]): C holds the mean cell size at
    * [[SemCellTarget]], the training-sample modulus targets ~32
    * vectors per cell. Plan-only, [[Exec.count]]'s stand-in yields the
    * minimum knobs: the PLAN SHAPE is identical for any (C, mod) — they
    * only parameterize a modulus literal. */
  private def scaledCellKnobs(v: DataFrame): (Int, Long) = {
    val n = math.max(1L, Exec.count(v))
    val cc = math.max(IvfC.toLong, n / SemCellTarget).toInt
    (cc, math.max(1L, n / (32L * cc)))
  }

  /** K-MEANS CLUSTER READOUT over the embedding space — the health/shape
    * statistic a SemDeDup-style curation or an IVF index build reads
    * before trusting its clustering: per refined centroid ([[centroids]]
    * — hash-stratified seeds + LloydT exact-integer Lloyd rounds, the SAME
    * clustering every IVF operator uses), the member count, corpus share
    * in exact ppm, and the cohesion profile (truncating mean + min of the
    * member→centroid cosine, micro units). A cluster with low share and
    * low min-cosine is a junk cell; a dominant cluster with high mean is
    * a near-dup mass — exactly what a cluster-then-prune pipeline keys
    * off.
    *
    * Plan: the C centroids broadcast into ONE scan (the [[cellRanks]]
    * pass every IVF query already pays), argmax cell per vector, then one
    * hash aggregate onto the C-row cluster frame; the corpus total rides
    * as a broadcast 1-row scalar. Nothing after the scan exceeds C rows
    * at any corpus size. */
  def embedKmeans(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = cellRanks(spark, sfDir, centroids(spark, sfDir))
      .where(col("rnk") === 1)
      .select(col("vec_id"), col("cid"),
        round(col("cs") * lit(MICRO)).cast("long").as("cos_micro"))
    val clusters = sc.groupBy(col("cid"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("cos_micro")).as("cos_sum"),
        min(col("cos_micro")).as("min_cos_micro"))
    val total = clusters.agg(sum(col("n_vectors")).as("n_total"))
    finish(clusters.crossJoin(broadcast(total))
      .select(col("cid"), col("n_vectors"),
        expr("(n_vectors * 1000000) div n_total").as("share_ppm"),
        expr("cos_sum div n_vectors").as("mean_cos_micro"),
        col("min_cos_micro")))
  }

  /** SemDeDup duplicate threshold, micro-cosine units. The paper prunes
    * at ~0.95 on real (clustered) embeddings; the synthetic structureless
    * corpus only collides near [[dedupEmbed]]'s 0.4, so the same floor
    * keeps the verdict non-degenerate at fixture scale — the knob, not
    * the shape, changes in production. */
  val SemTauMicro = 400000L

  /** SEMDEDUP (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication") — the cluster-then-prune
    * SEMANTIC dedup beside [[dedupEmbed]]'s pair REPORT: every vector is
    * assigned its top-1 k-means cell (the SAME [[centroids]] clustering
    * every IVF operator uses), pairs are compared ONLY within a cell,
    * and a vector is dropped when a SMALLER-id cell-mate sits at cosine
    * ≥ [[SemTauMicro]] (the paper keeps one representative per
    * ε-neighborhood; min-id is its deterministic "keep one" choice).
    * Output one verdict row per vector: (vec_id, cid, keep).
    *
    * 100 TB shape: exactly the paper's — clustering exists so the
    * quadratic comparison never crosses cells (~N²/C candidate pairs,
    * with C scaled ∝ N to hold cell size constant); the cell join is the
    * bucket join of every dedup operator here, the verdict is one
    * distinct + left join on vec_id. */
  def semdedup(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = Exec.persist(
      cellRanks(spark, sfDir, centroids(spark, sfDir))
      .where(col("rnk") === 1)
      .select(col("vec_id"), col("cid")))
    semdedupVerdict(emb(spark, sfDir), assign)
  }

  /** The verdict tail of [[semdedup]] — within-cell smaller-id neighbor
    * test at [[SemTauMicro]] over a (vec_id, cid) assignment; shared
    * VERBATIM by the fixed-C registry form and the scaled-C production
    * tier ([[semdedupScaled]]). `assign` must be persisted (it feeds
    * both sides of the cell join and the verdict). */
  private def semdedupVerdict(v: DataFrame, assign: DataFrame): DataFrame = {
    val dup = assign.as("x").join(assign.as("y"),
        col("x.cid") === col("y.cid") &&
          col("y.vec_id") < col("x.vec_id"))
      .select(col("x.vec_id").as("vid"), col("y.vec_id").as("other"))
      .join(v.as("va"), col("vid") === col("va.vec_id"))
      .join(v.as("vb"), col("other") === col("vb.vec_id"))
      .where(cosMicro(dot(col("va.em"), col("vb.em")),
        col("va.nrm"), col("vb.nrm")) >= SemTauMicro)
      .select(col("vid").as("vec_id")).distinct()
      .withColumn("isdup", lit(true))
    finish(assign.join(dup, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        coalesce(!col("isdup"), lit(true)).as("keep")),
      assign)
  }

  /** Target mean cell size of the SCALED-C semantic-dedup tier. */
  val SemCellTarget = 128L

  /** SCALED-C PRODUCTION TIER of [[semdedup]] — since round 14 a full
    * REGISTRY entry: the C ∝ N knob is data-dependent, but N is just
    * `count(*)`, so the oracle DERIVES C and the sample modulus in a
    * scalar CTE and replays the whole tier definitionally (the cell
    * count parameterizes a modulus VALUE, never the CTE structure —
    * the round-13 "not static-replayable" claim was wrong and is
    * withdrawn). The fixed-C=16 [[semdedup]] form remains the
    * fixture-scale twin; it OOMs at 100× BY CONTRACT while this form
    * finishes the decade (measured in BASELINE.md):
    *
    *  - C = max([[IvfC]], N / [[SemCellTarget]]) holds the MEAN CELL
    *    SIZE constant, so the within-cell pair term — the fixed-C
    *    form's OOM source (N²/16 pairs) — becomes ~N·[[SemCellTarget]]
    *    pairs, linear in the corpus.
    *  - Training fits on a HASH SAMPLE (~32 vectors per cell — the
    *    FAISS discipline: codebooks train on a sample, never the
    *    corpus), one refinement round.
    *  - Assignment is ONE corpus pass against the broadcast C-row
    *    centroid frame with an AGGREGATE argmax (max(struct(cs,
    *    −cid))) — a hash aggregate with map-side partials, not a
    *    row_number window: no N·C-row sort exchange. The N·C dot
    *    products are the irreducible IVF-assignment term (production
    *    engines push it through BLAS; here it is one codegen'd scan).
    *
    * Verdict tail = [[semdedupVerdict]] VERBATIM, so fixed-C and
    * scaled-C differ only in the clustering knob — the paper's own
    * statement that C scales with N while the shape stays fixed. */
  def semdedupScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val (c, sampleMod) = scaledCellKnobs(v)
    val sample = v.where(
      pmod(hash60(col("vec_id").cast("string")), lit(sampleMod)) === 0)
    val cents = pin(centroidsFrom(sample, c, rounds = 1))
    val assign = Exec.persist(v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("cid")))
    semdedupVerdict(v, assign)
  }

  /** Int8 scalar quantization of the embedding column — the compression
    * step a 100 TB vector store applies before ANN. Per vector: affine
    * map of [min, max] onto [-127, 127], a code fingerprint (md5 of the
    * code string, proving exact cross-engine code equality), and the mean
    * absolute reconstruction error. The error is computed in EXACT
    * integer numerator space (|254·(x−mn) − (q+127)·(mx−mn)|), so no
    * float summation order exists; only the per-element code rounding is
    * double, with mirrored operand order. */
  def embedQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val q = graft.functions.Int8QuantExpr.quant(spark, col("em"))
    emb(spark, sfDir)
      .select(col("vec_id"),
        q.getField("mn_micro").as("mn_micro"),
        q.getField("mx_micro").as("mx_micro"),
        q.getField("fp").as("fp"),
        q.getField("mae_micro").as("mae_micro"))
  }

  /** Hard cap on the ANN query side. All three ANN paths `broadcast()`
    * the query relation (and, for LSH, its banded derivative) — but the
    * stand-in derivation below (`vec_id % 50`) is 2% OF THE CORPUS and
    * therefore GROWS WITH IT: by 100 TB the "tiny" side would be tens of
    * GB and the broadcast a silent OOM. Assert the bound loudly instead
    * (the [[MaxBenchmarkGrams]] pattern): 65536 64-dim micro-unit
    * vectors ≈ 32 MB broadcast — generous for a real query workload,
    * far below broadcast-breaking size. A real deployment passes a
    * bounded query relation; the cap makes a corpus-scaling query side
    * fail fast instead of OOMing an executor. */
  val MaxAnnQueries: Long = 65536L

  /** ANN query set: every 50th vector (deterministic sample), asserted
    * ≤ [[MaxAnnQueries]] so every downstream `broadcast()` stays bounded
    * as the corpus scales. */
  private[graft] def annQueries(spark: SparkSession, sfDir: String): DataFrame = {
    val q = emb(spark, sfDir).where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("em").as("qem"),
        col("nrm").as("qn"))
    // In-plan size-cap guard (the minhashRecallEval pattern): the
    // assert rides in the broadcast build of the query set, so
    // CONSTRUCTING an ANN query runs no job and an unbounded query
    // relation fails loudly before any probe work. The count subplan is
    // a limit-bounded scan of the narrow query filter — cheap next to
    // the probe stage that consumes it.
    val n = q.limit(MaxAnnQueries.toInt + 1)
      .agg(count(lit(1)).as("n_queries"))
    q.crossJoin(broadcast(n))
      .select(
        when(assert_true(col("n_queries") <= lit(MaxAnnQueries),
            lit(s"ANN query side has >$MaxAnnQueries rows — not " +
              "broadcastable; bound the query relation")).isNull,
          col("q_id")).as("q_id"),
        col("qem"), col("qn"))
  }

  /** (q_id, n_id, rnk, cos_micro) from scored candidate rows
    * (q_id, n_id, cs): per-query top-k through the BOUNDED
    * [[graft.functions.TopKAgg]] aggregate — map-side partials trim every
    * partition's contribution to k rows before the shuffle, where the
    * `row_number().over(partitionBy(q_id))` form would sort one query's
    * ENTIRE candidate set (the whole corpus, for brute force) on a single
    * task. `-n_id` in the ordering struct encodes the ascending
    * tie-break. */
  private[graft] def rankTopK(spark: SparkSession, scored: DataFrame,
      k: Int): DataFrame =
    scored.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct(col("cs"), (-col("n_id")).as("nn")), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("q_id"), (-col("e.nn")).as("n_id"),
        (col("i") + 1).cast("long").as("rnk"),
        round(col("e.cs") * lit(MICRO)).cast("long").as("cos_micro"))

  /** Brute-force cosine top-10 per query (the exact baseline): broadcast
    * the query set over one scan of the vectors; the per-query top-k is a
    * bounded aggregate ([[rankTopK]]), so the shuffle carries at most
    * 10 rows per (partition, query) instead of the full N·Q score
    * matrix. Output (q_id, n_id, rnk, cos_micro). */
  def annBrute(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    rankTopK(spark,
      v.crossJoin(broadcast(annQueries(spark, sfDir)))
        .where(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn"))
            .as("cs")),
      10)
  }

  /** Radius threshold of [[rangeSearch]], micro-cosine units — tuned to
    * the synthetic embedding space (max off-diagonal query cosine ≈
    * 0.43): 0.30 keeps a non-trivial, query-skewed result set. */
  val RangeMinCosMicro = 300000L

  /** RANGE SEARCH — the radius-query sibling of top-k ANN (FAISS
    * `range_search`): every corpus vector within cosine ≥
    * [[RangeMinCosMicro]]/1e6 of a query, unordered and unbounded per
    * query (result size is data-dependent, unlike top-k). Output
    * (q_id, n_id, cos_micro).
    *
    * This is the exact baseline tier (the [[annBrute]] discipline:
    * queries broadcast + asserted bounded, ONE corpus scan, the radius
    * predicate applied before anything shuffles — the scored row set
    * never materializes, rows failing the threshold die inside the
    * scan's codegen stage). The approximate scale path at higher N is
    * the [[annIvf]] composition: probe the query's nearest cells, apply
    * the same exact-cosine radius filter to cell members only. */
  def rangeSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    v.crossJoin(broadcast(annQueries(spark, sfDir)))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        round(cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn"))
          * lit(MICRO)).cast("long").as("cos_micro"))
      .where(col("cos_micro") >= RangeMinCosMicro)
  }

  /** Neighbor count of [[knnClassify]]. */
  val KnnK = 10

  /** kNN LABEL CLASSIFICATION — the classic similarity-search
    * application over the labeled embedding corpus: each query vector's
    * [[KnnK]] exact nearest neighbors (the [[annBrute]] top-k, self
    * excluded) vote with their `label`; the majority label (ties → the
    * smaller label id) is the prediction. Output per query:
    * (q_id, label, pred_label, votes, correct) — `correct` is the 0/1
    * agreement with the query's own label, so
    * `avg(correct)` is the corpus' leave-one-out kNN accuracy, the
    * standard embedding-quality probe run on training-data embeddings.
    *
    * Plan: the neighbor relation is [[annBrute]]'s bounded top-k
    * (Q·k rows); the vote is a (q_id, label) hash aggregate on it and
    * the majority pick is a row_number over ≤ L label rows per query —
    * every post-scan relation is query-bounded, so the op inherits
    * annBrute's scale shape unchanged. */
  def knnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    val lbl = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long").as("lb"))
    val nn = annBrute(spark, sfDir)
    val pred = nn
      .join(lbl.select(col("vec_id").as("n_id"), col("lb").as("n_label")),
        Seq("n_id"))
      .groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("votes").desc, col("n_label").asc)))
      .where(col("rk") === 1)
      .select(col("q_id"), col("n_label").as("pred_label"), col("votes"))
    pred
      .join(lbl.select(col("vec_id").as("q_id"), col("lb").as("label")),
        Seq("q_id"))
      .select(col("q_id"), col("label"), col("pred_label"), col("votes"),
        (col("pred_label") === col("label")).cast("long").as("correct"))
  }

  /** EMBEDDING-SPACE OUTLIER AUDIT — the corrupt-vector screen a
    * pipeline runs before trusting an embedding drop (truncated
    * payloads, wrong-model vectors and mislabeled rows land far from
    * everything): each vector's cosine to its OWN top-1 IVF centroid,
    * flagged when below the cell's exact p5 (ceil-rank histogram pick —
    * a fixed global threshold would misread naturally-tight vs
    * naturally-diffuse cells). Output (vec_id, cid, cs_micro, outlier).
    *
    * Plan: reuses the [[centroids]]/[[cellRanks]] assignment (broadcast
    * C centroids over ONE scan); the threshold histogram aggregates per
    * (cell, DISTINCT cos) and the C-row threshold frame broadcasts back
    * — no window over raw vectors. */
  def embedOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    val assign = cellRanks(spark, sfDir, centroids(spark, sfDir))
      .where(col("rnk") === 1)
      .select(col("vec_id"), col("cid"),
        round(col("cs") * lit(MICRO)).cast("long").as("cs_micro"))
    val hist = assign.groupBy(col("cid"), col("cs_micro"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("cid")).orderBy(col("cs_micro").asc)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("cid"))))
    val th = cum.groupBy(col("cid")).agg(
      min(when(col("cum") >= expr("(n + 19) div 20"), col("cs_micro")))
        .as("t5"))
    assign.join(broadcast(th), Seq("cid"))
      .select(col("vec_id"), col("cid"), col("cs_micro"),
        (col("cs_micro") < col("t5")).cast("long").as("outlier"))
  }

  /** CLASS-BALANCE AUDIT over the labeled embedding corpus — the
    * imbalance check run before training on labeled data: per label,
    * count, exact-ppm share and the [[unigramSurprisal]]-style
    * floor-log2 surprisal bits (a rare class scores high bits — the
    * quantity class-weighted losses compensate). One hash aggregate +
    * a 1-row broadcast; output bounded by the label domain. */
  def labelBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val l = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("label").cast("long").as("label"))
      .groupBy(col("label")).agg(count(lit(1)).as("n"))
    val tot = l.agg(sum(col("n")).as("tot"))
    l.crossJoin(broadcast(tot))
      .select(col("label"), col("n"),
        expr("(n * 1000000) div tot").as("share_ppm"),
        (length(bin(expr("tot div n"))) - 1).cast("long")
          .as("surprisal_bits"))
  }

  /** MMR picks per query. */
  val MmrK = 5

  /** MMR DIVERSIFICATION (Carbonell & Goldstein 1998, "The use of MMR,
    * diversity-based reranking...") — the result-diversification tier
    * over [[annBrute]]'s top-10 candidates: iteratively select
    * [[MmrK]] results per query maximizing
    * `λ·cos(q,d) − (1−λ)·max_{s∈selected} cos(d,s)` with λ = 1/2.
    * The score is kept as `mmr2_micro = cos_micro − maxsim_micro`
    * (twice the MMR score — argmax-equivalent, and division-free: a
    * `div 2` on the possibly-NEGATIVE difference would truncate toward
    * zero in Spark but floor in DuckDB). Ties → smaller n_id. Output
    * (q_id, n_id, pick, mmr2_micro); pick 1 is the raw top-1
    * (max-relevance seed, maxsim = 0).
    *
    * 100 TB shape: everything after the [[annBrute]] stage lives on
    * candidate-bounded relations — Q·k candidate rows, ≤ Q·k² pair
    * sims, and [[MmrK]]−1 unrolled selection rounds each a bounded
    * join + ≤k-row-per-query window. The corpus is touched only by the
    * underlying ANN stage (swap in [[annIvf]]/[[graft.sources.PqIndex]]
    * for the approximate/store tiers — the diversifier only needs
    * (q_id, n_id, cos) plus candidate pair sims). */
  def mmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val cand = pin(annBrute(spark, sfDir))
    val cv = cand.select(col("q_id"), col("n_id"))
      .join(v.withColumnRenamed("vec_id", "n_id"), Seq("n_id"))
    val xs = cv.select(col("q_id"), col("n_id").as("a"),
      col("em").as("aem"), col("nrm").as("an"))
    val ys = cv.select(col("q_id"), col("n_id").as("b"),
      col("em").as("bem"), col("nrm").as("bn"))
    val psim = xs.join(ys, Seq("q_id")).where(col("a") =!= col("b"))
      .select(col("q_id"), col("a"), col("b"),
        cosMicro(dot(col("aem"), col("bem")), col("an"), col("bn"))
          .as("sim_micro"))
    // The [[MmrK]]−1 selection rounds run as ONE per-query fold over
    // the collected candidate/pair-sim arrays (bounded: ≤ 10 candidates
    // and ≤ 90 sim rows per query by [[annBrute]]'s top-10) instead of
    // the former unrolled DataFrame loop — whose plan was ~3 MB of
    // formatted text re-optimized per run, with 5 driver-blocking
    // localCheckpoints and 4 window shuffles over ≤ Q·10-row frames.
    // The fold is the IDENTICAL argmax recurrence: pick 1 = rnk 1 seed
    // (mmr2 = cos_micro); round t picks the remaining candidate
    // maximizing cos_micro − max(sim to picked), ties to the smaller
    // n_id — the (−mmr2, n_id) array_min encodes exactly the
    // (mmr2 desc, n_id asc) window rank, and the single-element outer
    // `aggregate` is a let-binding so `best` is computed once per
    // round. Higher-order functions are CodegenFallback, but they run
    // on Q ≈ dozens of post-aggregate rows — never a scan-sized
    // relation (CodegenLintSpec's boundary). The coalesce sentinel on
    // array_max guards the (today unreachable) NULL-sim case: without
    // it a NULL 'neg' would sort FIRST in array_min and be picked
    // immediately, where the pre-fold window (mmr2 desc, NULLs last)
    // picked such a candidate last; with it the candidate's penalty is
    // huge and it ranks last, matching the old order.
    val cands = cand.groupBy(col("q_id"))
      .agg(sort_array(collect_list(
        struct(col("rnk"), col("n_id"), col("cos_micro")))).as("cands"))
    val sims = psim.groupBy(col("q_id"))
      .agg(collect_list(
        struct(col("a"), col("b"), col("sim_micro"))).as("sims"))
    val folded = cands.join(sims, Seq("q_id"), "left").select(col("q_id"),
      expr(s"""
        aggregate(
          sequence(2, $MmrK),
          named_struct(
            'picked', array(element_at(cands, 1).n_id),
            'outs', array(named_struct(
              'n_id', element_at(cands, 1).n_id,
              'pick', CAST(1 AS BIGINT),
              'mmr2', element_at(cands, 1).cos_micro)),
            'rem', filter(cands,
              c -> c.n_id != element_at(cands, 1).n_id)),
          (st, t) -> CASE WHEN size(st.rem) = 0 THEN st ELSE
            aggregate(
              array(array_min(transform(st.rem, c -> named_struct(
                'neg', -(c.cos_micro - coalesce(array_max(transform(
                  filter(sims, s -> s.a = c.n_id
                    AND array_contains(st.picked, s.b)),
                  s -> s.sim_micro)), CAST(1000000000000000000 AS BIGINT))),
                'n_id', c.n_id)))),
              st,
              (st2, best) -> named_struct(
                'picked', concat(st2.picked, array(best.n_id)),
                'outs', concat(st2.outs, array(named_struct(
                  'n_id', best.n_id,
                  'pick', CAST(t AS BIGINT),
                  'mmr2', -best.neg))),
                'rem', filter(st2.rem, c -> c.n_id != best.n_id)))
            END
        ).outs""").as("outs"))
    folded.select(col("q_id"), explode(col("outs")).as("o"))
      .select(col("q_id"), col("o.n_id").as("n_id"),
        col("o.pick").as("pick"), col("o.mmr2").as("mmr2_micro"))
  }

  /** IVF-bucketed ANN (the 100 TB scale path): vectors live in their top-1
    * IVF cell; a query probes its 4 nearest cells and ranks only those
    * candidates. Same output shape as [[annBrute]]; recall < 1 by design
    * (approximate), deterministic by construction. */
  def annIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = centroids(spark, sfDir)
    val assign = cellRanks(spark, sfDir, cents).where(col("rnk") === 1)
      .select(col("vec_id"), col("cid"))
    ivfProbe(spark, annQueries(spark, sfDir), cents, assign,
      emb(spark, sfDir))
  }

  /** The probe-only half of [[annIvf]] — probe-cell selection, cell
    * join, exact re-rank — shared verbatim with [[annRecallEval]]'s
    * ivf tier (which supplies the centroids/assignments it already
    * trained for the composed IVFPQ tier), so the two are
    * plan-identical by construction. */
  private[graft] def ivfProbe(spark: SparkSession, q: DataFrame,
      cents: DataFrame, assign: DataFrame, v: DataFrame,
      nProbes: Int = 4): DataFrame = {
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        cosRaw(dot(col("qem"), col("cem")), col("qn"), col("cn")).as("cs"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cs").desc, col("cid").asc)))
      .where(col("prnk") <= nProbes)
      .select(col("q_id"), col("cid"))
    // The probe list (queries × 4 cells) is tiny and the cell id has only
    // IvfC distinct values — broadcast the probes so the big assignment
    // side never shuffles onto <= IvfC partitions; the final per-query
    // top-k is the bounded aggregate ([[rankTopK]]).
    rankTopK(spark,
      assign
        .join(broadcast(probes), Seq("cid"))
        .where(col("vec_id") =!= col("q_id"))
        .join(v, Seq("vec_id"))
        .join(broadcast(q.select(col("q_id"), col("qem"), col("qn"))),
          Seq("q_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn"))
            .as("cs")),
      10)
  }

  /** Random-hyperplane LSH parameters: [[LshPlanes]] signed projections
    * banded into [[LshBands]] groups of [[LshBandBits]] bits. 6×4 bits
    * measured 0.61 recall@10 vs [[annBrute]] at sf0.01 with a ~3×
    * candidate cut — slightly better recall than the IVF path (0.59) on
    * the same corpus. At real scale the knob is bits-per-band (bucket
    * count 2^bits must outgrow N/bucket-budget), not the plane count. */
  val LshBands = 6
  val LshBandBits = 4
  val LshPlanes: Int = LshBands * LshBandBits

  /** Embedding dimension of the driver's `embeddings` table. */
  val EmbDim = 64

  /** ±1 hyperplane coefficient (plane `h`, dimension `i`), derived from
    * md5 parity so the DuckDB oracle regenerates the identical matrix:
    * sign = hash60("pl:h:i") mod 2 (Charikar 2002 random-hyperplane
    * SimHash, with the Rademacher ±1 distribution instead of Gaussian —
    * exact integer dot products against the micro-unit vectors). */
  private[graft] def lshCoef(h: Int, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"pl:$h:$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1L else -1L
  }

  /** The [[LshPlanes]]-bit signature of a micro-unit vector: bit h set
    * iff the exact integer projection onto plane h is ≥ 0. The plane
    * matrix is a compile-time literal (1024 longs), so the signature is
    * one embarrassingly-parallel projection pass — no shuffle, and at
    * 100 TB it pipelines with the scan. */
  private def lshSig(em: Column): Column =
    (0 until LshPlanes).map { h =>
      val coefs: Seq[Long] = (0 until EmbDim).map(i => lshCoef(h, i))
      when(dot(em, typedLit(coefs)) >= 0, lit(1L << h)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-bucketed ANN — the second approximate scale path beside
    * [[annIvf]]: vectors hash to a [[LshPlanes]]-bit random-hyperplane
    * signature; a query and a vector are candidates iff they agree on
    * ANY [[LshBandBits]]-bit band (banded LSH exactly as in the MinHash
    * dedup); exact cosine ranks the candidates. Same output shape as
    * [[annBrute]]; recall < 1 by design, deterministic.
    *
    * Versus IVF: no centroid training pass (the "index build" is a pure
    * projection), at the price of data-independent buckets. The band join
    * broadcasts the query side; the vector side never shuffles before the
    * bounded per-query top-k. */
  def annLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val banded = v.withColumn("sig", lshSig(col("em")))
      .select(col("vec_id"), posexplode(array((0 until LshBands).map(b =>
        pmod(shiftright(col("sig"), LshBandBits * b),
          lit(1L << LshBandBits))): _*)).as(Seq("b", "bv")))
    // Same query set as annQueries (whose MaxAnnQueries assert below
    // bounds this broadcast too: LshBands rows per query).
    val qb = banded.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("b"), col("bv"))
    val cand = banded.join(broadcast(qb), Seq("b", "bv"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"))
      .distinct()
    rankTopK(spark,
      cand.join(v, col("n_id") === col("vec_id"))
        .join(broadcast(annQueries(spark, sfDir)), Seq("q_id"))
        .select(col("q_id"), col("n_id"),
          cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn"))
            .as("cs")),
      10)
  }

  /** Negatives kept per query by [[hardNegatives]]. */
  val HardNegK = 3

  /** HARD-NEGATIVE MINING — the contrastive-training data op (the
    * retrieval/embedding fine-tune recipe of DPR, Karpukhin et al. 2020:
    * negatives that are SIMILAR but wrong teach the most): for each
    * query vector, the [[HardNegK]] nearest neighbors whose `label`
    * DIFFERS from the query's — exact cosine, the [[annBrute]]
    * discipline. Output (q_id, q_label, n_id, n_label, rnk, cos_micro).
    *
    * 100 TB shape: identical to [[annBrute]] — the asserted-bounded
    * query side broadcasts over ONE corpus scan (label rides the same
    * scan, so the wrong-label predicate dies inside the scan's codegen
    * stage before anything shuffles); the per-query top-k is the bounded
    * [[graft.functions.TopKAgg]]; the two label-attach joins run with
    * the BOUNDED top relation broadcast into corpus-scan / query-side
    * frames, never the reverse. */
  def hardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    val vl = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("long").as("label"),
        graft.functions.MicroVecExpr.micro(spark, col("embedding"))
          .as("em"))
      .withColumn("nrm", dot(col("em"), col("em")))
    val q = vl.where(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("q_id"), col("label").as("q_label"),
        col("em").as("qem"), col("nrm").as("qn"))
    // The annQueries in-plan size cap, label-carrying variant: the
    // assert rides in the broadcast build, so an unbounded query side
    // fails loudly before any probe work.
    val n = q.limit(MaxAnnQueries.toInt + 1)
      .agg(count(lit(1)).as("n_queries"))
    val qb = q.crossJoin(broadcast(n))
      .select(
        when(assert_true(col("n_queries") <= lit(MaxAnnQueries),
            lit(s"ANN query side has >$MaxAnnQueries rows — not " +
              "broadcastable; bound the query relation")).isNull,
          col("q_id")).as("q_id"),
        col("q_label"), col("qem"), col("qn"))
    val top = rankTopK(spark,
      vl.crossJoin(broadcast(qb))
        .where(col("vec_id") =!= col("q_id") &&
          col("label") =!= col("q_label"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn"))
            .as("cs")),
      HardNegK)
    vl.select(col("vec_id"), col("label"))
      .join(broadcast(top), col("vec_id") === col("n_id"))
      .select(col("q_id"), col("n_id"), col("label").as("n_label"),
        col("rnk"), col("cos_micro"))
      .join(broadcast(qb.select(col("q_id"), col("q_label"))), Seq("q_id"))
      .select(col("q_id"), col("q_label"), col("n_id"), col("n_label"),
        col("rnk"), col("cos_micro"))
  }

  /** CENTROID-DRIFT MATRIX — the embedding-space separation/collapse
    * readout (the monitoring statistic an embedding pipeline tracks
    * between model versions or data snapshots: class centroids drifting
    * together signal representation collapse; a centroid drifting from
    * its historical position signals upstream data drift): per label,
    * the exact-integer centroid (truncating per-dimension mean of the
    * micro-unit vectors — `div` ≡ DuckDB `//`, both toward zero), then
    * the full pairwise centroid-cosine matrix (label_a < label_b) with
    * member counts. Double appears only in the final normalize with
    * operand order mirrored in the oracle ([[annBrute]] discipline);
    * zero-norm centroids are dropped in both engines.
    *
    * 100 TB shape: ONE corpus scan (posexplode → hash aggregate keyed
    * (label, dim) — map-side combined, L·d rows at any corpus size);
    * everything after operates on the L·d centroid frame: the pair join
    * is L²·d over broadcast-sized relations, the norm/count attaches
    * broadcast the L-row frame. Nothing downstream scales with N. */
  def centroidDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val lv = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("label").cast("long").as("label"),
        posexplode(graft.functions.MicroVecExpr.micro(spark,
          col("embedding"))).as(Seq("i", "v")))
    val comps = lv.groupBy(col("label"), col("i"))
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .select(col("label"), col("i"), expr("s div n").as("c"), col("n"))
    val nc = comps.groupBy(col("label"))
      .agg(sum(col("c") * col("c")).as("nc"), min(col("n")).as("n"))
      .where(col("nc") > 0)
    val a = comps.select(col("label").as("label_a"), col("i"),
      col("c").as("ca"))
    val b = comps.select(col("label").as("label_b"), col("i"),
      col("c").as("cb"))
    val pairs = a.join(b, Seq("i"))
      .where(col("label_a") < col("label_b"))
      .groupBy(col("label_a"), col("label_b"))
      .agg(sum(col("ca") * col("cb")).as("d"))
    pairs
      .join(broadcast(nc.select(col("label").as("label_a"),
        col("nc").as("nca"), col("n").as("n_a"))), Seq("label_a"))
      .join(broadcast(nc.select(col("label").as("label_b"),
        col("nc").as("ncb"), col("n").as("n_b"))), Seq("label_b"))
      .select(col("label_a"), col("label_b"), col("n_a"), col("n_b"),
        round(col("d").cast("double") /
          (sqrt(col("nca").cast("double")) * sqrt(col("ncb").cast("double")))
          * lit(MICRO)).cast("long").as("cos_micro"))
  }

  // =================================================================
  // Search-index family
  // =================================================================

  /** INVERTED-INDEX build — the search-engine primitive over the
    * corpus: one posting row per (token, doc) with term frequency plus
    * first/last 0-based token positions (the positional-index payload
    * phrase and proximity queries consume — [[phraseSearch]] runs on
    * exactly this shape). Tokens are the engine-wide whitespace unit
    * ([[graft.functions.WordGramsExpr]] n=1), so the index, the dedup
    * shingles, and the DuckDB mirror agree on token identity.
    *
    * Scale shape: one codegen'd posexplode projection → ONE hash
    * aggregate keyed (token, doc_id); the shuffle carries (token,
    * doc_id, pos), never the text. The posting table is inherently
    * output-proportional (it IS the index); at 100 TB the write is
    * bucketed by hash(token) so a term lookup prunes to one bucket —
    * the build plan is unchanged. */
  def invertedIndex(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), posexplode(graft.functions.WordGramsExpr
        .grams(spark, col("text"), 1, distinct = false))
        .as(Seq("pos", "t")))
      .groupBy(col("t"), col("doc_id"))
      .agg(count(lit(1)).as("tf"),
        min(col("pos")).cast("long").as("first_pos"),
        max(col("pos")).cast("long").as("last_pos"))

  /** PHRASE SEARCH over the positional index — the query-side twin of
    * [[invertedIndex]]: every occurrence of the corpus' modal trigram
    * (top count, lexicographic tie-break — a deterministic stand-in for
    * a user query) found by POSITION ALGEBRA, not substring scan: a
    * posting for phrase part i at position p witnesses a phrase start
    * at p − i, and a start with all |phrase| witnesses is a match
    * (witness i is determined by p, so the count IS the distinct-part
    * count, repeated-token phrases included). Positional adjacency
    * becomes one hash aggregate — no per-part self-joins, no text
    * re-scan.
    *
    * Scale shape: the phrase head is a broadcast one-row LIMIT (the
    * pmiBigrams head discipline); postings filter to the phrase's
    * tokens BEFORE any shuffle (broadcast semi of the 3-row part
    * frame), so the aggregate sees only matching-token postings — the
    * classic posting-list-intersection cost, proportional to the
    * phrase tokens' list sizes, not the corpus. Output (doc_id,
    * phrase, n_hits, first_pos). */
  def phraseSearch(spark: SparkSession, sfDir: String): DataFrame =
    phraseProbeStage(
      positionsOf(spark, docs(spark, sfDir)),
      phraseParts(spark, docs(spark, sfDir)))

  /** The positional relation (doc_id, pos, t) of a (doc_id, text)
    * corpus frame — the store-layout unit of
    * [[graft.sources.PositionsIndex]] (a position depends only on its
    * own document, so the relation appends/removes per-doc — the K9
    * lifecycle discipline applies verbatim). */
  private[graft] def positionsOf(spark: SparkSession,
      corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"), posexplode(graft.functions.WordGramsExpr
      .grams(spark, col("text"), 1, distinct = false))
      .as(Seq("pos", "t")))

  /** The standard deterministic phrase query: the corpus's modal
    * trigram exploded to (g, i, t) parts — the query-side stand-in
    * (the annQueries discipline: queries come from OUTSIDE the store),
    * shared by the self-contained batch operator and the
    * [[graft.sources.PositionsIndex]] probes. */
  private[graft] def phraseParts(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    val top = corpus
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 3, distinct = false)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g").asc).limit(1)
    top.select(col("g"),
      posexplode(split(col("g"), " ")).as(Seq("i", "t")))
  }

  /** The probe proper — position algebra of a (g, i, t) parts frame
    * against a positional relation; shared VERBATIM by
    * [[phraseSearch]] and the persistent store's probes, so the two
    * are plan-identical by construction. */
  private[graft] def phraseProbeStage(pos: DataFrame,
      parts: DataFrame): DataFrame =
    pos.join(broadcast(parts), Seq("t"))
      .groupBy(col("doc_id"), col("g").as("phrase"),
        (col("pos") - col("i")).as("strt"))
      .agg(count(lit(1)).as("k"))
      .where(col("k") === 3)
      .groupBy(col("doc_id"), col("phrase"))
      .agg(count(lit(1)).as("n_hits"),
        min(col("strt")).cast("long").as("first_pos"))

  /** Proximity window: two terms "near" each other means within 4
    * token positions — the Lucene `"a b"~slop` convention at slop 4. */
  val ProximityWindow = 4L

  /** PROXIMITY SEARCH — the windowed-co-occurrence retrieval primitive
    * between [[phraseSearch]]'s exact adjacency and [[bm25Search]]'s
    * bag-of-words scoring (Lucene's SpanNearQuery / `"..."~slop`): all
    * documents where the two standard terms occur within
    * [[ProximityWindow]] positions, with the closest distance and the
    * number of within-window position pairs (the proximity-boost
    * evidence a ranker consumes). The standard query is deterministic:
    * the modal trigram's FIRST and LAST words ([[phraseParts]]' own
    * head — guaranteed co-occurring at distance 2 wherever the phrase
    * occurs, plus whatever looser co-occurrences the corpus carries).
    * Same-position pairs are excluded (one occurrence cannot witness
    * its own proximity — also what makes the degenerate equal-terms
    * query well-defined). Output (doc_id, t_a, t_b, min_dist,
    * n_pairs_w), min_dist ≤ W.
    *
    * 100 TB shape: the two posting lists filter AT THE SCAN (broadcast
    * single-term joins — the position relation never shuffles); the
    * pair join is per-doc_id on the two terms' occurrence lists (the
    * skew bound is the posting-list product of ONE document, the same
    * bound Lucene's span scorer walks); the rollup is one hash
    * aggregate. Served from the K10 store by
    * [[graft.sources.PositionsIndex.proximityAgainst]] — this stage
    * VERBATIM over the stored relation. */
  def proximitySearch(spark: SparkSession, sfDir: String): DataFrame =
    proximityStage(
      positionsOf(spark, docs(spark, sfDir)),
      proximityTerms(spark, docs(spark, sfDir)))

  /** The standard deterministic proximity query: the modal trigram's
    * first and last words as (t, role a|b) — derived from
    * [[phraseParts]] so phrase and proximity probes share one
    * standard-query discipline. */
  private[graft] def proximityTerms(spark: SparkSession,
      corpus: DataFrame): DataFrame =
    phraseParts(spark, corpus)
      .where(col("i") =!= 1)
      .select(col("t"),
        when(col("i") === 0, lit("a")).otherwise(lit("b")).as("role"))

  /** The probe proper — windowed pair algebra of an (t, role) term
    * frame against a positional relation; shared VERBATIM by
    * [[proximitySearch]] and the persistent store's probe (the
    * one-pair view of [[proximityServeStage]] under a constant
    * q_id). */
  private[graft] def proximityStage(pos: DataFrame,
      terms: DataFrame): DataFrame =
    proximityServeStage(pos, terms.withColumn("q_id", lit(1L)))
      .drop("q_id")

  /** MULTI-PAIR SERVING stage — the [[bm25ServeStage]] discipline on
    * the proximity probe: a (q_id, t, role) query-batch frame answers
    * EVERY pair in one pass over the positional relation (the K10
    * store's production shape: one broadcast of the whole query batch,
    * one postings filter at the scan, never a per-pair job). The pair
    * join keys on (q_id, doc_id), so pairs sharing a term stay
    * independent; all per-pair algebra is [[proximityStage]]'s
    * verbatim. */
  private[graft] def proximityServeStage(pos: DataFrame,
      terms: DataFrame): DataFrame = {
    val pa = pos.join(broadcast(terms.where(col("role") === "a")
        .select(col("q_id"), col("t"))), Seq("t"))
      .select(col("q_id"), col("doc_id"), col("t").as("t_a"),
        col("pos").as("pos_a"))
    val pb = pos.join(broadcast(terms.where(col("role") === "b")
        .select(col("q_id"), col("t"))), Seq("t"))
      .select(col("q_id"), col("doc_id"), col("t").as("t_b"),
        col("pos").as("pos_b"))
    pa.join(pb, Seq("q_id", "doc_id"))
      .where(col("pos_a") =!= col("pos_b"))
      .select(col("q_id"), col("doc_id"), col("t_a"), col("t_b"),
        abs(col("pos_a") - col("pos_b")).as("d"))
      .groupBy(col("q_id"), col("doc_id"), col("t_a"), col("t_b"))
      .agg(min(col("d")).cast("long").as("min_dist"),
        sum(when(col("d") <= ProximityWindow, 1L).otherwise(0L))
          .as("n_pairs_w"))
      .where(col("min_dist") <= ProximityWindow)
  }

  /** The standard deterministic TWO-pair proximity batch (the
    * [[standardServeQueries]] discipline): the top-2 modal trigrams
    * (count desc, gram asc LIMIT 2 — then q_ids assigned over the
    * already-bounded rows, never a whole-vocabulary window), each
    * contributing its (first, last)-word pair as (q_id, t, role). */
  private[graft] def proximityServeTerms(spark: SparkSession,
      corpus: DataFrame): DataFrame = {
    val top2 = corpus
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 3, distinct = false)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("g").asc).limit(2)
      .withColumn("q_id", row_number().over(
        Window.orderBy(col("c").desc, col("g").asc)).cast("long"))
    top2.select(col("q_id"),
        posexplode(split(col("g"), " ")).as(Seq("i", "t")))
      .where(col("i") =!= 1)
      .select(col("q_id"), col("t"),
        when(col("i") === 0, lit("a")).otherwise(lit("b")).as("role"))
  }

  /** PROXIMITY SERVING — the registry form of the multi-pair probe
    * (the bm25Serve sibling at the positional tier): the standard
    * two-pair batch answered in ONE pass over the positional relation.
    * Output (q_id, doc_id, t_a, t_b, min_dist, n_pairs_w); q_id 1's
    * rows ≡ [[proximitySearch]] by construction. Served from the K10
    * store by [[graft.sources.PositionsIndex.proximityServeAgainst]]
    * — this stage verbatim over the stored relation. */
  def proximityServe(spark: SparkSession, sfDir: String): DataFrame =
    proximityServeStage(
      positionsOf(spark, docs(spark, sfDir)),
      proximityServeTerms(spark, docs(spark, sfDir)))

  /** RANKED RETRIEVAL over the [[invertedIndex]] tier — the scored
    * search primitive beside [[phraseSearch]]'s exact positional match:
    * rank all documents for a query by Σ tf(doc, term)·idf_bits(term)
    * (the integer tf-idf of [[keywordsTfidf]], applied as the retrieval
    * function — the lucene-classic shape with the engine's exact
    * `length(bin(N div df))−1` integer IDF; BM25's float saturation is
    * deliberately out of integer-discipline scope). The query is a
    * deterministic stand-in: the corpus's 3 most distinctive frequent
    * terms (global tf·idf_bits desc, token asc — what a search QC
    * harness probes its own index with). Output the top-10
    * (doc_id, score, rnk, n_terms_hit).
    *
    * 100 TB shape: the 3-row query head BROADCASTS into the bounded
    * (doc, token, cnt) relation (never the reverse); the per-doc sum is
    * one hash aggregate; the final top-10 is TakeOrderedAndProject
    * (bounded). */
  def tfidfSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val vocab = vocabOfCounts(dt)
    val ndocs = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    finish(tfidfScoreStage(dt, retrievalQueryHead(vocab, ndocs)), dt)
  }

  /** (token, tf, df) vocabulary relation of a (doc_id, token, cnt)
    * frame — the store-layout unit of
    * [[graft.sources.PostingsIndex]]. */
  private[graft] def vocabOfCounts(dt: DataFrame): DataFrame =
    dt.groupBy(col("token"))
      .agg(sum(col("cnt")).as("tf"), count(lit(1)).as("df"))

  /** The standard deterministic query head shared by the retrieval
    * tier: the corpus's 3 most distinctive frequent terms (global
    * tf·idf_bits desc, token asc) with their integer IDF — computed
    * from a vocabulary relation + one-row doc count, so it serves both
    * the self-contained batch queries and the postings-store probe
    * ([[graft.sources.PostingsIndex.standardQuery]]) unchanged. */
  private[graft] def retrievalQueryHead(vocab: DataFrame,
      ndocs: DataFrame): DataFrame =
    termWeights(vocab, ndocs)
      .orderBy(col("gscore").desc, col("token").asc).limit(3)
      .select(col("token"), col("idf_bits"))

  /** (token, idf_bits, gscore) term-weight relation of a vocabulary +
    * one-row doc count — the IDF arithmetic in ONE place, serving the
    * standard query head and the postings store's ad-hoc query
    * weighting ([[graft.sources.PostingsIndex.queryWeights]]). */
  private[graft] def termWeights(vocab: DataFrame,
      ndocs: DataFrame): DataFrame =
    vocab.crossJoin(broadcast(ndocs))
      .select(col("token"),
        (length(bin(expr("n div df"))) - 1).cast("long").as("idf_bits"),
        (col("tf") * (length(bin(expr("n div df"))) - 1).cast("long"))
          .as("gscore"))

  /** SCORE stage of [[tfidfSearch]] — per-doc Σ tf·idf_bits over a
    * (token, idf_bits) query head, top-10: shared verbatim by the
    * postings-store probe. */
  private[graft] def tfidfScoreStage(dt: DataFrame,
      query: DataFrame): DataFrame =
    dt.join(broadcast(query), Seq("token"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("idf_bits")).as("score"),
        count(lit(1)).as("n_terms_hit"))
      .where(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id").asc).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("score"), col("rnk"), col("n_terms_hit"))

  /** EXACT-INTEGER BM25 (Robertson-Spärck Jones, the Okapi ranking
    * function; k1 = 1.2, b = 0.75) — the saturating/length-normalized
    * retrieval tier beside [[tfidfSearch]]'s raw tf·idf: with the
    * standard constants as exact rationals (6/5, 3/4) each term's score
    * reduces to ONE integer division,
    * `44·idf_bits·tf·Σdl·10^6 div (20·tf·Σdl + 6·Σdl + 18·dl·N)`
    * (numerator/denominator multiplied through by 20·Σdl), carried in
    * DECIMAL(38) so no float exists anywhere — the engines cannot
    * diverge on rounding. Per-term micro scores sum per doc; same
    * 3-term distinctiveness query head and output shape as
    * [[tfidfSearch]] (doc_id, score_micro, rnk, n_terms_hit).
    *
    * 100 TB shape: identical to [[tfidfSearch]] — query head + the two
    * corpus scalars (N, Σdl) broadcast into the bounded (doc, token,
    * cnt) relation joined with the per-doc length on the
    * co-partitionable doc_id; top-10 = bounded TakeOrderedAndProject. */
  def bm25Search(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val dls = dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val vocab = vocabOfCounts(dt)
    val ndocs = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    val sdl = dls.agg(sum(col("dl")).as("sdl"))
    finish(bm25ScoreStage(dt, dls, ndocs, sdl,
      retrievalQueryHead(vocab, ndocs)), dt)
  }

  /** SCORE stage of [[bm25Search]] — the exact-integer Okapi term
    * scores over a (token, idf_bits) query head, per-doc sum, top-10:
    * shared verbatim by the postings-store probe
    * ([[graft.sources.PostingsIndex.bm25Against]]). `ndocs` = one-row
    * (n), `sdl` = one-row (sdl), `dls` = (doc_id, dl). */
  private[graft] def bm25ScoreStage(dt: DataFrame, dls: DataFrame,
      ndocs: DataFrame, sdl: DataFrame, query: DataFrame): DataFrame =
    dt.join(broadcast(query), Seq("token"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(ndocs)).crossJoin(broadcast(sdl))
      .select(col("doc_id"),
        expr("""cast((cast(44 as decimal(38,0)) * idf_bits * cnt * sdl
          |         * 1000000)
          |     div (cast(20 as decimal(38,0)) * cnt * sdl + 6 * sdl
          |         + cast(18 as decimal(38,0)) * dl * n)
          |  as bigint)""".stripMargin).as("term_micro"))
      .groupBy(col("doc_id"))
      .agg(sum(col("term_micro")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .where(col("score_micro") > 0)
      .orderBy(col("score_micro").desc, col("doc_id").asc).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score_micro").desc, col("doc_id").asc))
        .cast("long"))
      .select(col("doc_id"), col("score_micro"), col("rnk"),
        col("n_terms_hit"))

  /** MULTI-QUERY BM25 SERVING — the per-query form of
    * [[bm25ScoreStage]] (what a search tier actually runs: a BATCH of
    * queries against one index, each getting its own top-10): `queries`
    * is (q_id, token, idf_bits); scoring is the identical exact-integer
    * Okapi arithmetic, aggregated per (q_id, doc) and ranked per q_id.
    * Shared verbatim by the postings-store serving probe
    * ([[graft.sources.PostingsIndex.bm25ServeAgainst]]) and its
    * streaming twin.
    *
    * 100 TB shape: the query relation BROADCASTS (a serving batch is
    * KB-sized); postings filter to its tokens before anything shuffles;
    * the per-(q, doc) sum is one hash aggregate and the per-query
    * top-10 window partitions on q_id over only score-positive rows. */
  private[graft] def bm25ServeStage(dt: DataFrame, dls: DataFrame,
      ndocs: DataFrame, sdl: DataFrame, queries: DataFrame): DataFrame =
    dt.join(broadcast(queries), Seq("token"))
      .join(dls, Seq("doc_id"))
      .crossJoin(broadcast(ndocs)).crossJoin(broadcast(sdl))
      .select(col("q_id"), col("doc_id"),
        expr("""cast((cast(44 as decimal(38,0)) * idf_bits * cnt * sdl
          |         * 1000000)
          |     div (cast(20 as decimal(38,0)) * cnt * sdl + 6 * sdl
          |         + cast(18 as decimal(38,0)) * dl * n)
          |  as bigint)""".stripMargin).as("term_micro"))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("term_micro")).as("score_micro"),
        count(lit(1)).as("n_terms_hit"))
      .where(col("score_micro") > 0)
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("score_micro").desc, col("doc_id").asc))
        .cast("long"))
      .where(col("rnk") <= 10)
      .select(col("q_id"), col("doc_id"), col("score_micro"), col("rnk"),
        col("n_terms_hit"))

  /** Registry form of the serving tier: the standard deterministic
    * TWO-query batch — global-distinctiveness term ranks 1-3 form query
    * 1, ranks 4-6 query 2 (gscore desc, token asc, the
    * [[retrievalQueryHead]] ordering) — each answered with its own
    * exact-integer BM25 top-10. Output (q_id, doc_id, score_micro, rnk,
    * n_terms_hit); q_id 1's rows ≡ [[bm25Search]] by construction. */
  def bm25Serve(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val dls = dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val ndocs = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    val sdl = dls.agg(sum(col("dl")).as("sdl"))
    val qs = standardServeQueries(vocabOfCounts(dt), ndocs)
    finish(bm25ServeStage(dt, dls, ndocs, sdl, qs), dt)
  }

  /** The standard 2×3-term serving batch off a vocabulary + doc count
    * (6-row LIMIT, then ranks assigned over the already-bounded rows —
    * never a whole-vocabulary window). */
  private[graft] def standardServeQueries(vocab: DataFrame,
      ndocs: DataFrame): DataFrame =
    termWeights(vocab, ndocs)
      .orderBy(col("gscore").desc, col("token").asc).limit(6)
      .withColumn("trnk", row_number().over(
        Window.orderBy(col("gscore").desc, col("token").asc)))
      .select((expr("(trnk - 1) div 3").cast("long") + 1).as("q_id"),
        col("token"), col("idf_bits"))

  /** RRF rank constant (the standard k = 60 of Cormack et al. 2009). */
  val RrfK = 60L

  /** RECIPROCAL-RANK FUSION (Cormack, Clarke & Buettcher 2009) — the
    * standard hybrid-retrieval combiner over the engine's two rankers:
    * fuse [[tfidfSearch]] and [[bm25Search]] top-10s by
    * `Σ 10^6 div (k + rank)` (k = [[RrfK]]), exact integer, re-ranked
    * by fused score with the doc_id tie-break. A doc absent from one
    * list contributes 0 for it (rank reported as 0). Output
    * (doc_id, tfidf_rnk, bm25_rnk, rrf_micro, rnk) — the shape a
    * RAG retrieval stack ships to its reranker.
    *
    * 100 TB shape: both inputs are already bounded top-10 relations
    * (each one built scan-side by its own operator); everything here —
    * the full-outer join, the integer fusion, the final rank window —
    * runs on ≤ 20 rows at any corpus size. */
  def rrfFusion(spark: SparkSession, sfDir: String): DataFrame = {
    // Both rankers run over the SAME (doc_id, token, cnt) relation and
    // the SAME standard query head — tokenize the corpus once, warm
    // the shared cache, and evaluate the two bounded score stages on
    // overlapped driver threads ([[parPinned]]); the old form called
    // the two standalone operators, paying the corpus tokenize twice,
    // strictly serially. Stages are [[tfidfScoreStage]] /
    // [[bm25ScoreStage]] VERBATIM over the shared inputs, so the rows
    // are identical by construction.
    val dt = warm(Exec.persist(docTokenCounts(spark, sfDir)))
    val dls = dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
    val ndocs = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    val sdl = dls.agg(sum(col("dl")).as("sdl"))
    val qh = retrievalQueryHead(vocabOfCounts(dt), ndocs)
    val Seq(t, b) = parPinned(Seq(
      () => tfidfScoreStage(dt, qh),
      () => bm25ScoreStage(dt, dls, ndocs, sdl, qh)))
    finish(rrfStage(t, b), dt)
  }

  /** The fusion stage proper — reciprocal-rank fusion of a tf-idf and
    * a BM25 top-10 relation (each carrying (doc_id, rnk)); shared
    * VERBATIM by the self-contained [[rrfFusion]] and the
    * store-served [[graft.sources.PostingsIndex.rrfIndexed]] (both
    * rankers probed off ONE persistent index), so the two are
    * plan-identical by construction. */
  private[graft] def rrfStage(tfidf: DataFrame,
      bm25: DataFrame): DataFrame = {
    val t = tfidf.select(col("doc_id"), col("rnk").as("tfidf_rnk"))
    val b = bm25.select(col("doc_id"), col("rnk").as("bm25_rnk"))
    t.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("tfidf_rnk"), lit(0L)).as("tfidf_rnk"),
        coalesce(col("bm25_rnk"), lit(0L)).as("bm25_rnk"))
      .withColumn("rrf_micro",
        when(col("tfidf_rnk") > 0,
          expr(s"1000000 div ($RrfK + tfidf_rnk)")).otherwise(lit(0L)) +
        when(col("bm25_rnk") > 0,
          expr(s"1000000 div ($RrfK + bm25_rnk)")).otherwise(lit(0L)))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rrf_micro").desc, col("doc_id").asc))
        .cast("long"))
  }

  /** CDC boundary modulus: a token whose hash60 ≡ 0 (mod 16) closes the
    * chunk after itself → expected chunk length 16 tokens. */
  val CdcMod = 16L

  /** CONTENT-DEFINED CHUNKING + duplicate-chunk detection — the
    * sub-document dedup tier (the FastCDC/rsync boundary idea applied
    * at token granularity, beside [[dedupSubstring]]'s gram sketch):
    * chunk boundaries fall where `hash60(token) mod` [[CdcMod]] `= 0`,
    * so identical content produces identical chunks REGARDLESS of its
    * offset in the document (a fixed-stride chunker like
    * [[chunkDocuments]] loses alignment after one insertion — CDC is
    * how backup/dedup systems survive shifts). Each chunk carries an
    * order-sensitive positional fingerprint
    * `Σ (rel_pos+1)·hash60(token) mod 2^60` (DECIMAL(38)/HUGEINT
    * arithmetic — per-chunk hash sums alone exceed int64); output is
    * every fingerprint appearing ≥ 2 times:
    * (fp, n_tokens, n_docs, n_occ, min_doc).
    *
    * 100 TB shape: one codegen'd posexplode scan; the boundary
    * prefix-sum window partitions PER DOCUMENT (bounded by doc length,
    * never corpus size — the keywordsTfidf argument); the chunk
    * aggregate and the fingerprint rollup are hash aggregates whose
    * shuffle carries (doc, chunk, 3 numbers) and (fp, …) — never
    * text. */
  def cdcChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val tok = docs(spark, sfDir)
      .select(col("doc_id"),
        posexplode(words(col("text"))).as(Seq("pos", "t")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        hash60(col("t")).as("h"))
      .withColumn("b",
        when(pmod(col("h"), lit(CdcMod)) === 0, lit(1L)).otherwise(lit(0L)))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val chunks = tok
      .withColumn("chunk", coalesce(sum(col("b")).over(byDoc), lit(0L)))
      .groupBy(col("doc_id"), col("chunk"))
      .agg(min(col("pos")).as("start_pos"),
        count(lit(1)).as("n_tokens"),
        sum(col("h").cast("decimal(38,0)") * (col("pos") + 1)).as("pw"),
        sum(col("h").cast("decimal(38,0)")).as("hs"))
      .select(col("doc_id"), col("n_tokens"),
        expr(s"CAST((pw - start_pos * hs) % ${1L << 60} AS BIGINT)")
          .as("fp"))
    chunks.groupBy(col("fp"), col("n_tokens"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(col("doc_id")).as("min_doc"))
      .where(col("n_occ") >= 2)
  }

  // =================================================================
  // Text-analysis family
  // =================================================================

  /** Language-ID via stopword profiles ([[Lexicons.langProfiles]]):
    * argmax profile-hit count, tie-break lang asc, 'und' on zero hits.
    * Output (doc_id, lang_pred, hits). */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val tok = d.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val profiles = Lexicons.langProfiles.flatMap { case (l, ws) =>
      ws.map(w => (l, w))
    }
    val langp = spark.createDataFrame(profiles).toDF("lang_pred", "w")
    val hits = tok.join(broadcast(langp), col("t") === col("w"))
      .groupBy(col("doc_id"), col("lang_pred"))
      .agg(count(lit(1)).as("hits"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("hits").desc, col("lang_pred").asc)))
      .where(col("rnk") === 1)
      .select(col("doc_id"), col("lang_pred"), col("hits"))
    d.select(col("doc_id")).join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lang_pred"), lit("und")).as("lang_pred"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Language-ID evaluation — the quality-control pass a pipeline runs
    * over its classifier: confusion counts of corpus label vs [[langId]]
    * prediction. One broadcast-profile scoring pass + one label join +
    * one aggregate; non-trivial on this corpus (the `zh` label has no
    * stopword profile, so its mass lands on 'und'/confusions). Output
    * (lang, lang_pred, cnt). */
  def langConfusion(spark: SparkSession, sfDir: String): DataFrame =
    langId(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("cnt"))

  /** Cavnar-Trenkle profile width: top-K trigrams per language / doc. */
  val CtProfK = 40

  /** N-GRAM RANK-DISTANCE LANGUAGE ID (Cavnar & Trenkle 1994, "N-Gram-
    * Based Text Categorization" — the textcat algorithm) beside
    * [[langId]]'s stopword argmax: per-language profiles are the
    * [[CtProfK]] most frequent char-trigram hashes of that label's own
    * corpus text (SELF-TRAINED from the `lang` column, the
    * [[graft.nlp.MlSentiment]] discipline), a document's profile is its
    * own top-[[CtProfK]] trigrams, and the prediction is the language
    * minimizing the OUT-OF-PLACE distance: Σ over doc-profile grams of
    * |doc rank − language rank|, with out-of-profile grams costing the
    * maximum [[CtProfK]]. Ties (count, then distance) break on gram
    * hash / language asc, so both engines pick identical profiles and
    * predictions. Docs shorter than one trigram predict 'und'. Output
    * (doc_id, lang, lang_pred, dist) — label kept so the confusion
    * readout is one aggregate away.
    *
    * Trigram unit = hash60 of the code-point 3-gram (the compiled
    * [[graft.functions.CharGramHashesExpr]] pass) — ranks only ever
    * compare counts, so the gram STRING never shuffles.
    *
    * 100 TB shape: the whole per-doc profile build is ONE compiled pass
    * ([[graft.functions.CharGramCountsExpr]] — hash map + sort per
    * document, pipelined with the scan; no gram-occurrence explode, no
    * (doc, hash) aggregate shuffle), so doc profiles need NO shuffle at
    * all (a codegen `slice` of the sorted pairs); the language profile
    * sums the per-doc DISTINCT-gram counts (≤ the occurrence relation)
    * in one vocab-bounded aggregate whose L·K result BROADCASTS; the
    * distance frame is N·L rows of pure arithmetic. */
  def langIdNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val gc = Exec.persist(ctGramCounts(spark, docs(spark, sfDir)))
    // Pinned (localCheckpoint): the L·K-row profile feeds BOTH the
    // matched join's broadcast and the language list — without the pin
    // its corpus-sized aggregate subplan would execute twice.
    val langProf = pin(ctProfilesFromCounts(gc))
    finish(ctScoreCounts(gc, langProf), gc)
  }

  /** (doc_id, lang, gc) gram-count frame of a (doc_id, lang, text)
    * input — the shared feed of the profile TRAIN and SCORE halves. */
  private[graft] def ctGramCounts(spark: SparkSession,
      d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("lang"),
      graft.functions.CharGramCountsExpr.counts(
        spark, col("text"), 3).as("gc"))

  /** The ADDITIVE half of profile training: per-(lang, trigram) count
    * sums of a gram-count frame — pure sums, so two sub-corpora's
    * relations merge into the full corpus's by one more sum (what makes
    * the [[graft.sources.LangProfileStore]] append lifecycle exact). */
  private[graft] def ctLangCounts(gc: DataFrame): DataFrame =
    gc.select(col("lang"), explode(col("gc")).as("e"))
      .select(col("lang"), col("e.h").as("h"), col("e.c").as("c0"))
      .groupBy(col("lang"), col("h"))
      .agg(sum(col("c0")).as("c"))

  /** The RANKED half: the L·[[CtProfK]] profile relation
    * (plang, h, lrank) — a deterministic function of the count
    * relation, re-derived after every count merge. */
  private[graft] def ctProfilesOfLangCounts(lc: DataFrame): DataFrame =
    lc.withColumn("lrank", row_number().over(
        Window.partitionBy(col("lang"))
          .orderBy(col("c").desc, col("h").asc)).cast("long"))
      .where(col("lrank") <= CtProfK)
      .select(col("lang").as("plang"), col("h"), col("lrank"))

  /** TRAIN half: the L·[[CtProfK]] profile relation
    * (plang, h, lrank) from a gram-count frame. */
  private[graft] def ctProfilesFromCounts(gc: DataFrame): DataFrame =
    ctProfilesOfLangCounts(ctLangCounts(gc))

  /** SCORE half: classify a gram-count frame against a (small, pinned)
    * profile relation — per-doc work only, so the same code serves the
    * self-trained batch query and the train-offline/score-online store
    * path ([[graft.sources.LangProfileStore]]). */
  private[graft] def ctScoreCounts(gc: DataFrame,
      langProf: DataFrame): DataFrame = {
    // Doc profile = the first K of the expression's (count desc, hash
    // asc)-sorted pairs — shuffle-free by construction.
    val docProf = gc
      .select(col("doc_id"),
        posexplode(slice(col("gc"), 1, CtProfK)).as(Seq("i", "e")))
      .select(col("doc_id"), col("e.h").as("h"),
        (col("i") + 1).cast("long").as("drank"))
    val nProf = docProf.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_prof"))
    val langs = langProf.select(col("plang")).distinct()
    val matched = docProf.join(broadcast(langProf), Seq("h"))
      .groupBy(col("doc_id"), col("plang"))
      .agg(sum(abs(col("drank") - col("lrank"))).as("s"),
        count(lit(1)).as("m"))
    val dist = nProf.crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "plang"), "left")
      .select(col("doc_id"), col("plang"),
        (coalesce(col("s"), lit(0L)) +
          (col("n_prof") - coalesce(col("m"), lit(0L))) *
            lit(CtProfK.toLong)).as("dist"))
    val best = dist.withColumn("rnk", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("dist").asc, col("plang").asc)))
      .where(col("rnk") === 1)
      .select(col("doc_id"), col("plang"), col("dist"))
    gc.select(col("doc_id"), col("lang"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("plang"), lit("und")).as("lang_pred"),
        coalesce(col("dist"), lit(0L)).as("dist"))
  }

  /** Stateless projection form of [[langId]] — the shape the streaming
    * ingest twin runs: per-language occurrence hits via broadcast-literal
    * profile arrays, argmax by (hits desc, lang asc) through one
    * `greatest` over ordered structs, 'und' on zero hits. Semantically
    * identical to the batch join+window plan (profiles are distinct-word
    * sets, so join-count ≡ occurrence-count) with ZERO shuffles — pinned
    * stream ≡ batch in StreamingSpec. Input needs (doc_id, text); adds
    * (lang_pred, hits). */
  def langIdCols(df: DataFrame): DataFrame = {
    // Native one-pass scorer+argmax (the composed per-language
    // `size(filter(array_contains))` + `greatest` stack was one
    // CodegenFallback lambda per profile over the scan — CodegenLint);
    // property-pinned ≡ the composed form in NativeExprPropertiesSpec.
    val m = graft.functions.LangHitsExpr.best(SparkSession.active,
      tokens(col("text")))
    df.withColumn("m", m)
      .withColumn("lang_pred",
        when(col("m.hits") === 0L, lit("und")).otherwise(col("m.lang_pred")))
      .withColumn("hits", col("m.hits"))
      .drop("m")
  }

  /** Text-quality scoring: token/stopword/punctuation ratios and a fixed
    * quality formula, all micro-unit BIGINTs. Single-pass projection.
    * Column form over any (doc_id, text) frame — shared by the batch
    * query and the streaming ingest twin. */
  /** The raw quality metric columns added onto any (doc_id, text) frame
    * (input columns kept) — the composition point for
    * [[graft.streaming.StreamingOps.curationStream]]. */
  def textQualityMetrics(d: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    d
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("n_stop",
        graft.functions.StopHitsExpr.hits(SparkSession.active, toks))
      .withColumn("alpha",
        length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("long"))
      .withColumn("nchars", length(col("text")).cast("long"))
      .withColumn("punct",
        length(regexp_replace(col("text"), "[a-zA-Z0-9 ]", "")).cast("long"))
      .withColumn("quality_micro",
        round((least(col("n_tok"), lit(50L)).cast("double") / lit(50.0) *
          lit(0.5) +
          least(col("n_stop").cast("double") * lit(3.0) /
            greatest(col("n_tok"), lit(1L)).cast("double"), lit(1.0)) *
            lit(0.3) +
          (lit(1.0) - col("punct").cast("double") /
            greatest(col("nchars"), lit(1L)).cast("double")) * lit(0.2)) *
          lit(MICRO)).cast("long"))
  }

  def textQualityCols(d: DataFrame): DataFrame =
    textQualityMetrics(d)
      .select(col("doc_id"), col("n_tok"), col("n_stop"),
        when(col("n_tok") === 0, lit(0L)).otherwise(
          round(col("n_stop").cast("double") / col("n_tok").cast("double") *
            lit(MICRO)).cast("long")).as("stop_ratio_micro"),
        when(col("nchars") === 0, lit(0L)).otherwise(
          round(col("punct").cast("double") / col("nchars").cast("double") *
            lit(MICRO)).cast("long")).as("punct_ratio_micro"),
        when(col("n_tok") === 0, lit(0L)).otherwise(
          round(col("alpha").cast("double") / col("n_tok").cast("double") *
            lit(MICRO)).cast("long")).as("avg_wlen_micro"),
        col("quality_micro"))

  /** EXACT-INTEGER OLS TREND per source — does document quality rise or
    * fall with length? The statistical-profiling pass a curation run
    * uses to pick length cutoffs, done without a single float: slope of
    * quality_micro against n_chars via the closed-form least-squares
    * ratio, numerator (n·Σxy − Σx·Σy)·10^6 and denominator n·Σxx − Σx²
    * carried in DECIMAL(38,0) (DuckDB HUGEINT) and combined by ONE
    * truncating division (identical toward-zero semantics both engines,
    * verified incl. negatives). slope_ppm = micro-quality change per
    * character, ×10^6; 0 when the source's lengths are constant (den 0).
    * Truncating integer means ride along.
    *
    * Headroom, honestly: with x ≤ 10^5 chars and y ≤ 10^6 micro, the
    * ×10^6 numerator stays inside DECIMAL(38) to ~3·10^10 docs PER
    * SOURCE; beyond that pre-reduce the fraction (the [[pmiBigrams]]
    * note — engines diverge on overflow: Spark non-ANSI NULLs, DuckDB
    * raises).
    *
    * Plan: one projection + ONE hash aggregate (five sums with map-side
    * partials), then pure per-row arithmetic on the |sources|-row
    * result — nothing after the aggregate scales with the corpus. */
  def qualityTrend(spark: SparkSession, sfDir: String): DataFrame =
    textQualityMetrics(docs(spark, sfDir))
      .select(col("source"),
        col("nchars").cast("decimal(38,0)").as("x"),
        col("quality_micro").cast("decimal(38,0)").as("y"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("source"), col("n"),
        expr("cast(sx div n as bigint)").as("mean_chars"),
        expr("cast(sy div n as bigint)").as("mean_quality_micro"),
        expr("""cast(CASE
          |  WHEN cast(n as decimal(38,0)) * sxx - sx * sx = 0 THEN 0
          |  ELSE ((cast(n as decimal(38,0)) * sxy - sx * sy)
          |          * 1000000)
          |       div (cast(n as decimal(38,0)) * sxx - sx * sx)
          |END as bigint)""".stripMargin).as("slope_ppm"))

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    textQualityCols(docs(spark, sfDir))

  /** BPE-ish token count of `text`: letter runs | digit runs | single
    * non-alnum. Whitespace spelled explicitly: Java \s includes \x0B,
    * RE2's does not — an implicit \s would let exotic whitespace split
    * the engines. */
  private def bpeTokens(text: Column): Column =
    size(regexp_extract_all(lower(text),
      lit("[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"), lit(0)))
      .cast("long")

  /** Token counting: whitespace tokens and the BPE-ish segmentation.
    * Column form over any (doc_id, text) frame — shared by batch and
    * the streaming twin. */
  def tokenCountCols(d: DataFrame): DataFrame =
    d.select(
      col("doc_id"),
      size(words(col("text"))).cast("long").as("ws_tokens"),
      bpeTokens(col("text")).as("bpe_tokens"),
      length(col("text")).cast("long").as("nchars"))

  def tokenCount(spark: SparkSession, sfDir: String): DataFrame =
    tokenCountCols(docs(spark, sfDir))

  /** TOKENIZER FERTILITY per source — the tokenizer-evaluation readout
    * (fertility = subword tokens emitted per whitespace word; a
    * tokenizer mismatched to a source shows fertility ≫ 1, the standard
    * multilingual-tokenizer health metric): per source, document count,
    * the two token totals, fertility in ppm and the compression view
    * (chars per BPE-ish token, ppm). Exact integer ratios (truncating
    * div), one projection + one hash aggregate onto the |sources|-row
    * frame — nothing after the scan scales with the corpus. */
  def tokenFertility(spark: SparkSession, sfDir: String): DataFrame =
    tokenFertilityCols(docs(spark, sfDir))

  /** Column form of [[tokenFertility]] over any (source, text) frame —
    * the sums are ADDITIVE and the ratios derive from them, so this
    * exact aggregation also runs as the update-mode live readout
    * ([[graft.streaming.StreamingOps.tokenFertilityStream]]); state is
    * four longs per source. */
  def tokenFertilityCols(d: DataFrame): DataFrame =
    d.select(col("source"),
        size(words(col("text"))).cast("long").as("ws"),
        bpeTokens(col("text")).as("bpe"),
        length(col("text")).cast("long").as("nc"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
        sum(col("bpe")).as("bpe_tokens"), sum(col("nc")).as("nchars"))
      .select(col("source"), col("n_docs"), col("ws_tokens"),
        col("bpe_tokens"),
        expr("bpe_tokens * 1000000 div greatest(ws_tokens, 1)")
          .as("fertility_ppm"),
        expr("nchars * 1000000 div greatest(bpe_tokens, 1)")
          .as("chars_per_bpe_ppm"))

  /** Document fingerprint: the 4 smallest distinct char-5-gram hash60
    * values (winnowing-style min-sketch), re-hashed to one MD5 — robust
    * to small edits, one projection pass. Output (doc_id, fp, n_grams).
    */
  def fingerprintCols(d: DataFrame): DataFrame = {
    val f = graft.functions.FingerprintExpr.fp(SparkSession.active,
      col("text"))
    d.select(col("doc_id"),
      f.getField("fp").as("fp"),
      f.getField("n_grams").as("n_grams"))
  }

  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    fingerprintCols(docs(spark, sfDir))

  /** Winnowing gram width (code points) — [[fingerprint]]'s 5. */
  val WinnowK = 5

  /** Winnowing window: one gram is selected from every [[WinnowW]]
    * consecutive positions, so any verbatim match of at least
    * W + K − 1 = 8 code points shares a selected fingerprint
    * (the winnowing guarantee). */
  val WinnowW = 4

  /** POSITIONAL WINNOWING (Schleimer, Wilkerson & Aiken 2003, the MOSS
    * fingerprinter) beside [[fingerprint]]'s 4-minima sketch: from every
    * window of [[WinnowW]] consecutive char-[[WinnowK]]-gram hashes,
    * select the minimum (ties → leftmost position, encoded in the packed
    * key), emit each selection once — the overlap-localizing fingerprint
    * set that plagiarism/clone detection builds its index from (the
    * min-sketch can only say WHETHER docs overlap; this says WHERE).
    *
    * Determinism: selection runs on `packed = (hash60 mod 2^36)·2^26 +
    * pos` so min() breaks hash ties on the smaller position, identically
    * in both engines; the reported `gram_hash` is the 36-bit reduction
    * (winnowing fingerprints are conventionally 32–64 bits; 36 keeps
    * pos in the same exact int64). Positions are code points, 0-based;
    * docs must stay under 2^26 code points (67M — far beyond any
    * document; chunk longer blobs upstream).
    *
    * 100 TB shape: gram hashing is the compiled one-pass
    * [[graft.functions.CharGramHashesExpr]]; both windows partition on
    * doc_id where a partition is ONE document's grams (bounded by doc
    * length, never corpus size); output is selection-proportional
    * (≈ 2·n/W per doc). Output (doc_id, gram_hash, pos), distinct. */
  def winnowingCols(d: DataFrame): DataFrame = {
    val el = d.select(col("doc_id"),
        posexplode(graft.functions.CharGramHashesExpr.gramHashes(
          SparkSession.active, col("text"), WinnowK)).as(Seq("pos", "h")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        (pmod(col("h"), lit(1L << 36)) * lit(1L << 26) + col("pos"))
          .as("packed"))
    val sel = el
      .withColumn("selp", min(col("packed")).over(
        Window.partitionBy(col("doc_id")).orderBy(col("pos"))
          .rowsBetween(Window.currentRow, WinnowW - 1)))
      .withColumn("ng", count(lit(1)).over(
        Window.partitionBy(col("doc_id"))))
      // full windows only: the last W−1 positions start truncated ones
      .where(col("pos") <= col("ng") - WinnowW)
      .select(col("doc_id"), col("selp")).distinct()
    sel.select(col("doc_id"),
      shiftright(col("selp"), 26).as("gram_hash"),
      pmod(col("selp"), lit(1L << 26)).as("pos"))
  }

  def winnowing(spark: SparkSession, sfDir: String): DataFrame =
    winnowingCols(docs(spark, sfDir))

  /** Common-fingerprint elimination cap — MOSS's "ignore matches found
    * in many documents": a selected gram shared by more than this many
    * docs is shared vocabulary/boilerplate, not copying evidence, and
    * would otherwise quadratically blow the pair join up on exactly the
    * corpora (templated web text) the operator targets. */
  val WinnowMaxDf = 8

  /** WINNOWING OVERLAP PAIRS — the MOSS pairing step over [[winnowing]]
    * selections (Schleimer et al. 2003 §5: report document pairs by
    * shared selected fingerprints): docs collapse to their DISTINCT
    * selected hashes, hashes in more than [[WinnowMaxDf]] docs are
    * eliminated (common-code/boilerplate suppression — the published
    * system's own step), surviving hashes bucket-join pairs, and a pair
    * reports when it shares ≥ 2 fingerprints (one can be chance).
    * Output (doc_a, doc_b, n_shared), doc_a < doc_b.
    *
    * 100 TB shape: the pair join is bucketed BY FINGERPRINT with its
    * fan-out hard-capped by the df filter (≤ C(8,2) pairs per hash);
    * everything upstream is [[winnowing]]'s per-doc work plus two hash
    * aggregates on the selection relation (selection-proportional,
    * ~2n/W per doc). */
  def winnowOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val sel = Exec.persist(winnowingCols(docs(spark, sfDir))
      .select(col("doc_id"), col("gram_hash")).distinct())
    val rare = sel.join(
      sel.groupBy(col("gram_hash")).agg(count(lit(1)).as("hdf"))
        .where(col("hdf") <= WinnowMaxDf)
        .select(col("gram_hash")),
      Seq("gram_hash"))
    finish(rare.as("a").join(rare.as("b"),
        col("a.gram_hash") === col("b.gram_hash") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= 2),
      sel)
  }

  /** Product-quantization geometry (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search" / FAISS PQ): the 64-dim
    * embedding splits into [[PqM]] sub-spaces of [[PqSubDim]] dims, each
    * coded against [[PqK]] centroids ⇒ an 8-byte code per vector (16×
    * compression over the int8 scalar tier [[embedQuantize]]). */
  val PqM = 8
  val PqK = 16
  val PqSubDim = 8

  /** PRODUCT QUANTIZATION of the embedding column — the vector-store
    * compression tier between scalar int8 ([[embedQuantize]]) and raw
    * vectors: per vector, one centroid id per sub-space (the PQ code)
    * plus the exact-integer reconstruction MAE. Fully deterministic and
    * oracle-replayable by the same discipline as the IVF coarse
    * quantizer ([[centroids]]): hash-stratified seed picks, [[LloydT]] Lloyd
    * step with member-wise truncating-integer means, assignment by
    * EXACT int64 squared-L2 distance with (distance, cid) tie-break.
    * Output (vec_id, code = "c0_c1_…", mae_micro).
    *
    * 100 TB shape: the codebook is KB-sized at any corpus scale
    * (M·K·subdim = 1024 ints) and BROADCASTS into both assignment
    * passes — each pass is one scan + map-side join + hash aggregate,
    * linear in the corpus with no unbounded shuffle. */
  /** Shared PQ model build — (element relation [persisted], refined
    * codebook [pinned], coding assignments): the common front of
    * [[embedPq]] and [[annPq]]. Caller must release `el` (via `finish`). */
  /** PQ element relation of a (vec_id, em, ...) vectors frame:
    * (vec_id, m = sub-space, j = dim within it, x). */
  private[graft] def pqElements(v: DataFrame): DataFrame =
    v.select(col("vec_id"), posexplode(col("em")).as(Seq("i", "x")))
      .select(col("vec_id"),
        (col("i") / PqSubDim).cast("int").as("m"),
        pmod(col("i"), lit(PqSubDim)).as("j"), col("x"))

  /** PQ ENCODING: exact squared-L2 assignment of every sub-vector to
    * its best codebook cell. The argmin is min(struct(d, cid)) —
    * lexicographic struct order IS the (distance asc, cid asc)
    * tie-break — so both passes are pure hash aggregates with map-side
    * partials; a row_number window here cost a full sort exchange of
    * |vectors|·M·K rows per pass. Shared by training, the fresh-model
    * coding pass and the persistent store's FROZEN-codebook append
    * path ([[graft.sources.PqIndex.appendBatch]] — FAISS `add`
    * semantics: new vectors encode against the stored codebook, no
    * retrain). */
  private[graft] def pqAssign(el: DataFrame, cents: DataFrame): DataFrame =
    el.join(broadcast(cents), Seq("m", "j"))
      .groupBy(col("vec_id"), col("m"), col("cid"))
      .agg(sum((col("x") - col("c")) * (col("x") - col("c"))).as("d"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cid"))).as("b"))
      .select(col("vec_id"), col("m"), col("b.cid").as("cid"))

  /** PQ TRAINING over a vectors frame `v` and its element relation:
    * hash-stratified seed vectors (insert-order independent), one per
    * stratum, refined by [[LloydT]] Lloyd rounds of member-wise
    * truncating-integer means (exact and identical in Spark `div` /
    * DuckDB `//` — both truncate toward 0); each round reassigns by
    * exact int64 squared-L2 ([[pqAssign]]) against the previous round's
    * codebook, pinned (KB-sized) between rounds. A (m, cid) cell that
    * loses every member drops out, exactly as in the oracle's unrolled
    * CTE rounds. Returns the pinned (m, cid, j, c) codebook. */
  private[graft] def pqTrain(v: DataFrame, el: DataFrame,
      k: Int = PqK): DataFrame = {
    val seeds = v
      .withColumn("h",
        hash60(concat(lit("pq:"), col("vec_id").cast("string"))))
      .withColumn("stratum", pmod(col("h"), lit(k.toLong)))
      .groupBy(col("stratum"))
      .agg(min(struct(col("h"), col("vec_id"))).as("mn"))
      .select(col("stratum").cast("int").as("cid"),
        col("mn.vec_id").as("cvid"))
    var cents = seeds.join(el, col("cvid") === col("vec_id"))
      .select(col("cid"), col("m"), col("j"), col("x").as("c"))
    for (_ <- 1 to LloydT) {
      // Pinned per round (both quantizer loops are): chaining the
      // rounds unpinned measured 1.3-1.5× SLOWER than paying one
      // KB-sized checkpoint job per round — deeply nested
      // broadcast/exchange chains plan and schedule poorly — so the
      // checkpoint is the cheaper trade, verified empirically in both
      // directions.
      cents = pin(pqAssign(el, cents).join(el, Seq("vec_id", "m"))
        .groupBy(col("m"), col("cid"), col("j"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
        .select(col("m"), col("cid"), col("j"), expr("s div cnt").as("c")))
    }
    cents
  }

  /** The (sfDir)-keyed PQ codebook — trained once per JVM via the
    * [[cachedModel]] discipline (see [[centroids]]); later callers
    * broadcast the pinned KB-sized rows instead of re-running the
    * [[LloydT]] training passes. The element relation persisted for
    * training is released before returning — callers re-persist their
    * own for coding/MAE. */
  private[graft] def pqCodebook(spark: SparkSession,
      sfDir: String): DataFrame =
    cachedModel(s"pq:$sfDir:m=$PqM:k=$PqK:t=$LloydT") {
      val v = emb(spark, sfDir)
      val el = Exec.persist(pqElements(v))
      val refined = pqTrain(v, el)
      el.unpersist() // every Lloyd round is already pinned eagerly
      refined
    }

  private[graft] def pqParts(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    val el = Exec.persist(pqElements(emb(spark, sfDir)))
    val refined = pqCodebook(spark, sfDir)
    (el, refined, pqAssign(el, refined))
  }

  /** Train + code a vectors frame. The element relation is persisted:
    * it feeds the seed-cell assignment, the Lloyd means, the coding
    * assignment and (in [[embedPq]]) the MAE join — four plan
    * branches. */
  private[graft] def pqPartsFrom(
      v: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val el = Exec.persist(pqElements(v))
    val refined = pqTrain(v, el)
    (el, refined, pqAssign(el, refined))
  }

  def embedPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (el, refined, coded) = pqParts(spark, sfDir)
    val code = coded.groupBy(col("vec_id"))
      .agg(concat_ws("_",
        transform(array_sort(collect_list(struct(col("m"), col("cid")))),
          e => e.getField("cid").cast("string"))).as("code"))
    val mae = coded.join(el, Seq("vec_id", "m"))
      .join(broadcast(refined), Seq("m", "cid", "j"))
      .groupBy(col("vec_id"))
      .agg(expr("sum(abs(x - c)) div 64").as("mae_micro"))
    finish(code.join(mae, Seq("vec_id"))
      .select(col("vec_id"), col("code"), col("mae_micro")), el)
  }

  /** ADC shortlist size: 5× the final k (FAISS "refine" convention) —
    * measured recall@10 vs [[annBrute]] ≈ 0.57 at sf0.001, on par with
    * [[annIvf]] (0.58) and [[annLsh]] (0.59); ADC alone (no re-rank)
    * measured 0.24 on the synthetic embeddings — random vectors are the
    * quantization-hard case, hence the standard two-stage shape. */
  val PqShortlist = 50

  /** PQ-CODE ANN: ASYMMETRIC DISTANCE COMPUTATION + exact re-rank
    * (Jégou 2011 §IV; the FAISS ADC+refine pipeline). Stage 1: each
    * query precomputes a (sub-space × centroid) distance table against
    * the [[embedPq]] codebook — Σ_j (q_x − c)² in exact int64 — and
    * every corpus vector's approximate distance is M table lookups
    * summed over its CODE, never touching the raw vector (the
    * memory-bandwidth-bound scan a compressed vector store actually
    * runs); the [[PqShortlist]] best per query survive. Stage 2: the
    * shortlist alone re-reads raw vectors for exact-integer cosine and
    * the final top-10. Same query set and output shape as [[annBrute]]:
    * (q_id, n_id, rnk, cos_micro).
    *
    * 100 TB shape: the table relation is bounded by
    * [[MaxAnnQueries]]·M·K entries (the annQueries assert) and
    * broadcasts over ONE scan of the N·M code relation; both rankings
    * are the bounded [[graft.functions.TopKAgg]]; the raw-vector
    * re-read touches shortlist·Q rows, not the corpus. */
  def annPq(spark: SparkSession, sfDir: String): DataFrame = {
    val (el, refined, coded) = pqParts(spark, sfDir)
    finish(pqProbe(spark, annQueries(spark, sfDir), refined, coded,
      emb(spark, sfDir)), el)
  }

  /** The probe-only half of [[annPq]] — ADC tables from a codebook +
    * code relation, shortlist, exact re-rank against the raw vectors.
    * Shared verbatim by the fresh-model path above and the PERSISTENT
    * [[graft.sources.PqIndex]] store (codebook/codes read back from
    * parquet), so the two are plan-identical by construction. */
  private[graft] def pqProbe(spark: SparkSession, q: DataFrame,
      refined: DataFrame, coded: DataFrame, v: DataFrame,
      shortlist: Int = PqShortlist): DataFrame = {
    val qel = q
      .select(col("q_id"), posexplode(col("qem")).as(Seq("i", "qx")))
      .select(col("q_id"),
        (col("i") / PqSubDim).cast("int").as("m"),
        pmod(col("i"), lit(PqSubDim)).as("j"), col("qx"))
    val dt = qel.join(broadcast(refined), Seq("m", "j"))
      .groupBy(col("q_id"), col("m"), col("cid"))
      .agg(sum((col("qx") - col("c")) * (col("qx") - col("c"))).as("dtv"))
    val adc = coded.join(broadcast(dt), Seq("m", "cid"))
      .where(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dtv")).as("adc"))
    val short = adc
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct((-col("adc")).as("nd"), (-col("vec_id")).as("nn")),
        shortlist).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), (-col("e.nn")).as("n_id"))
    val rescored = short
      .join(v, col("n_id") === col("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn")).as("cs"))
    rankTopK(spark, rescored, 10)
  }

  /** IVF probe width of the composed index — wider than [[annIvf]]'s 4:
    * the synthetic embeddings are structureless (the quantization-hard
    * case), so at 4/16 cells the coarse quantizer's misrouting loss
    * (composed recall 0.49) ate the PQ tier's 0.57. 8/16 cells still
    * halves the ADC scan while measuring 0.61 > annPq's 0.57 at
    * sf0.001 (pruning also drops ADC false positives from the
    * shortlist) — on clustered real embeddings the probe width drops
    * back toward 4 (cells then actually localize neighbors). */
  val IvfPqProbes = 8

  /** IVF+PQ composed ANN — the FAISS IVFPQ production shape (Jégou et
    * al. 2011 §V): the coarse quantizer prunes which CODES are scanned
    * (a query's ADC only touches vectors whose top-1 IVF cell is among
    * its [[IvfPqProbes]] probed cells ≈ probes/C of the corpus), then
    * the PQ ADC tables rank the survivors and the [[PqShortlist]] best
    * re-rank by exact cosine. Both halves are [[annIvf]]'s and
    * [[annPq]]'s own models — same centroids, same codebook — so recall
    * composes measurably (pinned ≥ annPq's in DataOpsSpec at a 2×
    * smaller ADC scan).
    *
    * 100 TB shape: the probe list and ADC tables are KB-sized
    * broadcasts; the cell join prunes the code relation BEFORE the ADC
    * aggregate, so the scan-sized work is probes/C of [[annPq]]'s; the
    * shortlist and final rank are the bounded [[rankTopK]] aggregates. */
  def annIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val cents = centroids(spark, sfDir)
    val cells = cellRanks(spark, sfDir, cents).where(col("rnk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val (el, refined, coded) = pqParts(spark, sfDir)
    finish(ivfPqProbe(spark, annQueries(spark, sfDir), cents, cells,
      refined, coded, emb(spark, sfDir)), el)
  }

  /** The probe-only half of [[annIvfPq]] — coarse probe lists against
    * given centroids, cell-pruned ADC against a given codebook/code
    * relation, exact re-rank. Shared VERBATIM by the fresh-model path
    * above and the persistent [[graft.sources.PqIndex]] store (all
    * four relations read back from parquet — `annIvfPqIndexed`), so
    * the two are plan-identical by construction. `cells` must carry
    * (vec_id, cell). */
  private[graft] def ivfPqProbe(spark: SparkSession, q: DataFrame,
      cents: DataFrame, cells: DataFrame, refined: DataFrame,
      coded: DataFrame, v: DataFrame): DataFrame = {
    val probes = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid").as("cell"),
        cosRaw(dot(col("qem"), col("cem")), col("qn"), col("cn")).as("cs"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cs").desc, col("cell").asc)))
      .where(col("prnk") <= IvfPqProbes)
      .select(col("q_id"), col("cell"))
    val qel = q
      .select(col("q_id"), posexplode(col("qem")).as(Seq("i", "qx")))
      .select(col("q_id"),
        (col("i") / PqSubDim).cast("int").as("m"),
        pmod(col("i"), lit(PqSubDim)).as("j"), col("qx"))
    val dt = qel.join(broadcast(refined), Seq("m", "j"))
      .groupBy(col("q_id"), col("m"), col("cid"))
      .agg(sum((col("qx") - col("c")) * (col("qx") - col("c"))).as("dtv"))
    // cell-pruned candidates: the big side joins ONE broadcast probe
    // list, never shuffling onto <= IvfC partitions
    val cand = cells.join(broadcast(probes), Seq("cell"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
    val adc = coded.join(cand, Seq("vec_id"))
      .join(broadcast(dt), Seq("q_id", "m", "cid"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(sum(col("dtv")).as("adc"))
    val short = adc
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct((-col("adc")).as("nd"), (-col("vec_id")).as("nn")),
        PqShortlist).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), (-col("e.nn")).as("n_id"))
    val rescored = short
      .join(v, col("n_id") === col("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn")).as("cs"))
    rankTopK(spark, rescored, 10)
  }

  /** Scalar-quantized ANN shortlist width (the [[PqShortlist]]
    * discipline applied to the SQ8 tier). */
  val SqShortlist = 50

  /** SCALAR-QUANTIZED ANN — the SQ8 member of the quantized family
    * beside [[annPq]]'s product codes: each vector is stored as its
    * [[embedQuantize]] int8 affine codes (per-vector `[mn,mx] →
    * [−127,127]`, 4× over raw micro longs), a query ranks the WHOLE
    * corpus by the exact-integer reconstruction dot product
    * `Σ qx·(254·mn + (q+127)·rng)` (the asymmetric-distance trick at
    * 254× scale — no division, no float, both engines bit-equal), and
    * the [[SqShortlist]] best re-rank by exact cosine (the ADC+refine
    * shape of Jégou et al. 2011 §IV applied to scalar codes — what
    * FAISS ships as `SQ8,Refine`). Output shape = [[annBrute]].
    *
    * Versus PQ: no codebook training pass at 4× (not 16×) compression —
    * the standard accuracy/simplicity middle rung; recall is pinned
    * ABOVE [[annPq]]'s in DataOpsSpec (scalar codes lose far less than
    * 16-cell product codes on structureless embeddings).
    *
    * 100 TB shape: the 254×-scaled reconstruction derives in ONE
    * compiled pass per vector ([[graft.functions.Sq8ReconExpr]] — no
    * per-element explode, which would multiply the scan by the
    * dimension count); the query set broadcasts over that single scan
    * and each (vector, query) pair costs one fused
    * [[graft.functions.VecDotExpr]] — the [[annBrute]] plan shape on
    * the compressed representation; shortlist and final rank are the
    * bounded [[graft.functions.TopKAgg]] aggregates. */
  def annSq(spark: SparkSession, sfDir: String): DataFrame = {
    // Persisted projection barrier: CollapseProject would otherwise
    // inline sq8_recon into the post-join select and recompute the
    // reconstruction PER (vector, query) PAIR — Q× the scan's work.
    val recon = Exec.persist(sqRecon(spark, emb(spark, sfDir)))
    finish(sqProbe(spark, annQueries(spark, sfDir), recon,
      emb(spark, sfDir)), recon)
  }

  /** The SQ8 "index": the 254×-scaled reconstruction relation
    * (vec_id, r254) — what [[graft.sources.SqIndex]] persists. */
  private[graft] def sqRecon(spark: SparkSession, v: DataFrame): DataFrame =
    v.select(col("vec_id"),
      graft.functions.Sq8ReconExpr.recon(spark, col("em")).as("r254"))

  /** ANN RECALL AUDIT — the [[minhashRecallEval]] discipline applied to
    * the whole similarity-search family: every approximate tier's
    * standard-query top-10 scored against the [[annBrute]] exact ground
    * truth, as an ORACLE-CHECKED relation rather than a spec-pinned
    * constant — the recall a vector store actually delivers on this
    * corpus is an audited number the driver hashes, not a comment.
    * Per tier: n_true (brute top-10 rows over the bounded standard
    * query sample), n_cand (rows the tier returned — its verify-stage
    * workload), n_hit (tier ∩ truth on (q_id, n_id)), recall_micro
    * (truncating integer div, mirroring DuckDB `//`). Output 5 rows:
    * tier ∈ {ivf, ivfpq, lsh, pq, sq}.
    *
    * 100 TB shape: each tier's relation is ALREADY bounded (top-10 per
    * query over the guarded sample), so everything here — the semi
    * joins, the counts, the union — runs on Q·10-row inputs; the heavy
    * work is the tiers themselves, each with its own documented scale
    * plan. The oracle inlines each tier's full mirror as a nested CTE
    * and replays the same set algebra.
    *
    * The audit TRAINS EACH MODEL ONCE and fans it out to every tier
    * that shares it — the IVF centroids/assignments feed both the ivf
    * tier and the composed ivfpq tier, the PQ codebook/codes feed both
    * pq and ivfpq — instead of letting each standalone operator retrain
    * the identical model (identical by determinism, so only the work is
    * shared, never the result: each tier runs the standalone operator's
    * own probe stage verbatim — [[ivfProbe]] / [[ivfPqProbe]] /
    * [[pqProbe]] / [[sqProbe]]). */
  def annRecallEval(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annTruth(spark, sfDir)
    val q = annQueries(spark, sfDir)
    val v = emb(spark, sfDir)
    val cents = centroids(spark, sfDir)
    val ranks = Exec.persist(
      cellRanks(spark, sfDir, cents).where(col("rnk") === 1)
        .select(col("vec_id"), col("cid")))
    val (el, refined, coded0) = pqParts(spark, sfDir)
    val coded = Exec.persist(coded0)
    val recon = Exec.persist(sqRecon(spark, v))
    // Evaluate the five tier probes on overlapped driver threads
    // ([[parBuild]]): the audit's cost is max(tier) instead of the
    // strict serial sum the one-final-job shape used to pay. The
    // shared persisted inputs (ranks/coded/recon) fill on first use;
    // racing tiers may duplicate a partition's compute, which measured
    // at parity with a serial warm phase before the tier fan-out —
    // kept for the shorter critical path (one fewer serial barrier).
    // (Round 17 additionally probed latch-coordinating the expensive
    // `coded` fill between the pq and ivfpq tiers: paired A/Bs read it
    // neutral at 32 cores and ~0.2–0.3 s SLOWER at 8 — the
    // BlockManager's per-partition cache locks already bound the
    // duplicate work, and the explicit warm added a serial step — so
    // the uncoordinated first-touch form stays. OPTIMIZATION_r17.md.)
    val tiers: Seq[(String, DataFrame)] =
      Seq("ivf", "ivfpq", "lsh", "pq", "sq").zip(parPinned(Seq(
        () => ivfProbe(spark, q, cents, ranks, v),
        () => ivfPqProbe(spark, q, cents,
          ranks.select(col("vec_id"), col("cid").as("cell")),
          refined, coded, v),
        () => annLsh(spark, sfDir),
        () => pqProbe(spark, q, refined, coded, v),
        () => sqProbe(spark, q, recon, v))))
    finish(recallRows(truth, tiers), ranks, el, coded, recon)
  }

  /** The brute-force ground-truth (q_id, n_id) set both recall audits
    * score against — exact top-10 per query, a Q·10-row relation.
    * Deterministic and (sfDir)-keyed, so it joins the [[cachedModel]]
    * discipline: computed once per JVM, every audit after the first
    * broadcasts the pinned 1000 rows instead of re-running the exact
    * N·Q scan (the single heaviest stage of both audits). */
  private def annTruth(spark: SparkSession, sfDir: String): DataFrame =
    cachedModel(s"annTruth:$sfDir")(
      annBrute(spark, sfDir).select(col("q_id"), col("n_id")))

  /** The shared audit algebra of [[annRecallEval]] / [[annStoreRecall]]:
    * per tier, candidate/hit counts against the brute ground truth and
    * the truncating-div micro recall — all over Q·10-row relations. */
  private def recallRows(truth: DataFrame,
      tiers: Seq[(String, DataFrame)]): DataFrame =
    tiers.map { case (name, df) =>
      val cand = df.select(col("q_id"), col("n_id"))
      truth.agg(count(lit(1)).as("n_true"))
        .crossJoin(cand.agg(count(lit(1)).as("n_cand")))
        .crossJoin(cand.join(truth, Seq("q_id", "n_id"), "left_semi")
          .agg(count(lit(1)).as("n_hit")))
        .select(lit(name).as("tier"), col("n_true"), col("n_cand"),
          col("n_hit"),
          expr("n_hit * 1000000 div n_true").as("recall_micro"))
    }.reduce(_ unionByName _)

  /** STORE-TIER RECALL AUDIT — [[annRecallEval]] pointed at the
    * PERSISTENT vector stores and their lifecycle mutations: the
    * round-trip stores (`pq_store`/`sq_store`,
    * [[graft.sources.PqIndex.annPqIndexed]] /
    * [[graft.sources.SqIndex.annSqIndexed]]), the frozen-codebook
    * appends (`pq_add`/`sq_add`) and the post-deletion stores
    * (`pq_rm`/`sq_rm`), each scored against the SAME full-corpus brute
    * truth. This turns "store ≡ model" from a hash identity into a
    * MONITORED quality number that moves after a bad append or remove:
    * a pristine store matches its model tier exactly (pinned in
    * DataOpsSpec), an append trained on half the corpus shows its
    * quantization cost, and a deletion tier's recall is bounded by the
    * survivors' share of the truth set (victims CANNOT be returned —
    * if one were, n_hit would differ from the survivors-only oracle
    * and the driver hash would break).
    *
    * 100 TB shape: identical to [[annRecallEval]] — every tier
    * relation is bounded (top-10 per query over the guarded sample),
    * so the audit's own algebra runs on Q·10-row inputs; the heavy
    * work is the store probes, each with its own documented scale
    * plan, and the stores are built ONCE per JVM (the lifecycle
    * entries' build-guard). */
  def annStoreRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annTruth(spark, sfDir)
    // The seven store probes are independent (each lifecycle entry owns
    // its directory; the shared pq-index dir's build guard blocks), so
    // they evaluate on overlapped driver threads ([[parPinned]] —
    // bounded top-10 relations) instead of strictly serially inside
    // one final job.
    val tiers: Seq[(String, DataFrame)] =
      Seq("ivfpq_store", "pq_add", "pq_rm", "pq_store", "sq_add",
        "sq_rm", "sq_store").zip(parPinned(Seq(
        () => graft.sources.PqIndex.annIvfPqIndexed(spark, sfDir),
        () => graft.sources.PqIndex.annPqIncremental(spark, sfDir),
        () => graft.sources.PqIndex.annPqRemoved(spark, sfDir),
        () => graft.sources.PqIndex.annPqIndexed(spark, sfDir),
        () => graft.sources.SqIndex.annSqIncremental(spark, sfDir),
        () => graft.sources.SqIndex.annSqRemoved(spark, sfDir),
        () => graft.sources.SqIndex.annSqIndexed(spark, sfDir))))
    finish(recallRows(truth, tiers))
  }

  /** Integer floor sqrt (exact for the corpus sizes at play). */
  private def isqrt(n: Long): Long = math.sqrt(n.toDouble).toLong

  /** CAPACITY-SCALED IVF — the production-knob tier of [[annIvf]]
    * (a full ORACLE-CHECKED registry entry since round 14, the
    * [[semdedupScaled]] discipline applied to retrieval — C, the probe
    * width and the sample modulus derive from count(*) in the oracle's
    * `aprm` scalar CTE): model CAPACITY grows with the corpus instead
    * of staying fixture-sized, which is why the fixed 16-cell model's
    * audited recall sags from ~0.6 at sf0.001 to ~0.5 at sf0.1 while
    * this tier holds it.
    *
    *  - C = max([[IvfC]], ⌊√N⌋) cells — the FAISS √N rule.
    *  - Training fits on a hash sample (~32 vectors/cell, [[LloydT]]
    *    rounds) — codebooks train on samples, never the corpus.
    *  - Probe width = max(4, C/4): a CONSTANT SCAN FRACTION (~25 %).
    *    On these STRUCTURELESS synthetic vectors that is the honest
    *    knob — random embeddings have no cluster structure, so recall
    *    comes from the scanned fraction and the per-probe cost still
    *    drops as cells shrink; on real clustered embeddings the probe
    *    count stays constant and the cost is truly sub-linear. Both
    *    regimes are the documented FAISS trade.
    *
    * Probe stage is [[ivfProbe]] VERBATIM (wider probe list); recall
    * audited against brute truth by [[annScaledRecall]], decade
    * numbers in BASELINE.md. */
  def annIvfScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val (c, nProbes, sampleMod) = scaledIvfKnobs(v)
    val cents = cachedModel(s"ivfScaled:$sfDir:c=$c:t=$LloydT") {
      val sample = v.where(
        pmod(hash60(col("vec_id").cast("string")), lit(sampleMod)) === 0)
      pin(centroidsFrom(sample, c))
    }
    val assign = Exec.persist(v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cid"),
        cosRaw(dot(col("em"), col("cem")), col("nrm"), col("cn")).as("cs"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cs"), (-col("cid")).as("ncid"))).as("b"))
      .select(col("vec_id"), (-col("b.ncid")).as("cid")))
    finish(ivfProbe(spark, annQueries(spark, sfDir), cents, assign, v,
      nProbes), assign)
  }

  private def scaledIvfKnobs(v: DataFrame): (Int, Int, Long) = {
    val n = math.max(1L, Exec.count(v))
    val c = math.max(IvfC.toLong, isqrt(n)).toInt
    (c, math.max(4, c / 4), math.max(1L, n / (32L * c)))
  }

  /** CAPACITY-SCALED PQ — [[annPq]] with the codebook resolution
    * growing with the corpus (an ORACLE-CHECKED registry entry since
    * round 14 — K, the sample modulus and the shortlist derive from
    * count(*) in the oracle's `pqprm` CTE; recall audited per decade
    * by [[annScaledRecall]]): K = min(64, max([[PqK]], ⌊√N⌋)) centroids
    * per sub-space (4→6 bits/code across the measured decades — the
    * "K ∝ log N" BASELINE knob in its integer form, √N-driven and
    * capped at 6 bits so the code width grows with the corpus but the
    * ADC table stays a KB-scale broadcast), trained on a
    * hash sample (~64 vectors/centroid, [[LloydT]] rounds); the full
    * corpus then codes against the frozen codebook and the probe is
    * [[pqProbe]] VERBATIM (ADC tables just carry more rows — still a
    * KB-scale broadcast). */
  def annPqScaled(spark: SparkSession, sfDir: String): DataFrame = {
    val v = emb(spark, sfDir)
    val (k, sampleMod, shortlist) = scaledPqKnobs(v)
    val refined =
      cachedModel(s"pqScaled:$sfDir:m=$PqM:k=$k:t=$LloydT") {
        val sample = v.where(
          pmod(hash60(col("vec_id").cast("string")), lit(sampleMod))
            === 0)
        val sel = Exec.persist(pqElements(sample))
        val cb = pqTrain(sample, sel, k) // every round pinned eagerly
        sel.unpersist()
        cb
      }
    val el = Exec.persist(pqElements(v))
    val coded = pqAssign(el, refined)
    finish(pqProbe(spark, annQueries(spark, sfDir), refined, coded, v,
      shortlist), el)
  }

  private def scaledPqKnobs(v: DataFrame): (Int, Long, Int) = {
    val n = math.max(1L, Exec.count(v))
    val k = math.min(64L, math.max(PqK.toLong, isqrt(n))).toInt
    // The re-rank shortlist scales as √N too: when ADC ranking is
    // noisy (the dim-permuted replica fixture is its worst case) the
    // fixed 50-row shortlist is the recall ceiling, while √N·Q rows of
    // exact re-rank stay negligible beside the code scan.
    (k, math.max(1L, n / (64L * k)),
      math.max(PqShortlist.toLong, isqrt(n)).toInt)
  }

  /** Recall audit of the CAPACITY-SCALED tiers against the cached
    * brute truth — the "would a user trust this store at 100 TB"
    * number, measured per decade in BASELINE.md. An ORACLE-CHECKED
    * registry entry since round 15 (the [[annRecallEval]] discipline:
    * the oracle composes the already-shipped annIvfScaled/annPqScaled
    * mirrors with the brute-truth CTE and replays the counting
    * algebra). The DRIVER gates (sf0.001/sf0.01) replay fine; a 10×
    * DuckDB replay of the √N crank exceeds the container's spill
    * budget, so the 10×/100× decade rows in BASELINE.md come from
    * [[graft.Show]] on the Spark side only — the documented limit is
    * the ORACLE's replay cost, not this operator's. */
  def annScaledRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val truth = annTruth(spark, sfDir)
    // The two scaled tiers are independent end-to-end builds (each
    // already returns an eagerly-pinned frame), so they run on
    // overlapped driver threads ([[parBuild]]) instead of serially.
    finish(recallRows(truth,
      Seq("ivf_scaled", "pq_scaled").zip(parBuild(Seq(
        () => annIvfScaled(spark, sfDir),
        () => annPqScaled(spark, sfDir))))))
  }

  /** The probe-only half of [[annSq]] — shared verbatim by the fresh
    * path above and the persistent [[graft.sources.SqIndex]] store, so
    * the two are plan-identical by construction. */
  private[graft] def sqProbe(spark: SparkSession, q: DataFrame,
      recon: DataFrame, v: DataFrame): DataFrame = {
    val ad = recon
      .crossJoin(broadcast(q.select(col("q_id"), col("qem"))))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VecDotExpr.dot(spark, col("qem"), col("r254"))
          .as("ad"))
    val short = ad.groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct(col("ad").as("d"), (-col("vec_id")).as("nn")),
        SqShortlist).as("top"))
      .select(col("q_id"), explode(col("top")).as("e"))
      .select(col("q_id"), (-col("e.nn")).as("n_id"))
    val rescored = short
      .join(v, col("n_id") === col("vec_id"))
      .join(broadcast(q), Seq("q_id"))
      .select(col("q_id"), col("n_id"),
        cosRaw(dot(col("em"), col("qem")), col("nrm"), col("qn")).as("cs"))
    rankTopK(spark, rescored, 10)
  }

  /** Contamination shingle width: contiguous token n-grams compared
    * against the benchmark set. (Real pipelines use 8-13; the synthetic
    * corpus's short word-salad docs only collide at 4.) */
  val ContamN = 4

  /** Benchmark decontamination — the eval-leakage check a training
    * pipeline runs before shipping data: flag every corpus document that
    * shares a contiguous [[ContamN]]-token n-gram with the held-out
    * benchmark set (stand-in: doc_id ≡ 0 mod 97). Output one row per
    * non-benchmark doc: (doc_id, hits = distinct shared n-grams,
    * contaminated 0/1).
    *
    * 100 TB shape: the benchmark n-gram set is tiny (eval sets are MBs)
    * — hashed, deduped, and BROADCAST; the corpus side is one scan whose
    * grams join map-side, then one aggregate on doc_id. The n-gram text
    * never shuffles — only its 60-bit hash. */
  /** Distinct [[ContamN]]-token n-grams of `text` (string array), via
    * the native [[graft.functions.WordGramsExpr]] (registered against
    * the thread's active session — all callers build queries on the
    * driver with one active). */
  private[graft] def contamGrams(text: Column): Column =
    graft.functions.WordGramsExpr.grams(SparkSession.active, text,
      ContamN, distinct = true)

  /** [[contamGrams]] as 60-bit hashes — the unit both decontamination
    * forms (batch below, ingest-time
    * [[graft.streaming.StreamingOps.decontaminateStream]]) compare.
    * Computed by the fused codegen [[graft.functions.GramHashesExpr]]
    * (the former `transform(grams, hash60)` lambda is CodegenFallback —
    * property-pinned bit-identical in NativeExprPropertiesSpec). */
  private[graft] def contamGramHashes(text: Column): Column =
    graft.functions.GramHashesExpr.gramHashes(SparkSession.active, text,
      ContamN, distinct = true)

  /** Hard cap on the benchmark side's distinct gram hashes. The whole
    * decontamination design leans on the benchmark relation being tiny
    * (real eval sets are MBs — the collected/broadcast side must fit on
    * the driver and every executor), but the stand-in derivation
    * (doc_id ≡ 0 mod 97) is ~1% OF THE CORPUS and therefore GROWS WITH
    * IT: by 100 TB the "tiny" side would be ~1 TB and the broadcast a
    * silent driver OOM. Both decontamination forms assert this bound
    * loudly instead. 32M longs ≈ 256 MB — generous for any real eval
    * set, far below broadcast-breaking size. */
  val MaxBenchmarkGrams: Long = 32L * 1024 * 1024

  /** The benchmark set's distinct gram hashes, collected — the
    * broadcast/literal side of both decontamination forms. Throws when
    * the benchmark side exceeds [[MaxBenchmarkGrams]]. */
  private[graft] def benchmarkGramHashes(spark: SparkSession,
      sfDir: String): Array[Long] = {
    val got = docs(spark, sfDir).where(col("doc_id") % 97 === 0)
      .select(explode(contamGramHashes(col("text"))).as("gh"))
      .distinct().orderBy(col("gh"))
      .limit(MaxBenchmarkGrams.toInt + 1)
      .collect().map(_.getLong(0))
    require(got.length <= MaxBenchmarkGrams,
      s"decontamination benchmark side exceeds $MaxBenchmarkGrams distinct " +
        "grams — not broadcastable; shrink the benchmark relation")
    got
  }

  /** DOCUMENT NOVELTY / BOILERPLATE SCORE — the originality statistic a
    * crawl-curation pipeline reads beside dedup (a template page shares
    * almost every n-gram with its siblings without any pair clearing a
    * dup threshold; a Dolma/C4-style pipeline down-weights it): per
    * document, how many of its distinct [[ContamN]]-token gram hashes
    * occur in NO other document (gram document-frequency 1), and that
    * share in micro units. Sub-[[ContamN]]-token documents report
    * (0, 0, 0). Output (doc_id, n_grams, n_novel, novelty_micro).
    *
    * 100 TB shape: the (doc, gram-hash) relation off ONE scan (only
    * 60-bit hashes shuffle, never gram text), the df aggregate on the
    * gram-vocabulary key, one co-partitioned join back on that same key
    * (no second corpus scan), one doc aggregate. Nothing is quadratic:
    * df is computed by COUNTING, not pairing — the same statistic
    * dedupNgramSource would need a pair join for costs one aggregate
    * when only the df=1 verdict is wanted. */
  def docNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val g = Exec.persist(docs(spark, sfDir)
      .select(col("doc_id"),
        explode(contamGramHashes(col("text"))).as("gh")))
    val gdf = g.groupBy(col("gh")).agg(count(lit(1)).as("gdf"))
    val per = g.join(gdf, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("gdf") === 1L, lit(1L)).otherwise(lit(0L)))
          .as("n_novel"))
    finish(docs(spark, sfDir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_micro",
        when(col("n_grams") === 0L, lit(0L))
          .otherwise(expr("n_novel * 1000000 div n_grams"))), g)
  }

  def decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val gramRows = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(contamGramHashes(col("text"))).as("gh"))
    // Persisted: the bench gram set feeds both the cap-check count and
    // the broadcast join — one computation, released via finish().
    val bench = Exec.persist(
      gramRows.where(col("doc_id") % 97 === 0)
        .select(col("gh")).distinct())
    // Size-cap guard rides IN the plan (assert_true over the broadcast
    // count), mirroring minhashRecallEval — constructing this query runs
    // no job; an oversized benchmark side fails while the broadcast
    // exchange is built, before any probe work.
    val nb = Exec.persist(bench.agg(count(lit(1)).as("n_grams")))
    val benchGuarded = bench.crossJoin(broadcast(nb))
      .select(when(assert_true(col("n_grams") <= lit(MaxBenchmarkGrams),
          lit(s"decontamination benchmark side has >$MaxBenchmarkGrams " +
            "distinct grams — not broadcastable; shrink the benchmark " +
            "relation")).isNull,
        col("gh")).as("gh"))
    val hits = gramRows.where(col("doc_id") % 97 =!= 0)
      .join(broadcast(benchGuarded), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("hits"))
    finish(docs(spark, sfDir).where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        when(coalesce(col("hits"), lit(0L)) > 0L, lit(1L)).otherwise(lit(0L))
          .as("contaminated")),
      bench, nb)
  }

  /** Bloom filter geometry: 2^20 bit positions, 3 hash slots per gram.
    * At the benchmark-cap boundary (32M grams) the position set
    * saturates and every probe passes — the cap assert fires first. */
  val BloomBits: Int = 1 << 20
  val BloomK: Int = 3

  /** Slot-i bloom position of a 60-bit gram hash: the MinHash affine
    * family re-used as the bloom hash family — exact int64 in both
    * engines (operands < 2^62). */
  private def bloomPos(i: Int, gh: Column): Column =
    ((lit(aCoef(i)) * (gh % lit(P)) + lit(bCoef(i))) % lit(P)) % lit(
      BloomBits.toLong)

  /** Two-tier benchmark decontamination — the 100 TB form of
    * [[decontaminate]]: tier 1 probes every corpus gram against a BLOOM
    * FILTER of the benchmark grams ([[BloomBits]] bits, [[BloomK]]
    * md5-affine hash slots — ~128 KB broadcast instead of the full gram
    * set, the piece that stays cheap when the eval set grows); tier 2
    * exact-verifies only the bloom-positive grams against the true
    * benchmark hash set, so false positives cost one narrow join probe
    * instead of a false contamination flag.
    *
    * Both tiers are expressed relationally (position-set / hash-set
    * broadcast joins) rather than as an opaque bitmap UDF, so the DuckDB
    * oracle replays them bit-for-bit; on a cluster the position set IS
    * the bitmap (a distinct-positions broadcast is its dense form).
    * Output, per bloom-positive doc: distinct bloom-hit grams, how many
    * survived exact verify, and a false-positive flag — bloom_fp > 0
    * rows are the filter's false-positive rate made visible. */
  def bloomDecontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val gramRows = docs(spark, sfDir)
      .select(col("doc_id"),
        explode(contamGramHashes(col("text"))).as("gh"))
    // Persisted: the bench gram set feeds the cap-check count, the
    // position derivation AND the exact-verify tier — one computation,
    // released via finish().
    val bench = Exec.persist(
      gramRows.where(col("doc_id") % 97 === 0)
        .select(col("gh")).distinct())
    // In-plan size-cap guard (same pattern as decontaminate): fails in
    // the broadcast build, runs no job at construction.
    val nb = Exec.persist(bench.agg(count(lit(1)).as("n_grams")))
    val benchG = bench.crossJoin(broadcast(nb))
      .select(when(assert_true(col("n_grams") <= lit(MaxBenchmarkGrams),
          lit(s"decontamination benchmark side has >$MaxBenchmarkGrams " +
            "distinct grams — not broadcastable; shrink the benchmark " +
            "relation")).isNull,
        col("gh")).as("gh"))
    val benchPos = benchG
      .select(explode(array((0 until BloomK).map(i =>
        bloomPos(i, col("gh"))): _*)).as("pos"))
      .distinct()
    val slots = gramRows.where(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), col("gh"),
        posexplode(array((0 until BloomK).map(i =>
          bloomPos(i, col("gh"))): _*)).as(Seq("slot", "pos")))
    val bloomGrams = slots
      .join(broadcast(benchPos), Seq("pos"))
      .groupBy(col("doc_id"), col("gh"))
      .agg(countDistinct(col("slot")).as("hitSlots"))
      .where(col("hitSlots") === BloomK)
    val exact = bloomGrams
      .join(broadcast(benchG), Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("exact_grams"))
    finish(bloomGrams
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("bloom_grams"))
      .join(exact, Seq("doc_id"), "left")
      .select(col("doc_id"), col("bloom_grams"),
        coalesce(col("exact_grams"), lit(0L)).as("exact_grams"),
        when(coalesce(col("exact_grams"), lit(0L)) === 0L, lit(1L))
          .otherwise(lit(0L)).as("bloom_fp")),
      bench, nb)
  }

  /** Per-language keep rates for [[stratifiedSample]], in basis points
    * of 10000 — the low-resource-upsampling split a multilingual
    * pretraining mix uses (en downsampled, zh upsampled). */
  val StratRates: Seq[(String, Long)] = Seq(
    "en" -> 1000L, "de" -> 3000L, "es" -> 3000L, "fr" -> 3000L,
    "zh" -> 5000L)

  /** Stratified deterministic sampling: every document hashes to a
    * bucket in [0, 10000) (salted so the split decorrelates from
    * [[sampleByHash]]'s eval split), and each LANGUAGE stratum keeps its
    * own bucket range — per-stratum rates without a shuffle, stable
    * under reordering/repartitioning, disjoint strata by construction.
    * Single-pass projection + filter at any scale. Column form over any
    * (doc_id, lang) frame — shared by the batch query and the streaming
    * ingest twin. [[stratBits]] exposes the decision as a 0/1 column
    * (the [[graft.streaming.StreamingOps.curationStream]] composition
    * point); [[stratifiedKeep]] applies it as a filter. */
  def stratBits(d: DataFrame): DataFrame = {
    val rate = StratRates.foldRight(lit(0L): Column) { case ((l, r), e) =>
      when(col("lang") === l, lit(r)).otherwise(e)
    }
    d
      .withColumn("bucket",
        pmod(hash60(concat(col("doc_id").cast("string"), lit(":strat"))),
          lit(10000L)))
      .withColumn("strat_keep", (col("bucket") < rate).cast("long"))
  }

  def stratifiedKeep(d: DataFrame): DataFrame =
    stratBits(d).where(col("strat_keep") === 1L).drop("strat_keep")

  def stratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    stratifiedKeep(docs(spark, sfDir))
      .select(col("doc_id"), col("lang"), col("bucket"))

  /** Set-operation surface (SURVEY.md §2.6): snapshot vocabulary drift —
    * the distinct [[ContamN]]-token n-grams present in crawl snapshot
    * src1 but absent from src0, via the EXCEPT set operator (per-side
    * hash dedup + anti join). At scale each side is a gram stream off one
    * pruned scan; nothing materializes beyond the distinct gram sets. */
  def snapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    def grams(src: String): DataFrame =
      docs(spark, sfDir).where(col("source") === src)
        .select(explode(contamGrams(col("text"))).as("gram"))
    grams("src1").except(grams("src0"))
  }

  /** Quality-based per-source retention — the "keep the best N documents
    * per domain" stage of a training-data pipeline: every source keeps its
    * top 2 docs by [[textQuality]] score (ties broken by doc_id).
    *
    * The ranking is a BOUNDED aggregate ([[graft.functions.TopKAgg]], an
    * O(k) buffer with map-side partial trim), not a
    * `row_number().over(partitionBy(source))` window — the window form
    * sorts an entire source's rows on one task, which at 100 TB makes the
    * hottest domain (a crawl source can be 30% of the corpus) the job's
    * critical path. Here the shuffle carries at most 2 rows per
    * (map partition, source). `-doc_id` inside the ordering struct encodes
    * the ascending tie-break into the descending top-k. */
  def keepBestPerSource(spark: SparkSession, sfDir: String): DataFrame =
    textQuality(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct(col("quality_micro"), (-col("doc_id")).as("nid")), 2)
        .as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("source"), (-col("e.nid")).as("doc_id"),
        col("e.quality_micro").as("quality_micro"),
        (col("i") + 1).cast("long").as("rk"))

  /** Per-source document cap. */
  val SourceCapK = 8

  /** Per-source (per-domain) document cap — the C4/RefinedWeb "limit
    * documents per domain" balancing step: keep at most [[SourceCapK]]
    * docs per source, selected by a salted hash of doc_id (hash asc,
    * doc_id tie-break) so the kept set is a uniform deterministic sample
    * of the source, independent of row order and partitioning. The salt
    * ("cap:") decorrelates this sample from [[sampleByHash]]'s eval
    * split — unsalted, the cap would preferentially keep eval docs.
    *
    * Same bounded-aggregate plan as [[keepBestPerSource]]: the shuffle
    * carries at most K rows per (map partition, source), so a domain
    * holding 30% of a 100 TB crawl costs the same as a tiny one — never
    * a `row_number` sort over a full source partition. */
  def sourceCap(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("source"), col("doc_id"),
        hash60(concat(lit("cap:"), col("doc_id").cast("string"))).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct((-col("h")).as("nh"), (-col("doc_id")).as("nid")),
        SourceCapK).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("i", "e")))
      .select(col("source"), (-col("e.nid")).as("doc_id"),
        (col("i") + 1).cast("long").as("rk"))

  /** Per-source length-distribution profile — the corpus-statistics pass
    * a pipeline runs before choosing truncation/packing lengths: exact
    * p50/p90/p99 of n_chars per source. Quantiles are EXACT rank picks
    * (value at row ceil(q·n) of the per-source sort), not interpolated —
    * engines differ on interpolation, but the element at an integer rank
    * is identical everywhere.
    *
    * The rank pick runs aggregation-first: `groupBy(source, n_chars)`
    * collapses the corpus to its value histogram (one hash aggregate with
    * map-side combine), and the rank-r value is the smallest n_chars whose
    * cumulative count reaches r. The only per-source window then runs over
    * the HISTOGRAM — at most |distinct n_chars| rows per source (bounded
    * by max document length, independent of corpus size) — never over the
    * raw rows, so a source holding 30% of 100 TB costs the same window
    * work as a tiny one. */
  def lengthQuantiles(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = docs(spark, sfDir)
      .select(col("source"), col("n_chars"))
      .groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .withColumn("cum", sum(col("cnt")).over(
        Window.partitionBy(col("source")).orderBy(col("n_chars").asc)))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("source"))))
      .groupBy(col("source"))
      .agg(
        min(when(col("cum") >= expr("(n + 1) div 2"), col("n_chars")))
          .as("p50"),
        min(when(col("cum") >= expr("(9 * n + 9) div 10"), col("n_chars")))
          .as("p90"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("n_chars")))
          .as("p99"),
        sum(col("cnt")).as("docs"))
  }

  /** Deterministic hash sampling — the reproducible subset selection a
    * pipeline uses for eval splits and ablations: bucket =
    * hash60(doc_id) mod 100, keep buckets < 10 (a stable 10% sample,
    * independent of row order and partitioning). Single-pass projection +
    * filter; no shuffle at any scale. */
  def sampleByHash(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"), col("source"),
        pmod(hash60(col("doc_id").cast("string")), lit(100L)).as("bucket"))
      .where(col("bucket") < 10)

  /** Token budget of one packed training sequence. */
  val PackBudget = 512L

  /** Sequence packing — the "concatenate and chunk" step that turns a
    * document corpus into fixed-token-budget training sequences (the
    * boundary-split packing GPT-style pretraining uses): documents
    * concatenate in (source, doc_id) order; every [[PackBudget]] tokens
    * start a new sequence; a document crossing the boundary is split
    * across sequences. Output per doc: (doc_id, source, n_tok, seq_id =
    * sequence its first token lands in, off = offset inside it, end_seq
    * = sequence of its last token).
    *
    * The exclusive prefix sum of token counts is the whole computation,
    * and it runs through [[graft.ops.ChatOps.chunkedRunningSum]] — chunk
    * partials + prefix offsets — so a source holding 30% of the corpus
    * still packs without a single-task full-history sort; everything
    * after the prefix sum is stateless integer arithmetic. */
  /** Training shard fan-out of [[shardPlan]]. */
  val ShardCount = 8L

  /** TRAINING-SHARD PLAN — the step between curation and the trainer:
    * assign every document to one of [[ShardCount]] shards with
    * SORTED ROUND-ROBIN (documents ranked by whitespace-token count
    * desc, doc_id asc; shard = (rank−1) mod S — the classic
    * LPT-flavored static balancer: consecutive ranks land on different
    * shards, so each shard gets one document from every size stratum
    * and the token totals equalize without any sequential bin-state).
    * Output the 8-row shard readout (shard, n_docs, sum_tokens,
    * share_ppm) — share_ppm = this shard's token share in exact ppm,
    * the number a training job reads to bound stragglers.
    *
    * 100 TB shape: the global size rank is DECOMPOSED, never a
    * single-task window — per-doc rank = (running count of all docs
    * with a strictly larger token count) + (rank within this token
    * count by doc_id): the offset term is a window over the
    * DOMAIN-BOUNDED distinct-token-count relation (broadcast back),
    * the within-count rank partitions by token count. Same two-phase
    * discipline as chunkedRunningSum; the oracle replays it as one
    * definitional ROW_NUMBER. */
  def shardPlan(spark: SparkSession, sfDir: String): DataFrame = {
    val perDoc = docs(spark, sfDir)
      .select(col("doc_id"), size(words(col("text"))).cast("long")
        .as("n_tok"))
    val counts = perDoc.groupBy(col("n_tok")).agg(count(lit(1)).as("c"))
    val offs = counts
      .withColumn("off", coalesce(sum(col("c")).over(
        Window.orderBy(col("n_tok").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("n_tok"), col("off"))
    val ranked = perDoc.join(broadcast(offs), Seq("n_tok"))
      .withColumn("rn", col("off") + row_number().over(
        Window.partitionBy(col("n_tok")).orderBy(col("doc_id")))
        .cast("long"))
      .select(col("n_tok"), ((col("rn") - 1) % lit(ShardCount)).as("shard"))
    // Pinned (localCheckpoint): the 8-row shard frame feeds BOTH the
    // readout and its own total — without the pin the whole rank
    // subplan would execute twice (Explain-audited).
    val sh = pin(ranked.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens")))
    val tot = sh.agg(sum(col("sum_tokens")).as("t"))
    finish(sh.crossJoin(broadcast(tot))
      .select(col("shard"), col("n_docs"), col("sum_tokens"),
        expr("sum_tokens * 1000000 div t").as("share_ppm")))
  }

  def packSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val t = docs(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(words(col("text"))).cast("long").as("n_tok"))
    graft.ops.ChatOps.chunkedRunningSum(t, col("n_tok"), Seq("source"),
        Seq(col("doc_id")), "run", 4096L)
      .withColumn("start", col("run") - col("n_tok"))
      .select(col("doc_id"), col("source"), col("n_tok"),
        expr(s"start div $PackBudget").as("seq_id"),
        pmod(col("start"), lit(PackBudget)).as("off"),
        expr(s"(start + greatest(n_tok, 1) - 1) div $PackBudget")
          .as("end_seq"))
  }

  /** Number of cross-validation folds. */
  val KFolds = 5L

  /** TRAIN/TEST FOLD-LEAKAGE AUDIT — the eval-integrity check run
    * before trusting k-fold numbers: docs assign to [[KFolds]] folds by
    * salted hash (deterministic, the [[sampleByHash]] discipline), and
    * any EXACT-duplICATE text whose copies land in more than one fold
    * is train/test contamination — the model sees the held-out answer
    * verbatim during training (the within-corpus twin of
    * [[decontaminate]]'s external-benchmark check). Output per fold:
    * (fold, n_docs, n_leaked, leak_ppm).
    *
    * Plan: one projection (md5 + fold hash), one (text-hash) aggregate
    * counting distinct folds, one broadcast-size join back and one
    * per-fold rollup — shuffles carry (hash, fold), never text. */
  def foldLeakage(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), md5(col("text")).as("h"),
        pmod(hash60(concat(lit("fold|"), col("doc_id").cast("string"))),
          lit(KFolds)).as("fold"))
    val spread = d.groupBy(col("h"))
      .agg(countDistinct(col("fold")).as("nf"))
    d.join(spread, Seq("h"))
      .withColumn("leaked", (col("nf") > 1).cast("long"))
      .groupBy(col("fold"))
      .agg(count(lit(1)).as("n_docs"), sum(col("leaked")).as("n_leaked"))
      .withColumn("leak_ppm",
        expr("(n_leaked * 1000000) div n_docs"))
  }

  /** PACKING-EFFICIENCY READOUT over [[packSequences]] — the one-look
    * answer to "how much of the token budget does the packed corpus
    * actually fill": per source, document/sequence/token counts, the
    * number of boundary-split documents, and the exact-ppm fill factor
    * `total_tok / (n_seqs · PackBudget)` — the padding waste a trainer
    * pays is its complement. One rollup over the packing relation. */
  def packingEfficiency(spark: SparkSession, sfDir: String): DataFrame =
    packSequences(spark, sfDir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        (max(col("end_seq")) + 1).as("n_seqs"),
        sum((col("end_seq") =!= col("seq_id")).cast("long"))
          .as("split_docs"))
      .withColumn("fill_ppm",
        expr(s"(total_tok * 1000000) div (n_seqs * $PackBudget)"))

  /** Corpus bigram frequency head — the vocabulary/tokenizer-design
    * statistic: the 100 most frequent word bigrams, ties broken gram
    * asc. Global top-k via `orderBy(...).limit(...)` compiles to
    * TakeOrderedAndProject — per-partition bounded top-100 merged on the
    * driver, never a full sort of the vocabulary; the rank column is a
    * window over the ALREADY-limited 100 rows. */
  def topBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    docs(spark, sfDir)
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 2, distinct = false)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("gram").asc)
      .limit(100)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("gram").asc)).cast("long"))
  }

  /** Support denominator of [[heavyHitters]]: heavy = token occurrence
    * share ≥ 1/[[HeavyInv]] of the corpus (cross-multiplied — no float
    * division). 29 makes the near-uniform fixture vocabulary exercise
    * both branches (a handful of tokens pass, most fail). */
  val HeavyInv = 29L

  /** EXACT HEAVY HITTERS over an unbounded key domain — the two-phase
    * Misra-Gries candidates + exact-recount plan (Misra & Gries 1982;
    * the standard distributed frequent-items shape): every token whose
    * occurrence share is ≥ 1/[[HeavyInv]], with its exact count and
    * support in ppm.
    *
    * Why not just the [[vocabCoverage]] hash aggregate? That plan's
    * aggregation state is VOCABULARY-sized — fine for word tokens,
    * wrong when the key domain doesn't fit memory (URLs, n-grams,
    * user-agents at 100 TB). Here no full-domain aggregate ever runs:
    *
    *  - Phase 1 (candidates): each scan partition streams its tokens
    *    through a k=[[HeavyInv]] Misra-Gries summary — O(k) state, no
    *    shuffle. Completeness: a token with global share ≥ 1/k has,
    *    by weighted averaging, share ≥ 1/k in SOME partition, and MG(k)
    *    retains every key with partition share > 1/(k+1) — so the union
    *    of per-partition candidates is a SUPERSET of the true heavy
    *    set (≤ partitions·k keys, broadcastable at any corpus size).
    *  - Phase 2 (exact): one more scan counts ONLY candidate tokens
    *    (broadcast semi-join prunes before the aggregate, so per-task
    *    aggregation state is candidate-bounded) plus the keyless corpus
    *    total; the exact cross-multiplied filter tf·[[HeavyInv]] ≥ N
    *    then drops phase-1 overshoot.
    *
    * The output is EXACT and partitioning-independent — phase-1's
    * order-sensitivity only varies the candidate superset, never the
    * filtered result — which is precisely what the definitional DuckDB
    * oracle checks (it also proves the MG completeness argument holds
    * on real data). Tokenization matches [[docTokenCounts]]'s
    * whitespace-word rule exactly (a phase-1/phase-2 mismatch would
    * break the superset guarantee). */
  def heavyHitters(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val k = HeavyInv.toInt
    val cands = docs(spark, sfDir).select(col("text")).as[String]
      .mapPartitions { texts =>
        val counters = scala.collection.mutable.HashMap.empty[String, Long]
        texts.foreach { t =>
          t.split(" ").foreach { w =>
            if (w.nonEmpty) {
              counters.get(w) match {
                case Some(c) => counters(w) = c + 1
                case None if counters.size < k => counters(w) = 1L
                case None =>
                  // decrement-all: drop every counter by 1, evict zeros
                  val dead = List.newBuilder[String]
                  counters.keysIterator.foreach { key =>
                    val c = counters(key) - 1
                    if (c == 0) dead += key else counters(key) = c
                  }
                  dead.result().foreach(counters.remove)
              }
            }
          }
        }
        counters.keysIterator
      }.toDF("token").distinct()
    val pc = Exec.persist(cands)
    val tok = docs(spark, sfDir)
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 1, distinct = false)).as("token"))
    val n = tok.agg(count(lit(1)).as("n"))
    val out = tok.join(broadcast(pc), Seq("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .crossJoin(broadcast(n))
      .where(col("tf") * lit(HeavyInv) >= col("n"))
      .select(col("token"), col("tf"),
        expr("tf * 1000000 div n").as("support_ppm"))
    finish(out, pc)
  }

  /** Count-Min sketch geometry: [[CmsD]] independent salt rows ×
    * [[CmsW]] buckets (ε ≈ e/W overcount at δ ≈ e^−D confidence). */
  val CmsD = 4
  val CmsW = 1024L

  /** COUNT-MIN SKETCH point-frequency estimation (Cormode &
    * Muthukrishnan 2005) — the sketch family's frequency member (HLL
    * counts distinct, KMV samples a distribution, theta intersects,
    * CMS answers "how often does key x occur" in O(D·W) memory for ANY
    * key domain): build the D×W counter table in one pass, then probe
    * the exact top-10 head tokens and report estimate vs truth. CMS
    * never undercounts — `overcount = tf_cms − tf_exact ≥ 0` (hash
    * collisions only ADD) — and the probe makes the error bound
    * VISIBLE the way [[minhashRecallEval]] does for LSH recall and
    * [[langConfusion]] for the classifier.
    *
    * All integer: bucket = hash60("cms{r}:" ∥ token) mod W, counters
    * are plain sums, estimate = min over the D rows — deterministic,
    * mergeable (counter tables add), order-independent, replayable in
    * DuckDB bit-for-bit.
    *
    * Scale shape: the sketch build is ONE hash aggregate over (r,
    * bucket) — D·W = 4096 cells regardless of corpus size — and
    * broadcasts into the probe join; the head + exact counts reuse the
    * vocabulary aggregate; nothing unbounded shuffles. (At a truly
    * unbounded key domain the exact-head side switches to
    * [[heavyHitters]]; the sketch side is already domain-free.) */
  /** Salt-row-r CMS bucket of a token (shared by the batch build and
    * the live sketch stream). */
  private[graft] def cmsBucket(r: Int, tok: Column): Column =
    pmod(hash60(concat(lit(s"cms$r:"), tok)), lit(CmsW))

  /** The CMS counter table of a (…, text) frame: (r, bucket, c) — the
    * [[CmsD]]×[[CmsW]] sketch as a relation. Counts are ADDITIVE under
    * accumulation, so this exact aggregation also runs as the
    * update-mode live sketch
    * ([[graft.streaming.StreamingOps.cmsSketchStream]]); state is the
    * sketch itself, O(D·W) at any stream length. */
  def cmsSketchCols(d: DataFrame): DataFrame =
    d.select(explode(graft.functions.WordGramsExpr.grams(
        SparkSession.active, col("text"), 1, distinct = false)).as("token"))
      .select(posexplode(array((0 until CmsD).map(r =>
        cmsBucket(r, col("token"))): _*)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  def cmsFrequency(spark: SparkSession, sfDir: String): DataFrame = {
    def bucket(r: Int, tok: Column): Column = cmsBucket(r, tok)
    val tok = Exec.persist(docs(spark, sfDir)
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 1, distinct = false)).as("token")))
    val sketch = tok
      .select(posexplode(array((0 until CmsD).map(r =>
        bucket(r, col("token"))): _*)).as(Seq("r", "bucket")))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val head = tok.groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("token").asc).limit(10)
    val out = head
      .select(col("token"), col("tf"),
        posexplode(array((0 until CmsD).map(r =>
          bucket(r, col("token"))): _*)).as(Seq("r", "bucket")))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("token"), col("tf"))
      .agg(min(col("c")).as("tf_cms"))
      .select(col("token"), col("tf").as("tf_exact"), col("tf_cms"),
        (col("tf_cms") - col("tf")).as("overcount"))
    finish(out, tok)
  }

  /** AMS estimator count: [[AmsGroups]] groups × [[AmsPerGroup]] sign
    * estimators (median-of-means over 4×4). */
  val AmsGroups = 4
  val AmsPerGroup = 4

  /** AMS F2 SKETCH (Alon, Matias & Szegedy 1996, "The space complexity
    * of approximating the frequency moments") — the second-moment
    * member of the sketch family beside CMS (point frequency), KMV
    * (quantiles), HLL (distinct) and MG (heavy hitters): F2 = Σ tf² is
    * the token-frequency self-join size, i.e. THE skew statistic a
    * planner consults before hash-partitioning on a key. Each of the
    * 16 estimators is one signed sum Z_r = Σ tf·s_r(token) with
    * s_r = ±1 from md5 parity (fully replayable); the estimate is the
    * median of [[AmsGroups]] means of Z², taken as
    * `(Σg − max g − min g) div 2` — the exact middle-two mean, no sort.
    * Output one row: (n_occurrences, n_distinct, f2_exact, f2_ams,
    * err_ppm).
    *
    * 100 TB shape: all 16 Z-sums + the exact F2 ride in ONE hash
    * aggregate over the vocab-bounded frequency relation (map-side
    * partials; O(1) state per estimator — the sketch IS mergeable
    * state); everything after is arithmetic on a 1-row frame. Squares
    * are DECIMAL(38,0) (DuckDB HUGEINT) so web-scale F2 cannot
    * overflow the sum. */
  def amsF2Skew(spark: SparkSession, sfDir: String): DataFrame = {
    val r = AmsGroups * AmsPerGroup
    val tf = docTokenCounts(spark, sfDir)
      .groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
    val zs = (0 until r).map { i =>
      sum(col("tf") * (lit(1L) - lit(2L) *
        pmod(hash60(concat(lit(s"ams$i:"), col("token"))), lit(2L))))
        .cast("decimal(38,0)").as(s"z$i")
    }
    val agg = tf.agg(zs.head, zs.tail ++ Seq(
      sum(col("tf").cast("decimal(38,0)") * col("tf").cast("decimal(38,0)"))
        .as("f2"),
      sum(col("tf")).as("n"), count(lit(1)).as("nd")): _*)
    val gs = (0 until AmsGroups).map { g =>
      val terms = (0 until AmsPerGroup)
        .map(j => s"z${g * AmsPerGroup + j} * z${g * AmsPerGroup + j}")
        .mkString(" + ")
      expr(s"($terms) div ${AmsPerGroup}L").as(s"g$g")
    }
    agg.select(Seq(col("f2"), col("n"), col("nd")) ++ gs: _*)
      .withColumn("f2a", expr(
        "(g0 + g1 + g2 + g3 - greatest(g0, g1, g2, g3)" +
          " - least(g0, g1, g2, g3)) div 2L"))
      .select(col("n").as("n_occurrences"), col("nd").as("n_distinct"),
        col("f2").cast("long").as("f2_exact"),
        col("f2a").cast("long").as("f2_ams"),
        expr("cast(abs(f2a - f2) * 1000000L div f2 as bigint)")
          .as("err_ppm"))
  }

  /** PMI collocations — pointwise-mutual-information strength for the
    * corpus's top-50 bigrams (Church & Hanks 1990, "Word Association
    * Norms, Mutual Information, and Lexicography"): the
    * tokenizer/phrase-mining statistic separating true collocations
    * ("San Francisco") from merely-frequent pairs ("of the").
    *
    * EXACT integer arithmetic end-to-end: PPMI floor-bits =
    * floor(log2(c_ab·N_uni² ÷ (c_a·c_b·N_bi))) via the same
    * `length(bin(x))−1` floor-log2 as [[unigramSurprisal]] (no libm),
    * with the triple product carried in DECIMAL(38,0) (DuckDB: HUGEINT)
    * so it cannot overflow int64 at web scale; ratios < 1 floor to 0 —
    * exactly the standard PPMI clamp.
    *
    * Plan: bigram + unigram hash aggregates (one pass each), global
    * top-50 via TakeOrderedAndProject, then the 50-row head BROADCASTS
    * into the unigram-frequency relation twice (never the reverse — the
    * vocabulary scales with the corpus, the head is fixed) and the two
    * corpus totals ride along as broadcast one-row scalars. */
  def pmiBigrams(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val uni = dt.groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
    val nUni = uni.agg(sum(col("tf")).as("n_uni"))
    val bg = docs(spark, sfDir)
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 2, distinct = false)).as("gram"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    val nBi = bg.agg(sum(col("cnt")).as("n_bi"))
    val top = bg.orderBy(col("cnt").desc, col("gram").asc).limit(50)
      .withColumn("t1", split(col("gram"), " ").getItem(0))
      .withColumn("t2", split(col("gram"), " ").getItem(1))
    val u1 = uni.select(col("token").as("t1"), col("tf").as("tf1"))
    val u2 = uni.select(col("token").as("t2"), col("tf").as("tf2"))
    val j1 = u1.join(broadcast(top), Seq("t1"))   // ≤ 50 rows out
    val out = u2.join(broadcast(j1), Seq("t2"))   // ≤ 50 rows out
      .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
      .select(col("gram"), col("cnt"),
        // association lift ×10^6 (lift = PMI's argument before the log):
        // exact truncating division. Headroom honestly: the numerator
        // is cnt·N_uni²·10^6, so a HEAD bigram (cnt ~ N) drives it to
        // ~N³·10^6 — precision 38 holds to ~10^10 tokens there (~10^12
        // only when cnt ≪ N). Past that the engines DIVERGE on
        // overflow (Spark non-ANSI decimal yields NULL, DuckDB HUGEINT
        // raises), so a >10^10-token corpus must pre-reduce the
        // fraction (e.g. divide N_uni² by n_bi first) before this query
        expr("CAST(cnt AS DECIMAL(38,0)) * n_uni * n_uni * 1000000 div " +
          "(CAST(tf1 AS DECIMAL(38,0)) * tf2 * n_bi)").as("lift_micro"),
        (length(bin(expr(
          "CAST(cnt AS DECIMAL(38,0)) * n_uni * n_uni div " +
            "(CAST(tf1 AS DECIMAL(38,0)) * tf2 * n_bi)"))) - 1)
          .cast("long").as("pmi_bits"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("gram").asc)).cast("long"))
    finish(out, dt)
  }

  /** Per-(doc, token) occurrence counts — the shared first aggregate of
    * the vocabulary tier: one native-tokenize explode, one hash
    * aggregate; every downstream statistic (vocab frequencies, document
    * frequencies, surprisal) derives from this bounded-width relation
    * instead of re-scanning text. */
  private[graft] def docTokenCounts(spark: SparkSession, sfDir: String): DataFrame =
    docTokenCountsOf(spark, docs(spark, sfDir))

  /** The same (doc_id, token, cnt) aggregate over any (doc_id, text)
    * frame — the unit the postings store's incremental append path
    * ([[graft.sources.PostingsIndex.appendBatch]]) tokenizes per
    * landed batch. */
  private[graft] def docTokenCountsOf(spark: SparkSession,
      d: DataFrame): DataFrame =
    d.select(col("doc_id"), explode(graft.functions.WordGramsExpr.grams(
        spark, col("text"), 1, distinct = false)).as("token"))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("cnt"))

  /** Vocabulary head with Zipf coverage — the "how big must the vocab
    * be" statistic of tokenizer design: the 100 most frequent tokens
    * (ties token asc) with corpus frequency (tf), document frequency
    * (df), rank, and the cumulative share of ALL token occurrences the
    * head covers up to that rank (micro units, truncating div).
    *
    * Plan: (doc,token) aggregate → token aggregate → global top-100 via
    * orderBy+limit (TakeOrderedAndProject: per-partition bounded top-k,
    * driver merge — never a full vocabulary sort); the rank/cumsum
    * windows run over the ALREADY-limited 100 rows and the corpus total
    * joins as a broadcast one-row scalar. */
  def vocabCoverage(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = docTokenCounts(spark, sfDir)
      .groupBy(col("token"))
      .agg(sum(col("cnt")).as("tf"), count(lit(1)).as("df"))
    val total = vocab.agg(sum(col("tf")).as("tot"))
    val w = Window.orderBy(col("tf").desc, col("token").asc)
    vocab.orderBy(col("tf").desc, col("token").asc).limit(100)
      .crossJoin(broadcast(total))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .withColumn("cum_tf", sum(col("tf")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("token"), col("tf"), col("df"), col("rnk"),
        expr("(cum_tf * 1000000) div tot").as("cum_cover_micro"))
  }

  /** Zipf-fit head width per source: powers of two keep the floor-log2
    * abscissa evenly populated (ranks 1..64 → x ∈ 0..6). */
  val ZipfHead = 64

  /** ZIPF-SLOPE FIT per source — the vocabulary-shape statistic
    * tokenizer and mix design reads (Zipf's law: tf ∝ rank^−s; natural
    * text fits s ≈ 1, word-salad or boilerplate-heavy sources flatten
    * toward 0): exact-integer OLS of floor-log2(tf) on floor-log2(rank)
    * over each source's [[ZipfHead]] most frequent tokens (ties token
    * asc). The floor-log2 abscissa/ordinate (`length(bin(x))−1`, the
    * [[keywordsTfidf]] idiom) keeps the whole fit in int64 — no libm
    * log whose last bit could split the engines — and the slope is the
    * [[qualityTrend]] closed form in micro units (negated s). Output
    * (source, n_head, slope_micro, intercept_micro).
    *
    * 100 TB shape: per-source token frequencies ride the SAME bounded
    * (doc, token, cnt) relation every text statistic uses, joined to
    * the narrow (doc_id, source) projection on the co-partitionable
    * doc_id; the rank window partitions per source over its DISTINCT
    * vocabulary (vocab-bounded, not corpus-bounded); everything after
    * the head cut is |sources|·[[ZipfHead]] rows. */
  def zipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val st = docTokenCounts(spark, sfDir)
      .join(docs(spark, sfDir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
      .groupBy(col("source"), col("token")).agg(sum(col("cnt")).as("tf"))
    val pts = st.withColumn("rnk", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("tf").desc, col("token").asc)).cast("long"))
      .where(col("rnk") <= ZipfHead)
      .select(col("source"),
        (length(bin(col("rnk"))) - 1).cast("long").as("x"),
        (length(bin(col("tf"))) - 1).cast("long").as("y"))
    pts.groupBy(col("source"))
      .agg(count(lit(1)).as("n_head"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("slope_micro",
        expr("""CASE WHEN n_head * sxx - sx * sx = 0 THEN 0L
          |  ELSE ((n_head * sxy - sx * sy) * 1000000L)
          |       div (n_head * sxx - sx * sx) END""".stripMargin))
      .select(col("source"), col("n_head"), col("slope_micro"),
        expr("(sy * 1000000L - slope_micro * sx) div n_head")
          .as("intercept_micro"))
  }

  /** BPE first-iteration merge candidates — the top-20 adjacent
    * character pairs by corpus frequency (count = Σ over words of
    * tf(word) × occurrences(pair in word); ties pair asc), i.e. the
    * ranking a byte-pair-encoding tokenizer consults for its first
    * merge (Sennrich et al. 2016, "Neural Machine Translation of Rare
    * Words with Subword Units").
    *
    * Scale shape: the character explode runs over the DISTINCT-token
    * vocabulary relation weighted by the aggregated frequency — bounded
    * by vocabulary size, not corpus size — so the lambda projection
    * (CodegenFallback, fine off the hot path) touches each distinct
    * word once no matter how many times it occurs in 100 TB. */
  def bpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = docTokenCounts(spark, sfDir)
      .groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
    val pairs = vocab
      .where(length(col("token")) >= 2)
      .select(col("tf"), explode(expr(
        "transform(sequence(1, length(token) - 1)," +
          " i -> substring(token, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("tf")).as("cnt"))
    pairs.orderBy(col("cnt").desc, col("pair").asc).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("pair").asc)).cast("long"))
  }

  /** Unigram-LM surprisal per document — the perplexity-proxy quality
    * signal (the CCNet-style "how unusual is this text for the corpus"
    * score, Wenzek et al. 2020) in EXACT integer arithmetic: each token
    * occurrence contributes floor(log2(N div tf(token))) bits, N = total
    * corpus token occurrences — common-token documents score low bits/
    * token, rare-vocabulary documents high. floor-log2 is
    * `length(bin(x)) - 1`, exact in both engines (no libm log).
    *
    * Plan: the (doc,token) aggregate joins the token-frequency relation
    * on the token equi-key (broadcastable for bounded vocabularies,
    * shuffled hash join at web scale), then one per-doc sum — no window,
    * no raw-text rescan. */
  def unigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val vocab = dt.groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
    val total = vocab.agg(sum(col("tf")).as("tot"))
    val per = dt
      .join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .select(col("doc_id"), col("cnt"),
        (length(bin(expr("tot div tf"))) - 1).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("bits")).as("surprisal_bits"),
        sum(col("cnt")).as("n_tok"))
    val out = docs(spark, sfDir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
      .withColumn("bits_per_tok_micro",
        when(col("n_tok") > 0,
          expr("(surprisal_bits * 1000000) div n_tok"))
          .otherwise(lit(0L)))
    finish(out, dt)
  }

  /** CCNET QUALITY BUCKETS (Wenzek et al. 2020, "CCNet: Extracting
    * high-quality monolingual datasets from web crawl data" §4.3) —
    * the head/middle/tail split CCNet cuts each language into by LM
    * perplexity, here on [[unigramSurprisal]]'s exact-integer
    * bits-per-token proxy: per language, t1/t2 are the minimal scores
    * whose cumulative doc count reaches n/3 and 2n/3 (exact histogram
    * rank-picks — the [[lengthQuantiles]] discipline, no per-language
    * row sort), and a doc buckets `head` (score ≤ t1, most fluent),
    * `middle` (≤ t2) or `tail`. Ties share a bucket by construction
    * (cumulative counts use RANGE frames in both engines). Output
    * (doc_id, lang, bits_per_tok_micro, bucket).
    *
    * 100 TB shape: the histogram aggregates per (lang, DISTINCT score)
    * — bounded by distinct score values, far below doc count; the
    * cumulative window walks that reduced relation; thresholds are an
    * L-row frame broadcast back into the scoring scan. */
  def qualityBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val sc = Exec.persist(unigramSurprisal(spark, sfDir)
      .select(col("doc_id"), col("bits_per_tok_micro").as("score"))
      .join(docs(spark, sfDir).select(col("doc_id"), col("lang")),
        Seq("doc_id")))
    val hist = sc.groupBy(col("lang"), col("score"))
      .agg(count(lit(1)).as("c"))
    val cum = hist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("lang")).orderBy(col("score"))))
      .withColumn("n", sum(col("c")).over(
        Window.partitionBy(col("lang"))))
    val th = cum.groupBy(col("lang")).agg(
      min(when(lit(3L) * col("cum") >= col("n"), col("score"))).as("t1"),
      min(when(lit(3L) * col("cum") >= lit(2L) * col("n"), col("score")))
        .as("t2"))
    finish(sc.join(broadcast(th), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        col("score").as("bits_per_tok_micro"),
        when(col("score") <= col("t1"), lit("head"))
          .when(col("score") <= col("t2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket")),
      sc)
  }

  /** BIGRAM-LM SURPRISAL — the CONDITIONAL tier beside
    * [[unigramSurprisal]] (CCNet scores quality with an n-gram LM; the
    * bigram form is the largest n the exact-integer discipline affords):
    * per doc, Σ over bigram occurrences of
    * `floor_log2(ctx(prev) div c(prev cur))` — the surprisal of `cur`
    * GIVEN `prev` under the corpus bigram model, where `ctx(prev)` is
    * the total count of bigrams starting with `prev`. Exact integer via
    * `length(bin(x))−1`, no libm; boilerplate text (predictable
    * continuations) scores low bits/bigram, incoherent token salad
    * scores high — a sharper quality axis than unigram frequency alone.
    *
    * Plan: (doc, bigram) counts via ONE codegen'd [[WordGramsExpr]]
    * explode + hash aggregate; the corpus bigram table and its
    * prefix-context rollup are equi-key relations (broadcastable for
    * bounded vocabularies, shuffled hash joins at open-web scale); one
    * per-doc sum — the [[unigramSurprisal]] shape one n higher. */
  def bigramSurprisal(spark: SparkSession, sfDir: String): DataFrame = {
    val db = Exec.persist(docs(spark, sfDir)
      .select(col("doc_id"), explode(graft.functions.WordGramsExpr.grams(
        spark, col("text"), 2, distinct = false)).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("cnt")))
    val btf = db.groupBy(col("bg")).agg(sum(col("cnt")).as("btf"))
    val ctx = btf
      .groupBy(substring_index(col("bg"), " ", 1).as("prev"))
      .agg(sum(col("btf")).as("ctf"))
    val per = db
      .join(btf, Seq("bg"))
      .join(ctx, substring_index(col("bg"), " ", 1) === col("prev"))
      .select(col("doc_id"), col("cnt"),
        (length(bin(expr("ctf div btf"))) - 1).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("bits")).as("surprisal_bits"),
        sum(col("cnt")).as("n_bigrams"))
    val out = docs(spark, sfDir).select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
      .withColumn("bits_per_bigram_micro",
        when(col("n_bigrams") > 0,
          expr("(surprisal_bits * 1000000) div n_bigrams"))
          .otherwise(lit(0L)))
    finish(out, db)
  }

  /** Repetition flag thresholds: distinct-token ratio < 0.35 or
    * most-frequent-bigram share > 0.10 (the Gopher §A1.2 "repetition
    * signals" shape — Rae et al. 2021 filter on fractions of duplicated
    * n-grams; thresholds tuned so both branches fire independently on
    * the synthetic corpus: 99 resp. 11 of 500 docs at sf0.01, zero
    * overlap). */
  val RepDistinctMinMicro = 350000L
  val RepTopBigramMaxMicro = 100000L

  /** Gopher-style repetition/boilerplate QC signals per document:
    * token count, distinct-token ratio and the share of the most
    * frequent word bigram (micro-unit ints, truncating division in both
    * engines), plus the 0/1 repetitive flag — the quality-filter pass
    * that removes keyword-stuffed / template pages before training.
    *
    * Plan: token counts are two native [[graft.functions.WordGramsExpr]]
    * projections (one compiled pass each); the bigram share is ONE
    * hash-aggregate per (doc, gram) followed by a per-doc max/sum —
    * map-side combine everywhere, no window over raw rows, so a 100 TB
    * corpus pays two aggregates of bounded-width rows. */
  def repetitionSignals(spark: SparkSession, sfDir: String): DataFrame = {
    val g = (n: Int, d: Boolean) =>
      graft.functions.WordGramsExpr.grams(spark, col("text"), n, d)
    val tok = docs(spark, sfDir).select(col("doc_id"),
      size(g(1, false)).cast("long").as("n_tok"),
      size(g(1, true)).cast("long").as("n_distinct"))
    val mx = docs(spark, sfDir)
      .select(col("doc_id"), explode(g(2, false)).as("gram"))
      .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("doc_id"))
      .agg(max(col("cnt")).as("mc"), sum(col("cnt")).as("tot"))
    tok.join(mx, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        when(col("n_tok") > 0,
          expr(s"(n_distinct * ${MICRO.toLong}) div n_tok"))
          .otherwise(lit(MICRO.toLong)).as("distinct_ratio_micro"),
        coalesce(expr(s"(mc * ${MICRO.toLong}) div tot"), lit(0L))
          .as("top_bigram_micro"))
      .withColumn("flag_repetitive",
        (col("distinct_ratio_micro") < RepDistinctMinMicro ||
          col("top_bigram_micro") > RepTopBigramMaxMicro)
          .cast("long"))
  }

  // =================================================================
  // Multimodal plumbing
  // =================================================================

  /** JDK-native image decode (`javax.imageio` — PNG/JPEG/GIF/BMP readers
    * ship in the JDK, no external libs): None when the bytes are not a
    * decodable image, which is every payload of the synthetic corpus
    * (text bytes), so the oracle-visible path always falls back to the
    * deterministic stub while REAL image bytes get real pixels. */
  private[graft] def decodeImage(
      payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** JDK-native audio decode (`javax.sound.sampled` — WAV/AIFF/AU
    * parsers ship in the JDK): (sample_rate_hz, channels, frames) of a
    * payload that parses as a supported audio container, None otherwise
    * — every synthetic-corpus payload, and any compressed codec. */
  private[graft] def decodeAudio(
      payload: Array[Byte]): Option[(Long, Long, Long)] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val f = in.getFormat
        val frames = in.getFrameLength
        if (frames < 0) None
        else Some((f.getSampleRate.toLong, f.getChannels.toLong, frames))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic fallback geometry for undecodable payloads: derived
    * from the payload's MD5 (replayable by the DuckDB oracle, which
    * mirrors this arithmetic). */
  private def stubDims(payload: Array[Byte],
      md: java.security.MessageDigest): (Long, Long, Long) = {
    md.reset()
    val hex = md.digest(payload).map("%02x".format(_)).mkString
    val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
    (64L + h % 897L, 64L + (h / 1000L) % 897L, h)
  }

  /** Aspect-preserving fit into a 256-px bounding box — exact integer
    * arithmetic, shared by the real resampler and the stub path (and
    * mirrored by the oracle SQL). */
  private[graft] def fitBox(w: Long, h: Long): (Long, Long) =
    if (w >= h) (256L, math.max(1L, h * 256L / w))
    else (math.max(1L, w * 256L / h), 256L)

  /** The per-record decode: real `ImageIO` pixels for image payloads
    * that parse (width/height from the decoded raster, frames = 1),
    * deterministic stub geometry otherwise. One digest per partition ≈
    * one decoder handle per batch. */
  private[graft] def mediaFeatures(
      media: Dataset[MediaRecord]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val real: Option[MediaFeature] =
          if (r.mime.startsWith("image/"))
            decodeImage(r.payload).map(i =>
              MediaFeature(r.doc_id, r.mime, r.payload.length.toLong,
                i.getWidth.toLong, i.getHeight.toLong, 1L))
          else if (r.mime.startsWith("audio/"))
            // audio "geometry": width = sample rate, height = channels,
            // frames = PCM frame count — the typed metadata a feature
            // extractor batches on
            decodeAudio(r.payload).map { case (rate, ch, frames) =>
              MediaFeature(r.doc_id, r.mime, r.payload.length.toLong,
                rate, ch, frames)
            }
          else None
        real.getOrElse {
          val (width, height, h) = stubDims(r.payload, md)
          val frames = if (r.mime == "video/mp4") 1L + h % 240L else 1L
          MediaFeature(r.doc_id, r.mime, r.payload.length.toLong,
            width, height, frames)
        }
      }
    }
  }

  /** The per-record resize: decodable image payloads are REALLY
    * resampled (bilinear `Graphics2D` draw into the box-fit target
    * raster — the thumb dims come from the output image, not the
    * formula), undecodable ones keep the stub geometry + the same
    * box-fit integer math. */
  private[graft] def mediaThumbs(
      media: Dataset[MediaRecord]): Dataset[MediaThumb] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val img =
          if (r.mime.startsWith("image/")) decodeImage(r.payload) else None
        img match {
          case Some(i) =>
            val (w, h) = (i.getWidth.toLong, i.getHeight.toLong)
            val (tw, th) = fitBox(w, h)
            val out = new java.awt.image.BufferedImage(tw.toInt, th.toInt,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(i, 0, 0, tw.toInt, th.toInt, null)
            g.dispose()
            MediaThumb(r.doc_id, w, h,
              out.getWidth.toLong, out.getHeight.toLong)
          case None =>
            val (w, h, _) = stubDims(r.payload, md)
            val (tw, th) = fitBox(w, h)
            MediaThumb(r.doc_id, w, h, tw, th)
        }
      }
    }
  }

  /** The synthetic corpus as media records: opaque binary payloads with
    * typed metadata (the docs table's text bytes standing in for stored
    * blobs; mime assigned round-robin by id). */
  private def mediaRecords(spark: SparkSession,
      sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    docs(spark, sfDir)
      .select(col("doc_id"),
        element_at(
          array(lit("image/png"), lit("audio/wav"), lit("video/mp4")),
          (pmod(col("doc_id"), lit(3L)) + 1).cast("int")).as("mime"),
        col("text").cast("binary").as("payload"))
      .as[MediaRecord]
  }

  /** Multimodal-column plumbing: opaque binary payloads with typed
    * metadata, decoded per partition through a typed Dataset
    * mapPartitions. The decode is REAL for image payloads
    * ([[decodeImage]] — JDK `javax.imageio`, geometry from actual
    * pixels) and WAV/AIFF audio payloads ([[decodeAudio]] — JDK
    * `javax.sound.sampled`: sample rate, channels, PCM frame count),
    * both pinned on embedded real bytes in MultimodalSpec; payloads
    * that parse as neither (all of the synthetic corpus, plus video —
    * no JDK codec) take the deterministic MD5-derived stub the oracle
    * mirrors. */
  def multimodal(spark: SparkSession, sfDir: String): DataFrame =
    mediaFeatures(mediaRecords(spark, sfDir)).toDF()

  /** Resize stage of the media pipeline: aspect-preserving fit into a
    * 256-px bounding box. Decodable image payloads are really resampled
    * ([[mediaThumbs]] — the output raster's dims are the answer);
    * everything else keeps the exact-integer box-fit geometry. */
  def mediaResize(spark: SparkSession, sfDir: String): DataFrame =
    mediaThumbs(mediaRecords(spark, sfDir)).toDF()

  /** Frame-sampling stage: up to 8 evenly-spaced frame indices per media
    * record (`⌊j·frames/k⌋`, k = min(frames, 8)) — one row per sampled
    * frame, the shape a video feature-extractor consumes. */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val k = least(col("frames"), lit(8L))
    multimodal(spark, sfDir)
      .select(col("doc_id"), col("mime"), col("frames"),
        explode(transform(sequence(lit(0L), k - 1),
          j => floor(j * col("frames") / k).cast("long"))).as("frame_idx"))
  }

  /** Overlapping-chunk geometry: 128-token chunks every 96 tokens (the
    * RAG / embedding-pipeline chunker shape). */
  val ChunkTokens = 128L
  val ChunkStride = 96L

  /** Document chunking with overlap: one row per (doc, chunk) with the
    * token offset and chunk length — the deterministic pre-embedding
    * split. Chunk starts step by [[ChunkStride]] while inside the doc,
    * so consecutive chunks share `ChunkTokens - ChunkStride` tokens and
    * the tail chunk keeps the remainder. Single-pass projection +
    * bounded explode (chunks per doc = ⌈n_tok/stride⌉); no shuffle. */
  def chunkDocuments(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("doc_id"),
        size(graft.functions.WordGramsExpr.grams(spark, col("text"), 1,
          distinct = false)).cast("long").as("n_tok"))
      .where(col("n_tok") > 0)
      // n_chunks = ceil(n_tok / stride) in exact integer arithmetic
      .withColumn("n_chunks",
        expr(s"(n_tok + ${ChunkStride - 1}) div $ChunkStride"))
      .select(col("doc_id"), col("n_tok"),
        explode(sequence(lit(0L), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkStride).as("tok_start"),
        least(lit(ChunkTokens),
          col("n_tok") - col("chunk_id") * ChunkStride).as("chunk_len"))

  /** Cross-modal join: documents ⋈ embeddings on the shared id, rolled
    * up per language — docs, exact mean quality score and mean embedding
    * norm² (truncating integer division of exact micro sums; norms stay
    * int64: 64·(1e6)² < 2^63). The "does low-quality text correlate with
    * degenerate embeddings" health query; one equi-join on the id, one
    * hash aggregate. */
  def docEmbedStats(spark: SparkSession, sfDir: String): DataFrame = {
    val q = textQuality(spark, sfDir)
      .select(col("doc_id"), col("quality_micro"))
    val lang = docs(spark, sfDir).select(col("doc_id"), col("lang"))
    val nrm = emb(spark, sfDir)
      .select(col("vec_id").as("doc_id"), col("nrm"))
    lang.join(q, Seq("doc_id")).join(nrm, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("docs"),
        expr("sum(quality_micro) div count(1)").as("mean_quality_micro"),
        expr("sum(nrm) div count(1)").as("mean_norm2"))
  }

  /** Cross-source near-dup contamination matrix — the dataset-health
    * view over the [[dedupMinhash]] pair graph: for every unordered
    * source pair touched by a near-dup edge, how many pairs link them
    * and the mean similarity (micro-units, truncating integer mean of
    * exact micro values). `src_a = src_b` rows are within-source
    * duplication; off-diagonal rows are cross-snapshot/source leakage —
    * the signal that two crawl sources overlap and one should be
    * dropped. Two doc_id equi-joins onto the (tiny) pair relation. */
  def dupSourceMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val src = docs(spark, sfDir).select(col("doc_id"), col("source"))
    dedupMinhash(spark, sfDir)
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        Seq("doc_a"))
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        Seq("doc_b"))
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"), col("jac_micro"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("pairs"),
        expr("sum(jac_micro) div count(1)").as("mean_jac_micro"))
  }

  /** Minimum quality score ([[textQuality]] micro-units) a document
    * needs to enter the training set. */
  val QualityFloorMicro = 500000L

  /** END-TO-END RETENTION DECISION — the composition query a curation
    * pipeline actually ships: one row per document with the verdict of
    * every filter stage and the final keep bit.
    *
    *  - lang_keep:    language identified ([[langId]] ≠ 'und')
    *  - quality_keep: [[textQuality]] score ≥ [[QualityFloorMicro]]
    *  - rep_keep:     not Gopher-repetitive ([[repetitionSignals]])
    *  - dup_keep:     its near-dup cluster's survivor ([[dedupClusters]])
    *  - contam_keep:  shares no benchmark gram ([[decontaminate]]);
    *                  benchmark docs themselves (doc_id ≡ 0 mod 97) are
    *                  the eval set and never enter training → 0
    *  - keep:         the conjunction
    *
    * The three STATELESS gates (lang / quality / repetition) are
    * computed as columns of ONE documents scan — not as three separate
    * checkpointed subqueries joined back on doc_id, which would
    * re-tokenize the same corpus three times (the round-7 regression):
    *  - lang_keep uses the shuffle-free [[langIdCols]] projection
    *    (pinned ≡ the batch join+window [[langId]] in StreamingSpec);
    *  - quality_keep reads [[textQualityMetrics]]'s columns directly;
    *  - rep_keep re-derives [[repetitionSignals]]'s max-bigram count
    *    WITHOUT the per-(doc,gram) shuffle: the fused
    *    [[graft.functions.GramStatsExpr]] computes token count, distinct
    *    tokens, bigram total and max-bigram count in ONE compiled pass —
    *    per-row compute, zero exchange, no CodegenFallback.
    * Only the two genuinely stateful stages keep their own plans
    * ([[dedupClusters]]'s iterative MinHash chain and
    * [[decontaminate]]'s broadcast gram set, both [[finish]]-bounded),
    * joined on the co-partitionable doc_id key. At 100 TB: one corpus
    * scan + two narrow equi-joins, instead of five corpus scans. */
  def retentionDecision(spark: SparkSession, sfDir: String): DataFrame = {
    val gates = textQualityMetrics(
        langIdCols(docs(spark, sfDir).select(col("doc_id"), col("text"))))
      .withColumn("gs",
        graft.functions.GramStatsExpr.gramStats(spark, col("text")))
      .withColumn("rep_ntok", col("gs.n_tok"))
      .withColumn("rep_ndist", col("gs.n_distinct_tok"))
      .withColumn("rep_mc", col("gs.bigram_max"))
      .withColumn("rep_tot", col("gs.bigram_total"))
      .select(col("doc_id"),
        (col("lang_pred") =!= "und").cast("long").as("lang_keep"),
        (col("quality_micro") >= QualityFloorMicro).cast("long")
          .as("quality_keep"),
        (!(expr(s"CASE WHEN rep_ntok > 0 THEN (rep_ndist * " +
            s"${MICRO.toLong}) div rep_ntok ELSE ${MICRO.toLong} END")
            < RepDistinctMinMicro ||
          expr(s"CASE WHEN rep_tot > 0 THEN (rep_mc * ${MICRO.toLong}) " +
            s"div rep_tot ELSE 0 END") > RepTopBigramMaxMicro))
          .cast("long").as("rep_keep"))
    // The two stateful stages are independent of each other (dedup's
    // MinHash-component chain vs the benchmark-gram broadcast scan),
    // so their eager internals run on overlapped driver threads
    // ([[parBuild]] — their corpus-sized OUTPUTS stay lazy joins; only
    // the internal pair/label checkpoints materialize here).
    val Seq(dup0, cont0) = parBuild(Seq(
      () => dedupClusters(spark, sfDir),
      () => decontaminate(spark, sfDir)))
    val dup = dup0
      .select(col("doc_id"), col("keep").cast("long").as("dup_keep"))
    val cont = cont0
      .select(col("doc_id"),
        (lit(1L) - col("contaminated")).as("contam_keep"))
    gates
      .join(dup, Seq("doc_id"))
      .join(cont, Seq("doc_id"), "left") // benchmark docs carry no row
      .select(col("doc_id"), col("lang_keep"), col("quality_keep"),
        col("rep_keep"), col("dup_keep"),
        coalesce(col("contam_keep"), lit(0L)).as("contam_keep"))
      .withColumn("keep", col("lang_keep") * col("quality_keep") *
        col("rep_keep") * col("dup_keep") * col("contam_keep"))
  }

  /** CURATION FUNNEL — the per-gate rollup of [[retentionDecision]]:
    * the "where did my documents go" dashboard every pipeline
    * operates. The five independent gate bits are read in the fixed
    * pipeline order (language → quality → repetition → dedup →
    * decontamination) and each dropped document is attributed to the
    * FIRST gate that rejects it (standard funnel semantics — gate N's
    * n_in is gate N−1's n_out, so the rows compose into one
    * monotonically-shrinking funnel instead of five overlapping drop
    * sets). Output 5 rows: (stage_ord, stage, n_in, n_out, n_dropped,
    * drop_ppm) with drop_ppm = dropped·10^6 div n_in (0 when n_in=0);
    * the last row's n_out is exactly [[retentionDecision]]'s kept
    * count. Oracle: the retentionDecision mirror nested verbatim, so
    * the funnel can never drift from the per-doc verdicts.
    *
    * 100 TB shape: the heavy work IS [[retentionDecision]] (one fused
    * scan + its two documented stateful joins); the funnel itself adds
    * one 6-sum aggregate and a 5-row literal stack — nothing
    * corpus-sized shuffles beyond the member's own plan. */
  def curationFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val rd = retentionDecision(spark, sfDir)
    // Pinned: the 1-row aggregate feeds all five stage selects — without
    // it the whole retentionDecision subplan re-executes per stage row.
    val agg = pin(rd.agg(
      count(lit(1)).as("n0"),
      sum(col("lang_keep")).as("n1"),
      sum(col("lang_keep") * col("quality_keep")).as("n2"),
      sum(col("lang_keep") * col("quality_keep") * col("rep_keep"))
        .as("n3"),
      sum(col("lang_keep") * col("quality_keep") * col("rep_keep") *
        col("dup_keep")).as("n4"),
      sum(col("lang_keep") * col("quality_keep") * col("rep_keep") *
        col("dup_keep") * col("contam_keep")).as("n5")))
    val stages = Seq(("language", "n0", "n1"), ("quality", "n1", "n2"),
      ("repetition", "n2", "n3"), ("dedup", "n3", "n4"),
      ("decontamination", "n4", "n5"))
    stages.zipWithIndex.map { case ((stage, in, out), i) =>
      agg.select(lit(i.toLong + 1L).as("stage_ord"),
        lit(stage).as("stage"),
        coalesce(col(in), lit(0L)).as("n_in"),
        coalesce(col(out), lit(0L)).as("n_out"),
        (coalesce(col(in), lit(0L)) - coalesce(col(out), lit(0L)))
          .as("n_dropped"),
        expr(s"CASE WHEN coalesce($in, 0) > 0 THEN " +
          s"((coalesce($in, 0) - coalesce($out, 0)) * 1000000) " +
          s"div coalesce($in, 0) ELSE 0 END").as("drop_ppm"))
    }.reduce(_ unionByName _)
  }

  // =================================================================
  // Rule-based quality filter + data mixing
  // =================================================================

  /** Gopher-style RULE filter (Rae et al. 2021 §A1.1): unlike
    * [[textQuality]]'s continuous score, each document gets a hard
    * keep/drop VERDICT plus the named list of rules it violated — the
    * form curation pipelines audit ("why was this dropped?"). Every rule
    * compares in exact integers (ratios cross-multiplied, never divided):
    *  - too_short      n_tok < 20          (ref: 50; fixture docs are
    *                                        10-99 words)
    *  - too_long       n_tok > 100000
    *  - word_len_low   alpha < 4·n_tok     (mean alpha word length < 4;
    *                                        ref bounds 3-10)
    *  - word_len_high  alpha > 10·n_tok
    *  - symbol_heavy   10·punct > nchars   (symbol ratio > 0.1)
    *  - no_stopwords   n_stop = 0          (not natural language)
    * Single-pass projection over [[textQualityMetrics]] — codegen'd, no
    * shuffle, no UDF; at 100 TB this runs at scan speed. `reasons` is
    * the fixed-order comma join of fired rule names ('' when kept). */
  def gopherFilter(spark: SparkSession, sfDir: String): DataFrame =
    gopherFilterCols(docs(spark, sfDir))

  /** Column form of [[gopherFilter]] over any (doc_id, text) frame — the
    * composition point for the streaming ingest twin. */
  def gopherFilterCols(d: DataFrame): DataFrame =
    textQualityMetrics(d)
      .select(col("doc_id"),
        (col("n_tok") < 20L).as("r_short"),
        (col("n_tok") > 100000L).as("r_long"),
        (col("alpha") < lit(4L) * col("n_tok")).as("r_wlow"),
        (col("alpha") > lit(10L) * col("n_tok")).as("r_whigh"),
        (lit(10L) * col("punct") > col("nchars")).as("r_sym"),
        (col("n_stop") === 0L).as("r_nostop"))
      .select(col("doc_id"),
        (!(col("r_short") || col("r_long") || col("r_wlow") ||
          col("r_whigh") || col("r_sym") || col("r_nostop"))).as("keep"),
        concat_ws(",",
          when(col("r_short"), "too_short"),
          when(col("r_long"), "too_long"),
          when(col("r_wlow"), "word_len_low"),
          when(col("r_whigh"), "word_len_high"),
          when(col("r_sym"), "symbol_heavy"),
          when(col("r_nostop"), "no_stopwords")).as("reasons"))

  // =================================================================
  // PII detection / masking
  // =================================================================

  /** PII patterns, deliberately restricted to character classes and
    * counted repetition — the regex subset on which Java (Spark) and
    * RE2 (DuckDB) match identical spans, so no engine-specific
    * backtracking nuance can split the result. The email local/domain
    * atoms exclude '.' so no backtracking is even reachable. */
  private[graft] val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  private[graft] val IpRe =
    "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
  private[graft] val PhoneRe = "\\+[0-9]{2}-[0-9]{3}-[0-9]{4}"

  /** Deterministic PII fixture injection — the [[decontaminate]]
    * stand-in pattern: the synthetic corpus is letters-only word salad
    * (no '@', no digit anywhere), so the scan/mask operators would be
    * vacuously green on raw `text`. Docs with doc_id ≡ 0 mod 7/11/13
    * get an appended email / IPv4 / phone derived from doc_id by the
    * SAME integer formulas in both engines; the detection and masking
    * logic downstream is the real operator. A production caller feeds
    * its actual text and skips this. */
  private[graft] def withPiiText(d: DataFrame): DataFrame = {
    val id = col("doc_id")
    d.select(col("doc_id"), concat(
      col("text"),
      when(id % 7 === 0, concat(lit(" mail u"), id.cast("string"),
        lit("@ex"), (id % 13).cast("string"), lit(".org")))
        .otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" from 10."),
        (id % 256).cast("string"), lit("."),
        ((id * 7) % 256).cast("string"), lit("."),
        (id % 97).cast("string"))).otherwise(lit("")),
      when(id % 13 === 0, concat(lit(" call +"),
        (lit(10L) + id % 90).cast("string"), lit("-"),
        (lit(100L) + id % 900).cast("string"), lit("-"),
        (lit(1000L) + id % 9000).cast("string"))).otherwise(lit("")))
      .as("text"))
  }

  /** PII SCAN — the privacy-audit pass a training pipeline runs before
    * release (the BigScience/ROOTS and Dolma shape): per document,
    * match counts for email / IPv4 / phone shapes and the combined
    * verdict. One codegen'd projection pass; column form over any
    * (doc_id, text) frame, shared by the streaming twin. Output
    * (doc_id, n_email, n_ip, n_phone, n_pii, has_pii). */
  def piiScanCols(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(IpRe)).cast("long").as("n_ip"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"))
      .withColumn("n_pii", col("n_email") + col("n_ip") + col("n_phone"))
      .withColumn("has_pii", col("n_pii") > 0)

  def piiScan(spark: SparkSession, sfDir: String): DataFrame =
    piiScanCols(withPiiText(docs(spark, sfDir)))

  /** PII REDACTION — the masking step beside [[piiScanCols]]'s audit:
    * every matched span replaced by its typed tag (`<EMAIL>` / `<IP>` /
    * `<PHONE>`), applied in that fixed order (the patterns cannot
    * overlap: '@' belongs to no other pattern, the phone's '+'/'-'
    * to no other). Output (doc_id, clean_text, n_redacted) — the
    * masked corpus plus the count a release report aggregates. */
  def piiRedactCols(d: DataFrame): DataFrame =
    d.select(col("doc_id") +: piiRedacted(col("text")): _*)

  /** [[piiRedactCols]]' two output columns over any text column:
    * `clean_text` and `n_redacted`. */
  private[graft] def piiRedacted(text: Column): Seq[Column] = Seq(
    regexp_replace(
      regexp_replace(
        regexp_replace(text, lit(EmailRe), lit("<EMAIL>")),
        lit(IpRe), lit("<IP>")),
      lit(PhoneRe), lit("<PHONE>")).as("clean_text"),
    (regexp_count(text, lit(EmailRe)) +
      regexp_count(text, lit(IpRe)) +
      regexp_count(text, lit(PhoneRe)))
      .cast("long").as("n_redacted"))

  def piiRedact(spark: SparkSession, sfDir: String): DataFrame =
    piiRedactCols(withPiiText(docs(spark, sfDir)))

  /** Set-INTERSECTION surface beside [[snapshotDiff]]'s EXCEPT: the
    * tokens two crawl snapshots (sources src0, src1) SHARE — the
    * stable-vocabulary view of drift analysis. `intersect` plans as
    * per-side hash dedup + one semi join; each side's source filter
    * pushes to its scan, and only distinct tokens ever shuffle. */
  def commonVocab(spark: SparkSession, sfDir: String): DataFrame = {
    def toks(src: String) = docs(spark, sfDir)
      .where(col("source") === src)
      .select(explode(graft.functions.WordGramsExpr.grams(
        spark, col("text"), 1, distinct = true)).as("token"))
    toks("src0").intersect(toks("src1"))
  }

  /** TF-IDF KEYWORD EXTRACTION, log-table-free: each document's top-3
    * most distinctive tokens by `score = tf · floor_log2(N div df)` —
    * term frequency weighted by integer IDF bits (the engine's exact
    * `length(bin(x))−1` floor-log2, no libm), ties token asc. The
    * doc-tagging / search-indexing primitive next to [[vocabCoverage]]'s
    * corpus-global head.
    *
    * Scale shape: document frequencies come off the SAME bounded
    * (doc, token, cnt) relation every text statistic uses; the doc
    * count is a broadcast scalar; the per-doc top-3 window partitions
    * on doc_id where the partition is one document's distinct tokens —
    * bounded by document length, not corpus size. Output
    * (doc_id, token, tf, idf_bits, score, rk). */
  def keywordsTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val dt = Exec.persist(docTokenCounts(spark, sfDir))
    val dfreq = dt.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val ndocs = docs(spark, sfDir).agg(count(lit(1)).as("n"))
    val scored = dt.join(dfreq, Seq("token"))
      .crossJoin(broadcast(ndocs))
      .select(col("doc_id"), col("token"), col("cnt").as("tf"),
        (length(bin(expr("n div df"))) - 1).cast("long").as("idf_bits"))
      .withColumn("score", col("tf") * col("idf_bits"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("token").asc)
    val out = scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("token"), col("tf"), col("idf_bits"),
        col("score"), col("rk"))
    finish(out, dt)
  }

  /** Keywords kept per source by [[sourceKeywords]]. */
  val SourceKeyK = 5

  /** PER-SOURCE DISTINCTIVE VOCABULARY — the domain-profiling statistic
    * (what IS this crawl domain about / is it boilerplate?) beside
    * [[keywordsTfidf]]'s per-DOC tagging and [[sourceJaccard]]'s
    * whole-vocabulary overlap: for each source, the [[SourceKeyK]]
    * over-represented tokens by a G²-flavored frequency-weighted
    * log-lift `score = cnt · floor_log2(cnt·N div (R·C))` (cnt = the
    * token's count in the source, R = source tokens, C = corpus token
    * count, N = corpus tokens — lift > 1 means the source uses the
    * token more than the corpus does; the cnt weight keeps one-off
    * hapax tokens from outranking the genuinely characteristic
    * vocabulary, exactly why log-likelihood beats raw PMI for corpus
    * profiling, Rayson & Garside 2000). All arithmetic exact:
    * cnt·N and R·C ride in DECIMAL(38)/HUGEINT (int64 overflows once
    * N approaches 10^14 tokens), ONE truncating division, floor-log2
    * via `length(bin(x))−1`; exact lift also reported in micro units.
    * Output (source, token, cnt, lift_micro, score, rk ≤ 5).
    *
    * 100 TB shape: the corpus collapses to the (source, token) count
    * relation in ONE hash aggregate; source totals / token totals
    * re-aggregate that relation (token totals join back on the
    * vocab-keyed equi-key); the rank window partitions per source over
    * its DISTINCT over-represented vocabulary (the zipfFit argument) —
    * nothing after the first aggregate touches raw rows. */
  def sourceKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Exec.persist(docs(spark, sfDir)
      .select(col("source"), explode(words(col("text"))).as("t"))
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("cnt")))
    val rs = st.groupBy(col("source")).agg(sum(col("cnt")).as("r"))
    val cs = st.groupBy(col("t")).agg(sum(col("cnt")).as("c"))
    val n = st.agg(sum(col("cnt")).as("n"))
    val scored = st.join(rs, Seq("source")).join(cs, Seq("t"))
      .crossJoin(broadcast(n))
      .select(col("source"), col("t").as("token"), col("cnt"),
        expr("""CAST((CAST(cnt AS DECIMAL(38,0)) * n * 1000000)
          |     div (CAST(r AS DECIMAL(38,0)) * c) AS BIGINT)"""
          .stripMargin).as("lift_micro"),
        expr("""CAST((CAST(cnt AS DECIMAL(38,0)) * n)
          |     div (CAST(r AS DECIMAL(38,0)) * c) AS BIGINT)"""
          .stripMargin).as("q"))
      .where(col("q") >= 2)
      .select(col("source"), col("token"), col("cnt"), col("lift_micro"),
        (col("cnt") * (length(bin(col("q"))) - 1).cast("long"))
          .as("score"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("score").desc, col("token").asc)
    val out = scored.withColumn("rk", row_number().over(w).cast("long"))
      .where(col("rk") <= SourceKeyK)
    finish(out, st)
  }

  /** Tokens longer than this are excluded from typo-pair analysis (they
    * are never typo canonicals, and the deletion-neighborhood blowup is
    * quadratic in token length). The oracle mirrors the same filter. */
  val MaxTypoTokenLen = 24

  /** EDIT-DISTANCE vocabulary pairing, SymSpell-style (Garbe 2012): all
    * distinct-token pairs within Levenshtein distance ≤ 2, with the
    * exact distance and both corpus frequencies — the typo-normalization
    * / OCR-noise view of dedup (a rare token one edit from a frequent
    * one is a misspelling candidate). Completes the dedup family's
    * string tier: exact ([[dedupExact]]), set ([[dedupNgramSource]]),
    * sketch ([[dedupMinhash]]/[[dedupSimhash]]), substring
    * ([[dedupSubstring]]), and now CHARACTER-EDIT similarity.
    *
    * Candidate generation is the deletion-neighborhood join, never
    * all-pairs: each ≤[[MaxTypoTokenLen]]-char vocabulary token expands
    * to its ≤2-deletion variants (delete any 0, 1, or 2 character
    * positions — O(len²/2) variants, bounded by the length cap, over the
    * DISTINCT vocabulary only, never the corpus). Two tokens within
    * Levenshtein distance d share a variant after deleting ≤ d chars
    * from each (delete the substituted/unmatched characters of an
    * optimal alignment from both sides), so the variant-hash equi-join
    * admits EVERY true pair; the codegen `levenshtein` verify kills the
    * false admits (pairs sharing a variant at distance > 2, plus any
    * astronomically-unlikely hash60 collision — a collision can only add
    * a candidate, and candidates are verified, so hashing the variant
    * string to 60 bits keeps the shuffle narrow at zero risk).
    *
    * Scale shape: vocabulary-sized throughout — one (doc,token)
    * aggregate off the shared [[docTokenCounts]] relation, a bounded
    * variant explode, one equi-join on the 60-bit variant hash (bucket
    * sizes are variant-collision counts, never a cross product), then a
    * distinct + verify on the surviving pairs. Output
    * (tok_a, tok_b, dist, tf_a, tf_b), tok_a < tok_b. */
  def typoPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = docTokenCounts(spark, sfDir)
      .groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
      .where(length(col("token")) <= MaxTypoTokenLen)
    // (i, j) deletion-position pairs, 0 = "no deletion at this slot":
    // (0,0) = the token itself; (0,j) = delete j; (i<j) = delete both.
    val variants = Exec.persist(vocab
      .select(col("token"), col("tf"),
        explode(sequence(lit(0), length(col("token")))).as("i"))
      .select(col("token"), col("tf"), col("i"),
        explode(sequence(col("i"), length(col("token")))).as("j"))
      .where(col("i") === 0 || col("j") > col("i"))
      .select(col("token"), col("tf"), hash60(expr(
        """CASE
          |  WHEN i = 0 AND j = 0 THEN token
          |  WHEN i = 0 THEN concat(substring(token, 1, j - 1),
          |                         substring(token, j + 1))
          |  ELSE concat(substring(token, 1, i - 1),
          |              substring(token, i + 1, j - i - 1),
          |              substring(token, j + 1))
          |END""".stripMargin)).as("vh"))
      .distinct())
    val cand = variants
      .select(col("token").as("tok_a"), col("tf").as("tf_a"), col("vh"))
      .join(variants.select(col("token").as("tok_b"),
        col("tf").as("tf_b"), col("vh")), Seq("vh"))
      .where(col("tok_a") < col("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("tf_a"), col("tf_b"))
      .distinct()
    val out = cand
      .withColumn("dist",
        levenshtein(col("tok_a"), col("tok_b")).cast("long"))
      .where(col("dist") <= 2)
      .select(col("tok_a"), col("tok_b"), col("dist"),
        col("tf_a"), col("tf_b"))
    finish(out, variants)
  }

  /** Sample size of the [[kmvQuantiles]] sketch (registers per source).
    * 16 keeps the fixture's 25-doc sources genuinely SAMPLED (est ≠
    * exact); a production run sizes k to its error target (~1/√k). */
  val KmvQuantK = 16

  /** MERGEABLE QUANTILE SKETCH — KMV uniform-sample quantiles per
    * source: the k documents with the smallest salted doc_id hashes form
    * a deterministic uniform sample, and the estimated p50/p90/p99 of
    * n_chars are exact rank picks over that sample (the engine's
    * element-AT-a-rank discipline — no interpolation). Completes the
    * sketch family: HLL counts distinct ([[graft.pipeline.RelOps.hllDistinctUsers]]),
    * theta intersects ([[graft.pipeline.RelOps.thetaOverlapUsers]]), KMV
    * samples a DISTRIBUTION.
    *
    * Why this beats [[lengthQuantiles]] at scale: the exact histogram
    * rank-pick needs a bounded value domain (fine for n_chars, wrong for
    * unbounded or continuous measures), while the KMV buffer is O(k) per
    * source per map partition, MERGEABLE (partial buffers combine by
    * keep-k-smallest, the same [[graft.functions.TopKAgg]] partial
    * aggregation), and domain-independent — the nightly-rollup shape
    * where per-shard sketches recombine without re-touching raw rows.
    * Hash order is decorrelated from every other sampling salt
    * (`kmvq:`), so the sample is unbiased w.r.t. doc_id structure.
    *
    * One hash aggregate; the only per-source state is the k-row buffer;
    * ties on the (astronomically unlikely) equal hash break by doc_id so
    * both engines pick the identical sample. Output
    * (source, docs, sample_n, p50_est, p90_est, p99_est). */
  def kmvQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    kmvQuantilesFrame(spark, docs(spark, sfDir))

  /** Column plan of [[kmvQuantiles]] over ANY documents frame. Every
    * aggregate here is mergeable and monotone under accumulation (the
    * k-smallest sample only ever improves, the count only grows), so
    * the identical expressions also run as an UPDATE-mode streaming
    * aggregation whose state IS the sketch —
    * [[graft.streaming.StreamingOps.kmvQuantilesStream]]. */
  private[graft] def kmvQuantilesFrame(spark: SparkSession,
      docsDf: DataFrame): DataFrame = {
    val hashed = docsDf
      .select(col("source"), col("n_chars"),
        hash60(concat(lit("kmvq:"), col("doc_id").cast("string")))
          .as("h"),
        col("doc_id"))
    val sket = hashed.groupBy(col("source"))
      .agg(
        graft.functions.TopKAgg.topK(spark,
          struct((-col("h")).as("nh"), (-col("doc_id")).as("nid"),
            col("n_chars").as("nc")), KmvQuantK).as("top"),
        count(lit(1)).as("docs"))
      .select(col("source"), col("docs"),
        expr("array_sort(transform(top, x -> x.nc))").as("vals"))
    sket.select(col("source"), col("docs"),
      size(col("vals")).cast("long").as("sample_n"),
      expr("element_at(vals, cast((size(vals) + 1) div 2 as int))")
        .as("p50_est"),
      expr("element_at(vals, cast((9 * size(vals) + 9) div 10 as int))")
        .as("p90_est"),
      expr("element_at(vals, cast((99 * size(vals) + 99) div 100 as int))")
        .as("p99_est"))
  }

  /** Token budget distributed by [[mixQuotas]] (fixture constant; a
    * production run passes its own). */
  val MixBudget = 100000L

  /** Exact integer square root — `floor(sqrt(x))` with both IEEE
    * rounding edges corrected, so the result is libm-independent and
    * replayable cross-engine. */
  private def isqrt(x: Column): Column = {
    val f = floor(sqrt(x.cast("double"))).cast("long")
    val down = f - (f * f > x).cast("long")
    down + ((down + 1L) * (down + 1L) <= x).cast("long")
  }

  /** Training-mix quotas per source: how many of the token budget
    * ([[MixBudget]]) to draw from each source, with temperature
    * flattening — weight = isqrt(tokens), the α=½ rule that keeps
    * long-tail sources represented (multilingual-sampling practice,
    * e.g. mC4/XLM-R). The fractional shares become EXACT integer
    * quotas by largest-remainder (Hamilton) apportionment:
    * `base = B·w div W`, then the B − Σbase leftover units go to the
    * largest remainders (ties → source asc), so Σquota = B exactly —
    * no float shares that "roughly" sum to the budget.
    *
    * Scale shape: one hash-aggregate over the corpus (tokens per
    * source), then all apportionment arithmetic runs on the BOUNDED
    * per-source frame (thousands of rows at worst) — the window sort
    * never touches raw documents. Output
    * (source, tokens, weight, quota). */
  def mixQuotas(spark: SparkSession, sfDir: String): DataFrame =
    mixQuotasFor(spark, sfDir, MixBudget)

  private def mixQuotasFor(spark: SparkSession, sfDir: String,
      budget: Long): DataFrame = {
    // Pinned ([[pin]]): the one corpus-touching aggregate collapses to a
    // bounded per-source frame HERE — the scalar-total, remainder and
    // rank stages below all derive from it and would otherwise each
    // re-run the corpus scan.
    val perSource = pin(docs(spark, sfDir)
      .select(col("source"), bpeTokens(col("text")).as("bt"))
      .groupBy(col("source"))
      .agg(sum(col("bt")).as("tokens"))
      .withColumn("weight", isqrt(col("tokens"))))
    val tot = perSource.agg(sum(col("weight")).as("wsum"))
    val based = perSource.join(broadcast(tot))
      .withColumn("base", expr(s"$budget * weight div wsum"))
      .withColumn("rem", expr(s"($budget * weight) % wsum"))
    val leftover = based.agg(
      (lit(budget) - sum(col("base"))).as("leftover"))
    based.join(broadcast(leftover))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rem").desc, col("source").asc)))
      .select(col("source"), col("tokens"), col("weight"),
        (col("base") +
          (col("rnk") <= col("leftover")).cast("long")).as("quota"))
  }

  /** Token budget for [[quotaSample]] — deliberately SMALLER than the
    * fixture corpus (~23k bpe tokens at sf0.01) so the prefix cutoff
    * bites. */
  val SampleBudget = 10000L

  /** Draw the [[mixQuotas]] mix: per source, take documents in
    * deterministic hash order until the source's token quota is filled
    * (greedy prefix, no overshoot — the last doc that would cross the
    * quota is left out). Zero-token docs are excluded up front (they
    * cannot consume quota).
    *
    * Scale shape — the naive form sorts every source's documents to take
    * a prefix; instead the hash order is split on its own top 16 bits
    * (`hb = h div 2^44`, so (hb, h, doc_id) order ≡ (h, doc_id) order):
    *  1. histogram pass: token sums per (source, hb) — ≤ 65536 bounded
    *     rows per source, map-side combined;
    *  2. the running bucket cumsum finds each source's cutoff bucket on
    *     that BOUNDED frame (one row per source, broadcast back);
    *  3. docs below the cutoff bucket keep outright with no shuffle;
    *     only the single boundary bucket per source (~corpus/65536)
    *     sorts for the exact doc-level prefix.
    * At 100 TB nothing ever sorts more than one hash bucket per source.
    * Output (doc_id, source, tokens). */
  def quotaSample(spark: SparkSession, sfDir: String): DataFrame = {
    val q = mixQuotasFor(spark, sfDir, SampleBudget)
      .select(col("source"), col("quota"))
    // Persisted: the histogram pass and both union branches below read
    // this projection — without the persist each re-runs the full-text
    // regexp tokenization + md5. Narrow (4 longs + source), text dropped.
    val d = Exec.persist(docs(spark, sfDir)
      .select(col("doc_id"), col("source"),
        bpeTokens(col("text")).as("tokens"),
        hash60(concat(lit("mix|"), col("doc_id").cast("string"))).as("h"))
      .where(col("tokens") > 0)
      .withColumn("hb", expr("h div 17592186044416"))) // 2^44: top 16 bits
    val hist = d.groupBy(col("source"), col("hb"))
      .agg(sum(col("tokens")).as("bsum"))
    val wb = Window.partitionBy(col("source")).orderBy(col("hb"))
    val marked = hist.withColumn("cum", sum(col("bsum")).over(wb))
      .join(broadcast(q), Seq("source"))
    // cum is monotone in hb, so the fully-kept buckets are a prefix;
    // one row per source: first bucket that crosses the quota, plus the
    // tokens consumed before it. Pinned ([[pin]]) so the quota + histogram
    // chain runs ONCE, not once under each union branch below.
    val cuts = pin(marked.groupBy(col("source"), col("quota")).agg(
      min(when(col("cum") > col("quota"), col("hb"))).as("cut_hb"),
      min(when(col("cum") > col("quota"), col("cum") - col("bsum")))
        .as("cut_before")))
    val dd = d.join(broadcast(cuts), Seq("source"))
    val keptFull = dd
      .where(col("cut_hb").isNull || col("hb") < col("cut_hb"))
      .select(col("doc_id"), col("source"), col("tokens"))
    val wDoc = Window.partitionBy(col("source"))
      .orderBy(col("h"), col("doc_id"))
    val keptBoundary = dd.where(col("hb") === col("cut_hb"))
      .withColumn("dcum", sum(col("tokens")).over(wDoc))
      .where(col("cut_before") + col("dcum") <= col("quota"))
      .select(col("doc_id"), col("source"), col("tokens"))
    finish(keptFull.union(keptBoundary), d)
  }

  /** DSIR hashed-feature space: bigrams hashed into this many buckets.
    * Production uses 10k-1M; 1024 keeps the fixture's bucket relation
    * readable while exercising real collisions (~31-word vocabulary). */
  val DsirBuckets = 1024L

  /** DSIR target domain: the corpus slice whose distribution defines
    * "looks like what we want to train on". */
  val DsirTargetLang = "en"

  /** DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more likely
    * its hashed-bigram features are under a TARGET distribution (here the
    * [[DsirTargetLang]] slice) than under the raw-corpus distribution.
    * Exact integer form: each bigram occurrence in bucket b contributes
    * `floorlog2((raw_tot + B) div (raw_cnt(b) + 1))
    *  - floorlog2((tgt_tot + B) div (tgt_cnt(b) + 1))`
    * bits (add-one smoothing on both sides, so never log-of-zero;
    * floor-log2 = `length(bin(x)) - 1`, exact in both engines). Positive
    * weight = the document spends its mass in buckets the target likes —
    * `keep = 1` marks the importance-positive slice DSIR would resample
    * from. Output (doc_id, n_bigrams, weight_bits, keep).
    *
    * 100 TB shape: the feature space is FIXED at [[DsirBuckets]] rows —
    * the bucket statistics relation broadcasts no matter the corpus
    * size; the corpus pays ONE codegen'd gram scan + one (doc, bucket)
    * hash aggregate + one per-doc sum. No window, no all-pairs, and the
    * target/raw passes share the same aggregate (target counts are a
    * filtered re-aggregation of the (doc,bucket) relation, not a second
    * text scan). */
  def dsirWeights(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val dbl = Exec.persist(d
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 2,
          distinct = false)).as("bg"))
      .select(col("doc_id"), col("lang"),
        pmod(hash60(col("bg")), lit(DsirBuckets)).as("b"))
      .groupBy(col("doc_id"), col("lang"), col("b"))
      .agg(count(lit(1)).as("cnt")))
    val stats = dsirStatsFromBuckets(dbl)
    val out = dsirScore(d.select(col("doc_id")),
      dbl.select(col("doc_id"), col("b"), col("cnt")), stats)
    finish(out, dbl)
  }

  /** The trained DSIR model from a (doc_id, lang, b, cnt) bucket frame:
    * (b, raw_cnt, tgt_cnt) — at most [[DsirBuckets]] rows. */
  private[graft] def dsirStatsFromBuckets(dbl: DataFrame): DataFrame =
    dbl.groupBy(col("b")).agg(
      sum(col("cnt")).as("raw_cnt"),
      sum(when(col("lang") === DsirTargetLang, col("cnt"))
        .otherwise(lit(0L))).as("tgt_cnt"))

  /** (doc_id, b, cnt) hashed-bigram bucket counts of any
    * (doc_id, text)-shaped frame — the scoring-side feature extraction,
    * shared by the batch query, the persistent store's probe path
    * ([[graft.sources.DsirStore]]) and its streaming twin. */
  private[graft] def dsirBuckets(spark: SparkSession, d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        explode(graft.functions.WordGramsExpr.grams(spark, col("text"), 2,
          distinct = false)).as("bg"))
      .select(col("doc_id"), pmod(hash60(col("bg")), lit(DsirBuckets)).as("b"))
      .groupBy(col("doc_id"), col("b"))
      .agg(count(lit(1)).as("cnt"))

  /** Score per-doc bucket counts against a (b, raw_cnt, tgt_cnt) stats
    * relation (totals re-derived from the ≤[[DsirBuckets]]-row relation
    * itself — one bounded aggregate). `ids` supplies the full doc list
    * so gram-less docs score (0, 0, keep=1). */
  private[graft] def dsirScore(ids: DataFrame, db: DataFrame,
      stats: DataFrame): DataFrame = {
    val tots = stats.agg(sum(col("raw_cnt")).as("raw_tot"),
      sum(col("tgt_cnt")).as("tgt_tot"))
    // LEFT join + zero-coalesce: a bucket the training corpus never
    // produced (possible when scoring NEW documents against a frozen
    // store) falls back to the add-one smoothing floor instead of
    // silently dropping the gram; over the training corpus itself every
    // bucket is present and this is an inner join.
    val scored = db
      .join(broadcast(stats), Seq("b"), "left")
      .na.fill(0L, Seq("raw_cnt", "tgt_cnt"))
      .crossJoin(broadcast(tots))
      .select(col("doc_id"), col("cnt"),
        ((length(bin(expr(
          s"(raw_tot + $DsirBuckets) div (raw_cnt + 1)"))) - 1) -
         (length(bin(expr(
           s"(tgt_tot + $DsirBuckets) div (tgt_cnt + 1)"))) - 1))
          .cast("long").as("dbits"))
      .groupBy(col("doc_id"))
      .agg(sum(col("cnt") * col("dbits")).as("weight_bits"),
        sum(col("cnt")).as("n_bigrams"))
    ids.join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("weight_bits"), lit(0L)).as("weight_bits"))
      .withColumn("keep",
        (col("weight_bits") >= 0L).cast("long"))
  }

  /** CROSS-SOURCE VOCABULARY JACCARD — the corpus-mixing diagnostic
    * beside [[dupSourceMatrix]]'s document-level one: for every source
    * pair, |V_a ∩ V_b| / |V_a ∪ V_b| over the distinct-token
    * vocabularies, exact ppm — near-1 pairs are the same crawl
    * twice-labeled (mix quotas double-count them), near-0 pairs carry
    * genuinely disjoint registers. Output
    * (src_a, src_b, inter, uni, jaccard_ppm), a < b pairs only.
    *
    * Plan: the corpus collapses to the DISTINCT (source, token)
    * relation first (one hash aggregate); the pair join runs on that
    * vocab-bounded relation keyed by token (each token contributes its
    * own source-pair combinations — bounded by S² per token, S = source
    * count); per-source sizes broadcast into the closing projection. */
  def sourceJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val st = Exec.persist(docs(spark, sfDir)
      .select(col("source"), explode(words(col("text"))).as("token"))
      .distinct())
    val sizes = st.groupBy(col("source")).agg(count(lit(1)).as("vs"))
    val inter = st.as("x").join(st.as("y"), Seq("token"))
      .where(col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("src_a"), col("y.source").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("vs").as("va"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("vs").as("vb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"),
        (col("va") + col("vb") - col("inter")).as("uni"))
      .withColumn("jaccard_ppm",
        expr("(inter * 1000000) div uni"))
    finish(out, st)
  }

  /** k-anonymity threshold: a quasi-identifier group smaller than this
    * is re-identifiable (the Sweeney 2002 k). */
  val KAnonK = 5L

  /** K-ANONYMITY AUDIT (Sweeney 2002, "k-anonymity: a model for
    * protecting privacy") — the release-gate check a training-data drop
    * runs before publishing metadata: treating (lang, source,
    * n_chars div 100) as the quasi-identifier tuple, every equivalence
    * class smaller than [[KAnonK]] is re-identifiable — a row about
    * "the one German document from src3 of ~2.4k chars" identifies its
    * subject even with ids stripped. Output one row per equivalence
    * class: (lang, source, len_bucket, group_size, at_risk), with
    * `sum(at_risk · group_size) / sum(group_size)` = the corpus'
    * re-identifiable fraction. Complements the D63/D64 PII tier:
    * piiScan finds identifiers IN the text, this finds identification
    * BY the metadata.
    *
    * Plan: ONE hash aggregate on the quasi-identifier tuple —
    * map-side combined, output bounded by the attribute-combination
    * domain, not the corpus. */
  def kAnonymity(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .select(col("lang"), col("source"),
        expr("n_chars div 100").as("len_bucket"))
      .groupBy(col("lang"), col("source"), col("len_bucket"))
      .agg(count(lit(1)).as("group_size"))
      .withColumn("at_risk",
        (col("group_size") < KAnonK).cast("long"))

  /** BPE SEGMENTATION — the tokenizer-APPLY step over [[bpeMerges]]'
    * learned table (Sennrich et al. 2016 "Neural Machine Translation of
    * Rare Words with Subword Units", application phase): each distinct
    * corpus token starts as single-character units and the 20 ranked
    * merges apply IN RANK ORDER; because every learned merge is a pair
    * of ORIGINAL characters, one leftmost-greedy non-overlapping
    * `replace` pass per merge is exactly the BPE application (a
    * replacement always produces a 2-char unit, which no later
    * single-char-pair merge can touch). Each unit renders bracketed in
    * its OWN delimiters (`·a··b··c·` → merge "ab" → `·ab··c·`) so
    * consecutive pattern occurrences are disjoint — a shared-boundary
    * rendering (`·a·b·a·b·`) would make non-overlapping replace skip
    * every second merge in runs like `abab`. Tokens containing the
    * delimiter are excluded identically in both engines. Output per
    * distinct token: (token, tf, seg, n_units) — the vocabulary
    * segmentation readout a tokenizer build inspects before freezing.
    *
    * The merge table is a MODEL artifact: 20 rows, fetched driver-side
    * with a loud bound (the [[decontaminate]] capped-broadcast
    * discipline — the oracle replays the same list relationally via a
    * recursive CTE). 100 TB shape: segmentation runs over the DISTINCT
    * vocabulary (vocab-scale, not corpus-scale); a corpus-wide rollout
    * is a broadcast join of this relation back onto (doc, token)
    * counts, never a per-occurrence re-segmentation. */
  def bpeSegment(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = bpeMerges(spark, sfDir)
      .select(col("rnk"), col("pair")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).map(_._2)
    assert(merges.length <= 20,
      s"bpe merge table unexpectedly large (${merges.length}) — the " +
        "learned model must stay broadcast-sized")
    val vocab = docTokenCounts(spark, sfDir)
      .groupBy(col("token")).agg(sum(col("cnt")).as("tf"))
      .where(expr("instr(token, '·') = 0"))
    var seg: Column = regexp_replace(col("token"), "(.)", "·$1·")
    for (p <- merges)
      seg = call_function("replace", seg,
        lit(s"·${p.charAt(0)}··${p.charAt(1)}·"), lit(s"·${p}·"))
    vocab.select(col("token"), col("tf"), seg.as("seg"))
      .withColumn("n_units",
        expr("(length(seg) - length(replace(seg, '·', ''))) div 2")
          .cast("long"))
  }

  /** TextRank power iterations (damping 0.85, matching
    * [[graft.pipeline.EventOps.PagerankIters]]'s discipline). */
  val TextrankIters = 10

  /** TEXTRANK KEYWORDS (Mihalcea & Tarau 2004, "TextRank: Bringing
    * Order into Texts") — the graph-based corpus keyword extractor
    * beside [[keywordsTfidf]]'s frequency-based one: tokens are nodes,
    * adjacent co-occurrence (bigrams, self-pairs dropped) builds a
    * SYMMETRIC weighted edge set, and 10 damped power iterations rank
    * the nodes. Same exact-integer ppm arithmetic as
    * [[graft.pipeline.EventOps.eventPagerank]]: edge weights normalize
    * to truncated prob_ppm once, each iteration is
    * `r' = 150000/n + 85·Σ(r·prob_ppm div 1e6) div 100` — identical
    * truncating division in both engines, so the fixed point is
    * bit-reproducible. Output: top-20 tokens (ties token asc) with
    * rank_ppm and rnk.
    *
    * 100 TB shape: the corpus is touched ONCE (the codegen'd bigram
    * scan + one hash aggregate); everything after lives on the
    * vocab-bounded edge relation (V nodes, ≤ min(E_obs, V²) edges —
    * vocabulary, not corpus, scale), so 10 iterations cost 10 bounded
    * hash joins. The final top-20 is a TakeOrdered over V rows. */
  def textrankKeywords(spark: SparkSession, sfDir: String): DataFrame = {
    val bgp = docs(spark, sfDir)
      .select(explode(graft.functions.WordGramsExpr.grams(spark,
        col("text"), 2, distinct = false)).as("bg"))
      .select(substring_index(col("bg"), " ", 1).as("a"),
        substring_index(col("bg"), " ", -1).as("b"))
      .where(col("a") =!= col("b"))
    val und = bgp.union(bgp.select(col("b").as("a"), col("a").as("b")))
    val ew = und.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("w"))
    val outw = ew.groupBy(col("a")).agg(sum(col("w")).as("wsum"))
    val edges = pin(ew.join(outw, Seq("a"))
      .select(col("a").as("from_t"), col("b").as("to_t"),
        expr("w * 1000000 div wsum").as("prob_ppm")))
    // symmetric graph: the from-side set IS the node set (no dangling)
    val nodes = pin(edges.select(col("from_t").as("node")).distinct())
    val nn = nodes.agg(count(lit(1)).as("n"))
    var ranks = nodes.crossJoin(broadcast(nn))
      .select(col("node"), expr("1000000 div n").as("r"))
    for (_ <- 1 to TextrankIters) {
      val contrib = edges
        .join(ranks.withColumnRenamed("node", "from_t"), Seq("from_t"))
        .select(col("to_t").as("node"),
          expr("r * prob_ppm div 1000000").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("contrib"))
      ranks = pin(nodes.join(contrib, Seq("node"), "left")
        .crossJoin(broadcast(nn))
        .select(col("node"),
          (expr("150000 div n") +
            expr("85 * coalesce(contrib, 0L) div 100")).as("r")))
    }
    ranks.orderBy(col("r").desc, col("node").asc).limit(20)
      .select(col("node").as("token"), col("r").as("rank_ppm"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rank_ppm").desc, col("token").asc))
        .cast("long"))
  }
}
