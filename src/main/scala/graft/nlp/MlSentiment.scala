package graft.nlp

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.{HashingTF, Tokenizer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.nlp.NlpFunctions.tokens
import graft.pipeline.ParityQueries

/**
 * Model-backed sentiment tier (SURVEY.md §2.5 X1, BASELINE.json's
 * "Structured Streaming + MLlib sentiment" approach line): a classifier
 * SELF-TRAINED on the deterministic lexicon scorer's polarity labels,
 * then applied back to the same W1 message blocks. The lexicon
 * expression remains the primary scorer; this is the trained-model tier
 * behind the same surface (text in, polarity out).
 *
 * Two trainers:
 *
 *  - [[x1SentimentMl]] (registry, ORACLE-CHECKED): a closed-form
 *    multinomial linear classifier in the naive-Bayes/Rocchio family —
 *    per-token Laplace-smoothed class rates in exact parts-per-billion
 *    integers, weight = rate(pos) − rate(neg), predict by the sign of
 *    the summed weights. Training is pure aggregation (no iteration, no
 *    floats, no order sensitivity), so DuckDB replays every prediction
 *    bit-for-bit — the fix for the round-6 "permanently unchecked
 *    component" flag (an iterative float optimizer's cross-partition
 *    reduction order is nondeterministic by construction).
 *  - [[x1SentimentLbfgs]] (non-registry, spec-tested): the MLlib
 *    Tokenizer → HashingTF → LogisticRegression pipeline — the
 *    float-gradient tier. LBFGS's treeAggregate combine order is
 *    partition-dependent, so its per-row predictions are checked
 *    rows-only + train-accuracy floor, never hashed.
 *
 * Scale ([[x1SentimentMl]]): two hash aggregates (per-token class
 * counts; per-block score) + one equi-join of the token stream with the
 * broadcastable weight relation — map-side combinable everywhere, no
 * window over raw rows, no driver-side data. Weights are bounded by the
 * 1e9 rate scale regardless of corpus size, so a block score fits int64
 * at any scale (≤ n_tok · 2e9); the one unbounded intermediate,
 * count · 1e9, is computed in DECIMAL(38,0)/HUGEINT (exact to ~1e28
 * occurrences of a single token — beyond any corpus).
 */
object MlSentiment {

  /** Observed train accuracy floors (degeneracy guards, asserted in
    * DataOpsSpec — NOT at query-construction time, so plan-only paths
    * stay lazy): the majority class sits at ≈ 0.57 on the fixture. */
  val MinTrainAcc = 0.8

  /** W1 blocks with the lexicon polarity label (the self-training
    * input shared by both tiers). */
  private def labeledBlocks(spark: SparkSession, sfDir: String): DataFrame =
    ParityQueries.sentimented(spark, sfDir)
      .select(col("wsec"), col("channel"), col("username"), col("text"),
        (col("score_micro") > 0).cast("long").as("label"))

  /** (wsec, channel, username, pred_pos): deterministic trained-model
    * polarity per W1 block — closed-form multinomial linear classifier,
    * exactly replayable by the DuckDB oracle.
    *
    * Token occurrences use the lexicon scorer's tokenization
    * ([[NlpFunctions.tokens]]: lowercased a-z runs). Per token t with
    * class occurrence counts c_pos/c_neg, class totals N_pos/N_neg and
    * vocabulary size V:
    *
    *   w(t) = (c_pos+1)·1e9 div (N_pos+V) − (c_neg+1)·1e9 div (N_neg+V)
    *
    * (truncating integer division — identical in Spark `div` and DuckDB
    * `//` on non-negative operands); block score = Σ w(t) over the
    * block's token OCCURRENCES; pred_pos = 1 iff score > 0. A block
    * with no alphabetic tokens scores 0. */
  def x1SentimentMl(spark: SparkSession, sfDir: String): DataFrame = {
    // Persisted: `blocks` feeds the token relation AND the final
    // no-token-block left join — without the marker the W1 concat +
    // lexicon-scoring subplan ([[ParityQueries.sentimented]]) executes
    // a second time just to list the block keys.
    val blocks = Exec.persist(labeledBlocks(spark, sfDir))
    // Persisted: the token relation feeds the count aggregate and the
    // scoring join.
    val toks = Exec.persist(blocks
      .select(col("wsec"), col("channel"), col("username"), col("label"),
        explode(tokens(col("text"))).as("t")))
    val cls = toks.groupBy(col("t"))
      .agg(sum(col("label")).as("cpos"),
        sum(lit(1L) - col("label")).as("cneg"))
    val tot = cls.agg(sum(col("cpos")).as("npos"), sum(col("cneg")).as("nneg"),
      count(lit(1)).as("v"))
    val wts = cls.crossJoin(broadcast(tot))
      .select(col("t"),
        (expr("(CAST(cpos + 1 AS DECIMAL(38,0)) * 1000000000) div (npos + v)")
          - expr("(CAST(cneg + 1 AS DECIMAL(38,0)) * 1000000000) div (nneg + v)"))
          .as("w"))
    val keys = Seq("wsec", "channel", "username")
    val score = toks.join(wts, Seq("t"))
      .groupBy(keys.map(col): _*)
      .agg(sum(col("w")).as("score"))
    // Materialize the small result and release the token relation —
    // the shared registry cache-hygiene discipline.
    Exec.finish(
      blocks.select(keys.map(col): _*)
        .join(score, keys, "left")
        .select(col("wsec"), col("channel"), col("username"),
          when(coalesce(col("score"), lit(0L)) > 0, 1L).otherwise(0L)
            .as("pred_pos")),
      toks, blocks)
  }

  /** MLlib float tier: Tokenizer → HashingTF(1024) →
    * LogisticRegression(25 iter, L2). NOT oracle-replayable (LBFGS
    * treeAggregate float combine order is partition-dependent), so it is
    * a library API + spec surface, not a registry entry. Correctness
    * anchors: training input canonically repartitioned + sorted (pins
    * partition contents and in-partition order; the remaining jitter is
    * only the cross-partition float combine), and the fit ASSERTS train
    * accuracy vs the lexicon labels ≥ [[MinTrainAcc]] so a silently
    * degenerate model (the ~0.57 constant-class accuracy) fails loudly.
    * (LogisticRegression exposes no seed param — its init is
    * deterministic zeros; nothing random to pin.) */
  def x1SentimentLbfgs(spark: SparkSession, sfDir: String): DataFrame = {
    val blocks = Exec.persist(labeledBlocks(spark, sfDir)
      .select(col("wsec"), col("channel"), col("username"), col("text"),
        col("label").cast("double").as("label"))
      .repartition(8, col("channel"), col("username"), col("wsec"))
      .sortWithinPartitions("channel", "username", "wsec"))
    val pipeline = new Pipeline().setStages(Array(
      new Tokenizer().setInputCol("text").setOutputCol("words"),
      new HashingTF().setInputCol("words").setOutputCol("features")
        .setNumFeatures(1024),
      new LogisticRegression().setMaxIter(25).setRegParam(0.01)))
    val model = pipeline.fit(blocks)
    val scored = model.transform(blocks)
    val acc = scored
      .select(avg((col("prediction") === col("label")).cast("double")))
      .head().getDouble(0)
    require(acc >= MinTrainAcc,
      f"x1SentimentLbfgs degenerate model: train accuracy $acc%.3f < $MinTrainAcc")
    // Materialize the small result and release the cached training set —
    // callers get a lineage-free frame, the session keeps no cached plans.
    val out = scored
      .select(col("wsec"), col("channel"), col("username"),
        col("prediction").cast("long").as("pred_pos"))
      .localCheckpoint(true)
    blocks.unpersist()
    out
  }
}
