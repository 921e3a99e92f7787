package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT DSIR importance-weight model — the train-offline /
 * score-online form of [[DataOps.dsirWeights]] (the K6
 * [[LangProfileStore]] pattern applied to data selection): a production
 * ingest path trains the target/raw hashed-bigram bucket statistics
 * ONCE from a reference corpus and scores every later batch (or
 * micro-batch — [[graft.streaming.StreamingOps.dsirScoreStream]])
 * against the frozen relation, exactly how DSIR (Xie et al. 2023) is
 * deployed: the importance model is fitted on the target/raw snapshot,
 * then applied to the full raw stream.
 *
 * Determinism: a document's weight depends only on its own hashed
 * bigrams and the stored statistics, so store-scored results are
 * IDENTICAL to the self-trained batch query whenever the store was
 * built from the same corpus — pinned in DataOpsSpec (one build, two
 * disjoint scoring batches) and StreamingSpec (two micro-batches ≡
 * batch).
 *
 * Layout (`storeDir/stats`): (b, raw_cnt, tgt_cnt) plain parquet —
 * at most [[DataOps.DsirBuckets]] rows of three longs, KB-sized at ANY
 * corpus scale (the feature space is fixed), broadcast on every score.
 */
object DsirStore extends Store {

  def name = "dsir"
  def relations = Seq("stats")
  def input = Store.Labeled

  /** Train (overwrite) the store from a (doc_id, lang, text) labeled
    * corpus frame. */
  def buildFrom(spark: SparkSession, dbl: DataFrame,
      storeDir: String): Unit = {
    StoreDirs.replaceParquet(batchStats(spark, dbl),
      s"$storeDir/stats")
    ()
  }

  /** The (b, raw_cnt, tgt_cnt) bucket statistics of one labeled
    * frame. */
  private def batchStats(spark: SparkSession, dbl: DataFrame): DataFrame =
    DataOps.dsirStatsFromBuckets(
      DataOps.dsirBuckets(spark, dbl.select("doc_id", "text"))
        .join(dbl.select(col("doc_id"), col("lang")), Seq("doc_id")))

  /** INCREMENTAL MAINTENANCE — absorb a newly-landed
    * (doc_id, lang, text) batch into the trained importance model (the
    * K9 [[PostingsIndex.appendBatch]] discipline): the per-bucket
    * raw/target counts are pure sums over a FIXED feature space
    * (≤ [[DataOps.DsirBuckets]] rows), so the merge is one
    * KB-sized aggregate — exact, associative, commutative: any batch
    * decomposition yields the bit-identical store (pinned in
    * DataOpsSpec; hash-audited by the `dsirIncremental` registry entry
    * against [[DataOps.dsirWeights]]'s own full-corpus oracle). */
  def appendBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String, tag: String): Unit = {
    StoreDirs.mergeOnce(spark, s"$storeDir/stats", tag) {
      spark.read.parquet(s"$storeDir/stats")
        .unionByName(batchStats(spark, batch))
        .groupBy(col("b"))
        .agg(org.apache.spark.sql.functions.sum(col("raw_cnt"))
            .as("raw_cnt"),
          org.apache.spark.sql.functions.sum(col("tgt_cnt"))
            .as("tgt_cnt"))
    }
    ()
  }

  /** DELETION — subtract a previously-absorbed (doc_id, lang, text)
    * batch from the bucket statistics (the
    * [[LangProfileStore.removeBatch]] contract: the store keeps no
    * per-document relation, so the caller supplies the same labeled
    * text it trained with): the batch's stats re-derive and subtract;
    * fully-zeroed buckets drop (a legitimate raw_cnt is always ≥ 1).
    * Exact inverse of [[appendBatch]] — remove(append(S,B),B) ≡ S
    * bit-for-bit (DataOpsSpec), hash-audited by `dsirRemoved` against
    * the evens-trained scoring mirror. */
  def removeBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String): Unit = {
    val merged = spark.read.parquet(s"$storeDir/stats")
      .unionByName(batchStats(spark, batch)
        .select(col("b"), (-col("raw_cnt")).as("raw_cnt"),
          (-col("tgt_cnt")).as("tgt_cnt")))
      .groupBy(col("b"))
      .agg(org.apache.spark.sql.functions.sum(col("raw_cnt")).as("raw_cnt"),
        org.apache.spark.sql.functions.sum(col("tgt_cnt")).as("tgt_cnt"))
      .where(col("raw_cnt") > 0)
    StoreDirs.replaceParquet(merged, s"$storeDir/stats")
    ()
  }

  /** Score a (doc_id, text)-shaped frame against the stored statistics
    * — per-doc work only; the store side is READ, never recomputed.
    * Output = [[DataOps.dsirWeights]]'s shape. */
  def scoreAgainst(spark: SparkSession, d: DataFrame,
      storeDir: String): DataFrame =
    DataOps.dsirScore(d.select(col("doc_id")),
      DataOps.dsirBuckets(spark, d),
      spark.read.parquet(s"$storeDir/stats"))

  /** Registry form — the full round-trip: build (write) the store for
    * the sf directory, then score the same corpus purely from the
    * read-back relation. Result ≡ [[DataOps.dsirWeights]] (same
    * oracle): nothing may be lost between the trained model and the
    * serving store. */
  def dsirStored(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(freshScore(spark, sfDir, input.fromSfDir(spark, sfDir)))(
      scoreAgainst(spark, Store.Text.fromSfDir(spark, sfDir),
        built(spark, sfDir)))

  /** The registry entries' plan-only stand-in: the full corpus scored
    * against statistics trained in-plan on the labeled `train` rows,
    * plan-identical to the store read by design. */
  private def freshScore(spark: SparkSession, sfDir: String,
      train: DataFrame): DataFrame = {
    val d = Store.Text.fromSfDir(spark, sfDir)
    val withB = DataOps.dsirBuckets(spark,
        train.select(col("doc_id"), col("text")))
      .join(train.select(col("doc_id"), col("lang")), Seq("doc_id"))
    DataOps.dsirScore(d.select(col("doc_id")),
      DataOps.dsirBuckets(spark, d),
      DataOps.dsirStatsFromBuckets(withB))
  }

  /** Registry form of the INCREMENTAL path: train from the even-doc_id
    * half, [[appendBatch]] the odd half, score the full corpus from
    * the merged store. Bucket sums make the merged store ≡ a one-shot
    * full-corpus build, so the result shares [[DataOps.dsirWeights]]'s
    * oracle verbatim. */
  def dsirIncremental(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the merged store is the full self-trained model by
    // construction — audit that plan.
    Exec.planOnlyOr(dsirStored(spark, sfDir))(
      scoreAgainst(spark, Store.Text.fromSfDir(spark, sfDir),
        appended(spark, sfDir)))

  /** STORE TELEMETRY — the K4/K9 statsOf discipline on the importance
    * model: one row (n_buckets, sum_raw, sum_tgt), read purely off the
    * bucket-statistics relation. The two sums are value checksums over
    * the additive state — a single bucket count drifted by one fails
    * the audit while the bucket cardinality still matches. */
  def statsOf(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    spark.read.parquet(s"$storeDir/stats")
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("raw_cnt")).cast("long").as("sum_raw"),
        sum(col("tgt_cnt")).cast("long").as("sum_tgt"))
  }

  /** Registry form of the telemetry — over the APPEND-MAINTAINED store
    * (shares [[dsirIncremental]]'s [[appended]]
    * store, ≡ a one-shot full-corpus build by bucket-sum merging): the
    * oracle recomputes the numbers from the documents table, auditing
    * that incremental maintenance left the statistics equal to corpus
    * truth. */
  def dsirStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, lit, sum}
    // Plan-only: the same aggregates over the fresh statistics
    // (plan-identical to the store read by design).
    Exec.planOnlyOr(batchStats(spark, input.fromSfDir(spark, sfDir))
        .agg(count(lit(1)).as("n_buckets"),
          sum(col("raw_cnt")).cast("long").as("sum_raw"),
          sum(col("tgt_cnt")).cast("long").as("sum_tgt")))(
      statsOf(spark, appended(spark, sfDir)))
  }

  /** Registry form of the DELETION path: train on the FULL corpus,
    * [[removeBatch]] the odd half (the store becomes the evens-trained
    * model), then score the FULL corpus against it — forgotten
    * documents still score (DSIR weighs any text against the frozen
    * model; unseen buckets hit the smoothing floor), but their counts
    * no longer shape the statistics. Oracle: the dsirWeights mirror
    * with its training CTEs filtered to even ids. */
  def dsirRemoved(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(freshScore(spark, sfDir,
        input.fromSfDir(spark, sfDir).where(col("doc_id") % 2 === 0)))(
      scoreAgainst(spark, Store.Text.fromSfDir(spark, sfDir),
        removed(spark, sfDir)))
}
