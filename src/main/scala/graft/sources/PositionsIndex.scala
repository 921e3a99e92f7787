package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT positional index (K10) — the build-once/query-many form
 * of [[DataOps.phraseSearch]]'s positional tier, beside the K9
 * [[PostingsIndex]] frequency tier (what Lucene ships as the
 * positions file next to the postings file): exact phrase queries need
 * token POSITIONS, which the K9 store deliberately does not keep, and
 * a production search tier never re-tokenizes its corpus per phrase —
 * the (doc_id, pos, t) relation is written ONCE and every phrase
 * probes it by position algebra (a posting for phrase part i at
 * position p witnesses a phrase start at p − i; a start with all
 * |phrase| witnesses is a match — one hash aggregate, no per-part
 * self-joins, no text re-scan).
 *
 * LIFECYCLE (the K9 discipline verbatim — a position depends only on
 * its own document): [[appendBatch]] appends the landed batch's
 * positions on disjoint doc_ids (purely additive — any batch
 * decomposition yields the identical store, `phraseIncremental` shares
 * phraseSearch's oracle verbatim), [[removeBatch]] anti-joins victims
 * out (`phraseRemoved` ≡ the survivors-filtered mirror), [[compact]]
 * folds the per-append file pileup contents-identically.
 *
 * 100 TB shape: `positions` is the one corpus-sized relation (3 ints +
 * a token per row — bucket it by `t` at cluster scale so a phrase
 * probe prunes to its tokens' buckets, the posting-list-lookup knob);
 * the parts frame of any phrase is |phrase| rows and BROADCASTS, so
 * the probe cost is the phrase tokens' posting-list sizes, never the
 * corpus. Appends cost one tokenize pass over the BATCH; removals one
 * scan-and-filter.
 */
object PositionsIndex extends Store {

  def name = "positions"
  def relations = Seq("positions")
  def input = Store.Text

  /** Build (overwrite) the store from a (doc_id, text) corpus frame. */
  def buildFrom(spark: SparkSession, corpus: DataFrame,
      indexDir: String): Unit = {
    StoreDirs.replaceParquet(DataOps.positionsOf(spark, corpus),
      s"$indexDir/positions")
    ()
  }

  /** INCREMENTAL MAINTENANCE — append a landed (doc_id, text) batch
    * (doc_ids disjoint from the store's): one tokenize pass over the
    * batch, rows append on disjoint keys. */
  def appendBatch(spark: SparkSession, batch: DataFrame,
      indexDir: String, tag: String): Unit = {
    StoreDirs.appendOnce(DataOps.positionsOf(spark, batch),
      s"$indexDir/positions", tag)
    ()
  }

  /** DELETION — anti-join a doc_id set out of the positional relation;
    * exact inverse of [[appendBatch]] (PositionsIndexSpec pins
    * remove(append(S,B),B) ≡ S). */
  def removeBatch(spark: SparkSession, docIds: DataFrame,
      indexDir: String): Unit = {
    val kept = spark.read.parquet(s"$indexDir/positions")
      .join(broadcast(docIds.select(col("doc_id"))), Seq("doc_id"),
        "left_anti")
    StoreDirs.replaceParquet(kept, s"$indexDir/positions")
    ()
  }

  /** COMPACTION — `numFiles`-file re-layout sorted by (t, doc_id, pos)
    * — the probe key first; contents bit-identical. */
  override def compact(spark: SparkSession, indexDir: String,
      numFiles: Int): Unit = {
    val p = spark.read.parquet(s"$indexDir/positions")
      .repartition(numFiles)
      .sortWithinPartitions(col("t"), col("doc_id"), col("pos"))
    StoreDirs.replaceParquet(p, s"$indexDir/positions")
    ()
  }

  /** Phrase probe against the store: `parts` must carry (g, i, t)
    * ([[DataOps.phraseParts]] shape — any ad-hoc phrase explodes to
    * it); position algebra only, NO corpus tokenization. */
  def phraseAgainst(spark: SparkSession, parts: DataFrame,
      indexDir: String): DataFrame =
    DataOps.phraseProbeStage(
      spark.read.parquet(s"$indexDir/positions"), parts)

  /** Proximity probe against the store: `terms` must carry (t, role)
    * ([[DataOps.proximityTerms]] shape — any ad-hoc term pair fits);
    * [[DataOps.proximityStage]] VERBATIM over the stored relation, so
    * store and self-contained operator are plan-identical. The SAME
    * positions file serves phrase AND proximity queries — the point of
    * storing positions rather than phrase results. */
  def proximityAgainst(spark: SparkSession, terms: DataFrame,
      indexDir: String): DataFrame =
    DataOps.proximityStage(
      spark.read.parquet(s"$indexDir/positions"), terms)

  /** MULTI-PAIR proximity serving against the store: `terms` carries a
    * whole (q_id, t, role) query batch, answered in ONE pass over the
    * stored relation ([[DataOps.proximityServeStage]] VERBATIM — the
    * bm25Serve discipline at the positional tier). */
  def proximityServeAgainst(spark: SparkSession, terms: DataFrame,
      indexDir: String): DataFrame =
    DataOps.proximityServeStage(
      spark.read.parquet(s"$indexDir/positions"), terms)

  private def standardParts(spark: SparkSession,
      sfDir: String): DataFrame =
    DataOps.phraseParts(spark,
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")))

  /** Registry form — build the store once, answer the standard modal-
    * trigram phrase purely from the read-back relation. Result ≡
    * [[DataOps.phraseSearch]] (same oracle): nothing was lost between
    * the tokenized corpus and the serving store. */
  def phraseIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.phraseSearch(spark, sfDir))(
      phraseAgainst(spark, standardParts(spark, sfDir),
        built(spark, sfDir)))

  /** Registry form of the proximity probe — the SAME [[built]] store
    * as [[phraseIndexed]] answers the standard windowed-co-occurrence
    * query purely from the read-back relation. Result ≡
    * [[DataOps.proximitySearch]] (same oracle): one positional store,
    * two query families. */
  def proximityIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.proximitySearch(spark, sfDir))(
      proximityAgainst(spark,
        DataOps.proximityTerms(spark, input.fromSfDir(spark, sfDir)),
        built(spark, sfDir)))

  /** Registry form of the INCREMENTAL path: build from the even half,
    * [[appendBatch]] the odd half, probe — positions are per-doc, so
    * the merged store IS the one-shot build (phraseSearch's oracle
    * verbatim). */
  def phraseIncremental(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.phraseSearch(spark, sfDir))(
      phraseAgainst(spark, standardParts(spark, sfDir),
        appended(spark, sfDir)))

  /** STORE TELEMETRY — the K4/K9 statsOf discipline on the positional
    * store: one row (n_docs, n_terms, n_positions, sum_pos), read
    * purely off the positions relation. `sum_pos` is the value
    * checksum — a store whose positions shifted by one token (a
    * tokenizer drift, a partial rewrite) fails the audit while all
    * cardinalities still match. */
  def statsOf(spark: SparkSession, indexDir: String): DataFrame =
    positionsStatsOf(spark.read.parquet(s"$indexDir/positions"))

  private def positionsStatsOf(p: DataFrame): DataFrame =
    p.agg(count_distinct(col("doc_id")).as("n_docs"),
      count_distinct(col("t")).as("n_terms"),
      count(lit(1)).as("n_positions"),
      sum(col("pos")).cast("long").as("sum_pos"))

  /** Registry form of the telemetry — over the APPEND-MAINTAINED store
    * (shares [[phraseIncremental]]'s [[appended]]
    * store, ≡ a one-shot build since positions are per-document): the
    * oracle recomputes the numbers from the documents table, auditing
    * that incremental maintenance left the positional relation equal
    * to corpus truth. */
  def positionsStats(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(positionsStatsOf(
      DataOps.positionsOf(spark, input.fromSfDir(spark, sfDir))))(
      statsOf(spark, appended(spark, sfDir)))

  /** CLUSTER LAYOUT — `positions/` persisted as a bucketed-by-`t`,
    * per-bucket-sorted table ([[graft.ops.ScaleOps.writeBucketed]] —
    * the 100 TB knob this store's own scaladoc names, demonstrated in
    * a plan rather than prose, the K9 [[PostingsIndex
    * .writeBucketedPostings]] discipline at the positional tier). The
    * pre-shuffle is paid ONCE at write time: a literal-token phrase
    * probe PRUNES the scan to its tokens' buckets
    * (`SelectedBucketsCount`) — the posting-list-lookup cost a 100 TB
    * phrase tier actually pays, instead of a corpus scan per phrase.
    * Contents are the store's positions verbatim; PositionsIndexSpec
    * pins probe-result equality and the pruned scan. */
  def writeBucketedPositions(spark: SparkSession, indexDir: String,
      table: String, buckets: Int = 32,
      path: Option[String] = None): Unit =
    graft.ops.ScaleOps.writeBucketed(
      spark.read.parquet(s"$indexDir/positions"), table, buckets,
      "t", path)

  /** Phrase probe over the BUCKETED layout with LITERAL phrase tokens
    * — the serving path where the phrase is known ahead of the plan
    * (a user query), so the token predicate is a literal `IN` and the
    * bucketed scan prunes to the tokens' buckets before reading a row.
    * Matching is [[DataOps.phraseProbeStage]] verbatim; results ≡
    * [[phraseAgainst]] on the directory store for the same phrase. */
  def phraseAgainstBucketed(spark: SparkSession, tokens: Seq[String],
      parts: DataFrame, table: String): DataFrame =
    DataOps.phraseProbeStage(
      spark.table(table).where(col("t").isin(tokens: _*)), parts)

  /** Hard cap on a serving batch's DISTINCT TOKEN set — the
    * [[graft.sources.PostingsIndex.MaxServeTerms]] discipline at the
    * positional tier (phrases are a few tokens each; 1024 distinct
    * tokens ≈ hundreds of phrase queries per micro-batch). */
  val MaxServeTokens = 1024

  /** Phrase serving over the BUCKETED layout for an AD-HOC parts
    * batch: the batch's distinct tokens are collected (bounded, loud
    * assert) and pushed into the bucketed scan as literals, so each
    * serving batch prunes to ITS phrases' buckets —
    * [[phraseAgainstBucketed]] with the literal set derived from the
    * batch, the shape the streaming twin
    * ([[graft.streaming.StreamingOps.phraseServeBucketedStream]])
    * runs per micro-batch. Results ≡ [[phraseAgainst]] on the
    * directory store for the same parts. */
  def phraseServeAgainstBucketed(spark: SparkSession, parts: DataFrame,
      table: String): DataFrame = {
    val tokens = parts.select(col("t")).distinct()
      .limit(MaxServeTokens + 1).collect().map(_.getString(0)).toSeq
    require(tokens.length <= MaxServeTokens,
      s"serving batch carries more than $MaxServeTokens distinct " +
      "tokens — that is a corpus, not a phrase-query batch")
    phraseAgainstBucketed(spark, tokens, parts, table)
  }

  /** Registry form of the BUCKETED layout — the oracle-checked proof
    * that the 100 TB positional layout serves the standard phrase
    * byte-identically: [[phraseIndexed]]'s [[built]] store re-laid out
    * bucketed-by-`t` ONCE, then probed with the standard modal
    * trigram's parts AS LITERALS (the serving shape — the 3-row
    * collect is bounded and loudly asserted, the [[PostingsIndex
    * .bm25Bucketed]] discipline). Result ≡ [[DataOps.phraseSearch]]
    * (same oracle). */
  def phraseBucketed(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the directory probe's plan is the matching shape; the
    // bucketed scan differs only in layout.
    Exec.planOnlyOr(DataOps.phraseSearch(spark, sfDir)) {
      val dir = built(spark, sfDir)
      val table = "graft_positions_bkt_" +
        java.lang.Integer.toHexString(dir.hashCode).takeRight(8)
      StoreDirs.once(table) {
        writeBucketedPositions(spark, dir, table,
          path = Some(StoreDirs.tmpStoreDir("graft-pos-bktdata", sfDir)))
      }
      val partRows = standardParts(spark, sfDir)
        .select(col("g"), col("i"), col("t")).collect()
      require(partRows.length <= 3,
        s"standard phrase must be <= 3 parts, got ${partRows.length}")
      import spark.implicits._
      val parts = partRows.toSeq
        .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        .toDF("g", "i", "t")
      phraseAgainstBucketed(spark,
        partRows.map(_.getString(2)).distinct.toSeq, parts, table)
    }

  /** Registry form of the DELETION path: build over the full corpus,
    * [[removeBatch]] the odd half, probe — the phrase head stays the
    * full corpus's modal trigram (the query is a stand-in from
    * outside the store), but no victim document may report a hit
    * (oracle = the phraseSearch mirror with its positional side
    * filtered to the survivors). */
  def phraseRemoved(spark: SparkSession, sfDir: String): DataFrame = {
    val d = input.fromSfDir(spark, sfDir)
    Exec.planOnlyOr(DataOps.phraseProbeStage(
        DataOps.positionsOf(spark, d.where(col("doc_id") % 2 === 0)),
        DataOps.phraseParts(spark, d)))(
      phraseAgainst(spark, DataOps.phraseParts(spark, d),
        removed(spark, sfDir)))
  }
}
