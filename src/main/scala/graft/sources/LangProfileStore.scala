package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT Cavnar-Trenkle language-profile store — the
 * train-offline/score-online form of [[DataOps.langIdNgram]] (the K4
 * [[MinhashIndex]] pattern applied to a trained classifier): a
 * production ingest path never re-trains its language profiles per
 * batch; the L·[[DataOps.CtProfK]] profile relation is written ONCE
 * from a labeled corpus and every later batch (or micro-batch —
 * [[graft.streaming.StreamingOps.classifyAgainstStream]]) classifies
 * against the read-back store.
 *
 * Determinism: a document's prediction depends only on its own trigram
 * profile and the stored relation, so store-scored results are
 * IDENTICAL to the self-trained batch query whenever the store was
 * built from the same corpus — pinned in StreamingSpec (stream over
 * two micro-batches ≡ [[DataOps.langIdNgram]]).
 *
 * Layout (`storeDir/`): `profiles/` (plang, h, lrank) — the ranked
 * serving relation every probe broadcasts — and `counts/`
 * (lang, h, c), the ADDITIVE training state behind it: per-language
 * trigram count sums, the sufficient statistic that makes
 * [[appendBatch]] exact (counts merge by one more sum; the ranked
 * profiles are a deterministic function of the merged counts, so any
 * batch decomposition yields the identical store — pinned in
 * LangProfileStoreSpec, hash-audited by `langIdIncremental`). Both
 * relations are vocabulary-bounded KB-sized (L·K rows for profiles,
 * L·|trigrams| for counts), broadcast on every probe; at cluster
 * scale the store is trivially replicated.
 */
object LangProfileStore extends Store {

  def name = "lang"
  def relations = Seq("counts", "profiles")
  def input = Store.Labeled

  /** Train (overwrite) the profile store from a (doc_id, lang, text)
    * labeled corpus frame. */
  def buildFrom(spark: SparkSession, corpus: DataFrame,
      storeDir: String): Unit = {
    val gc = Exec.persist(DataOps.ctGramCounts(spark, corpus))
    val lc = DataOps.ctLangCounts(gc).localCheckpoint(true)
    StoreDirs.replaceParquet(lc, s"$storeDir/counts")
    StoreDirs.replaceParquet(DataOps.ctProfilesOfLangCounts(lc),
      s"$storeDir/profiles")
    gc.unpersist()
    ()
  }

  /** INCREMENTAL MAINTENANCE — absorb a newly-labeled
    * (doc_id, lang, text) batch into the trained store (the K9
    * [[PostingsIndex.appendBatch]] discipline on a classifier): the
    * per-(lang, trigram) counts are pure sums, so the merge is exact,
    * associative and commutative — any batch decomposition yields the
    * bit-identical store — and the ranked profiles re-derive from the
    * merged counts (a vocabulary-bounded window, never a corpus pass).
    * Pinned in LangProfileStoreSpec; hash-audited by the
    * `langIdIncremental` registry entry against [[DataOps.langIdNgram]]'s
    * own full-corpus oracle. */
  def appendBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String, tag: String): Unit = {
    val countsDir = s"$storeDir/counts"
    // On a replay where counts already absorbed this batch (witness in
    // the relation), profiles must derive from the POST-MERGE relation
    // on disk — re-merging would double-count the batch.
    val merged = (if (StoreDirs.absorbed(spark, countsDir, tag))
        spark.read.parquet(countsDir)
      else spark.read.parquet(countsDir)
        .unionByName(DataOps.ctLangCounts(
          DataOps.ctGramCounts(spark, batch)))
        .groupBy(col("lang"), col("h"))
        .agg(org.apache.spark.sql.functions.sum(col("c")).as("c")))
      .localCheckpoint(true)
    StoreDirs.mergeOnce(spark, countsDir, tag)(merged)
    StoreDirs.mergeOnce(spark, s"$storeDir/profiles", tag)(
      DataOps.ctProfilesOfLangCounts(merged))
    ()
  }

  /** DELETION — subtract a previously-absorbed (doc_id, lang, text)
    * batch from the trained store (the K9
    * [[PostingsIndex.removeBatch]] discipline): the batch's
    * per-(lang, trigram) counts re-derive from the provided frame —
    * the store keeps no per-document relation, so the CALLER supplies
    * the same labeled text it trained with (the contract every
    * text-free store cannot offer; K9 reads victims off its own
    * postings instead) — and subtract from the count relation;
    * zeroed rows drop (a legitimate count is always ≥ 1), and the
    * ranked profiles re-derive. Exact inverse of [[appendBatch]]:
    * remove(append(S,B),B) ≡ S bit-for-bit (LangProfileStoreSpec),
    * hash-audited by `langIdRemoved` (≡ the evens-trained
    * `langIdStored` oracle after forgetting the odd half). */
  def removeBatch(spark: SparkSession, batch: DataFrame,
      storeDir: String): Unit = {
    val merged = spark.read.parquet(s"$storeDir/counts")
      .unionByName(DataOps.ctLangCounts(
          DataOps.ctGramCounts(spark, batch))
        .select(col("lang"), col("h"),
          (-col("c")).as("c")))
      .groupBy(col("lang"), col("h"))
      .agg(org.apache.spark.sql.functions.sum(col("c")).as("c"))
      .where(col("c") > 0)
      .localCheckpoint(true)
    StoreDirs.replaceParquet(merged, s"$storeDir/counts")
    StoreDirs.replaceParquet(DataOps.ctProfilesOfLangCounts(merged),
      s"$storeDir/profiles")
    ()
  }

  /** Classify a (doc_id, lang, text)-shaped frame against the stored
    * profiles — per-doc work only; the store side is READ, never
    * recomputed. Output = [[DataOps.langIdNgram]]'s shape. */
  def classifyAgainst(spark: SparkSession, d: DataFrame,
      storeDir: String): DataFrame =
    DataOps.ctScoreCounts(DataOps.ctGramCounts(spark, d),
      spark.read.parquet(s"$storeDir/profiles"))

  /** Registry form of the store — the K4 analog of
    * [[MinhashIndex.dedupIndexed]] applied to the trained classifier:
    * the even-doc_id half of the corpus plays "the labeled training
    * corpus" (its profiles written ONCE into a scratch store), the odd
    * half "the arriving unlabeled batch" classified purely from the
    * read-back store via [[classifyAgainst]]. Output =
    * [[DataOps.langIdNgram]]'s shape restricted to the odd half; the
    * oracle replays the same split definitionally (train CTE filtered
    * to even ids, score CTE to odd), so the round-trip through parquet
    * is hash-audited, not just spec-pinned. */
  def langIdStored(spark: SparkSession, sfDir: String): DataFrame = {
    val d = input.fromSfDir(spark, sfDir)
    val train = d.where(col("doc_id") % 2 === 0)
    val probe = d.where(col("doc_id") % 2 === 1)
    // Plan-only: the score plan over the fresh profile relation
    // (plan-identical to the store read by design).
    Exec.planOnlyOr(DataOps.ctScoreCounts(DataOps.ctGramCounts(spark, probe),
      DataOps.ctProfilesFromCounts(DataOps.ctGramCounts(spark, train)))) {
      val dir = StoreDirs.tmpStoreDir("graft-lang-store", sfDir)
      StoreDirs.once(dir)(buildFrom(spark, train, dir))
      classifyFrom(spark, probe, dir)
    }
  }

  /** [[classifyAgainst]] under langIdNgram's cache hygiene: the gram
    * counts feed the doc profile, its size aggregate and the label
    * join. */
  private def classifyFrom(spark: SparkSession, d: DataFrame,
      dir: String): DataFrame = {
    val gc = Exec.persist(DataOps.ctGramCounts(spark, d))
    Exec.finish(DataOps.ctScoreCounts(gc,
      spark.read.parquet(s"$dir/profiles")), gc)
  }

  /** Registry form of the INCREMENTAL path (the `bm25Incremental`
    * discipline on the classifier store): train from the even-doc_id
    * half, [[appendBatch]] the odd half as "the newly-labeled batch",
    * then classify the FULL corpus purely from the merged store.
    * Count sums make the merged store ≡ a one-shot full-corpus build,
    * so the result shares [[DataOps.langIdNgram]]'s oracle verbatim. */
  def langIdIncremental(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the merged store is the full self-trained model by
    // construction — audit that plan.
    Exec.planOnlyOr(DataOps.langIdNgram(spark, sfDir))(
      classifyFrom(spark, input.fromSfDir(spark, sfDir),
        appended(spark, sfDir)))

  /** STORE TELEMETRY — the K4/K9 statsOf discipline on the trained
    * classifier: one row (n_langs, n_count_rows, sum_c,
    * n_profile_rows), read purely off the two store relations.
    * `sum_c` is the value checksum over the ADDITIVE training state —
    * a single count drifted by one (a lost merge, a double append)
    * fails the audit while all cardinalities still match. */
  def statsOf(spark: SparkSession, storeDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count,
      count_distinct, lit, sum}
    spark.read.parquet(s"$storeDir/counts")
      .agg(count_distinct(col("lang")).as("n_langs"),
        count(lit(1)).as("n_count_rows"),
        sum(col("c")).cast("long").as("sum_c"))
      .crossJoin(broadcast(spark.read.parquet(s"$storeDir/profiles")
        .agg(count(lit(1)).as("n_profile_rows"))))
  }

  /** Registry form of the telemetry — over the APPEND-MAINTAINED store
    * (shares [[langIdIncremental]]'s [[appended]]
    * store, which count-sum merging makes ≡ a one-shot full-corpus
    * build): the oracle recomputes the numbers from the documents
    * table, auditing that incremental maintenance left the trained
    * counts equal to corpus truth. */
  def langStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count,
      count_distinct, lit, sum}
    Exec.planOnlyOr {
      // The same aggregates over the fresh count/profile relations
      // (plan-identical to the store read).
      val lc = DataOps.ctLangCounts(DataOps.ctGramCounts(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")))
      lc.agg(count_distinct(col("lang")).as("n_langs"),
          count(lit(1)).as("n_count_rows"),
          sum(col("c")).cast("long").as("sum_c"))
        .crossJoin(broadcast(DataOps.ctProfilesOfLangCounts(lc)
          .agg(count(lit(1)).as("n_profile_rows"))))
    }(statsOf(spark, appended(spark, sfDir)))
  }

  /** Registry form of the DELETION path: train on the FULL corpus,
    * [[removeBatch]] the odd half (count subtraction — the store
    * becomes the evens-trained model), then classify the forgotten odd
    * half against it. Result ≡ [[langIdStored]] (same oracle: train
    * CTE filtered to even ids, score CTE to odd) — the claim count
    * deletion must prove: nothing of the victims remains in any
    * language's profile. */
  def langIdRemoved(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(langIdStored(spark, sfDir))(
      classifyFrom(spark,
        input.fromSfDir(spark, sfDir).where(col("doc_id") % 2 === 1),
        removed(spark, sfDir)))
}
