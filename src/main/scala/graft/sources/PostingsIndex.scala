package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT ranked-retrieval store — the build-once/query-many form of
 * [[DataOps.tfidfSearch]] / [[DataOps.bm25Search]] (the K4
 * [[MinhashIndex]] pattern applied to lexical SEARCH): a production
 * search tier never re-tokenizes its corpus per query — the postings
 * relation and the df/length statistics are written ONCE and every
 * query batch only probes, while the per-invocation batch operators
 * retokenize the whole corpus each call (fine for a one-shot audit,
 * wrong for serving).
 *
 * Layout (`indexDir/`), all plain parquet of exact integers/strings
 * (lossless round-trip — probe ≡ fresh build, pinned in
 * PostingsIndexSpec and hash-audited by the `bm25Indexed` /
 * `tfidfIndexed` registry entries against the batch operators' own
 * oracles):
 *   - `postings/` (doc_id, token, cnt): the inverted-file body — the
 *     only corpus-sized relation;
 *   - `doclen/`   (doc_id, dl): per-doc token counts (BM25's length
 *     normalizer);
 *   - `vocab/`    (token, tf, df): per-term corpus/document frequency;
 *   - `stats/`    one row (n, sdl): doc count + total corpus length.
 *
 * 100 TB shape: `postings` is written straight from the (doc, token)
 * aggregate — at cluster scale bucket it by `token` so a query's
 * broadcast-semi probe prunes to its terms' buckets (the classic
 * posting-list lookup; a layout knob, not a plan change), and `doclen`
 * by `doc_id` to co-locate the BM25 length join. `vocab` is
 * vocabulary-bounded and `stats` is ONE row — both broadcast on every
 * probe.
 */
object PostingsIndex extends Store {

  def name = "postings"
  def relations = Seq("postings", "doclen", "vocab", "stats")
  def input = Store.Text
  override def ingestDir(outDir: String, indexDir: String): String =
    s"$outDir/index"

  /** Build (overwrite) the store from a (doc_id, text) corpus frame. */
  def buildFrom(spark: SparkSession, corpus: DataFrame,
      indexDir: String): Unit = {
    val dt = Exec.persist(DataOps.docTokenCountsOf(spark, corpus))
    StoreDirs.replaceParquet(dt, s"$indexDir/postings")
    val dls = Exec.persist(
      dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl")))
    StoreDirs.replaceParquet(dls, s"$indexDir/doclen")
    StoreDirs.replaceParquet(DataOps.vocabOfCounts(dt),
      s"$indexDir/vocab")
    StoreDirs.replaceParquet(corpus.agg(count(lit(1)).as("n"))
      .crossJoin(dls.agg(coalesce(sum(col("dl")), lit(0L)).as("sdl"))),
      s"$indexDir/stats")
    dls.unpersist()
    dt.unpersist()
    ()
  }

  /** INCREMENTAL MAINTENANCE — append a landed (doc_id, text) batch
    * (doc_ids disjoint from the store's) to an existing store without
    * rebuilding: postings and doclen rows APPEND (disjoint keys), vocab
    * and stats MERGE ADDITIVELY (tf/df/n/Σdl are sums, so the merge is
    * exact, associative and commutative — any batch decomposition
    * yields the bit-identical store, pinned in PostingsIndexSpec and
    * hash-audited by the `bm25Incremental` registry entry against the
    * full-corpus oracle). The merged vocab/stats land fully under a
    * staging path while the directories they read stay intact, then
    * swap in atomically ([[StoreDirs.replaceParquet]]).
    *
    * 100 TB shape: the batch side is one tokenize + hash aggregate
    * (proportional to the BATCH); the vocab merge is one
    * vocabulary-bounded aggregate; stats is one row. Nothing rereads
    * the corpus-sized postings. */
  def appendBatch(spark: SparkSession, batch: DataFrame,
      indexDir: String, tag: String): Unit = {
    val dt = Exec.persist(DataOps.docTokenCountsOf(spark, batch))
    StoreDirs.appendOnce(dt, s"$indexDir/postings", tag)
    val dls = Exec.persist(
      dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl")))
    StoreDirs.appendOnce(dls, s"$indexDir/doclen", tag)
    // Each merge reads only its OWN relation + the batch, so the
    // per-relation absorbed witnesses make any kill-and-replay land on
    // the sequential result — a witnessed relation is skipped, an
    // unwitnessed one re-merges from its un-mutated state.
    StoreDirs.mergeOnce(spark, s"$indexDir/vocab", tag) {
      spark.read.parquet(s"$indexDir/vocab")
        .unionByName(DataOps.vocabOfCounts(dt))
        .groupBy(col("token"))
        .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))
    }
    StoreDirs.mergeOnce(spark, s"$indexDir/stats", tag) {
      spark.read.parquet(s"$indexDir/stats")
        .crossJoin(batch.agg(count(lit(1)).as("bn")))
        .crossJoin(dls.agg(coalesce(sum(col("dl")), lit(0L)).as("bsdl")))
        .select((col("n") + col("bn")).as("n"),
          (col("sdl") + col("bsdl")).as("sdl"))
    }
    dls.unpersist()
    dt.unpersist()
    ()
  }

  /** DELETION — remove a set of doc_ids from an existing store (the
    * right-to-be-forgotten path a production corpus must serve without
    * a full rebuild): postings/doclen rewrite WITHOUT the victims
    * (anti-join), vocab DECREMENTS by exactly the victims' (token, cnt)
    * contribution — read off the store's own postings BEFORE the
    * rewrite, so no text is retokenized — and stats subtracts their
    * count/length. All merged relations materialize before the
    * write-then-rename swap replaces the directories they read. Removal is the exact inverse of
    * [[appendBatch]]'s additive merge, so remove(append(S, B), B) ≡ S
    * bit-for-bit — pinned in PostingsIndexSpec and hash-audited by the
    * `bm25Removed` registry entry against a victims-filtered oracle.
    *
    * 100 TB shape: the victim relation broadcasts (deletion batches are
    * small); the postings rewrite is one scan-and-filter of the store —
    * the unavoidable cost of physical deletion (a tombstone tier would
    * amortize it; the STORE's correctness contract is the same either
    * way and this is the compaction-style full form). */
  def removeBatch(spark: SparkSession, docIds: DataFrame,
      indexDir: String): Unit = {
    val ids = docIds.select(col("doc_id"))
    val dtDel = Exec.persist(spark.read.parquet(s"$indexDir/postings")
      .join(broadcast(ids), Seq("doc_id"), "left_semi"))
    val mergedVocab = spark.read.parquet(s"$indexDir/vocab")
      .unionByName(DataOps.vocabOfCounts(dtDel)
        .select(col("token"), (-col("tf")).as("tf"), (-col("df")).as("df")))
      .groupBy(col("token"))
      .agg(sum(col("tf")).as("tf"), sum(col("df")).as("df"))
      .where(col("df") > 0)
      .localCheckpoint(true)
    // dn from the request, not the postings: a zero-token victim has no
    // postings/doclen rows yet still counted into stats.n at build —
    // the ids frame is the authority (contract: previously indexed
    // doc_ids, each exactly once)
    val delStats = ids.distinct().agg(count(lit(1)).as("dn"))
      .crossJoin(dtDel.agg(coalesce(sum(col("cnt")), lit(0L)).as("dsdl")))
      .localCheckpoint(true)
    dtDel.unpersist()
    val mergedStats = spark.read.parquet(s"$indexDir/stats")
      .crossJoin(delStats)
      .select((col("n") - col("dn")).as("n"),
        (col("sdl") - col("dsdl")).as("sdl"))
      .localCheckpoint(true)
    val keptPostings = spark.read.parquet(s"$indexDir/postings")
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    val keptDoclen = spark.read.parquet(s"$indexDir/doclen")
      .join(broadcast(ids), Seq("doc_id"), "left_anti")
      .localCheckpoint(true)
    StoreDirs.replaceParquet(keptPostings, s"$indexDir/postings")
    StoreDirs.replaceParquet(keptDoclen, s"$indexDir/doclen")
    StoreDirs.replaceParquet(mergedVocab, s"$indexDir/vocab")
    StoreDirs.replaceParquet(mergedStats, s"$indexDir/stats")
    ()
  }

  /** COMPACTION — rewrite the corpus-sized relations into one-file
    * layout (postings additionally sorted by (token, doc_id) inside the
    * file): a long-lived store accumulates one
    * parquet file batch per [[appendBatch]], and the small-files pileup
    * — not the data — eventually dominates probe open costs. Contents
    * are bit-identical before and after (pinned in PostingsIndexSpec);
    * at cluster scale the same rewrite buckets postings by `token`
    * (the layout knob of the K4 store scaladoc). */
  override def compact(spark: SparkSession, indexDir: String): Unit = {
    val p = spark.read.parquet(s"$indexDir/postings")
      .repartition(1).sortWithinPartitions(col("token"), col("doc_id"))
    StoreDirs.replaceParquet(p, s"$indexDir/postings")
    val d = spark.read.parquet(s"$indexDir/doclen")
      .repartition(1)
    StoreDirs.replaceParquet(d, s"$indexDir/doclen")
    ()
  }

  /** Registry form of the DELETION path: build the store over the full
    * corpus, [[removeBatch]] the odd-doc_id half as "the forget
    * request", then answer the standard query from the shrunken store.
    * Result ≡ a from-scratch build over the even half (the oracle
    * filters its CTEs to even ids) — the claim physical deletion must
    * prove: nothing of the victims remains in postings, vocabulary,
    * lengths or the query head's own statistics. */
  def bm25Removed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr {
      // The probe plan over fresh even-half relations (plan-identical
      // to the shrunken store by design).
      val d = input.fromSfDir(spark, sfDir).where(col("doc_id") % 2 === 0)
      val dt = DataOps.docTokenCountsOf(spark, d)
      val dls = dt.groupBy(col("doc_id")).agg(sum(col("cnt")).as("dl"))
      val ndocs = d.agg(count(lit(1)).as("n"))
      val sdl = dls.agg(sum(col("dl")).as("sdl"))
      DataOps.bm25ScoreStage(dt, dls, ndocs, sdl,
        DataOps.retrievalQueryHead(DataOps.vocabOfCounts(dt), ndocs))
    }(probeStandardBm25(spark, removed(spark, sfDir)))

  /** STORE TELEMETRY — the health readout an index operator watches
    * across append/remove cycles: one row (n_docs, n_terms,
    * n_postings, sum_dl, avg_dl_micro), every number read off the
    * STORE relations (stats/vocab/postings — no corpus access). As a
    * registry entry it is an INTEGRITY AUDIT: the oracle recomputes
    * the same numbers from the documents table, so any drift between
    * the maintained store and corpus truth (a missed merge, a
    * double-append) breaks the hash. */
  def statsOf(spark: SparkSession, indexDir: String): DataFrame = {
    val st = spark.read.parquet(s"$indexDir/stats")
    st.crossJoin(broadcast(spark.read.parquet(s"$indexDir/vocab")
        .agg(count(lit(1)).as("n_terms"))))
      .crossJoin(broadcast(spark.read.parquet(s"$indexDir/postings")
        .agg(count(lit(1)).as("n_postings"))))
      .select(col("n").as("n_docs"), col("n_terms"), col("n_postings"),
        col("sdl").cast("long").as("sum_dl"),
        // decimal(38,0) multiply (the bm25ScoreStage discipline): the
        // int64 product sdl·1e6 wraps past sum_dl ≈ 9.2e12 — well
        // inside the 100 TB shape this store targets — and a store
        // emptied by removeBatch (n = 0) reads avg 0 instead of a
        // division error (the oracle side never sees n = 0: it
        // recomputes from a non-empty documents table).
        expr("""case when n = 0 then 0L
          |     else cast(cast(sdl as decimal(38,0)) * 1000000 div n
          |               as bigint) end""".stripMargin)
          .as("avg_dl_micro"))
  }

  /** Registry form: build (once per JVM, shared with
    * [[bm25Indexed]]/[[tfidfIndexed]]) and read the telemetry row
    * purely from the store. */
  def postingsStats(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr {
      // The same aggregates over fresh relations (plan-identical to the
      // store read by design).
      val dt = DataOps.docTokenCounts(spark, sfDir)
      spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(DataOps.vocabOfCounts(dt)
          .agg(count(lit(1)).as("n_terms"))))
        .crossJoin(broadcast(dt.agg(count(lit(1)).as("n_postings"),
          coalesce(sum(col("cnt")), lit(0L)).as("sdl"))))
        .select(col("n").as("n_docs"), col("n_terms"), col("n_postings"),
          col("sdl").as("sum_dl"),
          expr("""case when n = 0 then 0L
            |     else cast(cast(sdl as decimal(38,0)) * 1000000 div n
            |               as bigint) end""".stripMargin)
            .as("avg_dl_micro"))
    }(statsOf(spark, built(spark, sfDir)))

  /** The standard deterministic 3-term query head computed purely from
    * the READ-BACK store (same arithmetic as the batch operators' fresh
    * head — [[DataOps.retrievalQueryHead]] verbatim). */
  def standardQuery(spark: SparkSession, indexDir: String): DataFrame =
    DataOps.retrievalQueryHead(
      spark.read.parquet(s"$indexDir/vocab"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")))

  /** Weight an ad-hoc (token) term frame from the stored df/N — terms
    * absent from the corpus vocabulary drop out (df would be 0). */
  def queryWeights(spark: SparkSession, terms: DataFrame,
      indexDir: String): DataFrame =
    DataOps.termWeights(
      spark.read.parquet(s"$indexDir/vocab")
        .join(terms.select(col("token")), Seq("token"), "left_semi"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")))
      .select(col("token"), col("idf_bits"))

  /** CLUSTER LAYOUT — `postings/` persisted as a bucketed-by-token,
    * per-bucket-sorted table ([[graft.ops.ScaleOps.writeBucketed]],
    * wired: the layout knob every K-store scaladoc names, demonstrated
    * in a plan rather than prose). The pre-shuffle is paid ONCE at
    * write time: any token-keyed aggregate or same-bucketed join over
    * the table runs WITHOUT an Exchange (the scan already carries
    * HashPartitioning(token)), and a literal-term probe PRUNES to its
    * terms' buckets (`SelectedBucketsCount` in the scan) — the
    * posting-list-lookup cost a 100 TB search tier actually pays.
    * Contents are the store's postings verbatim; PostingsIndexSpec
    * pins probe-result equality, the pruned scan and the absent
    * shuffle. */
  def writeBucketedPostings(spark: SparkSession, indexDir: String,
      table: String, buckets: Int = 32,
      path: Option[String] = None): Unit =
    graft.ops.ScaleOps.writeBucketed(
      spark.read.parquet(s"$indexDir/postings"), table, buckets,
      "token", path)

  /** BM25 probe over the BUCKETED layout with LITERAL query terms —
    * the serving path where the query is known ahead of the plan (a
    * user query), so the term predicate is a literal `IN` and the
    * bucketed scan prunes to the terms' buckets before reading a row.
    * Scoring is [[DataOps.bm25ScoreStage]] verbatim; results ≡
    * [[bm25Against]] on the directory store for the same terms. */
  def bm25AgainstBucketed(spark: SparkSession, terms: Seq[String],
      table: String, indexDir: String): DataFrame = {
    import spark.implicits._
    DataOps.bm25ScoreStage(
      spark.table(table).where(col("token").isin(terms: _*)),
      spark.read.parquet(s"$indexDir/doclen"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")),
      spark.read.parquet(s"$indexDir/stats").select(col("sdl")),
      queryWeights(spark, terms.toDF("token"), indexDir))
  }

  /** Hard cap on a serving batch's DISTINCT TERM set. The bucketed
    * serving probe ([[bm25ServeAgainstBucketed]]) pushes the batch's
    * terms into the scan as literals — which requires collecting them
    * to the driver. Serving batches are query-sized by contract
    * (users type terms; nothing corpus-shaped arrives as a query), so
    * assert the bound loudly (the [[DataOps.MaxAnnQueries]] pattern)
    * instead of letting a mis-wired corpus-sized "query stream"
    * silently OOM the driver: 1024 terms ≈ a few hundred queries per
    * micro-batch, far above a real serving tick. */
  val MaxServeTerms = 1024

  /** Per-query BM25 serving over the BUCKETED layout — the
    * [[bm25ServeAgainst]] probe with the batch's term set pushed into
    * the bucketed postings scan as LITERALS: inside a serving batch
    * (or a `foreachBatch` micro-batch) the query terms ARE known
    * before the plan, so the scan PRUNES to the terms' buckets
    * (`SelectedBucketsCount`) instead of opening the corpus-sized
    * relation — probe cost follows the queried posting lists, not the
    * corpus. Scoring is [[DataOps.bm25ServeStage]] verbatim; results ≡
    * [[bm25ServeAgainst]] on the directory store for the same batch
    * (pinned in StreamingSpec via the streaming twin). */
  def bm25ServeAgainstBucketed(spark: SparkSession, queries: DataFrame,
      table: String, indexDir: String): DataFrame = {
    val terms = queries.select(col("token")).distinct()
      .limit(MaxServeTerms + 1).collect().map(_.getString(0)).toSeq
    require(terms.length <= MaxServeTerms,
      s"serving batch carries more than $MaxServeTerms distinct " +
      "terms — that is a corpus, not a query batch; route it through " +
      "the build path instead")
    DataOps.bm25ServeStage(
      spark.table(table).where(col("token").isin(terms: _*)),
      spark.read.parquet(s"$indexDir/doclen"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")),
      spark.read.parquet(s"$indexDir/stats").select(col("sdl")),
      queries.select(col("q_id"), col("token"))
        .join(queryWeights(spark, queries, indexDir), Seq("token")))
  }

  /** BM25 top-10 for an ad-hoc (token) term frame — probe-only: the
    * [[DataOps.bm25ScoreStage]] scoring verbatim over the stored
    * relations, NO corpus tokenization. */
  def bm25Against(spark: SparkSession, terms: DataFrame,
      indexDir: String): DataFrame =
    DataOps.bm25ScoreStage(
      spark.read.parquet(s"$indexDir/postings"),
      spark.read.parquet(s"$indexDir/doclen"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")),
      spark.read.parquet(s"$indexDir/stats").select(col("sdl")),
      queryWeights(spark, terms, indexDir))

  /** tf-idf top-10 for an ad-hoc (token) term frame — probe-only. */
  def tfidfAgainst(spark: SparkSession, terms: DataFrame,
      indexDir: String): DataFrame =
    DataOps.tfidfScoreStage(
      spark.read.parquet(s"$indexDir/postings"),
      queryWeights(spark, terms, indexDir))

  /** Per-query BM25 top-10 for a (q_id, token) query BATCH — the
    * serving probe ([[DataOps.bm25ServeStage]] verbatim over the stored
    * relations): each query in the batch gets its own ranked top-10,
    * OOV terms drop, no corpus tokenization. The shape the streaming
    * serving twin ([[graft.streaming.StreamingOps.bm25ServeStream]])
    * runs per micro-batch. */
  def bm25ServeAgainst(spark: SparkSession, queries: DataFrame,
      indexDir: String): DataFrame =
    DataOps.bm25ServeStage(
      spark.read.parquet(s"$indexDir/postings"),
      spark.read.parquet(s"$indexDir/doclen"),
      spark.read.parquet(s"$indexDir/stats").select(col("n")),
      spark.read.parquet(s"$indexDir/stats").select(col("sdl")),
      queries.select(col("q_id"), col("token"))
        .join(queryWeights(spark, queries, indexDir), Seq("token")))

  /** Registry form — the full round-trip: build (write) the postings
    * store for the sf directory ONCE, then answer the standard query
    * purely from the read-back relations. Result ≡ [[DataOps.bm25Search]]
    * (same oracle) — the claim a persistent index must prove: nothing
    * was lost between the tokenized corpus and the serving store. */
  def bm25Indexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.bm25Search(spark, sfDir))(
      probeStandardBm25(spark, built(spark, sfDir)))

  /** The standard-head BM25 probe over a store directory. */
  private[sources] def probeStandardBm25(spark: SparkSession,
      dir: String): DataFrame =
    DataOps.bm25ScoreStage(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/doclen"),
      spark.read.parquet(s"$dir/stats").select(col("n")),
      spark.read.parquet(s"$dir/stats").select(col("sdl")),
      standardQuery(spark, dir))

  /** Registry form of the BUCKETED layout — the oracle-checked proof
    * that the 100 TB postings layout serves the standard query
    * byte-identically: [[bm25Indexed]]'s [[built]] store re-laid out
    * bucketed-by-token ONCE ([[writeBucketedPostings]] — an external
    * table under the scratch dir), then probed with the standard
    * head's terms AS LITERALS (the serving shape: a user query is
    * known before the plan, so the scan prunes to the terms' buckets).
    * The 3-term collect is driver-side by construction (LIMIT 3 —
    * bounded, loudly asserted). Result ≡ [[DataOps.bm25Search]] (same
    * oracle). */
  def bm25Bucketed(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the directory probe's plan is the scoring shape; the
    // bucketed scan differs only in layout.
    Exec.planOnlyOr(DataOps.bm25Search(spark, sfDir)) {
      val dir = built(spark, sfDir)
      val table = "graft_postings_bkt_" +
        java.lang.Integer.toHexString(dir.hashCode).takeRight(8)
      // one bucketed-table write per (JVM, sf directory) — the
      // build-once discipline on the CLUSTER LAYOUT
      StoreDirs.once(table) {
        writeBucketedPostings(spark, dir, table,
          path = Some(StoreDirs.tmpStoreDir("graft-postings-bktdata",
            sfDir)))
      }
      val terms = standardQuery(spark, dir).select(col("token"))
        .collect().map(_.getString(0)).toSeq
      require(terms.length <= 3,
        s"standard query head must be <= 3 terms, got ${terms.length}")
      bm25AgainstBucketed(spark, terms, table, dir)
    }

  /** Registry form of the INCREMENTAL path: build the store from the
    * even-doc_id half of the corpus, [[appendBatch]] the odd half as
    * "the landed batch", then answer the standard query purely from the
    * merged store. Result ≡ [[DataOps.bm25Search]] over the FULL corpus
    * (same oracle) — the exact claim incremental maintenance must
    * prove: the additive merge loses nothing vs a from-scratch build. */
  def bm25Incremental(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.bm25Search(spark, sfDir))(
      probeStandardBm25(spark, appended(spark, sfDir)))

  /** Registry form of HYBRID FUSION served from the store — both
    * rankers ([[bm25Indexed]]'s probe and [[tfidfIndexed]]'s) run off
    * ONE persistent index and fuse by reciprocal rank
    * ([[DataOps.rrfStage]] verbatim): the production hybrid-search
    * shape (one index, N rankers, one fused list). Result ≡
    * [[DataOps.rrfFusion]] (same oracle). */
  def rrfIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.rrfFusion(spark, sfDir)) {
      val dir = built(spark, sfDir)
      DataOps.rrfStage(
        DataOps.tfidfScoreStage(
          spark.read.parquet(s"$dir/postings"),
          standardQuery(spark, dir)),
        probeStandardBm25(spark, dir))
    }

  /** Registry form of the tf-idf probe — shares [[bm25Indexed]]'s store
    * (one build, two rankers served), ≡ [[DataOps.tfidfSearch]] (same
    * oracle). */
  def tfidfIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.tfidfSearch(spark, sfDir)) {
      val dir = built(spark, sfDir)
      DataOps.tfidfScoreStage(
        spark.read.parquet(s"$dir/postings"),
        standardQuery(spark, dir))
    }
}
