package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * COMPOSED RIGHT-TO-BE-FORGOTTEN — one `forget(docIds)` call driving
 * every surface a published document touches: the lang-partitioned
 * corpus ([[CorpusSink.deleteDocs]], partition-pruned rewrite) and each
 * store the caller names (any subset of the [[Store.all]] registry),
 * removed by the key its [[Store.Input]] declares: doc_id for the text
 * stores, vec_id = doc_id for the vector stores (FAISS `remove_ids`),
 * and the victims' LABELED TEXT for the count-subtraction model stores.
 * The corpus is the only surface that still has that text, so forget
 * fetches the victim rows BEFORE rewriting the corpus partitions — the
 * one real ordering constraint in the composition. A real deletion
 * request is not "remove from one store": a document that stays
 * BM25-retrievable, keeps matching as a near-dup corpus member,
 * remains a nearest-neighbor answer, or keeps shaping the language /
 * importance models after its corpus row is gone has not been
 * forgotten.
 *
 * The request is CONTRACT-GUARDED once, centrally (the guard the
 * per-store `removeBatch`es document but cannot afford to re-run each):
 * duplicate-free, and every id actually published — a silently-ignored
 * id (or one subtracted twice from the vocab/stats sums) would corrupt
 * the stores' additive state.
 *
 * Registry proof (entries over ONE composed store set — every registry
 * store built over the full corpus, then the odd half forgotten, once
 * per JVM): `corpusForget` hash-audits the surviving published corpus
 * per language against a survivors-only rollup; the per-store entries
 * (`forgetSearch`, `forgetPhrase`, `forgetDedup`, `forgetVectors`,
 * `forgetSq`, `forgetClassifier`, `forgetImportance`) probe the
 * maintained store ≡ that store's own `*Removed` oracle.
 *
 * 100 TB shape: the id set broadcasts everywhere (deletion batches are
 * small); the corpus rewrite touches only affected lang partitions;
 * the victim-text fetch is one broadcast semi-join against those same
 * partitions; the store rewrites are the per-store scan-and-filter
 * costs already documented on their `removeBatch`es. Nothing here adds
 * a shuffle beyond the members'.
 */
object Forget {

  /** Forget `docIds` across the corpus and every `(store, dir)` named.
    * Contract: ids duplicate-free and ⊆ the published corpus —
    * asserted HERE, once (two bounded jobs over the broadcast-sized
    * request), before any store mutates, so a bad request fails
    * atomically instead of half-applying.
    *
    * The vector stores forget the victims' embeddings under the
    * vec_id = doc_id linkage (the fixture embeds document `i` as
    * vector `i`; a deployment with its own mapping resolves doc→vec
    * ids before the call). The labeled-text stores subtract the
    * victims' (lang, text) counts — fetched from the published corpus
    * BEFORE [[CorpusSink.deleteDocs]] rewrites it, because after the
    * rewrite no surface has the text to subtract. */
  def forget(spark: SparkSession, docIds: DataFrame, corpusDir: String,
      stores: Seq[(Store, String)]): Unit = {
    val ids = docIds.select(col("doc_id")).localCheckpoint(true)
    val n = ids.count()
    require(n == ids.distinct().count(),
      "forget request contains duplicate doc_ids — each id must appear " +
        "exactly once (the stores' removal decrements are additive)")
    val unpublished = ids
      .join(spark.read.parquet(corpusDir).select(col("doc_id")),
        Seq("doc_id"), "left_anti")
      .count()
    require(unpublished == 0,
      s"forget request names $unpublished doc_ids not in the published " +
        "corpus — removal is only defined for indexed documents")
    // The model stores' subtraction needs the victims' labeled text —
    // fetch it from the corpus while the corpus still has it. The
    // column is `text` on a raw-published corpus but `clean_text` on
    // one published by the ingest job (survivors carry only the
    // redacted text — the SAME text the maintained stores trained on,
    // which is exactly what the subtraction must use).
    val victims =
      if (stores.exists(_._1.input == Store.Labeled)) {
        val corpus = spark.read.parquet(corpusDir)
        val textCol =
          if (corpus.columns.contains("text")) col("text")
          else col("clean_text")
        Some(corpus
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), col("lang").cast("string").as("lang"),
            textCol.as("text"))
          .localCheckpoint(true))
      } else None
    CorpusSink.deleteDocs(spark, ids, corpusDir)
    for ((store, dir) <- stores) {
      val rows = store.input match {
        case Store.Text => ids
        case Store.Vectors => ids.select(col("doc_id").as("vec_id"))
        case Store.Labeled => victims.get
      }
      store.removeBatch(spark, store.input.keys(rows), dir)
    }
  }

  /** One composed publish+build+forget per (JVM, sf directory), shared
    * by all the registry entries: corpus published lang-partitioned,
    * every registry store built over the full sf directory, then ONE
    * [[forget]] of the odd doc_ids across all of them. Returns the
    * composed store root ([[Store.under]] layout). */
  private def forgottenDirs(spark: SparkSession, sfDir: String): String = {
    val dir = StoreDirs.tmpStoreDir("graft-forget", sfDir)
    StoreDirs.once(dir) {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
      CorpusSink.appendCurated(docs, s"$dir/corpus")
      val stores = Store.under(dir)
      for ((store, storeDir) <- stores) store.build(spark, sfDir, storeDir)
      forget(spark,
        docs.where(col("doc_id") % 2 === 1).select(col("doc_id")),
        s"$dir/corpus", stores)
    }
    dir
  }

  /** Registry entry: the surviving published corpus rolled up per
    * language — read from the REWRITTEN partitions, so a victim
    * surviving any partition (or a survivor lost by the rewrite)
    * breaks count, id-sum or char-sum against the survivors-only
    * oracle. */
  def corpusForget(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the surviving corpus IS the even half — audit that
    // rollup plan.
    Exec.planOnlyOr(spark.read.parquet(s"$sfDir/documents.parquet")
        .where(col("doc_id") % 2 === 0)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).cast("long").as("sum_chars"))) {
      spark.read.parquet(s"${forgottenDirs(spark, sfDir)}/corpus")
        .groupBy(col("lang").cast("string").as("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(length(col("text"))).cast("long").as("sum_chars"))
    }

  /** Registry entry: the standard BM25 probe over the composed-forget
    * postings store ≡ a from-scratch survivors-only build (the
    * [[PostingsIndex.bm25Removed]] oracle) — the search surface's
    * proof that the SAME forget call that rewrote the corpus also
    * scrubbed postings, lengths, vocabulary and head statistics. */
  def forgetSearch(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(PostingsIndex.bm25Removed(spark, sfDir)) {
      PostingsIndex.probeStandardBm25(spark,
        s"${forgottenDirs(spark, sfDir)}/postings")
    }

  /** Registry entry: the standard phrase probed against the
    * composed-forget positional store ≡ the survivors-filtered
    * [[PositionsIndex.phraseRemoved]] oracle — no forgotten document
    * may still report an exact-phrase hit. */
  def forgetPhrase(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(PositionsIndex.phraseRemoved(spark, sfDir)) {
      PositionsIndex.phraseAgainst(spark,
        DataOps.phraseParts(spark,
          spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id"), col("text"))),
        s"${forgottenDirs(spark, sfDir)}/positions")
    }

  /** Registry entry: the victims probed as a fresh snapshot against
    * the composed-forget dedup store ≡ [[MinhashIndex.dedupIndexed]]'s
    * oracle — no victim may self-match (its bands are gone), and the
    * surviving even half must still answer exactly. */
  def forgetDedup(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(MinhashIndex.dedupRemoved(spark, sfDir)) {
      MinhashIndex.dedupAgainst(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text"))
          .where(col("doc_id") % 2 === 1),
        s"${forgottenDirs(spark, sfDir)}/minhash")
    }

  /** Registry entry: the standard query set probed against the
    * composed-forget PQ vector store ≡ the [[PqIndex.annPqRemoved]]
    * oracle (full-corpus-frozen codebook, codes filtered to the
    * survivors) — the SAME forget call that rewrote the corpus also
    * dropped the victims' codes and cell assignments, so no forgotten
    * document can surface as a nearest neighbor. */
  def forgetVectors(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(PqIndex.annPqRemoved(spark, sfDir)) {
      PqIndex.queryAgainst(spark, DataOps.annQueries(spark, sfDir),
        s"${forgottenDirs(spark, sfDir)}/pq", sfDir)
    }

  /** Registry entry: the SQ-tier twin of [[forgetVectors]] ≡ the
    * [[SqIndex.annSqRemoved]] oracle (reconstruction relation filtered
    * to the survivors). */
  def forgetSq(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(SqIndex.annSqRemoved(spark, sfDir)) {
      SqIndex.queryAgainst(spark, DataOps.annQueries(spark, sfDir),
        s"${forgottenDirs(spark, sfDir)}/sq", sfDir)
    }

  /** Registry entry: the victims classified (as a fresh unlabeled
    * batch, text re-read from the sf directory — the published corpus
    * no longer has them) against the composed-forget language store ≡
    * the evens-trained [[LangProfileStore.langIdRemoved]] oracle —
    * count subtraction left NOTHING of the victims in any language's
    * profile. The victims' labeled text for the subtraction itself was
    * fetched by [[forget]] before the corpus rewrite. */
  def forgetClassifier(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(LangProfileStore.langIdRemoved(spark, sfDir)) {
      LangProfileStore.classifyAgainst(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("lang"), col("text"))
          .where(col("doc_id") % 2 === 1),
        s"${forgottenDirs(spark, sfDir)}/lang")
    }

  /** Registry entry: the full corpus scored against the composed-forget
    * importance store ≡ the evens-trained [[DsirStore.dsirRemoved]]
    * oracle — forgotten documents still score (DSIR weighs any text
    * against the frozen model) but their counts no longer shape the
    * bucket statistics. */
  def forgetImportance(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DsirStore.dsirRemoved(spark, sfDir)) {
      DsirStore.scoreAgainst(spark,
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id"), col("text")),
        s"${forgottenDirs(spark, sfDir)}/dsir")
    }
}
