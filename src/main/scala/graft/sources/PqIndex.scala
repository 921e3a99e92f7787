package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, explode, min,
  sqrt, struct}

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT product-quantization vector index — the build-once /
 * query-many form of [[DataOps.annPq]], the [[MinhashIndex]] (K4)
 * pattern applied to ANN: a production vector store trains its coarse
 * cells and PQ codebooks ONCE and every query batch only probes, while
 * the per-invocation [[DataOps.annPq]] retrains the whole model each
 * call (fine for a one-shot batch audit, wrong for serving).
 *
 * Layout (`indexDir/`), all plain parquet of exact integers (lossless
 * round-trip — the probe over the store is bit-identical to the fresh
 * model, pinned in PqIndexSpec):
 *   - `codebook/`  (m, cid, j, c): the Lloyd-refined PQ sub-space
 *     centroids — M·K·subdim = 1024 rows at any corpus scale;
 *   - `codes/`     (vec_id, m, cid): each vector's PQ code, N·M rows —
 *     the only corpus-sized relation, 3 ints per row (the compressed
 *     store a 100 TB corpus actually serves from);
 *   - `centroids/` (cid, cem, cn): the IVF coarse quantizer, for
 *     cell-pruned probing ([[DataOps.annIvfPq]]);
 *   - `cells/`     (vec_id, cid): each vector's top-1 IVF cell.
 *
 * LIFECYCLE (the K9 [[PostingsIndex]] discipline at the vector tier,
 * FAISS `add`/`remove_ids` semantics): [[appendBatch]] encodes new
 * vectors against the FROZEN codebook and coarse quantizer — no
 * retrain; that is the store contract (what FAISS ships, and what
 * makes the oracle replayable) — so `codes`/`cells` rows append on
 * disjoint vec_ids while `codebook`/`centroids` never change;
 * [[removeBatch]] anti-joins the victims out of the two corpus-sized
 * relations, the exact inverse (remove(append(S,B),B) ≡ S bit-for-bit,
 * pinned in PqIndexSpec). Registry entries `annPqIncremental` /
 * `annPqRemoved` hash-audit both paths against split DuckDB mirrors
 * (train CTEs filtered to the build half / codes filtered to the
 * survivors).
 *
 * 100 TB notes: `codes` and `cells` shuffle nothing at build beyond
 * what the model training already does, and at cluster scale both are
 * written bucketed by the probe key (`cid` for cells, `m` is only
 * M-valued so codes bucket by `vec_id`) — a layout knob, not a plan
 * change. Queries broadcast their KB-sized ADC tables over ONE scan of
 * `codes`; the raw-vector re-read touches shortlist·Q rows. Appends
 * cost one codebook-broadcast encode of the BATCH; removals one
 * scan-and-filter of codes/cells (the compaction-style full form, as
 * in [[PostingsIndex.removeBatch]]).
 */
object PqIndex extends Store {

  def name = "pq"
  def relations = Seq("codebook", "codes", "centroids", "cells")
  def input = Store.Vectors

  /** Train the PQ model + IVF coarse quantizer over the sf directory's
    * embeddings and write (overwrite) the four store relations. Routes
    * through the session-scoped trained-model cache
    * ([[DataOps.pqCodebook]]/[[DataOps.centroids]] — training is
    * deterministic, so the store content is bit-identical whether the
    * models come fresh or cached; only the repeated Lloyd passes go). */
  override def build(spark: SparkSession, sfDir: String,
      indexDir: String): Unit = {
    val v = DataOps.emb(spark, sfDir)
    val el = Exec.persist(DataOps.pqElements(v))
    val refined = DataOps.pqCodebook(spark, sfDir)
    StoreDirs.replaceParquet(refined, s"$indexDir/codebook")
    StoreDirs.replaceParquet(DataOps.pqAssign(el, refined),
      s"$indexDir/codes")
    val cents = DataOps.centroids(spark, sfDir)
    StoreDirs.replaceParquet(cents, s"$indexDir/centroids")
    StoreDirs.replaceParquet(DataOps.cellRanksFrom(v, cents)
      .where(col("rnk") === 1)
      .select("vec_id", "cid"), s"$indexDir/cells")
    el.unpersist()
    ()
  }

  /** Train + build the store from a (vec_id, em, nrm) vectors frame
    * ([[DataOps.emb]] shape). */
  def buildFrom(spark: SparkSession, v: DataFrame,
      indexDir: String): Unit = {
    val (el, refined, coded) = DataOps.pqPartsFrom(v)
    StoreDirs.replaceParquet(refined, s"$indexDir/codebook")
    StoreDirs.replaceParquet(coded, s"$indexDir/codes")
    val cents = Exec.pin(DataOps.centroidsFrom(v))
    StoreDirs.replaceParquet(cents, s"$indexDir/centroids")
    StoreDirs.replaceParquet(DataOps.cellRanksFrom(v, cents)
      .where(col("rnk") === 1)
      .select("vec_id", "cid"), s"$indexDir/cells")
    el.unpersist()
    ()
  }

  /** INCREMENTAL MAINTENANCE — add a (vec_id, em, nrm) vector batch
    * (vec_ids disjoint from the store's) by encoding it against the
    * FROZEN codebook and coarse quantizer: one broadcast-codebook
    * assignment pass over the BATCH appends its `codes` rows, one
    * broadcast-centroid rank its `cells` rows; `codebook`/`centroids`
    * are untouched. No retrain — FAISS `add` semantics, and the reason
    * any batch decomposition yields the identical store (pinned in
    * PqIndexSpec; hash-audited by `annPqIncremental`). */
  def appendBatch(spark: SparkSession, v: DataFrame,
      indexDir: String, tag: String): Unit = {
    val el = Exec.persist(DataOps.pqElements(v))
    StoreDirs.appendOnce(DataOps.pqAssign(el,
        spark.read.parquet(s"$indexDir/codebook")),
      s"$indexDir/codes", tag)
    StoreDirs.appendOnce(DataOps.cellRanksFrom(v,
        spark.read.parquet(s"$indexDir/centroids"))
      .where(col("rnk") === 1)
      .select("vec_id", "cid"),
      s"$indexDir/cells", tag)
    el.unpersist()
    ()
  }

  /** DELETION — forget a vec_id set (FAISS `remove_ids`): the two
    * corpus-sized relations rewrite WITHOUT the victims via anti-join;
    * the trained model is frozen, so nothing else changes. Exact
    * inverse of [[appendBatch]] — remove(append(S,B),B) ≡ S
    * bit-for-bit (PqIndexSpec); hash-audited by `annPqRemoved`. */
  def removeBatch(spark: SparkSession, vecIds: DataFrame,
      indexDir: String): Unit = {
    val ids = vecIds.select(col("vec_id"))
    val codes = spark.read.parquet(s"$indexDir/codes")
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
    val cells = spark.read.parquet(s"$indexDir/cells")
      .join(broadcast(ids), Seq("vec_id"), "left_anti")
    StoreDirs.replaceParquet(codes, s"$indexDir/codes")
    StoreDirs.replaceParquet(cells, s"$indexDir/cells")
    ()
  }

  /** COMPACTION — rewrite the two corpus-sized relations into
    * one-file layout (codes sorted by (vec_id, m), cells by
    * (cid, vec_id) — the probe keys), folding the one-file-set-per-
    * [[appendBatch]] pileup; contents bit-identical (PqIndexSpec). */
  override def compact(spark: SparkSession, indexDir: String): Unit = {
    val codes = spark.read.parquet(s"$indexDir/codes")
      .repartition(1)
      .sortWithinPartitions(col("vec_id"), col("m"))
    StoreDirs.replaceParquet(codes, s"$indexDir/codes")
    val cells = spark.read.parquet(s"$indexDir/cells")
      .repartition(1)
      .sortWithinPartitions(col("cid"), col("vec_id"))
    StoreDirs.replaceParquet(cells, s"$indexDir/cells")
    ()
  }

  /** Probe-only ANN against the stored model: ADC tables from the
    * stored codebook, one scan of the stored codes, exact re-rank
    * against the raw vectors in `sfDir` — NO training work. `queries`
    * must carry (q_id, qem, qn) ([[DataOps.annQueries]] shape). */
  def queryAgainst(spark: SparkSession, queries: DataFrame,
      indexDir: String, sfDir: String): DataFrame =
    DataOps.pqProbe(spark, queries,
      spark.read.parquet(s"$indexDir/codebook"),
      spark.read.parquet(s"$indexDir/codes"),
      DataOps.emb(spark, sfDir))

  /** Registry form — the full round-trip: build (write) the store for
    * the sf directory ONCE (shared with [[annIvfPqIndexed]] — one
    * build, both probes), then answer the standard ANN query set
    * purely from the read-back relations. Result ≡ [[DataOps.annPq]]
    * (same oracle), which is exactly the claim a persistent index must
    * prove: nothing was lost between the trained model and the serving
    * store. */
  def annPqIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr {
      // The probe plan over fresh model relations (plan-identical to
      // the store read by design).
      val (_, refined, coded) = DataOps.pqParts(spark, sfDir)
      DataOps.pqProbe(spark, DataOps.annQueries(spark, sfDir),
        refined, coded, DataOps.emb(spark, sfDir))
    }(queryAgainst(spark, DataOps.annQueries(spark, sfDir),
      built(spark, sfDir), sfDir))

  /** Composed IVF+PQ probe against the stored model — the FAISS IVFPQ
    * SERVING path from the persistent store: stored centroids build
    * the probe lists, stored cells prune which stored codes enter the
    * ADC scan, exact re-rank against the raw vectors. All four store
    * relations serve ONE probe; NO training work. */
  def ivfPqAgainst(spark: SparkSession, queries: DataFrame,
      indexDir: String, sfDir: String): DataFrame =
    DataOps.ivfPqProbe(spark, queries,
      spark.read.parquet(s"$indexDir/centroids"),
      spark.read.parquet(s"$indexDir/cells")
        .select(col("vec_id"), col("cid").as("cell")),
      spark.read.parquet(s"$indexDir/codebook"),
      spark.read.parquet(s"$indexDir/codes"),
      DataOps.emb(spark, sfDir))

  /** CLUSTER LAYOUT — the FAISS INVERTED-LIST FILE as a bucketed
    * table: every vector's PQ code rows keyed by the vector's TOP-1
    * coarse cell and persisted bucketed-by-`cell`, per-bucket-sorted
    * ([[graft.ops.ScaleOps.writeBucketed]] — the K9/K10/K4 treatment
    * at the vector tier, and exactly what an IVFPQ index IS on disk:
    * codes grouped into per-cell inverted lists). A query whose probe
    * cells are known (every serving query — the probe list derives
    * from the stored centroids before the scan plans) PRUNES the code
    * scan to its probed cells' buckets (`SelectedBucketsCount`), the
    * probes/C scan fraction the composed index exists to buy, now
    * enforced by LAYOUT rather than a join. PqIndexSpec pins
    * result-equality with the composed probe and the pruned scan. */
  def writeBucketedCodes(spark: SparkSession, indexDir: String,
      table: String, buckets: Int = 16,
      path: Option[String] = None): Unit =
    graft.ops.ScaleOps.writeBucketed(
      spark.read.parquet(s"$indexDir/codes")
        .join(spark.read.parquet(s"$indexDir/cells")
          .select(col("vec_id"), col("cid").as("cell")), Seq("vec_id")),
      table, buckets, "cell", path)

  /** Composed IVFPQ serve off the BUCKETED inverted lists for ONE
    * query with LITERAL probe cells: the pruned scan feeds
    * [[DataOps.pqProbe]] VERBATIM (over the probed cells the flat ADC
    * and the composed probe coincide — the candidate set IS the
    * probed lists). */
  def ivfPqAgainstBucketedCells(spark: SparkSession, q: DataFrame,
      probeCells: Seq[Long], table: String, indexDir: String,
      sfDir: String): DataFrame =
    DataOps.pqProbe(spark, q,
      spark.read.parquet(s"$indexDir/codebook"),
      spark.table(table).where(col("cell").isin(probeCells: _*))
        .select(col("vec_id"), col("m"), col("cid")),
      DataOps.emb(spark, sfDir))

  /** Hard cap on a vector serving batch — the
    * [[PostingsIndex.MaxServeTerms]] discipline at the vector tier:
    * the bucketed serve collects the batch's UNION of probe cells to
    * the driver (≤ queries × [[DataOps.IvfPqProbes]] literals), so
    * bound the batch loudly instead of letting a mis-wired
    * corpus-sized "query stream" grow the literal list without
    * limit. */
  val MaxServeVecQueries = 256L

  /** Composed IVFPQ serving over the BUCKETED inverted lists for an
    * AD-HOC query batch — the serving generalization of the
    * single-query registry probe ([[annServeBucketed]]): each query's
    * probe cells derive from the stored centroids (a bounded
    * driver-side collect through the `top_k` aggregate), their UNION
    * prunes the bucketed code scan as literals
    * (`SelectedBucketsCount`), and [[DataOps.ivfPqProbe]] then runs
    * VERBATIM over the pruned lists — the per-query cell restriction
    * is the probe's own broadcast probe-list join, so results ≡
    * [[ivfPqAgainst]] on the directory store for the same batch
    * (pinned in StreamingSpec via the streaming twin). A serving tick
    * reads its queries' inverted lists, never the corpus-sized code
    * relation. */
  def ivfPqServeAgainstBucketed(spark: SparkSession, queries: DataFrame,
      table: String, indexDir: String, sfDir: String): DataFrame = {
    // Pin the (guard-bounded) query batch ONCE: the size guard, the
    // probe-cell collect and the probe itself all read the same
    // materialized ≤(max+1)-row frame instead of re-running the
    // caller's micro-batch conversion three times per serving tick.
    // The limit rides BEFORE the pin so a mis-wired corpus-sized
    // "query stream" materializes max+1 rows and dies in the guard,
    // never a corpus.
    val q = queries.limit(MaxServeVecQueries.toInt + 1)
      .localCheckpoint(true)
    require(q.count() <= MaxServeVecQueries,
      s"serving batch carries more than $MaxServeVecQueries query " +
      "vectors — that is a corpus, not a query batch; route it " +
      "through the build path instead")
    val cents = spark.read.parquet(s"$indexDir/centroids")
    val probeCells = q.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        (graft.functions.VecDotExpr.dot(spark, col("qem"), col("cem"))
          .cast("double") /
          (sqrt(col("qn").cast("double")) *
            sqrt(col("cn").cast("double")))).as("cs"))
      .groupBy(col("q_id"))
      .agg(graft.functions.TopKAgg.topK(spark,
        struct(col("cs"), (-col("cid")).as("nc")),
        DataOps.IvfPqProbes).as("top"))
      .select(explode(col("top")).as("e"))
      .select((-col("e.nc")).as("cid")).distinct()
      .collect().map(_.getLong(0)).toSeq
    val pruned = spark.table(table)
      .where(col("cell").isin(probeCells: _*))
    DataOps.ivfPqProbe(spark, q, cents,
      pruned.select(col("vec_id"), col("cell")).distinct(),
      spark.read.parquet(s"$indexDir/codebook"),
      pruned.select(col("vec_id"), col("m"), col("cid")),
      DataOps.emb(spark, sfDir))
  }

  /** Registry form of the inverted-list layout — the SERVING shape: one
    * user query (the standard set's minimum q_id — a deterministic
    * stand-in), its ≤[[DataOps.IvfPqProbes]] probe cells resolved
    * against the stored centroids and collected as LITERALS (bounded,
    * loudly asserted — the bm25Bucketed discipline), then answered
    * purely from the pruned bucketed scan. Result ≡ [[DataOps.annIvfPq]]
    * restricted to that query (oracle = the annIvfPq mirror filtered to
    * the minimum standard q_id). */
  def annServeBucketed(spark: SparkSession, sfDir: String): DataFrame =
    // Plan-only: the composed probe's plan is the ADC/re-rank shape;
    // the bucketed scan differs only in layout.
    Exec.planOnlyOr(
        DataOps.annIvfPq(spark, sfDir).where(col("q_id") === 0L)) {
      val dir = built(spark, sfDir)
      val table = "graft_codes_bkt_" +
        java.lang.Integer.toHexString(dir.hashCode).takeRight(8)
      StoreDirs.once(table) {
        writeBucketedCodes(spark, dir, table,
          path = Some(StoreDirs.tmpStoreDir("graft-codes-bktdata", sfDir)))
      }
      val q = DataOps.annQueries(spark, sfDir)
      val headId = q.agg(min(col("q_id"))).head().getLong(0)
      val q1 = q.where(col("q_id") === headId)
      val cents = spark.read.parquet(s"$dir/centroids")
      val probeCells = q1.crossJoin(broadcast(cents))
        .select(col("cid"),
          (graft.functions.VecDotExpr.dot(spark, col("qem"), col("cem"))
            .cast("double") /
            (sqrt(col("qn").cast("double")) *
              sqrt(col("cn").cast("double")))).as("cs"))
        .orderBy(col("cs").desc, col("cid").asc)
        .limit(DataOps.IvfPqProbes)
        .select(col("cid")).collect().map(_.getLong(0)).toSeq
      require(probeCells.length <= DataOps.IvfPqProbes,
        s"probe list must be <= ${DataOps.IvfPqProbes} cells, got " +
          s"${probeCells.length}")
      ivfPqAgainstBucketedCells(spark, q1, probeCells, table, dir, sfDir)
    }

  /** Registry form of the composed probe — shares [[annPqIndexed]]'s
    * store (one build, BOTH ANN probes served: the flat ADC scan and
    * the cell-pruned composed path — what makes the K5 store a real
    * FAISS-style index, not a single-query cache). Result ≡
    * [[DataOps.annIvfPq]] (same oracle). */
  def annIvfPqIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(DataOps.annIvfPq(spark, sfDir))(
      ivfPqAgainst(spark, DataOps.annQueries(spark, sfDir),
        built(spark, sfDir), sfDir))

  /** STORE TELEMETRY — the K4/K9 [[PostingsIndex.statsOf]] discipline
    * on the vector store: one row (n_vectors, n_code_rows,
    * sum_code_cid, n_codebook_rows, n_centroids, n_cells), every
    * number read off the STORE relations (no corpus access). As a
    * registry entry (`pqStats`) it is an INTEGRITY AUDIT: the oracle
    * recomputes the same numbers by re-training from the embeddings
    * table, so any drift between the persisted model and corpus truth
    * — a missed append, a double append, a corrupted codebook —
    * breaks the hash. `sum_code_cid` is the value checksum: it pins
    * every vector's actual PQ code assignments, not just their
    * counts (a store whose codes quietly shifted cells keeps all
    * cardinalities and still fails). */
  def statsOf(spark: SparkSession, indexDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, count_distinct, lit,
      sum}
    spark.read.parquet(s"$indexDir/codes")
      .agg(count_distinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_code_rows"),
        sum(col("cid")).cast("long").as("sum_code_cid"))
      .crossJoin(broadcast(
        spark.read.parquet(s"$indexDir/codebook")
          .agg(count(lit(1)).as("n_codebook_rows"))))
      .crossJoin(broadcast(
        spark.read.parquet(s"$indexDir/centroids")
          .agg(count(lit(1)).as("n_centroids"))))
      .crossJoin(broadcast(
        spark.read.parquet(s"$indexDir/cells")
          .agg(count(lit(1)).as("n_cells"))))
  }

  /** Registry form of the telemetry: shares [[annPqIndexed]]'s
    * [[built]] store (one build — the two ANN probes and the health
    * readout all serve from it), reads the one-row audit purely from
    * the store relations. */
  def pqStats(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions.{count, count_distinct, lit,
      sum}
    Exec.planOnlyOr {
      // The same aggregates over the fresh model relations
      // (plan-identical to the store read by design).
      val v = DataOps.emb(spark, sfDir)
      val (_, refined, coded) = DataOps.pqPartsFrom(v)
      val cents = DataOps.centroidsFrom(v)
      coded
        .agg(count_distinct(col("vec_id")).as("n_vectors"),
          count(lit(1)).as("n_code_rows"),
          sum(col("cid")).cast("long").as("sum_code_cid"))
        .crossJoin(broadcast(
          refined.agg(count(lit(1)).as("n_codebook_rows"))))
        .crossJoin(broadcast(
          cents.agg(count(lit(1)).as("n_centroids"))))
        .crossJoin(broadcast(DataOps.cellRanksFrom(v, cents)
          .where(col("rnk") === 1)
          .agg(count(lit(1)).as("n_cells"))))
    }(statsOf(spark, built(spark, sfDir)))
  }

  /** Registry form of the INCREMENTAL path: train + build the store
    * from the even-vec_id half ("the initial corpus"), [[appendBatch]]
    * the odd half encoded against the frozen model, then answer the
    * standard query set from the merged store. The oracle replays
    * frozen-codebook semantics definitionally: its training CTEs
    * filter to even vec_ids, its coding/probe run over the full
    * corpus — the exact claim FAISS-style `add` must prove (appended
    * vectors are first-class probe results without a retrain). */
  def annPqIncremental(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr {
      // The even-trained codebook coding the full corpus
      // (plan-identical to the merged store by design).
      val v = DataOps.emb(spark, sfDir)
      val even = v.where(col("vec_id") % 2 === 0)
      val refined = DataOps.pqTrain(even, DataOps.pqElements(even))
      DataOps.pqProbe(spark, DataOps.annQueries(spark, sfDir),
        refined, DataOps.pqAssign(DataOps.pqElements(v), refined), v)
    }(queryAgainst(spark, DataOps.annQueries(spark, sfDir),
      appended(spark, sfDir), sfDir))

  /** Registry form of the DELETION path: build the store over the full
    * corpus, [[removeBatch]] the odd vec_ids as "the forget request",
    * then answer the standard query set from the shrunken store. The
    * model stays trained on the full corpus (frozen — `remove_ids`
    * never retrains), so the oracle is the annPq mirror with only its
    * CODES filtered to the survivors: no victim may surface in any
    * shortlist, while surviving codes keep their full-corpus codebook. */
  def annPqRemoved(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr {
      val (_, refined, coded) = DataOps.pqParts(spark, sfDir)
      DataOps.pqProbe(spark, DataOps.annQueries(spark, sfDir),
        refined, coded.where(col("vec_id") % 2 === 0),
        DataOps.emb(spark, sfDir))
    }(queryAgainst(spark, DataOps.annQueries(spark, sfDir),
      removed(spark, sfDir), sfDir))
}
