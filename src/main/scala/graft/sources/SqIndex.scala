package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.exec.Exec
import graft.pipeline.DataOps

/**
 * PERSISTENT scalar-quantization vector index — the build-once /
 * query-many form of [[DataOps.annSq]] beside [[PqIndex]]'s PQ store
 * (the K4/K5 pattern at the SQ8 compression tier): the 254×-scaled
 * reconstruction relation is computed ONCE from the corpus and every
 * query batch only probes it.
 *
 * Layout (`indexDir/recon`): (vec_id, r254: array<bigint>) plain
 * parquet of exact integers — the lossless round-trip makes the probe
 * over the store bit-identical to the fresh model (shared
 * [[DataOps.sqProbe]] stage; registry entry `annSqIndexed` proves it
 * against `annSq`'s own oracle, and SqIndexSpec pins one build serving
 * two disjoint query batches).
 *
 * LIFECYCLE (the K9 discipline; FAISS `add`/`remove_ids` at the SQ8
 * tier): SQ8 codes are PER-VECTOR affine quantizations — no trained
 * global state at all — so [[appendBatch]] is one quantize pass over
 * the BATCH appended on disjoint vec_ids, and [[removeBatch]] one
 * anti-join rewrite; remove(append(S,B),B) ≡ S bit-for-bit (pinned in
 * SqIndexSpec). `annSqIncremental` proves build(evens)+append(odds) ≡
 * the one-shot build against annSq's own oracle VERBATIM (per-vector
 * codes make the merged relation identical, not just equivalent);
 * `annSqRemoved` proves deletion against the survivors-filtered
 * mirror.
 *
 * 100 TB notes: `recon` is the only corpus-sized relation (N rows of
 * dim longs — in production SQ ships the int8 codes + 2 scalars and
 * reconstructs in the scan; the engine stores the reconstruction
 * because exact-integer replay is the contract here); queries broadcast
 * over ONE scan of it, and the raw-vector re-read touches shortlist·Q
 * rows only. Appends cost one quantize pass over the batch; removals
 * one scan-and-filter (the compaction-style full form).
 */
object SqIndex extends Store {

  def name = "sq"
  def relations = Seq("recon")
  def input = Store.Vectors

  /** Build (overwrite) the store from a (vec_id, em, nrm) vectors
    * frame ([[DataOps.emb]] shape). */
  def buildFrom(spark: SparkSession, v: DataFrame,
      indexDir: String): Unit = {
    StoreDirs.replaceParquet(DataOps.sqRecon(spark, v),
      s"$indexDir/recon")
    ()
  }

  /** INCREMENTAL MAINTENANCE — add a (vec_id, em, nrm) vector batch
    * (vec_ids disjoint from the store's): each vector's SQ8 code is a
    * pure function of its OWN values, so the append is one quantize
    * pass over the batch and any decomposition yields the identical
    * store (pinned in SqIndexSpec; hash-audited by
    * `annSqIncremental`). */
  def appendBatch(spark: SparkSession, v: DataFrame,
      indexDir: String, tag: String): Unit = {
    StoreDirs.appendOnce(DataOps.sqRecon(spark, v),
      s"$indexDir/recon", tag)
    ()
  }

  /** DELETION — forget a vec_id set (FAISS `remove_ids`): one
    * anti-join rewrite of the reconstruction relation; exact inverse
    * of [[appendBatch]] (SqIndexSpec), hash-audited by
    * `annSqRemoved`. */
  def removeBatch(spark: SparkSession, vecIds: DataFrame,
      indexDir: String): Unit = {
    val kept = spark.read.parquet(s"$indexDir/recon")
      .join(broadcast(vecIds.select(col("vec_id"))), Seq("vec_id"),
        "left_anti")
    StoreDirs.replaceParquet(kept, s"$indexDir/recon")
    ()
  }

  /** COMPACTION — rewrite the reconstruction relation into
    * one-file layout sorted by vec_id, folding the
    * one-file-set-per-[[appendBatch]] pileup; contents bit-identical
    * (SqIndexSpec). */
  override def compact(spark: SparkSession, indexDir: String): Unit = {
    val recon = spark.read.parquet(s"$indexDir/recon")
      .repartition(1)
      .sortWithinPartitions(col("vec_id"))
    StoreDirs.replaceParquet(recon, s"$indexDir/recon")
    ()
  }

  /** Probe-only ANN against the stored reconstruction: NO quantization
    * work. `queries` must carry (q_id, qem, qn) ([[DataOps.annQueries]]
    * shape). */
  def queryAgainst(spark: SparkSession, queries: DataFrame,
      indexDir: String, sfDir: String): DataFrame =
    DataOps.sqProbe(spark, queries,
      spark.read.parquet(s"$indexDir/recon"),
      DataOps.emb(spark, sfDir))

  /** Registry form — the full round-trip: build (write) the store,
    * then answer the standard ANN query set purely from the read-back
    * relation. Result ≡ [[DataOps.annSq]] (same oracle). */
  def annSqIndexed(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(freshProbe(spark, sfDir, DataOps.emb(spark, sfDir)))(
      queryAgainst(spark, DataOps.annQueries(spark, sfDir),
        built(spark, sfDir), sfDir))

  /** The registry entries' plan-only stand-in: the probe plan over a
    * fresh reconstruction of `coded` (plan-identical to the store read
    * by design). */
  private def freshProbe(spark: SparkSession, sfDir: String,
      coded: DataFrame): DataFrame =
    DataOps.sqProbe(spark, DataOps.annQueries(spark, sfDir),
      DataOps.sqRecon(spark, coded), DataOps.emb(spark, sfDir))

  /** Registry form of the INCREMENTAL path: build from the even-vec_id
    * half, [[appendBatch]] the odd half, probe the standard query set
    * from the merged store. Per-vector codes make the merged relation
    * IDENTICAL to a one-shot build, so the result shares
    * [[DataOps.annSq]]'s oracle verbatim. */
  def annSqIncremental(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(freshProbe(spark, sfDir, DataOps.emb(spark, sfDir)))(
      queryAgainst(spark, DataOps.annQueries(spark, sfDir),
        appended(spark, sfDir), sfDir))

  /** STORE TELEMETRY — the K4/K9 statsOf discipline on the SQ8 store:
    * one row (n_vectors, n_elems, sum_r254), read purely off the
    * reconstruction relation. `sum_r254` is the value checksum — it
    * pins every stored reconstruction element, so a store whose codes
    * drifted by even one quantization step fails the audit while all
    * cardinalities still match. */
  def statsOf(spark: SparkSession, indexDir: String): DataFrame =
    reconStats(spark.read.parquet(s"$indexDir/recon"))

  private def reconStats(recon: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{count, count_distinct,
      explode, lit, sum}
    recon.select(col("vec_id"), explode(col("r254")).as("x"))
      .agg(count_distinct(col("vec_id")).as("n_vectors"),
        count(lit(1)).as("n_elems"),
        sum(col("x")).cast("long").as("sum_r254"))
  }

  /** Registry form of the telemetry — over the APPEND-MAINTAINED store
    * (shares [[annSqIncremental]]'s [[appended]]
    * store): the oracle recomputes the numbers from the full embeddings
    * table, so the entry audits that incremental maintenance left the
    * store equal to corpus truth — a missed or double append breaks
    * the checksum, not just the row count. */
  def sqStats(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(
      reconStats(DataOps.sqRecon(spark, DataOps.emb(spark, sfDir))))(
      statsOf(spark, appended(spark, sfDir)))

  /** Registry form of the DELETION path: build over the full corpus,
    * [[removeBatch]] the odd vec_ids, probe — no victim may surface in
    * any shortlist (oracle = the annSq mirror with its codes filtered
    * to the survivors). */
  def annSqRemoved(spark: SparkSession, sfDir: String): DataFrame =
    Exec.planOnlyOr(freshProbe(spark, sfDir,
        DataOps.emb(spark, sfDir).where(col("vec_id") % 2 === 0)))(
      queryAgainst(spark, DataOps.annQueries(spark, sfDir),
        removed(spark, sfDir), sfDir))
}
