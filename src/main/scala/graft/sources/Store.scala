package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * The LIFECYCLE CONTRACT every persistent store shares, and the one
 * ordered registry ([[Store.all]]) the composition sites loop over —
 * [[graft.streaming.IngestPipeline]] (seed, absorb, compact, intent
 * sweep), [[Forget]] (composed removal) and the store-law specs. A new
 * store is one registry entry: it is then seeded, absorbed, compacted,
 * forgotten and law-checked without touching any composition site.
 *
 * The laws every store keeps (StoreLifecyclePropertiesSpec checks them
 * generically over [[Store.all]] on random corpora):
 *   - appends associate: append(append(S, B1), B2) ≡ append(S, B1 ∪ B2);
 *   - removal is the exact inverse: remove(append(S, B), B) ≡ S;
 *   - a same-tag append replay is a no-op (the exactly-once witness,
 *     [[StoreDirs.mergeOnce]] / [[StoreDirs.appendOnce]]);
 *   - [[compact]] leaves the contents unchanged.
 */
trait Store {

  /** Sink name: the ingest job's `committed/<batchId>.<name>` marker and
    * the store's default directory name. */
  def name: String

  /** The store's relations (subdirectories) in the order [[buildFrom]]
    * writes them. */
  def relations: Seq[String]

  /** The completeness witness: the LAST relation a build writes, so its
    * presence means a build finished (a crash mid-build re-builds). */
  final def witness: String = relations.last

  /** What the store absorbs from a published batch and removes by. */
  def input: Store.Input

  /** The store's directory under an ingest job's `outDir` (the dedup
    * store lives in the caller-bootstrapped `indexDir`). */
  def ingestDir(outDir: String, indexDir: String): String =
    s"$outDir/$name"

  /** Build (overwrite) the store from an [[input]]-shaped frame. */
  def buildFrom(spark: SparkSession, input: DataFrame, dir: String): Unit

  /** Build (overwrite) the store from an sf directory's documents (the
    * vector stores: its embeddings). */
  def build(spark: SparkSession, sfDir: String, dir: String): Unit =
    buildFrom(spark, input.fromSfDir(spark, sfDir), dir)

  /** Absorb an [[input]]-shaped batch; `tag` names the batch for the
    * exactly-once witness (null: untagged). */
  def appendBatch(spark: SparkSession, batch: DataFrame, dir: String,
      tag: String = null): Unit

  /** Remove a previously-absorbed batch, keyed as [[input]] says. */
  def removeBatch(spark: SparkSession, keys: DataFrame, dir: String): Unit

  /** Contents-identical re-layout of the per-append file pileup into one
    * file per relation; a no-op for stores whose appends rewrite their
    * KB-sized relations wholesale. */
  def compact(spark: SparkSession, dir: String): Unit = ()

  /** One-row telemetry read purely off the store relations. */
  def statsOf(spark: SparkSession, dir: String): DataFrame

  /** The registry fixtures. Each returns the store's scratch directory
    * for an sf directory's [[input]], built once per (JVM, store, kind,
    * sf directory) through [[StoreDirs.once]], so every registry entry
    * of one kind probes the same build. The entries' oracles replay
    * these exact splits by id parity. [[built]] is [[build]]. */
  final def built(spark: SparkSession, sfDir: String): String =
    fixture("built", sfDir)(build(spark, sfDir, _))

  /** Built from the even ids, then the odd ids appended. */
  final def appended(spark: SparkSession, sfDir: String): String =
    fixture("appended", sfDir) { dir =>
      val rows = input.fromSfDir(spark, sfDir)
      buildFrom(spark, rows.where(col(input.id) % 2 === 0), dir)
      appendBatch(spark, rows.where(col(input.id) % 2 === 1), dir)
    }

  /** Built from every id, then the odd ids removed. */
  final def removed(spark: SparkSession, sfDir: String): String =
    fixture("removed", sfDir) { dir =>
      build(spark, sfDir, dir)
      removeBatch(spark, input.keys(input.fromSfDir(spark, sfDir)
        .where(col(input.id) % 2 === 1)), dir)
    }

  private def fixture(kind: String, sfDir: String)(
      body: String => Unit): String = {
    val dir = StoreDirs.tmpStoreDir(s"graft-$name-$kind", sfDir)
    StoreDirs.once(dir)(body(dir))
    dir
  }
}

object Store {

  /** A store's input kind: the projection it absorbs from a published
    * curated batch (doc_id, lang, clean_text[, embedding]), the same
    * input read off an sf directory, and the key its removal takes. */
  sealed trait Input {
    /** The absorbed projection, or None when the batch lacks it. */
    def absorb(published: DataFrame): Option[DataFrame]
    /** The input read off an sf directory. */
    def fromSfDir(spark: SparkSession, sfDir: String): DataFrame
    /** Seeded empty at ingest start; otherwise built from the first
      * batch that carries the input. */
    def seedable: Boolean = true
    /** The id column of the input rows. */
    def id: String = "doc_id"
    /** The removal key [[removeBatch]] takes, projected from victim
      * rows in the input's shape ([[Forget]] and [[removed]] both
      * call it). */
    def keys(rows: DataFrame): DataFrame = rows.select(col(id))
  }

  /** (doc_id, text); removes by (doc_id). */
  case object Text extends Input {
    def absorb(published: DataFrame): Option[DataFrame] =
      Some(published.select(col("doc_id"), col("clean_text").as("text")))
    def fromSfDir(spark: SparkSession, sfDir: String): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
  }

  /** (doc_id, lang, text); removes by the victims' (doc_id, lang, text)
    * — a count store keeps no per-document relation, so the caller
    * supplies the labeled text it trained with. */
  case object Labeled extends Input {
    def absorb(published: DataFrame): Option[DataFrame] =
      Some(published.select(col("doc_id"), col("lang"),
        col("clean_text").as("text")))
    def fromSfDir(spark: SparkSession, sfDir: String): DataFrame =
      spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
    override def keys(rows: DataFrame): DataFrame =
      rows.select(col("doc_id"), col("lang"), col("text"))
  }

  /** (vec_id, em, nrm) under vec_id = doc_id; removes by (vec_id).
    * Present only when the batch carries an `embedding` column, so the
    * store is built from the first such batch (a PQ codebook needs
    * vectors to train on). */
  case object Vectors extends Input {
    def absorb(published: DataFrame): Option[DataFrame] =
      if (!published.columns.contains("embedding")) None
      else Some(published
        .select(col("doc_id").as("vec_id"),
          graft.functions.MicroVecExpr.micro(published.sparkSession,
            col("embedding")).as("em"))
        .withColumn("nrm", graft.functions.VecDotExpr.dot(
          published.sparkSession, col("em"), col("em"))))
    def fromSfDir(spark: SparkSession, sfDir: String): DataFrame =
      graft.pipeline.DataOps.emb(spark, sfDir)
    override def seedable: Boolean = false
    override def id: String = "vec_id"
  }

  /** The seven stores. The ingest job seeds, absorbs and compacts them
    * concurrently; [[Forget]] removes in this order. */
  val all: Seq[Store] = Seq(PostingsIndex, PositionsIndex, MinhashIndex,
    LangProfileStore, DsirStore, PqIndex, SqIndex)

  /** `stores` laid out one per `<root>/<name>` directory — the
    * [[Forget.forget]] argument shape. */
  def under(root: String, stores: Seq[Store] = all): Seq[(Store, String)] =
    stores.map(s => s -> s"$root/${s.name}")
}
