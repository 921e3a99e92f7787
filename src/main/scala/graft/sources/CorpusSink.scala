package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.DataOps

/**
 * The publish step of the curation pipeline: write the retained corpus
 * ([[DataOps.retentionDecision]] keep = 1) as parquet PARTITIONED BY
 * LANGUAGE — the layout downstream training jobs prune on (`WHERE lang =
 * 'en'` reads only that directory).
 *
 * Scale shape: `repartition(lang)` before the write gives one shuffle
 * that routes each partition's rows to few writer tasks (without it,
 * every task writes a file into every lang directory — the
 * small-files explosion), and `MaxRecordsPerFile` re-splits oversized
 * partitions so a dominant language still parallelizes on read. At
 * 100 TB the same two knobs are the difference between 10^3 and 10^6
 * output files.
 */
object CorpusSink {

  /** The per-file row cap that re-splits a dominant language. */
  private val MaxRecordsPerFile = 1000000L

  /** Write the curated corpus under `outDir/lang=<l>/...`; returns the
    * kept-document frame that was written. */
  def writeCurated(spark: SparkSession, sfDir: String,
      outDir: String): DataFrame = {
    val kept = DataOps.retentionDecision(spark, sfDir)
      .where(col("keep") === 1L)
      .select(col("doc_id"))
    val curated = spark.read.parquet(s"$sfDir/documents.parquet")
      .join(kept, Seq("doc_id"))
    curated
      .repartition(col("lang"))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", MaxRecordsPerFile)
      .partitionBy("lang")
      .parquet(outDir)
    curated
  }

  /** DELETION — forget a doc_id set from the published lang-partitioned
    * corpus with a PARTITION-PRUNED rewrite: the victims' languages are
    * resolved first (one broadcast-semi probe of the published corpus —
    * the language list is dims-sized, so collecting it is driver-side
    * metadata work, not data work), then ONLY the affected `lang=<l>`
    * directories rewrite without their victims; every other partition's
    * files are untouched. At 100 TB that is the difference between
    * rewriting a few languages' worth of files and rewriting the
    * corpus for every right-to-be-forgotten request. Per-partition
    * rewrite (not dynamic partition overwrite) so a partition whose
    * EVERY document is forgotten still rewrites to empty instead of
    * silently surviving. Each partition rewrite is write-then-rename
    * ([[StoreDirs.replaceParquet]]) — a crash mid-request leaves every
    * touched partition whole — staged under HIDDEN `.`-prefixed leaf
    * names (`.staging_lang=<v>` / `.old_lang=<v>`): Spark partition
    * discovery skips `.`-prefixed paths unconditionally (`_`-prefixed
    * names containing '=' are still parsed as partitions), so a crash leftover can
    * never be parsed as a bogus `lang='v.old'` partition that would
    * resurrect forgotten documents for every corpus-root reader. A
    * [[recoverPartitionSwaps]] sweep at entry restores any partition a
    * prior crash left parked at its `.old_` name and clears stale
    * staging. The directory name goes through the SAME escaping Spark
    * used to write it (ExternalCatalogUtils.escapePathName), so a
    * language value carrying a space/'%'/':' still resolves to its
    * on-disk `lang=<escaped>` directory instead of silently
    * surviving. */
  def deleteDocs(spark: SparkSession, docIds: DataFrame,
      outDir: String): Unit = {
    recoverPartitionSwaps(spark, outDir)
    val ids = docIds.select(col("doc_id"))
    val affected = spark.read.parquet(outDir)
      .join(broadcast(ids), Seq("doc_id"), "left_semi")
      .select(col("lang").cast("string")).distinct()
      .collect().map(_.getString(0))
    affected.foreach { l =>
      val escaped = org.apache.spark.sql.catalyst.catalog
        .ExternalCatalogUtils.escapePathName(l)
      val part = s"$outDir/lang=$escaped"
      val kept = spark.read.parquet(part)
        .join(broadcast(ids), Seq("doc_id"), "left_anti")
      StoreDirs.replaceParquet(kept, part,
        stagingPath = s"$outDir/.staging_lang=$escaped",
        oldPath = s"$outDir/.old_lang=$escaped")
    }
    ()
  }

  /** CRASH RECOVERY for the partition-pruned rewrite above: a JVM death
    * between [[StoreDirs.replaceParquet]]'s two renames leaves the
    * complete partition parked at `.old_lang=<v>` (invisible to
    * readers, NOT lost) — rename it back; an `.old_` whose live
    * partition exists is an obsolete pre-swap copy — drop it; any
    * `.staging_lang=<v>` is an incomplete rewrite — drop it (the
    * forget request replays from the live partition). Idempotent, ran
    * at every [[deleteDocs]] entry. */
  def recoverPartitionSwaps(spark: SparkSession, outDir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      if (name.startsWith(".old_lang=")) {
        val live = new org.apache.hadoop.fs.Path(root,
          name.stripPrefix(".old_"))
        if (!fs.exists(live)) {
          if (!fs.rename(st.getPath, live))
            sys.error(s"recovery rename ${st.getPath} -> $live " +
              "returned false")
        } else { fs.delete(st.getPath, true); () }
      } else if (name.startsWith(".staging_lang=")) {
        fs.delete(st.getPath, true); ()
      }
    }
    ()
  }

  /** Append-mode publish of an already-curated batch (the streaming
    * ingest's per-micro-batch sink — [[graft.streaming.IngestPipeline]])
    * with the same lang-partitioned layout discipline as
    * [[writeCurated]]: one shuffle routes each language to few writer
    * tasks, `MaxRecordsPerFile` re-splits a dominant language. */
  def appendCurated(batch: DataFrame, outDir: String,
      tag: String = null): Unit = {
    StoreDirs.appendOnce(batch.repartition(col("lang")), outDir,
      tag, MaxRecordsPerFile, Seq("lang"))
    ()
  }
}
