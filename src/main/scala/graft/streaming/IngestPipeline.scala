package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.DriverThreads
import graft.pipeline.DataOps
import graft.sources.{CorpusSink, MinhashIndex, Store, StoreDirs}

/**
 * The end-to-end INGEST JOB — the data-pipeline surface in the same
 * runnable-binary form as the reference's sentiment job
 * ([[SentimentPipeline.main]] mirrors SentimentAnalysis.scala:34-227;
 * this main is its curation-side sibling): documents land in a watched
 * directory, each micro-batch flows through the already-pinned stages
 *
 *   curationStream (language-ID ∧ quality ∧ decontamination verdict,
 *     stateless — the gram set rides as one broadcast literal)
 *   → re-landed-id gate (anti-join against the `seen` ledger — a
 *     doc_id processed by ANY earlier batch is dropped, so re-landed
 *     files can never double-publish or double-count postings)
 *   → keep filter
 *   → PII redaction of the landed text ([[DataOps.piiRedacted]]; mask
 *     BEFORE anything persists)
 *   → near-dup probe against the K4 [[MinhashIndex]] store
 *     (per-batch batch-join — zero stream state, the store holds every
 *     heavy relation)
 *   → [[CorpusSink.appendCurated]] (lang-partitioned parquet publish)
 *   → every store of the [[graft.sources.Store.all]] registry absorbs
 *     the published batch, concurrently with the publish and with each
 *     other, through its own
 *     [[graft.sources.Store.Input]] projection: the search, positional
 *     and dedup stores take the redacted text (landed documents become
 *     immediately BM25- and exact-phrase-searchable, and batch N+1
 *     dedups against every batch ≤ N — CONTINUOUS ingest dedup; within
 *     ONE micro-batch documents still pass independently, the
 *     documented batch-granularity scope, with
 *     [[graft.pipeline.DataOps.dedupMinhash]] over a batch as the
 *     new-vs-new complement), the trained-model stores take the
 *     labeled text (the served classifier and importance model
 *     RETRAIN CONTINUOUSLY from what the pipeline publishes; count
 *     merges are associative, so they stay bit-identical to one-shot
 *     builds), and the vector stores take the embeddings when the
 *     batch carries them. [[graft.sources.Forget.forget]]'s removals
 *     are the exact inverses, so the append/forget loop is closed for
 *     every store this job maintains.
 *
 * with near-dup hits appended to `outDir/dups` as the audit trail.
 *
 * RESTART SAFETY: the query checkpoints under `outDir/checkpoint`,
 * every seedable store is seeded ONLY if its completeness witness is
 * absent (a restarted query resumes from committed offsets and never
 * re-delivers absorbed batches — re-seeding would wipe them while the
 * corpus keeps them),
 * and each batch runs a TWO-PHASE commit: (1) STAGE — the batch's
 * outputs (curated survivors, dup audit rows, fresh-id ledger delta)
 * are computed from the current store state and land, written
 * concurrently, under `outDir/staging/<batchId>` behind a `_staged`
 * marker touched only after all three landed; until that marker
 * exists no sink has mutated, so a crash mid-stage recomputes from
 * identical inputs. (2) APPLY — each sink/store applies FROM THE
 * FROZEN STAGED DATA behind its own `committed/<batchId>.<sink>`
 * marker; the applies run concurrently on driver threads
 * ([[graft.DriverThreads]]: a failing apply never interrupts its
 * siblings, which run to their end), and only once every one has
 * succeeded does the batch-level `committed/<batchId>` marker close
 * the batch and drop the staging directory. Applies run in no order,
 * so a crash or a failed apply can leave ANY subset of sinks marked;
 * a replay re-applies every unmarked sink from the same staged rows —
 * NOT recomputing them against stores the landed applies already
 * mutated (the dedup probe would otherwise self-match the
 * half-absorbed batch). All markers and the ledger go through the
 * Hadoop FileSystem API, and every store rewrite inside the applies is
 * write-then-rename ([[graft.sources.StoreDirs.replaceParquet]]), so
 * a JVM death never leaves a half-written relation. Since round 15
 * the former "one remaining window" — a crash BETWEEN a sink's
 * completed apply and the touch of its marker — is closed by
 * PER-RELATION ABSORBED WITNESSES: every merge lands an
 * `_absorbed_<batchId>` file inside the SAME atomic rename as the
 * merged data ([[graft.sources.StoreDirs.mergeOnce]]), every append
 * lands deterministic batch-tagged files behind a post-move witness
 * with same-tag leftovers cleared on replay
 * ([[graft.sources.StoreDirs.appendOnce]]) — so a replayed apply
 * skips what landed and redoes only what didn't, at relation
 * granularity, and every sink apply is IDEMPOTENT (pinned by the
 * kill-and-replay matrix in StoreSwapSpec). The `seen` ledger
 * additionally drops re-LANDED doc_ids (same document, different
 * batch), which the markers cannot see.
 *
 * Overlapping the applies is safe because of exactly this: each is
 * idempotent and reads and writes nothing another apply touches, so
 * every replay order converges to the same stores (the sink property
 * Structured Streaming's exactly-once delivery rests on).
 *
 * The composed DAG is therefore SEQUENTIALLY deterministic: two
 * micro-batches ≡ replaying the same two batches through
 * [[finishBatch]] + store appends (pinned in StreamingSpec, including
 * the cross-batch near-dup case and the replay no-op), and the
 * maintained search index stays ≡ a one-shot build over the published
 * corpus (the additive-append law every store keeps).
 *
 * VECTOR STORES: when the landed documents carry an `embedding`
 * column, the vector stores (the registry entries whose input is not
 * seedable) build from the FIRST published batch that carries one —
 * the PQ store FAISS-style (train the codebook on the first sample,
 * frozen-codebook `add` thereafter; the SQ store's per-vector codes
 * make the maintained relation ≡ a one-shot build) — behind an intent
 * marker that pins build-vs-append before the store mutates.
 *
 * 100 TB shape: the file source admits micro-batches by
 * `maxFilesPerTrigger`; per batch the only shuffles are the probe's
 * band join (against the store, proportional to the BATCH), the
 * publish `repartition(lang)` and the ledger anti-join (doc_id-only
 * columns); nothing grows with stream length except the stores
 * themselves, whose file pileup the `compactEvery` maintenance hook
 * folds (every store's `compact` every N batches — contents-identical
 * re-layout). The overlapped staged writes and applies let one sink's
 * small jobs fill the executor slots another sink's job leaves idle.
 */
object IngestPipeline {

  /** CLI config, [[SentimentPipeline.Config]]-style defaulted args. */
  case class Config(inDir: String = "/tmp/graft-ingest-in",
      sfDir: String = "/root/testdata/sf0.001",
      indexDir: String = "/tmp/graft-ingest-index",
      outDir: String = "/tmp/graft-ingest-out",
      compactEvery: Int = 64)

  /** Parse `--in/--sf/--index/--out/--compact-every` pairs; unknown
    * flags ignored, defaults kept — ParameterTool-style leniency. */
  def parseArgs(args: Array[String]): Config =
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--in", v))    => c.copy(inDir = v)
      case (c, Array("--sf", v))    => c.copy(sfDir = v)
      case (c, Array("--index", v)) => c.copy(indexDir = v)
      case (c, Array("--out", v))   => c.copy(outDir = v)
      case (c, Array("--compact-every", v)) =>
        c.copy(compactEvery = v.toInt)
      case (c, _)                   => c
    }

  /** The per-micro-batch tail of the DAG, after the streaming-side
    * curation verdict: keep filter → PII redaction of the landed text
    * (one projection that keeps the verdict's columns) → near-dup probe
    * against the store. Returns (curated survivors, dup audit rows).
    * Pure function of (verdict batch, store state), so the StreamingSpec
    * batch twin replays the batch sequence on static frames. */
  def finishBatch(verdict: DataFrame,
      indexDir: String): (DataFrame, DataFrame) = {
    val kept = verdict.where(col("keep") === 1L)
    val redacted = kept.select(
      col("*") +: DataOps.piiRedacted(col("text")): _*)
    val dups = MinhashIndex.dedupAgainst(verdict.sparkSession,
      redacted.select(col("doc_id"), col("clean_text").as("text")),
      indexDir)
    // A landed batch MAY carry per-document embeddings — survivors
    // keep them so the vector stores can absorb the batch.
    val base = Seq(col("doc_id"), col("lang"), col("source"),
      col("clean_text"), col("n_redacted"), col("lang_pred"),
      col("quality_micro"))
    val cols =
      if (verdict.columns.contains("embedding")) base :+ col("embedding")
      else base
    val survivors = redacted
      .join(dups.select(col("doc_id")).distinct(), Seq("doc_id"),
        "left_anti")
      .select(cols: _*)
    (survivors, dups)
  }

  /** Compose and start the DAG over a (doc_id, text, lang, source, ...)
    * document stream. The curation verdict runs IN-STREAM (stateless,
    * its benchmark gram literal is built once at plan time); the dedup
    * probe, the partitioned publish and the store absorbs run per
    * micro-batch. Each registry store lives at its
    * [[graft.sources.Store.ingestDir]]: under `outDir`, except the
    * dedup store, which lives in the caller-bootstrapped `indexDir`
    * (seeded empty like the others if the caller left it absent) and
    * absorbs the same batches, closing the loop that lets later
    * batches dedup against earlier ones. */
  def start(docStream: DataFrame, sfDir: String, indexDir: String,
      outDir: String, compactEvery: Int = 0): StreamingQuery = {
    val spark = docStream.sparkSession
    // WRITER LEASE — the two-phase markers assume ONE writer; a second
    // concurrently-started pipeline on the same outDir would interleave
    // store rewrites undetected. Acquire `outDir/_lock` (Hadoop-FS
    // create-if-absent) BEFORE any store seeds or mutates; a conflict
    // fails loudly. Re-entrant for the same JVM (a restarted
    // pipeline in the same process resumes its own lease); a clean JVM
    // exit releases it via shutdown hook, so a lingering lock means the
    // owner is either alive or died uncleanly — exactly the two cases
    // where refusing to start is right.
    acquireLease(spark, outDir, StoreDirs.jvmNonce)
    // Sweep staging/ leftovers whose batch already committed: a crash
    // between the batch-level marker touch and the staging delete
    // leaves full curated/dups copies on disk forever otherwise —
    // replayed batches short-circuit on the marker and never reach the
    // in-line cleanup.
    sweepCommittedStaging(spark, outDir, indexDir)
    // Seed each seedable store ONLY if its completeness witness is
    // absent (the dedup store's index-once discipline): a restarted
    // query resumes from committed offsets and never re-delivers
    // absorbed batches, so an unconditional re-seed would permanently
    // wipe every previously-absorbed document from the maintained
    // stores while the corpus keeps them. A crash mid-seed re-seeds —
    // the store was empty anyway. Seeding EMPTY keeps each store ≡ the
    // one-shot build over the published corpus: every append merges
    // additively.
    val emptyPublished = spark.range(0).select(col("id").as("doc_id"),
      lit("").as("lang"), lit("").as("clean_text"))
    // Each store seeds its own directory, so the seeds overlap.
    DriverThreads.overlap(spark,
      for (store <- Store.all if store.input.seedable) yield () => {
        val dir = store.ingestDir(outDir, indexDir)
        if (!StoreDirs.pathExists(spark, s"$dir/${store.witness}"))
          store.buildFrom(spark, store.input.absorb(emptyPublished).get,
            dir)
      })
    StreamingOps.curationStream(docStream, sfDir).writeStream
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val s = batch.sparkSession
        if (!StoreDirs.pathExists(s, s"$outDir/committed/$batchId")) {
          processBatch(batch.toDF(), batchId, indexDir, outDir)
          if (compactEvery > 0 && (batchId + 1) % compactEvery == 0) {
            // Contents-identical re-layouts: a crash-replay re-compacts
            // harmlessly, so these sit inside the batch marker. A
            // vector store exists only once a batch carried embeddings.
            // Each re-lays out its own directory, so they overlap.
            DriverThreads.overlap(s, Store.all.map(store => () => {
              val dir = store.ingestDir(outDir, indexDir)
              if (StoreDirs.pathExists(s, s"$dir/${store.witness}"))
                store.compact(s, dir)
            }))
          }
          StoreDirs.touchMarker(s, s"$outDir/committed/$batchId")
          val staging = new org.apache.hadoop.fs.Path(
            s"$outDir/staging/$batchId")
          staging.getFileSystem(s.sessionState.newHadoopConf())
            .delete(staging, true)
          ()
        }
      }
      .option("checkpointLocation", s"$outDir/checkpoint")
      .queryName("ingestPipeline")
      .start()
  }

  /** Acquire the single-writer lease on `outDir` or fail loudly. The
    * lock file carries the owner's writerId; acquisition is re-entrant
    * for the same owner and uses Hadoop-FS create-if-absent (losing a
    * create race re-reads the winner's identity). NOTE: create-no-
    * overwrite is atomic on HDFS; on RawLocalFileSystem/S3A two racing
    * writers can both pass the owner check in the create→read window —
    * there the lease is advisory and a coordination service (or an
    * S3 conditional PUT) is the production primitive. */
  private[graft] def acquireLease(spark: SparkSession, outDir: String,
      writerId: String): Unit = {
    val lockFile = s"$outDir/_lock"
    def owner(): String =
      scala.util.Try(StoreDirs.readMarker(spark, lockFile).trim)
        .getOrElse("")
    if (!StoreDirs.pathExists(spark, lockFile)) {
      try StoreDirs.writeMarker(spark, lockFile, writerId,
        overwrite = false)
      catch { case _: java.io.IOException => () } // lost the race — fall through to the owner check
    }
    val held = owner()
    if (held != writerId)
      throw new IllegalStateException(
        s"ingest outDir '$outDir' is leased by writer '$held' — a " +
        "second concurrent IngestPipeline on the same outDir would " +
        s"interleave store rewrites; remove $lockFile only after " +
        "confirming that writer is dead")
    if (releaseHooks.add(lockFile)) {
      // Capture the SESSION's Hadoop conf now — a bare Configuration()
      // in the hook would drop HDFS/S3 credentials and silently leave
      // the lease held forever; and log (never swallow) a failed
      // release, because the next writer is refused until the lock is
      // removed by hand.
      val conf = spark.sessionState.newHadoopConf()
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val p = new org.apache.hadoop.fs.Path(lockFile)
        try { p.getFileSystem(conf).delete(p, false); () }
        catch { case e: Exception => System.err.println(
          s"graft: FAILED to release ingest lease $lockFile " +
          s"($e) — remove it manually before the next writer starts") }
      }, s"graft-ingest-lease-release"))
      ()
    }
  }

  private val releaseHooks =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete `staging/<batchId>` directories whose batch-level
    * committed marker exists — crash leftovers between marker touch
    * and cleanup. */
  private[graft] def sweepCommittedStaging(spark: SparkSession,
      outDir: String, indexDir: String): Unit = {
    val staging = new org.apache.hadoop.fs.Path(s"$outDir/staging")
    val fs = staging.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(staging)) fs.listStatus(staging).foreach { st =>
      if (StoreDirs.pathExists(spark,
          s"$outDir/committed/${st.getPath.getName}")) {
        fs.delete(st.getPath, true); ()
      }
    }
    // Crash-leftover build-vs-append intent markers: the in-line
    // cleanup in processBatch misses a crash between the sink marker
    // and its own delete, so sweep any `_intent_<batchId>` whose sink
    // committed marker exists.
    for (store <- Store.all) {
      val root = new org.apache.hadoop.fs.Path(
        store.ingestDir(outDir, indexDir))
      if (fs.exists(root)) fs.listStatus(root).foreach { st =>
        val n = st.getPath.getName
        val batchId = n.stripPrefix("_intent_")
        if (n.startsWith("_intent_") && StoreDirs.pathExists(spark,
            s"$outDir/committed/$batchId.${store.name}")) {
          fs.delete(st.getPath, false); ()
        }
      }
    }
  }

  /** One batch's TWO-PHASE commit: STAGE (ledger gate → curation tail
    * → freeze outputs under `staging/<batchId>`, the three writes
    * overlapped) then APPLY (publish + store absorbs + ledger append,
    * overlapped, each from the staged rows behind its own marker — see
    * the RESTART SAFETY scaladoc above). */
  private def processBatch(verdict: DataFrame, batchId: Long,
      indexDir: String, outDir: String): Unit = {
    val spark = verdict.sparkSession
    val seenPath = s"$outDir/seen"
    val stagingDir = s"$outDir/staging/$batchId"
    // STAGE — until `_staged` exists no sink has mutated, so a crash
    // here recomputes from identical (batch, store) state. Once it
    // exists the outputs are frozen: replayed applies read the SAME
    // rows even though the stores change as applies land.
    if (!StoreDirs.pathExists(spark, s"$stagingDir/_staged")) {
      val fresh = (if (StoreDirs.pathExists(spark, seenPath))
          verdict.join(spark.read.parquet(seenPath), Seq("doc_id"),
            "left_anti")
        else verdict).persist()
      val (curated, dups) = finishBatch(fresh, indexDir)
      // Independent relations, written concurrently; `_staged` is
      // touched only once all three landed.
      DriverThreads.overlap(spark, Seq(
        () => StoreDirs.replaceParquet(curated, s"$stagingDir/curated"),
        () => StoreDirs.replaceParquet(dups, s"$stagingDir/dups"),
        () => StoreDirs.replaceParquet(fresh.select(col("doc_id")),
          s"$stagingDir/fresh_ids")))
      StoreDirs.touchMarker(spark, s"$stagingDir/_staged")
      fresh.unpersist()
      ()
    }
    val freshIds = spark.read.parquet(s"$stagingDir/fresh_ids")
    if (freshIds.isEmpty) return
    // EXACTLY-ONCE APPLIES (round 15): every sink's mutation is
    // batch-tagged — merges land their `_absorbed_<batchId>` witness
    // inside the SAME atomic rename as the merged data
    // ([[StoreDirs.mergeOnce]]), appends land deterministic
    // `b<batchId>-` files behind a post-move witness with same-tag
    // leftovers cleared on replay ([[StoreDirs.appendOnce]]) — so a
    // crash between a completed apply and its marker replays to the
    // sequential result instead of double-applying that sink. The
    // per-sink markers remain as the fast path (skip the whole apply,
    // plans unbuilt); the witnesses close the marker's own window.
    val tag = batchId.toString
    def marker(sink: String) = s"$outDir/committed/$batchId.$sink"
    def applyOnce(sink: String)(apply: => Unit): Unit =
      if (!StoreDirs.pathExists(spark, marker(sink))) {
        apply
        StoreDirs.touchMarker(spark, marker(sink))
      }
    val published = spark.read.parquet(s"$stagingDir/curated")
    // `committed/` exists before the fan-out, so the concurrent marker
    // touches never race on creating it.
    val committed = new org.apache.hadoop.fs.Path(s"$outDir/committed")
    committed.getFileSystem(spark.sessionState.newHadoopConf())
      .mkdirs(committed)
    def absorb(store: Store, input: DataFrame): Unit = {
      val dir = store.ingestDir(outDir, indexDir)
      if (store.input.seedable) applyOnce(store.name) {
        store.appendBatch(spark, input, dir, tag)
      } else {
        // A store that is not seeded builds from the first batch that
        // carries its input. Build-vs-append goes through an INTENT
        // marker pinned BEFORE the store mutates: deciding by store
        // content alone would let a crash between a completed
        // buildFrom and the sink marker replay as appendBatch —
        // double-coding the batch. With the intent recorded first, a
        // build replay re-runs buildFrom, which is IDEMPOTENT
        // (deterministic training, every relation lands via
        // overwrite-semantics replaceParquet).
        val intentPath = s"$dir/_intent_$batchId"
        applyOnce(store.name) {
          if (!StoreDirs.pathExists(spark, intentPath))
            StoreDirs.writeMarker(spark, intentPath,
              if (StoreDirs.pathExists(spark, s"$dir/${store.witness}"))
                "append"
              else "build")
          if (StoreDirs.readMarker(spark, intentPath) == "build")
            store.buildFrom(spark, input, dir)
          else store.appendBatch(spark, input, dir, tag)
        }
        // The intent only pins build-vs-append BEFORE the mutation;
        // once the sink's committed marker exists a replay never reads
        // it again, so drop it — otherwise a long-running stream
        // accumulates one marker file per batch inside the store root.
        if (StoreDirs.pathExists(spark, marker(store.name)))
          StoreDirs.deletePath(spark, intentPath)
      }
    }
    DriverThreads.overlap(spark, Seq[() => Unit](
      () => applyOnce("dups") {
        StoreDirs.appendOnce(spark.read.parquet(s"$stagingDir/dups"),
          s"$outDir/dups", tag)
      },
      () => applyOnce("corpus") {
        CorpusSink.appendCurated(published, s"$outDir/corpus", tag = tag)
      }) ++
      (for (store <- Store.all; input <- store.input.absorb(published))
        yield () => absorb(store, input)) :+
      (() => applyOnce("seen") {
        StoreDirs.appendOnce(freshIds, seenPath, tag)
      }))
  }

  /** The job form: bootstrap the dedup store from the existing corpus
    * if absent (index-once), then watch `--in` for landing document
    * parquet and curate until terminated.
    *
    * The session's generated-code cache holds 512 classes, not Spark's
    * 100: one steady batch touches about 160 cache keys (98 distinct
    * whole-stage sources, most compiled once on a driver thread and once
    * in a task, because the cache keys on the context classloader too).
    * At 100 entries every steady batch of the benchmark's ingest-stream
    * workload re-ran about 150 Janino compiles and JIT-compiled the fresh
    * classes again; at 512 it ran 0 to 3 (4 cores). 512 is about three
    * times the working set. Spark reads the setting once per JVM, at the
    * first code generation, so it holds only for a session built before
    * any query ran. */
  def main(args: Array[String]): Unit = {
    val config = parseArgs(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("Graft Ingest")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", 512L)
      .getOrCreate()
    val corpus = spark.read
      .parquet(s"${config.sfDir}/documents.parquet")
    if (!StoreDirs.pathExists(spark, s"${config.indexDir}/bands")) {
      MinhashIndex.build(spark,
        corpus.select(col("doc_id"), col("text")), config.indexDir)
    }
    val docStream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 8)
      .parquet(config.inDir)
    start(docStream, config.sfDir, config.indexDir, config.outDir,
      config.compactEvery)
    spark.streams.awaitAnyTermination()
  }
}
