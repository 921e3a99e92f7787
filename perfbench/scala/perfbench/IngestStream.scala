package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.{CorpusSink, DsirStore, LangProfileStore, MinhashIndex,
  PositionsIndex, PostingsIndex}
import graft.streaming.{IngestPipeline, StreamingOps}

/** ingest-stream: `IngestPipeline.start` over a `MemoryStream` of
  * documents, one fixed-size batch landing at a time (closed loop). The
  * dedup store is bootstrapped from a separate 500-document corpus that
  * shares no text with the streamed ones, so near-dup rejections come from
  * the store absorbing earlier batches. The streamed corpus holds exactly
  * the documents that land: two warm batches (untimed, part of set-up) and
  * one timed batch per nominal 15 s of --seconds (at least one). The seed
  * sets the order in which the documents land. */
object IngestStream {
  val BootDocs = 500
  val StreamTextSeed = 20261018L
  val BootTextSeed = 20261019L
  val BootIdBase = 100000000L
  val BatchDocs = 250
  /** The first batch lands into empty stores and the second is the first
    * append to non-empty ones; both are set-up. */
  val WarmBatches = 2
  val NominalBatchS = 15.0
  val Cols = Seq("doc_id", "lang", "source", "clean_text", "n_redacted",
    "lang_pred", "quality_micro")
  /** Every relation of every store the pipeline maintains, under its
    * output (or dedup-index) directory. */
  val Stores: Seq[(String, Seq[String])] = Seq(
    "corpus" -> Seq("corpus"),
    "postings" -> Seq("index/postings", "index/doclen", "index/vocab",
      "index/stats"),
    "positions" -> Seq("positions/positions"),
    "minhash" -> Seq("idx:shingles", "idx:bands"),
    "lang" -> Seq("lang/counts", "lang/profiles"),
    "dsir" -> Seq("dsir/stats"))

  type DocRow = (Long, String, String, String, Long)

  final case class Setup(sfDir: String, bootIdx: String,
      batches: IndexedSeq[Seq[DocRow]], boot: DataFrame)

  def timedBatches(seconds: Double): Int =
    math.max(1, math.round(seconds / NominalBatchS).toInt)

  /** Generates the streamed corpus (in seeded landing order, cut into
    * batches) and the bootstrap corpus, and builds the dedup store. */
  def setup(spark: SparkSession, seed: Long, nBatches: Int,
      dir: String): Setup = {
    val docs = new scala.util.Random(seed)
      .shuffle(Gen.documents(nBatches * BatchDocs, StreamTextSeed).toVector)
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/sf/documents.parquet")
    val boot = spark.createDataFrame(
      Gen.documents(BootDocs, BootTextSeed, BootIdBase)).select("doc_id", "text")
    MinhashIndex.build(spark, boot, s"$dir/bootidx")
    Setup(s"$dir/sf", s"$dir/bootidx",
      docs.map(d => (d.doc_id, d.text, d.lang, d.source, d.n_chars))
        .grouped(BatchDocs).toIndexedSeq, boot)
  }

  final class Pipe(spark: SparkSession, sfDir: String, indexDir: String,
      outDir: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    val in: MemoryStream[DocRow] = MemoryStream[DocRow]
    val q: StreamingQuery = IngestPipeline.start(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      sfDir, indexDir, outDir)

    def land(batch: Seq[DocRow]): Unit = {
      in.addData(batch)
      q.processAllAvailable()
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (ctx.traced) Some(JobStats.attach(spark)) else None
    val nTimed = timedBatches(ctx.seconds)
    val out = ctx.dir("ingest-out")

    // Set-up: generate, bootstrap the dedup store, start the pipeline and
    // land the warm batches untimed. The forced collections of the heap
    // sample come before the last warm batch: right before the first timed
    // batch they made it up to a fifth slower.
    val t0 = System.nanoTime()
    val su = setup(spark, ctx.seed, WarmBatches + nTimed, ctx.dir("ingest"))
    val tGen = System.nanoTime()
    val pipe = new Pipe(spark, su.sfDir, su.bootIdx, out)
    val tStart = System.nanoTime()
    su.batches.take(WarmBatches).zipWithIndex.foreach { case (b, i) =>
      if (i == WarmBatches - 1) Heap.sample()
      pipe.land(b)
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    res.notes("setup_generate_bootstrap_s") = ((tGen - t0) / 1e9, "s")
    res.notes("setup_pipeline_start_s") = ((tStart - tGen) / 1e9, "s")
    res.notes("setup_warm_batch_s") = ((System.nanoTime() - tStart) / 1e9, "s")
    progress.await("ingestPipeline", WarmBatches - 1L)
    progress.clear()
    jobs.foreach(_.reset())

    val t1 = System.nanoTime()
    val fresh = (WarmBatches until WarmBatches + nTimed).map { b =>
      val landMs = System.currentTimeMillis()
      pipe.land(su.batches(b))
      val marker = new java.io.File(s"$out/committed/$b")
      res.attempted += 1
      if (marker.exists()) (marker.lastModified() - landMs) / 1000.0
      else { res.failed += 1; Double.PositiveInfinity }
    }
    val elapsed = (System.nanoTime() - t1) / 1e9
    progress.await("ingestPipeline", WarmBatches + nTimed - 1L)
    fresh.zipWithIndex.foreach { case (f, i) =>
      res.notes(s"ingest_batch_${WarmBatches + i}_fresh_s") = (f, "s")
    }
    Heap.sample()
    pipe.q.stop()
    val nDocs = su.batches.drop(WarmBatches).map(_.size).sum

    val (tailS, tailPct, tailN) = Stats.tail(fresh)
    res.endToEnd("setup_s") = (setupS, "s")
    res.endToEnd("heap_peak_mb") = (Heap.peakMb, "MB")
    res.endToEnd("work_per_s") = (nDocs / elapsed, "1/s")
    res.endToEnd("latency_p50_ms") = (Stats.median(fresh) * 1000, "ms")
    res.endToEnd("latency_tail_ms") = (tailS * 1000, "ms")
    res.notes("ingest_docs_per_s") = (nDocs / elapsed, "1/s")
    res.notes("ingest_fresh_p50_s") = (Stats.median(fresh), "s")
    res.notes("ingest_fresh_tail_percentile") = (tailPct, "%")
    res.notes("ingest_timed_batches") = (tailN.toDouble, "count")
    res.notes("input_docs_landed") = (su.batches.map(_.size).sum.toDouble,
      "count")

    val landedDf = spark.createDataFrame(su.batches.flatten)
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val tCheck = System.nanoTime()
    check(ctx, su, out, landedDf)
    res.notes("check_s") = ((System.nanoTime() - tCheck) / 1e9, "s")

    if (ctx.traced) {
      val ps = progress.of("ingestPipeline").filter(_.numInputRows > 0)
      Layers.streaming(res, "ingest", ps, stateful = false)
      jobs.foreach { j =>
        Thread.sleep(200)
        Layers.spark(res, j, ps.size)
      }
      storeLayout(ctx, su, out, su.batches.map(_.size).sum)
      replay(ctx, su, out,
        Stats.mean(ps.map(ProgressLog.dur(_, "addBatch"))) / 1000.0)
    }
  }

  private def rel(su: Setup, out: String, r: String): String =
    if (r.startsWith("idx:")) s"${su.bootIdx}/${r.stripPrefix("idx:")}"
    else s"$out/$r"

  /** Same rows, duplicates counted, order ignored (the relations are
    * small enough to compare in this JVM). */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def rows(df: DataFrame) =
      df.select(df.columns.sorted.map(col): _*).collect().map(_.toString).sorted
    rows(a).sameElements(rows(b))
  }

  /** Every landed document is published, rejected as a near-dup or dropped
    * by curation — exactly one of the three — and the maintained postings
    * store equals a one-shot build over the published corpus. */
  private def check(ctx: Ctx, su: Setup, out: String,
      landed: DataFrame): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val corpus = spark.read.parquet(s"$out/corpus")
    def ids(df: DataFrame): Seq[Long] =
      df.select("doc_id").collect().map(_.getLong(0)).toSeq
    val pubIds = ids(corpus)
    val dupIds = ids(spark.read.parquet(s"$out/dups")).distinct
    val verdict = StreamingOps.curationStream(landed, su.sfDir)
    val dropIds = ids(verdict.where(col("keep") =!= 1L))
    val landedIds = su.batches.flatten.map(_._1)
    val nPub = pubIds.size.toLong
    val nDup = dupIds.size.toLong
    val nLanded = landedIds.size.toLong
    res.check((pubIds ++ dupIds ++ dropIds).sorted == landedIds.sorted,
      s"ingest: $nLanded landed docs, but published $nPub + near-dup $nDup " +
        s"+ curation-dropped ${dropIds.size} do not account for each " +
        "exactly once")
    res.check(nDup > 0, "ingest: no near-duplicate was rejected")
    val oneShot = ctx.dir("ingest-oneshot")
    PostingsIndex.buildFrom(spark,
      corpus.select(col("doc_id"), col("clean_text").as("text")), oneShot)
    for (r <- Seq("postings", "doclen", "vocab", "stats"))
      res.check(sameRows(spark.read.parquet(s"$out/index/$r"),
          spark.read.parquet(s"$oneShot/$r")),
        s"ingest: maintained postings store '$r' differs from a one-shot " +
          "PostingsIndex.buildFrom over the published corpus")
    val kept = nLanded - dropIds.size
    res.notes("ingest_published") = (nPub.toDouble, "count")
    res.notes("ingest_near_dups") = (nDup.toDouble, "count")
    if (ctx.traced) {
      res.perLayer("ingest.keep_ratio") = (kept.toDouble / nLanded, "ratio")
      res.perLayer("ingest.keep_base") = (nLanded.toDouble, "count")
      res.perLayer("ingest.dup_ratio") =
        (nDup.toDouble / math.max(1L, kept), "ratio")
      res.perLayer("ingest.dup_base") = (kept.toDouble, "count")
    }
  }

  private def storeLayout(ctx: Ctx, su: Setup, out: String,
      nDocs: Int): Unit = {
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    for ((store, rels) <- Stores) {
      val fs = rels.flatMap(r => files(new java.io.File(rel(su, out, r))))
      ctx.res.perLayer(s"sources.$store.files") = (fs.size.toDouble, "count")
      ctx.res.perLayer(s"sources.$store.bytes_per_doc") =
        (fs.map(_.length).sum.toDouble / math.max(1, nDocs), "bytes")
    }
  }

  /** The streamed batches again, through the public per-batch calls, one
    * span each, into a second set of stores; then the drift guard: the
    * replayed stores must equal the streamed ones. `addBatchS` is the
    * streamed mean per-batch foreachBatch time. */
  private def replay(ctx: Ctx, su: Setup, out: String,
      addBatchS: Double): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val dir = ctx.dir("ingest-replay")
    val idx = s"$dir/bootidx"
    MinhashIndex.build(spark, su.boot, idx)
    val empty = spark.range(0).select(col("id").as("doc_id"), lit("").as("text"))
    val emptyLabeled = spark.range(0).select(col("id").as("doc_id"),
      lit("").as("lang"), lit("").as("text"))
    PostingsIndex.buildFrom(spark, empty, s"$dir/index")
    PositionsIndex.buildFrom(spark, empty, s"$dir/positions")
    LangProfileStore.buildFrom(spark, emptyLabeled, s"$dir/lang")
    DsirStore.buildFrom(spark, emptyLabeled, s"$dir/dsir")
    val spans = ctx.spans
    for ((batch, b) <- su.batches.zipWithIndex) {
      val tag = b.toString
      val id = s"batch-$b"
      val docs = spark.createDataFrame(batch)
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      val verdict = spans.span("ingest.curation_s", id) {
        val v = StreamingOps.curationStream(docs, su.sfDir).persist()
        v.count()
        v
      }
      spans.span("ingest.finish_s", id) {
        val (curated, dups) = IngestPipeline.finishBatch(verdict, idx)
        curated.write.parquet(s"$dir/staging/$b/curated")
        dups.write.parquet(s"$dir/staging/$b/dups")
      }
      verdict.unpersist()
      val published = spark.read.parquet(s"$dir/staging/$b/curated")
      val pubText = published.select(col("doc_id"),
        col("clean_text").as("text"))
      val pubLabeled = published.select(col("doc_id"), col("lang"),
        col("clean_text").as("text"))
      spark.read.parquet(s"$dir/staging/$b/dups").write.mode("append")
        .parquet(s"$dir/dups")
      spans.span("sources.corpus.append_s", id) {
        CorpusSink.appendCurated(published, s"$dir/corpus", tag = tag)
      }
      spans.span("sources.postings.append_s", id) {
        PostingsIndex.appendBatch(spark, pubText, s"$dir/index", tag)
      }
      spans.span("sources.positions.append_s", id) {
        PositionsIndex.appendBatch(spark, pubText, s"$dir/positions", tag)
      }
      spans.span("sources.minhash.append_s", id) {
        MinhashIndex.appendBatch(spark, pubText, idx, tag)
      }
      spans.span("sources.lang.append_s", id) {
        LangProfileStore.appendBatch(spark, pubLabeled, s"$dir/lang", tag)
      }
      spans.span("sources.dsir.append_s", id) {
        DsirStore.appendBatch(spark, pubLabeled, s"$dir/dsir", tag)
      }
    }
    // Per timed batch: the warm batches are replayed (the stores need
    // them) but, as in the streamed run, not counted.
    val names = Seq("ingest.curation_s", "ingest.finish_s") ++
      Stores.map { case (s, _) => s"sources.$s.append_s" }
    val warm = (0 until WarmBatches).map(b => s"batch-$b").toSet
    val perBatch = names.map { n =>
      n -> spans.named(n).filterNot(sp => warm(sp.traceId))
        .map(_.seconds).sum / (su.batches.size - WarmBatches)
    }
    perBatch.foreach { case (n, s) => res.perLayer(n) = (s, "s") }
    res.perLayer("ingest.add_batch_s") = (addBatchS, "s")
    res.perLayer("ingest.protocol_s") = (addBatchS - perBatch.map(_._2).sum, "s")

    // Drift guard: the replay must have built exactly the streamed stores.
    for ((store, rels) <- Stores; r <- rels) {
      val streamedPath = rel(su, out, r)
      val replayPath =
        if (r.startsWith("idx:")) s"$idx/${r.stripPrefix("idx:")}"
        else s"$dir/$r"
      val cols = if (store == "corpus") Cols else Nil
      def load(p: String) = {
        val df = spark.read.parquet(p)
        if (cols.isEmpty) df else df.select(cols.map(col): _*)
      }
      res.check(sameRows(load(streamedPath), load(replayPath)),
        s"ingest replay drift: store relation '$r' differs from the " +
          "streamed run's")
    }
    res.check(sameRows(spark.read.parquet(s"$out/dups"),
        spark.read.parquet(s"$dir/dups")),
      "ingest replay drift: near-dup audit rows differ")
  }
}
