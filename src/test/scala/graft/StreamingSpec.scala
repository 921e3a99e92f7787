package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.model.Model.{MoodRec, TimedMessage}
import graft.ops.ChatOps
import graft.pipeline.ParityQueries
import graft.sources.Messages
import graft.streaming.{IngestPipeline, SentimentPipeline, StreamingOps}

/** Document row for MemoryStream-fed ingest-twin tests (mirrors the
  * driver's documents.parquet schema). */
case class DocRow(doc_id: Long, text: String, lang: String, source: String,
    n_chars: Long)

/** Streaming tests (SURVEY.md §5.4): MemoryStream-driven assertions that
  * every streaming operator's output equals its batch twin on the same
  * input, that count-window state survives micro-batch boundaries, and
  * that the socket wire parse + CLI config behave like the reference. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val SF = "/root/testdata/sf0.001"

  /** The sf0.001 message fixture as typed records, arrival order = seq. */
  private lazy val fixtureMessages: Seq[TimedMessage] =
    Messages.messages(spark, SF)
      .select("seq", "tsec", "channel", "username", "text")
      .as[(Long, Long, String, String, String)]
      .collect().toSeq.sortBy(_._1)
      .map(r => TimedMessage(r._1, r._2, r._3, r._4, r._5))

  private def freshQueryName(prefix: String): String =
    prefix + System.nanoTime()

  /** Far-future record that pushes the watermark past every fixture
    * window so append-mode sinks flush; its own window never emits. */
  private val flushRecord = TimedMessage(999999L, 100000L, "chX", "uX", "flush")

  test("streaming w1Concat equals the batch twin over the full fixture") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val name = freshQueryName("w1s")
    val q = StreamingOps.w1Concat(in.toDS())
      .writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    try {
      in.addData(fixtureMessages)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .select("wsec", "channel", "username", "text")
        .as[(Long, String, String, String)].collect().toSeq.sorted
      val batch = ParityQueries.w1(spark, SF)
        .select("wsec", "channel", "username", "text")
        .as[(Long, String, String, String)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming w2 (chained window-of-windows) equals the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val name = freshQueryName("w2s")
    // Append mode: windows only emit once the watermark passes them, so
    // feed the fixture and then one far-future dummy record to flush.
    val q = StreamingOps.w2Concat(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(fixtureMessages)
      q.processAllAvailable()
      in.addData(flushRecord)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .as[(Long, String, String, String)].collect().toSeq.sorted
      val batch = ParityQueries.w2(spark, SF)
        .select("w2sec", "channel", "username", "text")
        .as[(Long, String, String, String)].collect().toSeq.sorted
      assert(streamed == batch) // dummy's own window stays unflushed
    } finally q.stop()
  }

  test("streaming trending (two chained aggs) matches batch percentages") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val pipeline = new graft.streaming.SentimentPipeline(in.toDS())
    val name = freshQueryName("trend")
    val q = pipeline.trendingStream
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // ACROSS TRIGGERS: the fixture arrives in two event-time-ordered
      // micro-batches, so windows span state carried over a trigger
      // boundary — the share a window reports must still be computed
      // over the WHOLE window, not the per-trigger slice.
      val ordered = fixtureMessages.sortBy(m => (m.tsec, m.seq))
      val (h1, h2) = ordered.splitAt(ordered.size / 2)
      in.addData(h1)
      q.processAllAvailable()
      in.addData(h2)
      q.processAllAvailable()
      in.addData(flushRecord)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .as[(Long, String, Long, Long)].collect().toSeq.sorted
      // Batch twin over per-record granularity (the live form's input):
      // entity rows from raw messages, 10 s windows, share per window.
      val ent = ParityQueries.withSentiment(
          spark.createDataset(fixtureMessages).toDF())
        .select(col("tsec"),
          explode(graft.nlp.NlpFunctions.entityMentions(col("text"),
            graft.nlp.NlpFunctions.tokens(col("text")))).as("key"))
      val w3 = ent.groupBy(graft.ops.ChatOps.tumble(col("tsec"), 10)
          .as("w3sec"), col("key"))
        .agg(count(lit(1)).as("cnt"))
      val batch = w3.withColumn("tot",
          sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("w3sec"))))
        .select(col("w3sec"), col("key"), col("cnt"),
          round(col("cnt").cast("double") / col("tot").cast("double") *
            lit(1000000.0)).cast("long").as("pct_micro"))
        .as[(Long, String, Long, Long)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming decontamination flags the same docs as the batch form") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val name = freshQueryName("decon")
    val q = StreamingOps.decontaminateStream(
        in.toDF().toDF("doc_id", "text"), SF)
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      val docRows = spark.read.parquet(s"$SF/documents.parquet")
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      in.addData(docRows)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .select(col("doc_id"), col("contaminated").cast("long"))
        .as[(Long, Long)].collect().toMap
      assert(streamed.size == docRows.size)
      // Batch form covers the non-benchmark docs; flags must agree on all.
      val batch = graft.pipeline.DataOps.decontaminate(spark, SF)
        .select("doc_id", "contaminated").as[(Long, Long)].collect().toMap
      batch.foreach { case (id, c) =>
        assert(streamed(id) == c, s"doc $id: stream ${streamed(id)} vs $c")
      }
      // A benchmark doc with >= 1 gram collides with itself.
      assert(streamed.filter(_._1 % 97 == 0).values.exists(_ == 1L))
    } finally q.stop()
  }

  test("incremental dedup stream probes the MinhashIndex store, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-mhidx-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-mhidx-out").toString +
        "/hits"
    // corpus = even ids, indexed ONCE; the stream delivers the odd-id
    // snapshot in two micro-batches
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0), indexDir)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dedupAgainstStream(
      in.toDF().toDF("doc_id", "text"), indexDir, outDir)
    try {
      def snap(m: Long) = docs.where(col("doc_id") % 4 === m)
        .select("doc_id", "text").as[(Long, String)].collect().toSeq
      in.addData(snap(1L))
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(outDir)
        .as[(Long, Long, Long)].collect().toSet
      in.addData(snap(3L))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long)].collect().toSet
      // the second batch ADDED rows through the same store
      assert(afterB1.nonEmpty && streamed.size > afterB1.size)
      // batching is invisible: two micro-batches == one batch probe
      val batch = graft.sources.MinhashIndex.dedupAgainst(spark,
          docs.where(col("doc_id") % 2 === 1), indexDir)
        .as[(Long, Long, Long)].collect().toSet
      assert(streamed == batch)
      // store scope holds: snapshot docs only pair with indexed docs
      assert(streamed.forall { case (n, o, _) => n % 2 == 1 && o % 2 == 0 })
    } finally q.stop()
  }

  test("streaming DSIR scoring over the DsirStore == self-trained batch") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-dsirstore").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-dsirstore-out")
        .toString + "/weights"
    graft.sources.DsirStore.build(spark, SF, storeDir)
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    val (b1, b2) = docRows.splitAt(docRows.size / 2)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.dsirScoreStream(
      in.toDF().toDF("doc_id", "text"), storeDir, outDir)
    try {
      in.addData(b1)
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      in.addData(b2)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(afterB1.nonEmpty && streamed.size > afterB1.size)
      // store trained on the same corpus -> two micro-batches must
      // equal the self-trained batch query exactly
      val batch = graft.pipeline.DataOps.dsirWeights(spark, SF)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming classify over the LangProfileStore == self-trained batch") {
    implicit val sqlCtx = spark.sqlContext
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-ctstore").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-ctstore-out")
        .toString + "/preds"
    graft.sources.LangProfileStore.build(spark, SF, storeDir)
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "lang", "text")
      .as[(Long, String, String)].collect().toSeq.sortBy(_._1)
    val (b1, b2) = docRows.splitAt(docRows.size / 2)
    val in = MemoryStream[(Long, String, String)]
    val q = StreamingOps.classifyAgainstStream(
      in.toDF().toDF("doc_id", "lang", "text"), storeDir, outDir)
    try {
      in.addData(b1)
      q.processAllAvailable()
      val afterB1 = spark.read.parquet(outDir)
        .as[(Long, String, String, Long)].collect().toSet
      in.addData(b2)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, String, String, Long)].collect().toSet
      assert(afterB1.nonEmpty && streamed.size > afterB1.size)
      // store trained on the same corpus -> two micro-batches must
      // equal the self-trained batch query exactly
      val batch = graft.pipeline.DataOps.langIdNgram(spark, SF)
        .as[(Long, String, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming ANN over the PqIndex store, two micro-batches == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-pqidx-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-pqidx-out").toString +
        "/hits"
    graft.sources.PqIndex.build(spark, SF, indexDir)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.annAgainstStream(
      in.toDF().toDF("vec_id", "embedding"), indexDir, SF, outDir)
    try {
      val queries = spark.read.parquet(s"$SF/embeddings.parquet")
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val (b1, b2) = queries.splitAt(queries.size / 2)
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.sources.PqIndex.annPqIndexed(spark, SF)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming ANN over the SqIndex store, two micro-batches == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-sqidx-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-sqidx-out").toString +
        "/hits"
    graft.sources.SqIndex.build(spark, SF, indexDir)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.sqAgainstStream(
      in.toDF().toDF("vec_id", "embedding"), indexDir, SF, outDir)
    try {
      val queries = spark.read.parquet(s"$SF/embeddings.parquet")
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val (b1, b2) = queries.splitAt(queries.size / 2)
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.sources.SqIndex.annSqIndexed(spark, SF)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("toxicTopicStream fires count windows over entity moods") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val pipeline = new graft.streaming.SentimentPipeline(in.toDS())
    val name = freshQueryName("toxtopic")
    val q = pipeline.toxicTopicStream.toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // 25 messages each mentioning entity "Spark" with net-negative text
      // (spark +3, slow -4 -> mood < 0): running sums grow increasingly
      // negative, so the 25-element count window lands below -20M.
      in.addData((1 to 25).map(i =>
        TimedMessage(i.toLong, i.toLong, "ch0", "u0", "Spark is slow")))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Long)].collect().toSeq
      assert(rows.map(_._1).toSet == Set("spark"))
      assert(rows.forall(_._3 <= -20000000L))
    } finally q.stop()
  }

  test("streaming running mood (update mode) reaches the batch totals") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val name = freshQueryName("run")
    val sentimented = ParityQueries.withSentiment(in.toDS().toDF())
      .withColumnRenamed("user", "username")
    val q = StreamingOps.runningMood(sentimented)
      .writeStream.outputMode("complete").format("memory")
      .queryName(name).start()
    try {
      in.addData(fixtureMessages)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .as[(String, Long)].collect().toMap
      // Batch totals over the SAME per-record input (the pipeline feeds
      // the running reduce per record, like Flink's unwindowed keyBy).
      val batch = ParityQueries.withSentiment(
          spark.createDataset(fixtureMessages).toDF())
        .groupBy(col("user")).agg(sum(col("mood_micro")).as("t"))
        .as[(String, Long)].collect().toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("toxicWindows over one batch equals the batch countWindowSum twin") {
    implicit val sqlCtx = spark.sqlContext
    // Per-message moods are a different stream than the 1s-windowed batch
    // twin, so build the expected result with the SAME input through the
    // batch kernel: running sum + count windows over per-message moods.
    val moods = StreamingOps.perRecordMoods(
      spark.createDataset(fixtureMessages)).collect().toSeq
    val runDf = spark.createDataset(moods).toDF()
      .withColumn("run_micro", ChatOps.runningSum(col("mood_micro"),
        Seq(col("key")), Seq(col("seq"))))
    val expected = ChatOps.countWindowSum(runDf, col("key"),
        Seq(col("seq")), col("run_micro"), 10, -10L * 1000000L)
      .select("key", "grp", "mood_micro")
      .as[(String, Long, Long)].collect().toSeq.sorted

    val in = MemoryStream[MoodRec]
    val name = freshQueryName("tox")
    val q = StreamingOps.toxicWindows(in.toDS(), 10, -10L * 1000000L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(moods)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(streamed.nonEmpty && streamed == expected)
    } finally q.stop()
  }

  test("toxicWindows state carries across micro-batch boundaries") {
    implicit val sqlCtx = spark.sqlContext
    // 25 records of -2M for one key: windows of 10 fire at records 10 and
    // 20 regardless of how the stream is chopped into batches.
    val recs = (1 to 25).map(i => MoodRec("u", i.toLong, i.toLong, -2000000L))
    val in = MemoryStream[MoodRec]
    val name = freshQueryName("toxsplit")
    val q = StreamingOps.toxicWindows(in.toDS(), 10, -10L * 1000000L)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(recs.take(7))   // mid-window cut
      q.processAllAvailable()
      assert(spark.table(name).count() == 0) // partial window: nothing yet
      in.addData(recs.slice(7, 13))
      q.processAllAvailable()
      assert(spark.table(name).count() == 1) // first window complete
      in.addData(recs.drop(13))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Long)]
        .collect().toSeq.sorted
      // Running sums: window 1 = sum of -2M*(1..10), window 2 = -2M*(11..20)
      assert(rows == Seq(("u", 0L, -110000000L), ("u", 1L, -310000000L)))
      // 5 trailing records stay an open partial window (never fire).
    } finally q.stop()
  }

  test("toxicWindows event-time TTL evicts idle keys; fresh keys restart at zero") {
    implicit val sqlCtx = spark.sqlContext
    // EVENT-time TTL (no trigger interval, no wall-clock sleeps, no
    // busy-spin): eviction is keyed to the data's clock and fired by the
    // watermark, so the test advances time by feeding records — fully
    // deterministic.
    val in = MemoryStream[MoodRec]
    val name = freshQueryName("toxttl")
    // The watermark trails the max event time by the 1-hour
    // EventStreamOps.EventWatermark, so the clock-advancing records below
    // sit one hour past the times they move the watermark to.
    val lag = 3600L
    val q = StreamingOps.toxicWindows(in.toDS(), 10, -10L * 1000000L,
        ttlMs = Some(30000L)) // 30 s event-time TTL
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      // run 1: key u, event times 1..10 s -> timer set at 10 s + 30 s
      in.addData((1 to 10).map(i =>
        MoodRec("u", i.toLong, i.toLong, -2000000L)))
      q.processAllAvailable()
      assert(spark.table(name).count() == 1, "first window did not fire")
      // Advance the watermark past u's 40 s timeout with another key:
      // the w@(100 s + lag) batch moves the watermark to 100 s; the
      // w@(101 s + lag) batch then runs with that watermark and fires
      // u's timer (u has no data in it — the best-effort eviction
      // contract).
      in.addData(Seq(MoodRec("w", 1L, 100L + lag, 1000000L)))
      q.processAllAvailable()
      in.addData(Seq(MoodRec("w", 2L, 101L + lag, 1000000L)))
      q.processAllAvailable()
      // run 2: u returns later than the watermark — state restarted
      in.addData((11 to 20).map(i =>
        MoodRec("u", i.toLong, 110L + i, -2000000L)))
      q.processAllAvailable()
      val rows = spark.table(name).as[(String, Long, Long)]
        .collect().toSeq.sorted
      // State was evicted: the second run restarts the running total AND
      // the window numbering from zero (grp 0, sum -110M again) — with
      // surviving state it would be (grp 1, -310M).
      assert(rows == Seq(("u", 0L, -110000000L), ("u", 0L, -110000000L)))
    } finally q.stop()
  }

  test("ingest twins (langId/textQuality/stratifiedSample) ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    // The sf0.001 documents streamed in two micro-batches: stateless
    // projections must reproduce the batch operators' rows exactly,
    // regardless of where the batch boundary falls.
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    val (firstHalf, secondHalf) = docRows.splitAt(docRows.size / 2)

    def runTwin(tag: String, twin: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val in = MemoryStream[DocRow]
      val name = freshQueryName(tag)
      val q = twin(in.toDF()).writeStream.outputMode("append")
        .format("memory").queryName(name).start()
      try {
        in.addData(firstHalf)
        q.processAllAvailable()
        in.addData(secondHalf)
        q.processAllAvailable()
      } finally q.stop()
      spark.table(name)
    }

    val lid = runTwin("lids", StreamingOps.langIdStream)
      .select("doc_id", "lang_pred", "hits")
      .as[(Long, String, Long)].collect().toSeq.sorted
    val lidBatch = graft.pipeline.DataOps.langId(spark, SF)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(lid.nonEmpty && lid == lidBatch)

    val tq = runTwin("tqs", StreamingOps.textQualityStream)
      .select("doc_id", "n_tok", "n_stop", "stop_ratio_micro",
        "punct_ratio_micro", "avg_wlen_micro", "quality_micro")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    val tqBatch = graft.pipeline.DataOps.textQuality(spark, SF)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq.sorted
    assert(tq.nonEmpty && tq == tqBatch)

    val ss = runTwin("sss", StreamingOps.stratifiedSampleStream)
      .select("doc_id", "lang", "bucket")
      .as[(Long, String, Long)].collect().toSeq.sorted
    val ssBatch = graft.pipeline.DataOps.stratifiedSample(spark, SF)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(ss.nonEmpty && ss == ssBatch)

    val tc = runTwin("tcs", StreamingOps.tokenCountStream)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    val tcBatch = graft.pipeline.DataOps.tokenCount(spark, SF)
      .as[(Long, Long, Long, Long)].collect().toSeq.sorted
    assert(tc.nonEmpty && tc == tcBatch)

    val fp = runTwin("fps", StreamingOps.fingerprintStream)
      .as[(Long, String, Long)].collect().toSeq.sorted
    val fpBatch = graft.pipeline.DataOps.fingerprint(spark, SF)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(fp.nonEmpty && fp == fpBatch)

    val gf = runTwin("gfs", StreamingOps.gopherFilterStream)
      .as[(Long, Boolean, String)].collect().toSeq.sorted
    val gfBatch = graft.pipeline.DataOps.gopherFilter(spark, SF)
      .as[(Long, Boolean, String)].collect().toSeq.sorted
    assert(gf.nonEmpty && gf == gfBatch)

    val ps = runTwin("pis", StreamingOps.piiScanStream)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    val psBatch = graft.pipeline.DataOps.piiScan(spark, SF)
      .as[(Long, Long, Long, Long, Long, Boolean)].collect().toSeq.sorted
    assert(ps.nonEmpty && ps == psBatch)

    val pr = runTwin("prs", StreamingOps.piiRedactStream)
      .as[(Long, String, Long)].collect().toSeq.sorted
    val prBatch = graft.pipeline.DataOps.piiRedact(spark, SF)
      .as[(Long, String, Long)].collect().toSeq.sorted
    assert(pr.nonEmpty && pr == prBatch)
  }

  test("kmvQuantilesStream: sketch state folds across triggers ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    // split INSIDE sources so trigger 2 genuinely extends trigger-1
    // samples (doc_id order interleaves sources on this fixture)
    val (a, b) = docRows.splitAt(docRows.size / 2)
    def batchOf(rows: Seq[DocRow]) = graft.pipeline.DataOps
      .kmvQuantilesFrame(spark, rows.toDF())
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val in = MemoryStream[DocRow]
    val name = freshQueryName("kmvs")
    val q = StreamingOps.kmvQuantilesStream(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData(a); q.processAllAvailable()
      val s1 = spark.table(name)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      assert(s1.sorted == batchOf(a).sorted, "trigger 1 != batch(a)")
      in.addData(b); q.processAllAvailable()
      // every trigger-2 update row must already equal the FULL-corpus
      // sketch for its source — the new k-smallest folds the carried
      // trigger-1 sample, so state loss shows as a worse sample here
      val all = spark.table(name)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      val s2 = all.diff(s1)
      val full = batchOf(docRows).map(r => r._1 -> r).toMap
      assert(s2.nonEmpty)
      s2.foreach { r =>
        assert(r == full(r._1), s"source ${r._1} lost sketch state")
      }
      // final sink state (trigger-2 rows over trigger-1 rows) ≡ batch
      val finalRows =
        s1.map(r => r._1 -> r).toMap ++ s2.map(r => r._1 -> r).toMap
      assert(finalRows == full)
      // the micro-batch boundary genuinely re-emitted carried keys
      assert(s2.map(_._1).toSet.intersect(s1.map(_._1).toSet).nonEmpty)
    } finally q.stop()
  }

  test("tokenFertilityStream: per-source sums fold across triggers ≡ batch") {
    implicit val sqlCtx = spark.sqlContext
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    val (a, b) = docRows.splitAt(docRows.size / 2)
    def batchOf(rows: Seq[DocRow]) = graft.pipeline.DataOps
      .tokenFertilityCols(rows.toDF())
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    val in = MemoryStream[DocRow]
    val name = freshQueryName("tfs")
    val q = StreamingOps.tokenFertilityStream(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData(a); q.processAllAvailable()
      val s1 = spark.table(name)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      assert(s1.sorted == batchOf(a).sorted, "trigger 1 != batch(a)")
      in.addData(b); q.processAllAvailable()
      val all = spark.table(name)
        .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
      val s2 = all.diff(s1)
      val full = batchOf(docRows).map(r => r._1 -> r).toMap
      assert(s2.nonEmpty)
      s2.foreach { r => assert(r == full(r._1), s"source ${r._1}") }
      val finalRows =
        s1.map(r => r._1 -> r).toMap ++ s2.map(r => r._1 -> r).toMap
      assert(finalRows == full)
    } finally q.stop()
  }

  test("cmsSketchStream: counters fold across triggers ≡ batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    val (a, b) = docRows.splitAt(docRows.size / 2)
    def batchOf(rows: Seq[DocRow]) = graft.pipeline.DataOps
      .cmsSketchCols(rows.toDF())
      .as[(Int, Long, Long)].collect().toSeq
    val in = MemoryStream[DocRow]
    val name = freshQueryName("cmss")
    val q = StreamingOps.cmsSketchStream(in.toDF())
      .writeStream.outputMode("update").format("memory")
      .queryName(name).start()
    try {
      in.addData(a); q.processAllAvailable()
      val s1 = spark.table(name).as[(Int, Long, Long)].collect().toSeq
      assert(s1.sorted == batchOf(a).sorted, "trigger 1 != batch(a)")
      in.addData(b); q.processAllAvailable()
      // every trigger-2 update row must already equal the full-corpus
      // counter for its (r, bucket): counts are additive, so state loss
      // shows as a batch-2-only count here
      val all = spark.table(name).as[(Int, Long, Long)].collect().toSeq
      val s2 = all.diff(s1)
      val full = batchOf(docRows).map(r => (r._1, r._2) -> r._3).toMap
      assert(s2.nonEmpty)
      s2.foreach { case (r, bkt, c) =>
        assert(c == full((r, bkt)), s"counter ($r,$bkt) lost state")
      }
      // final sink state (trigger-2 rows over trigger-1 rows) ≡ batch
      val finalRegs = s1.map(r => (r._1, r._2) -> r._3).toMap ++
        s2.map(r => (r._1, r._2) -> r._3).toMap
      assert(finalRegs == full)
      // the micro-batch boundary genuinely re-emitted carried buckets
      assert(s2.map(r => (r._1, r._2)).toSet
        .intersect(s1.map(r => (r._1, r._2)).toSet).nonEmpty)
    } finally q.stop()
  }

  test("curationStream keep bits equal the batch stateless gates") {
    implicit val sqlCtx = spark.sqlContext
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    val (h1, h2) = docRows.splitAt(docRows.size / 2)
    val in = MemoryStream[DocRow]
    val name = freshQueryName("cur")
    val q = StreamingOps.curationStream(in.toDF(), SF)
      .select("doc_id", "lang_keep", "quality_keep", "contam_keep",
        "strat_keep", "keep")
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(h1); q.processAllAvailable()
      in.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      .map(r => r._1 -> r).toMap
    assert(got.size == docRows.size)
    // each stream bit ≡ its batch source
    val langB = graft.pipeline.DataOps.langId(spark, SF)
      .select(col("doc_id"), (col("lang_pred") =!= "und").cast("long"))
      .as[(Long, Long)].collect().toMap
    val qualB = graft.pipeline.DataOps.textQuality(spark, SF)
      .select(col("doc_id"), (col("quality_micro") >=
        graft.pipeline.DataOps.QualityFloorMicro).cast("long"))
      .as[(Long, Long)].collect().toMap
    // batch decontaminate omits benchmark docs (they are the bench set
    // itself); the stream flags them contaminated — both mean "dropped"
    val contB = graft.pipeline.DataOps.decontaminate(spark, SF)
      .select(col("doc_id"), lit(1L) - col("contaminated"))
      .as[(Long, Long)].collect().toMap
    val stratB = graft.pipeline.DataOps.stratifiedSample(spark, SF)
      .select("doc_id").as[Long].collect().toSet
    docRows.foreach { d =>
      val (_, lk, qk, ck, sk, keep) = got(d.doc_id)
      assert(lk == langB(d.doc_id), s"lang_keep doc ${d.doc_id}")
      assert(qk == qualB(d.doc_id), s"quality_keep doc ${d.doc_id}")
      assert(ck == contB.getOrElse(d.doc_id, 0L),
        s"contam_keep doc ${d.doc_id}")
      assert(sk == (if (stratB(d.doc_id)) 1L else 0L),
        s"strat_keep doc ${d.doc_id}")
      assert(keep == lk * qk * ck)
      // benchmark documents are dropped unconditionally
      if (d.doc_id % 97 == 0) assert(ck == 0L && keep == 0L)
    }
  }

  test("sourceCapStream admits exactly the first K per source") {
    implicit val sqlCtx = spark.sqlContext
    val docRows = spark.read.parquet(s"$SF/documents.parquet")
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[DocRow].collect().toSeq.sortBy(_.doc_id)
    // tiny first batch: the fixture is 20 sources round-robin, so 30
    // docs give every source 1-2 admissions — all partially filled at
    // the boundary, topped up from state in batch 2
    val (h1, h2) = docRows.splitAt(30)
    val k = 3
    val in = MemoryStream[DocRow]
    val name = freshQueryName("cap")
    val q = StreamingOps.sourceCapStream(in.toDF(), k)
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(h1); q.processAllAvailable()
      in.addData(h2); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table(name)
      .as[(String, Long, Long)].collect().toSeq.sorted
    // expected: first k per source in (batch, doc_id) arrival order —
    // replayed driver-side; state must carry counts across the boundary
    val expected = (h1.map(d => (0, d)) ++ h2.map(d => (1, d)))
      .groupBy(_._2.source).toSeq.flatMap { case (src, ds) =>
        ds.sortBy { case (b, d) => (b, d.doc_id) }.take(k).zipWithIndex
          .map { case ((_, d), i) => (src, d.doc_id, (i + 1).toLong) }
      }.sorted
    assert(got.nonEmpty && got == expected)
    assert(got.groupBy(_._1).values.forall(_.size <= k))
    // at least one source must span the batch boundary partially filled
    // (admitted < k in batch 1, topped up in batch 2) for the state
    // carry to be exercised
    val perSrcB1 = h1.groupBy(_.source).view.mapValues(_.size)
    assert(docRows.groupBy(_.source).exists { case (s, all) =>
      perSrcB1.getOrElse(s, 0) < k && all.size > perSrcB1.getOrElse(s, 0)
    })
  }

  test("parseWire keeps commas in text; short lines degrade PERMISSIVEly") {
    val lines = Seq("ch0,alice,hello, world", "ch1,bob,", "ch2,carol",
      "solo", "ch3,dave,a,,", "ch4,eve,x,,y", "")
    val expected = Seq(
      ("ch0", "alice", "hello, world"),
      ("ch1", "bob", ""),
      ("ch2", "carol", ""),
      ("solo", null, ""),
      ("ch3", "dave", "a"),    // Java split: trailing empties dropped
      ("ch4", "eve", "x,,y"),  // interior empties kept
      ("", null, ""))          // an empty line is kept, not dropped
    val got = SentimentPipeline.parseWire(lines.toDF("value"))
      .as[(String, String, String)].collect().toSeq
    assert(got == expected)
    // the streaming parse follows the same policy
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val name = freshQueryName("wire")
    val q = SentimentPipeline.parseWire(in.toDF()).writeStream
      .format("memory").queryName(name).outputMode("append").start()
    try { in.addData(lines); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.table(name).as[(String, String, String)]
      .collect().toSeq
    assert(streamed.sortBy(_.toString) == expected.sortBy(_.toString))
  }

  test("parseArgs: ParameterTool-style defaults and overrides") {
    assert(SentimentPipeline.parseArgs(Array()) ==
      SentimentPipeline.Config("localhost", 9001))
    assert(SentimentPipeline.parseArgs(Array("--url", "h", "--port", "42")) ==
      SentimentPipeline.Config("h", 42))
    assert(SentimentPipeline.parseArgs(Array("--port", "42")) ==
      SentimentPipeline.Config("localhost", 42))
    assert(SentimentPipeline.parseArgs(Array("--bogus", "x")) ==
      SentimentPipeline.Config())
  }

  test("dedupExactStream drops in-watermark duplicate texts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val name = freshQueryName("dds")
    val q = StreamingOps.dedupExactStream(in.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(
        TimedMessage(1L, 0L, "ch0", "a", "same text"),
        TimedMessage(2L, 0L, "ch0", "b", "same text"),   // dup, dropped
        TimedMessage(3L, 1L, "ch1", "c", "other text"),
        TimedMessage(4L, 2L, "ch1", "d", "same text"))   // dup, dropped
      q.processAllAvailable()
      val texts = spark.table(name).select("text").as[String]
        .collect().toSeq.sorted
      assert(texts == Seq("other text", "same text"))
    } finally q.stop()
  }

  test("startParquet writes the E1 stream to a durable sink (K1)") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val pipeline = new graft.streaming.SentimentPipeline(in.toDS())
    val dir = java.nio.file.Files.createTempDirectory("graft-sink")
    val q = pipeline.startParquet(s"$dir/out", s"$dir/ckpt")
    try {
      in.addData(fixtureMessages)
      q.processAllAvailable()
      in.addData(flushRecord)
      q.processAllAvailable()
      val written = spark.read.parquet(s"$dir/out")
      assert(written.count() == ParityQueries.w1(spark, SF).count())
      assert(written.columns.toSet == Set("wsec", "channel", "username",
        "score_micro", "mag_micro", "mood_micro"))
    } finally q.stop()
  }

  test("streaming sliding channel mood (W5) matches the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val pipeline = new graft.streaming.SentimentPipeline(in.toDS())
    val name = freshQueryName("w5s")
    val q = pipeline.channelMoodStream
      .select((unix_timestamp(col("window.start")) -
          ParityQueries.BaseEpoch).as("wstart"),
        col("key"), col("mood_micro"))
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      in.addData(fixtureMessages)
      q.processAllAvailable()
      in.addData(flushRecord)
      q.processAllAvailable()
      val streamed = spark.table(name)
        .as[(Long, String, Long)].collect().toSeq.sorted
      // Batch twin at per-record granularity (the live form's input),
      // replicating the sliding 90s/60s window candidate expansion.
      val perRec = ParityQueries.withSentiment(
          spark.createDataset(fixtureMessages).toDF())
      val a = perRec.select(col("channel").as("key"), col("mood_micro"),
        (graft.ops.ChatOps.tumble(col("tsec"), 60)).as("wstart"))
      val b = perRec.where(pmod(col("tsec"), lit(60L)) < 30)
        .select(col("channel").as("key"), col("mood_micro"),
          (graft.ops.ChatOps.tumble(col("tsec"), 60) - 60).as("wstart"))
      val batch = a.select(col("key"), col("mood_micro"), col("wstart"))
        .union(b).groupBy(col("wstart"), col("key"))
        .agg(sum(col("mood_micro")).as("mood_micro"))
        .select("wstart", "key", "mood_micro")
        .as[(Long, String, Long)].collect().toSeq.sorted
      assert(streamed == batch)
    } finally q.stop()
  }

  test("fromSocket ingests live TCP wire lines end-to-end (S2)") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val out = new java.io.PrintWriter(sock.getOutputStream, true)
        (1 to 30).foreach(i => out.println(s"ch0,alice,a good line $i"))
        out.flush()
        Thread.sleep(20000) // keep the connection up while Spark polls
        sock.close()
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()
    val pipeline = SentimentPipeline.fromSocket(spark,
      SentimentPipeline.Config("localhost", port))
    val name = freshQueryName("sock")
    val q = pipeline.messages.toDF()
      .writeStream.outputMode("append").format("memory")
      .queryName(name).start()
    try {
      val deadline = System.nanoTime() + 30L * 1000000000L
      var n = 0L
      while (n < 30L && System.nanoTime() < deadline) {
        q.processAllAvailable()
        n = spark.table(name).count()
        if (n < 30L) Thread.sleep(200)
      }
      assert(n >= 30L)
      val row = spark.table(name).where(col("text").endsWith("line 1"))
        .select("channel", "user").as[(String, String)].head()
      assert(row == (("ch0", "alice")))
    } finally {
      q.stop()
      server.close()
    }
  }

  test("pipeline E1+E2 smoke: console start() runs on a bounded stream") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[TimedMessage]
    val pipeline = new graft.streaming.SentimentPipeline(in.toDS())
    val queries = pipeline.startConsole()
    try {
      in.addData(fixtureMessages.take(60))
      queries.foreach(_.processAllAvailable())
      assert(queries.forall(_.isActive))
    } finally queries.foreach(_.stop())
  }

  test("IngestPipeline: two micro-batches through the composed DAG == batch curation") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-ingest-idx").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-ingest-out").toString
    // the existing corpus (even ids) is indexed ONCE; the stream lands
    // the odd-id documents in two micro-batches
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
      indexDir)
    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = IngestPipeline.start(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      SF, indexDir, outDir)
    try {
      def half(m: Long) = docs.where(col("doc_id") % 4 === m)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .as[(Long, String, String, String, Long)].collect().toSeq
      in.addData(half(1L))
      q.processAllAvailable()
      in.addData(half(3L))
      q.processAllAvailable()
      val cols = Seq("doc_id", "lang", "source", "clean_text",
        "n_redacted", "lang_pred", "quality_micro")
      val streamed = spark.read.parquet(s"$outDir/corpus")
        .select(cols.head, cols.tail: _*)
        .collect().map(_.toSeq).toSet
      val streamedDups = spark.read.parquet(s"$outDir/dups")
        .as[(Long, Long, Long)].collect().toSet

      // batch twin: the SAME two batches replayed sequentially — the
      // store absorbs each published batch before the next probes, so
      // batch 2 dedups against batch 1's survivors, not just the
      // bootstrap corpus
      val twinIdx = java.nio.file.Files
        .createTempDirectory("graft-ingest-twin").toString
      graft.sources.MinhashIndex.build(spark,
        docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
        twinIdx)
      def step(m: Long) = {
        val (c, d) = IngestPipeline.finishBatch(
          StreamingOps.curationStream(
            docs.where(col("doc_id") % 4 === m), SF), twinIdx)
        val cs = c.select(cols.head, cols.tail: _*)
          .collect().map(_.toSeq).toSet
        val ds = d.as[(Long, Long, Long)].collect().toSet
        graft.sources.MinhashIndex.appendBatch(spark,
          c.select(col("doc_id"), col("clean_text").as("text")), twinIdx)
        (cs, ds)
      }
      val (c1, d1) = step(1L)
      val (c2, d2) = step(3L)
      assert(streamed == (c1 ++ c2))
      assert(streamedDups == (d1 ++ d2))
      // the DAG actually curates: keeps some, drops some, audits dups
      assert(streamed.nonEmpty && streamedDups.nonEmpty)
      assert(streamed.size < half(1L).size + half(3L).size)
      // CROSS-BATCH dedup: at least one batch-2 doc was flagged
      // against a batch-1 PUBLISHED doc (dup_of odd == not in the
      // bootstrap store) — the case the store append exists to catch
      assert(d2.exists { case (_, dupOf, _) => dupOf % 2 == 1 })
      // near-dup hits never reach the published corpus
      val pubIds = streamed.map(_.head.asInstanceOf[Long])
      assert(streamedDups.forall { case (d, _, _) => !pubIds.contains(d) })
      // publish layout: the corpus is partitioned by language
      assert(new java.io.File(s"$outDir/corpus").listFiles()
        .exists(_.getName.startsWith("lang=")))
      // the ingest-maintained K9 search index == a one-shot build over
      // the published corpus (appendBatch decomposition invariance,
      // end-to-end through the composed job)
      val oneShot = java.nio.file.Files
        .createTempDirectory("graft-ingest-oneshot").toString
      graft.sources.PostingsIndex.buildFrom(spark,
        spark.read.parquet(s"$outDir/corpus")
          .select(col("doc_id"), col("clean_text").as("text")), oneShot)
      for (rel <- Seq("postings", "doclen", "vocab", "stats")) {
        assert(spark.read.parquet(s"$outDir/index/$rel")
            .collect().map(_.toSeq).toSet ==
          spark.read.parquet(s"$oneShot/$rel")
            .collect().map(_.toSeq).toSet, rel)
      }
      // and the maintained index actually serves: the published docs
      // are searchable on a term they contain
      assert(graft.sources.PostingsIndex.bm25Against(spark,
        Seq("dup").toDF("token"), s"$outDir/index").count() > 0)
      // the K10 positional store tracks the same published corpus:
      // maintained == a one-shot build, relation-identical
      val posOneShot = java.nio.file.Files
        .createTempDirectory("graft-ingest-pos-oneshot").toString
      graft.sources.PositionsIndex.buildFrom(spark,
        spark.read.parquet(s"$outDir/corpus")
          .select(col("doc_id"), col("clean_text").as("text")),
        posOneShot)
      assert(spark.read.parquet(s"$outDir/positions/positions")
          .collect().map(_.toSeq).toSet ==
        spark.read.parquet(s"$posOneShot/positions")
          .collect().map(_.toSeq).toSet)
      // the K6/K8 maintained MODEL stores retrain continuously from
      // the published batches: after two appends onto the empty seed,
      // counts/stats are bit-identical to one-shot builds over the
      // published corpus (associative sums, end-to-end)
      val pubLabeled = spark.read.parquet(s"$outDir/corpus")
        .select(col("doc_id"), col("lang").cast("string").as("lang"),
          col("clean_text").as("text"))
      val langOneShot = java.nio.file.Files
        .createTempDirectory("graft-ingest-lang-oneshot").toString
      graft.sources.LangProfileStore.buildFrom(spark, pubLabeled,
        langOneShot)
      for (rel <- Seq("counts", "profiles")) {
        assert(spark.read.parquet(s"$outDir/lang/$rel")
            .collect().map(_.toSeq).toSet ==
          spark.read.parquet(s"$langOneShot/$rel")
            .collect().map(_.toSeq).toSet, rel)
      }
      val dsirOneShot = java.nio.file.Files
        .createTempDirectory("graft-ingest-dsir-oneshot").toString
      graft.sources.DsirStore.buildFrom(spark, pubLabeled, dsirOneShot)
      assert(spark.read.parquet(s"$outDir/dsir/stats")
          .collect().map(_.toSeq).toSet ==
        spark.read.parquet(s"$dsirOneShot/stats")
          .collect().map(_.toSeq).toSet)
      // RE-LANDED idempotency: the same documents landing again are
      // dropped by the seen ledger — nothing publishes, audits or
      // merges twice
      val corpusN = spark.read.parquet(s"$outDir/corpus").count()
      val dupsN = spark.read.parquet(s"$outDir/dups").count()
      val statsBefore = graft.sources.PostingsIndex
        .statsOf(spark, s"$outDir/index").collect().map(_.toSeq).toSet
      in.addData(half(1L))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$outDir/corpus").count() == corpusN)
      assert(spark.read.parquet(s"$outDir/dups").count() == dupsN)
      assert(graft.sources.PostingsIndex
        .statsOf(spark, s"$outDir/index").collect().map(_.toSeq).toSet ==
        statsBefore)
      // restart safety artifacts exist: checkpoint + per-batch markers
      assert(new java.io.File(s"$outDir/checkpoint").exists())
      assert(new java.io.File(s"$outDir/committed").listFiles()
        .length >= 2)
    } finally q.stop()
  }

  test("IngestPipeline publishes landed text as it is and redacts only the PII it carries") {
    implicit val sqlCtx = spark.sqlContext
    // The texts of two documents the curation verdict keeps, landed
    // under new ids: doc 7, an id the PII fixture's stand-in would append
    // an email to, as it is; doc 2 with a real email appended.
    val Seq((t7, lang7, src7, n7), (t2, lang2, src2, n2)) =
      StreamingOps.curationStream(
          spark.read.parquet(s"$SF/documents.parquet"), SF)
        .where(col("keep") === 1L).orderBy("doc_id")
        .select("text", "lang", "source", "n_chars")
        .as[(String, String, String, Long)].head(2).toSeq
    val dir =
      java.nio.file.Files.createTempDirectory("graft-ingest-pii").toString
    val in = MemoryStream[(Long, String, String, String, Long)]
    val q = IngestPipeline.start(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      SF, s"$dir/dedup", s"$dir/out")
    try {
      in.addData(Seq((7L, t7, lang7, src7, n7),
        (2L, s"$t2 mail bob@ex.org", lang2, src2, n2)))
      q.processAllAvailable()
    } finally q.stop()
    val published = spark.read.parquet(s"$dir/out/corpus")
      .select("doc_id", "clean_text", "n_redacted")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(published == Seq((2L, s"$t2 mail <EMAIL>", 1L), (7L, t7, 0L)))
  }

  test("IngestPipeline compactEvery: maintained stores fold to single files") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val embByVec = spark.read.parquet(s"$SF/embeddings.parquet")
      .select((col("vec_id") % 500).as("ek"), col("embedding"))
    val docsV = docs.withColumn("ek", col("doc_id") % 500)
      .join(embByVec, Seq("ek")).drop("ek")
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-cidx").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-cout").toString
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
      indexDir)
    val in = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val q = graft.streaming.IngestPipeline.start(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars",
        "embedding"),
      SF, indexDir, outDir, compactEvery = 2)
    try {
      def half(m: Long) = docsV.where(col("doc_id") % 4 === m)
        .select("doc_id", "text", "lang", "source", "n_chars",
          "embedding")
        .as[(Long, String, String, String, Long, Seq[Float])]
        .collect().toSeq
      in.addData(half(1L)); q.processAllAvailable()
      in.addData(half(3L)); q.processAllAvailable()
      // after batch 2 (the compactEvery boundary) every maintained
      // store's corpus-sized relations are one file each, contents
      // still serving (probe returns rows)
      def nFiles(dir: String) = new java.io.File(dir).listFiles()
        .count(_.getName.endsWith(".parquet"))
      assert(nFiles(s"$outDir/index/postings") == 1)
      assert(nFiles(s"$indexDir/shingles") == 1)
      assert(nFiles(s"$indexDir/bands") == 1)
      assert(nFiles(s"$outDir/pq/codes") == 1)
      assert(nFiles(s"$outDir/pq/cells") == 1)
      assert(nFiles(s"$outDir/sq/recon") == 1)
      assert(graft.sources.PostingsIndex.bm25Against(spark,
        Seq("dup").toDF("token"), s"$outDir/index").count() > 0)
    } finally q.stop()
  }

  test("IngestPipeline restart: a second start() on the same checkpoint does not wipe maintained stores") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-ridx").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-rout").toString
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
      indexDir)
    def half(m: Long) = docs.where(col("doc_id") % 4 === m)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().toSeq
    // run 1: land batch 1, then stop — the planned-restart/crash point
    val in1 = MemoryStream[(Long, String, String, String, Long)]
    val q1 = IngestPipeline.start(
      in1.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      SF, indexDir, outDir)
    try { in1.addData(half(1L)); q1.processAllAvailable() }
    finally q1.stop()
    val statsAfter1 = graft.sources.PostingsIndex
      .statsOf(spark, s"$outDir/index").collect().map(_.toSeq).toSet
    val posAfter1 = spark.read
      .parquet(s"$outDir/positions/positions").count()
    assert(posAfter1 > 0)
    // run 2: a NEW query on the SAME checkpoint — the restart path.
    // The new source re-offers run 1's data at the same offsets
    // (already committed, so never re-delivered), then lands batch 2.
    val in2 = MemoryStream[(Long, String, String, String, Long)]
    in2.addData(half(1L))
    val q2 = IngestPipeline.start(
      in2.toDF().toDF("doc_id", "text", "lang", "source", "n_chars"),
      SF, indexDir, outDir)
    try {
      q2.processAllAvailable()
      // the restart ALONE must not have re-seeded the maintained
      // stores empty (the seed-only-if-absent guard): batch 1's
      // absorbed contribution is still there
      assert(graft.sources.PostingsIndex
        .statsOf(spark, s"$outDir/index").collect().map(_.toSeq)
        .toSet == statsAfter1)
      assert(spark.read.parquet(s"$outDir/positions/positions")
        .count() == posAfter1)
      in2.addData(half(3L))
      q2.processAllAvailable()
      // across the restart, every maintained store == a one-shot
      // build over the full published corpus
      val pub = spark.read.parquet(s"$outDir/corpus")
      val pubText = pub.select(col("doc_id"),
        col("clean_text").as("text"))
      val oneShot = java.nio.file.Files
        .createTempDirectory("graft-restart-oneshot").toString
      graft.sources.PostingsIndex.buildFrom(spark, pubText, oneShot)
      for (rel <- Seq("postings", "doclen", "vocab", "stats")) {
        assert(spark.read.parquet(s"$outDir/index/$rel")
            .collect().map(_.toSeq).toSet ==
          spark.read.parquet(s"$oneShot/$rel")
            .collect().map(_.toSeq).toSet, rel)
      }
      val posOneShot = java.nio.file.Files
        .createTempDirectory("graft-restart-pos").toString
      graft.sources.PositionsIndex.buildFrom(spark, pubText, posOneShot)
      assert(spark.read.parquet(s"$outDir/positions/positions")
          .collect().map(_.toSeq).toSet ==
        spark.read.parquet(s"$posOneShot/positions")
          .collect().map(_.toSeq).toSet)
      val pubLabeled = pub.select(col("doc_id"),
        col("lang").cast("string").as("lang"),
        col("clean_text").as("text"))
      val langOneShot = java.nio.file.Files
        .createTempDirectory("graft-restart-lang").toString
      graft.sources.LangProfileStore.buildFrom(spark, pubLabeled,
        langOneShot)
      for (rel <- Seq("counts", "profiles")) {
        assert(spark.read.parquet(s"$outDir/lang/$rel")
            .collect().map(_.toSeq).toSet ==
          spark.read.parquet(s"$langOneShot/$rel")
            .collect().map(_.toSeq).toSet, rel)
      }
      val dsirOneShot = java.nio.file.Files
        .createTempDirectory("graft-restart-dsir").toString
      graft.sources.DsirStore.buildFrom(spark, pubLabeled, dsirOneShot)
      assert(spark.read.parquet(s"$outDir/dsir/stats")
          .collect().map(_.toSeq).toSet ==
        spark.read.parquet(s"$dsirOneShot/stats")
          .collect().map(_.toSeq).toSet)
    } finally q2.stop()
  }

  test("IngestPipeline maintains the vector stores when batches carry embeddings") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    // attach a deterministic 64-dim embedding per document (the
    // fixture's own vectors, doc_id-linked — the vec_id = doc_id
    // contract Forget.forgetVectors uses)
    val embByVec = spark.read.parquet(s"$SF/embeddings.parquet")
      .select((col("vec_id") % 500).as("ek"), col("embedding"))
    val docsV = docs.withColumn("ek", col("doc_id") % 500)
      .join(embByVec, Seq("ek")).drop("ek")
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-vidx").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-ingest-vout").toString
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
      indexDir)
    def half(m: Long) = docsV.where(col("doc_id") % 4 === m)
      .select("doc_id", "text", "lang", "source", "n_chars", "embedding")
      .as[(Long, String, String, String, Long, Seq[Float])]
      .collect().toSeq
    // run 1: land batch 1, stop mid-stream (the restart point)
    val in1 = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val q1 = graft.streaming.IngestPipeline.start(
      in1.toDF().toDF("doc_id", "text", "lang", "source", "n_chars",
        "embedding"),
      SF, indexDir, outDir)
    try { in1.addData(half(1L)); q1.processAllAvailable() }
    finally q1.stop()
    // run 2 on the same checkpoint: re-offer batch 1 (committed —
    // never re-delivered), land batch 2
    val in2 = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    in2.addData(half(1L))
    val q2 = graft.streaming.IngestPipeline.start(
      in2.toDF().toDF("doc_id", "text", "lang", "source", "n_chars",
        "embedding"),
      SF, indexDir, outDir)
    try {
      q2.processAllAvailable()
      in2.addData(half(3L))
      q2.processAllAvailable()
      val pub = spark.read.parquet(s"$outDir/corpus")
      def vecsOf(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id").as("vec_id"),
          graft.functions.MicroVecExpr.micro(spark, col("embedding"))
            .as("em"))
        .withColumn("nrm", graft.functions.VecDotExpr.dot(spark,
          col("em"), col("em")))
      def rel(p: String) =
        spark.read.parquet(p).collect().map(_.toSeq).toSet
      // SQ: per-vector codes, so the maintained store across the
      // restart == a one-shot build over the published corpus
      val sqOneShot = java.nio.file.Files
        .createTempDirectory("graft-ingest-sq-oneshot").toString
      graft.sources.SqIndex.buildFrom(spark, vecsOf(pub), sqOneShot)
      assert(rel(s"$outDir/sq/recon") == rel(s"$sqOneShot/recon"))
      // PQ: frozen-codebook contract — the maintained store == the
      // sequential build(batch-1 survivors) + append(batch-2
      // survivors) composition, relation-by-relation
      val pqSeq = java.nio.file.Files
        .createTempDirectory("graft-ingest-pq-seq").toString
      graft.sources.PqIndex.buildFrom(spark,
        vecsOf(pub.where(col("doc_id") % 4 === 1)), pqSeq)
      graft.sources.PqIndex.appendBatch(spark,
        vecsOf(pub.where(col("doc_id") % 4 === 3)), pqSeq)
      for (r <- Seq("codebook", "codes", "centroids", "cells")) {
        assert(rel(s"$outDir/pq/$r") == rel(s"$pqSeq/$r"), r)
      }
      // and the maintained store actually serves ANN probes
      val q = vecsOf(pub.where(col("doc_id") % 20 === 1))
        .select(col("vec_id").as("q_id"), col("em").as("qem"),
          col("nrm").as("qn"))
      assert(graft.sources.PqIndex.queryAgainst(spark, q,
        s"$outDir/pq", SF).count() > 0)
    } finally q2.stop()
  }

  test("IngestPipeline: a failing apply leaves its siblings committed; the restart converges to the uninterrupted run") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{MinhashIndex, Store, StoreDirs}
    import org.apache.hadoop.fs.{FileUtil, Path}
    val cols = Seq("doc_id", "text", "lang", "source", "n_chars",
      "embedding")
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val embByVec = spark.read.parquet(s"$SF/embeddings.parquet")
      .select((col("vec_id") % 500).as("ek"), col("embedding"))
    val docsV = docs.withColumn("ek", col("doc_id") % 500)
      .join(embByVec, Seq("ek")).drop("ek")
    def quarter(m: Long) = docsV.where(col("doc_id") % 4 === m)
      .select(cols.map(col): _*)
      .as[(Long, String, String, String, Long, Seq[Float])]
      .collect().toSeq
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    def dirs() = {
      val idx = tmp("graft-ingest-fidx")
      MinhashIndex.build(spark,
        docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"), idx)
      (idx, tmp("graft-ingest-fout"))
    }
    def start(in: MemoryStream[(Long, String, String, String, Long,
        Seq[Float])], idx: String, out: String) =
      IngestPipeline.start(in.toDF().toDF(cols: _*), SF, idx, out)
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(tmp("graft-ingest-fs")).getFileSystem(conf)
    def exists(p: String) = StoreDirs.pathExists(spark, p)
    // control: both batches, uninterrupted
    val (cIdx, cOut) = dirs()
    val cIn = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val cq = start(cIn, cIdx, cOut)
    try {
      cIn.addData(quarter(1)); cq.processAllAvailable()
      cIn.addData(quarter(3)); cq.processAllAvailable()
    } finally cq.stop()
    // batch 0 commits; then the lang store loses its counts relation,
    // so batch 1's lang apply throws while its siblings run
    val (idx, out) = dirs()
    val aside = tmp("graft-ingest-lang-aside") + "/lang"
    val in1 = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val q1 = start(in1, idx, out)
    try {
      in1.addData(quarter(1)); q1.processAllAvailable()
      assert(exists(s"$out/committed/0"))
      FileUtil.copy(fs, new Path(s"$out/lang"), fs, new Path(aside),
        false, conf)
      fs.delete(new Path(s"$out/lang/counts"), true)
      in1.addData(quarter(3))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q1.processAllAvailable())
    } finally q1.stop()
    assert(!exists(s"$out/committed/1"))
    assert(!exists(s"$out/committed/1.lang"))
    // every sibling ran to completion instead of being interrupted
    for (sink <- Seq("dups", "corpus", "seen") ++
        Store.all.map(_.name).filterNot(_ == "lang"))
      assert(exists(s"$out/committed/1.$sink"), sink)
    // restore lang and restart on the same checkpoint: batch 1 replays
    // from its staged rows and only the unmarked sink applies
    fs.delete(new Path(s"$out/lang"), true)
    FileUtil.copy(fs, new Path(aside), fs, new Path(s"$out/lang"),
      false, conf)
    val in2 = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    in2.addData(quarter(1)); in2.addData(quarter(3))
    val q2 = start(in2, idx, out)
    try q2.processAllAvailable() finally q2.stop()
    assert(exists(s"$out/committed/1"))
    // multiset contents: a double-applied sink must not hide behind
    // set equality
    def rows(p: String) =
      spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    for (store <- Store.all; r <- store.relations)
      assert(rows(s"${store.ingestDir(out, idx)}/$r") ==
        rows(s"${store.ingestDir(cOut, cIdx)}/$r"), s"${store.name}/$r")
  }

  test("forgetStream closes the loop over INGEST-maintained vector stores") {
    implicit val sqlCtx = spark.sqlContext
    // land two embedding-carrying batches through the real ingest job,
    // then forget a victim set through the deletion queue and pin that
    // the MAINTAINED pq/sq stores end exactly where the store algebra
    // says: sq == a survivors-only one-shot build (per-vector codes);
    // pq == the maintained store minus the victims' rows under a
    // FROZEN codebook/coarse quantizer (FAISS remove_ids — retraining
    // on survivors would be a different, wrong claim).
    val docs = spark.read.parquet(s"$SF/documents.parquet")
    val embByVec = spark.read.parquet(s"$SF/embeddings.parquet")
      .select((col("vec_id") % 500).as("ek"), col("embedding"))
    val docsV = docs.withColumn("ek", col("doc_id") % 500)
      .join(embByVec, Seq("ek")).drop("ek")
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-forget-vidx").toString
    val outDir = java.nio.file.Files
      .createTempDirectory("graft-forget-vout").toString
    graft.sources.MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
      indexDir)
    def half(m: Long) = docsV.where(col("doc_id") % 4 === m)
      .select("doc_id", "text", "lang", "source", "n_chars", "embedding")
      .as[(Long, String, String, String, Long, Seq[Float])]
      .collect().toSeq
    val in = MemoryStream[(Long, String, String, String, Long, Seq[Float])]
    val q = graft.streaming.IngestPipeline.start(
      in.toDF().toDF("doc_id", "text", "lang", "source", "n_chars",
        "embedding"),
      SF, indexDir, outDir)
    try {
      in.addData(half(1L)); q.processAllAvailable()
      in.addData(half(3L)); q.processAllAvailable()
    } finally q.stop()
    def rel(p: String) =
      spark.read.parquet(p).collect().map(_.toSeq).toSet
    val preCodes = rel(s"$outDir/pq/codes")
    val preCells = rel(s"$outDir/pq/cells")
    val preCodebook = rel(s"$outDir/pq/codebook")
    val preCentroids = rel(s"$outDir/pq/centroids")
    // victims: every published doc_id ≡ 1 (mod 8) — a strict subset of
    // batch 1, so both pq relations and the corpus must shrink
    val victims = spark.read.parquet(s"$outDir/corpus")
      .where(col("doc_id") % 8 === 1).select(col("doc_id"))
    val victimIds = victims.as[Long].collect().toSet
    assert(victimIds.nonEmpty)
    val fin = MemoryStream[Long]
    val fq = StreamingOps.forgetStream(fin.toDF().toDF("doc_id"),
      s"$outDir/corpus",
      graft.sources.Store.all.map(st => st -> st.ingestDir(outDir, indexDir)),
      s"$outDir/forget-audit")
    try { fin.addData(victimIds.toSeq); fq.processAllAvailable() }
    finally fq.stop()
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id").as("vec_id"),
        graft.functions.MicroVecExpr.micro(spark, col("embedding"))
          .as("em"))
      .withColumn("nrm", graft.functions.VecDotExpr.dot(spark,
        col("em"), col("em")))
    val survivors = spark.read.parquet(s"$outDir/corpus")
    assert(survivors.where(col("doc_id") % 8 === 1).count() == 0L)
    // SQ: the forgotten maintained store == a survivors-only build
    val sqFresh = java.nio.file.Files
      .createTempDirectory("graft-forget-sq-fresh").toString
    graft.sources.SqIndex.buildFrom(spark, vecsOf(survivors), sqFresh)
    assert(rel(s"$outDir/sq/recon") == rel(s"$sqFresh/recon"))
    // PQ: frozen model, corpus relations = maintained minus victims
    def dropVictims(rows: Set[Seq[Any]]) =
      rows.filterNot(r => victimIds.contains(r.head.asInstanceOf[Long]))
    assert(rel(s"$outDir/pq/codebook") == preCodebook)
    assert(rel(s"$outDir/pq/centroids") == preCentroids)
    assert(rel(s"$outDir/pq/codes") == dropVictims(preCodes))
    assert(rel(s"$outDir/pq/cells") == dropVictims(preCells))
    // registry-style recall read after ingest+forget: the store still
    // serves ANN probes and can never return a victim
    val probes = vecsOf(survivors.limit(20))
      .select(col("vec_id").as("q_id"), col("em").as("qem"),
        col("nrm").as("qn"))
    val served = graft.sources.PqIndex.queryAgainst(spark, probes,
      s"$outDir/pq", SF).select("n_id").as[Long].collect()
    assert(served.nonEmpty)
    assert(served.toSet.intersect(victimIds).isEmpty)
  }

  test("phraseServeStream: two phrase micro-batches over one store == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-pos-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-pos-sout")
        .toString + "/hits"
    graft.sources.PositionsIndex.build(spark, SF, indexDir)
    // two deterministic ad-hoc phrases: the corpus's top two trigrams
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("text"))
    val top2 = docs.select(explode(graft.functions.WordGramsExpr
        .grams(spark, col("text"), 3, distinct = false)).as("g"))
      .groupBy("g").count()
      .orderBy(col("count").desc, col("g").asc).limit(2)
      .select("g").as[String].collect()
    def parts(g: String) =
      g.split(" ").zipWithIndex.map { case (t, i) => (g, i, t) }.toSeq
    val in = MemoryStream[(String, Int, String)]
    val q = StreamingOps.phraseServeStream(
      in.toDF().toDF("g", "i", "t"), indexDir, outDir)
    try {
      in.addData(parts(top2(0)))
      q.processAllAvailable()
      in.addData(parts(top2(1)))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, String, Long, Long)].collect().toSet
      val batch = graft.sources.PositionsIndex.phraseAgainst(spark,
        (parts(top2(0)) ++ parts(top2(1))).toDF("g", "i", "t"), indexDir)
        .as[(Long, String, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
      assert(streamed.map(_._2) == top2.toSet)
    } finally q.stop()
  }

  test("phraseServeBucketedStream + dedupAgainstBucketedStream: bucketed serving == directory serving per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{MinhashIndex, PositionsIndex}
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("text"))
    // --- phrase over the bucketed-by-t positions table
    val posDir =
      java.nio.file.Files.createTempDirectory("graft-pos-bs").toString
    PositionsIndex.build(spark, SF, posDir)
    val posTable = "g_serve_bkt_pos_stream"
    PositionsIndex.writeBucketedPositions(spark, posDir, posTable,
      path = Some(java.nio.file.Files
        .createTempDirectory("graft-pos-bsdata").toString + "/t"))
    val top2 = docs.select(explode(graft.functions.WordGramsExpr
        .grams(spark, col("text"), 3, distinct = false)).as("g"))
      .groupBy("g").count()
      .orderBy(col("count").desc, col("g").asc).limit(2)
      .select("g").as[String].collect()
    def parts(g: String) =
      g.split(" ").zipWithIndex.map { case (t, i) => (g, i, t) }.toSeq
    val posOut = java.nio.file.Files
      .createTempDirectory("graft-pos-bsout").toString + "/hits"
    try {
      val in = MemoryStream[(String, Int, String)]
      val q = StreamingOps.phraseServeBucketedStream(
        in.toDF().toDF("g", "i", "t"), posTable, posOut)
      try {
        in.addData(parts(top2(0)))
        q.processAllAvailable()
        in.addData(parts(top2(1)))
        q.processAllAvailable()
        val streamed = spark.read.parquet(posOut)
          .as[(Long, String, Long, Long)].collect().toSet
        val batch = PositionsIndex.phraseAgainst(spark,
            (parts(top2(0)) ++ parts(top2(1))).toDF("g", "i", "t"),
            posDir)
          .as[(Long, String, Long, Long)].collect().toSet
        assert(streamed.nonEmpty && streamed == batch)
      } finally q.stop()
      // the per-batch probe prunes to the phrase's buckets
      val probe = PositionsIndex.phraseServeAgainstBucketed(spark,
        parts(top2(0)).toDF("g", "i", "t"), posTable)
      probe.collect()
      assert(probe.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"))
    } finally { spark.sql(s"DROP TABLE IF EXISTS $posTable"); () }
    // --- dedup probe over the bucketed-by-bh band table
    val mhDir =
      java.nio.file.Files.createTempDirectory("graft-mh-bs").toString
    MinhashIndex.build(spark,
      docs.where(col("doc_id") % 2 === 0), mhDir)
    val mhTable = "g_serve_bkt_mh_stream"
    MinhashIndex.writeBucketedBands(spark, mhDir, mhTable,
      path = Some(java.nio.file.Files
        .createTempDirectory("graft-mh-bsdata").toString + "/t"))
    val mhOut = java.nio.file.Files
      .createTempDirectory("graft-mh-bsout").toString + "/dups"
    try {
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupAgainstBucketedStream(
        in.toDF().toDF("doc_id", "text"), mhTable, mhDir, mhOut)
      try {
        def snap(m: Long) = docs.where(col("doc_id") % 4 === m)
          .select("doc_id", "text").as[(Long, String)].collect().toSeq
        in.addData(snap(1L))
        q.processAllAvailable()
        in.addData(snap(3L))
        q.processAllAvailable()
        val streamed = spark.read.parquet(mhOut)
          .as[(Long, Long, Long)].collect().toSet
        val batch = MinhashIndex.dedupAgainst(spark,
            docs.where(col("doc_id") % 2 === 1), mhDir)
          .as[(Long, Long, Long)].collect().toSet
        assert(streamed.nonEmpty && streamed == batch)
      } finally q.stop()
    } finally { spark.sql(s"DROP TABLE IF EXISTS $mhTable"); () }
  }

  test("proximityServeStream: two term-pair micro-batches over one store == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-prox-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-prox-sout")
        .toString + "/hits"
    graft.sources.PositionsIndex.build(spark, SF, indexDir)
    // two deterministic ad-hoc term pairs off the top two trigrams:
    // (first, last) of each — the proximityTerms shape
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("text"))
    val top2 = docs.select(explode(graft.functions.WordGramsExpr
        .grams(spark, col("text"), 3, distinct = false)).as("g"))
      .groupBy("g").count()
      .orderBy(col("count").desc, col("g").asc).limit(2)
      .select("g").as[String].collect()
    def pair(g: String) = {
      val ws = g.split(" ")
      Seq((ws.head, "a"), (ws.last, "b"))
    }
    val in = MemoryStream[(String, String)]
    val q = StreamingOps.proximityServeStream(
      in.toDF().toDF("t", "role"), indexDir, outDir)
    try {
      in.addData(pair(top2(0)))
      q.processAllAvailable()
      in.addData(pair(top2(1)))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, String, String, Long, Long)].collect().toSet
      // batch twin: each pair probed separately (a combined frame
      // would cross the two pairs' roles), then unioned
      val batch = top2.map(g =>
        graft.sources.PositionsIndex.proximityAgainst(spark,
          pair(g).toDF("t", "role"), indexDir)
          .as[(Long, String, String, Long, Long)].collect().toSet)
        .reduce(_ ++ _)
      assert(streamed.nonEmpty && streamed == batch)
      assert(streamed.forall(_._4 <= graft.pipeline.DataOps.ProximityWindow))
    } finally q.stop()
  }

  test("proximityServeBatchedStream: q_id-keyed pair batches == the batched store probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-proxb-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-proxb-sout")
        .toString + "/hits"
    graft.sources.PositionsIndex.build(spark, SF, indexDir)
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("text"))
    val allTerms = graft.pipeline.DataOps.proximityServeTerms(spark, docs)
      .as[(Long, String, String)].collect().toSeq
    val in = MemoryStream[(Long, String, String)]
    val q = StreamingOps.proximityServeBatchedStream(
      in.toDF().toDF("q_id", "t", "role"), indexDir, outDir)
    try {
      // BOTH pairs in one micro-batch — the contract the unkeyed form
      // cannot offer — then replayed as per-pair batches: results union
      in.addData(allTerms)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, String, String, Long, Long)].collect().toSet
      val batch = graft.sources.PositionsIndex.proximityServeAgainst(
          spark, allTerms.toDF("q_id", "t", "role"), indexDir)
        .as[(Long, Long, String, String, Long, Long)].collect().toSet
      assert(streamed.nonEmpty && streamed == batch)
      assert(streamed.map(_._1) == Set(1L, 2L))
    } finally q.stop()
  }

  test("ivfPqAgainstStream: composed IVFPQ serving, two micro-batches == batch probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-ivfpq-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-ivfpq-sout")
        .toString + "/hits"
    graft.sources.PqIndex.build(spark, SF, indexDir)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = StreamingOps.ivfPqAgainstStream(
      in.toDF().toDF("vec_id", "embedding"), indexDir, SF, outDir)
    try {
      val queries = spark.read.parquet(s"$SF/embeddings.parquet")
        .where(col("vec_id") % 50 === 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect().toSeq
      val (b1, b2) = queries.splitAt(queries.size / 2)
      in.addData(b1)
      q.processAllAvailable()
      in.addData(b2)
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = graft.sources.PqIndex.annIvfPqIndexed(spark, SF)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed.nonEmpty)
      assert(streamed == batch)
    } finally q.stop()
  }

  test("ivfPqServeBucketedStream: bucketed inverted-list serving, two micro-batches == directory composed probe") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-ivfpq-bs").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-ivfpq-bsout")
        .toString + "/hits"
    graft.sources.PqIndex.build(spark, SF, indexDir)
    val table = "g_serve_bkt_codes_stream"
    graft.sources.PqIndex.writeBucketedCodes(spark, indexDir, table,
      path = Some(java.nio.file.Files
        .createTempDirectory("graft-ivfpq-bsdata").toString + "/t"))
    try {
      val in = MemoryStream[(Long, Seq[Float])]
      val q = StreamingOps.ivfPqServeBucketedStream(
        in.toDF().toDF("vec_id", "embedding"), table, indexDir, SF,
        outDir)
      try {
        val queries = spark.read.parquet(s"$SF/embeddings.parquet")
          .where(col("vec_id") % 50 === 0)
          .select(col("vec_id"), col("embedding"))
          .as[(Long, Seq[Float])].collect().toSeq
        val (b1, b2) = queries.splitAt(queries.size / 2)
        in.addData(b1)
        q.processAllAvailable()
        in.addData(b2)
        q.processAllAvailable()
        val streamed = spark.read.parquet(outDir)
          .as[(Long, Long, Long, Long)].collect().toSet
        val batch = graft.sources.PqIndex.annIvfPqIndexed(spark, SF)
          .as[(Long, Long, Long, Long)].collect().toSet
        assert(streamed.nonEmpty && streamed == batch)
      } finally q.stop()
      // the per-batch probe prunes the code scan to the probed cells
      val qb = graft.pipeline.DataOps.annQueries(spark, SF)
        .where(col("q_id") % 100 === 0)
      val probe = graft.sources.PqIndex.ivfPqServeAgainstBucketed(
        spark, qb, table, indexDir, SF)
      probe.collect()
      assert(probe.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"))
    } finally { spark.sql(s"DROP TABLE IF EXISTS $table"); () }
  }

  test("bm25ServeStream: two query micro-batches over one store == batch serve") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-postings-s").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-postings-sout")
        .toString + "/hits"
    graft.sources.PostingsIndex.build(spark, SF, indexDir)
    val in = MemoryStream[(Long, String)]
    val q = StreamingOps.bm25ServeStream(
      in.toDF().toDF("q_id", "token"), indexDir, outDir)
    try {
      in.addData(Seq((1L, "dup")))
      q.processAllAvailable()
      in.addData(Seq((2L, "dup"), (2L, "the")))
      q.processAllAvailable()
      val streamed = spark.read.parquet(outDir)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      val batch = graft.sources.PostingsIndex.bm25ServeAgainst(spark,
          Seq((1L, "dup"), (2L, "dup"), (2L, "the")).toDF("q_id", "token"),
          indexDir)
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      assert(streamed.map(_._1) == Set(1L, 2L))
    } finally q.stop()
  }

  test("bm25ServeBucketedStream: two micro-batches over the bucketed layout == directory serve, scans prune") {
    implicit val sqlCtx = spark.sqlContext
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-postings-bs").toString
    val outDir =
      java.nio.file.Files.createTempDirectory("graft-postings-bsout")
        .toString + "/hits"
    graft.sources.PostingsIndex.build(spark, SF, indexDir)
    val table = "g_serve_bkt_stream"
    graft.sources.PostingsIndex.writeBucketedPostings(spark, indexDir,
      table, path = Some(java.nio.file.Files
        .createTempDirectory("graft-postings-bsdata").toString + "/t"))
    try {
      val in = MemoryStream[(Long, String)]
      val q = StreamingOps.bm25ServeBucketedStream(
        in.toDF().toDF("q_id", "token"), table, indexDir, outDir)
      try {
        in.addData(Seq((1L, "dup")))
        q.processAllAvailable()
        in.addData(Seq((2L, "dup"), (2L, "the")))
        q.processAllAvailable()
        val streamed = spark.read.parquet(outDir)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        val batch = graft.sources.PostingsIndex.bm25ServeAgainst(spark,
            Seq((1L, "dup"), (2L, "dup"), (2L, "the"))
              .toDF("q_id", "token"), indexDir)
          .as[(Long, Long, Long, Long, Long)].collect().toSet
        assert(streamed == batch && streamed.nonEmpty)
      } finally q.stop()
      // the per-batch probe PRUNES the bucketed scan to the batch's
      // terms — the serving cost follows posting lists, not the corpus
      val probe = graft.sources.PostingsIndex.bm25ServeAgainstBucketed(
        spark, Seq((9L, "dup")).toDF("q_id", "token"), table, indexDir)
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"no bucket pruning in:\n$plan")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $table")
      ()
    }
  }

  test("forgetStream: two deletion-request micro-batches == one composed forget") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.{CorpusSink, DsirStore, Forget, MinhashIndex,
      PostingsIndex, Store}
    val docs = spark.read.parquet(s"$SF/documents.parquet")
      .select(col("doc_id"), col("lang"), col("text"))
    def buildAll(dir: String): Unit = {
      CorpusSink.appendCurated(docs, s"$dir/corpus")
      PostingsIndex.buildFrom(spark,
        docs.select(col("doc_id"), col("text")), s"$dir/postings")
      MinhashIndex.build(spark,
        docs.select(col("doc_id"), col("text")), s"$dir/minhash")
      DsirStore.buildFrom(spark, docs, s"$dir/dsir")
    }
    val sDir = java.nio.file.Files
      .createTempDirectory("graft-forget-stream").toString
    val bDir = java.nio.file.Files
      .createTempDirectory("graft-forget-stream-ref").toString
    buildAll(sDir); buildAll(bDir)
    val outDir = s"$sDir/audit"
    val in = MemoryStream[Long]
    val stores = Seq(PostingsIndex, MinhashIndex, DsirStore)
    val q = StreamingOps.forgetStream(in.toDF().toDF("doc_id"),
      s"$sDir/corpus", Store.under(sDir, stores), outDir)
    try {
      def ids(m: Long) = docs.where(col("doc_id") % 4 === m)
        .select("doc_id").as[Long].collect().toSeq
      in.addData(ids(1L))
      q.processAllAvailable()
      in.addData(ids(3L))
      q.processAllAvailable()
      // reference: the SAME odd ids forgotten in ONE composed call
      Forget.forget(spark, docs.where(col("doc_id") % 2 === 1)
          .select(col("doc_id")),
        s"$bDir/corpus", Store.under(bDir, stores))
      def rel(root: String, p: String) =
        spark.read.parquet(s"$root/$p").collect().map(_.toSeq).toSet
      Seq("corpus", "postings/postings", "postings/doclen",
        "postings/vocab", "postings/stats", "minhash/shingles",
        "minhash/bands", "dsir/stats").foreach { p =>
        assert(rel(sDir, p) == rel(bDir, p), p)
      }
      // the audit log holds every honored id across both batch_ids
      val audit = spark.read.parquet(outDir)
        .as[(Long, Long)].collect()
      assert(audit.map(_._1).toSet == (ids(1L) ++ ids(3L)).toSet)
      assert(audit.map(_._2).toSet.size == 2)
      // a re-request of an already-forgotten id fails the batch loudly
      // (silently skipping would corrupt the audit trail's meaning)
      in.addData(Seq(ids(1L).head))
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("not in the published") ||
        Option(err.getCause).exists(
          _.getMessage.contains("not in the published")))
    } finally q.stop()
  }
}
