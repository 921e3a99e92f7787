package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Model.TimedMessage
import graft.ops.ChatOps
import graft.pipeline.ParityQueries
import graft.sources.Messages
import graft.streaming.{SentimentPipeline, StreamingOps}

/** chat-stream: the reference's active DAG — E1 (`sentimentStream`) and
  * E2 (`toxicUserStream`) of one [[SentimentPipeline]] each over its own
  * `MemoryStream[TimedMessage]` fed the same chunks (a MemoryStream drops
  * committed data, so two queries cannot share one).
  *
  * Input: `Messages.fromDocs` over re-keyed replicas of a 5000-document
  * corpus; the seed permutes each replica's documents. Phase one drains
  * fixed-size micro-batches in a closed loop (capacity); phase two offers
  * fixed-size chunks on a fixed schedule (open loop) and times each chunk
  * from when it was due to the commit of the trigger that consumed it,
  * in both queries. */
object ChatStream {
  val BaseDocs = 5000
  val TextSeed = 20261017L
  val WarmRecords = 1000
  /** Drain-sized chunks pushed after the warm chunk, in set-up. */
  val WarmDrainChunks = 4
  val DrainChunk = 2000
  /** Phase lengths are sized from this nominal drain rate, so the input
    * size depends only on --seconds. */
  val NominalDrainRps = 1400.0
  val DrainShare = 0.45
  val OfferedRps = 200
  val ChunkMs = 250
  val LatencyLimitMs = 5000.0

  final case class Input(docsDir: String, msgs: IndexedSeq[TimedMessage])

  def drainChunks(seconds: Double): Int =
    math.max(2, math.round(DrainShare * seconds * NominalDrainRps /
      DrainChunk).toInt)

  def openChunks(seconds: Double): Int =
    math.max(12, math.round((1 - DrainShare) * seconds * 1000 / ChunkMs)
      .toInt)

  def chunkRecords: Int = OfferedRps * ChunkMs / 1000

  /** Documents 0 until n: replica k of the base corpus, permuted by
    * (seed, k), re-keyed to ids k·BaseDocs + i. */
  def input(spark: SparkSession, seed: Long, n: Int, dir: String): Input = {
    val base = Gen.documents(BaseDocs, TextSeed)
    val docs = (0 until (n + BaseDocs - 1) / BaseDocs).flatMap { k =>
      val perm = new scala.util.Random(seed * 7919 + k)
        .shuffle(base.indices.toVector)
      perm.zipWithIndex.map { case (j, i) =>
        base(j).copy(doc_id = k.toLong * BaseDocs + i)
      }
    }.take(n)
    spark.createDataFrame(docs).coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val msgs = Messages.fromDocs(spark.read.parquet(s"$dir/documents.parquet"))
      .orderBy("seq").collect().map { r =>
        TimedMessage(r.getLong(0), r.getLong(1), r.getString(2),
          r.getString(3), r.getString(4))
      }.toIndexedSeq
    Input(dir, msgs)
  }

  /** The two queries of the active DAG over their own memory streams. */
  final class Dag(spark: SparkSession, name: String, ckpt: String) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext =
      spark.sqlContext
    import spark.implicits._
    val in1: MemoryStream[TimedMessage] = MemoryStream[TimedMessage]
    val in2: MemoryStream[TimedMessage] = MemoryStream[TimedMessage]
    val e1Name = s"${name}e1"
    val e2Name = s"${name}e2"
    val e1: StreamingQuery = new SentimentPipeline(in1.toDS()).sentimentStream
      .writeStream.outputMode("append").format("memory").queryName(e1Name)
      .option("checkpointLocation", s"$ckpt/e1").start()
    val e2: StreamingQuery = new SentimentPipeline(in2.toDS()).toxicUserStream
      .toDF().writeStream.outputMode("append").format("memory")
      .queryName(e2Name).option("checkpointLocation", s"$ckpt/e2").start()

    def add(chunk: Seq[TimedMessage]): Unit = {
      in1.addData(chunk)
      in2.addData(chunk)
    }

    def drain(): Unit = {
      e1.processAllAvailable()
      e2.processAllAvailable()
    }

    def stop(): Unit = { e1.stop(); e2.stop() }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val nDrain = drainChunks(ctx.seconds)
    val nOpen = openChunks(ctx.seconds)
    val n = WarmRecords + (WarmDrainChunks + nDrain) * DrainChunk +
      nOpen * chunkRecords
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val jobs = if (ctx.traced) Some(JobStats.attach(spark)) else None

    // Set-up: generate the input, start both queries and push the warm
    // chunk and WarmDrainChunks drain-sized chunks through them (the drain
    // time per chunk falls by a third over the first five). The heap is
    // sampled (two forced collections) before the warm chunk and after the
    // open loop, never right before a timed phase, where it would slow the
    // first triggers.
    val t0s = System.nanoTime()
    val in = input(spark, ctx.seed, n, ctx.dir("chat-input"))
    val dag = new Dag(spark, "", ctx.dir("chat-ckpt"))
    Heap.sample()
    dag.add(in.msgs.take(WarmRecords))
    dag.drain()
    var off = WarmRecords
    for (_ <- 0 until WarmDrainChunks) {
      dag.add(in.msgs.slice(off, off + DrainChunk))
      off += DrainChunk
      dag.drain()
    }
    val setupS = (System.nanoTime() - t0s) / 1e9
    progress.await(dag.e1Name, WarmDrainChunks.toLong)
    progress.await(dag.e2Name, WarmDrainChunks.toLong)
    progress.clear()
    jobs.foreach(_.reset())

    // Phase one: closed-loop drain. Capacity is the median over chunks of
    // chunk size / time to drain it through both queries.
    val t0 = System.nanoTime()
    val chunkS = (0 until nDrain).map { _ =>
      val c0 = System.nanoTime()
      dag.add(in.msgs.slice(off, off + DrainChunk))
      off += DrainChunk
      dag.drain()
      res.attempted += 1
      (System.nanoTime() - c0) / 1e9
    }
    val drainRps = DrainChunk / Stats.median(chunkS)
    chunkS.zipWithIndex.foreach { case (c, i) =>
      res.notes(s"drain_chunk_${i}_s") = (c, "s")
    }
    res.notes("drain_s") = ((System.nanoTime() - t0) / 1e9, "s")

    // Phase two: open loop at a fixed offered rate. Offsets count
    // addData calls, so chunk j has offset firstOffset + j.
    val firstOffset = 1 + WarmDrainChunks + nDrain
    val start = System.currentTimeMillis() + 200
    val due = (0 until nOpen).map(j => start + j.toLong * ChunkMs)
    val late = due.indices.map { j =>
      val wait = due(j) - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      val sent = System.currentTimeMillis()
      dag.add(in.msgs.slice(off, off + chunkRecords))
      off += chunkRecords
      (sent - due(j)).toDouble
    }
    dag.drain()
    progress.await(dag.e1Name, firstOffset + nOpen - 1)
    progress.await(dag.e2Name, firstOffset + nOpen - 1)
    def commits(q: String): Seq[(Long, Long)] = progress.of(q)
      .filter(_.numInputRows > 0)
      .map(p => (ProgressLog.endOffset(p), ProgressLog.commitMs(p)))
      .sortBy(_._1)
    val c1 = commits(dag.e1Name)
    val c2 = commits(dag.e2Name)
    def commitOf(cs: Seq[(Long, Long)], offset: Long): Option[Long] =
      cs.find(_._1 >= offset).map(_._2)
    val lat = due.indices.map { j =>
      val o = firstOffset + j
      (commitOf(c1, o), commitOf(c2, o)) match {
        case (Some(a), Some(b)) => (math.max(a, b) - due(j)).toDouble
        case _ => Double.PositiveInfinity
      }
    }
    res.attempted += nOpen
    res.failed += lat.count(_ > LatencyLimitMs)
    Heap.sample()
    val (tailMs, tailPct, tailN) = Stats.tail(lat)

    res.endToEnd("setup_s") = (setupS, "s")
    res.endToEnd("heap_peak_mb") = (Heap.peakMb, "MB")
    res.endToEnd("work_per_s") = (drainRps, "1/s")
    res.endToEnd("latency_p50_ms") = (Stats.median(lat), "ms")
    res.endToEnd("latency_tail_ms") = (tailMs, "ms")
    res.notes("chat_drain_rps") = (drainRps, "1/s")
    res.notes("chat_lat_p50_ms") = (Stats.median(lat), "ms")
    res.notes("chat_lat_tail_ms") = (tailMs, "ms")
    res.notes("chat_lat_tail_percentile") = (tailPct, "%")
    res.notes("chat_lat_samples") = (tailN.toDouble, "count")
    res.notes("input_messages") = (n.toDouble, "count")
    res.notes("input_users") = (in.msgs.map(_.user).distinct.size.toDouble,
      "count")

    if (ctx.traced) {
      val measured = progress.of(dag.e1Name).size + progress.of(dag.e2Name).size
      Layers.streaming(res, "e1", progress.of(dag.e1Name), stateful = true)
      Layers.streaming(res, "e2", progress.of(dag.e2Name), stateful = true)
      jobs.foreach { j =>
        Thread.sleep(200)
        Layers.spark(res, j, measured)
      }
      res.perLayer("gen.late_ms") = (Stats.median(late), "ms")
      res.perLayer("gen.late_max_ms") = (late.max, "ms")
    }
    res.notes("gen_late_max_ms") = (late.max, "ms")

    // Correctness: flush E1's last windows with a far-future record, then
    // compare both sinks with their batch twins over the same input.
    val last = in.msgs.last
    dag.in1.addData(Seq(TimedMessage(last.seq + 1, last.tsec + 100000L,
      "chX", "uX", "flush")))
    dag.drain()
    dag.stop()
    val tCheck = System.nanoTime()
    checkE1(ctx, in, dag.e1Name)
    checkE2(ctx, in, dag.e2Name)
    res.notes("check_s") = ((System.nanoTime() - tCheck) / 1e9, "s")
    if (ctx.traced) {
      staticLayers(ctx, in)
      res.perLayer("baseline.local1_drain_rps") =
        (local1Drain(ctx, in), "1/s")
    }
  }

  private val E1Cols = Seq("wsec", "channel", "username", "score_micro",
    "mag_micro", "mood_micro")

  private def rows(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSeq.sorted

  def checkE1(ctx: Ctx, in: Input, table: String): Unit = {
    val streamed = rows(ctx.spark.table(table), E1Cols)
    val batch = rows(ParityQueries.sentimented(ctx.spark, in.docsDir), E1Cols)
    ctx.res.notes("e1_rows") = (streamed.size.toDouble, "count")
    ctx.res.check(streamed.nonEmpty && streamed == batch,
      s"E1: ${streamed.size} streamed rows vs ${batch.size} from " +
        "ParityQueries.sentimented")
  }

  /** E2's twin: running sum and count windows over per-record moods. */
  def e2Twin(spark: SparkSession, msgs: Seq[TimedMessage]): DataFrame = {
    import spark.implicits._
    val moods = StreamingOps.perRecordMoods(spark.createDataset(msgs)).toDF()
      .withColumn("run_micro", ChatOps.runningSum(col("mood_micro"),
        Seq(col("key")), Seq(col("seq"))))
    ChatOps.countWindowSum(moods, col("key"), Seq(col("seq")),
      col("run_micro"), 10, -10L * 1000000L)
  }

  def checkE2(ctx: Ctx, in: Input, table: String): Unit = {
    val cols = Seq("key", "grp", "mood_micro")
    val streamed = rows(ctx.spark.table(table), cols)
    val batch = rows(e2Twin(ctx.spark, in.msgs), cols)
    ctx.res.notes("e2_toxic_windows") = (streamed.size.toDouble, "count")
    ctx.res.check(streamed.nonEmpty && streamed == batch,
      s"E2: ${streamed.size} streamed windows vs ${batch.size} from " +
        "runningSum + countWindowSum")
  }

  /** Spans around the public per-layer calls, on the run's own input as
    * a static frame. */
  private def staticLayers(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val res = ctx.res
    def timed(metric: String)(df: => DataFrame): Unit = {
      val s = ctx.spans.span(metric, "static") {
        df.write.format("noop").mode("overwrite").save()
      }
      res.perLayer(metric) = (ctx.spans.named(metric).last.seconds, "s")
    }
    val lines = Messages.wireLines(spark, in.docsDir)
      .select(col("line").as("value")).persist()
    lines.count()
    timed("sources.parse_s")(SentimentPipeline.parseWire(lines))
    val parsed = SentimentPipeline.parseWire(lines)
      .where(col("user").isNotNull && col("channel").isNotNull).count()
    res.perLayer("sources.parse_rows_dropped") =
      ((lines.count() - parsed).toDouble, "count")
    lines.unpersist()
    val msgs = spark.createDataset(in.msgs).persist()
    msgs.count()
    timed("nlp.score_s")(ParityQueries.withSentiment(msgs.toDF()))
    timed("ops.w1_s")(ParityQueries.w1(spark, in.docsDir))
    timed("ops.tox_s")(e2Twin(spark, in.msgs))
    msgs.unpersist()
  }

  /** The drain phase again on a one-core session: the single-thread
    * baseline. Restores the run's session afterwards. */
  private def local1Drain(ctx: Ctx, in: Input): Double = {
    ctx.spark.stop()
    val one = Main.session(1, ctx.work)
    try {
      val d = new Dag(one, "one_", ctx.dir("chat-ckpt-local1"))
      d.add(in.msgs.take(WarmRecords))
      d.drain()
      def chunk(i: Int): Unit = {
        d.add(in.msgs.slice(WarmRecords + i * DrainChunk,
          WarmRecords + (i + 1) * DrainChunk))
        d.drain()
      }
      (0 until WarmDrainChunks).foreach(chunk)
      val n = drainChunks(ctx.seconds)
      val t0 = System.nanoTime()
      (WarmDrainChunks until WarmDrainChunks + n).foreach(chunk)
      val rps = n * DrainChunk / ((System.nanoTime() - t0) / 1e9)
      d.stop()
      rps
    } finally one.stop()
  }
}

/** Per-layer figures shared by the streaming workloads. */
object Layers {
  import org.apache.spark.sql.streaming.StreamingQueryProgress

  def streaming(res: Result, q: String, ps: Seq[StreamingQueryProgress],
      stateful: Boolean): Unit = {
    val live = ps.filter(_.numInputRows > 0)
    def med(f: StreamingQueryProgress => Double) = Stats.median(live.map(f))
    val parts = Seq("addBatch", "queryPlanning", "walCommit",
      "commitOffsets", "latestOffset", "getBatch")
    res.perLayer(s"streaming.$q.trigger_ms") =
      (med(ProgressLog.dur(_, "triggerExecution")), "ms")
    res.perLayer(s"streaming.$q.add_batch_ms") =
      (med(ProgressLog.dur(_, "addBatch")), "ms")
    res.perLayer(s"streaming.$q.planning_ms") =
      (med(ProgressLog.dur(_, "queryPlanning")), "ms")
    res.perLayer(s"streaming.$q.wal_commit_ms") =
      (med(ProgressLog.dur(_, "walCommit")), "ms")
    res.perLayer(s"streaming.$q.commit_offsets_ms") =
      (med(ProgressLog.dur(_, "commitOffsets")), "ms")
    // What the named components leave of the trigger: the attribution
    // closes when this stays small next to trigger_ms.
    res.perLayer(s"streaming.$q.unattributed_ms") = (med(p =>
      ProgressLog.dur(p, "triggerExecution") -
        parts.map(ProgressLog.dur(p, _)).sum), "ms")
    res.perLayer(s"streaming.$q.batches") = (live.size.toDouble, "count")
    res.perLayer(s"streaming.$q.rows_in") =
      (live.map(_.numInputRows).sum.toDouble, "count")
    if (stateful) {
      res.perLayer(s"streaming.$q.rows_out") =
        (live.map(p => math.max(0L, p.sink.numOutputRows)).sum.toDouble,
          "count")
      res.perLayer(s"streaming.$q.watermark_lag_s") = (med { p =>
        val et = p.eventTime
        (Option(et.get("max")), Option(et.get("watermark"))) match {
          case (Some(m), Some(w)) =>
            (java.time.Instant.parse(m).toEpochMilli -
              java.time.Instant.parse(w).toEpochMilli) / 1000.0
          case _ => 0.0
        }
      }, "s")
      def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        med(_.stateOperators.map(f).sum)
      res.perLayer(s"streaming.$q.state.commit_ms") =
        (st(_.commitTimeMs.toDouble), "ms")
      res.perLayer(s"streaming.$q.state.update_ms") =
        (st(_.allUpdatesTimeMs.toDouble), "ms")
      res.perLayer(s"streaming.$q.state.rows") =
        (live.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum)
          .getOrElse(0L).toDouble, "count")
      res.perLayer(s"streaming.$q.state.bytes") =
        (live.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum)
          .getOrElse(0L).toDouble, "bytes")
    }
  }

  def spark(res: Result, j: JobStats, batches: Int): Unit = {
    res.perLayer("spark.jobs_per_batch") =
      (j.jobs.toDouble / math.max(1, batches), "count")
    res.perLayer("spark.tasks_per_batch") =
      (j.tasks.toDouble / math.max(1, batches), "count")
    res.perLayer("spark.executor_run_s") = (j.runMs / 1000.0, "s")
    res.perLayer("spark.executor_cpu_s") = (j.cpuNs / 1e9, "s")
    res.perLayer("spark.gc_s") = (j.gcMs / 1000.0, "s")
    res.perLayer("spark.shuffle_bytes") = (j.shuffleBytes.toDouble, "bytes")
    res.perLayer("spark.spill_bytes") = (j.spillBytes.toDouble, "bytes")
  }
}
