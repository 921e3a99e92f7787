package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.Model.{TimedMessage, ToxWindow}
import graft.nlp.NlpFunctions.tokens
import graft.pipeline.ParityQueries

/**
 * The typed public facade mirroring the reference program
 * (SentimentAnalysis.scala:34-227): a lazily-composed set of named streams
 * over one message source, with `.start()` ≈ `env.execute` — only sinked
 * branches run (SURVEY.md §3). Works identically over a live socket
 * source ([[SentimentPipeline.fromSocket]]) or any bounded/unbounded
 * `Dataset[TimedMessage]` (tests use `MemoryStream`).
 *
 * The reference's active DAG maps to two Spark queries:
 *  - E1: parse → 1 s keyed window concat → sentiment → sink
 *    (SentimentAnalysis.scala:41-59, :216);
 *  - E2: per-record mood → running reduce ⊕ countWindow(10) ≤ −10 → sink
 *    (SentimentAnalysis.scala:162-168, :201-206, :224) — fused into one
 *    stateful operator ([[StreamingOps.toxicWindows]]) because Spark
 *    disallows flatMapGroupsWithState downstream of a streaming
 *    aggregation.
 */
final class SentimentPipeline(val messages: Dataset[TimedMessage]) {
  private val spark = messages.sparkSession

  /** W1: keyed 1 s tumbling concat (SentimentAnalysis.scala:44-48). */
  lazy val parsedStream: DataFrame = StreamingOps.w1Concat(messages)

  /** W2 aggregateStream: 100 s re-window of W1
    * (SentimentAnalysis.scala:51-52) — chained stateful aggregation. */
  lazy val aggregateStream: DataFrame = StreamingOps.w2Concat(messages)

  /** E1 head: W1 + sentiment scores (SentimentAnalysis.scala:55-59). */
  lazy val sentimentStream: DataFrame = StreamingOps.sentimentStream(messages)

  /** Per-record scored message stream with event time — the stateless
    * trunk feeding the entity/category branches at live granularity. */
  private lazy val scored: DataFrame =
    ParityQueries.withSentiment(
      StreamingOps.withEventTime(messages).withWatermark("ts", "5 seconds"))

  /** R3 entityStream (SentimentAnalysis.scala:62-93): one row per entity
    * mention with the record's mood. */
  lazy val entityStream: DataFrame =
    scored.select(col("ts"),
      explode(graft.functions.EntityMentionsExpr.mentions(spark,
        col("text"))).as("key"),
      col("mood_micro"))

  /** W7 entityOpinionStream (SentimentAnalysis.scala:186-192): 30 s
    * tumbling mood sum per entity. */
  lazy val entityOpinionStream: DataFrame =
    entityStream
      .groupBy(window(col("ts"), "30 seconds"), col("key"))
      .agg(sum(col("mood_micro")).as("mood_micro"))

  /** R5/R6 categorySentimentStream (SentimentAnalysis.scala:126-160):
    * ≥25-word-guarded categories exploded with the record's sentiment. */
  lazy val categorySentimentStream: DataFrame =
    scored
      .withColumn("categories",
        when(graft.nlp.NlpFunctions.refWordCount(col("text")) >= 25,
          graft.functions.CategoryHitsExpr.cats(spark, tokens(col("text"))))
          .otherwise(array()))
      .select(col("ts"), explode(col("categories")).as("c"),
        col("score_micro"), col("mag_micro"), col("mood_micro"))
      .select(col("ts"), col("c.category").as("category"),
        col("c.conf_micro").as("conf_micro"), col("score_micro"),
        col("mag_micro"), col("mood_micro"))

  /** W6 categoryOpinionStream (SentimentAnalysis.scala:178-184): running
    * per-category mood, update-mode. */
  lazy val categoryOpinionStream: DataFrame =
    categorySentimentStream
      .groupBy(col("category").as("key"))
      .agg(sum(col("mood_micro")).as("run_micro"))

  /** The repaired trendingStream (SentimentAnalysis.scala:106-123, dead
    * in the reference): per-10 s-window share of conversation per entity
    * — a second chained aggregation collecting the window's counts, then
    * exploded with the percentage. */
  lazy val trendingStream: DataFrame =
    entityStream
      .groupBy(window(col("ts"), "10 seconds"), col("key"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(window(window_time(col("window")), "10 seconds"))
      .agg(sum(col("cnt")).as("tot"),
        collect_list(struct(col("key"), col("cnt"))).as("ks"))
      .select(col("window"), col("tot"), explode(col("ks")).as("kc"))
      .select(
        (unix_timestamp(col("window.start")) -
          graft.pipeline.ParityQueries.BaseEpoch).as("w3sec"),
        col("kc.key").as("key"), col("kc.cnt").as("cnt"),
        round(col("kc.cnt").cast("double") / col("tot").cast("double") *
          lit(1000000.0)).cast("long").as("pct_micro"))

  /** W4: running per-user mood, update-mode (SentimentAnalysis.scala:285).
    * Fed per record, as the reference's unwindowed reduce is. */
  lazy val userMoodStream: DataFrame =
    StreamingOps.runningMood(
      ParityQueries.withSentiment(messages.toDF())
        .withColumnRenamed("user", "username"))

  /** W5: sliding 90 s / 60 s channel mood (SentimentAnalysis.scala:170-176). */
  lazy val channelMoodStream: DataFrame =
    ParityQueries.withSentiment(
      StreamingOps.withEventTime(messages).withWatermark("ts", "5 seconds"))
      .groupBy(window(col("ts"), "90 seconds", "60 seconds"),
        col("channel").as("key"))
      .agg(sum(col("mood_micro")).as("mood_micro"))

  /** R3/W3: entity flatten + 10 s tumbling count
    * (SentimentAnalysis.scala:62-104), per-record granularity. */
  lazy val topicStream: DataFrame =
    StreamingOps.withEventTime(messages).withWatermark("ts", "5 seconds")
      .select(col("ts"),
        explode(graft.functions.EntityMentionsExpr.mentions(spark,
          col("text"))).as("key"))
      .groupBy(window(col("ts"), "10 seconds"), col("key"))
      .agg(count(lit(1)).as("cnt"))

  /** E2: toxicUserStream — running user mood through countWindow(10),
    * fired at ≤ −10 (micro) (SentimentAnalysis.scala:201-206). */
  lazy val toxicUserStream: Dataset[ToxWindow] =
    StreamingOps.toxicWindows(
      StreamingOps.perRecordMoods(messages), 10, -10L * 1000000L)

  /** toxicChannelStream — countWindow(50) ≤ −30 consuming USER moods
    * (the preserved reference quirk, SentimentAnalysis.scala:208-213). */
  lazy val toxicChannelStream: Dataset[ToxWindow] =
    StreamingOps.toxicWindows(
      StreamingOps.perRecordMoods(messages), 50, -30L * 1000000L)

  /** toxicTopicStream — countWindow(25) ≤ −20 over per-entity moods
    * (SentimentAnalysis.scala:194-199). */
  lazy val toxicTopicStream: Dataset[ToxWindow] = {
    import spark.implicits._
    StreamingOps.toxicWindows(
      ParityQueries.withSentiment(messages.toDF())
        .select(explode(graft.functions.EntityMentionsExpr.mentions(spark,
          col("text"))).as("key"), col("seq"), col("tsec"),
          col("mood_micro"))
        .as[graft.model.Model.MoodRec],
      25, -20L * 1000000L)
  }

  /** K1/K2: start the active DAG (E1 + E2) on console sinks — the
    * reference's two live `print()` branches (SentimentAnalysis.scala:216,
    * :224). Caller owns `awaitTermination`. */
  def startConsole(): Seq[StreamingQuery] = Seq(
    sentimentStream.writeStream.outputMode("append").format("console")
      .queryName("sentimentStream").start(),
    toxicUserStream.toDF().writeStream.outputMode("append").format("console")
      .queryName("toxicUserStream").start())

  /** K1 durable form: E1 to a parquet sink (append mode). */
  def startParquet(outDir: String, checkpointDir: String): StreamingQuery =
    sentimentStream.writeStream.outputMode("append").format("parquet")
      .option("path", outDir).option("checkpointLocation", checkpointDir)
      .queryName("sentimentParquet").start()
}

object SentimentPipeline {

  /** S1 (SentimentAnalysis.scala:36-37): defaulted named args. */
  case class Config(url: String = "localhost", port: Int = 9001)

  /** Parse `--url X --port N` pairs; unknown flags ignored, defaults kept
    * — ParameterTool-style leniency. */
  def parseArgs(args: Array[String]): Config =
    args.sliding(2, 2).foldLeft(Config()) {
      case (c, Array("--url", v))  => c.copy(url = v)
      case (c, Array("--port", v)) => c.copy(port = v.toInt)
      case (c, _)                  => c
    }

  /** R1 wire parse (SentimentAnalysis.scala:45-48): split-limit-3, text
    * keeps its commas. A 2-field line yields text = "" (the reference's
    * `drop(2).mkString` on a short array); a 1-field line yields a null
    * user (PERMISSIVE, where the reference would throw — SURVEY.md §1);
    * an empty line yields channel "", a null user and text "". Trailing
    * commas are dropped first, as Java's `split(",")` does. No line is
    * dropped, and static and streaming input parse alike.
    */
  def parseWire(lines: DataFrame): DataFrame = {
    // get() (not getItem) so short lines yield nulls instead of ANSI
    // out-of-bounds errors — PERMISSIVE malformed-line handling. rtrim
    // reproduces Java split(",")'s trailing-empty-field drop.
    val parts = split(rtrim(col("value"), ","), ",", 3)
    lines.select(
      get(parts, lit(0)).as("channel"),
      get(parts, lit(1)).as("user"),
      coalesce(get(parts, lit(2)), lit("")).as("text"))
  }

  /** S2 (SentimentAnalysis.scala:41): unbounded `channel,user,text` lines
    * from TCP, stamped with processing time (the reference's implicit
    * time/order made explicit). */
  def fromSocket(spark: SparkSession, config: Config): SentimentPipeline = {
    import spark.implicits._
    val lines = spark.readStream.format("socket")
      .option("host", config.url).option("port", config.port).load()
    // current_timestamp() is constant per micro-batch, so a raw
    // timestamp seq would tie every record in a batch. Spark's socket
    // source exposes no per-record offset, so within-batch arrival order
    // is not observable; a line-hash tiebreak makes the order STABLE
    // (deterministic given the batch's lines) if not arrival-faithful —
    // the documented live-path delta from the reference's implicit
    // arrival order.
    val msgs = parseWire(lines)
      .withColumn("seq",
        unix_micros(current_timestamp()) * 1000L +
          pmod(xxhash64(col("channel"), col("user"), col("text")),
            lit(1000L)))
      .withColumn("tsec",
        unix_seconds(current_timestamp()) - lit(ParityQueries.BaseEpoch))
      .select(col("seq"), col("tsec"), col("channel"), col("user"),
        col("text"))
      .as[TimedMessage]
    new SentimentPipeline(msgs)
  }

  /** The reference's main (SentimentAnalysis.scala:34-227): socket in,
    * console out, run until terminated. */
  def main(args: Array[String]): Unit = {
    val config = parseArgs(args)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .appName("Slack Analysis")
      .master(s"local[$cpus]") // local tool default, like Bench/Verify
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    fromSocket(spark, config).startConsole()
    spark.streams.awaitAnyTermination()
  }
}
