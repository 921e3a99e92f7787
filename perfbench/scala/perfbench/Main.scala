package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The highest percentile with at least ten samples above it: the
    * eleventh-largest sample (the maximum when there are no more than
    * eleven). Returns (value, percentile, sample count). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val i = if (s.size > 11) s.size - 11 else s.size - 1
    (s.lift(i).getOrElse(0.0), 100.0 * (i + 1) / math.max(1, s.size), s.size)
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What one run reports: end-to-end metrics (untraced runs), per-layer
  * metrics (traced runs), the operation tally and any correctness
  * mismatch. */
final class Result {
  val endToEnd: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val perLayer: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  /** Workload-specific figures printed for people, not for the gate. */
  val notes: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val mismatches: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) mismatches += what
}

final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    traced: Boolean, work: String, spans: Spans, res: Result) {

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Entry point: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>`. Prints `name value unit` lines, then one JSON result
  * line; exits 1 when an output check fails. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "chat-stream" -> ChatStream.run,
    "ingest-stream" -> IngestStream.run,
    "registry-batch" -> RegistryBatch.run)

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opt("--workload")
    val run = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload"))
    val work = opt("--work")
    val t0 = System.nanoTime()
    val spark = session(Runtime.getRuntime.availableProcessors(), work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = Ctx(spark, opt("--seed").toLong,
      opt("--seconds").toDouble, opt.getOrElse("--trace", "0") == "1",
      work, new Spans, new Result)
    ctx.res.notes("session_start_s") = (sessionS, "s")
    try opt.get("--pin") match {
      case Some(path) => RegistryBatch.writePins(ctx, path)
      case None => run(ctx)
    } finally {
      ctx.spans.writeJson(s"${opt.getOrElse("--trace-dir", work)}/" +
        s"spans-$workload-${ctx.seed}.json")
      SparkSession.getActiveSession.foreach(_.stop())
    }
    report(ctx)
    sys.exit(if (ctx.res.mismatches.isEmpty) 0 else 1)
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Keep little job history in the status store, so heap_peak_mb
      // follows the program's own state rather than retained UI records.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .config("spark.sql.streaming.ui.retainedProgressUpdates", "10")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def report(ctx: Ctx): Unit = {
    val r = ctx.res
    val failedShare = r.failed.toDouble / math.max(1L, r.attempted)
    r.notes("failed_share") = (failedShare, "ratio")
    for ((k, (v, u)) <- r.notes ++ r.endToEnd ++ r.perLayer)
      println(s"$k ${Json.num(v)} $u")
    r.mismatches.foreach(m => println(s"MISMATCH $m"))
    val metrics = (if (ctx.traced) r.perLayer else r.endToEnd).map {
      case (k, (v, u)) => s"${Json.str(k)}: {\"value\": ${Json.num(v)}, " +
        s"\"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"""{"correct": ${r.mismatches.isEmpty}, "attempted": """ +
      s"""${math.max(1L, r.attempted)}, "failed": ${r.failed}, """ +
      s""""metrics": {$metrics}}""")
  }
}
