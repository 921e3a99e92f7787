package perfbench

import org.apache.spark.sql.DataFrame

import graft.SparkEntry

/** registry-batch: a fixed subset of `SparkEntry.queries` on one generated
  * sf-shaped directory (fixed data; the seed sets the query order). Set-up
  * generates the tables and runs every query once untimed, which also
  * lands the build-once stores; timed passes then repeat the whole set,
  * each in its own seeded order, one pass per nominal 45 s of --seconds
  * (at least one). Every timed execution is checked against its pinned row count
  * and content hash. */
object RegistryBatch {
  val DataSeed = 42L
  val Sf = 0.01
  /** Timed passes are sized from this nominal pass length. */
  val NominalPassS = 45.0

  val Groups: Seq[(String, Seq[String])] = Seq(
    "parity" -> Seq("r1Parse", "w1Concat", "w2Concat", "x1Sentiment",
      "x2Entities", "w3EntityCount", "trending", "x3Categories",
      "r6CategorySentiment", "r7MoodUser", "w4UserMoodRunning",
      "w5ChannelMoodSliding", "w6CategoryOpinion", "w7EntityOpinion",
      "w8ToxicUser", "w8ToxicTopic", "w8ToxicChannel"),
    "audit" -> Seq("dedupNgramSource", "annRecallEval", "embedDedupRecall",
      "rrfFusion", "dupTriangles", "annStoreRecall"),
    "store_read" -> Seq("bm25Indexed", "phraseIndexed", "dedupIndexed",
      "annPqIndexed"),
    "relational" -> Seq("eventPagerank", "basketPairs", "q2MinCostSupp",
      "q21WaitingSupp"))

  val Queries: Seq[String] = Groups.flatMap(_._2)

  /** Row count and an order-independent hash of the rendered rows
    * (columns by name; doubles to nine significant digits, so the last
    * bits of a reordered floating-point sum do not matter). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted
    val rendered = df.select(cols.map(c => df.col(s"`$c`")): _*).collect()
      .map(_.toSeq.map {
        case d: Double => f"$d%.9g"
        case f: Float => f"${f.toDouble}%.6g"
        case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
        case v => String.valueOf(v)
      }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rendered.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    (rendered.length.toLong,
      md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString)
  }

  /** Pinned (rows, hash) per query, from `pins.tsv` beside the harness. */
  def pins(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path, "UTF-8").getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split('\t')).map(a => a(0) -> (a(1).toLong, a(2))).toMap

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val res = ctx.res
    val pinned = pins(sys.props.getOrElse("perfbench.pins", "perfbench/pins.tsv"))
    val entries = SparkEntry.queries
    val jobs = if (ctx.traced) Some(JobStats.attach(spark)) else None
    def exec(name: String, dir: String): (Double, (Long, String)) = {
      val t0 = System.nanoTime()
      val fp = fingerprint(entries(name)(spark, dir))
      ((System.nanoTime() - t0) / 1e9, fp)
    }

    val t0s = System.nanoTime()
    val dir = ctx.dir("registry")
    Gen.writeSf(spark, dir, Sf, DataSeed)
    res.notes("setup_generate_s") = ((System.nanoTime() - t0s) / 1e9, "s")
    Queries.foreach(exec(_, dir))
    val setupS = (System.nanoTime() - t0s) / 1e9
    Heap.sample()
    jobs.foreach(_.reset())

    val rnd = new scala.util.Random(ctx.seed)
    val nPasses = math.max(1, math.round(ctx.seconds / NominalPassS).toInt)
    val t0 = System.nanoTime()
    val passes = (0 until nPasses).map { pass =>
      rnd.shuffle(Queries).map { q =>
        val (s, fp) = ctx.spans.span(s"query.$q", s"pass-$pass") {
          exec(q, dir)
        }
        res.attempted += 1
        pinned.get(q) match {
          case Some(p) if p == fp => ()
          case other =>
            res.failed += 1
            res.check(false, s"registry: $q returned ${fp._1} rows, hash " +
              s"${fp._2}; pinned ${other.getOrElse("nothing")}")
        }
        q -> s
      }.toMap
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    Heap.sample()

    val times = passes.flatMap(_.values)
    val (tail, tailPct, tailN) = Stats.tail(times)
    res.endToEnd("setup_s") = (setupS, "s")
    res.endToEnd("heap_peak_mb") = (Heap.peakMb, "MB")
    res.endToEnd("work_per_s") = (times.size / elapsed, "1/s")
    res.endToEnd("latency_p50_ms") = (Stats.median(times) * 1000, "ms")
    res.endToEnd("latency_tail_ms") = (tail * 1000, "ms")
    res.notes("registry_passes") = (passes.size.toDouble, "count")
    res.notes("registry_tail_percentile") = (tailPct, "%")
    res.notes("registry_executions") = (tailN.toDouble, "count")
    for ((g, qs) <- Groups) {
      val s = Stats.median(passes.map(p => qs.map(p).sum))
      res.notes(s"${g}_s") = (s, "s")
      if (ctx.traced) res.perLayer(s"registry.${g}_s") = (s, "s")
    }
    if (ctx.traced) {
      for (q <- Queries)
        res.perLayer(s"query.${q}_s") =
          (Stats.median(passes.map(_(q))), "s")
      jobs.foreach { j =>
        Thread.sleep(200)
        Layers.spark(res, j, passes.size * Queries.size)
      }
    }
  }

  /** Writes the pins for the current program: `--workload registry-batch
    * --pin <file>` computes every query once on the generated data. */
  def writePins(ctx: Ctx, path: String): Unit = {
    val dir = ctx.dir("registry-pin")
    Gen.writeSf(ctx.spark, dir, Sf, DataSeed)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.println(s"# query\trows\thash — generated sf $Sf, data seed $DataSeed")
      for (q <- Queries) {
        val (n, h) = fingerprint(SparkEntry.queries(q)(ctx.spark, dir))
        w.println(s"$q\t$n\t$h")
      }
    } finally w.close()
  }
}
