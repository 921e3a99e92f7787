package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure loudness (round-8 lesson: a swallowed throw made 20 queries
  * VANISH from the correctness report, which read as green): every
  * failing query still writes a one-row parquet whose only column is
  * `_graft_query_failed`, so the driver's compare finds output, mismatches
  * the oracle, and reports the query RED — a regression can shrink
  * correctness to red rows, never to absence. The failure list is also
  * dumped to verify_failures.json, and the data contract
  * ([[graft.sources.DataContract]]) runs FIRST so a format drift fails
  * with the drifted column's name instead of N cryptic analysis errors. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only the named queries (dev spot-checks
    // with scripts/oracle_compare.py); the driver passes exactly two.
    val only = args.drop(2).toSet
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, outDir, only)
    finally spark.stop()
  }

  /** The whole dump pass, session supplied by the caller (main or spec). */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      only: Set[String] = Set.empty): Unit = {
    new java.io.File(outDir).mkdirs()
    val contractErr: Option[String] =
      try { graft.sources.DataContract.check(spark, sfDir); None }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${e.getMessage}")
        Some(e.getMessage)
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Written BEFORE the query loop: if the JVM dies mid-run (OOM at
    // query 50), the driver still finds the oracle map and grades every
    // query that managed to write output, instead of zeroing the round.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    var failed = List.empty[(String, String)]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed ::= (name, String.valueOf(e.getMessage).take(300))
        // Loud red marker (see object Scaladoc): parquet the driver WILL
        // read and hash-mismatch against the oracle.
        try {
          import spark.implicits._
          Seq(s"FAILED: ${e.toString.take(300)}")
            .toDF("_graft_query_failed")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
      // Queries persist internal intermediates; drop them so 40+ queries
      // in one session don't accumulate cache pressure.
      spark.catalog.clearCache()
    }
    val failJson = "{" +
      s"${q("contract")}: ${contractErr.map(q).getOrElse("null")}, " +
      s"${q("failed")}: " + failed.reverse
        .map { case (n, m) => s"{${q("name")}: ${q(n)}, ${q("error")}: ${q(m)}}" }
        .mkString("[", ",", "]") + "}"
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), failJson)
    if (failed.nonEmpty || contractErr.nonEmpty)
      System.err.println(s"[verify] RED: ${failed.size} failed queries" +
        contractErr.map(e => s"; contract: $e").getOrElse(""))
  }
}
