package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Result-audit main: run named queries (registry entries or the
  * bench-only scaled tiers) and print their rows — the tool behind the
  * recall/decade numbers recorded in BASELINE.md. Usage:
  * `runMain graft.Show <sfDir> <queryName...>`. */
object Show {

  /** Bench-only forms not in the registry (data-dependent knobs). */
  private val extras: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "annIvfScaled" -> (pipeline.DataOps.annIvfScaled _),
      "annPqScaled" -> (pipeline.DataOps.annPqScaled _),
      "annScaledRecall" -> (pipeline.DataOps.annScaledRecall _))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = args.tail.toSeq
    val spark = LocalSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n======== $name ========")
      SparkEntry.queries.get(name).orElse(extras.get(name)) match {
        case Some(fn) => fn(spark, sfDir).show(200, false)
        case None =>
          System.err.println(s"unknown query '$name'")
          spark.stop()
          sys.exit(1)
      }
    }
    spark.stop()
  }
}
