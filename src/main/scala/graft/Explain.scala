package graft

/** Plan-audit main: prints the formatted physical plan of each registered
  * query (or a named subset) so shuffle counts, pushed filters, pruned
  * read schemas, broadcast joins and whole-stage-codegen spans can be
  * reviewed. Usage: `runMain graft.Explain <sfDir> [queryName...]`. */
object Explain {
  def main(args: Array[String]): Unit = {
    // Plan-only mode ([[graft.exec.Exec]]) keeps builders fully lazy so
    // their physical plans stay auditable (queries otherwise materialize
    // via localCheckpoint for cache hygiene, which would collapse the
    // plan to an RDD scan).
    System.setProperty("graft.lazyPlans", "true")
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val spark = LocalSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.sorted.foreach { name =>
      println(s"\n======== $name ========")
      SparkEntry.queries.get(name) match {
        case Some(fn) => fn(spark, sfDir).explain("formatted")
        case None =>
          System.err.println(s"unknown query '$name'; registered: " +
            SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
          spark.stop()
          sys.exit(1)
      }
    }
    spark.stop()
  }
}
