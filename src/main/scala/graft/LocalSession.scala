package graft

import org.apache.spark.sql.SparkSession

/** The session the tool mains (`Bench`, `Verify`, `Explain`, `Show`,
  * `ScaleFixture`) run in: `local[n]` with n shuffle partitions, UTC
  * session time and no UI, where n is `SPARK_GRAFT_CPUS`, else the
  * main's own default. */
private[graft] object LocalSession {
  def apply(defaultCpus: Int): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
