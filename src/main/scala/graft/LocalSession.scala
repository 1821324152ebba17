package graft

import org.apache.spark.sql.SparkSession

/** The session every graft main runs on, so the tools explain and audit
  * the plan Bench times and Verify hash-checks: `SPARK_GRAFT_CPUS` local
  * cores (default 4) and as many shuffle partitions, AQE with partition
  * coalescing, UTC, no UI, and the [[ScalePosture]] for `sfDir`.
  */
object LocalSession {
  /** The session and its scale-posture decision. */
  def apply(sfDir: String): (SparkSession, String) = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    (spark, ScalePosture.configure(spark, sfDir))
  }
}
