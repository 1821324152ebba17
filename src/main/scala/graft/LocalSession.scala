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

  /** The dev-only `SPARK_GRAFT_ONLY` subset (comma-separated names), or
    * None when it is unset. A name outside `known` fails fast: a
    * misspelled filter would otherwise run nothing and report no
    * failure, so it is printed as `[tool] unknown SPARK_GRAFT_ONLY
    * names: ...`, the session stops and the JVM exits 2.
    */
  def only(spark: SparkSession, tool: String, known: Set[String]): Option[Set[String]] = {
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    only.foreach { names =>
      val unknown = names -- known
      if (unknown.nonEmpty) {
        System.err.println(
          s"[$tool] unknown SPARK_GRAFT_ONLY names: ${unknown.toSeq.sorted.mkString(", ")}")
        spark.stop()
        sys.exit(2)
      }
    }
    only
  }

  /** The reset between two queries: query-local persists are scoped to
    * one query, so every cached frame is dropped; the graph operators'
    * result checkpoints are not CacheManager entries, and
    * `Ckpt.releaseAll` drops their blocks now rather than at some future
    * weak-ref GC (predecessors' lingering blocks once slowed a later
    * query 6x through storage pressure and execution spills).
    */
  def reset(spark: SparkSession): Unit = {
    operators.Ckpt.releaseAll()
    spark.catalog.clearCache()
  }
}
