package graft

import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle-partition posture (round 16, guide §2.2/§9).
  *
  * `spark.sql.shuffle.partitions = cpus` is right for the driver's
  * sub-100 MB bench corpora (fewer, larger partitions; zero AQE churn)
  * and wrong past the GB regime, where a fixed partition count makes
  * per-partition state grow linearly with input. Rather than document
  * the production posture, encode it: when the corpus under `sfDir`
  * exceeds a floor, set AQE's `initialPartitionNum` from measured input
  * bytes and let coalescing shrink small stages back down
  * (`numShufflePartitions` reads initialPartitionNum whenever AQE +
  * coalescing are on, so EVERY exchange — including un-numbered
  * `repartition(col)`, origin REPARTITION_BY_COL, which AQE may
  * coalesce — starts wide and lands at the advisory size).
  *
  * Below the 1 GiB floor nothing is set: sf0.001/0.01/0.1 behavior is
  * bit-identical to round 15, so the driver's bench and oracle legs
  * stay comparable. The target is the guide's 128 MiB bytes/partition
  * band: a 16 MiB target measured flat-to-worse at the 1.8 GiB 100x
  * corpus (OPTIMIZATION_r16.md §Posture), so corpora up to
  * cores x 128 MiB resolve to the core count and only genuinely large
  * inputs fan out wider, up to the 4096 cap.
  */
object ScalePosture {

  private[graft] val MIN_BYTES: Long = 1L << 30
  private[graft] val TARGET_BYTES: Long = 128L << 20
  private[graft] val MAX_PARTS: Long = 4096L

  /** Apply the posture for `sfDir`; returns a human-readable record of
    * the decision for the run artifact.
    */
  def configure(spark: SparkSession, sfDir: String): String = {
    val bytes = dirBytes(new java.io.File(sfDir))
    initialPartitions(bytes, spark.sparkContext.defaultParallelism) match {
      case None =>
        s"default inputMB=${bytes >> 20} floorMB=${MIN_BYTES >> 20}"
      case Some(n) =>
        spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
          n.toString)
        s"initialPartitionNum=$n inputMB=${bytes >> 20} " +
          s"targetMB=${TARGET_BYTES >> 20}"
    }
  }

  /** The posture arithmetic: None below the floor, else input bytes per
    * target, never fewer than `cpus` and never more than the cap.
    */
  private[graft] def initialPartitions(bytes: Long, cpus: Int): Option[Long] =
    if (bytes < MIN_BYTES) None
    else Some(math.min(MAX_PARTS, math.max(cpus.toLong, bytes / TARGET_BYTES)))

  private def dirBytes(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
}
