package graft

/** Plan-inspection tool: run declared queries at a given SF dir on the
  * session Bench uses, through Bench's `noop` write, and print every SQL
  * execution each one ran (eager checkpoints and probes included, not
  * only the final write) from its [[Layers]] record: the call site, the
  * scans and the normalized final (post-AQE) formatted plan, under a
  * header with the query's `plan_fp` and scans. Two runs of one plan
  * print the same text, so `scripts/plan_diff.sh` diffs the output as is.
  *
  * usage: runMain graft.ExplainQuery <name>[,<name>...] [sfDir]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val (spark, _) = LocalSession(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      val (_, rec) = Layers.record(spark) {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
      }
      LocalSession.reset(spark)
      println(s"=====QUERY $name plan_fp=${rec.planFp} scans=${Layers.counts(rec.scans)}")
      rec.executions.zipWithIndex.foreach { case (e, i) =>
        println(s"=====EXECUTION ${i + 1}/${rec.executions.size} ${e.site} scans=${Layers.counts(e.scans)}")
        println(e.plan)
      }
    }
    spark.stop()
  }
}
