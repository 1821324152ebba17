package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Repeated-scan audit over the whole query surface: for every
  * SparkEntry query, walk the physical plan's leaves and count how many
  * times each parquet table is scanned IN ONE EXECUTION (cached builds
  * count once — an InMemoryTableScan leaf hides its build plan, which
  * is the point of the cache). A table scanned 3+ times usually marks a
  * subtree that should be persisted: the round-10 finds
  * (theil_sen_trend, priority_drift_tv, dedup_levenshtein — each a
  * 2x-5x win at 10x) were all instances of this pattern, so the audit
  * makes the class searchable instead of stumbled-on.
  *
  * Run: java -cp "<jar>:<spark jars>" graft.ScanAudit [sfDir] [minCount]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val minCount = args.lift(1).map(_.toInt).getOrElse(3)
    val (spark, _) = LocalSession(dir)
    spark.sparkContext.setLogLevel("ERROR")

    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
      case i: InMemoryTableScanExec => Seq(i) // cache boundary: stop
      case other =>
        if (other.children.isEmpty) Seq(other)
        else other.children.flatMap(leaves)
    }
    val table = "([a-z_]+)\\.parquet".r

    var flagged = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
      try {
        val plan = q(spark, dir).queryExecution.executedPlan
        val scans = leaves(plan).flatMap { l =>
          if (l.isInstanceOf[InMemoryTableScanExec]) Seq.empty[String]
          else table.findFirstMatchIn(l.toString).map(_.group(1)).toSeq
        }
        val hot = scans.groupBy(identity).view.mapValues(_.size)
          .filter(_._2 >= minCount).toMap
        if (hot.nonEmpty) {
          flagged += 1
          println(s"SCANAUDIT $name: " + hot.map { case (t, c) =>
            s"$t x$c" }.mkString(", "))
        }
      } catch {
        case t: Throwable =>
          println(s"SCANAUDIT $name: ERROR ${t.getClass.getSimpleName}")
      }
    }
    println(s"SCANAUDIT done: $flagged queries with a table scanned >= $minCount times")
    spark.stop()
  }
}
