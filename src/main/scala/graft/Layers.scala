package graft

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Where a body's Spark work went, per call site. Each job is attributed
  * to the description of its SQL execution, which is the user call site
  * of the action that started it (`count at LabelProp.scala:113`); AQE's
  * query-stage jobs carry that execution's id, so they land on the
  * action, not on their own `CompletableFuture` stage names. A job
  * outside any SQL execution, such as a parquet schema read, falls back
  * to its own call site. Every job that starts while the body runs is
  * counted, so the body should be the session's only work. The JSON
  * keys are perfbench's layer names.
  */
object Layers {

  final case class Site(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
      jobS: Double = 0, executorRunS: Double = 0, executorCpuS: Double = 0,
      gcS: Double = 0, shuffleWriteMb: Double = 0, spillMb: Double = 0) {
    def +(o: Site): Site = Site(jobs + o.jobs, stages + o.stages,
      tasks + o.tasks, jobS + o.jobS, executorRunS + o.executorRunS,
      executorCpuS + o.executorCpuS, gcS + o.gcS,
      shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb)
  }

  final case class Record(sites: Map[String, Site]) {
    def total: Site = sites.values.foldLeft(Site())(_ + _)

    /** The totals, plus jobs, job wall and executor run time per site. */
    def json: String = {
      val t = total
      obj(Seq("jobs" -> t.jobs.toString, "stages" -> t.stages.toString,
        "tasks" -> t.tasks.toString, "job_s" -> num(t.jobS),
        "executor_run_s" -> num(t.executorRunS),
        "executor_cpu_s" -> num(t.executorCpuS), "gc_s" -> num(t.gcS),
        "shuffle_write_mb" -> num(t.shuffleWriteMb),
        "spill_mb" -> num(t.spillMb),
        "sites" -> obj(sites.toSeq.sortBy(_._1).map { case (k, s) =>
          k -> obj(Seq("jobs" -> s.jobs.toString, "job_s" -> num(s.jobS),
            "executor_run_s" -> num(s.executorRunS)))
        })))
    }
  }

  private def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => Verify.jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")

  private def num(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** Runs `body` with a listener registered for its duration only, and
    * returns its result with the jobs it ran, attributed by call site.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    // Written on the listener bus thread only; read after drain, whose
    // atomic event counter orders those writes before the read.
    val descriptions = mutable.Map.empty[Long, String]
    val stageSite = mutable.Map.empty[Int, String]
    val jobStart = mutable.Map.empty[Int, (String, Long)]
    val sites = mutable.Map.empty[String, Site].withDefaultValue(Site())
    def add(site: String, s: Site): Unit = sites(site) = sites(site) + s
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          descriptions(x.executionId) = x.description
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        // The last-created stage is the job's final stage, which is
        // named after the job's call site.
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => descriptions.get(id.toLong))
          .getOrElse(e.stageInfos.maxBy(_.stageId).name)
        jobStart(e.jobId) = (site, e.time)
        e.stageIds.foreach(stageSite.getOrElseUpdate(_, site))
        add(site, Site(jobs = 1))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.remove(e.jobId).foreach { case (site, t0) =>
          add(site, Site(jobS = (e.time - t0) / 1e3))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stageSite.get(e.stageInfo.stageId).foreach(add(_, Site(stages = 1)))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        stageSite.get(e.stageId).foreach { site =>
          val m = e.taskMetrics
          add(site, if (m == null) Site(tasks = 1) else Site(tasks = 1,
            executorRunS = m.executorRunTime / 1e3,
            executorCpuS = m.executorCpuTime / 1e9,
            gcS = m.jvmGCTime / 1e3,
            shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / 1048576.0,
            spillMb = (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0))
        }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftSqlBridge.drain(sc)
      (out, Record(sites.toMap))
    } finally sc.removeSparkListener(listener)
  }
}
