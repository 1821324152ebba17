package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.{SQLExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** The record of what a body ran: its Spark work per call site, the
  * Guard decisions it took, and the final plan of every SQL execution.
  *
  * Each job is attributed to the description of its SQL execution, which
  * is the user call site of the action that started it (`first at
  * LabelProp.scala:93`); AQE's query-stage jobs carry that execution's
  * id, so they land on the action, not on their own `CompletableFuture`
  * stage names. A job outside any SQL execution, such as a parquet schema
  * read, falls back to its own call site. Eager checkpoints and probe
  * actions are executions too, so their plans are recorded next to the
  * final write's.
  *
  * Guard decisions are kept per calling thread: a decision lands in every
  * record open on the thread that took it, and in no other. Jobs and plans
  * are not: every job and SQL execution of the SparkContext that starts
  * while the body runs is counted, so the body should be the session's
  * only work. The JSON keys are perfbench's layer names.
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

  /** One SQL execution: the call site of its action, its final plan after
    * [[normalize]], and its parquet scan leaves per table.
    */
  final case class Execution(site: String, plan: String, scans: Map[String, Int])

  final case class Record(sites: Map[String, Site], guards: Map[String, String],
      executions: Seq[Execution]) {
    def total: Site = sites.values.foldLeft(Site())(_ + _)

    /** 16 hex digits of SHA-256 over the normalized plans, in execution order. */
    def planFp: String = {
      val md = MessageDigest.getInstance("SHA-256")
      executions.foreach { e => md.update(e.plan.getBytes(UTF_8)); md.update(0: Byte) }
      md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
    }

    /** Parquet scan leaves per table, summed over the executions. */
    def scans: Map[String, Int] =
      executions.flatMap(_.scans).groupMapReduce(_._1)(_._2)(_ + _)

    /** The totals, the plan fingerprint and scans, plus jobs, job wall
      * and executor run time per site.
      */
    def json: String = {
      val t = total
      obj(Seq("jobs" -> t.jobs.toString, "stages" -> t.stages.toString,
        "tasks" -> t.tasks.toString, "job_s" -> num(t.jobS),
        "executor_run_s" -> num(t.executorRunS),
        "executor_cpu_s" -> num(t.executorCpuS), "gc_s" -> num(t.gcS),
        "shuffle_write_mb" -> num(t.shuffleWriteMb),
        "spill_mb" -> num(t.spillMb),
        "plan_fp" -> Verify.jsonStr(planFp),
        "scans" -> counts(scans),
        "sites" -> obj(sites.toSeq.sortBy(_._1).map { case (k, s) =>
          k -> obj(Seq("jobs" -> s.jobs.toString, "job_s" -> num(s.jobS),
            "executor_run_s" -> num(s.executorRunS)))
        })))
    }
  }

  private[graft] def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => Verify.jsonStr(k) + ":" + v }
      .mkString("{", ",", "}")

  /** `{"table":n,...}`, sorted by key. */
  private[graft] def counts(m: Map[String, Int]): String =
    obj(m.toSeq.sorted.map { case (k, n) => k -> n.toString })

  private def num(v: Double): String =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** The Guard decisions of the records open on this thread, innermost first. */
  private val open = new ThreadLocal[List[mutable.Map[String, String]]] {
    override def initialValue: List[mutable.Map[String, String]] = Nil
  }

  /** Writes a Guard decision into every record open on the calling thread. */
  private[graft] def guard(key: String, decision: String): Unit =
    open.get.foreach(_(key) = decision)

  private val rewrites = Seq(
    "#\\d+" -> "#",                                     // expression ids
    "(lambda \\w+?_)\\d+\\b" -> "$1",                   // lambda variable ids
    "plan_id=\\d+" -> "plan_id=",
    "(QueryStage) \\d+" -> "$1 N",
    "(?m)^(\\(\\d+\\) \\w*QueryStage.*\\n(?:.+\\n)*?Arguments: )\\d+$" -> "$1N",
    ", Statistics\\([^)]*\\)" -> "",                    // AQE stage sizes
    "\\*\\(\\d+\\)" -> "*(N)",                          // codegen ids
    "\\[codegen id : \\d+\\]" -> "[codegen id : N]",
    "(RDD)\\[\\d+\\]" -> "$1[N]",
    " at [\\w$]+\\.scala:\\d+" -> "",                   // checkpoint call sites
    "\\b\\w+:/(?:[^/\\s,\\[\\]]+/)*" -> "",             // paths, to the last name
    "\\$\\d+/0x[0-9a-f]+@" -> "@",                      // JVM lambda class ids
    "(\\b[a-z]\\w*(?:\\.[\\w$]+)+)@[0-9a-f]+\\b" -> "$1@" // identity hashes
  ).map { case (re, to) => re.r -> to }

  /** `plan` with everything that names the run rather than the plan
    * stripped: expression ids and the numbers in lambda variable names,
    * `plan_id`s, AQE query-stage numbers (numbered in the order the
    * stages materialize, so one plan would print two ways) with the
    * `Arguments: N` line under a formatted stage and the stage's measured
    * sizes, codegen ids, RDD ids and the call sites of checkpoint RDDs,
    * directory paths (a file keeps its name, so a scan keeps its table)
    * and the ids and identity hashes of objects (a typed operator's
    * lambda prints as `Dedup$$$Lambda$4889/0x00007f5a...@11c68269`).
    */
  def normalize(plan: String): String =
    rewrites.foldLeft(plan) { case (p, (re, to)) => re.replaceAllIn(p, to) }

  private val Table = "(\\w+)\\.parquet".r

  /** The parquet scan leaves of `info` by table that ran while the record
    * was open (one of their metrics was updated: `ran`), each physical
    * scan node counted once per record (`seen` holds its metric ids). A
    * cache's build plan shows under every execution that reads the cache
    * and counts only in the one that builds it, not at all when the cache
    * predates the record; a reused exchange shows its source's scans
    * again and counts nothing.
    */
  private def scans(info: SparkPlanInfo, ran: collection.Set[Long],
      seen: mutable.Set[Seq[Long]]): Seq[String] =
    if (info.children.nonEmpty) info.children.flatMap(scans(_, ran, seen))
    else if (!info.nodeName.toLowerCase.contains("parquet") ||
        !info.metrics.exists(m => ran(m.accumulatorId)) ||
        !seen.add(info.metrics.map(_.accumulatorId))) Nil
    else Table.findFirstMatchIn(info.metadata.getOrElse("Location", info.simpleString))
      .map(_.group(1)).toSeq

  /** Runs `body` with a listener registered for its duration only, and
    * returns its result with its record. The plans are normalized after
    * `body` returns, outside any timer it holds.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Record) = {
    val sc = spark.sparkContext
    // Written on the listener bus thread only; read after drain, whose
    // atomic event counter orders those writes before the read.
    val descriptions = mutable.Map.empty[Long, String]
    val plans = mutable.Map.empty[Long, (String, SparkPlanInfo)]
    val ran = mutable.Set.empty[Long]
    val stageSite = mutable.Map.empty[Int, String]
    val jobStart = mutable.Map.empty[Int, (String, Long)]
    val sites = mutable.Map.empty[String, Site].withDefaultValue(Site())
    def add(site: String, s: Site): Unit = sites(site) = sites(site) + s
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          descriptions(x.executionId) = x.description
          plans(x.executionId) = (x.physicalPlanDescription, x.sparkPlanInfo)
        case x: SparkListenerSQLAdaptiveExecutionUpdate =>
          plans(x.executionId) = (x.physicalPlanDescription, x.sparkPlanInfo)
        case x: SparkListenerDriverAccumUpdates => ran ++= x.accumUpdates.map(_._1)
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
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        e.taskInfo.accumulables.foreach(a => ran += a.id)
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
    }
    val guards = mutable.Map.empty[String, String]
    sc.addSparkListener(listener)
    open.set(guards :: open.get)
    try {
      val out = body
      GraftSqlBridge.drain(sc)
      val seen = mutable.Set.empty[Seq[Long]]
      val executions = plans.toSeq.sortBy(_._1).map { case (id, (plan, info)) =>
        Execution(descriptions(id), normalize(plan),
          scans(info, ran, seen).groupMapReduce(identity)(_ => 1)(_ + _))
      }
      (out, Record(sites.toMap, guards.toMap, executions))
    } finally {
      open.set(open.get.tail)
      sc.removeSparkListener(listener)
    }
  }
}
