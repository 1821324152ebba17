package perfbench

import java.util.IdentityHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{BenchBus, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** The counter set every span records. Spark counters are attributed to
  * the innermost open span through the job group the span sets on the
  * calling thread, so they are the span's own (self) counters.
  */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var executorRunMs = 0L
  var executorCpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var catalystMs = 0L
  var recordsRead = 0L
  var recordsWritten = 0L
}

/** One closed span: a layer call made by the benchmark. `rowsOut` is set
  * by the caller where the layer returns a row count the listener cannot
  * see (a JDBC write or an Observation); otherwise it is the records the
  * span's tasks wrote.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
                      endNs: Long, counters: Counters, rowsOut: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** Span recorder used around every layer call. The untraced variant only
  * runs the body, so untraced units pay nothing for the call sites.
  */
trait Tracer {
  /** A span whose rows out are the records its tasks wrote. */
  def span[T](name: String)(body: => T): T = spanRows(name, (_: T) => -1L)(body)
  /** A span whose rows out the caller reads off the layer's result. */
  def spanRows[T](name: String, rowsOut: T => Long)(body: => T): T
}

object NoTrace extends Tracer {
  def spanRows[T](name: String, rowsOut: T => Long)(body: => T): T = body
}

/** Records spans in memory with a SparkListener (jobs, tasks, executor
  * time, GC, shuffle, spill, records) and a QueryExecutionListener
  * (Catalyst analysis + optimization + planning time). Both listeners are
  * registered only while a traced unit runs.
  */
final class SpanTracer(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"

  // listener state, written on the listener bus thread
  private val byGroup = mutable.Map.empty[String, Counters]
  private val stageGroup = mutable.Map.empty[Int, String]
  private val execGroup = mutable.Map.empty[Long, String]
  private val qeGroup = new IdentityHashMap[QueryExecution, String]()
  private val qeCatalystMs = new IdentityHashMap[QueryExecution, java.lang.Long]()

  private val lock = new Object
  private def counters(g: String) = byGroup.getOrElseUpdate(g, new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      counters(g).jobs += 1
      e.stageIds.foreach(stageGroup(_) = g)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val c = counters(stageGroup.getOrElse(e.stageId, ""))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.executorRunMs += m.executorRunTime
        c.executorCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.recordsRead += m.inputMetrics.recordsRead
        c.recordsWritten += m.outputMetrics.recordsWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = lock.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execGroup(s.executionId) = s.jobGroupId.getOrElse("")
        case x: SparkListenerSQLExecutionEnd =>
          BenchBus.queryExecution(x).foreach(qeGroup.put(_, execGroup.getOrElse(x.executionId, "")))
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val phases = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      qeCatalystMs.put(qe, ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private var nextId = 0
  private val open = mutable.Stack.empty[Int]
  private val pending = mutable.ArrayBuffer.empty[(Int, String, Int, Long, Long, Long)]

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def stop(): Unit = {
    BenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spanRows[T](name: String, rowsOut: T => Long)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open.push(id)
    sc.setJobGroup(GroupPrefix + id, name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val out = body
      pending += ((id, name, parent, t0, System.nanoTime(), rowsOut(out)))
      out
    } catch {
      case t: Throwable =>
        pending += ((id, name, parent, t0, System.nanoTime(), -1L)); throw t
    } finally {
      open.pop()
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p, "", interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Closes the current unit: waits for the listener bus, joins its
    * counters onto the spans and returns them in start order.
    */
  def collect(): Seq[Span] = {
    BenchBus.drain(sc)
    lock.synchronized {
      qeCatalystMs.forEach { (qe, ms) =>
        val g = Option(qeGroup.get(qe)).getOrElse("")
        counters(g).catalystMs += ms
      }
      val spans = pending.sortBy(_._4).map { case (id, name, parent, s, e, rows) =>
        val c = byGroup.getOrElse(GroupPrefix + id, new Counters)
        Span(id, name, parent, s, e, c,
          if (rows >= 0) rows else c.recordsWritten)
      }.toSeq
      pending.clear(); byGroup.clear(); stageGroup.clear(); execGroup.clear()
      qeGroup.clear(); qeCatalystMs.clear()
      spans
    }
  }
}

object Spans {
  /** Self time: the span's wall minus the part its direct children cover
    * (children run sequentially on the benchmark's one thread).
    */
  def selfS(spans: Seq[Span]): Map[Int, Double] = {
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    spans.map(s => s.id -> (s.wallS - childWall.getOrElse(s.id, 0.0))).toMap
  }
}
