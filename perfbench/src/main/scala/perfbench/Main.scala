package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one unit of a workload returned: its wall time (checks excluded),
  * how many of its operations failed, the sync's observed per-entity
  * (rows, null keys), and the suite's per-query wall times.
  */
final case class UnitResult(wallS: Double, failed: Int,
                            counts: Map[String, (Long, Long)] = Map.empty,
                            perQueryS: Map[String, Double] = Map.empty)

/** A closed-loop workload with one client: the next unit starts when the
  * previous one has finished.
  */
trait Workload {
  /** Builds the inputs; safe to repeat. */
  def prepare(): Unit
  /** Input generations in set-up; the median is reported. */
  def prepareReps: Int
  /** Untimed units in set-up. Most of a unit is driver-side Spark code,
    * which the JIT keeps compiling through the first units.
    */
  def warmUnits: Int
  /** Timed units at least, however short the window. */
  def minUnits: Int
  def opsPerUnit: Int
  /** Runs unit `u`; a warm unit may skip output checks that cost a
    * second execution.
    */
  def unit(t: Tracer, u: Int, warm: Boolean = false): UnitResult
  def describe: Map[String, Any]
}

/** Benchmark process: one workload, one seed, one measurement window.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --bench-dir DIR --work DIR --out FILE --artifact FILE
  *
  * Writes the result line (correct, attempted, failed, metrics) to --out
  * and the full record (units, spans, per-entity and per-query detail) to
  * --artifact.
  */
object Main {
  /** Sync size: users; courses, sections and enrollments scale with it. */
  val SyncUsers = 4000
  /** Traced runs measure at least this many (untraced, traced) unit pairs. */
  val MinPairs = 3
  val SpanNames: Seq[String] = Seq(
    "functions.term_resolve", "operators.clean_build", "sources.mirror_reload",
    "sources.upload", "operators.diff_build", "operators.report",
    "queries.build", "queries.execute")
  val CounterUnits: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "self_s" -> "s", "jobs" -> "count", "tasks" -> "count",
    "executor_run_s" -> "s", "executor_cpu_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "catalyst_s" -> "s",
    "rows_out" -> "rows")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val benchDir = opt("bench-dir")
    val cores = Runtime.getRuntime.availableProcessors

    val tStart = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - tStart) / 1e9

    val w: Workload = workload match {
      case "sync_nightly" =>
        new SyncWorkload(spark, SyncShape(SyncUsers), seed, s"$work/sync")
      case "operator_suite" =>
        val corpus = s"$benchDir/corpus/sf0.01"
        graft.ScalePosture.configure(spark, corpus)
        new Suite(spark, corpus, s"$benchDir/suite_digests.tsv")
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var attempted = 0L
    var failed = 0L
    def record(r: UnitResult): UnitResult = {
      attempted += w.opsPerUnit; failed += r.failed; r
    }
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val v = f; (v, (System.nanoTime() - t0) / 1e9)
    }

    // set-up: session start + median input generation + untimed warm units
    val prepareS = (1 to w.prepareReps).map(_ => timed(w.prepare())._2)
    val warmRuns = (1 to w.warmUnits).map { i =>
      val r = timed(record(w.unit(NoTrace, -i, warm = true))); liveHeapMb(); r
    }
    val warm = warmRuns.last._1
    val setupS = sessionS + median(prepareS) + warmRuns.map(_._2).sum

    // Measurement. Every unit is followed by a full collection, outside its
    // wall, so each starts from the same heap state and the heap the
    // program still holds can be read.
    val untracedUnits = mutable.ArrayBuffer.empty[UnitResult]
    val tracedUnits = mutable.ArrayBuffer.empty[(UnitResult, Seq[Span])]
    val pairRatios = mutable.ArrayBuffer.empty[Double]
    val liveHeap = mutable.ArrayBuffer.empty[Double]
    val mStart = System.nanoTime()
    def elapsed = (System.nanoTime() - mStart) / 1e9
    var u = 1
    def untracedUnit(): UnitResult = {
      val r = record(w.unit(NoTrace, u)); u += 1
      untracedUnits += r; liveHeap += liveHeapMb(); r
    }
    if (!traced) {
      while (elapsed < seconds || untracedUnits.size < w.minUnits) untracedUnit()
    } else {
      // Pairs of one untraced and one traced unit, alternating which runs
      // first, so that neither kind always sits later on the warm-up curve.
      // The overhead is the median of the pair ratios: the first pair, on
      // the curve's steepest part, does not set it alone.
      val tr = new SpanTracer(spark)
      def tracedUnit(): UnitResult = {
        tr.start()
        val r = try record(w.unit(tr, u)) finally tr.stop()
        u += 1
        tracedUnits += ((r, tr.collect())); liveHeap += liveHeapMb(); r
      }
      while (elapsed < seconds || pairRatios.size < MinPairs) {
        val (plain, withTrace) =
          if (pairRatios.size % 2 == 0) { val p = untracedUnit(); (p, tracedUnit()) }
          else { val t = tracedUnit(); (untracedUnit(), t) }
        pairRatios += withTrace.wallS / plain.wallS
      }
    }
    val untracedWalls = untracedUnits.map(_.wallS).toSeq
    val tracedWalls = tracedUnits.map(_._1.wallS).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("run_s", median(untracedWalls), "s"),
        ("run_s_p90", percentile(untracedWalls, 0.9), "s"),
        ("setup_s", setupS, "s"),
        ("live_heap_mb", liveHeap.max, "MB"))
      else layerMetrics(tracedUnits.toSeq, cores, median(pairRatios.toSeq),
        failed.toDouble / attempted)

    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Obj(metrics.map { case (n, v, unit) =>
        n -> Json.obj("value" -> v, "unit" -> unit)
      }))
    val artifact = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "host" -> Json.obj("cores" -> cores, "master" -> s"local[$cores]",
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20)),
      "inputs" -> w.describe,
      "session_s" -> sessionS, "prepare_s" -> prepareS,
      "warm_unit_s" -> warmRuns.map(_._2), "warm_unit_failed" -> warmRuns.map(_._1.failed),
      "untraced_unit_s" -> untracedWalls, "traced_unit_s" -> tracedWalls,
      "trace_pair_ratios" -> pairRatios.toSeq, "live_heap_mb" -> liveHeap.toSeq,
      "peak_rss_mb" -> peakRss(), "sample_count" -> (untracedWalls.size + tracedWalls.size),
      "per_query_s" -> untracedUnits.map(_.perQueryS).filter(_.nonEmpty).toSeq,
      "observed_counts" -> (tracedUnits.lastOption.map(_._1).getOrElse(warm).counts
        .map { case (e, (rows, nulls)) => e -> Json.obj("n_rows" -> rows, "n_null_key" -> nulls) }),
      "spans" -> tracedUnits.map { case (r, spans) => spanDump(spans, r.wallS) }.toSeq,
      "result" -> result)
    Files.writeString(Paths.get(opt("artifact")), Json.render(artifact))
    Files.writeString(Paths.get(opt("out")), Json.render(result))

    spark.stop()
    try java.sql.DriverManager.getConnection("jdbc:derby:;shutdown=true")
    catch { case _: java.sql.SQLException => () } // Derby reports shutdown as an exception
  }

  private def session(cores: Int, work: String): SparkSession = {
    // The same settings as graft.Bench, with every scratch path inside the
    // benchmark's work directory.
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Per-layer metrics: the median over traced units of each span's
    * per-unit totals, plus the ratios and counts named for each layer.
    */
  private def layerMetrics(units: Seq[(UnitResult, Seq[Span])], cores: Int,
                           overhead: Double, errorRate: Double): Seq[(String, Double, String)] = {
    def med(f: ((UnitResult, Seq[Span])) => Double) = median(units.map(f))
    def byName(spans: Seq[Span], name: String) = spans.filter(_.name == name)
    def sumC(spans: Seq[Span])(f: Counters => Double) = spans.map(s => f(s.counters)).sum
    val spanMetrics = for {
      name <- SpanNames
      (counter, unit) <- CounterUnits
    } yield {
      val v = med { case (_, spans) =>
        val ss = byName(spans, name)
        lazy val self = Spans.selfS(spans)
        counter match {
          case "wall_s" => ss.map(_.wallS).sum
          case "self_s" => ss.map(s => self(s.id)).sum
          case "jobs" => sumC(ss)(_.jobs.toDouble)
          case "tasks" => sumC(ss)(_.tasks.toDouble)
          case "executor_run_s" => sumC(ss)(_.executorRunMs / 1e3)
          case "executor_cpu_s" => sumC(ss)(_.executorCpuNs / 1e9)
          case "gc_s" => sumC(ss)(_.gcMs / 1e3)
          case "shuffle_write_mb" => sumC(ss)(_.shuffleWriteBytes / 1048576.0)
          case "spill_mb" => sumC(ss)(_.spillBytes / 1048576.0)
          case "catalyst_s" => sumC(ss)(_.catalystMs / 1e3)
          case "rows_out" => ss.map(_.rowsOut.toDouble).sum
        }
      }
      (s"$name.$counter", v, unit)
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    // Rows read by the diffs are the input records of the upload spans,
    // where each diff executes; rows out are runObserved's n_rows.
    val sync = Seq(
      ("sources.mirror_reload.rows_per_s", med { case (_, sp) =>
        val reload = byName(sp, "sources.mirror_reload")
        ratio(reload.map(_.rowsOut.toDouble).sum, reload.map(_.wallS).sum) }, "1/s"),
      ("operators.diff.rows_out_per_in", med { case (r, sp) =>
        ratio(r.counts.values.map(_._1.toDouble).sum,
          sumC(byName(sp, "sources.upload"))(_.recordsRead.toDouble)) }, "ratio"),
      ("operators.report.rescan_ratio", med { case (_, sp) =>
        ratio(sumC(byName(sp, "operators.report"))(_.recordsRead.toDouble),
          sumC(byName(sp, "sources.upload"))(_.recordsRead.toDouble)) }, "ratio"))
    val counts = units.last._1.counts
    val entityRows = graft.operators.SyncSink.FK_ORDER.map { e =>
      (s"operators.sync.rows.$e", counts.get(e).map(_._1.toDouble).getOrElse(0.0), "rows")
    } :+ ("operators.sync.null_keys", counts.values.map(_._2.toDouble).sum, "rows")
    val eager = ("queries.build.eager_job_share", med { case (_, sp) =>
      val b = sumC(byName(sp, "queries.build"))(_.jobs.toDouble)
      ratio(b, b + sumC(byName(sp, "queries.execute"))(_.jobs.toDouble)) }, "ratio")
    val whole = Seq(
      ("spark.jobs", med { case (_, sp) => sumC(sp)(_.jobs.toDouble) }, "count"),
      ("spark.core_util", med { case (r, sp) =>
        ratio(sumC(sp)(_.executorRunMs / 1e3), r.wallS * cores) }, "ratio"),
      ("spark.gc_s", med { case (_, sp) => sumC(sp)(_.gcMs / 1e3) }, "s"),
      ("spark.catalyst_s", med { case (_, sp) => sumC(sp)(_.catalystMs / 1e3) }, "s"))
    spanMetrics ++ sync ++ entityRows ++ Seq(eager) ++ whole ++ Seq(
      ("trace.overhead_ratio", overhead, "ratio"),
      ("error_rate", errorRate, "ratio"))
  }

  private def spanDump(spans: Seq[Span], unitWall: Double): Json.Obj = {
    val self = Spans.selfS(spans)
    val t0 = spans.map(_.startNs).min
    Json.obj(
      "unit_wall_s" -> unitWall,
      "self_sum_s" -> self.values.sum,
      "spans" -> spans.map { s =>
        val c = s.counters
        Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "start_s" -> (s.startNs - t0) / 1e9, "wall_s" -> s.wallS, "self_s" -> self(s.id),
          "jobs" -> c.jobs, "tasks" -> c.tasks, "executor_run_s" -> c.executorRunMs / 1e3,
          "executor_cpu_s" -> c.executorCpuNs / 1e9, "gc_s" -> c.gcMs / 1e3,
          "shuffle_write_mb" -> c.shuffleWriteBytes / 1048576.0,
          "spill_mb" -> c.spillBytes / 1048576.0, "catalyst_s" -> c.catalystMs / 1e3,
          "records_read" -> c.recordsRead, "rows_out" -> s.rowsOut)
      })
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile (the same rule as numpy's default). */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = p * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Runs a full collection and returns the heap still in use, in MB:
    * what the program holds between units (cached plans and data, block
    * manager and listener state, the in-memory mirror).
    */
  private def liveHeapMb(): Double = {
    System.gc()
    // Spark's ContextCleaner releases shuffle and broadcast state of the
    // objects that collection freed; collect again once it has.
    Thread.sleep(300)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** JVM high-water resident set size from /proc, in MB. */
  private def peakRss(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Minimal JSON writer for the result line and the artifact. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case m: Map[_, _] => render(Obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1)))
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d).replace("E", "e")
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
