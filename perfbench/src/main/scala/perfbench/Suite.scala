package perfbench

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.Ckpt

/** `graft.Bench`'s query population in miniature: seven declared queries,
  * each built through `SparkEntry.queries` and written through the
  * `noop` sink, with Bench's reset (`Ckpt.releaseAll`, `clearCache`)
  * between queries. One unit is one pass.
  *
  * After each query's timed write in a measured pass, its result is
  * collected (untimed) and its digest compared with the one stored from
  * the query's DuckDB oracle over the same corpus; a mismatch fails that
  * operation. Warm passes skip the compare, which executes the query a
  * second time.
  */
final class Suite(spark: SparkSession, corpus: String, digestFile: String) extends Workload {
  import Suite._

  private var expected: Map[String, (Long, String)] = Map.empty

  def prepare(): Unit = {
    val src = Source.fromFile(digestFile)
    expected = try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(name, rows, sha) = l.split('\t')
      name -> (rows.toLong, sha)
    }.toMap finally src.close()
    val missing = Queries.filterNot(expected.contains) ++
      Queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"no digest or no query for: ${missing.mkString(", ")}")
  }

  def prepareReps: Int = 1 // the corpus is bundled; preparing only reads the digests
  // A pass takes about 23 s cold, then 12 s, then 8 s.
  def warmUnits: Int = 2
  def minUnits: Int = 1
  def opsPerUnit: Int = Queries.size

  def unit(t: Tracer, u: Int, warm: Boolean): UnitResult = {
    var failed = 0
    val perQuery = Queries.map { q =>
      val t0 = System.nanoTime()
      var wall = 0.0
      val ok = try {
        val df = t.span("queries.query") {
          val df = t.span("queries.build")(SparkEntry.queries(q)(spark, corpus))
          t.span("queries.execute")(df.write.format("noop").mode("overwrite").save())
          df
        }
        wall = (System.nanoTime() - t0) / 1e9
        warm || {
          val got = Digest.of(df)
          if (got != expected(q))
            System.err.println(s"perfbench: $q digest $got != oracle ${expected(q)}")
          got == expected(q)
        }
      } catch {
        case e: Exception =>
          wall = (System.nanoTime() - t0) / 1e9
          System.err.println(s"perfbench: $q failed: ${e.getClass.getName}: ${e.getMessage}")
          false
      } finally {
        // Bench's reset between queries
        Ckpt.releaseAll()
        spark.catalog.clearCache()
      }
      if (!ok) failed += 1
      q -> wall
    }
    UnitResult(perQuery.map(_._2).sum, failed, perQueryS = perQuery.toMap)
  }

  def describe: Map[String, Any] = Map("corpus" -> corpus, "queries" -> Queries,
    "job_heavy" -> JobHeavy, "single_plan" -> SinglePlan)
}

object Suite {
  val JobHeavy: Seq[String] = Seq("communities_lpa", "er_clusters")
  val SinglePlan: Seq[String] = Seq("q1_pricing_summary", "cube_lineitem",
    "daily_enrollment_diff", "mirror_apply", "change_stats")
  val Queries: Seq[String] = JobHeavy ++ SinglePlan
}
