package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Same scale posture as Bench (round 16): verifying a big corpus
    // under the SAME initialPartitionNum the bench runs with is the
    // point — the gate then hash-proves the regime that was priced.
    // Below the 1 GiB floor (every driver SF) this is a no-op.
    val (spark, posture) = LocalSession(sfDir)
    System.err.println(s"[verify] posture: $posture")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset: comma-separated query names. Driver sets nothing,
    // so the full dump always runs at the gate. An unknown name exits
    // before anything below deletes the previous dumps in outDir.
    val only = LocalSession.only(spark, "verify", SparkEntry.queries.keySet)
    val selected = SparkEntry.queries.filter { case (name, _) =>
      only.forall(_.contains(name))
    }
    // When the subset filter is active, remove unselected queries' stale
    // parquet from a previous full run — otherwise check_oracle.py would
    // happily compare old Spark output against fresh oracle SQL and mask
    // a regression in a dev re-run.
    if (only.isDefined) {
      val keep = selected.keySet + "oracle_sql.json" + "guards.json"
      Option(new java.io.File(outDir).listFiles()).getOrElse(Array.empty)
        .filterNot(f => keep.contains(f.getName))
        .foreach { f =>
          def rm(x: java.io.File): Unit = {
            Option(x.listFiles()).getOrElse(Array.empty).foreach(rm)
            x.delete(); ()
          }
          rm(f)
        }
    }
    // Per-query physical-regime decisions (Guard lines of the query's
    // Layers record), written as guards.json next to the dumps: a scale
    // gate's artifact can then prove WHICH regime (adaptive LSH width,
    // semdedup k, containment tier) the hash-verified run actually
    // exercised — the round-15 30x gate's whole point is that those
    // regimes differ from sf0.01.
    val guards = selected.toSeq.flatMap { case (name, fn) =>
      try {
        val (_, rec) = Layers.record(spark) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        Some(name -> rec.guards).filter(_._2.nonEmpty)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        None
      } finally {
        // Without the reset a full dump accumulates every query's caches
        // and ends up relying on LRU eviction + disk spill at larger SFs
        // (each result is fully written out above, never re-read).
        LocalSession.reset(spark)
      }
    }
    Files.writeString(Paths.get(s"$outDir/guards.json"),
      guards.sortBy(_._1).map { case (q, m) =>
        s"${jsonStr(q)}: " + m.toSeq.sortBy(_._1)
          .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
          .mkString("{", ",", "}")
      }.mkString("{", ",", "}"))
    // Restrict the oracle list to the selected subset too, so a dev
    // subset run never asks the checker to compare queries it didn't dump.
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonStr(k)}: ${jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Dumps the COMPLETE oracle map (no Spark session, no subset filter) so
  * `scripts/lint_oracle_types.py` can type-check every oracle's DuckDB
  * result schema — the HUGEINT-vs-BIGINT hash-slip class (q11, q12,
  * dup_rate_by_source) is invisible to value-level compares and needs a
  * lint over the full surface, including queries a dev subset skipped. */
object DumpOracles {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/oracle_all.json")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.jsonStr(k)}: ${Verify.jsonStr(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${SparkEntry.oracleSql.size} oracles to $out")
  }
}
