package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Stage-timing probe for curate_corpus on the organic corpora
  * (round-16 VERDICT task 4): splits the pipeline into its passes —
  * quality-gated scan, exact-dedup materialization (the full-text fp
  * window shuffle), LSH pair generation, connected components, and the
  * final anti-join + split summary — so the fix (or the "at the floor"
  * verdict) targets the measured dominator instead of a guess.
  * Mirrors the declared query's stages; tooling only.
  */
object ProfileCurate {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = args.headOption.getOrElse("tmp_sf1_organic")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"STAGE $name%-34s ${(System.nanoTime() - t0) / 1e9}%7.2f s"); r
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // warm scans/codegen on an adjacent query
    graft.SparkEntry.queries("curation_report")(spark, dir)
    noop(graft.SparkEntry.queries("quality_weighted_sample")(spark, dir))
    for (round <- 1 to 2) {
      println(s"--- round $round ---")
      val docs = graft.Tables.documents(spark, dir)
      println(s"  documents rows = ${docs.count()}")
      // stage 1: quality-gated scan (regex token stats per doc)
      val kept = graft.functions.TextFns.withQualityCols(docs)
        .filter(col("score") >= 0.40)
        .select(col("doc_id"), col("lang"), col("text"), col("n_tokens"))
      t("quality gate scan (noop)")(noop(kept))
      // stage 2: exact dedup — fp window over full rows, persisted
      val fpw = Window.partitionBy(col("fp")).orderBy(col("doc_id"))
      val exactKept = kept
        .withColumn("fp", graft.functions.TextFns.fingerprint(col("text")))
        .withColumn("rn", row_number().over(fpw))
        .filter(col("rn") === 1)
        .drop("rn")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      t("exact dedup materialize")(println(s"  exactKept = ${exactKept.count()}"))
      // stage 3a: minhashLshPairs internals, one piece at a time, on the
      // same persisted input the real stage reads — attribution INSIDE
      // the dominator (round-16 task 4). Mirrors Dedup.minhashLshPairs
      // exactly: occurrences window, distinct, df ceiling, persisted
      // index, 8-seed md5 signature aggregate, banding self-join,
      // candidate verify (interCounts inlined — it's private).
      locally {
        val docsIn = exactKept.select(col("doc_id"), col("text"))
        t("  3a occurrences (explode+window)")(noop(
          Dedup.shingleOccurrences(docsIn, 3)))
        t("  3a + distinct")(noop(Dedup.shingleRows(docsIn, 3)))
        t("  3a + df ceiling window (OLD)")(noop(
          Dedup.dfCeiling(Dedup.shingleRows(docsIn, 3),
            graft.queries.TextDedup.MAX_DF)))
        // the round-16 anti-join form (measured and rejected)
        def dfAnti(inv0: org.apache.spark.sql.DataFrame) = {
          val hot = inv0.groupBy(col("s")).agg(count(lit(1)).as("_df"))
            .filter(col("_df") > graft.queries.TextDedup.MAX_DF)
            .select(col("s"))
          inv0.join(hot, Seq("s"), "left_anti")
        }
        t("  3a + df ceiling anti (NEW)")(noop(
          dfAnti(Dedup.shingleRows(docsIn, 3))))
        val inv = dfAnti(Dedup.shingleRows(docsIn, 3))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t("  3a index materialize")(println(s"    inv rows = ${inv.count()}"))
        val sigs = Dedup.minhashSigs(inv, 8)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t("  3a md5x8 sig aggregate")(println(s"    sig rows = ${sigs.count()}"))
        val bandCols = (0 until 4).map { b =>
          md5(concat((0 until 2).map(r => col(s"sig${b * 2 + r}")): _*))
        }
        val banded = sigs.select(col("doc_id"),
          posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_hash")))
        val cand = banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("a"))
          .join(banded.select(col("band_idx"), col("band_hash"), col("doc_id").as("b")),
            Seq("band_idx", "band_hash"))
          .filter(col("a") < col("b"))
          .select(col("a"), col("b")).distinct()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        t("  3a band join + distinct")(println(s"    cand rows = ${cand.count()}"))
        t("  3a verify (interCounts)")(noop(
          cand.join(inv.select(col("doc_id").as("a"), col("s")), "a")
            .join(inv.select(col("doc_id").as("b"), col("s")),
              Seq("b", "s"), "left_semi")
            .groupBy(col("a"), col("b"))
            .agg(count(lit(1)).as("inter"))))
        cand.unpersist(blocking = true)
        sigs.unpersist(blocking = true)
        inv.unpersist(blocking = true)
      }
      // stage 3: LSH pairs off the persisted exact set
      val pairs = Dedup.minhashLshPairs(
        exactKept.select(col("doc_id"), col("text")),
        n = 3, bands = 4, rowsPerBand = 2, threshold = 0.5,
        maxDf = Some(graft.queries.TextDedup.MAX_DF))
      val pairsCkpt = t("LSH pairs")(
        pairs.select(col("a"), col("b")).localCheckpoint(eager = true))
      println(s"  lsh pairs = ${pairsCkpt.count()}")
      // stage 4: connected components over the pairs
      t("connected components")(noop(
        Dedup.componentsFromPairs(pairsCkpt)))
      pairsCkpt.unpersist(blocking = true)
      exactKept.unpersist(blocking = true)
      Ckpt.releaseAll(); spark.catalog.clearCache()
      // stage 5: the declared query end to end
      t("full query")(noop(
        graft.SparkEntry.queries("curate_corpus")(spark, dir)))
      Ckpt.releaseAll(); spark.catalog.clearCache()
    }
    spark.stop()
  }
}
