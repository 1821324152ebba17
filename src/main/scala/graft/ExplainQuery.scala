package graft

/** Plan-inspection tool: execute declared queries at a given SF dir on
  * the session Bench uses and print each executed (post-AQE) physical
  * plan — the feedback loop for the scale audits in PlanShapeTest and
  * SURVEY §4.
  *
  * usage: runMain graft.ExplainQuery <name>[,<name>...] [sfDir]
  */
object ExplainQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val (spark, _) = LocalSession(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    // Pseudo-names: subtrees that the FINAL executed plan of a declared
    // query cannot show because they sit upstream of a checkpoint /
    // driver-action boundary (the round-15 evidence lesson).
    //  _er_pairs     ER chain's pre-CC survivor pair subtree
    //  _lpa_edges    communitiesDistinct's fused edge build (r16)
    //  _contain_cert the single-pass injectivity certificate (r16)
    import org.apache.spark.sql.functions._
    names.foreach { name =>
      val df = name match {
        case "_er_pairs" => queries.Extended.erPairs(spark, sfDir)._1
        case "_lpa_edges" =>
          val p = Tables.lineitem(spark, sfDir).select(
            (col("l_partkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
          p.select(col("a").as("u"), col("b").as("v"))
            .unionByName(p.select(col("b").as("u"), col("a").as("v")))
            .repartition(col("u")).dropDuplicates(Seq("u", "v"))
        case "_contain_cert" =>
          val docs = Tables.documents(spark, sfDir)
            .select(col("doc_id"), col("text"))
          graft.operators.Dedup.shingleRows(docs, 3)
            .groupBy(xxhash64(col("s")).as("h"))
            .agg((min(col("s")) =!= max(col("s"))).as("c"))
            .agg(max(col("c")))
        case _ => SparkEntry.queries(name)(spark, sfDir)
      }
      df.collect()
      println(s"=====PLAN $name=====")
      println(df.queryExecution.executedPlan.toString)
      // Post-execution formatted plan (AQE-final): operator list with
      // PushedFilters / ReadSchema / join build sides — the round-15
      // optimization deliverable's plan-evidence format.
      println(s"=====FORMATTED $name=====")
      println(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
