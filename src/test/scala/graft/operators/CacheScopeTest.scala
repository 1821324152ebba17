package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Library-grade cache scoping (round 12): operators that persist
  * internal frames must not leak DEAD cache entries (materialized but
  * unreadable by the returned plan), and re-invoking an operator on the
  * same input must not grow the cache (canonicalization dedupe). The
  * observable is SparkContext.getPersistentRDDs — every CacheManager
  * entry that has materialized shows up there and unpersist removes it.
  */
class CacheScopeTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def nCached: Int = spark.sparkContext.getPersistentRDDs.size

  // Replica-heavy corpus: the prefix-Jaccard guard measures the PLAIN
  // tier cheaper here (the round-11 regime finding), which is exactly
  // the case where the guard-materialized prefix index is a dead cache.
  private def replicaDocs = {
    val texts = Seq(
      "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      "one two three four five six seven eight nine ten")
    (0L until 60L).map(i => (i, texts((i % 3).toInt)))
      .toDF("doc_id", "text")
  }

  test("containmentPairs leaves no dead cache and re-invocation adds nothing") {
    spark.catalog.clearCache()
    val base = nCached
    def run() = Dedup.containmentPairs(replicaDocs, n = 3,
      thresholdNum = 4, thresholdDen = 5, minSize = 3).count()
    run()
    val after1 = nCached
    // members + inv + the candidate tier's invR + docsArr stay (the
    // returned plan read them); nothing dead may remain.
    assert(after1 - base <= 4, s"expected <=4 live entries, got ${after1 - base}")
    run()
    assert(nCached == after1,
      "second invocation on the same corpus must reuse, not grow, the cache")
    spark.catalog.clearCache()
  }

  test("prefixJaccardPairs plain tier releases the dead prefix cache") {
    spark.catalog.clearCache()
    val base = nCached
    // threshold 0.5 is the measured plain-tier regime (guard logs it)
    Dedup.prefixJaccardPairs(replicaDocs, n = 3, threshold = 0.5).count()
    assert(nCached - base <= 1,
      s"only the inverted index may stay resident, got ${nCached - base}")
    spark.catalog.clearCache()
  }
}
