package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** MemoryStream-driven tests for the Structured Streaming operator set
  * (SURVEY §2.8): watermarked windows, stateful dedup, the
  * enrollment-status state machine, and the idempotent mirror sink.
  */
class StreamingOpsTest extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(minute: Int): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$minute%02d:00")

  private def eventsDf(rows: Seq[(Long, Timestamp, Long, String, Double)]) = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    mem.addData(rows: _*)
    (mem, mem.toDF.toDF("event_id", "ts", "user_id", "event_type", "value"))
  }

  private def runBatches(q: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row],
                         name: String) = {
    val sq = q.format("memory").queryName(name).start()
    sq.processAllAvailable()
    sq.stop()
    spark.table(name)
  }

  test("tumblingCounts aggregates complete windows and drops late rows") {
    val (mem, df) = eventsDf(Seq(
      (1L, ts(0), 1L, "view", 1.0),
      (2L, ts(2), 1L, "view", 2.0),
      (3L, ts(7), 2L, "click", 3.0)))
    val out = StreamingOps.tumblingCounts(df, watermark = "10 minutes", width = "5 minutes")
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("tumbling").start()
    sq.processAllAvailable()
    // advance watermark far past both windows so they close and emit
    mem.addData((9L, ts(40), 9L, "view", 0.0))
    sq.processAllAvailable()
    sq.stop()
    val rows = spark.table("tumbling")
      .select("event_type", "n", "total").as[(String, Long, Double)].collect().toSet
    assert(rows.contains(("view", 2L, 3.0)))
    assert(rows.contains(("click", 1L, 3.0)))
  }

  test("sessionCounts merges events within the gap into one session") {
    val (mem, df) = eventsDf(Seq(
      (1L, ts(0), 1L, "view", 1.0),
      (2L, ts(10), 1L, "view", 1.0),   // same session (gap < 30m)
      (3L, ts(55), 1L, "view", 1.0)))  // new session
    val out = StreamingOps.sessionCounts(df, watermark = "30 minutes", gap = "30 minutes")
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions").start()
    sq.processAllAvailable()
    mem.addData((9L, Timestamp.valueOf("2024-01-01 13:00:00"), 9L, "view", 0.0))
    sq.processAllAvailable()
    sq.stop()
    val rows = spark.table("sessions")
      .filter($"user_id" === 1L).select("n_events").as[Long].collect().sorted.toSeq
    assert(rows == Seq(1L, 2L))
  }

  test("dedupWithinWatermark drops replayed event ids") {
    val (mem, df) = eventsDf(Seq(
      (1L, ts(0), 1L, "view", 1.0),
      (1L, ts(1), 1L, "view", 1.0),  // replay of event 1
      (2L, ts(2), 1L, "view", 1.0)))
    val out = StreamingOps.dedupWithinWatermark(df, watermark = "10 minutes")
    val got = runBatches(out.writeStream.outputMode(OutputMode.Append), "dedup")
    assert(got.select("event_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("curationIngest gates quality and drops exact dups within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val good = "the quick brown fox is one of the best and the rest of the " +
      "pack is far behind and a little slower than the leader of the group"
    mem.addData(
      (1L, good, ts(0)),
      (2L, good.replace("quick", " quick "), ts(1)), // same fp after normalize
      (3L, "@@@ ### $$$ %%%", ts(2)),                // punctuation junk: low score
      (4L, good + " with a new and different tail of words here", ts(3)))
    val df = mem.toDF.toDF("doc_id", "text", "ts")
    val out = StreamingOps.curationIngest(df, minScore = 0.40,
      watermark = "10 minutes")
    val got = runBatches(out.writeStream.outputMode(OutputMode.Append), "curation")
    // doc 2 is an exact dup of 1 (same normalized fingerprint), doc 3
    // fails the quality gate; 1 and 4 survive with their token counts
    assert(got.select("doc_id").as[Long].collect().sorted.toSeq == Seq(1L, 4L))
    val fps = got.select("fp").as[String].collect()
    assert(fps.distinct.length == 2)
  }

  test("nearDupGate collapses same-signature docs, short docs only on exact match") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val longA = "the quick brown fox jumps over the lazy dog near the river bank today"
    val longB = "completely different words about spark shuffles and partition pruning here"
    mem.addData(
      (1L, longA, ts(0)),
      (2L, longA, ts(1)),          // same simhash -> one survivor of {1,2}
      (3L, longB, ts(2)),          // distinct signature: kept
      (4L, "two words", ts(3)),    // < n tokens: exact-fp branch, kept
      (5L, "two  WORDS", ts(4)),   // same normalized fp as 4: dropped
      (6L, "other tiny", ts(5)))   // short but different fp: kept
    val df = mem.toDF.toDF("doc_id", "text", "ts")
    val out = StreamingOps.nearDupGate(df, n = 3, watermark = "10 minutes")
    val got = runBatches(out.writeStream.outputMode(OutputMode.Append), "neardup")
    val rows = got.select("doc_id", "sig").as[(Long, String)].collect().toMap
    // one survivor per signature class: {1,2}, {3}, {4,5}, {6}
    assert(rows.size == 4)
    assert(rows.keySet.count(Set(1L, 2L)) == 1)
    assert(rows.keySet.count(Set(4L, 5L)) == 1)
    assert(rows.contains(3L) && rows.contains(6L))
    assert(rows.values.toSeq.distinct.length == 4)
    // long docs ride the simhash namespace, short docs the fp namespace
    assert(rows(3L).startsWith("sim:"))
    assert(rows(6L).startsWith("fp:"))
  }

  test("statusTransitions emits one transition per status flip, idempotent on repeats") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingOps.{StatusEvent, Transition}
    val mem = MemoryStream[StatusEvent]
    mem.addData(
      StatusEvent("enr-1", "active", ts(0)),
      StatusEvent("enr-1", "active", ts(1)),    // repeat: no transition
      StatusEvent("enr-1", "deleted", ts(2)),
      StatusEvent("enr-2", "active", ts(3)))
    val out = StreamingOps.statusTransitions(mem.toDS())
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("transitions").start()
    sq.processAllAvailable()
    // second micro-batch continues from persisted state
    mem.addData(StatusEvent("enr-1", "active", ts(9)))
    sq.processAllAvailable()
    sq.stop()
    val got = spark.table("transitions").as[Transition].collect()
      .map(t => (t.key, t.from, t.to)).toSet
    assert(got == Set(
      ("enr-1", "none", "active"),
      ("enr-1", "active", "deleted"),
      ("enr-1", "deleted", "active"),
      ("enr-2", "none", "active")))
  }

  test("heavyHittersStream carries bucket sketches across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    // Fewer distinct tokens than k per bucket -> no MG decrements, so
    // the sketch counts are exact and the cross-batch accumulation is
    // deterministic (MG eviction mechanics are covered by MisraGriesTest).
    mem.addData(Seq.fill(5)("hot") ++ Seq("cold1", "cold2"): _*)
    val out = StreamingOps.heavyHittersStream(
      mem.toDF.toDF("token"), k = 8, buckets = 4)
    val sq = out.writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("hh").start()
    sq.processAllAvailable()
    mem.addData(Seq.fill(3)("hot"): _*)   // second batch folds into state
    sq.processAllAvailable()
    sq.stop()
    val hot = spark.table("hh").filter(col("token") === "hot")
      .select("est").as[Long].collect().sorted
    assert(hot.toSeq == Seq(5L, 8L), s"expected 5 then 8, got ${hot.toSeq}")
    // bounded state: no bucket ever emits more than k tokens
    val perBucket = spark.table("hh").groupBy("bucket")
      .agg(countDistinct("token").as("n")).select("n").as[Long].collect()
    assert(perBucket.forall(_ <= 8))
  }

  test("countMinStream sketch after N micro-batches equals the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Long]
    val width = 16
    val out = StreamingOps.countMinStream(mem.toDF.toDF("key"), width)
    val sq = out.writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cms_stream").start()
    val b1 = (0L until 40L).map(_ % 7)
    val b2 = (0L until 60L).map(_ % 11)
    val b3 = Seq.fill(25)(3L)
    mem.addData(b1: _*); sq.processAllAvailable()
    mem.addData(b2: _*); sq.processAllAvailable()
    mem.addData(b3: _*); sq.processAllAvailable()
    sq.stop()
    val got = spark.table("cms_stream").select("sketch")
      .as[Array[Long]].head()
    val agg = new graft.functions.CountMinAgg(width)
    val want = (b1 ++ b2 ++ b3).foldLeft(agg.zero)(agg.reduce)
    assert(got.sameElements(want))
  }

  test("heavyHittersStream state survives a query restart from checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val chk = java.nio.file.Files.createTempDirectory("hh-chk").toString
    val mem = MemoryStream[String]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long)]
    def start() = StreamingOps.heavyHittersStream(
        mem.toDF.toDF("token"), k = 8, buckets = 4)
      .writeStream.outputMode(OutputMode.Update)
      .option("checkpointLocation", chk)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.select("token", "est").as[(String, Long)].collect()
          .foreach(seen.add)
      }
      .start()
    mem.addData(Seq.fill(5)("hot") ++ Seq("cold1"): _*)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // restart from the checkpoint: the state store (not the stream
    // replay) must carry the sketch — batch 2 alone would give est=3
    mem.addData(Seq.fill(3)("hot"): _*)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val hotEsts = seen.toArray(Array.empty[(String, Long)])
      .collect { case ("hot", e) => e }.sorted
    assert(hotEsts.toSeq == Seq(5L, 8L),
      s"expected 5 pre-restart and 8 post-restart, got ${hotEsts.toSeq}")
  }

  test("purchaseViewJoin pairs purchases with in-horizon views only") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val vMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    // views at :00 and :50; purchase at :55 -> only the :50 view is in
    // the 30-minute horizon; user 2's purchase has no views at all
    vMem.addData((1L, ts(0), 1L, "view", 0.0), (2L, ts(50), 1L, "view", 0.0))
    pMem.addData((10L, ts(55), 1L, "purchase", 9.0), (11L, ts(58), 2L, "purchase", 1.0))
    val out = StreamingOps.purchaseViewJoin(df(pMem), df(vMem),
      watermark = "10 minutes", horizon = "30 minutes")
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pvjoin").start()
    sq.processAllAvailable()
    sq.stop()
    val got = spark.table("pvjoin")
      .select("purchase_id", "view_id").as[(Long, Long)].collect().toSet
    assert(got == Set((10L, 2L)))
  }

  test("purchaseViewJoin left-outer emits the unmatched purchase after watermark closes") {
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val vMem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    def df(m: MemoryStream[(Long, Timestamp, Long, String, Double)]) =
      m.toDF.toDF("event_id", "ts", "user_id", "event_type", "value")
    vMem.addData((1L, ts(50), 1L, "view", 0.0))
    pMem.addData((10L, ts(55), 1L, "purchase", 9.0), (11L, ts(58), 2L, "purchase", 1.0))
    val out = StreamingOps.purchaseViewJoin(df(pMem), df(vMem),
      watermark = "10 minutes", horizon = "30 minutes",
      joinType = "left_outer")
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("pvjoin_outer").start()
    sq.processAllAvailable()
    // matched pair flows immediately; the unmatched purchase may not:
    // "no view for purchase 11" is only provable once the VIEW watermark
    // passes its horizon. Feed both streams far-future rows to advance
    // the watermarks, then drain again.
    vMem.addData((3L, ts(500), 9L, "view", 0.0))
    pMem.addData((12L, ts(500), 9L, "purchase", 0.0))
    sq.processAllAvailable()
    sq.stop()
    val got = spark.table("pvjoin_outer")
      .select("purchase_id", "view_id")
      .as[(Long, Option[Long])].collect().toSet
    assert(got.contains((10L, Some(1L)))) // in-horizon match
    assert(got.contains((11L, None))) // unmatched, emitted post-watermark
  }

  test("AvailableNow trigger: the recurring daily batch as incremental catch-up") {
    // the reference reruns the whole pipeline on a daily cron
    // (main.py:1-9); the streaming upgrade processes exactly the files
    // that arrived since the last run, then stops.
    val root = java.nio.file.Files.createTempDirectory("avnow")
    val in = s"$root/in"; val out = s"$root/out"; val ckpt = s"$root/ckpt"
    Seq((1L, "a"), (2L, "b")).toDF("id", "status").write.parquet(s"$in/batch1")
    val schema = Seq((0L, "")).toDF("id", "status").schema

    def runOnce(): Unit = {
      val sq = spark.readStream.schema(schema).parquet(s"$in/*")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .start()
      sq.awaitTermination()
    }
    runOnce()
    assert(spark.read.parquet(out).count() == 2)
    // "next day": one new file arrives; only it is processed
    Seq((3L, "c")).toDF("id", "status").write.parquet(s"$in/batch2")
    runOnce()
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L))
  }

  test("decontaminationGate flags contaminated docs once via stream-static semi join") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Timestamp)]
    val stream = mem.toDF.toDF("doc_id", "text", "ts")
    // static eval set: two shingles, both present in doc 1 (must still
    // flag ONCE), none in doc 2
    val evalShingles = Seq("alpha beta gamma", "beta gamma delta")
      .toDF("s")
    val out = StreamingOps.decontaminationGate(stream, evalShingles, n = 3)
    val sq = out.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("decon").start()
    mem.addData(
      (1L, "alpha beta gamma delta tail", ts(0)),
      (2L, "totally clean text rows here", ts(1)))
    sq.processAllAvailable()
    sq.stop()
    val flagged = spark.table("decon").select("doc_id").as[Long].collect().toSeq
    assert(flagged == Seq(1L))
  }

  test("overwriteMirrorEachBatch keeps mirror == latest batch (truncate-reload)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("mirror").toString
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF.toDF("id", "status")
    val sq = StreamingOps.overwriteMirrorEachBatch(stream, s"$dir/mirror").start()
    mem.addData((1L, "a"), (2L, "b"))
    sq.processAllAvailable()
    assert(spark.read.parquet(s"$dir/mirror").count() == 2)
    mem.addData((3L, "c"))
    sq.processAllAvailable()
    sq.stop()
    // overwrite semantics: the mirror holds the LAST batch, not the union
    val last = spark.read.parquet(s"$dir/mirror").select("id").as[Long].collect().toSet
    assert(last == Set(3L))
  }

  test("overwriteMirrorEachBatch keeps the previous mirror when a batch fails mid-write") {
    implicit val sqlCtx = spark.sqlContext
    val path = java.nio.file.Files.createTempDirectory("mirror_fail").toString + "/mirror"
    // a poison row fails the batch's write task
    def poisoned(mem: MemoryStream[(Long, String)]) =
      mem.toDF.toDF("id", "status").withColumn("status",
        when(col("id") === 99L, raise_error(lit("poison row")))
          .otherwise(col("status")))
    def mirror() = spark.read.parquet(path).as[(Long, String)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    val sq = StreamingOps.overwriteMirrorEachBatch(poisoned(mem), path).start()
    mem.addData((1L, "a"), (2L, "b"))
    sq.processAllAvailable()
    mem.addData((3L, "c"), (99L, "x"))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      sq.processAllAvailable()
    }
    sq.stop()
    assert(mirror() == Set((1L, "a"), (2L, "b")))
    // the next query discards the failed batch's staging and commits
    val mem2 = MemoryStream[(Long, String)]
    val sq2 = StreamingOps.overwriteMirrorEachBatch(poisoned(mem2), path).start()
    mem2.addData((4L, "d"))
    sq2.processAllAvailable()
    sq2.stop()
    assert(mirror() == Set((4L, "d")))
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("upsertMirrorEachBatch MERGE-applies change batches to the snapshot") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("upsert_mirror").toString
    val path = s"$dir/mirror"
    val mem = MemoryStream[(String, Long, String)]
    val changes = mem.toDF.toDF("op", "id", "status")
    val sq = StreamingOps.upsertMirrorEachBatch(changes, Seq("id"), path).start()

    // batch 1: pure inserts into an empty mirror
    mem.addData(("upsert", 1L, "a"), ("upsert", 2L, "b"))
    sq.processAllAvailable()
    assert(spark.read.parquet(path).select("id", "status").as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))

    // batch 2: update 2, delete 1, insert 3 — MERGE semantics, applied
    // incrementally, never a truncate-reload of untouched rows
    mem.addData(("upsert", 2L, "b2"), ("delete", 1L, "a"), ("upsert", 3L, "c"))
    sq.processAllAvailable()
    sq.stop()
    assert(spark.read.parquet(path).select("id", "status").as[(Long, String)]
      .collect().toSet == Set((2L, "b2"), (3L, "c")))

    // replay-idempotence: re-applying the last batch converges to the
    // same snapshot (the failure/restart contract)
    val batch2 = Seq(("upsert", 2L, "b2"), ("delete", 1L, "a"), ("upsert", 3L, "c"))
      .toDF("op", "id", "status")
    graft.operators.Diff.applyChanges(
        spark.read.parquet(path), batch2, Seq("id"))
      .localCheckpoint(true).write.mode("overwrite").parquet(path)
    assert(spark.read.parquet(path).select("id", "status").as[(Long, String)]
      .collect().toSet == Set((2L, "b2"), (3L, "c")))

    // crash healing (round 11, the scd2 sink's contract): a crash
    // BETWEEN the two swap renames strands the snapshot at .old with
    // nothing at path — the next batch must roll back and merge on top
    // of the RESTORED mirror, and leave no swap debris behind.
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val mem2 = MemoryStream[(String, Long, String)]
    val sq2 = StreamingOps.upsertMirrorEachBatch(
      mem2.toDF.toDF("op", "id", "status"), Seq("id"), path).start()
    mem2.addData(("upsert", 4L, "d"))
    sq2.processAllAvailable()
    sq2.stop()
    assert(spark.read.parquet(path).select("id", "status").as[(Long, String)]
      .collect().toSet == Set((2L, "b2"), (3L, "c"), (4L, "d")))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("ivmJoinAggEachBatch maintains the join view incrementally with exactly-once merges") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivm_stream").toString
    val path = s"$dir/view"
    val dim = Seq((1L, "a"), (2L, "b")).toDF("ck", "g")
    val mem = MemoryStream[(Long, Long)]
    val facts = mem.toDF.toDF("ck", "v")
    val sq = StreamingOps.ivmJoinAggEachBatch(
      facts, dim, "ck", Seq("g"), "v", path).start()

    mem.addData((1L, 10L), (2L, 5L), (1L, 1L))
    sq.processAllAvailable()
    assert(spark.read.parquet(path).as[(String, Long)].collect().toMap ==
      Map("a" -> 11L, "b" -> 5L))

    mem.addData((2L, 100L))
    sq.processAllAvailable()
    sq.stop()
    assert(spark.read.parquet(path).as[(String, Long)].collect().toMap ==
      Map("a" -> 11L, "b" -> 105L))

    // exactly-once: additive merges are not idempotent, so the sink
    // commits the last applied (queryTag, batchId) INSIDE the snapshot
    // directory (one rename commits data + id together) and skips
    // same-tag ids it has already seen. A restarted query replaying the
    // same tag restarts batch ids at 0 — its replayed triggers must
    // leave the view untouched.
    val marker = new java.io.File(s"$path/_graft_commit")
    assert(new String(
      java.nio.file.Files.readAllBytes(marker.toPath)).trim == "default:1")
    val stateBefore = spark.read.parquet(path).as[(String, Long)].collect().toMap
    val mem2 = MemoryStream[(Long, Long)]
    val sq2 = StreamingOps.ivmJoinAggEachBatch(
      mem2.toDF.toDF("ck", "v"), dim, "ck", Seq("g"), "v", path).start()
    mem2.addData((1L, 999L)) // arrives as batch 0 <= recorded 1 -> skipped
    sq2.processAllAvailable()
    mem2.addData((1L, 999L)) // batch 1 <= recorded 1 -> still skipped
    sq2.processAllAvailable()
    sq2.stop()
    assert(spark.read.parquet(path).as[(String, Long)].collect().toMap ==
      stateBefore)

    // A genuinely NEW feed (fresh checkpoint lineage, fresh tag) must
    // NOT be dropped by the old lineage's recorded ids — this was the
    // round-8 advisory's silent-data-drop finding.
    val mem3 = MemoryStream[(Long, Long)]
    val sq3 = StreamingOps.ivmJoinAggEachBatch(
      mem3.toDF.toDF("ck", "v"), dim, "ck", Seq("g"), "v", path,
      queryTag = "feed2").start()
    mem3.addData((1L, 100L)) // batch 0 under a new tag -> applies
    sq3.processAllAvailable()
    sq3.stop()
    assert(spark.read.parquet(path).as[(String, Long)].collect().toMap ==
      Map("a" -> 111L, "b" -> 105L))
    assert(new String(
      java.nio.file.Files.readAllBytes(marker.toPath)).trim == "feed2:0")
  }

  test("ivmCdcEachBatch maintains the signed view; retracted groups drop") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivm_cdc").toString
    val path = s"$dir/view"
    val dim = Seq((1L, "a"), (2L, "b")).toDF("ck", "g")
    val mem = MemoryStream[(Long, Long, Long)] // (ck, v, sign)
    val changes = mem.toDF.toDF("ck", "v", "sign")
    val sq = StreamingOps.ivmCdcEachBatch(
      changes, dim, "ck", Seq("g"), "v", path).start()

    mem.addData((1L, 10L, 1L), (2L, 5L, 1L), (1L, 1L, 1L))
    sq.processAllAvailable()
    assert(spark.read.parquet(path).select("g", "v").as[(String, Long)]
      .collect().toMap == Map("a" -> 11L, "b" -> 5L))

    // retract both group-a rows -> the group disappears; group b grows
    mem.addData((1L, 10L, -1L), (1L, 1L, -1L), (2L, 100L, 1L))
    sq.processAllAvailable()
    sq.stop()
    assert(spark.read.parquet(path).select("g", "v").as[(String, Long)]
      .collect().toMap == Map("b" -> 105L))
    // the incremental state equals the one-shot signed batch algebra
    val f0 = Seq.empty[(Long, Long, Long)].toDF("id", "ck", "v")
    val da = Seq((1L, 1L, 10L, 1L), (2L, 2L, 5L, 1L), (3L, 1L, 1L, 1L),
      (4L, 1L, 10L, -1L), (5L, 1L, 1L, -1L), (6L, 2L, 100L, 1L))
      .toDF("id", "ck", "v", "sign")
    val batchEq = graft.operators.Ivm.maintainJoinAggSigned(
      f0, da, dim, dim.limit(0).withColumn("sign", lit(1L)),
      "ck", Seq("g"), "v")
      .as[(String, Long)].collect().toMap
    assert(batchEq == Map("b" -> 105L))
  }

  test("ivmJoinAggEachBatch heals an interrupted snapshot swap") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("ivm_heal").toString
    val path = s"$dir/view"
    val dim = Seq((1L, "a")).toDF("ck", "g")
    val mem = MemoryStream[(Long, Long)]
    val sq = StreamingOps.ivmJoinAggEachBatch(
      mem.toDF.toDF("ck", "v"), dim, "ck", Seq("g"), "v", path).start()
    mem.addData((1L, 7L))
    sq.processAllAvailable()
    sq.stop()
    // Simulate a crash between the two swap renames: committed snapshot
    // moved aside to path.old, nothing at path. The next batch must
    // roll back to the old snapshot before applying (id inside it was
    // never observable, so replay semantics stay additive-correct).
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val mem2 = MemoryStream[(Long, Long)]
    val sq2 = StreamingOps.ivmJoinAggEachBatch(
      mem2.toDF.toDF("ck", "v"), dim, "ck", Seq("g"), "v", path,
      queryTag = "resume").start()
    mem2.addData((1L, 3L))
    sq2.processAllAvailable()
    sq2.stop()
    assert(spark.read.parquet(path).as[(String, Long)].collect().toMap ==
      Map("a" -> 10L))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".staging").exists())
  }

  /** In-memory SCD2 reference: compress per-key runs over (ts, seq)
    * order, close each run at the next run's start.
    */
  private def refScd2(rows: Seq[(Long, String, Long, Long)])
      : Set[(Long, String, Long, Option[Long])] =
    rows.groupBy(_._1).flatMap { case (k, rs) =>
      val runs = rs.sortBy(r => (r._3, r._4))
        .foldLeft(List.empty[(String, Long)]) { (acc, r) =>
          if (acc.nonEmpty && acc.head._1 == r._2) acc
          else (r._2, r._3) :: acc
        }.reverse
      runs.zipWithIndex.map { case ((attr, vf), i) =>
        (k, attr, vf, runs.lift(i + 1).map(_._2))
      }
    }.toSet

  test("scd2EachBatch maintains the effective-dated dimension across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2").toString
    val path = s"$dir/dim"
    val mem = MemoryStream[(Long, String, Long, Long)] // (k, attr, ts_us, seq)
    val sq = StreamingOps.scd2EachBatch(
      mem.toDF.toDF("k", "attr", "ts_us", "seq"),
      "k", "attr", "ts_us", "seq", path).start()

    def snap(): Set[(Long, String, Long, Option[Long])] =
      spark.read.parquet(path)
        .select("k", "attr", "valid_from_us", "valid_to_us")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSet

    // batch 0: two keys, one in-batch attr flip (+ a same-attr repeat
    // that must compress away)
    val b0 = Seq((1L, "bronze", 100L, 1L), (1L, "bronze", 150L, 2L),
      (1L, "silver", 200L, 3L), (2L, "bronze", 120L, 4L))
    mem.addData(b0: _*)
    sq.processAllAvailable()
    assert(snap() == refScd2(b0))

    // batch 1: key 1 extends its open run (same attr -> NO new row),
    // key 2 flips, key 3 appears, and a LATE row for key 1 (ts before
    // the open row's start) is dropped
    val b1 = Seq((1L, "silver", 300L, 5L), (2L, "gold", 400L, 6L),
      (3L, "bronze", 50L, 7L))
    mem.addData((b1 :+ ((1L, "stale", 10L, 8L))): _*)
    sq.processAllAvailable()
    assert(snap() == refScd2(b0 ++ b1))

    // batch 2: flip after the extension — the closed edge lands on the
    // ORIGINAL run start, proving the extension didn't split the row
    val b2 = Seq((1L, "gold", 500L, 9L))
    mem.addData(b2: _*)
    sq.processAllAvailable()
    sq.stop()
    assert(snap() == refScd2(b0 ++ b1 ++ b2))
    assert(snap().contains((1L, "silver", 200L, Some(500L))))

    // replay skip: same tag, stale batch id -> no-op
    val mem2 = MemoryStream[(Long, String, Long, Long)]
    val sq2 = StreamingOps.scd2EachBatch(
      mem2.toDF.toDF("k", "attr", "ts_us", "seq"),
      "k", "attr", "ts_us", "seq", path).start()
    mem2.addData((9L, "x", 999L, 10L)) // replays batch ids from 0
    sq2.processAllAvailable()
    sq2.stop()
    assert(snap() == refScd2(b0 ++ b1 ++ b2))

    // crash healing: simulate dying between the two swap renames
    // (snapshot moved to .old, nothing at path) — the next batch under
    // a fresh tag must roll back, then apply on top of the restored
    // dimension
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val mem3 = MemoryStream[(Long, String, Long, Long)]
    val sq3 = StreamingOps.scd2EachBatch(
      mem3.toDF.toDF("k", "attr", "ts_us", "seq"),
      "k", "attr", "ts_us", "seq", path, queryTag = "heal").start()
    val b3 = Seq((2L, "platinum", 600L, 11L))
    mem3.addData(b3: _*)
    sq3.processAllAvailable()
    sq3.stop()
    assert(snap() == refScd2(b0 ++ b1 ++ b2 ++ b3))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("coverageMirrorEachBatch absorbs out-of-order batches; replay is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("cov").toString
    val path = s"$dir/islands"
    val mem = MemoryStream[(Long, Long, Long, Long)] // (k, st, en, id)
    val sq = StreamingOps.coverageMirrorEachBatch(
      mem.toDF.toDF("k", "st", "en", "id"), "k", "st", "en", "id", path)
      .start()

    def islands(): Set[(Long, Long, Long)] =
      spark.read.parquet(path).collect()
        .map(r => (r.getAs[Long]("k"), r.getAs[Long]("ist"),
          r.getAs[Long]("ien"))).toSet

    mem.addData((1L, 10L, 20L, 1L), (1L, 40L, 50L, 2L), (2L, 0L, 5L, 3L))
    sq.processAllAvailable()
    assert(islands() == Set((1L, 10L, 20L), (1L, 40L, 50L), (2L, 0L, 5L)))

    // batch 2 arrives OUT OF ORDER (earlier times) and bridges the two
    // key-1 islands into one; touching interval extends key 2
    mem.addData((1L, 15L, 45L, 4L), (2L, 5L, 8L, 5L))
    sq.processAllAvailable()
    assert(islands() == Set((1L, 10L, 50L), (2L, 0L, 8L)))

    // replay the SAME intervals (idempotent merge -> no change)
    mem.addData((1L, 15L, 45L, 6L), (1L, 10L, 20L, 7L))
    sq.processAllAvailable()
    sq.stop()
    assert(islands() == Set((1L, 10L, 50L), (2L, 0L, 8L)))

    // crash healing: idempotence covers replay, not lost state — the
    // staged-rename swap must cover a crash BETWEEN the two renames
    // (snapshot at .old, nothing at path). The next batch rolls back
    // and merges on top of the RESTORED islands.
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val mem2 = MemoryStream[(Long, Long, Long, Long)]
    val sq2 = StreamingOps.coverageMirrorEachBatch(
      mem2.toDF.toDF("k", "st", "en", "id"), "k", "st", "en", "id", path)
      .start()
    mem2.addData((2L, 8L, 12L, 8L))
    sq2.processAllAvailable()
    sq2.stop()
    assert(islands() == Set((1L, 10L, 50L), (2L, 0L, 12L)))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("prioritySampleEachBatch keeps the global top-k across batches; replay no-op") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("psamp").toString
    val path = s"$dir/sample"
    val mem = MemoryStream[(Long, String, Long)] // (doc_id, lang, n_chars)
    val sq = StreamingOps.prioritySampleEachBatch(
      mem.toDF.toDF("doc_id", "lang", "n_chars"), k = 3, path).start()

    def sample(): Set[Long] =
      spark.read.parquet(path).collect().map(_.getAs[Long]("doc_id")).toSet
    // batch recompute of the same top-k, the convergence target
    def refTopK(rows: Seq[(Long, String, Long)], k: Int): Set[Long] = {
      import spark.implicits._
      rows.toDF("doc_id", "lang", "n_chars")
        .select(col("doc_id"), expr(
          "(n_chars * 1099511627776) div " +
            "((CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13), " +
            "16, 10) AS BIGINT) div 4096) + 1)").as("priority"))
        .orderBy(col("priority").desc, col("doc_id")).limit(k)
        .collect().map(_.getLong(0)).toSet
    }

    val b0 = Seq((1L, "en", 100L), (2L, "en", 200L), (3L, "de", 50L),
      (4L, "en", 400L))
    mem.addData(b0: _*)
    sq.processAllAvailable()
    assert(sample() == refTopK(b0, 3))

    // batch 2: new docs can evict, never grow past k
    val b1 = Seq((5L, "fr", 900L), (6L, "en", 10L))
    mem.addData(b1: _*)
    sq.processAllAvailable()
    assert(sample() == refTopK(b0 ++ b1, 3))
    assert(sample().size == 3)

    // replaying an old batch changes nothing (idempotent merge)
    mem.addData(b0: _*)
    sq.processAllAvailable()
    sq.stop()
    assert(sample() == refTopK(b0 ++ b1, 3))

    // crash healing: snapshot stranded at .old rolls back and the next
    // batch merges on top of the restored sample
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    val mem2 = MemoryStream[(Long, String, Long)]
    val sq2 = StreamingOps.prioritySampleEachBatch(
      mem2.toDF.toDF("doc_id", "lang", "n_chars"), k = 3, path).start()
    val b2 = Seq((7L, "en", 800L))
    mem2.addData(b2: _*)
    sq2.processAllAvailable()
    sq2.stop()
    assert(sample() == refTopK(b0 ++ b1 ++ b2, 3))
    assert(!new java.io.File(path + ".old").exists())
    assert(!new java.io.File(path + ".staging").exists())
  }

  test("scd2EachBatch is deterministic for equal-timestamp runs (seq total order)") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("scd2eq").toString
    val path = s"$dir/dim"
    val mem = MemoryStream[(Long, String, Long, Long)]
    val sq = StreamingOps.scd2EachBatch(
      mem.toDF.toDF("k", "attr", "ts_us", "seq"),
      "k", "attr", "ts_us", "seq", path).start()
    val b0 = Seq((1L, "a", 100L, 1L))
    mem.addData(b0: _*)
    sq.processAllAvailable()
    // two runs at the SAME vf, tie-broken only by seq: the tail rebuild
    // must order (vf, pri, seq), so "b" (seq 2) closes at 200 and "c"
    // (seq 3) stays open — any other order diverges from the batch
    // recompute
    val b1 = Seq((1L, "b", 200L, 2L), (1L, "c", 200L, 3L))
    mem.addData(b1: _*)
    sq.processAllAvailable()
    sq.stop()
    val got = spark.read.parquet(path)
      .select("k", "attr", "valid_from_us", "valid_to_us")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toSet
    assert(got == refScd2(b0 ++ b1))
    assert(got.contains((1L, "b", 200L, Some(200L))))
    assert(got.contains((1L, "c", 200L, None)))
  }

  test("categoryCountsEachBatch + tvDrift track the batch drift formula; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("drift").toString
    val path = s"$dir/counts"
    val mem = MemoryStream[(String, String)] // (slice, category)
    val sq = StreamingOps.categoryCountsEachBatch(
      mem.toDF.toDF("slice", "cat"), "slice", "cat", path).start()

    // batch-recompute reference: exact counts + TV numerators
    def refDrift(rows: Seq[(String, String)]): Seq[(String, Long, Long, Long)] = {
      val cats = rows.map(_._2).distinct.sorted
      val na = rows.filter(_._1 == "a").groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val nb = rows.filter(_._1 == "b").groupBy(_._2).view.mapValues(_.size.toLong).toMap
      val (ta, tb) = (na.values.sum, nb.values.sum)
      cats.map { c =>
        val (x, y) = (na.getOrElse(c, 0L), nb.getOrElse(c, 0L))
        (c, x, y, math.abs(x * tb - y * ta))
      }
    }
    def drift(): Seq[(String, Long, Long, Long)] =
      StreamingOps.tvDrift(spark.read.parquet(path), "slice", "cat", "a", "b")
        .collect().map(r => (r.getAs[String]("cat"), r.getAs[Long]("n_a"),
          r.getAs[Long]("n_b"), r.getAs[Long]("tv_num"))).toSeq

    val b0 = Seq(("a", "x"), ("a", "x"), ("a", "y"), ("b", "x"), ("b", "z"))
    mem.addData(b0: _*)
    sq.processAllAvailable()
    assert(drift() == refDrift(b0))

    val b1 = Seq(("b", "y"), ("b", "y"), ("a", "z"))
    mem.addData(b1: _*)
    sq.processAllAvailable()
    assert(drift() == refDrift(b0 ++ b1))

    // tv_total is the sum of the numerators in every row
    val tvTotals = StreamingOps.tvDrift(spark.read.parquet(path),
      "slice", "cat", "a", "b").collect().map(_.getAs[Long]("tv_total")).toSet
    assert(tvTotals.size == 1 &&
      tvTotals.head == refDrift(b0 ++ b1).map(_._4).sum)
    sq.stop()

    // replay from batch 0 with the same queryTag: additive counts must
    // NOT double — the (queryTag, batchId) commit skips applied batches
    val mem2 = MemoryStream[(String, String)]
    val sq2 = StreamingOps.categoryCountsEachBatch(
      mem2.toDF.toDF("slice", "cat"), "slice", "cat", path).start()
    mem2.addData(b0: _*) // replays batchId 0, already committed
    sq2.processAllAvailable()
    sq2.stop()
    assert(drift() == refDrift(b0 ++ b1))

    // a NEW feed lineage (fresh tag) applies from its batch 0
    val mem3 = MemoryStream[(String, String)]
    val b2 = Seq(("b", "x"))
    val sq3 = StreamingOps.categoryCountsEachBatch(
      mem3.toDF.toDF("slice", "cat"), "slice", "cat", path, "feed2").start()
    mem3.addData(b2: _*)
    sq3.processAllAvailable()
    sq3.stop()
    assert(drift() == refDrift(b0 ++ b1 ++ b2))
  }

  test("targetEncodeStateEachBatch mirrors the batch OOF encoder; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tenc").toString
    val path = s"$dir/state"
    val mem = MemoryStream[(Long, String, Double)]
    val sq = StreamingOps.targetEncodeStateEachBatch(
      mem.toDF.toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
      path).start()

    // batch recompute through the SAME shared derivation the streaming
    // read half uses — parity means the incremental state is exactly
    // the batch (cat, fold) sums
    def batchRef(rows: Seq[(Long, String, Double)]): Set[(String, Long, Long, Long)] =
      graft.queries.Features.oofEncode(
        graft.queries.Features.encodeBase(
          rows.toDF("o_orderkey", "o_orderpriority", "o_totalprice"))
          .groupBy(col("cat"), col("fold"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("s")))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    def encoded(): Set[(String, Long, Long, Long)] =
      graft.queries.Features.oofEncode(spark.read.parquet(path)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet

    val b0 = Seq((1L, "1-URGENT", 10.50), (2L, "2-HIGH", 20.00),
      (3L, "1-URGENT", 7.25), (6L, "1-URGENT", 3.00), (7L, "2-HIGH", 8.75))
    mem.addData(b0: _*)
    sq.processAllAvailable()
    assert(encoded() == batchRef(b0))

    val b1 = Seq((8L, "2-HIGH", 15.00), (11L, "1-URGENT", 4.20),
      (12L, "3-MEDIUM", 9.99))
    mem.addData(b1: _*)
    sq.processAllAvailable()
    sq.stop()
    assert(encoded() == batchRef(b0 ++ b1))

    // replay from batch 0 with the same queryTag: additive sums must
    // NOT double-apply
    val mem2 = MemoryStream[(Long, String, Double)]
    val sq2 = StreamingOps.targetEncodeStateEachBatch(
      mem2.toDF.toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
      path).start()
    mem2.addData(b0: _*) // replays batchId 0, already committed
    sq2.processAllAvailable()
    sq2.stop()
    assert(encoded() == batchRef(b0 ++ b1))

    // a fresh feed lineage (new tag) applies from its own batch 0
    val mem3 = MemoryStream[(Long, String, Double)]
    val b2 = Seq((13L, "3-MEDIUM", 2.50))
    val sq3 = StreamingOps.targetEncodeStateEachBatch(
      mem3.toDF.toDF("o_orderkey", "o_orderpriority", "o_totalprice"),
      path, "feed2").start()
    mem3.addData(b2: _*)
    sq3.processAllAvailable()
    sq3.stop()
    assert(encoded() == batchRef(b0 ++ b1 ++ b2))
  }
}
