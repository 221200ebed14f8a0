package graft.streaming

import graft.SparkSpec
import graft.ops.SimilarityOps
import graft.ptree.{PrefixTree, Query}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

class StreamOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("windowedCounts: streaming result == batch result on same data") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(0), "click", 1.0), (ts(10), "click", 2.0), (ts(20), "view", 3.0),
      (ts(40), "click", 4.0), (ts(59), "view", 5.0)
    )
    val batchDf = rows.toDF("ts", "event_type", "value")
    val batch = StreamOps.windowedCounts(batchDf, "30 minutes", "10 minutes")
      .as[(Timestamp, String, Long, Double)].collect().toSet

    val mem = MemoryStream[(Timestamp, String, Double)]
    mem.addData(rows: _*)
    val sq = StreamOps
      .windowedCounts(mem.toDF().toDF("ts", "event_type", "value"), "30 minutes", "10 minutes")
      .writeStream.format("memory").queryName("wc").outputMode("complete").start()
    sq.processAllAvailable()
    val streamed = spark.table("wc")
      .as[(Timestamp, String, Long, Double)].collect().toSet
    sq.stop()
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("sessionize splits on the gap, counts events, in batch mode") {
    val ev = Seq(
      (1L, ts(0)), (1L, ts(10)), (1L, ts(55)), // gap 45min between 10 and 55
      (2L, ts(5))
    ).toDF("user_id", "ts")
    val out = StreamOps.sessionize(ev, gapMinutes = 30)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      (1L, ts(0).getTime, ts(10).getTime, 2L),
      (1L, ts(55).getTime, ts(55).getTime, 1L),
      (2L, ts(5).getTime, ts(5).getTime, 1L)
    ))
  }

  test("sessionizeStream: session spanning two micro-batches emits ONCE, merged") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sq = StreamOps
      .sessionizeStream(mem.toDF().toDF("user_id", "ts"), gapMinutes = 30, lateness = "10 minutes")
      .writeStream.format("memory").queryName("sess").outputMode("append").start()
    // batch 1: two events for u1, 10 min apart - session stays OPEN in state
    mem.addData((1L, ts(0)), (1L, ts(10)))
    sq.processAllAvailable()
    assert(spark.table("sess").count() == 0, "open session must not emit yet")
    // batch 2: u1 again 10 min later - same session continues across the
    // micro-batch boundary (the round-3 impl would have split it here)
    mem.addData((1L, ts(20)))
    sq.processAllAvailable()
    // batch 3+4: another user far in the future advances the watermark
    // past u1's end+gap; the event-time timeout then closes u1's session
    mem.addData((2L, Timestamp.valueOf("2024-01-01 14:00:00")))
    sq.processAllAvailable()
    mem.addData((2L, Timestamp.valueOf("2024-01-01 14:01:00")))
    sq.processAllAvailable()
    val got = spark.table("sess").as[(Long, Long, Long, Long)].collect().toSet
    sq.stop()
    assert(got == Set((1L, ts(0).getTime, ts(20).getTime, 3L)), s"got $got")
  }

  test("sessionizeStream: event AT the watermark is late (dropped), so <= close is safe") {
    // Pins the boundary semantics the close condition relies on: FMGWS
    // drops input rows with ts <= watermark (on-time means STRICTLY
    // newer), so when wm reaches sessionEnd + gap no event that could
    // still extend that session can ever be delivered - closing at
    // equality (e + gap <= wm) is correct, not premature. If Spark ever
    // changed the late-row filter to strict <, this test fails and the
    // close condition must tighten to < in both branches.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sq = StreamOps
      .sessionizeStream(mem.toDF().toDF("user_id", "ts"), gapMinutes = 30, lateness = "70 minutes")
      .writeStream.format("memory").queryName("sessb").outputMode("append").start()
    // batch 1: u1 at 10:00; filler u9 at 11:40 pins wm = 11:40 - 70m = 10:30
    mem.addData((1L, ts(0)), (9L, Timestamp.valueOf("2024-01-01 11:40:00")))
    sq.processAllAvailable()
    // batch 2: u1 far island at 11:40 - u1's state re-evaluated with
    // wm == 10:00 + gap: the 10:00 session closes at equality
    mem.addData((1L, Timestamp.valueOf("2024-01-01 11:40:00")))
    sq.processAllAvailable()
    // batch 3: event exactly at the watermark (10:30) - LATE, dropped;
    // it cannot resurrect the closed 10:00 session
    mem.addData((1L, ts(30)))
    sq.processAllAvailable()
    // flush via far-future watermark
    mem.addData((9L, Timestamp.valueOf("2024-01-02 10:00:00")))
    sq.processAllAvailable()
    mem.addData((9L, Timestamp.valueOf("2024-01-02 10:01:00")))
    sq.processAllAvailable()
    val got = spark.table("sessb").filter(col("user_id") === 1L)
      .as[(Long, Long, Long, Long)].collect().toSet
    sq.stop()
    assert(got == Set(
      (1L, ts(0).getTime, ts(0).getTime, 1L),
      (1L, Timestamp.valueOf("2024-01-01 11:40:00").getTime,
        Timestamp.valueOf("2024-01-01 11:40:00").getTime, 1L)
    ), s"boundary semantics changed: $got")
  }

  test("sessionizeStream: late event inside watermark bridges two open islands") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp)]
    val sq = StreamOps
      .sessionizeStream(mem.toDF().toDF("user_id", "ts"), gapMinutes = 10, lateness = "2 hours")
      .writeStream.format("memory").queryName("sessl").outputMode("append").start()
    // two islands 40 min apart (> gap), both open (watermark lags 2h)
    mem.addData((1L, ts(0)), (1L, ts(40)))
    sq.processAllAvailable()
    // late arrival at :32 bridges neither (gap 10: 32-0>10... 40-32<=10):
    // merges into the second island only
    mem.addData((1L, ts(32)))
    sq.processAllAvailable()
    // flush: far-future watermark closes everything via timeout
    mem.addData((2L, Timestamp.valueOf("2024-01-02 10:00:00")))
    sq.processAllAvailable()
    mem.addData((2L, Timestamp.valueOf("2024-01-02 10:01:00")))
    sq.processAllAvailable()
    val got = spark.table("sessl").filter(col("user_id") === 1L)
      .as[(Long, Long, Long, Long)].collect().toSet
    sq.stop()
    assert(got == Set(
      (1L, ts(0).getTime, ts(0).getTime, 1L),
      (1L, ts(32).getTime, ts(40).getTime, 2L)
    ), s"got $got")
  }

  test("streamIntervalJoin: stream-stream == batch join, incl. across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // clicks (left) joined to purchases (right) within 30 minutes before
    val clicks = Seq(
      (1L, ts(0), "c1"), (1L, ts(20), "c2"), (1L, ts(55), "c3"),
      (2L, ts(5), "c4"))
    val purchases = Seq(
      (1L, ts(25), "p1"),  // pairs with c1 (25m before) and c2 (5m)
      (1L, ts(56), "p2"),  // pairs with c3 only (c2 is 36m before)
      (2L, ts(50), "p3"),  // nothing within 30m for key 2
      (3L, ts(10), "p4"))  // no clicks at all
    val memL = MemoryStream[(Long, Timestamp, String)]
    val memR = MemoryStream[(Long, Timestamp, String)]
    val sq = StreamOps.streamIntervalJoin(
        memL.toDF().toDF("user_id", "ts", "v"),
        memR.toDF().toDF("user_id", "ts", "v"),
        "user_id", "ts", "v", windowMinutes = 30, lateness = "10 minutes")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    // split both sides across micro-batches: buffered left rows must
    // still pair with right rows arriving in a LATER batch
    memL.addData(clicks.take(2): _*)
    sq.processAllAvailable()
    memR.addData(purchases.take(1): _*)
    sq.processAllAvailable()
    memL.addData(clicks.drop(2): _*)
    memR.addData(purchases.drop(1): _*)
    sq.processAllAvailable()
    val got = spark.table("ssj").select("key", "l_v", "r_v")
      .as[(Long, String, String)].collect().toSet
    sq.stop()
    assert(got == Set((1L, "c1", "p1"), (1L, "c2", "p1"), (1L, "c3", "p2")),
      s"got $got")
    // batch parity: the same join as a plain non-streaming DataFrame join
    val bl = clicks.toDF("user_id", "ts", "v")
    val br = purchases.toDF("user_id", "ts", "v")
    val batch = StreamOps.streamIntervalJoin(
        bl, br, "user_id", "ts", "v", windowMinutes = 30, lateness = "10 minutes")
      .select("key", "l_v", "r_v").as[(Long, String, String)].collect().toSet
    assert(batch == got, s"batch parity broken: $batch vs $got")
  }

  test("streamIntervalJoin left_outer: unmatched rows emit with NULLs after the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val memL = MemoryStream[(Long, Timestamp, String)]
    val memR = MemoryStream[(Long, Timestamp, String)]
    val sq = StreamOps.streamIntervalJoin(
        memL.toDF().toDF("user_id", "ts", "v"),
        memR.toDF().toDF("user_id", "ts", "v"),
        "user_id", "ts", "v", windowMinutes = 30, lateness = "10 minutes",
        joinType = "left_outer")
      .writeStream.format("memory").queryName("ssjo").outputMode("append").start()
    // c1 finds a partner; c2's user never purchases
    memL.addData((1L, ts(0), "c1"), (2L, ts(0), "c2"))
    memR.addData((1L, ts(10), "p1"))
    sq.processAllAvailable()
    // advance the watermark far enough that c2 provably has no partner
    memL.addData((9L, Timestamp.valueOf("2024-01-01 14:00:00"), "f"))
    memR.addData((9L, Timestamp.valueOf("2024-01-01 14:00:00"), "f"))
    sq.processAllAvailable()
    memL.addData((9L, Timestamp.valueOf("2024-01-01 15:00:00"), "f"))
    memR.addData((9L, Timestamp.valueOf("2024-01-01 15:00:00"), "f"))
    sq.processAllAvailable()
    val got = spark.table("ssjo").filter(col("key") <= 2L)
      .select("key", "l_v", "r_v").as[(Long, String, Option[String])]
      .collect().toSet
    sq.stop()
    assert(got == Set((1L, "c1", Some("p1")), (2L, "c2", None)),
      s"left-outer null emission wrong: $got")
  }

  test("compactStream: multi-batch keep-latest == batch compactChangelog, tombstones flow") {
    implicit val sqlCtx = spark.sqlContext
    val b1 = Seq(
      (1L, ts(0), 1L, false, "k1-v1"),
      (2L, ts(1), 2L, false, "k2-v1"),
      (3L, ts(2), 3L, false, "k3-v1"))
    val b2 = Seq(
      (1L, ts(10), 4L, false, "k1-v2"), // newer version
      (2L, ts(11), 5L, true, ""), // tombstone
      (3L, ts(1), 6L, false, "stale"), // OLDER than stored -> no re-emit
      (4L, ts(12), 7L, false, "k4-v1"))
    val b3 = Seq(
      (2L, ts(20), 8L, false, "k2-v2"), // resurrect after delete
      (1L, ts(10), 9L, false, "k1-v3"), // ts tie -> higher seq wins
      // sub-millisecond precision: these two differ only at micros, and
      // the NEWER-by-micros row has the LOWER seq - millis-truncated
      // ordering would wrongly fall to the seq tiebreak and keep v2
      (5L, Timestamp.valueOf("2024-01-01 10:30:00.000900"), 10L, false, "k5-v1"),
      (5L, Timestamp.valueOf("2024-01-01 10:30:00.000100"), 11L, false, "k5-v2"))
    val mem = MemoryStream[(Long, Timestamp, Long, Boolean, String)]
    val sq = StreamOps
      .compactStream(mem.toDF().toDF("key", "ts", "seq", "del", "payload"))
      .writeStream.format("memory").queryName("cs").outputMode("update").start()
    Seq(b1, b2, b3).foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    sq.stop()
    // the compacted table = latest emission per key, minus tombstoned keys
    val emitted = spark.table("cs")
      .as[(Long, Long, Long, Boolean, String)].collect()
    val compacted = emitted.groupBy(_._1).view
      .mapValues(_.maxBy(r => (r._2, r._3))).values
      .filter(!_._4).map(r => (r._1, r._3, r._5)).toSet
    // batch parity on the SAME changelog
    val batch = (b1 ++ b2 ++ b3).toDF("key", "ts", "seq", "del", "payload")
    val expected = graft.ops.MergeOps
      .compactChangelog(batch, Seq("key"), "ts", "seq", deleteMarker = col("del"))
      .select("key", "seq", "payload").as[(Long, Long, String)].collect().toSet
    assert(compacted == expected, s"stream $compacted vs batch $expected")
    assert(compacted == Set((1L, 9L, "k1-v3"), (2L, 8L, "k2-v2"),
      (3L, 3L, "k3-v1"), (4L, 7L, "k4-v1"), (5L, 10L, "k5-v1")))
    // the stale b2 update for key 3 must not have caused a re-emission
    assert(emitted.count(_._1 == 3L) == 1, "stale version re-emitted")
  }

  test("streamingDedup: first occurrence survives, dupes within watermark dropped") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (ts(0), 1L, "the quick brown fox"),
      (ts(1), 2L, "The  Quick  Brown  Fox"), // same normalized fingerprint
      (ts(2), 3L, "a different document"),
      (ts(3), 4L, "the quick brown fox") // dup again
    )
    val mem = MemoryStream[(Timestamp, Long, String)]
    mem.addData(rows: _*)
    val sq = StreamOps
      .streamingDedup(mem.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("sd").outputMode("append").start()
    sq.processAllAvailable()
    val kept = spark.table("sd").select("doc_id").as[Long].collect().toSet
    sq.stop()
    assert(kept == Set(1L, 3L), s"got $kept")
    // batch parity: dropDuplicates on the same fingerprint keeps 2 rows
    val batch = rows.toDF("ts", "doc_id", "text")
      .withColumn("fp", graft.ops.TextOps.fingerprint(col("text")))
      .dropDuplicates("fp")
    assert(batch.count() == 2)
  }

  test("streamingDedup state expires with the watermark (bounded state)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String)]
    val sq = StreamOps
      .streamingDedup(mem.toDF().toDF("ts", "doc_id", "text"), "ts", "text", "10 minutes")
      .writeStream.format("memory").queryName("sde").outputMode("append").start()
    // batch 1: first occurrence survives
    mem.addData((ts(0), 1L, "recurring boilerplate"))
    sq.processAllAvailable()
    // batch 2: advance the watermark hours past batch 1 + lateness
    mem.addData((Timestamp.valueOf("2024-01-01 14:00:00"), 2L, "fresh content"))
    sq.processAllAvailable()
    // batch 3: same text again - its fingerprint state has EXPIRED, so
    // it is treated as new (this is the bounded-state trade: dedup is
    // guaranteed only within the watermark horizon)
    mem.addData((Timestamp.valueOf("2024-01-01 14:01:00"), 3L, "recurring boilerplate"))
    sq.processAllAvailable()
    val kept = spark.table("sde").select("doc_id").as[Long].collect().toSet
    sq.stop()
    assert(kept == Set(1L, 2L, 3L), s"got $kept")
  }

  test("sampling operators are streaming-safe: same subset as batch") {
    // deterministic/stratified sampling are stateless codegen'd filters,
    // so they apply unchanged to a stream, and the md5-keyed selection
    // picks the IDENTICAL subset the batch run picks
    implicit val sqlCtx = spark.sqlContext
    val rows = (1L to 500L).map(i => (i, if (i % 2 == 0) "a" else "b"))
    val batch = graft.ops.SampleOps.stratifiedSample(
      rows.toDF("key", "s"), "key", "s", Map("a" -> 0.5, "b" -> 0.1))
      .as[(Long, String)].collect().toSet
    val mem = MemoryStream[(Long, String)]
    mem.addData(rows: _*)
    val sq = graft.ops.SampleOps.stratifiedSample(
      mem.toDF().toDF("key", "s"), "key", "s", Map("a" -> 0.5, "b" -> 0.1))
      .writeStream.format("memory").queryName("strat").outputMode("append").start()
    sq.processAllAvailable()
    val streamed = spark.table("strat").as[(Long, String)].collect().toSet
    sq.stop()
    assert(streamed == batch && batch.nonEmpty)
  }

  test("trieMaintenance: streamed micro-batches == full-corpus build") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq("dog", "drop")
    val batch2 = Seq("cat", "car", "cart", "dog") // "dog" again: count must accumulate
    @volatile var latest: org.apache.spark.sql.Dataset[graft.ptree.PTNode] = null
    val mem = MemoryStream[String]
    val initial = PrefixTree.create(spark.emptyDataset[String].toDF("w"), "w", 2, 2)
    val sq = StreamOps.trieMaintenance(mem.toDF().toDF("w"), "w", initial, 2, 2)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // end-caps (word -> occurrence count) must match one build over everything
    val streamed = latest.filter(_.is_word).collect()
      .map(n => n.node -> n.n_occurrences).toMap
    val full = PrefixTree.create((batch1 ++ batch2).toDF("w"), "w", 2, 2)
      .filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    assert(streamed == full)
    assert(streamed("dog") == 2L)
    // and the maintained trie serves queries
    val got = Query.queryBroadcast(Seq("cat").toDF("q"), "q", latest, 1)
      .select("node").as[String].collect().toSet
    assert(got == Set("cat", "car", "cart"))
  }

  test("trieIndexMaintenance: persisted deltas == full build; disk-served between batches") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_trie_idx").toString
    val batch1 = Seq("dog", "drop")
    val batch2 = Seq("cat", "car", "cart", "dog") // re-appearing word accumulates
    // cold-start seed: an indexed EMPTY build at ping
    PrefixTree.writeIndexed(
      PrefixTree.create(spark.emptyDataset[String].toDF("w"), "w", 2, 2),
      s"$base/ping", buckets = 2)
    @volatile var latest: org.apache.spark.sql.Dataset[graft.ptree.PTNode] = null
    val mem = MemoryStream[String]
    val sq = StreamOps.trieIndexMaintenance(
      mem.toDF().toDF("w"), "w", base, 2, 2)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    // serving BETWEEN batches, from the on-disk image: sidecar stats are
    // registered on read, so this query runs zero sizing jobs
    val mid = Query.queryBroadcast(Seq("dog").toDF("q"), "q", latest, 2)
      .select("node").as[String].collect().toSet
    assert(mid == Set("dog", "drop")) // lev(dog, drop) = 2
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // streamed folds == one build over everything, counts included
    val streamed = latest.filter(_.is_word).collect()
      .map(n => n.node -> n.n_occurrences).toMap
    val full = PrefixTree.create((batch1 ++ batch2).toDF("w"), "w", 2, 2)
      .filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    assert(streamed == full)
    assert(streamed("dog") == 2L)
    // the served frame really is the persisted image: re-reading the
    // current version dir from disk yields the same end-caps
    val ping = new java.io.File(s"$base/ping")
    val pong = new java.io.File(s"$base/pong")
    assert(ping.isDirectory && pong.isDirectory) // both versions exercised
    // two batches -> ping(seed) -> pong(b1) -> ping(b1+b2): cur == ping
    val reread = PrefixTree.read(spark, s"$base/ping")
      .filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    assert(reread == full)
  }

  test("bm25Maintenance: streamed micro-batches == full-corpus build, incl. re-appearing doc") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq((1L, "the quick brown fox"), (2L, "pack my box"))
    val batch2 = Seq((3L, "quick quick silver"), (1L, "jumps the fence")) // doc 1 appended
    @volatile var latest: graft.ops.SearchOps.Bm25Index = null
    val mem = MemoryStream[(Long, String)]
    val initial = graft.ops.SearchOps.bm25Build(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val sq = StreamOps.bm25Maintenance(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // the maintained statistics equal ONE build over the merged corpus
    // (doc 1's two appearances concatenate)
    val full = graft.ops.SearchOps.bm25Build(
      Seq((1L, "the quick brown fox jumps the fence"),
        (2L, "pack my box"), (3L, "quick quick silver")).toDF("doc_id", "text"),
      "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(latest.tf) == rows(full.tf))
    assert(rows(latest.dl) == rows(full.dl))
    assert(rows(latest.dfT) == rows(full.dfT))
    assert(rows(latest.stats) == rows(full.stats))
    // and the maintained index serves identical rankings
    val queries = Seq("quick fox", "box").toDF("q")
    assert(rows(graft.ops.SearchOps.bm25Query(latest, queries, "q", k = 3)) ==
      rows(graft.ops.SearchOps.bm25Query(full, queries, "q", k = 3)))
  }

  test("trigramMaintenance: streamed postings == full build, serves exact substring search") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq((1L, "the quick brown fox"), (2L, "pack my box"))
    val batch2 = Seq((3L, "quick silver"), (1L, " JUMPED high")) // doc 1 appended
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(Long, String)]
    val initial = graft.ops.SearchOps.trigramIndex(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val sq = StreamOps.trigramMaintenance(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // postings equal one build over all fragment rows, deduplicated:
    // a re-appearing id unions its gram sets (no boundary grams across
    // fragments - the documented set semantics)
    val fragments = (batch1 ++ batch2).toDF("doc_id", "text")
    val full = graft.ops.SearchOps.trigramIndex(fragments, "doc_id", "text")
      .distinct().as[(Long, String)].collect().toSet
    assert(latest.as[(Long, String)].collect().toSet == full)
    // serving corpus: the same fragment semantics, doc 1's texts joined
    // with a separator so no phantom boundary substring exists
    val docs = Seq((1L, "the quick brown fox  JUMPED high"),
      (2L, "pack my box"), (3L, "quick silver")).toDF("doc_id", "text")
    // and the maintained index answers substring search exactly
    val needles = Seq("quick", "jumped h", "zzz").toDF("n")
    val got = graft.ops.SearchOps
      .substringSearch(docs, "doc_id", "text", latest, needles, "n")
      .as[(String, Long)].collect().toSet
    assert(got == Set(("quick", 1L), ("quick", 3L), ("jumped h", 1L)))
  }

  test("ivfMaintenance: streamed assignment == one-shot assign, upserts replace, queries exact") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(71)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val seed = (0 until 40).map(i => (i.toLong, vec()))
    val batch1 = (40 until 60).map(i => (i.toLong, vec()))
    val v50b = vec()
    val v65x = vec()
    // 50 upserted across batches; 65 duplicated WITHIN batch2 (resolves
    // to the array-order max, the documented deterministic rule)
    val batch2 = (60 until 70).map(i => (i.toLong, vec())) ++ Seq((50L, v50b), (65L, v65x))
    val initial = SimilarityOps.ivfBuild(seed.toDF("id", "v"), "id", "v",
      nCentroids = 8, lloydIters = 1)
    @volatile var latest: graft.ops.SimilarityOps.IvfIndex = null
    val mem = MemoryStream[(Long, Array[Float])]
    val sq = StreamOps.ivfMaintenance(
      mem.toDF().toDF("id", "v"), "id", "v", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // merged corpus under FROZEN centroids: doc 50 carries its new
    // vector; doc 65's intra-batch duplicates resolve to the
    // lexicographic (array-order) max, mirroring the operator's rule
    def arrMax(a: Array[Float], b: Array[Float]): Array[Float] = {
      val c = a.zip(b).collectFirst { case (x, y) if x != y => x > y }
      if (c.getOrElse(a.length >= b.length)) a else b
    }
    val b2resolved = batch2.groupBy(_._1).map { case (id, vs) =>
      (id, vs.map(_._2).reduce(arrMax))
    }.toSeq
    val merged = (seed.filterNot(_._1 == 50L) ++ batch1.filterNot(_._1 == 50L)
      ++ b2resolved).toDF("id", "v")
    val direct = SimilarityOps.ivfAssign(merged, "id", "v", initial.centroids)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"neighbor_id", $"list_id", $"cv")
      .as[(Long, Int, Seq[Float])].collect().toSet
    assert(latest.centroids.toSeq.map(_.toSeq) == initial.centroids.toSeq.map(_.toSeq))
    assert(key(latest.lists) == key(direct))
    // and queries through the maintained index match the one-shot index
    val queries = merged.filter($"id" < 5)
    def topk(idx: graft.ops.SimilarityOps.IvfIndex) = SimilarityOps
      .ivfQuery(idx, queries, "id", "v", k = 3, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    assert(topk(latest) == topk(graft.ops.SimilarityOps.IvfIndex(initial.centroids,
      SimilarityOps.ivfAssign(merged, "id", "v", initial.centroids))))
  }

  test("streamingHeavyHitters: cross-batch state == batch run == exact counts when lossless") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq("a", "a", "b", "c", "a")
    val batch2 = Seq("b", "b", "a", "d")
    val all = batch1 ++ batch2

    val mem = MemoryStream[String]
    val sq = StreamOps
      .streamingHeavyHitters(mem.toDF().toDF("token"), "token",
        capacityPerShard = 16, nShards = 2)
      .writeStream.format("memory").queryName("hh").outputMode("update").start()
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // Update mode re-emits a shard's summary each batch it is touched
    // in: the latest emission per shard - identified by the strictly
    // growing shard_processed, not sink row order - is the current state
    val streamed = spark.table("hh")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("shard").orderBy($"shard_processed".desc)))
      .filter($"rn" === 1).drop("rn")
      .select($"shard", explode($"entries").as("e"), $"lossless")
      .select($"e._1".as("token"), $"e._2".as("est"), $"lossless")
      .as[(String, Long, Boolean)].collect()

    val exact = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(streamed.map(_._1).sorted.toSeq == exact.keys.toSeq.sorted, "lossless: full vocab present")
    streamed.foreach { case (tok, est, lossless) =>
      assert(lossless, s"capacity 16 >= vocab: $tok must be lossless")
      assert(est == exact(tok), s"lossless estimate is exact for $tok")
    }

    // identical result from one batch-mode run over the union
    val viaBatch = StreamOps
      .streamingHeavyHitters(all.toDF("token"), "token", 16, 2)
      .select(explode($"entries").as("e"))
      .select($"e._1".as("token"), $"e._2".as("est"))
      .as[(String, Long)].collect().toSet
    assert(viaBatch == streamed.map(t => (t._1, t._2)).toSet)

    // and the top-k view is globally sorted across shards
    val top2 = StreamOps.heavyHittersTopK(
      StreamOps.streamingHeavyHitters(all.toDF("token"), "token", 16, 2), 2)
      .as[(String, Long)].collect().toSeq
    assert(top2 == Seq(("a", 4L), ("b", 3L)))
  }

  test("streamingHeavyHitters: undersized capacity keeps the SpaceSaving guarantees") {
    // skewed stream: one token dominates; capacity 2 per shard forces
    // evictions, so estimates overestimate and the heavy token survives
    val tokens = (Seq.fill(50)("hot") ++ Seq("x", "y", "z", "w", "v", "u")).toDF("token")
    val got = StreamOps.streamingHeavyHitters(tokens, "token", capacityPerShard = 2, nShards = 1)
      .select(explode($"entries").as("e"), $"shard_processed", $"lossless")
      .select($"e._1".as("token"), $"e._2".as("est"), $"shard_processed", $"lossless")
      .as[(String, Long, Long, Boolean)].collect()
    val byTok = got.map(r => r._1 -> r._2).toMap
    assert(got.head._3 == 56L, "processed counts the whole stream")
    assert(!got.head._4, "evictions happened -> not lossless")
    assert(got.length == 2, "state is capacity-bounded")
    // any token with true count > processed/capacity = 28 must be present
    assert(byTok.contains("hot"))
    assert(byTok("hot") >= 50L, "estimates never undercount")
  }

  test("streamFuzzyMatch: stream-static join against a broadcast trie") {
    implicit val sqlCtx = spark.sqlContext
    val trie = PrefixTree.create(Seq("dog", "drop", "cat").toDF("w"), "w", 2, 2)
    val idx = Query.childrenIndex(trie)
    val mem = MemoryStream[String]
    mem.addData("dog", "cap", "zzz", null) // a null query matches nothing
    val sq = StreamOps
      .streamFuzzyMatch(mem.toDF().toDF("q"), "q", idx, maxDist = 1)
      .writeStream.format("memory").queryName("fm").outputMode("append").start()
    sq.processAllAvailable()
    val got = spark.table("fm").as[(String, String, Int)].collect().toSet
    sq.stop()
    assert(got == Set(("dog", "dog", 0), ("cap", "cat", 1)))
  }

  test("ewmaBufferStream: multi-batch latest snapshot == batch ewmaScore") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(41)
    val all = Seq.tabulate(240)(i =>
      (rnd.nextInt(5).toLong, ts(rnd.nextInt(50), rnd.nextInt(60)), i.toLong,
        rnd.nextDouble() * 100))
    val batches = all.grouped(80).toSeq
    val mem = MemoryStream[(Long, Timestamp, Long, Double)]
    val sq = StreamOps
      .ewmaBufferStream(mem.toDF().toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", maxHistory = 30)
      .writeStream.format("memory").queryName("ewb").outputMode("update").start()
    batches.foreach { b => mem.addData(b: _*); sq.processAllAvailable() }
    sq.stop()
    // latest snapshot per user = rows carrying the user's max ver
    val emitted = spark.table("ewb")
      .as[(Long, Long, Long, Double, Int, Long)].collect()
    val latest = emitted.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
      val v = rs.map(_._6).max; rs.filter(_._6 == v).toSeq
    }
    val gotScores = graft.ops.TimeOps.ewmaAggregate(
        latest.toDF("user_id", "ts_us", "event_id", "value", "_rn", "ver"),
        "user_id", "value", alpha = 0.3, maxHistory = 30)
      .as[(Long, Long, Double)].collect().toSet
    val expected = graft.ops.TimeOps.ewmaScore(
        all.toDF("user_id", "ts", "event_id", "value"),
        "user_id", "ts", "event_id", "value", alpha = 0.3, maxHistory = 30)
      .as[(Long, Long, Double)].collect().toSet
    assert(gotScores == expected)
    // bounded state: no snapshot ever exceeds maxHistory rows
    assert(emitted.groupBy(r => (r._1, r._6)).values.forall(_.size <= 30))
  }

  test("bloomMaintenance: streamed batches == one-shot build (mergeable sketch, bit-exact)") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq((100L, "the exam answer is forty two"), (101L, "capital of france"))
    val batch2 = Seq((102L, "the exam answer is forty two exactly"), (103L, "unrelated eval row"))
    @volatile var latest: graft.ops.TextOps.BloomFilter = null
    val mem = MemoryStream[(Long, String)]
    val initial = graft.ops.TextOps.bloomBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text",
      shingleLen = 3, mBits = 1 << 14, kHashes = 3)
    val sq = StreamOps.bloomMaintenance(
      mem.toDF().toDF("doc_id", "text"), "text", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // byte-identical to ONE build over the union of the batches
    val full = graft.ops.TextOps.bloomBuild(
      (batch1 ++ batch2).toDF("doc_id", "text"), "text",
      shingleLen = 3, mBits = 1 << 14, kHashes = 3)
    assert(latest.bits.sameElements(full.bits), "maintained bits must equal one-shot build")
    assert((latest.mBits, latest.kHashes, latest.shingleLen) ==
      ((full.mBits, full.kHashes, full.shingleLen)))
    // and the maintained filter serves the same probe results
    val corpus = Seq(
      (1L, "the exam answer is forty two copied"), (2L, "nothing shared at all here")
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(graft.ops.TextOps.bloomProbe(latest, corpus, "doc_id", "text")) ==
      rows(graft.ops.TextOps.bloomProbe(full, corpus, "doc_id", "text")))
    // family mismatch is refused, never silently unsound
    intercept[IllegalArgumentException] {
      latest.merge(graft.ops.TextOps.bloomBuild(
        batch1.toDF("doc_id", "text"), "text", shingleLen = 3, mBits = 1 << 10, kHashes = 3))
    }
  }

  test("pqMaintenance: streamed codes == one-shot encode, upserts replace, queries exact") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(73)
    def vec() = Array.fill(8)(rnd.nextGaussian().toFloat)
    val seed = (0 until 40).map(i => (i.toLong, vec()))
    val batch1 = (40 until 60).map(i => (i.toLong, vec()))
    val v50b = vec()
    val v65x = vec()
    // 50 upserted across batches; 65 duplicated WITHIN batch2
    val batch2 = (60 until 70).map(i => (i.toLong, vec())) ++ Seq((50L, v50b), (65L, v65x))
    val initial = SimilarityOps.pqBuild(seed.toDF("id", "v"), "id", "v",
      numSub = 4, numCodes = 8)
    @volatile var latest: graft.ops.SimilarityOps.PqIndex = null
    val mem = MemoryStream[(Long, Array[Float])]
    val sq = StreamOps.pqMaintenance(
      mem.toDF().toDF("id", "v"), "id", "v", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    def arrMax(a: Array[Float], b: Array[Float]): Array[Float] = {
      val c = a.zip(b).collectFirst { case (x, y) if x != y => x > y }
      if (c.getOrElse(a.length >= b.length)) a else b
    }
    val b2resolved = batch2.groupBy(_._1).map { case (id, vs) =>
      (id, vs.map(_._2).reduce(arrMax))
    }.toSeq
    val merged = (seed.filterNot(_._1 == 50L) ++ batch1.filterNot(_._1 == 50L)
      ++ b2resolved).toDF("id", "v")
    // frozen codebooks: maintained codes == one-shot encode of the
    // merged corpus with the SAME codebooks
    val direct = SimilarityOps.pqEncodeRows(merged, "id", "v",
      initial.codebooks, initial.halfs)
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"neighbor_id", $"codes", $"cv")
      .as[(Long, Seq[Int], Seq[Float])].collect().toSet
    for (m <- initial.codebooks.indices; c <- initial.codebooks(m).indices)
      assert(latest.codebooks(m)(c).sameElements(initial.codebooks(m)(c)))
    assert(key(latest.codes) == key(direct))
    // queries through the maintained index match the one-shot index
    val queries = merged.filter($"id" < 5)
    def topk(idx: graft.ops.SimilarityOps.PqIndex) = SimilarityOps
      .pqQuery(idx, queries, "id", "v", k = 3, rerank = 20)
      .collect().map(_.toString).sorted.toSeq
    assert(topk(latest) ==
      topk(graft.ops.SimilarityOps.PqIndex(initial.codebooks, initial.halfs, direct)))
  }

  test("histogramMaintenance: streamed cells == one-shot fixedHistogram, quantiles served") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq(("a", 1.0), ("a", 7.5), ("b", 3.0), ("a", -2.0)) // one underflow
    val batch2 = Seq(("a", 7.9), ("b", 55.0), ("a", 9.99)) // one overflow
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, Double)]
    val initial = graft.ops.SketchOps.fixedHistogram(
      Seq.empty[(String, Double)].toDF("g", "v"), "v", Seq("g"), 0.0, 10.0, 5)
    val sq = StreamOps.histogramMaintenance(
      mem.toDF().toDF("g", "v"), "v", Seq("g"), 0.0, 10.0, 5, initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Long)].collect().toSet
    val direct = graft.ops.SketchOps.fixedHistogram(
      (batch1 ++ batch2).toDF("g", "v"), "v", Seq("g"), 0.0, 10.0, 5)
    assert(cells(latest) === cells(direct),
      "maintained cells must equal one-shot build over all batches")
    // the served quantiles come off the snapshot alone (no corpus)
    def qs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.histogramQuantiles(df, Seq("g"), Seq(0.5, 1.0), 0.0, 10.0, 5)
        .collect().map(_.toString).sorted.toSeq
    assert(qs(latest) === qs(direct))
  }

  test("cmsMaintenance: streamed cells == one-shot sketch, point estimates served") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = Seq("a", "b", "a", "c", "a")
    val batch2 = Seq("b", "a", "d", "d")
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[String]
    val initial = graft.ops.SketchOps.countMinSketch(
      Seq.empty[String].toDF("item"), "item", depth = 3, width = 16)
    val sq = StreamOps.cmsMaintenance(
      mem.toDF().toDF("item"), "item", 3, 16, initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val direct = graft.ops.SketchOps.countMinSketch(
      (batch1 ++ batch2).toDF("item"), "item", 3, 16)
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(Int, Int, Long)].collect().toSet
    assert(cells(latest) === cells(direct))
    val probes = Seq("a", "d", "never").toDF("item")
    val est = graft.ops.SketchOps.countMinEstimate(latest, probes, "item", 3, 16)
      .as[(String, Long)].collect().toMap
    assert(est("a") >= 4 && est("d") >= 2 && est("never") >= 0)
    assert(est === graft.ops.SketchOps.countMinEstimate(direct, probes, "item", 3, 16)
      .as[(String, Long)].collect().toMap)
  }

  test("hllMaintenance: streamed registers == one-shot build, idempotent under redelivery") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1L to 40L).map(i => ("a", "k" + i)) ++ (1L to 5L).map(i => ("b", "k" + i))
    // batch2 REDELIVERS part of batch1 (at-least-once) plus new keys:
    // max-merge must not inflate the count
    val batch2 = (30L to 70L).map(i => ("a", "k" + i))
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, String)]
    val initial = graft.ops.SketchOps.hllRegisters(
      Seq.empty[(String, String)].toDF("g", "k"), "k", Seq("g"))
    val sq = StreamOps.hllMaintenance(
      mem.toDF().toDF("g", "k"), "k", Seq("g"), 64, initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val direct = graft.ops.SketchOps.hllRegisters(
      (batch1 ++ batch2).toDF("g", "k"), "k", Seq("g"))
    def regs(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Int, Int)].collect().toSet
    assert(regs(latest) === regs(direct))
    // the estimate serves off the register file alone and matches the
    // one-shot hllDistinct over the union
    def ests(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.hllEstimate(df, Seq("g"))
        .collect().map(_.toString).sorted.toSeq
    assert(ests(latest) === graft.ops.SketchOps.hllDistinct(
      (batch1 ++ batch2).toDF("g", "k"), "k", Seq("g"))
      .collect().map(_.toString).sorted.toSeq)
  }

  test("hdrMaintenance: streamed cells == one-shot sketch, tail quantiles served") {
    implicit val sqlCtx = spark.sqlContext
    // heavy-tailed values across two batches, two groups
    val batch1 = (1 to 60).map(i => ("a", math.pow(2.0, i / 4.0))) ++
      (1 to 10).map(i => ("b", -i * 3.5))
    val batch2 = (1 to 40).map(i => ("a", math.pow(2.0, i / 3.0))) :+ ("b", 0.0)
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, Double)]
    val initial = graft.ops.SketchOps.hdrSketch(
      Seq.empty[(String, Double)].toDF("g", "value"), "value", Seq("g"))
    val sq = StreamOps.hdrMaintenance(
      mem.toDF().toDF("g", "value"), "value", Seq("g"), initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val direct = graft.ops.SketchOps.hdrSketch(
      (batch1 ++ batch2).toDF("g", "value"), "value", Seq("g"))
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long)].collect().toSet
    assert(cells(latest) === cells(direct))
    // tail quantiles serve off the maintained snapshot identically
    def qs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.hdrQuantiles(df, Seq("g"), Seq(0.5, 0.99))
        .collect().map(_.toString).sorted.toSeq
    assert(qs(latest) === qs(direct))
  }

  test("domainMaintenance: streamed host partials == one-shot profile, domain stats served") {
    implicit val sqlCtx = spark.sqlContext
    // two batches; the same host recurs across batches (partials must
    // ADD), and a domain gains a NEW host in batch 2 (served n_hosts
    // must see it)
    val batch1 = Seq(
      ("https://www.shop.co.uk/a", 10L), ("https://www.shop.co.uk/b", 20L),
      ("https://api.example.com/x", 5L))
    val batch2 = Seq(
      ("https://www.shop.co.uk/c", 7L), ("https://cdn.shop.co.uk/img", 3L),
      ("https://api.example.com/y", 11L))
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, Long)]
    val initial = graft.ops.WebOps.hostProfile(
      Seq.empty[(String, Long)].toDF("url", "n_chars"), "url", "n_chars")
    val sq = StreamOps.domainMaintenance(
      mem.toDF().toDF("url", "n_chars"), "url", "n_chars", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val direct = graft.ops.WebOps.hostProfile(
      (batch1 ++ batch2).toDF("url", "n_chars"), "url", "n_chars")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, String, Long, Long)].collect().toSet
    assert(rows(latest) === rows(direct))
    // domain stats serve off the maintained profile == the direct batch op
    val served = graft.ops.WebOps.domainStatsFromProfile(latest)
      .as[(String, Long, Long, Long)].collect().toSet
    val batchStats = graft.ops.WebOps.domainStats(
      (batch1 ++ batch2).toDF("url", "n_chars"), "url", "n_chars")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(served === batchStats)
    assert(served.exists { case (d, nd, nh, sc) =>
      d == "shop.co.uk" && nd == 4L && nh == 2L && sc == 40L })
  }

  test("frontierMaintenance: each canonical fetch key surfaces exactly once across batches") {
    implicit val sqlCtx = spark.sqlContext
    // batch 1 discovers three links (one relative, one root-relative,
    // one messy absolute); batch 2 re-links two of them - one spelled
    // DIFFERENTLY (default port + fragment vs empty query) - plus one
    // genuinely new dotted-relative link
    val batch1 = Seq(("https://a.com/dir/page",
      "<a href=\"x\">1</a><a href=\"/top\">2</a>" +
        "<a href=\"HTTP://B.com:80/z#f\">3</a>"))
    val batch2 = Seq(("https://a.com/dir/other",
      "<a href=\"x\">same</a><a href=\"../up\">new</a>" +
        "<a href=\"http://b.com/z?\">dup-canon</a>"))
    val freshes = scala.collection.mutable.ArrayBuffer[Set[String]]()
    @volatile var seenFinal: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, String)]
    val initial = Seq.empty[String].toDF("canonical")
    val sq = StreamOps.frontierMaintenance(
      mem.toDF().toDF("url", "html"), "url", "html", initial) { (fresh, seen) =>
      freshes += fresh.as[String].collect().toSet
      seenFinal = seen
    }
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    assert(freshes(0) == Set(
      "https://a.com/dir/x", "https://a.com/top", "http://b.com/z"))
    // the re-linked keys are SEEN (however differently spelled); only
    // the dotted-relative link is new
    assert(freshes(1) == Set("https://a.com/up"))
    assert(seenFinal.as[String].collect().toSet ==
      freshes(0) ++ freshes(1))
  }

  test("lineDedupMaintenance: streamed over id-ordered batches == one batch dedupLines") {
    implicit val sqlCtx = spark.sqlContext
    // batch 1 claims the boilerplate lines; batch 2 re-sends one of
    // them (must drop), adds an intra-batch duplicate pair (first in
    // the batch wins), and a short connector that never dedups
    val batch1 = Seq(
      (1L, "unique opening of doc one\nShare this article now!\nok"),
      (2L, "Share this article now!\nsecond doc's own line here"))
    val batch2 = Seq(
      (3L, "Share this article now!\nbrand new batch-two line\nok"),
      (4L, "brand new batch-two line\nclosing line of doc four"))
    val cleanedBatches = scala.collection.mutable.ArrayBuffer[Seq[(Long, Long, Long, String)]]()
    @volatile var seenFinal: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(Long, String)]
    val initial = Seq.empty[String].toDF("line")
    val sq = StreamOps.lineDedupMaintenance(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", initial) { (cleaned, seen) =>
      cleanedBatches += cleaned.as[(Long, Long, Long, String)].collect().toSeq
      seenFinal = seen
    }
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val streamed = cleanedBatches.flatten.sortBy(_._1)
    val direct = graft.ops.TextOps.dedupLines(
      (batch1 ++ batch2).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Long, Long, String)].collect().sortBy(_._1).toSeq
    assert(streamed == direct,
      s"streamed:\n${streamed.mkString("\n")}\nbatch:\n${direct.mkString("\n")}")
    // the cross-batch drop actually happened, and state is the claimed
    // line vocabulary only
    assert(streamed.find(_._1 == 3L).get._4 == "brand new batch-two line\nok")
    assert(seenFinal.as[String].collect().toSet == Set(
      "unique opening of doc one", "Share this article now!",
      "second doc's own line here", "brand new batch-two line",
      "closing line of doc four"))
  }

  test("cdxMaintenance: streamed captures == one batch latestCaptures over the union") {
    implicit val sqlCtx = spark.sqlContext
    def cap(surt: String, ts: String, dg: String) =
      (surt, ts, s"https://$surt", "text/html", "200", dg, "10", "0", "f.warc.gz")
    // batch 1 seeds two surts; batch 2 recaptures one LATER (must win),
    // one EARLIER (must lose), and adds a new surt
    val batch1 = Seq(cap("s1", "20240101000000", "d1"),
      cap("s2", "20240601000000", "d2"))
    val batch2 = Seq(cap("s1", "20250101000000", "d1b"),
      cap("s2", "20230101000000", "d2-old"),
      cap("s3", "20240301000000", "d3"))
    val cols = Seq("surt_key", "cdx_ts", "url", "mime", "status",
      "digest", "length", "offset", "filename")
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, String, String, String, String, String, String, String, String)]
    val initial = Seq.empty[(String, String, String, String, String, String, String, String, String)]
      .toDF(cols: _*)
    val sq = StreamOps.cdxMaintenance(mem.toDF().toDF(cols: _*), initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    val streamed = latest.select("surt_key", "cdx_ts", "digest")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    sq.stop()
    val direct = graft.sources.Cdx.latestCaptures(
        (batch1 ++ batch2).toDF(cols: _*))
      .select("surt_key", "cdx_ts", "digest")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    assert(streamed == direct)
    assert(streamed == Seq(
      ("s1", "20250101000000", "d1b"),
      ("s2", "20240601000000", "d2"),
      ("s3", "20240301000000", "d3")))
  }

  test("langMixMaintenance: streamed mix PSI == one-shot psiFromHistograms over the union") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.{StatOps, TextOps}
    val nLangs = TextOps.langProfiles._1.size
    // frozen reference: an English/German-leaning mix
    val refDocs = Seq(
      "the quick brown fox jumps over the lazy dog near the riverbank",
      "a spark cluster shuffles sorted partitions through columnar scans",
      "der schnelle braune fuchs springt über den faulen hund im wald")
    val refHist = refDocs.toDF("t")
      .select(TextOps.langBin($"t").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    // the stream drifts french/spanish in over two batches
    val batch1 = Seq(
      "le renard brun rapide saute par dessus le chien paresseux",
      "the query planner prunes partitions before the shuffle begins")
    val batch2 = Seq(
      "el zorro marron salta sobre el perro perezoso cerca del rio",
      "la灯... non, la lumière du matin traverse la fenêtre ouverte",
      "die katze schläft den ganzen tag auf dem warmen fensterbrett")
    val psis = scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    @volatile var lastCounts: Seq[(Int, Long)] = Nil
    val mem = MemoryStream[String]
    val sq = StreamOps.langMixMaintenance(
      mem.toDF().toDF("t"), "t", refHist) { (psi, counts) =>
      psis += psi.as[(Long, Long, Double)].head()
      lastCounts = counts.as[(Int, Long)].collect().toSeq.sorted
    }
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // per-batch emission happened, totals track the ingested volume
    assert(psis.size == 2)
    assert(psis(0)._2 == batch1.size && psis(1)._2 == (batch1 ++ batch2).size)
    // final accumulated PSI == the one-shot batch composition over the
    // SAME union (count sums are associative)
    val directHist = (batch1 ++ batch2).toDF("t")
      .select(TextOps.langBin($"t").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("c"))
    val direct = StatOps.psiFromHistograms(refHist, directHist, bins = nLangs)
      .as[(Long, Long, Double)].head()
    assert(psis(1) == direct, s"streamed ${psis(1)} vs batch $direct")
    // the maintained state is the cell frame of the accumulated mix
    assert(lastCounts.map(_._2).sum == (batch1 ++ batch2).size)
    // drift direction sanity: the fr/es injection moved the mix away
    // from the en/de reference
    assert(psis(1)._3 > 0.0)
  }

  test("sampleMaintenance: streamed state == one-shot sampleState, quantiles served") {
    implicit val sqlCtx = spark.sqlContext
    val batch1 = (1L to 30L).map(i => ("a", i, i.toDouble)) ++
      (1L to 9L).map(i => ("b", 100 + i, i * 10.0))
    // id 5 re-appears with a SMALLER value: both paths must fold to min
    val batch2 = (31L to 60L).map(i => ("a", i, i.toDouble)) :+ ("a", 5L, 0.5)
    @volatile var latest: org.apache.spark.sql.DataFrame = null
    val mem = MemoryStream[(String, Long, Double)]
    val initial = graft.ops.SketchOps.sampleState(
      Seq.empty[(String, Long, Double)].toDF("g", "id", "v"), "id", "v", Seq("g"), 16)
    val sq = StreamOps.sampleMaintenance(
      mem.toDF().toDF("g", "id", "v"), "id", "v", Seq("g"), 16, initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    val direct = graft.ops.SketchOps.sampleState(
      (batch1 ++ batch2).toDF("g", "id", "v"), "id", "v", Seq("g"), 16)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(latest) === rows(direct),
      "maintained sample must equal one-shot build over all batches")
    // bounded state: never more than k rows per group
    assert(latest.groupBy("g").count().as[(String, Long)].collect()
      .forall(_._2 <= 16))
    // the served quantiles come off the snapshot alone (no corpus), and
    // agree with the one-pass batch sketch over the same union
    def qs(df: org.apache.spark.sql.DataFrame) =
      graft.ops.SketchOps.sampleQuantiles(
        graft.ops.SketchOps.sampleStateToSketch(df, Seq("g")), Seq("g"), Seq(0.5, 1.0))
        .collect().map(_.toString).sorted.toSeq
    val batchSketch = graft.ops.SketchOps.sampleSketch(
      (batch1 ++ batch2).toDF("g", "id", "v"), "id", "v", Seq("g"), 16)
    assert(qs(latest) === graft.ops.SketchOps.sampleQuantiles(
      batchSketch, Seq("g"), Seq(0.5, 1.0)).collect().map(_.toString).sorted.toSeq)
  }

  test("lshMaintenance: streamed index == one-shot build, upserts replace, probe parity") {
    implicit val sqlCtx = spark.sqlContext
    val mk = (id: Long, t: String) => (id, t)
    val batch1 = Seq(
      mk(1, "alpha beta gamma delta epsilon zeta eta theta"),
      mk(2, "one two three four five six seven eight nine"))
    // 1 re-appears with NEW text: the maintained index must hold only
    // the new signature (upsert, not append)
    val batch2 = Seq(
      mk(1, "totally different words now appear in this document text"),
      mk(3, "alpha beta gamma delta epsilon zeta eta iota"))
    @volatile var latest: graft.ops.DedupOps.LshIndex = null
    val mem = MemoryStream[(Long, String)]
    val initial = graft.ops.DedupOps.lshBuild(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    val sq = StreamOps.lshMaintenance(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text", initial)(latest = _)
    mem.addData(batch1: _*)
    sq.processAllAvailable()
    mem.addData(batch2: _*)
    sq.processAllAvailable()
    sq.stop()
    // last-write-wins union of the batches
    val finalDocs = Seq(batch1(1), batch2(0), batch2(1))
    val direct = graft.ops.DedupOps.lshBuild(
      finalDocs.toDF("doc_id", "text"), "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(rows(latest.sigs) === rows(direct.sigs))
    assert(rows(latest.banded) === rows(direct.banded))
    // and the maintained index serves the same probe verdicts
    val probeBatch = Seq(
      mk(100, "alpha beta gamma delta epsilon zeta eta theta"), // near-dups 3
      mk(101, "nothing in common with anything indexed here at all"))
      .toDF("doc_id", "text")
    assert(rows(graft.ops.DedupOps.lshProbe(latest, probeBatch, "doc_id", "text")) ===
      rows(graft.ops.DedupOps.lshProbe(direct, probeBatch, "doc_id", "text")))
    val hits = graft.ops.DedupOps.lshProbe(latest, probeBatch, "doc_id", "text")
      .as[(Long, Long, Double)].collect()
    assert(hits.map(_._1).toSet === Set(100L), s"only the near-dup probes, got ${hits.toSeq}")
  }

  test("drift monitor composition: maintained histogram vs frozen reference, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    // reference snapshot: the distribution the pipeline was tuned on
    val refVals = Seq.tabulate(200)(i => ("g", (i % 40).toDouble))
    val ref = graft.ops.SketchOps.fixedHistogram(
      refVals.toDF("g", "v"), "v", Seq("g"), 0.0, 100.0, 20).localCheckpoint()
    // stream: first batch matches the reference exactly (120 = 3 x 40,
    // so per-value proportions equal the reference's uniform 1/40),
    // second batch drifts
    val calm = Seq.tabulate(120)(i => ("g", (i % 40).toDouble))
    val drifted = Seq.tabulate(100)(i => ("g", (i % 40) + 50.0))
    @volatile var scores = List.empty[(Double, Double)] // (psi, ks)
    val mem = MemoryStream[(String, Double)]
    val initial = graft.ops.SketchOps.fixedHistogram(
      Seq.empty[(String, Double)].toDF("g", "v"), "v", Seq("g"), 0.0, 100.0, 20)
    val sq = StreamOps.histogramMaintenance(
      mem.toDF().toDF("g", "v"), "v", Seq("g"), 0.0, 100.0, 20, initial) { snap =>
      val psi = graft.ops.StatOps.psiFromHistograms(snap, ref, bins = 20)
        .select("psi").as[Double].head()
      val ks = graft.ops.StatOps.ksFromHistograms(snap, ref)
        .select("ks").as[Double].head()
      scores = scores :+ (psi, ks)
    }
    mem.addData(calm: _*)
    sq.processAllAvailable()
    mem.addData(drifted: _*)
    sq.processAllAvailable()
    sq.stop()
    assert(scores.size === 2)
    // calm batch: same shape as the reference -> both scores ~0
    assert(scores(0)._1 === 0.0 && scores(0)._2 === 0.0)
    // drifted batch folds in -> both alarms move off zero
    assert(scores(1)._1 > 0.1 && scores(1)._2 > 0.1)
    // and the monitored scores equal a one-shot batch comparison
    val all = graft.ops.SketchOps.fixedHistogram(
      (calm ++ drifted).toDF("g", "v"), "v", Seq("g"), 0.0, 100.0, 20)
    val psiBatch = graft.ops.StatOps.psiFromHistograms(all, ref, bins = 20)
      .select("psi").as[Double].head()
    val ksBatch = graft.ops.StatOps.ksFromHistograms(all, ref)
      .select("ks").as[Double].head()
    assert(scores(1) === ((psiBatch, ksBatch)))
  }

  test("ivfMaintenance: maintained lists == ivfAssign over latest-per-id; dup/redelivery safe") {
    implicit val sqlCtx = spark.sqlContext
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
    val b1 = Seq(
      (1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.8f)), (3L, Array(0.7f, 0.2f)))
    // batch 2: id 3 REDELIVERED with a new vector (must move lists, not
    // duplicate), id 7 twice within one batch, one genuinely new id
    val b2 = Seq(
      (3L, Array(0.1f, 0.9f)), (7L, Array(0.6f, 0.6f)), (7L, Array(0.2f, 0.9f)),
      (8L, Array(0.8f, 0.3f)))
    @volatile var latest: graft.ops.SimilarityOps.IvfIndex = null
    val mem = MemoryStream[(Long, Array[Float])]
    val initial = graft.ops.SimilarityOps.ivfAssign(
      Seq.empty[(Long, Array[Float])].toDF("id", "vec"), "id", "vec", cents)
    val sq = StreamOps.ivfMaintenance(mem.toDF().toDF("id", "vec"), "id", "vec",
      graft.ops.SimilarityOps.IvfIndex(cents, initial))(latest = _)
    mem.addData(b1: _*); sq.processAllAvailable()
    mem.addData(b2: _*); sq.processAllAvailable()
    sq.stop()
    // ground truth: the latest version of every id; the in-batch dup
    // resolves to the lexicographically larger vector (the op's
    // deterministic max pick)
    val direct = graft.ops.SimilarityOps.ivfAssign(
      Seq(
        (1L, Array(0.9f, 0.1f)), (2L, Array(0.1f, 0.8f)), (3L, Array(0.1f, 0.9f)),
        (7L, Array(0.6f, 0.6f)), (8L, Array(0.8f, 0.3f))
      ).toDF("id", "vec"), "id", "vec", cents)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("list_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect().toSet
    assert(latest.lists.count() == 5)
    assert(rows(latest.lists) === rows(direct))
    // served top-k off the maintained snapshot == off the batch-built one
    val qs = Seq((100L, Array(1.0f, 0.05f))).toDF("qid", "qv")
    def top(lists: org.apache.spark.sql.DataFrame) =
      graft.ops.SimilarityOps.ivfQuery(
        graft.ops.SimilarityOps.IvfIndex(cents, lists), qs, "qid", "qv", k = 3, nProbe = 2)
        .as[(Long, Long, Int, Double)].collect().toSet
    assert(top(latest.lists) === top(direct))
  }

  /** The checkpoint RDD behind a frame a maintenance operator handed out. */
  private def checkpointId(ds: Dataset[_]): Int = {
    val ids = ds.queryExecution.analyzed.collectLeaves().collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }
    assert(ids.size == 1, s"not one checkpoint leaf: ${ds.queryExecution.analyzed}")
    ids.head
  }

  /** Feeds 4 batches (`feed(n)`) through the query `start` builds; its
    * callback reports each batch's handed-out (state, scratch) frames.
    * Nothing is released before the callback returns, and after batch n
    * the checkpoints alive beyond those present before the operator
    * started are exactly: batch n's state and scratch, plus the previous
    * state (batch n-1's, or the initial one after batch 0). So a state is
    * released after batch n+2's callback, handed-out scratch after batch
    * n+1's, and in-batch scratch within its own batch.
    */
  private def assertReleaseContract(feed: Int => Unit)(
      start: ((Seq[Dataset[_]], Seq[Dataset[_]]) => Unit) => StreamingQuery): Unit = {
    // per batch: state ids, scratch ids, ids alive in the callback, frames
    val handed =
      scala.collection.mutable.ArrayBuffer[(Set[Int], Set[Int], Set[Int], Seq[Dataset[_]])]()
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val sq = start { (state, scratch) =>
      handed += ((state.map(checkpointId).toSet, scratch.map(checkpointId).toSet,
        persisted -- before, state ++ scratch))
    }
    try {
      var lastLive = Set.empty[Int]
      for (n <- 0 until 4) {
        feed(n)
        sq.processAllAvailable()
        assert(handed.size == n + 1)
        val (state, scratch, atCallback, frames) = handed(n)
        val live = persisted -- before
        val prevState = if (n == 0) live -- state -- scratch else handed(n - 1)._1
        assert(prevState.size == state.size, s"batch $n: live $live")
        assert(live == state ++ scratch ++ prevState, s"batch $n: handed $handed")
        val beforeRelease = if (n == 0) live else lastLive ++ state ++ scratch
        assert(atCallback == beforeRelease, s"batch $n: released before the callback")
        frames.foreach(_.collect())
        lastLive = live
      }
    } finally sq.stop()
  }

  test("maintenance release contract: one-batch grace for state, none for scratch") {
    implicit val sqlCtx = spark.sqlContext
    val trieIn = MemoryStream[String]
    val emptyTrie = PrefixTree.create(spark.emptyDataset[String].toDF("w"), "w", 2, 2)
    assertReleaseContract(n => trieIn.addData(s"w$n", "dog")) { hand =>
      StreamOps.trieMaintenance(trieIn.toDF().toDF("w"), "w", emptyTrie, 2, 2)(t => hand(Seq(t), Nil))
    }
    // a 4-frame state plus in-batch scratch (the batch's tf)
    val docs = MemoryStream[(Long, String)]
    val emptyBm25 = graft.ops.SearchOps.bm25Build(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "doc_id", "text")
    assertReleaseContract(n => docs.addData((n.toLong, s"quick text $n"), (0L, "again"))) { hand =>
      StreamOps.bm25Maintenance(docs.toDF().toDF("doc_id", "text"), "doc_id", "text", emptyBm25) { i =>
        hand(Seq(i.tf, i.dl, i.dfT, i.stats), Nil)
      }
    }
    // state (seen) plus handed-out scratch (the batch's fresh frontier)
    val pages = MemoryStream[(String, String)]
    assertReleaseContract(n => pages.addData(
      (s"https://a.com/p$n", s"""<a href="x$n">new</a><a href="/top">old</a>"""))) { hand =>
      StreamOps.frontierMaintenance(pages.toDF().toDF("url", "html"), "url", "html",
        Seq.empty[String].toDF("canonical")) { (fresh, seen) => hand(Seq(seen), Seq(fresh)) }
    }
  }

  test("one fold owns the micro-batch loop: no foreachBatch or graveyard outside it") {
    // the spec forks with the project root as working directory
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val streamOps = Paths.get("src/main/scala/graft/streaming/StreamOps.scala")
    val folds = """(?s)  private def maintain\[.*?\n  }\n""".r
      .findAllIn(Files.readString(streamOps)).toList
    assert(folds.size == 1, "StreamOps.maintain not found")
    val loop = """\.foreachBatch\b|\bgraveyard\b""".r
    assert(loop.findAllIn(folds.head).count(_ == ".foreachBatch") == 1)
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val hits = sources.flatMap { f =>
      val text = Files.readString(f)
      loop.findAllIn(if (f == streamOps) text.replace(folds.head, "") else text)
        .map(m => s"$f: $m")
    }
    assert(hits.isEmpty, s"micro-batch maintenance runs through StreamOps.maintain: $hits")
  }
}
