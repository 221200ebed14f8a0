package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.ops.OpsUtil

/** Structured-Streaming operators over the `events` shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no stream processing (its Roxie side is point-query
  * serving - SURVEY.md §2.C); these extend the engine to the streaming
  * half of a training-data pipeline. Each transform is defined on a plain
  * DataFrame so the SAME code runs batch (for the DuckDB oracle) and
  * streaming (`readStream` in, `writeStream` out) - the Structured
  * Streaming contract.
  */
object StreamOps {

  /** Tumbling-window per-type aggregates with a watermark for late data.
    * Batch: plain groupBy on the window expression. Stream: incremental
    * state per window, closed `lateness` after the watermark passes.
    */
  def windowedCounts(events: DataFrame, windowLen: String, lateness: String): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(F.col("ts"), windowLen).as("w"), F.col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum("value"), 4).as("sum_value")
      )
      .select(
        F.col("w.start").as("window_start"),
        F.col("event_type"),
        F.col("n_events"),
        F.col("sum_value")
      )

  /** Batch sessionization: per-user sessions closed after `gapMinutes`
    * of inactivity. Emits (user_id, session_start_ms, session_end_ms,
    * n_events).
    *
    * Sort-based, NOT state-based: one shuffle on user_id, then a window
    * `lag` marks session starts and a running sum numbers them - O(1)
    * state per row inside Spark's external-sort window operator, which
    * spills. A hot key (bot account with 10^8 events) sorts on disk
    * instead of materializing an in-memory per-key array, so the plan
    * survives 100x skew. For unbounded streams use [[sessionizeStream]].
    */
  def sessionize(
      events: Dataset[org.apache.spark.sql.Row],
      gapMinutes: Int
  ): DataFrame = {
    val gapMs = gapMinutes * 60000L
    val byUser = Window.partitionBy("user_id").orderBy("ms")
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(
        F.col("user_id").cast(LongType).as("user_id"),
        unix_millis(F.col("ts").cast(TimestampType)).as("ms"))
      .withColumn("prev_ms", lag("ms", 1).over(byUser))
      .withColumn(
        "new_sess",
        when(F.col("prev_ms").isNull || F.col("ms") - F.col("prev_ms") > gapMs, 1L)
          .otherwise(0L))
      .withColumn("sess", sum("new_sess").over(running))
      .groupBy("user_id", "sess")
      .agg(
        min("ms").as("session_start_ms"),
        max("ms").as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start_ms", "session_end_ms", "n_events")
  }

  /** Streaming sessionization: genuine incremental state via
    * `flatMapGroupsWithState` + event-time timeout. Sessions spanning
    * micro-batch boundaries stay open in `GroupState` (as compact
    * (start, end, count) intervals - never raw timestamps) until either
    * a later event closes them by exceeding the gap, or the watermark
    * passes `session_end + gap` and the timeout fires. State per key is
    * O(#open sessions), which the gap semantics bound to the handful of
    * late-data islands inside the watermark horizon - independent of
    * how many events the key has ever produced.
    *
    * Emits (user_id, session_start_ms, session_end_ms, n_events) in
    * append mode, each session exactly once, once it can no longer grow.
    */
  def sessionizeStream(
      events: Dataset[org.apache.spark.sql.Row],
      gapMinutes: Int,
      lateness: String
  ): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .select(F.col("user_id").cast(LongType), F.col("ts").cast(TimestampType))
      .withWatermark("ts", lateness)
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Long, Long)], (Long, Long, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[List[(Long, Long, Long)]]) =>
          if (state.hasTimedOut) {
            // watermark passed end+gap for the earliest open session(s):
            // emit everything that can no longer be extended
            val wm = state.getCurrentWatermarkMs()
            // <= is safe AT the boundary: FMGWS drops input rows with
            // ts <= watermark (empirically pinned by the boundary spec),
            // so no event that could extend a session with e + gap == wm
            // can ever be delivered - closing at equality loses nothing
            val (closed, open) = state.get.partition { case (_, e, _) => e + gapMs <= wm }
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
            }
            closed.iterator.map { case (s, e, n) => (uid, s, e, n) }
          } else {
            // merge this batch's (batch-bounded, sorted) timestamps into
            // the open-session intervals; a timestamp within gap of an
            // interval extends it, and one that bridges two intervals
            // merges them
            var sessions = state.getOption.getOrElse(Nil) // sorted by start
            val batchTs = rows.map(_._2.getTime).toArray.sorted
            for (t <- batchTs) {
              val (before, rest) = sessions.span { case (_, e, _) => e < t - gapMs }
              rest match {
                case (s, e, n) :: tail if t >= s - gapMs =>
                  // touches this interval; may also bridge into the next
                  val (s2, e2, n2) = (math.min(s, t), math.max(e, t), n + 1)
                  tail match {
                    case (s3, e3, n3) :: tail2 if s3 - e2 <= gapMs =>
                      sessions = before ::: (s2, math.max(e2, e3), n2 + n3) :: tail2
                    case _ => sessions = before ::: (s2, e2, n2) :: tail
                  }
                case _ => sessions = before ::: (t, t, 1L) :: rest
              }
            }
            val wm = state.getCurrentWatermarkMs()
            // same <= boundary reasoning as the timed-out branch
            val (closed, open) = sessions.partition { case (_, e, _) => e + gapMs <= wm }
            if (open.isEmpty) state.remove()
            else {
              state.update(open)
              state.setTimeoutTimestamp(math.max(open.map(_._2).min + gapMs, wm + 1))
            }
            closed.iterator.map { case (s, e, n) => (uid, s, e, n) }
          }
      }
      .toDF("user_id", "session_start_ms", "session_end_ms", "n_events")
  }

  /** Streaming CDC keep-latest compaction - the continuous form of
    * [[graft.ops.MergeOps.compactChangelog]]: maintain, per key, the
    * newest version seen so far (ordered by event time, ties broken by
    * `seq` - the log sequence number) and re-emit a key's current
    * winner whenever it changes (Update mode). Tombstones flow through
    * with `del = true` so a downstream sink can delete the key; a later
    * upsert resurrects it, exactly like the batch operator's
    * delete-then-upsert semantics.
    *
    * Input contract (the generic changelog shape; pack wide payloads
    * via to_json): key LONG, ts TIMESTAMP, seq LONG, del BOOLEAN,
    * payload STRING. Output: (key, ts_us, seq, del, payload) with ts_us
    * in epoch MICROseconds (TimestampType's full precision - ordering
    * on truncated millis could pick a different winner than the batch
    * operator); latest emission per key = the compacted table.
    *
    * State is one row per LIVE key - the compacted table itself, which
    * is the product, not a leak; `NoTimeout` is deliberate (a key's
    * latest version must outlive any watermark). At 100 TB the state
    * store shards by key across executors like any streaming agg.
    */
  def compactStream(changelog: Dataset[org.apache.spark.sql.Row]): DataFrame = {
    val spark = changelog.sparkSession
    import spark.implicits._
    changelog
      .select(F.col("key").cast(LongType),
        unix_micros(F.col("ts").cast(TimestampType)).as("ts_us"),
        F.col("seq").cast(LongType), F.col("del").cast(BooleanType),
        F.col("payload").cast(StringType))
      .as[(Long, Long, Long, Boolean, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Boolean, String), Option[(Long, Long, Long, Boolean, String)]](
        GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, Long, Boolean, String)]) =>
          // newest (ts, seq) among this batch's rows and the stored state
          val batchBest = rows.map(r => (r._2, r._3, r._4, r._5))
            .maxBy(r => (r._1, r._2))
          val winner = state.getOption match {
            case Some(st) if st._1 > batchBest._1 ||
              (st._1 == batchBest._1 && st._2 > batchBest._2) => st
            case _ => batchBest
          }
          if (!state.getOption.contains(winner)) {
            state.update(winner)
            Some((key, winner._1, winner._2, winner._3, winner._4))
          } else None // stale batch: winner unchanged, nothing to re-emit
      }
      .flatMap(_.iterator)
      .toDF("key", "ts_us", "seq", "del", "payload")
  }

  /** Streaming exact dedup: drop rows whose normalized-text fingerprint
    * (graft.ops.TextOps.fingerprint) was already seen within the
    * watermark horizon. `dropDuplicatesWithinWatermark` expires
    * fingerprint state once the watermark passes it - bounded state at
    * any stream length, where a plain streaming dropDuplicates would
    * hold every fingerprint forever. The batch-parity counterpart is
    * `dropDuplicates` on the same fingerprint column.
    */
  def streamingDedup(
      docs: DataFrame,
      tsCol: String,
      textCol: String,
      lateness: String
  ): DataFrame =
    docs
      .withColumn("fp", graft.ops.TextOps.fingerprint(F.col(textCol)))
      .withWatermark(tsCol, lateness)
      .dropDuplicatesWithinWatermark("fp")
      .drop("fp") // working column - callers get their input schema back

  /** Streaming heavy hitters: a cross-batch SpaceSaving summary per
    * token-hash shard, maintained in `mapGroupsWithState`. Each
    * micro-batch folds its tokens into the shard's summary and re-emits
    * that shard's current entries (Update mode) - the always-fresh
    * "trending tokens" view a curation pipeline watches during
    * ingestion, with hard O(nShards * capacity) state regardless of
    * vocabulary size or stream length.
    *
    * Sharding is by md5 prefix of the token - deterministic and
    * engine-portable (the md5-keyed discipline of SampleOps), so a
    * second engine can replay the batch-mode result exactly. Shards
    * partition the token space: shard summaries never share tokens, so
    * the global top-k is just the union of shard entries re-sorted
    * ([[heavyHittersTopK]]), and per-shard SpaceSaving guarantees carry
    * over globally - every token with true count > shard_processed /
    * capacity is present, and every estimate is an overestimate.
    *
    * Runs unchanged on a batch Dataset (state starts empty, one
    * "batch") - that is the oracle path.
    *
    * Output: (shard, entries array<(token, est)> sorted (-est, token),
    * shard_processed, lossless).
    */
  def streamingHeavyHitters(
      tokens: DataFrame,
      tokenCol: String,
      capacityPerShard: Int,
      nShards: Int
  ): DataFrame = {
    require(capacityPerShard > 0 && nShards > 0,
      s"need positive capacity/shards, got $capacityPerShard/$nShards")
    val spark = tokens.sparkSession
    import spark.implicits._
    implicit val ssEnc: org.apache.spark.sql.Encoder[graft.functions.SpaceSaving] =
      org.apache.spark.sql.Encoders.kryo[graft.functions.SpaceSaving]
    tokens
      .filter(F.col(tokenCol).isNotNull)
      .select(
        pmod(conv(substring(md5(F.col(tokenCol)), 1, 8), 16, 10).cast(LongType),
          lit(nShards.toLong)).cast(IntegerType).as("shard"),
        F.col(tokenCol).cast(StringType).as("token"))
      .as[(Int, String)]
      .groupByKey(_._1)
      .mapGroupsWithState[graft.functions.SpaceSaving, (Int, Seq[(String, Long)], Long, Boolean)](
        GroupStateTimeout.NoTimeout()) { case (shard, rows, state) =>
        val ss = state.getOption
          .getOrElse(new graft.functions.SpaceSaving(capacityPerShard))
        rows.foreach(r => ss.add(r._2))
        state.update(ss)
        (shard,
          ss.counts.toSeq.sortBy { case (t, c) => (-c, t) },
          ss.processed, ss.lossless)
      }
      .toDF("shard", "entries", "shard_processed", "lossless")
  }

  /** Global top-k over [[streamingHeavyHitters]] summaries (shards are
    * token-disjoint, so union + re-sort is exact w.r.t. the estimates).
    */
  def heavyHittersTopK(summaries: DataFrame, k: Int): DataFrame =
    summaries
      .select(F.col("shard"), explode(F.col("entries")).as("e"))
      .select(F.col("e._1").as("token"), F.col("e._2").as("est"))
      .orderBy(F.col("est").desc, F.col("token").asc)
      .limit(k)

  /** The one micro-batch loop every maintenance operator below runs. For
    * each non-empty batch, `step(state, batch)` lands the next state, calls
    * the operator's callback, and returns the next state with the frames
    * this batch retires (the superseded state, and any scratch handed out
    * beside the new one); then the frames the PREVIOUS batch retired are
    * released through [[graft.ops.OpsUtil.unpersistCheckpoint]].
    *
    * That one-batch grace is the release contract. Releasing a
    * `localCheckpoint` destroys its only copy (its lineage is cut), so a
    * state handed out at batch N stays readable through batch N+1 and is
    * released after batch N+2's callback: a serving reader gets a full
    * batch interval to finish or re-resolve through the callback, and
    * executor storage holds at most 3 state snapshots. Scratch handed out
    * beside the state is released after batch N+1's callback, so the
    * callback must consume it - or copy the rows out (collect, write, its
    * own persist) - before it returns; an async consumer is handed the
    * copy, never the frame. Scratch used only inside a batch is released
    * by the step before it returns.
    */
  private def maintain[S](stream: DataFrame, initial: S)(
      step: (S, DataFrame) => (S, Seq[Dataset[_]])): StreamingQuery = {
    @volatile var state = initial
    @volatile var graveyard: Seq[Dataset[_]] = Nil
    stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!batch.isEmpty) {
          val (next, retired) = step(state, batch.toDF())
          state = next
          graveyard.foreach(OpsUtil.unpersistCheckpoint)
          graveyard = retired
        }
      }
      .start()
  }

  /** Continuously maintain a prefix-tree index over a stream of strings
    * (`graft.ptree.PrefixTree.merge` per micro-batch): each micro-batch
    * folds into the running trie via a VOCABULARY-sized rebuild - the
    * trie decomposes losslessly into weighted end-caps, so per-batch
    * cost is O(|vocab| + |batch|) regardless of how much raw corpus the
    * stream has carried. This is the streaming half of the reference's
    * Create lifecycle (its Thor side rebuilds from the full file each
    * time - /root/reference/PrefixTree.ecl:592-613).
    *
    * `onUpdate` fires after each batch with the new trie (e.g. to
    * refresh a serving index via `Query.childrenIndex`). State lineage
    * is cut with `localCheckpoint` every batch so the plan stays flat
    * across an unbounded stream.
    */
  def trieMaintenance(
      stream: DataFrame,
      col: String,
      initial: Dataset[graft.ptree.PTNode],
      prefixLen: Int = 2,
      numPartitions: Int = 0
  )(onUpdate: Dataset[graft.ptree.PTNode] => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val next = graft.ptree.PrefixTree
        .merge(prev, batch, col, prefixLen, numPartitions)
        .localCheckpoint() // eager: never reads prev once prev is released
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming maintenance of a PERSISTED prefix-tree index - the
    * reference's full INDEX lifecycle (BUILDINDEX on Thor, serve on
    * Roxie - /root/reference/PrefixTree.ecl:592-660) made incremental:
    * batched vocabulary deltas fold into the on-disk index via
    * [[graft.ptree.PrefixTree.merge]] (per-batch rebuild input =
    * vocabulary-sized weighted end-caps + the batch, never the raw
    * corpus the index has accumulated), each fold lands as a fresh
    * `writeIndexed` image (compute_node-organized + `_graft_stats`
    * sidecar), and `onUpdate` hands out the index READ BACK from disk -
    * so serving between batches runs zero sizing jobs and survives this
    * process dying (the next process resumes from `basePath`).
    *
    * Ping/pong versioning: writes alternate `basePath/ping` |
    * `basePath/pong`, so the image handed out by the PREVIOUS onUpdate
    * is never touched by the CURRENT batch's write - readers get a full
    * batch interval to drain before their files are overwritten (the
    * disk form of the one-batch grace `maintain` gives checkpoints; here
    * the state is the current image's name and nothing is retired).
    *
    * Cold start: seed `basePath/ping` with
    * `PrefixTree.writeIndexed(PrefixTree.create(...), basePath + "/ping")`
    * (an empty-corpus build works) before starting the stream.
    */
  def trieIndexMaintenance(
      stream: DataFrame,
      col: String,
      basePath: String,
      prefixLen: Int = 2,
      buckets: Int = 32
  )(onUpdate: Dataset[graft.ptree.PTNode] => Unit): StreamingQuery = {
    val spark = stream.sparkSession
    maintain(stream, "ping") { (cur, batch) =>
      val served = graft.ptree.PrefixTree.read(spark, s"$basePath/$cur")
      val next = if (cur == "ping") "pong" else "ping"
      graft.ptree.PrefixTree.writeIndexed(
        graft.ptree.PrefixTree.merge(served, batch, col, prefixLen),
        s"$basePath/$next", buckets)
      onUpdate(graft.ptree.PrefixTree.read(spark, s"$basePath/$next"))
      (next, Nil)
    }
  }

  /** Streaming BM25 index maintenance: fold a stream of documents into
    * a served [[graft.ops.SearchOps.Bm25Index]], the retrieval-side
    * parallel of [[trieMaintenance]]. Per non-empty batch, the batch's
    * term frequencies merge ADDITIVELY into all four statistics tables
    * (tf on (did, term); dl on did; df on term; the one-row stats) - so
    * a re-appearing doc id behaves exactly as if its text had been
    * concatenated onto the original document, and appends are plain
    * disjoint unions. `onUpdate` hands out the new index; serve it with
    * [[graft.ops.SearchOps.bm25Query]] (plan-construction only - the
    * corpus is never rescanned).
    *
    * Scale shape: per batch, ONE batch-sized tokenize + aggregation;
    * the tf merge splits on the delta's keys (broadcast anti/semi
    * joins), so only touched rows re-aggregate and the accumulated
    * state never re-shuffles - its per-batch cost is the sequential
    * localCheckpoint rewrite plus map-side scans for the three derived
    * aggregates (vocabulary-/doc-sized outputs).
    */
  def bm25Maintenance(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      initial: graft.ops.SearchOps.Bm25Index
  )(onUpdate: graft.ops.SearchOps.Bm25Index => Unit): StreamingQuery = {
    import graft.ops.SearchOps.Bm25Index
    val pinned = Bm25Index(initial.tf.localCheckpoint(), initial.dl.localCheckpoint(),
      initial.dfT.localCheckpoint(), initial.stats.localCheckpoint())
    maintain(stream, pinned) { (prev, batch) =>
      val delta = graft.ops.SearchOps.bm25Build(batch, idCol, textCol)
      // tf is the ground truth; dl/df/stats derive from the MERGED
      // tf (an additive df merge would count a re-appearing doc
      // twice for terms it already contained). The merge splits on
      // the delta's keys so only TOUCHED rows re-aggregate: the
      // untouched bulk of the state streams through a map-side
      // broadcast anti join, never a state-wide shuffle. Checkpoint
      // before deriving so the three aggregates read the
      // materialized table; the result equals bm25Build over the
      // union-of-all-batches corpus exactly.
      val dtf = delta.tf.localCheckpoint() // batch-sized; read 3x below
      val dKeys = dtf.select("did", "term")
      val mergedTf = prev.tf
        .join(broadcast(dKeys), Seq("did", "term"), "left_anti")
        .select("did", "term", "tf")
        .union(
          prev.tf.join(broadcast(dKeys), Seq("did", "term"), "left_semi")
            .select("did", "term", "tf")
            .union(dtf.select("did", "term", "tf"))
            .groupBy("did", "term").agg(sum("tf").as("tf")))
        .localCheckpoint()
      val derived = graft.ops.SearchOps.statsFromTf(mergedTf)
      val next = Bm25Index(mergedTf, derived.dl.localCheckpoint(),
        derived.dfT.localCheckpoint(), derived.stats.localCheckpoint())
      OpsUtil.unpersistCheckpoint(dtf) // scratch: fully folded into mergedTf
      onUpdate(next)
      (next, Seq(prev.tf, prev.dl, prev.dfT, prev.stats))
    }
  }

  /** Streaming trigram-index maintenance: fold a stream of documents
    * into the inverted posting table served to
    * [[graft.ops.SearchOps.substringSearch]]. Postings are DISTINCT
    * (gram, id) pairs, so the merge is a union + distinct: appends add
    * their postings, and a re-appearing doc id contributes the UNION of
    * its texts' gram sets (not the grams spanning a concatenation
    * boundary - posting tables are sets over fragments, and the distinct
    * also protects substringSearch's hit-count intersection, which
    * requires one posting per (gram, id)).
    */
  def trigramMaintenance(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      initial: DataFrame // (gram, id) as produced by SearchOps.trigramIndex
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      // delta dedup is batch-sized; the state-vs-delta dedup is a
      // broadcast anti join on the posting pair, so the accumulated
      // state STREAMS map-side every batch instead of re-shuffling
      // for a batch-sized delta (result is exactly prev UNION delta)
      val delta = graft.ops.SearchOps.trigramIndex(batch, idCol, textCol).distinct()
      val next = prev
        .join(broadcast(delta), Seq("gram", "id"), "left_anti")
        .select("id", "gram") // pin position-based union alignment
        .union(delta.select("id", "gram"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming IVF maintenance: fold a stream of (id, vector) rows into
    * the served inverted lists - continuous embedding ingestion. The
    * centroid quantizer is FROZEN at the initial index (trained offline
    * by [[graft.ops.SimilarityOps.ivfBuild]]; re-clustering is a rebuild,
    * not maintenance - the standard IVF serving contract), so each
    * batch's assignment is the same pure per-row expression the batch
    * build uses. Re-appearing ids are UPSERTS: the new vector replaces
    * the old (prior rows for the batch's ids are anti-joined out, then
    * the batch is appended - a vector is one entity's current embedding,
    * not an accumulating count), so redelivery cannot double-insert.
    * Duplicate ids WITHIN one batch resolve deterministically to the
    * greatest vector in array order before assignment - micro-batches
    * carry no row order, so "latest in batch" does not exist; callers
    * that need true latest-wins order their stream upstream (e.g.
    * dropDuplicatesWithinWatermark on a version column). The maintained
    * lists therefore equal [[graft.ops.SimilarityOps.ivfAssign]] over
    * the latest version of every id exactly, and
    * [[graft.ops.SimilarityOps.ivfQuery]] serves top-k off the snapshot
    * with no corpus access.
    *
    * Scale shape: per batch, one scan-speed nearest-centroid projection
    * (codegen kernel) over batch rows only; the upsert moves batch-id
    * keys via a BROADCAST anti-join against the (corpus-sized but
    * narrow) posting frame - the corpus is never re-assigned, never
    * shuffled.
    */
  def ivfMaintenance(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      initial: graft.ops.SimilarityOps.IvfIndex
  )(onUpdate: graft.ops.SimilarityOps.IvfIndex => Unit): StreamingQuery =
    maintain(stream, initial.copy(lists = initial.lists.localCheckpoint())) { (prev, batch) =>
      val deduped = batch.groupBy(F.col(idCol)).agg(max(F.col(vecCol)).as(vecCol))
      // assigned once: the anti join's keys and the union read the checkpoint
      val delta = graft.ops.SimilarityOps
        .ivfAssign(deduped, idCol, vecCol, prev.centroids)
        .localCheckpoint()
      val next = prev.copy(lists = prev.lists
        .join(broadcast(delta.select("neighbor_id")), Seq("neighbor_id"), "left_anti")
        .unionByName(delta)
        .localCheckpoint())
      OpsUtil.unpersistCheckpoint(delta)
      onUpdate(next)
      (next, Seq(prev.lists))
    }

  /** Streaming PQ maintenance: fold a stream of (id, vector) rows into
    * the served codes table. Codebooks are FROZEN at the initial index
    * (the persisted-PQ contract: codebooks define an index version;
    * re-seeding is a rebuild, not maintenance), so each batch's
    * encoding is the same per-row pure function the batch build uses
    * (SimilarityOps.pqEncodeRows) and the maintained codes are
    * bit-identical to encoding the merged corpus once. Re-appearing
    * ids are upserts; duplicate ids WITHIN a batch resolve
    * deterministically to the array-order max (same stance as
    * [[ivfMaintenance]]). Batch-sized broadcast anti join: the
    * accumulated codes table streams map-side per batch.
    */
  def pqMaintenance(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      initial: graft.ops.SimilarityOps.PqIndex
  )(onUpdate: graft.ops.SimilarityOps.PqIndex => Unit): StreamingQuery =
    maintain(stream, initial.copy(codes = initial.codes.localCheckpoint())) { (prev, batch) =>
      val one = batch.groupBy(idCol).agg(max(F.col(vecCol)).as(vecCol))
      val delta = graft.ops.SimilarityOps
        .pqEncodeRows(one, idCol, vecCol, prev.codebooks, prev.halfs)
      val next = prev.copy(codes = prev.codes
        .join(broadcast(delta.select("neighbor_id")), Seq("neighbor_id"), "left_anti")
        .union(delta)
        .localCheckpoint())
      onUpdate(next)
      (next, Seq(prev.codes))
    }

  /** Streaming Bloom-filter maintenance: fold a stream of eval-set
    * documents into the served decontamination filter - the simplest
    * lifecycle: Bloom filters are mergeable sketches, so each batch
    * builds its own bitset (one bounded aggregate job, mBits/8 bytes)
    * and OR-merges into the state DRIVER-side - `merge(build(A),
    * build(B)) == build(A union B)` bit-for-bit, so the maintained
    * filter is byte-identical to one build over all batches
    * (StreamOpsSpec parity). Nothing is checkpointed or retired: the
    * state is a plain byte array with no lineage, and a corpus probe
    * holds its own immutable copy of the bits (plan reference object),
    * so superseding the filter never invalidates an in-flight scan.
    */
  def bloomMaintenance(
      stream: DataFrame,
      textCol: String,
      initial: graft.ops.TextOps.BloomFilter
  )(onUpdate: graft.ops.TextOps.BloomFilter => Unit): StreamingQuery =
    maintain(stream, initial) { (prev, batch) =>
      val next = prev.merge(graft.ops.TextOps.bloomBuild(
        batch, textCol, prev.shingleLen, prev.mBits, prev.kHashes))
      onUpdate(next)
      (next, Nil)
    }

  /** Streaming maintenance of a persisted MinHash-LSH dedup index
    * ([[graft.ops.DedupOps.LshIndex]]): fold a document stream into the
    * signature and band tables served to
    * [[graft.ops.DedupOps.lshProbe]], so every new crawl batch can be
    * deduped against everything that ever streamed in. Re-appearing ids
    * UPSERT (their signature and all band memberships are replaced) -
    * the maintained index equals a one-shot
    * [[graft.ops.DedupOps.lshBuild]] over the last-write-wins union of
    * all batches (StreamOpsSpec parity).
    *
    * Scale shape: per batch, one batch-sized signature pass; both
    * merges split on the (broadcast) batch ids, so the untouched bulk
    * of the state streams through map-side anti joins.
    */
  def lshMaintenance(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      initial: graft.ops.DedupOps.LshIndex
  )(onUpdate: graft.ops.DedupOps.LshIndex => Unit): StreamingQuery = {
    val pinned = initial.copy(
      sigs = initial.sigs.localCheckpoint(), banded = initial.banded.localCheckpoint())
    maintain(stream, pinned) { (prev, batch) =>
      // one row per id WITHIN the batch too (an id repeated in a
      // single micro-batch would otherwise survive twice, breaking
      // the one-signature-per-id invariant); max(text) is the
      // deterministic pick - micro-batch rows carry no order
      val deduped = batch.groupBy(F.col(idCol)).agg(max(F.col(textCol)).as(textCol))
      // sign the batch ONCE (checkpoint), then band the checkpointed
      // signatures - the kernel never runs twice per batch
      val dSigs = graft.ops.DedupOps.minhashSignatures(deduped, idCol, textCol,
        prev.numHashes, prev.shingleLen, prev.seed).localCheckpoint()
      val dBanded = graft.ops.DedupOps.bandSignatures(dSigs, prev.numHashes, prev.bands)
      val dIds = dSigs.select("id")
      val next = prev.copy(
        sigs = prev.sigs.join(broadcast(dIds), Seq("id"), "left_anti")
          .union(dSigs).localCheckpoint(),
        banded = prev.banded.join(broadcast(dIds), Seq("id"), "left_anti")
          .union(dBanded).localCheckpoint())
      OpsUtil.unpersistCheckpoint(dSigs)
      onUpdate(next)
      (next, Seq(prev.sigs, prev.banded))
    }
  }

  /** Streaming maintenance of a [[graft.ops.SketchOps.fixedHistogram]]
    * quantile sketch: fold a value stream into the served counter table.
    * The cells merge by PLAIN ADDITION (the bin edges were fixed before
    * any counting), so the maintained table equals one `fixedHistogram`
    * over the union of all batches exactly, and
    * [[graft.ops.SketchOps.histogramQuantiles]] serves percentiles off
    * the latest snapshot with no corpus access at all.
    *
    * Scale shape: per batch, one batch-sized aggregation to delta
    * cells; the merge re-aggregates state + delta, which is bounded by
    * groups x (bins + 2) CELLS - sketch-sized, not corpus-sized - so
    * unlike the tf/posting merges there is nothing to anti-join-split:
    * the whole state is smaller than one shuffle block.
    */
  def histogramMaintenance(
      stream: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      lo: Double,
      hi: Double,
      bins: Int,
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.SketchOps.fixedHistogram(batch, valueCol, groupCols, lo, hi, bins)
      // unionByName, not positional union: `initial` is caller-supplied,
      // and a frame with the right columns in a different order must
      // merge by name, not silently misalign the maintained cells (the
      // same rule holds for every sketch lifecycle below)
      val next = prev.unionByName(delta)
        .groupBy(groupCols.map(F.col) :+ F.col("bin"): _*)
        .agg(sum("c").as("c"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming maintenance of a [[graft.ops.SketchOps.sampleState]]
    * rank sketch: fold a row stream into the per-group md5 bottom-k
    * sample served to [[graft.ops.SketchOps.sampleQuantiles]] (via
    * `sampleStateToSketch`), so an unknown-range, unbounded-domain column
    * has live quantiles with NO range fixed up front (the histogram
    * lifecycle's one requirement) and NO corpus retention.
    *
    * Min-k-by-hash is associative, so the maintained state equals one
    * `sampleState` over the union of all batches exactly
    * (StreamOpsSpec parity) - including re-seen ids, which fold to
    * their minimum value on both paths.
    *
    * Scale shape: per batch, one batch-sized aggregation to delta
    * entries; the merge re-ranks state + delta, bounded by
    * groups x k + batch rows - sketch-sized.
    */
  def sampleMaintenance(
      stream: DataFrame,
      idCol: String,
      valueCol: String,
      groupCols: Seq[String],
      k: Int,
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery = {
    val g = groupCols.map(F.col)
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.SketchOps.sampleState(batch, idCol, valueCol, groupCols, k)
      val next = prev.unionByName(delta)
        .groupBy(g :+ F.col("h"): _*)
        .agg(min("v").as("v"))
        .withColumn("rk", row_number().over(Window.partitionBy(g: _*).orderBy("h")))
        .filter(F.col("rk") <= k)
        .drop("rk")
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }
  }

  /** Streaming maintenance of a [[graft.ops.SketchOps.countMinSketch]]
    * frequency table: CMS cells merge by plain addition (fixed hash
    * rows/buckets, like the histogram's fixed edges), so the maintained
    * table equals one sketch over the union of all batches exactly and
    * [[graft.ops.SketchOps.countMinEstimate]] serves point queries off
    * the latest snapshot. State bounded by depth x width cells.
    */
  def cmsMaintenance(
      stream: DataFrame,
      itemCol: String,
      depth: Int,
      width: Int,
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.SketchOps.countMinSketch(batch, itemCol, depth, width)
      val next = prev.unionByName(delta)
        .groupBy("row", "bucket")
        .agg(sum("c").as("c"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming maintenance of a [[graft.ops.SketchOps.hllRegisters]]
    * file: registers merge by MAX (associative AND idempotent, so
    * re-delivered rows cannot inflate the count - the property that
    * makes HLL the distinct-counter for at-least-once streams), and
    * [[graft.ops.SketchOps.hllEstimate]] serves the estimate off the
    * latest file. State bounded by groups x m registers.
    */
  def hllMaintenance(
      stream: DataFrame,
      keyCol: String,
      groupCols: Seq[String],
      m: Int,
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.SketchOps.hllRegisters(batch, keyCol, groupCols, m)
      val next = prev.unionByName(delta)
        .groupBy(groupCols.map(F.col) :+ F.col("reg"): _*)
        .agg(max("mj").as("mj"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming maintenance of a [[graft.ops.SketchOps.hdrSketch]]
    * quantile table: log-bucket cells merge by plain ADDITION (like the
    * CMS counters - fixed bucket identity, no compaction randomness), so
    * the maintained table equals one sketch over the union of all
    * batches exactly and [[graft.ops.SketchOps.hdrQuantiles]] serves
    * tail quantiles off the latest snapshot. State bounded by
    * groups x (octaves x 32) cells.
    */
  def hdrMaintenance(
      stream: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.SketchOps.hdrSketch(batch, valueCol, groupCols)
      val next = prev.unionByName(delta)
        .groupBy(groupCols.map(F.col) ++ Seq(F.col("sgn"), F.col("code")): _*)
        .agg(sum("c").as("c"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming maintenance of a [[graft.ops.WebOps.hostProfile]] crawl
    * profile - the one a live crawler actually needs (domain caps and
    * blocklists are enforced WHILE pages arrive, not after): host-level
    * partials (page count, text volume per (domain, host)) merge by
    * plain addition, so the maintained table equals the one-shot profile
    * of the union of all batches exactly; the distinct-host fan-out -
    * NOT mergeable as per-batch distinct counts - is recovered at serve
    * time by [[graft.ops.WebOps.domainStatsFromProfile]] counting host
    * rows. State bounded by the crawl frontier (distinct (domain, host)
    * pairs), never the page count.
    */
  def domainMaintenance(
      stream: DataFrame,
      urlCol: String,
      sizeCol: String,
      initial: DataFrame
  )(onUpdate: DataFrame => Unit): StreamingQuery =
    maintain(stream, initial.localCheckpoint()) { (prev, batch) =>
      val delta = graft.ops.WebOps.hostProfile(batch, urlCol, sizeCol)
      val next = prev.unionByName(delta)
        .groupBy(F.col("domain"), F.col("host"))
        .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
        .localCheckpoint()
      onUpdate(next)
      (next, Seq(prev))
    }

  /** Streaming crawl-frontier maintenance, closing the web tier's loop:
    * each micro-batch of DISCOVERED pages has its hrefs resolved against
    * the page URL ([[graft.ops.WebOps.resolveLinks]] - relative links
    * included), canonicalized to fetch keys
    * ([[graft.ops.WebOps.canonicalizeUrl]]), and anti-joined against
    * the maintained SEEN set; only never-seen canonical keys surface
    * as the batch's frontier, and the seen set advances by exactly
    * those keys - so every fetch key is emitted ONCE across the whole
    * stream, no matter how many pages link it or how differently they
    * spell it.
    *
    * State is the canonical-URL vocabulary (one string column), never
    * page text; the per-batch work is the resolve/canonicalize
    * projection (scan-shaped) plus one key-equality anti-join against
    * the state.
    *
    * `onBatch(fresh, seen)` gets the batch's new frontier and the
    * advanced seen set. `fresh` is scratch released when the next batch
    * lands (`maintain`'s contract): consume or copy it out before
    * returning.
    */
  def frontierMaintenance(
      stream: DataFrame,
      urlCol: String,
      htmlCol: String,
      initialSeen: DataFrame
  )(onBatch: (DataFrame, DataFrame) => Unit): StreamingQuery =
    maintain(stream, initialSeen.select(F.col("canonical")).localCheckpoint()) { (prev, batch) =>
      val cand = graft.ops.WebOps
        .resolveLinks(batch, urlCol, htmlCol)
        .select(graft.ops.WebOps.canonicalizeUrl(F.col("resolved")).as("canonical"))
        .filter(F.col("canonical").isNotNull)
        .distinct()
      val fresh = cand.join(prev, Seq("canonical"), "left_anti").localCheckpoint()
      val seen = prev.unionByName(fresh).localCheckpoint()
      onBatch(fresh, seen)
      (seen, Seq(prev, fresh))
    }

  /** Streaming cross-document LINE dedup - C4's boilerplate-line cut
    * kept live over a document stream: each micro-batch's lines compete
    * against the maintained SEEN-line vocabulary (already-claimed lines
    * lose outright) and against each other (batch-local first
    * occurrence - smallest (id, line_no) - wins), short lines never
    * dedup, and the seen set advances by exactly the batch's
    * newly-claimed winners. Arrival order IS precedence: streamed over
    * id-ordered batches, the concatenated cleaned output equals ONE
    * batch [[graft.ops.TextOps.dedupLines]] over the union (the parity
    * the spec pins).
    *
    * State is the line vocabulary of lines >= minLen chars (never the
    * documents); per-batch work is one line-keyed min aggregate + two
    * key-equality joins. `onBatch(cleaned, seen)`: `cleaned` is scratch
    * released when the next batch lands (`maintain`'s contract) -
    * consume or copy it out before returning.
    */
  def lineDedupMaintenance(
      stream: DataFrame,
      idCol: String,
      textCol: String,
      initialSeen: DataFrame,
      minLen: Int = 10
  )(onBatch: (DataFrame, DataFrame) => Unit): StreamingQuery =
    maintain(stream, initialSeen.select(F.col("line")).localCheckpoint()) { (prev, batch) =>
      val (cleaned0, fresh) = graft.ops.TextOps.dedupLinesAgainst(
        batch, idCol, textCol, minLen, Some(prev))
      val cleaned = cleaned0.localCheckpoint()
      val seen = prev.unionByName(fresh).localCheckpoint()
      onBatch(cleaned, seen)
      (seen, Seq(prev, cleaned))
    }

  /** Streaming CDX-index maintenance: the latest-capture-per-SURT view
    * ([[graft.sources.Cdx.latestCaptures]]) kept live as new crawl
    * captures stream in, so fetch-list / recrawl decisions
    * ([[graft.ops.WebOps.fetchList]] / `recrawlSchedule`) always join
    * against the current state of the web without re-scanning the
    * capture history. Each micro-batch folds to its own per-surt
    * latest, unions with the maintained index, and re-folds - the
    * max-struct aggregate is associative, so streamed batches in any
    * arrival order equal ONE batch latestCaptures over the union (the
    * parity the spec pins). State is one row per surt (frontier-sized,
    * never capture-history-sized).
    */
  def cdxMaintenance(
      stream: DataFrame,
      initialIndex: DataFrame
  )(onBatch: DataFrame => Unit): StreamingQuery =
    maintain(stream, graft.sources.Cdx.latestCaptures(initialIndex).localCheckpoint()) {
      (prev, batch) =>
        val index = graft.sources.Cdx.latestCaptures(prev.unionByName(batch)).localCheckpoint()
        onBatch(index)
        (index, Seq(prev))
    }

  /** Streaming language-mix drift monitoring, closing the multilingual
    * loop: as document micro-batches stream in, the TRAINED classifier
    * ([[graft.ops.TextOps.langBin]], one codegen kernel call per row)
    * folds each batch to its 42-cell language histogram, the running
    * histogram accumulates, and every batch emits the PSI of the
    * accumulated mix against a FROZEN reference histogram
    * ([[graft.ops.StatOps.psiFromHistograms]]) - "has the language
    * distribution of what we're ingesting drifted from the corpus we
    * trained the mixture weights on". Count sums are associative, so
    * batches in any arrival order equal ONE batch over the union (the
    * parity the spec pins). State is the <= 43-row cell frame, never
    * document-sized. `onBatch(psi, counts)`: `psi` is scratch released
    * when the next batch lands (`maintain`'s contract) - consume or copy
    * it out before returning.
    */
  def langMixMaintenance(
      stream: DataFrame,
      textCol: String,
      referenceHist: DataFrame
  )(onBatch: (DataFrame, DataFrame) => Unit): StreamingQuery = {
    val nLangs = graft.ops.TextOps.langProfiles._1.size
    val frozen = referenceHist.select(F.col("bin"), F.col("c")).localCheckpoint()
    val empty = frozen.sparkSession
      .createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(StructField("bin", IntegerType, nullable = false),
          StructField("c", LongType, nullable = false))))
      .localCheckpoint()
    maintain(stream, empty) { (prev, batch) =>
      val counts = prev
        .unionByName(batch
          .select(graft.ops.TextOps.langBin(F.col(textCol)).as("bin"))
          .groupBy("bin").agg(count(lit(1)).as("c")))
        .groupBy("bin").agg(sum(F.col("c")).as("c"))
        .localCheckpoint()
      val psi = graft.ops.StatOps.psiFromHistograms(frozen, counts, bins = nLangs).localCheckpoint()
      onBatch(psi, counts)
      (counts, Seq(prev, psi))
    }
  }

  /** Stream-stream interval join: pair each right-stream event with the
    * left-stream events of the same key whose timestamp falls in
    * [r.ts - windowMinutes, r.ts] - e.g. purchases joined to the clicks
    * that preceded them. BOTH sides are unbounded streams (the
    * stream-static pattern of [[streamFuzzyMatch]] cannot express this).
    *
    * State stays bounded because both sides carry a watermark AND the
    * join condition bounds the event-time distance: Spark derives from
    * them how long a buffered row can still find a partner and evicts
    * it after (the required state-cleanup condition for stream-stream
    * inner joins). Without the time bound the buffers would grow with
    * the stream.
    *
    * Output columns: key, l_ts, r_ts, l_<valueCol>, r_<valueCol>.
    */
  def streamIntervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      windowMinutes: Int,
      lateness: String,
      joinType: String = "inner"
  ): DataFrame = {
    // keys keep their native type (string session ids, long user ids,
    // ...): a silent cast to long would throw under ANSI mode or
    // null-out / collide keys without it
    val l = left
      .select(F.col(keyCol).as("key"),
        F.col(tsCol).cast(TimestampType).as("l_ts"),
        F.col(valueCol).as(s"l_$valueCol"))
      .withWatermark("l_ts", lateness)
    val r = right
      .select(F.col(keyCol).as("r_key"),
        F.col(tsCol).cast(TimestampType).as("r_ts"),
        F.col(valueCol).as(s"r_$valueCol"))
      .withWatermark("r_ts", lateness)
    // left_outer: an unmatched left row is emitted with NULL right
    // columns only once the watermark proves no partner can still
    // arrive - same eviction bound as the inner case
    l.join(
        r,
        F.col("key") === F.col("r_key") &&
          F.col("l_ts") <= F.col("r_ts") &&
          F.col("l_ts") >= F.col("r_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        joinType)
      .select(F.col("key"), F.col("l_ts"), F.col("r_ts"),
        F.col(s"l_$valueCol"), F.col(s"r_$valueCol"))
  }

  /** Streaming fuzzy-match: a stream of query strings against a static
    * broadcast trie (stream-static pattern). `trieIndex` is the collected
    * children map from `graft.ptree.Query.childrenIndex` (any other
    * children Map is compiled to a `TrieIndex` once, here). Null query
    * strings match nothing, as in both batch modes.
    */
  def streamFuzzyMatch(
      queryStream: DataFrame,
      queryCol: String,
      trieIndex: Map[Long, Array[graft.ptree.PTNode]],
      maxDist: Int
  ): DataFrame = {
    graft.ptree.Query.searchBroadcast(graft.ptree.Query.queryStrings(queryStream, queryCol),
        graft.ptree.TrieIndex.of(trieIndex), maxDist)
      .drop("n_occurrences")
  }

  /** Streaming recent-history buffer for EWMA scoring: per key, hold the
    * `maxHistory` most recent (ts, tie, value) rows in `GroupState` and
    * re-emit the key's current ranked buffer every micro-batch (Update
    * mode) - hard O(keys * maxHistory) state at any stream length. The
    * score itself is NOT computed here: callers feed the emitted buffer
    * through TimeOps.ewmaAggregate, so batch and streaming run the
    * IDENTICAL decimal-exact weighted sum (and the batch oracle covers
    * both paths).
    *
    * Runs unchanged on a batch Dataset (state starts empty, one batch),
    * where the emitted buffer is exactly ewmaScore's ranked frame.
    *
    * Output: (key, ts_us, tie, value, _rn 1 = most recent, ver) - `ver`
    * counts the key's state updates; a multi-batch consumer keeps each
    * key's max-ver emission (the latest snapshot).
    */
  def ewmaBufferStream(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      valueCol: String,
      maxHistory: Int
  ): DataFrame = {
    require(maxHistory >= 1, s"maxHistory must be positive, got $maxHistory")
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(F.col(keyCol).cast(LongType),
        unix_micros(F.col(tsCol).cast(TimestampType)).as("ts_us"),
        F.col(tieCol).cast(LongType), F.col(valueCol).cast(DoubleType))
      .filter(F.col(valueCol).isNotNull)
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, List[(Long, Long, Double)]), (Long, Long, Long, Double, Int, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (key, rows, state: GroupState[(Long, List[(Long, Long, Double)])]) =>
          val (ver, buf) = state.getOption.getOrElse((0L, Nil))
          val merged = (buf ++ rows.map(r => (r._2, r._3, r._4)))
            .sortBy { case (ts, tie, _) => (-ts, -tie) }
            .take(maxHistory)
          state.update((ver + 1, merged))
          merged.zipWithIndex.iterator.map { case ((ts, tie, v), j) =>
            (key, ts, tie, v, j + 1, ver + 1)
          }
      }
      .toDF(keyCol, "ts_us", tieCol, valueCol, "_rn", "ver")
  }
}
