package graft.registry

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{JoinOps, SketchOps, StatOps, TextOps, TimeOps}
import graft.streaming.StreamOps
import Fixtures._

/** Event streams: the batch halves of the streaming operators (windows,
  * sessions, sketches, quantiles, drift, resampling, EWMA).
  */
object EventQueries extends Family {

  query("events_asof") { (s, dir) =>
    // as-of join: for each purchase, the user's latest click at-or-
    // before it (JoinOps.asofJoin: union + running window, one shuffle)
    val ev = events(s, dir)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    // dedup right side on (key, ts): asofJoin documents the winner
    // among co-timestamped right rows as unspecified (as does DuckDB
    // ASOF), so pin it to max(event_id) on both sides of the oracle
    val c = ev.filter(col("event_type") === "click")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("event_id")).as("event_id"))
      .select(col("event_id"), col("user_id"), col("ts"))
    JoinOps.asofJoin(p, c, "user_id", "ts", "ts")
      .select(
        col("event_id").as("purchase_id"),
        col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
        col("r_event_id").as("click_id"),
        (unix_millis(col("ts")) - unix_millis(col("r_ts"))).as("gap_ms")
      )
  }(
    """WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
      |     c AS (SELECT max(event_id) AS event_id, user_id, ts FROM events
      |           WHERE event_type = 'click' GROUP BY user_id, ts)
      |SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
      |       c.event_id AS click_id,
      |       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      |FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)
  query("events_window") { (s, dir) =>
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value")
      )
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value")
      )
  }(
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type, COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin)
  query("events_sessionize") { (s, dir) =>
    StreamOps.sessionize(events(s, dir), gapMinutes = 30)
  }(
    """WITH x AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
      |  FROM events
      |), y AS (
      |  SELECT user_id, ms,
      |         SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM x
      |)
      |SELECT user_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
      |       COUNT(*) AS n_events
      |FROM y GROUP BY user_id, sess""".stripMargin)
  query("events_sliding") { (s, dir) =>
    // sliding-window aggregation: 1h windows every 15min (each event
    // lands in 4 windows - the overlap is the point: smooth rates)
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }(
    """WITH x AS (
      |  SELECT event_type, value,
      |         make_timestamp((epoch_us(ts) // 900000000 - k) * 900000000) AS ws
      |  FROM events, unnest(generate_series(0, 3)) t(k)
      |)
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
      |       count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |FROM x GROUP BY 1, 2""".stripMargin)
  query("events_funnel") { (s, dir) =>
    // ordered conversion funnel view -> click -> purchase (strictly
    // increasing timestamps; chain stops at the first missing stage)
    TimeOps.funnel(events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))
      .select(
        col("user_id"),
        date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("t_view"),
        date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("t_click"),
        date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss").as("t_purchase"))
  }(
    """WITH v AS (
      |  SELECT user_id, min(ts) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1
      |), c AS (
      |  SELECT e.user_id, min(e.ts) AS tc FROM events e JOIN v USING (user_id)
      |  WHERE e.event_type = 'click' AND e.ts > v.tv GROUP BY 1
      |), p AS (
      |  SELECT e.user_id, min(e.ts) AS tp FROM events e JOIN c USING (user_id)
      |  WHERE e.event_type = 'purchase' AND e.ts > c.tc GROUP BY 1
      |)
      |SELECT v.user_id,
      |       strftime(v.tv, '%Y-%m-%d %H:%M:%S') AS t_view,
      |       strftime(c.tc, '%Y-%m-%d %H:%M:%S') AS t_click,
      |       strftime(p.tp, '%Y-%m-%d %H:%M:%S') AS t_purchase
      |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin)
  query("events_cohort") { (s, dir) =>
    // retention cohorts: users bucketed by first-seen day, distinct
    // active users per (cohort day, day offset)
    TimeOps.cohortRetention(events(s, dir), "user_id", "ts")
      .select(
        date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort_day"),
        col("day_offset"), col("n_users"))
  }(
    """WITH f AS (
      |  SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day FROM events GROUP BY 1
      |)
      |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
      |       CAST(date_diff('day', cohort_day, CAST(ts AS DATE)) AS INT) AS day_offset,
      |       count(DISTINCT user_id) AS n_users
      |FROM events e JOIN f USING (user_id)
      |GROUP BY 1, 2""".stripMargin)
  query("stream_heavyhitters") { (s, dir) =>
    // cross-batch sharded SpaceSaving (mapGroupsWithState) run on its
    // batch path; capacity 64 >= any shard's vocabulary here, so the
    // summaries are lossless and the oracle is plain exact counts
    // with the same md5 shard assignment
    val toks = TextOps.tokenize(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("token"))
    StreamOps.streamingHeavyHitters(toks, "token", capacityPerShard = 64, nShards = 4)
      .select(col("shard"), explode(col("entries")).as("e"),
        col("shard_processed"), col("lossless"))
      .select(col("shard"), col("e._1").as("token"), col("e._2").as("est"),
        col("shard_processed"), col("lossless"))
  }(
    // lossless capacity -> SpaceSaving estimates ARE exact counts;
    // shard = md5-prefix of the token, replayed bit-identically
    """WITH tk AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                            t -> t <> '')) AS token
      |  FROM documents WHERE text IS NOT NULL
      |), cnt AS (
      |  SELECT CAST(('0x' || substr(md5(token), 1, 8))::BIGINT % 4 AS INT) AS shard,
      |         token, count(*) AS est
      |  FROM tk GROUP BY 1, 2
      |), sp AS (
      |  SELECT shard, CAST(sum(est) AS BIGINT) AS shard_processed
      |  FROM cnt GROUP BY 1
      |)
      |SELECT c.shard, c.token, c.est, s.shard_processed, TRUE AS lossless
      |FROM cnt c JOIN sp s USING (shard)""".stripMargin)
  query("stream_topk") { (s, dir) =>
    // global exact top-25 from the union of the shard summaries
    // (shards partition the token space, so re-sorting the union is
    // exact; capacity 64 is lossless here - see stream_heavyhitters)
    val toks = TextOps.tokenize(tbl(s, dir, "documents"), "doc_id", "text")
      .select(col("token"))
    StreamOps.heavyHittersTopK(
      StreamOps.streamingHeavyHitters(toks, "token", capacityPerShard = 64, nShards = 4),
      k = 25)
  }(
    // lossless summaries + token-disjoint shards -> the global top-25
    // is the plain exact top-25 (total order: est desc, token asc)
    """WITH tk AS (
      |  SELECT unnest(list_filter(string_split_regex(lower(trim(text)), '\s+'),
      |                            t -> t <> '')) AS token
      |  FROM documents WHERE text IS NOT NULL
      |), cnt AS (SELECT token, count(*) AS est FROM tk GROUP BY 1)
      |SELECT token, est FROM cnt ORDER BY est DESC, token ASC LIMIT 25""".stripMargin)
  query("events_hll") { (s, dir) =>
    // weekly active-user cardinalities per event type: the relational
    // HLL register file (64 max-of-rho cells per group) beside the
    // exact distinct - the full sketch pipeline is replayed by the
    // oracle, integer-exact up to the final estimate arithmetic
    val ev = events(s, dir)
      .filter(col("user_id").isNotNull && col("event_type").isNotNull)
      .withColumn("wk", date_format(date_trunc("week", col("ts")), "yyyy-MM-dd"))
    val est = SketchOps.hllDistinct(ev, "user_id", Seq("event_type", "wk"))
    val exact = ev.groupBy("event_type", "wk")
      .agg(countDistinct("user_id").as("n_exact"))
    est.join(exact, Seq("event_type", "wk"))
  }(
    // full HLL replay: 60-bit md5 hash, low-6-bit register, rho via
    // bit_count((rest & -rest) - 1), integer harmonic sum 1 << (R-Mj),
    // linear-counting branch with the SAME literals (2904.064, 160.0)
    """WITH ev AS (
      |  SELECT event_type, strftime(date_trunc('week', ts), '%Y-%m-%d') AS wk, user_id
      |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
      |), h AS (
      |  SELECT DISTINCT event_type, wk,
      |         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h
      |  FROM ev
      |), rr AS (
      |  SELECT event_type, wk, h % 64 AS reg,
      |         CASE WHEN h // 64 = 0 THEN 55
      |              ELSE bit_count(((h // 64) & -(h // 64)) - 1) + 1 END AS rho
      |  FROM h
      |), mj AS (SELECT event_type, wk, reg, max(rho) AS mj FROM rr GROUP BY 1, 2, 3),
      |regs AS (
      |  SELECT e.event_type, e.wk, gs.j, coalesce(m.mj, 0) AS mj
      |  FROM (SELECT DISTINCT event_type, wk FROM h) e
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) gs
      |  LEFT JOIN mj m ON m.event_type = e.event_type AND m.wk = e.wk AND m.reg = gs.j
      |), grp AS (
      |  SELECT event_type, wk, CAST(max(mj) AS INT) AS r,
      |         CAST(count(*) FILTER (mj = 0) AS BIGINT) AS v
      |  FROM regs GROUP BY 1, 2
      |), z AS (
      |  SELECT rg.event_type, rg.wk,
      |         CAST(sum(CAST(1 AS BIGINT) << (g.r - rg.mj)) AS BIGINT) AS zint
      |  FROM regs rg JOIN grp g USING (event_type, wk) GROUP BY 1, 2
      |), est AS (
      |  SELECT g.event_type, g.wk, g.r, g.v, z.zint,
      |         2904.064 * (2::DOUBLE ** g.r) / z.zint AS raw
      |  FROM grp g JOIN z USING (event_type, wk)
      |)
      |SELECT e.event_type, e.wk, e.r, e.v, e.zint,
      |       round(e.raw, 6) AS hll_raw,
      |       round(CASE WHEN e.raw <= 160.0 AND e.v > 0
      |                  THEN 64.0 * ln(64.0 / e.v) ELSE e.raw END, 6) AS hll_est,
      |       x.n_exact
      |FROM est e
      |JOIN (SELECT event_type, wk, count(DISTINCT user_id) AS n_exact
      |      FROM ev GROUP BY 1, 2) x USING (event_type, wk)""".stripMargin)
  query("events_quantiles") { (s, dir) =>
    // latency-style percentiles per event type from the mergeable
    // fixed-range histogram (the quantile sketch beside CMS/HLL/
    // SpaceSaving): 200 cells per group summarize any row count, and
    // the full bin -> cumulative -> interpolation pipeline is
    // replayed by the oracle
    val ev = events(s, dir)
    val hist = SketchOps.fixedHistogram(ev, "value", Seq("event_type"),
      lo = 0.0, hi = 1000.0, bins = 200)
    SketchOps.histogramQuantiles(hist, Seq("event_type"),
      Seq(0.5, 0.9, 0.99), lo = 0.0, hi = 1000.0, bins = 200)
  }(histQuantileOracleSql("[0.5, 0.9, 0.99]"))
  query("events_quantiles_auto") { (s, dir) =>
    // first-contact percentiles on a column whose range nobody
    // pre-knows: each event type's bin edges derive from its OWN
    // [min, max] (one extra map-side min/max pass, broadcast back),
    // then the same cumulative -> interpolation chain as
    // events_quantiles - the unknown-range gap in the drift suite
    val ev = events(s, dir)
    val hist = SketchOps.fixedHistogramAuto(ev, "value", Seq("event_type"), bins = 20)
    SketchOps.histogramQuantilesAuto(hist, Seq("event_type"),
      Seq(0.25, 0.5, 0.9, 0.99), bins = 20)
  }(
    // unknown-range replay: per-type [min, max] edges derived in
    // SQL, the same sub/sub/div/div/floor bin chain, the same
    // cumulative -> interpolation arithmetic; constant groups
    // (hi = lo) pin every estimate at lo exactly
    """WITH clean AS (
      |  SELECT event_type, CAST(value AS DOUBLE) AS v
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
      |), ed AS (
      |  SELECT event_type, min(v) AS lo, max(v) AS hi FROM clean GROUP BY 1
      |), h AS (
      |  SELECT c.event_type,
      |         CASE WHEN ed.hi = ed.lo THEN 0
      |              ELSE least(CAST(floor((c.v - ed.lo)
      |                                    / ((ed.hi - ed.lo) / 20.0)) AS INT), 19) END AS bin,
      |         ed.lo, ed.hi, count(*) AS c
      |  FROM clean c JOIN ed USING (event_type)
      |  GROUP BY 1, 2, 3, 4
      |), cum AS (
      |  SELECT event_type, bin, lo, hi, c,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      |  FROM h
      |), tot AS (SELECT event_type, sum(c) AS n FROM h GROUP BY 1),
      |tq AS (
      |  SELECT event_type, n, q, q * n AS t
      |  FROM tot CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]::DOUBLE[]) AS q)
      |)
      |SELECT tq.event_type, tq.q,
      |       round(cum.lo + (cum.bin + (tq.t - (cum.cum - cum.c)) / cum.c)
      |             * ((cum.hi - cum.lo) / 20.0), 6) AS est
      |FROM tq JOIN cum USING (event_type)
      |WHERE (cum.cum - cum.c) < tq.t AND tq.t <= cum.cum""".stripMargin)
  query("events_sample_quantiles") { (s, dir) =>
    // the ONE-PASS unknown-range profile: a deterministic md5
    // bottom-k uniform sample per type (k-bounded partials, merges
    // by union + re-trim - rows never shuffle), quantiles read as
    // sample order statistics; complements events_quantiles_auto's
    // two-scan exact-edges path
    val ev = events(s, dir)
    val sk = SketchOps.sampleSketch(ev, "event_id", "value", Seq("event_type"), k = 512)
    SketchOps.sampleQuantiles(sk, Seq("event_type"), Seq(0.25, 0.5, 0.9, 0.99))
  }(
    // full sample replay: the kept rows are exactly the k smallest
    // md5(id) per type (a pure function of the id set - ORDER BY
    // md5 LIMIT k), the estimate the ceil(q*m)-th smallest sample
    // value; the min-per-id fold mirrors the engine's duplicate-id
    // degradation (ids are unique here, so it is a no-op)
    """WITH clean AS (
      |  SELECT event_type, event_id, CAST(value AS DOUBLE) AS v
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
      |), dd AS (
      |  SELECT event_type, event_id, min(v) AS v FROM clean GROUP BY 1, 2
      |), rk AS (
      |  SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
      |  FROM dd
      |), samp AS (SELECT event_type, v FROM rk WHERE rn <= 512),
      |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m FROM samp GROUP BY 1),
      |srt AS (
      |  SELECT event_type, v,
      |         row_number() OVER (PARTITION BY event_type ORDER BY v) AS rv
      |  FROM samp
      |), tq AS (
      |  SELECT event_type, m, q, greatest(CAST(ceil(q * m) AS INT), 1) AS r
      |  FROM m CROSS JOIN (SELECT unnest([0.25, 0.5, 0.9, 0.99]::DOUBLE[]) AS q)
      |)
      |SELECT tq.event_type, tq.q, srt.v AS est
      |FROM tq JOIN srt ON srt.event_type = tq.event_type AND srt.rv = tq.r""".stripMargin)
  query("events_quantiles_tail") { (s, dir) =>
    // the TAIL-accurate path: HDR-style log-bucketed sketch (integer
    // binning, addition-mergeable cells) serving q999 within a
    // relative-value bound the bottom-k sample path cannot give -
    // completes the quantile triptych (exact-edges two-scan, uniform
    // sample one-scan, log-bucket tail)
    val ev = events(s, dir)
    SketchOps.hdrQuantiles(
      SketchOps.hdrSketch(ev, "value", Seq("event_type")),
      Seq("event_type"), Seq(0.5, 0.9, 0.99, 0.999))
  }(
    // full HDR-bucket replay: power-of-two scale (exact IEEE), sign
    // split, bitlen via length(bin()) - no float log2 - top-5-bit
    // sub-buckets, cumulative rank in sgn*code order, integer-shift
    // decode to the bucket midpoint (a dyadic rational: est is exact)
    """WITH clean AS (
      |  SELECT event_type, CAST(value AS DOUBLE) AS v
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
      |), scaled AS (
      |  SELECT event_type, CAST(floor(v * 1048576.0) AS BIGINT) AS vi FROM clean
      |), coded AS (
      |  SELECT event_type,
      |         CASE WHEN vi < 0 THEN -1 WHEN vi > 0 THEN 1 ELSE 0 END AS sgn,
      |         CASE WHEN abs(vi) < 32 THEN abs(vi)
      |              ELSE (length(bin(abs(vi))) - 6) * 32
      |                   + (abs(vi) >> (length(bin(abs(vi))) - 6)) END AS code
      |  FROM scaled
      |), sk AS (
      |  SELECT event_type, sgn, code, count(*) AS c FROM coded GROUP BY 1, 2, 3
      |), cum AS (
      |  SELECT event_type, sgn, code, c,
      |         SUM(c) OVER (PARTITION BY event_type ORDER BY sgn * code) AS cum
      |  FROM sk
      |), tot AS (SELECT event_type, SUM(c) AS n FROM sk GROUP BY 1),
      |tgt AS (
      |  SELECT event_type, n, unnest([0.5, 0.9, 0.99, 0.999]::DOUBLE[]) AS q FROM tot
      |), hit AS (
      |  SELECT t.event_type, t.q, u.sgn, u.code
      |  FROM tgt t JOIN cum u USING (event_type)
      |  WHERE u.cum - u.c < t.q * t.n AND t.q * t.n <= u.cum
      |), dec AS (
      |  SELECT event_type, q, sgn,
      |         CASE WHEN code < 32 THEN code
      |              ELSE (code - 32 * ((code >> 5) - 1)) << ((code >> 5) - 1) END AS lo,
      |         CASE WHEN code < 32 THEN CAST(0 AS BIGINT)
      |              ELSE (CAST(1 AS BIGINT) << ((code >> 5) - 1)) - 1 END AS wm1
      |  FROM hit
      |)
      |SELECT event_type, q, sgn * (lo + lo + wm1) / 2.0 / 1048576.0 AS est
      |FROM dec""".stripMargin)
  query("events_robust_scale") { (s, dir) =>
    // robust standardization (median/IQR instead of mean/std - the
    // outlier-immune scaler): per-type quartiles come from the
    // mergeable histogram sketch, broadcast back onto the scan; the
    // corpus is read once for cells and once for the transform, with
    // no corpus-sized shuffle anywhere. Types whose IQR collapses to
    // zero (one hot bin) scale to NULL rather than dividing by zero
    val ev = events(s, dir).filter(col("value").isNotNull)
    val hist = SketchOps.fixedHistogram(ev, "value", Seq("event_type"),
      lo = 0.0, hi = 1000.0, bins = 200)
    val qs = SketchOps.histogramQuantiles(hist, Seq("event_type"),
      Seq(0.25, 0.5, 0.75), lo = 0.0, hi = 1000.0, bins = 200)
    val stats = qs.groupBy("event_type").agg(
      min(when(col("q") === 0.25, col("est"))).as("q1"),
      min(when(col("q") === 0.5, col("est"))).as("med"),
      min(when(col("q") === 0.75, col("est"))).as("q3"))
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("q3") > col("q1"),
          round((col("value") - col("med")) / (col("q3") - col("q1")), 6))
          .as("robust_z"))
  }(
    // same quantile CTE chain (shared builder - the two replays
    // cannot drift), pivoted to per-type quartiles, broadcast-shaped
    // join back onto the rows, identical double chain for the score
    s"""WITH ${histQuantileCtes("[0.25, 0.5, 0.75]")},
      |stats AS (
      |  SELECT event_type,
      |         min(CASE WHEN q = 0.25 THEN est END) AS q1,
      |         min(CASE WHEN q = 0.5  THEN est END) AS med,
      |         min(CASE WHEN q = 0.75 THEN est END) AS q3
      |  FROM qq GROUP BY 1
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |       CASE WHEN s.q3 > s.q1
      |            THEN round((e.value - s.med) / (s.q3 - s.q1), 6) END AS robust_z
      |FROM events e JOIN stats s USING (event_type)
      |WHERE e.value IS NOT NULL""".stripMargin)
  query("events_mix_drift") { (s, dir) =>
    // week-over-week traffic-mix monitor: PSI between consecutive
    // weeks' event-type distributions; runs on the dense
    // weeks x types frame, never corpus rows
    val ev = events(s, dir)
      .withColumn("wk", date_format(date_trunc("week", col("ts")), "yyyy-MM-dd"))
    StatOps.mixDriftByPeriod(ev, "wk", "event_type")
  }(
    // dense weeks x types completion, epsilon-floored proportions,
    // identical double chain, decimal-exact termwise sum
    """WITH base AS (
      |  SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS period, event_type AS cat
      |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |), pc AS (SELECT period, cat, count(*) AS c FROM base GROUP BY 1, 2),
      |dense AS (
      |  SELECT p.period, k.cat, coalesce(pc.c, 0) AS c
      |  FROM (SELECT DISTINCT period FROM pc) p
      |  CROSS JOIN (SELECT DISTINCT cat FROM pc) k
      |  LEFT JOIN pc ON pc.period = p.period AND pc.cat = k.cat
      |), tot AS (SELECT period, sum(c) AS n FROM pc GROUP BY 1),
      |withn AS (
      |  SELECT d.period, d.cat,
      |         greatest(CAST(d.c AS DOUBLE) / CAST(t.n AS DOUBLE), 1.0E-6) AS p,
      |         t.n
      |  FROM dense d JOIN tot t USING (period)
      |), ord AS (
      |  SELECT period, lag(period) OVER (ORDER BY period) AS prev_period FROM tot
      |), terms AS (
      |  SELECT o.period, o.prev_period,
      |         CAST(c.n AS BIGINT) AS n_curr, CAST(pr.n AS BIGINT) AS n_prev,
      |         CAST((c.p - pr.p) * ln(c.p / pr.p) AS DECIMAL(38,18)) AS term
      |  FROM ord o
      |  JOIN withn c ON c.period = o.period
      |  JOIN withn pr ON pr.period = o.prev_period AND pr.cat = c.cat
      |  WHERE o.prev_period IS NOT NULL
      |)
      |SELECT period, prev_period, n_curr, n_prev,
      |       round(CAST(sum(term) AS DOUBLE), 6) AS psi
      |FROM terms GROUP BY 1, 2, 3, 4""".stripMargin)
  query("events_ks_binned") { (s, dir) =>
    // continuous-column drift: KS distance between the error events'
    // value distribution and everything else, both quantized through
    // the SAME fixed histogram - the comparison runs on sketch cells,
    // never corpus rows
    val ev = events(s, dir).filter(col("value").isNotNull)
      .withColumn("g", lit(1))
    def h(side: DataFrame) = SketchOps.fixedHistogram(side, "value", Seq("g"),
      lo = 0.0, hi = 1000.0, bins = 200)
    StatOps.ksFromHistograms(
      h(ev.filter(col("event_type") === "error")),
      h(ev.filter(col("event_type") =!= "error")))
  }(
    // binned-KS replay: same bin arithmetic as the quantile chain,
    // same integer cross-multiplied CDF gap (HUGEINT vs the engine's
    // DECIMAL(38,0) - both exact), ties to the smallest bin
    """WITH e AS (
      |  SELECT CASE WHEN event_type = 'error' THEN 'a' ELSE 'b' END AS side,
      |         CASE WHEN value < 0.0 THEN -1
      |              WHEN value >= 1000.0 THEN 200
      |              ELSE least(CAST(floor((value - 0.0) / 5.0) AS INT), 199) END AS bin
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
      |), cells AS (
      |  SELECT bin,
      |         count(*) FILTER (side = 'a') AS ca,
      |         count(*) FILTER (side = 'b') AS cb
      |  FROM e GROUP BY 1
      |), cum AS (
      |  SELECT bin,
      |         sum(ca) OVER (ORDER BY bin) AS cum_a,
      |         sum(cb) OVER (ORDER BY bin) AS cum_b
      |  FROM cells
      |), tot AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
      |                  CAST(sum(cb) AS BIGINT) AS n_b FROM cells),
      |diffs AS (
      |  SELECT c.bin, t.n_a, t.n_b,
      |         abs(c.cum_a::HUGEINT * t.n_b::HUGEINT
      |           - c.cum_b::HUGEINT * t.n_a::HUGEINT) AS diff
      |  FROM cum c CROSS JOIN tot t
      |), best AS (
      |  SELECT n_a, n_b, bin, diff,
      |         row_number() OVER (ORDER BY diff DESC, bin ASC) AS rk
      |  FROM diffs
      |)
      |SELECT n_a, n_b, CAST(bin AS INT) AS ks_at_bin,
      |       round(CAST(diff AS DOUBLE)
      |             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6) AS ks
      |FROM best WHERE rk = 1""".stripMargin)
  query("events_key_skew") { (s, dir) =>
    // pre-shuffle key diagnosis: the (event_type, user_id % 50) join
    // key's frequency profile - rank, share, cumulative share, skew
    // factor - the report that picks plain-shuffle vs salt vs
    // broadcast before the expensive job runs
    graft.ops.ProfileOps.keySkew(
      events(s, dir).withColumn("key",
        concat(col("event_type"), lit("#"), col("user_id") % 50)),
      "key")
  }(
    """WITH c AS (
      |  SELECT event_type || '#' || CAST(user_id % 50 AS VARCHAR) AS key,
      |         count(*) AS n
      |  FROM events GROUP BY 1
      |), r AS (
      |  SELECT key, n,
      |         CAST(ROW_NUMBER() OVER (ORDER BY n DESC, key ASC) AS INT) AS rank,
      |         SUM(n) OVER () AS tot,
      |         COUNT(*) OVER () AS nkeys,
      |         SUM(n) OVER (ORDER BY n DESC, key ASC ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM c
      |)
      |SELECT key, CAST(n AS BIGINT) AS n, rank,
      |       round(CAST(n AS DOUBLE) / tot, 6) AS share,
      |       round(CAST(cum AS DOUBLE) / tot, 6) AS cum_share,
      |       round(CAST(n AS DOUBLE) * nkeys / tot, 6) AS skew
      |FROM r""".stripMargin)
  query("events_outliers") { (s, dir) =>
    // Tukey-fence outlier pass per event type: quartile fences from a
    // group-sized aggregate broadcast onto a scan-speed comparison
    graft.ops.ProfileOps.iqrOutliers(
      events(s, dir).select(col("event_id"), col("event_type"), col("value")),
      "event_type", "value", k = 1.5)
      .filter(col("is_outlier"))
      .select(col("event_id"), col("event_type"), col("value"),
        round(col("fence_lo"), 6).as("fence_lo"),
        round(col("fence_hi"), 6).as("fence_hi"))
  }(
    """WITH f AS (
      |  SELECT event_type,
      |         quantile_cont(value, 0.25) AS q1,
      |         quantile_cont(value, 0.75) AS q3
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_id, e.event_type, e.value,
      |       round(q1 - (q3 - q1) * 1.5, 6) AS fence_lo,
      |       round(q3 + (q3 - q1) * 1.5, 6) AS fence_hi
      |FROM events e JOIN f USING (event_type)
      |WHERE e.value < q1 - (q3 - q1) * 1.5
      |   OR e.value > q3 + (q3 - q1) * 1.5""".stripMargin)
  query("events_binned") { (s, dir) =>
    // per-type equi-width 10-bin histogram over the group's own range
    // (explicit floor arithmetic - engine-portable bucket edges)
    graft.ops.ProfileOps.equiWidthHistogram(
      events(s, dir).select(col("event_type"), col("value")),
      "event_type", "value", bins = 10)
  }(
    """WITH r AS (
      |  SELECT event_type,
      |         CAST(min(value) AS DOUBLE) AS v_min,
      |         CAST(max(value) AS DOUBLE) AS v_max
      |  FROM events WHERE value IS NOT NULL GROUP BY event_type
      |)
      |SELECT e.event_type,
      |       CAST(CASE WHEN v_max = v_min THEN 0
      |            ELSE least(floor((CAST(value AS DOUBLE) - v_min)
      |                             / ((v_max - v_min) / 10)), 9)
      |            END AS INT) AS bin,
      |       count(*) AS n
      |FROM events e JOIN r USING (event_type)
      |WHERE value IS NOT NULL
      |GROUP BY 1, 2""".stripMargin)
  query("events_compact") { (s, dir) =>
    // CDC keep-latest compaction of the per-user event changelog;
    // 'error' plays the delete-marker role in this corpus: a user
    // whose LAST event errored compacts to absent. One shuffle on
    // the key + a window pass - the MERGE INTO compaction plan.
    graft.ops.MergeOps.compactChangelog(events(s, dir),
      Seq("user_id"), "ts", "event_id",
      deleteMarker = col("event_type") === "error")
      .select(col("user_id"),
        col("event_id").as("last_event_id"),
        col("event_type").as("last_type"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        col("value").as("last_value"))
  }(
    """WITH ranked AS (
      |  SELECT user_id, event_id, event_type, ts, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events
      |)
      |SELECT user_id, event_id AS last_event_id, event_type AS last_type,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
      |       value AS last_value
      |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin)
  query("events_scd2") { (s, dir) =>
    // SCD Type-2 snapshot of each user's purchase history: every
    // purchase becomes a validity interval, the newest is open-ended
    graft.ops.MergeOps.scd2(
      events(s, dir).filter(col("event_type") === "purchase"),
      Seq("user_id"), "ts", "event_id")
      .select(col("user_id"), col("event_id"), col("value"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("is_current"))
  }(
    """WITH p AS (
      |  SELECT user_id, event_id, value, ts FROM events
      |  WHERE event_type = 'purchase'
      |)
      |SELECT user_id, event_id, value,
      |       strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
      |       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
      |                '%Y-%m-%d %H:%M:%S') AS valid_to,
      |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |         AS is_current
      |FROM p""".stripMargin)
  query("events_resample") { (s, dir) =>
    // hourly downsample per user INCLUDING empty bins (gap fill): the
    // bin spine comes from each user's own [first, last] span -
    // key-count-sized, generated distributed (sequence + explode),
    // joined back on the same (key, bin) shuffle key
    TimeOps.resampleGapFill(events(s, dir), "user_id", "ts", "value",
      binSeconds = 3600)
      .withColumn("bin_start",
        date_format(col("bin_start"), "yyyy-MM-dd HH:mm:ss"))
  }(
    """WITH b AS (
      |  SELECT user_id, epoch_ms(ts) // 1000 // 3600 AS bin,
      |         count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
      |  FROM events GROUP BY 1, 2
      |), span AS (
      |  SELECT user_id, min(bin) AS lo, max(bin) AS hi FROM b GROUP BY 1
      |), spine AS (
      |  SELECT user_id, unnest(generate_series(lo, hi)) AS bin FROM span
      |)
      |SELECT sp.user_id,
      |       strftime(make_timestamp(sp.bin * 3600 * 1000000), '%Y-%m-%d %H:%M:%S') AS bin_start,
      |       coalesce(b.n_events, 0) AS n_events,
      |       coalesce(b.sum_value, 0.0) AS sum_value,
      |       b.n_events IS NULL AS is_gap
      |FROM spine sp LEFT JOIN b ON sp.user_id = b.user_id AND sp.bin = b.bin""".stripMargin)
  query("events_interval_join") { (s, dir) =>
    // batch half of StreamOps.streamIntervalJoin (watermarks are
    // no-ops in batch): purchases paired with the same user's clicks
    // in the preceding 30 minutes. StreamOpsSpec pins stream == batch
    // on this exact operator; this oracle pins batch == DuckDB.
    val ev = events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("v"))
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("v"))
    StreamOps.streamIntervalJoin(clicks, purch, "user_id", "ts", "v",
        windowMinutes = 30, lateness = "10 minutes")
      .select(col("key").as("user_id"),
        col("l_v").as("click_id"), col("r_v").as("purchase_id"),
        (unix_millis(col("r_ts")) - unix_millis(col("l_ts"))).as("gap_ms"))
  }(
    """SELECT c.user_id,
      |       c.event_id AS click_id, p.event_id AS purchase_id,
      |       epoch_ms(p.ts) - epoch_ms(c.ts) AS gap_ms
      |FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
      |JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') p
      |ON c.user_id = p.user_id
      |   AND c.ts <= p.ts
      |   AND c.ts >= p.ts - INTERVAL 30 MINUTE""".stripMargin)
  query("events_range") { (s, dir) =>
    // range join: assign every event to the session interval that
    // contains it (user-key equality + ts-in-[start,end]). Binned
    // equi-join, not Spark's default broadcast-nested-loop for this
    // predicate shape; 1h bins ~ session length
    val ev = events(s, dir).withColumn("ms", unix_millis(col("ts")))
    val sessions = StreamOps.sessionize(ev, gapMinutes = 30)
    JoinOps.rangeJoin(
      sessions, "session_start_ms", "session_end_ms",
      ev.select(col("event_id"), col("user_id").as("uid"), col("ms")), "ms",
      keys = Seq("user_id" -> "uid"),
      binWidth = 3600000.0)
      .select(col("r_event_id").as("event_id"), col("user_id"),
        col("session_start_ms"), col("n_events"))
  }(
    """WITH x AS (
      |  SELECT user_id, epoch_ms(ts) AS ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ms
      |  FROM events
      |), y AS (
      |  SELECT user_id, ms,
      |         SUM(CASE WHEN prev_ms IS NULL OR ms - prev_ms > 1800000 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ms ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM x
      |), sessions AS (
      |  SELECT user_id, min(ms) AS session_start_ms, max(ms) AS session_end_ms,
      |         COUNT(*) AS n_events
      |  FROM y GROUP BY user_id, sess
      |)
      |SELECT e.event_id, s.user_id, s.session_start_ms, s.n_events
      |FROM events e JOIN sessions s
      |  ON e.user_id = s.user_id
      | AND epoch_ms(e.ts) BETWEEN s.session_start_ms AND s.session_end_ms""".stripMargin)
  query("events_json_roundtrip") { (s, dir) =>
    // schema-on-read source surface: events out as JSON lines, back in
    // through an EXPLICIT schema (schema inference is a full extra
    // scan - never at 100 TB), then aggregate. Timestamps travel as
    // formatted strings so the roundtrip is engine- and tz-neutral.
    val path = scratchPath("events_json", dir)
    events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"))
      .write.mode("overwrite").json(path)
    s.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE, ts_s STRING")
      .json(path)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        min(col("ts_s")).as("first_ts"),
        max(col("ts_s")).as("last_ts"))
  }(
    """SELECT event_type, count(*) AS n_events,
      |       count(DISTINCT user_id) AS n_users,
      |       min(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS first_ts,
      |       max(strftime(ts, '%Y-%m-%d %H:%M:%S')) AS last_ts
      |FROM events
      |GROUP BY event_type""".stripMargin)
  query("events_ewma") { (s, dir) =>
    // recency-weighted activity score: EWMA (alpha 0.3) over each
    // user's 30 most recent event values - closed-form weights, one
    // window rank + one decimal-exact aggregation
    TimeOps.ewmaScore(events(s, dir), "user_id", "ts", "event_id", "value",
      alpha = 0.3, maxHistory = 30)
  }(ewmaOracleSql)
  query("stream_ewma") { (s, dir) =>
    // the STREAMING path of the same score: bounded recent-30 buffer
    // in GroupState (batch execution = one micro-batch), fed through
    // the identical decimal-exact aggregation - same oracle as
    // events_ewma; StreamOpsSpec pins multi-batch == batch
    val buf = StreamOps.ewmaBufferStream(events(s, dir),
      "user_id", "ts", "event_id", "value", maxHistory = 30)
    TimeOps.ewmaAggregate(buf, "user_id", "value", alpha = 0.3, maxHistory = 30)
  }(
    // the streaming buffer path reduces to the identical ranked frame
    // in batch execution; one oracle covers both (parity across
    // micro-batches is StreamOpsSpec's job)
    ewmaOracleSql)
  query("events_rolling") { (s, dir) =>
    // per-event rolling features over the user's trailing 5 events:
    // moving average (decimal-routed - window sums of doubles are
    // association-order-dependent across engines), frame min/max,
    // previous value. The standard lag/rolling feature block.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id")).rowsBetween(-4, 0)
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("n_win", count(col("value")).over(w))
      .select(
        col("event_id"), col("user_id"),
        when(col("n_win") > 0,
          round(sum(col("value").cast(DecimalType(38, 18))).over(w)
            .cast(DoubleType) / col("n_win"), 6)).as("ma5"),
        min(col("value")).over(w).as("v_min5"),
        max(col("value")).over(w).as("v_max5"),
        lag(col("value"), 1).over(byTs).as("prev_value"))
  }(
    """SELECT event_id, user_id,
      |       CASE WHEN count(value) OVER w > 0
      |            THEN round(CAST(sum(CAST(value AS DECIMAL(38,18))) OVER w AS DOUBLE)
      |                       / count(value) OVER w, 6)
      |       END AS ma5,
      |       min(value) OVER w AS v_min5,
      |       max(value) OVER w AS v_max5,
      |       lag(value) OVER (PARTITION BY user_id
      |                        ORDER BY ts, event_id) AS prev_value
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)""".stripMargin)
  query("events_zscore") { (s, dir) =>
    // per-type standardization: mean/std from exact decimal moment
    // sums (order-independent), z computed with the identical double
    // formula the oracle spells - the feature-scaling pass
    val ev = events(s, dir).filter(col("value").isNotNull)
    val stats = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("value").cast(DecimalType(38, 12))).as("s1"),
      sum((col("value") * col("value")).cast(DecimalType(38, 12))).as("s2"))
    ev.join(broadcast(stats), "event_type")
      .withColumn("mean", col("s1").cast(DoubleType) / col("n"))
      .withColumn("std",
        sqrt(greatest(lit(0.0),
          col("s2").cast(DoubleType) / col("n") - col("mean") * col("mean"))))
      .select(col("event_id"), col("event_type"),
        round(when(col("std") > 0, (col("value") - col("mean")) / col("std"))
          .otherwise(lit(0.0)), 6).as("z"))
  }(
    """WITH s AS (
      |  SELECT event_type, count(*) AS n,
      |         sum(CAST(value AS DECIMAL(38,12))) AS s1,
      |         sum(CAST(value * value AS DECIMAL(38,12))) AS s2
      |  FROM events WHERE value IS NOT NULL GROUP BY 1
      |), m AS (
      |  SELECT event_type, n,
      |         CAST(s1 AS DOUBLE) / n AS mean,
      |         sqrt(greatest(0.0, CAST(s2 AS DOUBLE) / n
      |              - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) AS std
      |  FROM s
      |)
      |SELECT e.event_id, e.event_type,
      |       round(CASE WHEN m.std > 0 THEN (e.value - m.mean) / m.std
      |             ELSE 0.0 END, 6) AS z
      |FROM events e JOIN m USING (event_type)
      |WHERE e.value IS NOT NULL""".stripMargin)
  query("events_transitions") { (s, dir) =>
    // behavioral sequence mining: first-order Markov transition
    // counts over each user's event stream (lag window + count -
    // one shuffle on user, one tiny aggregate)
    import org.apache.spark.sql.expressions.Window
    val byTs = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_type", lag(col("event_type"), 1).over(byTs))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
  }(
    """WITH x AS (
      |  SELECT event_type AS next_type,
      |         lag(event_type) OVER (PARTITION BY user_id
      |                               ORDER BY ts, event_id) AS prev_type
      |  FROM events
      |)
      |SELECT prev_type, next_type, count(*) AS n
      |FROM x WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin)
  query("events_dedup_burst") { (s, dir) =>
    // telemetry debounce: drop an event arriving within 5s of the
    // PREVIOUS raw event of the same (user, type) - an inter-arrival
    // filter (lag-based, self-join-free), the standard
    // duplicate-burst cleanup before sessionization
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    events(s, dir)
      .withColumn("prev_ms", lag(unix_millis(col("ts")), 1).over(byKey))
      .filter(col("prev_ms").isNull ||
        unix_millis(col("ts")) - col("prev_ms") > 5000)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
  }(
    """WITH x AS (
      |  SELECT event_id, user_id, event_type, epoch_ms(ts) AS ms,
      |         lag(epoch_ms(ts)) OVER (PARTITION BY user_id, event_type
      |                                 ORDER BY ts, event_id) AS prev_ms
      |  FROM events
      |)
      |SELECT event_id, user_id, event_type, ms
      |FROM x WHERE prev_ms IS NULL OR ms - prev_ms > 5000""".stripMargin)

  /** DuckDB VALUES list (rn, interior weight, tail weight) of the EWMA
    * decay weights - identical doubles to what [[TimeOps.ewmaScore]]
    * applies (Double.toString round-trips; the replay multiplies the
    * SAME binary values).
    */
  private def ewmaValues(alpha: Double, maxHistory: Int): String = {
    val (wa, wt) = graft.ops.TimeOps.ewmaWeights(alpha, maxHistory)
    (1 to maxHistory).map(j => s"($j,${wa(j - 1)},${wt(j - 1)})").mkString(",")
  }

  /** EWMA replay shared by the batch (events_ewma) and streaming-buffer
    * (stream_ewma) queries - both reduce to the same ranked recent-30
    * frame and the same decimal-exact weighted sum.
    */
  private def ewmaOracleSql: String =
    s"""WITH w(rn, wa, wt) AS (VALUES ${ewmaValues(0.3, 30)}),
      |r AS (
      |  SELECT user_id, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events WHERE value IS NOT NULL
      |), t AS (
      |  SELECT user_id, value, rn FROM r WHERE rn <= 30
      |), m AS (
      |  SELECT user_id, max(rn) AS m FROM t GROUP BY 1
      |)
      |SELECT t.user_id, count(*) AS n_used,
      |       round(CAST(sum(CAST(t.value *
      |         (CASE WHEN t.rn = m.m THEN w.wt ELSE w.wa END)::DOUBLE
      |         AS DECIMAL(38,18))) AS DOUBLE), 6) AS ewma
      |FROM t JOIN m USING (user_id) JOIN w ON w.rn = t.rn
      |GROUP BY t.user_id""".stripMargin

  /** Fixed-histogram quantile replay over events.value ([0, 1000) /
    * 200 bins, binWidth 5.0 interpolated once): same bin arithmetic,
    * same cumulative-count bin pick, same interpolation double chain.
    * Shared by the events_quantiles and events_robust_scale oracles so
    * the two replays cannot drift; ends in a `qq` CTE of
    * (event_type, q, est).
    */
  private def histQuantileCtes(qArray: String): String =
    s"""h AS (
      |  SELECT event_type,
      |         CASE WHEN value < 0.0 THEN -1
      |              WHEN value >= 1000.0 THEN 200
      |              ELSE least(CAST(floor((value - 0.0) / 5.0) AS INT), 199) END AS bin,
      |         count(*) AS c
      |  FROM events
      |  WHERE value IS NOT NULL AND NOT isnan(value) AND event_type IS NOT NULL
      |  GROUP BY 1, 2
      |), ir AS (SELECT * FROM h WHERE bin >= 0 AND bin < 200),
      |cum AS (
      |  SELECT event_type, bin, c,
      |         sum(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum
      |  FROM ir
      |), tot AS (SELECT event_type, sum(c) AS n FROM ir GROUP BY 1),
      |tq AS (
      |  SELECT event_type, n, q, q * n AS t
      |  FROM tot CROSS JOIN (SELECT unnest($qArray::DOUBLE[]) AS q)
      |), qq AS (
      |  SELECT tq.event_type, tq.q,
      |         round(0.0 + (cum.bin + (tq.t - (cum.cum - cum.c)) / cum.c) * 5.0, 6) AS est
      |  FROM tq JOIN cum ON cum.event_type = tq.event_type
      |  WHERE (cum.cum - cum.c) < tq.t AND tq.t <= cum.cum
      |)""".stripMargin

  private def histQuantileOracleSql(qArray: String): String =
    s"WITH ${histQuantileCtes(qArray)}\nSELECT event_type, q, est FROM qq"
}
