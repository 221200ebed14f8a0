package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpsSpec extends SparkSpec {
  import spark.implicits._

  /** `body` with the graph ops' driver off-ramps forced off. */
  private def distributed[A](body: => A): A =
    SizeGuard.forcing(SizeGuard.DriverEdges -> false)(body)

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "el rapido zorro marron salta sobre el perro perezoso y los gatos"),
    (4L, "completely different content about query engines and columnar scans"),
    (5L, "the quick brown fox jumps over the lazy dog near the river bank") // exact dup of 1
  ).toDF("doc_id", "text")

  test("asofJoin: inclusive latest-at-or-before match per key, null when none") {
    val trades = Seq(
      (1L, 100L, 10L), // key 1: ts 100
      (1L, 205L, 11L),
      (2L, 50L, 20L),
      (3L, 99L, 30L) // key 3 has no quotes at all
    ).toDF("k", "ts", "trade_id")
    val quotes = Seq(
      (1L, 90L, 1.0),
      (1L, 100L, 2.0), // equal ts -> inclusive match for trade at 100
      (1L, 300L, 3.0), // in the future of both key-1 trades
      (2L, 60L, 4.0) // after key 2's only trade
    ).toDF("k", "ts", "px")
    val got = JoinOps.asofJoin(trades, quotes, "k", "ts", "ts")
      .select($"trade_id", $"r_px")
      .as[(Long, Option[Double])]
      .collect().toMap
    assert(got(10L).contains(2.0)) // equal-ts quote wins (inclusive)
    assert(got(11L).contains(2.0)) // latest at-or-before 205 is ts=100
    assert(got(20L).isEmpty) // only quote is in the future
    assert(got(30L).isEmpty) // no quotes for the key
  }

  test("asofJoin == in-memory latest-at-or-before reference on random data") {
    val rnd = new scala.util.Random(7)
    val leftRows = Seq.tabulate(200)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, i.toLong))
    // dedup right on (k, ts): tie order among identical timestamps is
    // documented as unspecified, so the fixture avoids it
    val rightRows = Seq.fill(300)(
      (rnd.nextInt(8).toLong, rnd.nextInt(1000).toLong, rnd.nextDouble()))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val expected = leftRows.map { case (k, ts, lid) =>
      val cands = rightRows.filter(r => r._1 == k && r._2 <= ts)
      lid -> (if (cands.isEmpty) None else Some(cands.maxBy(_._2)._3))
    }.toMap
    val got = JoinOps.asofJoin(
      leftRows.toDF("k", "ts", "lid"), rightRows.toDF("k", "ts", "px"),
      "k", "ts", "ts")
      .select($"lid", $"r_px").as[(Long, Option[Double])].collect().toMap
    assert(got == expected)
  }

  test("rangeJoin == brute-force containment on random data (keys + no keys)") {
    val rnd = new scala.util.Random(11)
    val ivals = Seq.tabulate(120) { i =>
      val lo = rnd.nextInt(1000).toLong
      (rnd.nextInt(4).toLong, lo, lo + rnd.nextInt(80).toLong, i.toLong)
    }
    val pts = Seq.tabulate(200)(j =>
      (rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong, j.toLong))
    val lDf = ivals.toDF("k", "lo", "hi", "iid")
    val rDf = pts.toDF("k", "pt", "pid")
    // keyed
    val expectedK = (for {
      (k, lo, hi, iid) <- ivals; (k2, pt, pid) <- pts
      if k == k2 && pt >= lo && pt <= hi
    } yield (iid, pid)).toSet
    val gotK = JoinOps.rangeJoin(lDf, "lo", "hi", rDf, "pt",
      keys = Seq("k" -> "k"), binWidth = 50.0)
      .select($"iid", $"r_pid").as[(Long, Long)].collect().toSet
    assert(gotK == expectedK && expectedK.nonEmpty)
    // keyless
    val expected = (for {
      (_, lo, hi, iid) <- ivals; (_, pt, pid) <- pts
      if pt >= lo && pt <= hi
    } yield (iid, pid)).toSet
    val got = JoinOps.rangeJoin(lDf, "lo", "hi", rDf, "pt", binWidth = 50.0)
      .select($"iid", $"r_pid").as[(Long, Long)].collect().toSet
    assert(got == expected)
  }

  test("rangeJoin: wide intervals take the broadcast escape hatch, exactly once each") {
    val ivals = Seq(
      (0L, 5L, 1L), // narrow
      (0L, 1000000L, 2L), // wide: would explode to 100k bins at width 10
      (-500000L, 500000L, 3L) // wide, negative lo (floor-div bin math)
    ).toDF("lo", "hi", "iid")
    val pts = Seq((3L, 10L), (999999L, 11L), (-400000L, 12L)).toDF("pt", "pid")
    val got = JoinOps.rangeJoin(ivals, "lo", "hi", pts, "pt",
      binWidth = 10.0, maxBinsPerRow = 64)
      .select($"iid", $"r_pid").as[(Long, Long)].collect().toSeq
    // no duplicates (each pair emitted exactly once) and exact matches
    assert(got.size == got.toSet.size)
    assert(got.toSet == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 10L), (3L, 12L)))
  }

  test("rangeJoin: NULLs and inverted intervals never match") {
    val ivals = Seq(
      (Some(1L), Some(10L), 1L),
      (None, Some(10L), 2L), // null lo
      (Some(1L), None, 3L), // null hi
      (Some(10L), Some(1L), 4L) // inverted
    ).toDF("lo", "hi", "iid")
    val pts = Seq((Some(5L), 10L), (None, 11L)).toDF("pt", "pid")
    val got = JoinOps.rangeJoin(ivals, "lo", "hi", pts, "pt", binWidth = 4.0)
      .select($"iid", $"r_pid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L)))
  }

  test("rangeJoin narrow path plans an equi-join, not a nested-loop product") {
    val l = Seq((1L, 0L, 9L, 1L)).toDF("k", "lo", "hi", "iid")
    val r = Seq((1L, 5L, 1L)).toDF("k", "pt", "pid")
    val plan = JoinOps.rangeJoin(l, "lo", "hi", r, "pt",
      keys = Seq("k" -> "k"), binWidth = 10.0)
      .queryExecution.executedPlan.toString
    // the wide branch is an (empty) broadcast join by design; the narrow
    // branch must never be a product
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("hashpartitioning") || plan.contains("BroadcastHashJoin"),
      s"narrow path must be an equi-join, plan:\n$plan")
  }

  test("asofJoin plans exactly one shuffle (no range-join pair blowup)") {
    val l = Seq((1L, 10L, "x")).toDF("k", "ts", "payload")
    val r = Seq((1L, 5L, 2.0)).toDF("k", "ts", "px")
    val plan = JoinOps.asofJoin(l, r, "k", "ts", "ts")
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 shuffle, plan:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "asof must not degrade to a product join")
  }

  test("asofJoin: NULL keys never match (SQL join semantics)") {
    val l = Seq((Some(1L), 10L, 100L), (None, 10L, 101L)).toDF("k", "ts", "lid")
    val r = Seq((Some(1L), 5L, 1.0), (None, 5L, 2.0)).toDF("k", "ts", "px")
    val got = JoinOps.asofJoin(l, r, "k", "ts", "ts")
      .select($"lid", $"r_px").as[(Long, Option[Double])].collect().toMap
    assert(got(100L).contains(1.0))
    assert(got(101L).isEmpty, "NULL-keyed left row must stay unmatched")
  }

  test("asofJoin: NULL right timestamps never match (ts >= NULL is false)") {
    // the null-ts quote would sort first (nulls-first ascending) and be
    // carried into every key-1 trade if not filtered
    val l = Seq((1L, 10L, 100L), (1L, 3L, 101L)).toDF("k", "ts", "lid")
    val r = Seq((1L, Some(5L), 1.0), (1L, None, 9.9)).toDF("k", "ts", "px")
    val got = JoinOps.asofJoin(l, r, "k", "ts", "ts")
      .select($"lid", $"r_px").as[(Long, Option[Double])].collect().toMap
    assert(got(100L).contains(1.0))
    assert(got(101L).isEmpty, "before any valid quote: must stay unmatched")
  }

  test("connectedComponentsStar matches min-label CC (long and string ids)") {
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (22L, 20L))
      .toDF("id_a", "id_b")
    val a = GraphOps.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val b = GraphOps.connectedComponentsStar(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
    val sedges = Seq(("cat", "cap"), ("cap", "car"), ("dog", "dot")).toDF("a", "b")
    val sa = GraphOps.connectedComponents(sedges, "a", "b").as[(String, String)].collect().toSet
    val sb = GraphOps.connectedComponentsStar(sedges, "a", "b").as[(String, String)].collect().toSet
    assert(sa == sb)
    assert(GraphOps.connectedComponentsStar(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b"), "id_a", "id_b").count() == 0)
  }

  test("connectedComponentsStar: 64-chain converges in O(log n) rounds") {
    // the giant-component shape where min-label degenerates: a chain of
    // diameter n needs ~n min-label rounds; star contraction is O(log n)
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (out, rounds) = GraphOps.connectedComponentsStarCounted(chain, "id_a", "id_b")
    val labels = out.as[(Long, Long)].collect()
    assert(labels.length == 64 && labels.forall(_._2 == 0L))
    assert(rounds <= 12, s"rounds=$rounds - star contraction should need ~log2(64)=6, not ~63")
  }

  test("normalize: NFC + lowercase + whitespace collapse + trim") {
    val rows = Seq(
      (1L, "  Hello\t\tWorld \n"),
      (2L, "café TIME"), // decomposed e + U+0301 -> composed, lowered
      (3L, "already clean"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = rows.select($"id", TextOps.normalize($"text").as("t"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).get == "hello world")
    assert(got(2L).get == "café time")
    assert(got(3L).get == "already clean")
    assert(got(4L).isEmpty)
  }

  test("vocabOov: top-V vocabulary with deterministic ties, per-doc OOV counts") {
    // counts: "a":3, "b":2, "c":2, "d":1 -> V=2 vocab = {a, b} (c ties b
    // on count, loses on token order)
    val docs = Seq(
      (1L, "a b c"), (2L, "a b c"), (3L, "a d"),
      (4L, null.asInstanceOf[String]), (5L, "   ")
    ).toDF("doc_id", "text")
    val got = TextOps.vocabOov(docs, "doc_id", "text", vocabSize = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L), "null/blank docs absent")
    assert(got(1L) == ((3L, 1L, 0.333333))) // c is OOV
    assert(got(2L) == ((3L, 1L, 0.333333)))
    assert(got(3L) == ((2L, 1L, 0.5))) // d is OOV
  }

  test("pageRank: hand-computed path graph, integer rounds are exact") {
    // path 1-2-3, unit=100: deg = {1:1, 2:2, 3:1}, restart = 15
    // round 1: c = {1:100, 2:50, 3:100}
    //   r(1) = 15 + 85*50  div 100 = 57; r(2) = 15 + 85*200 div 100 = 185; r(3) = 57
    // round 2: c = {1:57, 2:92, 3:57}
    //   r(1) = 15 + 85*92  div 100 = 93; r(2) = 15 + 85*114 div 100 = 111; r(3) = 93
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = GraphOps.pageRank(edges, "a", "b", iterations = 2, unit = 100L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 93L, 2L -> 111L, 3L -> 93L))
    // 0 iterations: every vertex sits at its initial unit mass
    val init = GraphOps.pageRank(edges, "a", "b", iterations = 0, unit = 100L)
      .as[(Long, Long)].collect().toMap
    assert(init == Map(1L -> 100L, 2L -> 100L, 3L -> 100L))
  }

  test("trustRank: hand-computed directed chain, seeds hold teleport, unreached stay 0") {
    // 1->2->3 and spam 4->2; seed = {1}, unit=100, boost=15
    // r0 = {1:100, 2:0, 3:0, 4:0}
    // round 1: inflow(2)=100 -> r = {1:15, 2:85, 3:0, 4:0}
    // round 2: inflow(2)=15, inflow(3)=85
    //   -> r = {1:15, 2: 85*15 div 100 = 12, 3: 85*85 div 100 = 72, 4:0}
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 2L)).toDF("a", "b")
    val seeds = Seq(1L).toDF("d")
    val got = GraphOps.trustRank(edges, "a", "b", seeds, "d",
        iterations = 2, unit = 100L)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 15L, 2L -> 12L, 3L -> 72L, 4L -> 0L))
    // 0 iterations: the teleport support itself
    val init = GraphOps.trustRank(edges, "a", "b", seeds, "d",
        iterations = 0, unit = 100L)
      .as[(Long, Long)].collect().toMap
    assert(init == Map(1L -> 100L, 2L -> 0L, 3L -> 0L, 4L -> 0L))
  }

  test("redirectChains: chains resolve with hop counts, loops flag unresolved") {
    val r = Seq(
      ("a", "b"), ("b", "c"),          // a -> b -> c (terminal)
      ("x", "y"), ("y", "x"),          // 2-cycle: both unresolved
      ("m", "m"),                      // self-loop
      ("d", "z2"), ("d", "z1"))        // duplicate from: min target wins
      .toDF("f", "t")
    val out = WebOps.redirectChains(r, "f", "t", maxHops = 8)
      .as[(String, String, Int, Boolean)].collect().map(x => x._1 -> x).toMap
    assert(out("a") == (("a", "c", 2, true)))
    assert(out("b") == (("b", "c", 1, true)))
    assert(!out("x")._4 && !out("y")._4 && !out("m")._4)
    assert(out("d") == (("d", "z1", 1, true)))
  }

  test("coCitation: shared-source pairs count, over-fanout sources drop") {
    val e = Seq(("h1", "a"), ("h1", "b"), ("h1", "c"),
      ("h2", "a"), ("h2", "b"),
      ("mega", "a"), ("mega", "b"), ("mega", "c"), ("mega", "d"))
      .toDF("s", "d")
    val out = WebOps.coCitation(e, "s", "d", maxFanout = 3)
      .as[(String, String, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    // mega (fanout 4 > 3) contributes nothing
    assert(out == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("coupling: shared-target pairs count, over-fanin targets drop") {
    val e = Seq(("a", "t1"), ("b", "t1"), ("c", "t1"),
      ("a", "t2"), ("b", "t2"),
      ("a", "mega"), ("b", "mega"), ("c", "mega"), ("d", "mega"))
      .toDF("s", "d")
    val out = WebOps.coupling(e, "s", "d", maxFanin = 3)
      .as[(String, String, Long)].collect().map(x => (x._1, x._2) -> x._3).toMap
    // mega (fanin 4 > 3) contributes nothing
    assert(out == Map(("a", "b") -> 2L, ("a", "c") -> 1L, ("b", "c") -> 1L))
  }

  test("hits: hand-computed hub/authority split, zeros for unlinked roles") {
    // 1->3, 2->3, 3->4: 1 and 2 are pure hubs, 3 the authority (and a
    // weaker hub), 4 a pure (weaker) authority. unit=100, 1 round:
    //   a(3) = 200, a(4) = 100 -> rescale: 100, 50
    //   h(1) = 100, h(2) = 100, h(3) = 50 -> rescale: 100, 100, 50
    val edges = Seq((1L, 3L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    val got = GraphOps.hits(edges, "s", "d", iterations = 1, unit = 100L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == Map(
      1L -> ((100L, 0L)), 2L -> ((100L, 0L)),
      3L -> ((50L, 100L)), 4L -> ((0L, 50L))))
    // more rounds keep the fixpoint of this graph (it converges fast)
    val deep = GraphOps.hits(edges, "s", "d", iterations = 6, unit = 100L)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(deep(1L)._1 == 100L && deep(3L)._2 == 100L && deep(4L)._1 == 0L)
  }

  test("pageRank: null endpoints drop, duplicate/reversed edges collapse, center outranks leaves") {
    val edges = Seq(
      (Some(1L), Some(2L)), (Some(2L), Some(1L)), (Some(1L), Some(2L)), // one undirected edge
      (Some(1L), Some(3L)), (Some(1L), Some(4L)),                       // star centered at 1
      (None, Some(9L)), (Some(9L), None)                                // no connectivity
    ).toDF("a", "b")
    val got = GraphOps.pageRank(edges, "a", "b", iterations = 10)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L)) // 9 never enters the graph
    assert(got(2L) == got(3L) && got(3L) == got(4L)) // symmetric leaves tie exactly
    assert(got(1L) > got(2L)) // hub collects 3 inflows per round
  }

  test("pageRankCounted: tol=0 stops early on a fixed point, ranks identical to fixed-round") {
    // star: center 0, 30 leaves - converges to an exact integer fixed
    // point well inside 60 rounds at unit=100
    val edges = (1L to 30L).map(l => (0L, l)).toDF("a", "b")
    val (ranksDf, rounds) = GraphOps.pageRankCounted(
      edges, "a", "b", iterations = 60, unit = 100L, tol = 0L)
    assert(rounds < 60, s"expected early stop, ran all $rounds rounds")
    val early = ranksDf.as[(Long, Long)].collect().toMap
    val fixed = GraphOps.pageRank(edges, "a", "b", iterations = 60, unit = 100L)
      .as[(Long, Long)].collect().toMap
    assert(early == fixed, "tol=0 stop must be lossless (exact fixed point)")
    // default tol=-1: no probe, all rounds run, same result as pageRank
    val (df2, r2) = GraphOps.pageRankCounted(edges, "a", "b", iterations = 7, unit = 100L)
    assert(r2 == 7)
    assert(df2.as[(Long, Long)].collect().toMap ==
      GraphOps.pageRank(edges, "a", "b", iterations = 7, unit = 100L)
        .as[(Long, Long)].collect().toMap)
  }

  test("saltedJoin: map-typed columns salt safely, reserved scratch names rejected") {
    // a MapType column would fail xxhash64 analysis if salted over -
    // the salt must skip it and the join still return exact results
    val left = Seq((1L, 10L), (1L, 11L), (2L, 20L)).toDF("lk", "lv")
      .withColumn("m", map(lit("meta"), $"lv".cast("string")))
    val right = Seq((1L, 99L), (1L, 98L)).toDF("rk", "rv")
    val got = JoinOps.saltedJoin(left, right, "lk", "rk", salts = 3)
      .select($"lv", $"rv").as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((10L, 98L), (10L, 99L), (11L, 98L), (11L, 99L)))
    // an input already holding a scratch-named column must be rejected,
    // not silently shadowed through the join condition
    intercept[IllegalArgumentException] {
      JoinOps.saltedJoin(left.withColumn("__lsalt", lit(1)), right, "lk", "rk", 2)
    }
    intercept[IllegalArgumentException] {
      JoinOps.saltedJoin(left, right.withColumn("__rsalt", lit(1)), "lk", "rk", 2)
    }
  }

  test("interleaveBySources: a weights key matching no stratum raises, never an empty frame") {
    val df = Seq((1L, "a"), (2L, "b"), (3L, "a")).toDF("id", "src")
    val e = intercept[Exception] {
      SampleOps.interleaveBySources(df, "id", "src",
        Map("a" -> 0.5, "zz" -> 0.5)).collect()
    }
    assert(e.getMessage.contains("zz") ||
      Option(e.getCause).exists(_.getMessage.contains("zz")))
    // numeric strata render as Spark strings: "1.0" does not match an
    // IntegerType column rendering "1" - error, not silence
    val num = Seq((1L, 1), (2L, 2)).toDF("id", "src")
    intercept[Exception] {
      SampleOps.interleaveBySources(num, "id", "src", Map("1.0" -> 1.0)).collect()
    }
    // the matching rendering works and keeps only that stratum
    assert(SampleOps.interleaveBySources(num, "id", "src", Map("1" -> 1.0))
      .select($"id").as[Long].collect().toSeq == Seq(1L))
  }

  test("kCore: matches an in-memory peel; min core degree >= k; idempotent; empty-safe") {
    // deterministic pseudo-random graph: 40 nodes, edge (i, j) iff
    // (i*7 + j*13) % 17 < 3 for i < j - dense enough for a non-trivial
    // 3-core, sparse enough that peeling removes several waves
    val raw = for {
      i <- 0L until 40L; j <- (i + 1) until 40L
      if (i * 7 + j * 13) % 17 < 3
    } yield (i, j)
    // duplicates and a self-loop must not distort degrees
    val edges = (raw ++ raw.take(5) ++ Seq((3L, 3L))).toDF("a", "b")
    val k = 3
    // reference: in-memory peel over adjacency SETS (dedup + no self)
    var adj = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val bad = adj.collect { case (n, ns) if ns.size < k => n }.toSet
      changed = bad.nonEmpty
      adj = adj.collect {
        case (n, ns) if !bad(n) => n -> (ns -- bad)
      }
    }
    val expect = adj.map { case (n, ns) => (n, ns.size.toLong) }.toSet
    val got = GraphOps.kCore(edges, "a", "b", k)
      .as[(Long, Long)].collect().toSet
    assert(got == expect, s"kCore mismatch:\n got=$got\n exp=$expect")
    assert(got.nonEmpty && got.forall(_._2 >= k))
    // idempotence: the k-core of the core's edge set is the core itself
    val coreNodes = got.map(_._1)
    val coreEdges = raw.filter { case (a, b) => coreNodes(a) && coreNodes(b) }
      .toDF("a", "b")
    val again = GraphOps.kCore(coreEdges, "a", "b", k).as[(Long, Long)].collect().toSet
    assert(again == got)
    assert(GraphOps.kCore(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 2).count() == 0)
    // release contract: the returned frame is a SELF-CONTAINED
    // node-sized checkpoint (a LogicalRDD leaf with its blocks live),
    // not a plan over the loop's edge checkpoints - so the loop's big
    // intermediate blocks were released, yet the result still collects
    val res = GraphOps.kCore(edges, "a", "b", k)
    val leaves = res.queryExecution.analyzed.collectLeaves()
    assert(leaves.size == 1 &&
      leaves.head.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"kCore result must be a materialized checkpoint leaf, got: $leaves")
    assert(res.as[(Long, Long)].collect().toSet == expect)
  }

  test("retrievalEval: hand-checked metrics; no-hit and missing-qrel queries score zero") {
    // q1: rel = {10, 11, 12}; retrieved hits 11 at rank 2 and 12 at rank 5
    // q2: rel = {20}; retrieved never hits -> rr/recall/precision 0, first_rank 0
    // q3: no qrels at all -> n_rel 0, recall 0 by convention
    val retrieved = Seq(
      (1L, 99L, 1), (1L, 11L, 2), (1L, 98L, 3), (1L, 97L, 4), (1L, 12L, 5),
      (2L, 30L, 1), (2L, 31L, 2),
      (3L, 40L, 1),
      (1L, 11L, 6) // beyond k: must be ignored even though relevant
    ).toDF("qid", "doc", "rank")
    val qrels = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 11L), (2L, 20L))
      .toDF("qid", "doc") // duplicate qrel row must not double-count
    val got = SearchOps.retrievalEval(retrieved, "qid", "doc", "rank", qrels, k = 5)
      .as[(Long, Long, Long, Long, Int, Double, Double, Double)]
      .collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 3L, 5L, 2L, 2, 0.5, 0.666667, 0.4)))
    assert(got(2L) == ((2L, 1L, 2L, 0L, 0, 0.0, 0.0, 0.0)))
    assert(got(3L) == ((3L, 0L, 1L, 0L, 0, 0.0, 0.0, 0.0)))
  }

  test("retrievalEval: duplicate (qid, doc) rows inside top-k count once, at their best rank") {
    // a rerank-union run lists doc 11 at ranks 4 AND 2: one distinct
    // retrieved doc, one hit, rr from the earlier rank
    val retrieved = Seq(
      (1L, 99L, 1), (1L, 11L, 2), (1L, 98L, 3), (1L, 11L, 4)
    ).toDF("qid", "doc", "rank")
    val qrels = Seq((1L, 11L)).toDF("qid", "doc")
    val got = SearchOps.retrievalEval(retrieved, "qid", "doc", "rank", qrels, k = 5)
      .as[(Long, Long, Long, Long, Int, Double, Double, Double)]
      .collect()
    assert(got.length == 1)
    // (qid, n_rel, n_ret=3 DISTINCT docs, n_hit=1 not 2, first_rank=2,
    //  rr=1/2, recall=1/1, precision=1/5)
    assert(got.head == ((1L, 1L, 3L, 1L, 2, 0.5, 1.0, 0.2)))
  }

  test("resolveEntities: typo pairs merge, dissimilar stay, nulls survive, hot blocks capped") {
    val ents = Seq(
      (1L, "alpha widget", "b1"), (2L, "alpha widgex", "b1"), // JW ~0.97 -> merged
      (3L, "alpha qqqqq", "b1"), // same block, JW ~0.81 -> alone
      (4L, "beta cog", "b2"), (5L, "beta cog", "b2"), // identical -> merged
      (6L, null.asInstanceOf[String], "b3"), // null name -> singleton, still output
      (10L, "hot a", "hb"), (11L, "hot a", "hb"),
      (12L, "hot a", "hb"), (13L, "hot a", "hb") // block of 4 > cap -> no pairs
    ).toDF("id", "name", "blk")
    val got = DedupOps.resolveEntities(ents, "id", "name",
        concat(col("blk"), lit("|"), element_at(split(col("name"), " "), 1)),
        threshold = 0.9, maxBlockSize = 3)
      .as[(Long, Long)].collect()
    assert(got.length == 10) // every input row, exactly once
    val m = got.toMap
    assert(m(1L) == 1L && m(2L) == 1L)
    assert(m(3L) == 3L)
    assert(m(4L) == 4L && m(5L) == 4L)
    assert(m(6L) == 6L)
    assert(Seq(10L, 11L, 12L, 13L).forall(i => m(i) == i))
  }

  test("keySkew: rank, share, cumulative share, and skew factor match hand arithmetic") {
    val df = (Seq.fill(6)("a") ++ Seq.fill(3)("b") ++ Seq("c")).toDF("k")
    val got = ProfileOps.keySkew(df, "k")
      .as[(String, Long, Int, Double, Double, Double)].collect().sortBy(_._3)
    assert(got(0) == (("a", 6L, 1, 0.6, 0.6, 1.8)))
    assert(got(1) == (("b", 3L, 2, 0.3, 0.9, 0.9)))
    assert(got(2) == (("c", 1L, 3, 0.1, 1.0, 0.3)))
  }

  test("connectedComponents: empty edge list yields empty result, no NPE") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(GraphOps.connectedComponents(empty, "id_a", "id_b").count() == 0)
    assert(distributed(GraphOps.connectedComponents(empty, "id_a", "id_b").count()) == 0)
  }

  test("connectedComponents: min-label per component, chains collapse") {
    // components: {1,2,3,9} via chain 1-2, 2-3, 3-9; {5,6}; {7,8}
    val edges = Seq((2L, 1L), (2L, 3L), (9L, 3L), (5L, 6L), (8L, 7L))
      .toDF("id_a", "id_b")
    // force the DISTRIBUTED propagation loop (the tiny fixture would
    // otherwise take the union-find off-ramp)
    val got = distributed(GraphOps.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap)
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: driver union-find off-ramp == distributed loop") {
    // random graph, both paths, exact equality of rows AND schema (long
    // ids, string ids, and nullable columns with null endpoints)
    val rnd = new scala.util.Random(23)
    val edges = (1 to 300).map(_ => (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .toDF("id_a", "id_b")
    val sEdges = edges.select(concat(lit("v"), format_string("%03d", $"id_a")).as("id_a"),
      concat(lit("v"), format_string("%03d", $"id_b")).as("id_b"))
    val nEdges = edges.select(when($"id_a" % 7 =!= 0, $"id_a").as("id_a"), $"id_b")
    assert(nEdges.schema("id_a").nullable, "spec premise: a nullable column")
    for ((in, what) <- Seq((edges, "long"), (sEdges, "string"), (nEdges, "nullable"))) {
      def run() = {
        val df = GraphOps.connectedComponents(in, "id_a", "id_b")
        (df.schema, df.collect().toSet)
      }
      val (drvSchema, drv) = run()
      val (distSchema, dist) = distributed(run())
      assert(drvSchema == distSchema, s"$what-id off-ramp schema diverged")
      assert(drv == dist, s"$what-id off-ramp diverged from propagation")
    }
  }

  test("fuzzyDedup clusters edit-distance neighbours via the trie") {
    val words = Seq("dog", "dig", "cat", "cot", "zebra", "dog", " cat ")
      .toDF("w")
    val got = DedupOps.fuzzyDedup(words, "w", maxDist = 1)
      .as[(String, String)].collect().toMap
    assert(got == Map(
      "dog" -> "dig", "dig" -> "dig", // min of {dog, dig}
      "cat" -> "cat", "cot" -> "cat",
      "zebra" -> "zebra"))
  }

  test("exactDedup keeps min id and counts copies") {
    val r = DedupOps.exactDedup(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    assert(r.contains((1L, 2L))) // doc 1+5 collapse
    assert(r.size == 4)
  }

  test("jaccardPairs finds exact and near dups, not unrelated docs") {
    val pairs = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.5, shingleLen = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 5L))) // identical -> jaccard 1
    assert(pairs.contains((1L, 2L))) // one word differs
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("scriptAwareTokens: CJK bigrams recover the near-dup pair whitespace tokens miss") {
    // two CJK sentences differing in 2 of 16 chars: whitespace
    // tokenization sees two distinct giant tokens (jaccard 0); the
    // char-bigram cut shares 12 of 18 bigrams
    val a = "机器学习模型训练数据质量至关重要"
    val b = "机器学习模型训练数据质量非常重要"
    val docs = Seq((1L, a), (2L, b), (3L, "unrelated latin words entirely"))
      .toDF("doc_id", "text")
    assert(DedupOps.jaccardPairs(docs, "doc_id", "text", 0.3).count() == 0,
      "whitespace tokens must NOT find the CJK pair (that is the gap)")
    val seg = docs.withColumn("text", DedupOps.segmentNoSpaceScripts($"text"))
    val after = DedupOps.jaccardPairs(seg, "doc_id", "text", 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(after == Set((1L, 2L)), after.toString)
    // the sketch path over the same segmented column finds it too
    val lsh = DedupOps.minhashLshPairs(seg, "doc_id", "text",
        numHashes = 64, bands = 16, shingleLen = 1, threshold = 0.3)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(lsh.contains((1L, 2L)), lsh.toString)
    // token mechanics: mixed tokens bigram whole, spaced tokens pass,
    // single-char no-space tokens stay themselves
    val toks = Seq(("中文abc def 學 plain")).toDF("t")
      .select(DedupOps.scriptAwareTokens($"t").as("k"))
      .as[Seq[String]].head()
    assert(toks == Seq("中文", "文a", "ab", "bc", "def", "學", "plain"), toks.toString)
  }

  test("containmentPairs catches a quoted subset that Jaccard misses; reference equality") {
    val corpus = Seq(
      (1L, "the exam answer is forty two"), // short doc...
      (2L, "preface text first then the exam answer is forty two and a very long trailing " +
        "discussion of unrelated matters continuing for many more words here"), // ...quoted inside
      (3L, "entirely different content about columnar engines"),
      (4L, "the exam answer is forty two") // exact dup of 1
    ).toDF("doc_id", "text")
    val contain = DedupOps.containmentPairs(corpus, "doc_id", "text", 0.8, shingleLen = 2)
      .as[(Long, Long, Double)].collect().toSet
    val jacc = DedupOps.jaccardPairs(corpus, "doc_id", "text", 0.8, shingleLen = 2)
      .as[(Long, Long, Double)].collect().map(p => (p._1, p._2)).toSet
    assert(contain.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0),
      "short doc quoted verbatim must have overlap 1.0")
    assert(!jacc.contains((1L, 2L)),
      "fixture must be a case Jaccard misses (else it proves nothing)")
    assert(contain.exists(p => p._1 == 1L && p._2 == 4L && p._3 == 1.0), "exact dup")
    assert(!contain.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc untouched")
    // reference equality on a random corpus (overlap = inter / min size
    // over distinct 2-shingle sets)
    val rnd = new scala.util.Random(19)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    val randomDocs = (1L to 40L).map { i =>
      (i, Seq.fill(2 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val sets = randomDocs.map { case (id, t) => id -> DedupOps.shingleArray(t, 2).toSet }
    val want = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      inter = (sa & sb).size if inter > 0
      ov = inter.toDouble / math.min(sa.size, sb.size) if ov >= 0.8
    } yield (ia, ib,
      BigDecimal(ov).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSet
    val got = DedupOps.containmentPairs(randomDocs.toDF("doc_id", "text"),
        "doc_id", "text", 0.8, shingleLen = 2)
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, "diverged from in-memory overlap-coefficient reference")
  }

  test("jaccardPairsPrefix == jaccardPairs (lossless prefix filter), incl. caps") {
    // fixture corpus at several thresholds
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val naive = DedupOps.jaccardPairs(docs, "doc_id", "text", t, shingleLen = 3)
        .as[(Long, Long, Double)].collect().toSet
      val pref = DedupOps.jaccardPairsPrefix(docs, "doc_id", "text", t, shingleLen = 3)
        .as[(Long, Long, Double)].collect().toSet
      assert(pref == naive, s"threshold $t: prefix filter changed the answer")
    }
    // random word-soup corpus (seeded): many accidental partial overlaps
    val rnd = new scala.util.Random(7)
    val vocab = Vector("red", "blue", "green", "ox", "fox", "hen", "sun",
      "moon", "星", "tree", "rock", "fish", "bird")
    val randomDocs = (1L to 60L).map { i =>
      (i, Seq.fill(3 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val naive = DedupOps.jaccardPairs(randomDocs, "doc_id", "text", 0.6)
      .as[(Long, Long, Double)].collect().toSet
    val pref = DedupOps.jaccardPairsPrefix(randomDocs, "doc_id", "text", 0.6)
      .as[(Long, Long, Double)].collect().toSet
    assert(pref == naive, "random corpus: prefix filter changed the answer")
    // and with the hot-shingle cap active (cap applied before ranking)
    val naiveCap = DedupOps.jaccardPairs(randomDocs, "doc_id", "text", 0.6,
      maxTokenDocFreq = 10).as[(Long, Long, Double)].collect().toSet
    val prefCap = DedupOps.jaccardPairsPrefix(randomDocs, "doc_id", "text", 0.6,
      maxTokenDocFreq = 10).as[(Long, Long, Double)].collect().toSet
    assert(prefCap == naiveCap, "capped: prefix filter changed the answer")
  }

  test("minhash LSH candidates recover the true near-dup pairs here") {
    val exact = DedupOps.jaccardPairs(docs, "doc_id", "text", 0.7, shingleLen = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val lsh = DedupOps.minhashLshPairs(docs, "doc_id", "text",
      numHashes = 64, bands = 16, shingleLen = 3, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact -- lsh}")
    // estimates on found pairs are in [0,1]
    val ests = DedupOps.minhashLshPairs(docs, "doc_id", "text")
      .select("est_jaccard").as[Double].collect()
    assert(ests.forall(e => e >= 0 && e <= 1))
  }

  test("bucket-size caps drop degenerate hot buckets (skew guard)") {
    // 8 identical docs -> every band bucket has 8 members -> 28 pairs;
    // with the cap below that, the hot buckets are dropped entirely
    val clones = (1L to 8L).map(i => (i, "same text everywhere here")).toDF("doc_id", "text")
    val uncapped = DedupOps.minhashLshPairs(clones, "doc_id", "text",
      numHashes = 16, bands = 4)
    assert(uncapped.count() == 28)
    val capped = DedupOps.minhashLshPairs(clones, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 4)
    assert(capped.count() == 0)
    val simCapped = DedupOps.simhashPairs(clones, "doc_id", "text",
      maxHamming = 3, maxBlockSize = 4)
    assert(simCapped.count() == 0)
  }

  test("hammingPairs: sub-quadrant split (hot blocks > 256 rows) matches the O(n^2) reference") {
    // the r17 skew decomposition replicates rows of hot blocks across
    // triangle sub-quadrants; the produced pair SET must stay identical
    // to a plain all-pairs reference. Fixture engineered to cross the
    // G=1 threshold (subBlockRows = 256): one class of 600 identical
    // hashes (G=3 at radius 0), one of 300 sharing only the LOW block at
    // radius 1 (so cross-block dedupe also exercises), plus scattered
    // near-pairs and singletons.
    val rows =
      (0L until 600L).map(i => (i, 0x1234567890abcdefL)) ++ // hot equal class
      (1000L until 1300L).map(i => (i, (i % 7) << 32 | 0x00000000000000ffL)) ++
      Seq((2000L, 0x0f0f0f0f0f0f0f0fL), (2001L, 0x0f0f0f0f0f0f0f1fL), // hamming 1
        (2002L, 0x7000000000000000L), (2003L, 0x7000000000000001L)) ++
      (3000L until 3050L).map(i => (i, i * 0x9e3779b97f4a7c15L)) // scatter
    for (radius <- Seq(0, 1, 3)) {
      val fps = rows.toDF("id", "h")
      val got = DedupOps.hammingPairs(fps, "id", "h", maxHamming = radius)
        .as[(Long, Long, Int)].collect().toSet
      val arr = rows.toArray
      val expect = (for {
        i <- arr.indices.iterator; j <- (i + 1) until arr.length
        d = java.lang.Long.bitCount(arr(i)._2 ^ arr(j)._2) if d <= radius
        a = math.min(arr(i)._1, arr(j)._1); b = math.max(arr(i)._1, arr(j)._1)
      } yield (a, b, d)).toSet
      assert(got == expect,
        s"radius $radius: got ${got.size} pairs, expected ${expect.size}")
    }
  }

  test("jaccardPairs: hot-token cap bounds candidate pairs, keeps real matches") {
    // every doc shares a stop token, so uncapped candidate generation is
    // quadratic in the corpus (the 100 TB scale-killer); docs 1,2 are
    // genuine near-dups via their OTHER tokens and must survive the cap
    val docs = (Seq(
      (1L, "the alpha beta gamma delta"),
      (2L, "the alpha beta gamma epsilon")) ++
      (3L to 40L).map(i => (i, s"the unique$i token$i word$i"))).toDF("doc_id", "text")
    // threshold 0 exposes the raw candidate-pair count
    assert(DedupOps.jaccardPairs(docs, "doc_id", "text", threshold = 0.0)
      .count() == 40L * 39 / 2) // every pair collides on 'the'
    val capped = DedupOps.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.0, maxTokenDocFreq = 10)
    val pairs = capped.as[(Long, Long, Double)].collect()
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // jaccard is exact within the filtered universe: 3 shared / 5 union
    assert(pairs.head._3 == 0.6)
  }

  test("skew stress: degenerate bucket at B >> cap stays bounded in all three pipelines") {
    // one degenerate key with 500 members (boilerplate clones - the shape
    // of real corpus skew: empty-ish pages, licence headers) versus a cap
    // of 10: uncapped candidate generation is C(500,2) = 124,750 pairs
    // from that single bucket; capped output must contain EXACTLY the
    // genuine near-dup pairs, proving the quadratic key never reaches the
    // pair shuffle. sf0.01 runs only exercise benign distributions, so
    // this is the one place the caps face the skew they exist for.
    val clones = (1000L to 1499L).map(i => (i, "lorem ipsum boilerplate header text"))
    val genuine = Seq(
      (1L, "alpha bravo charlie delta echo foxtrot golf"),
      (2L, "alpha bravo charlie delta echo foxtrot golf"),
      (3L, "hotel india juliett kilo lima mike november"),
      (4L, "hotel india juliett kilo lima mike november"),
      (5L, "oscar papa quebec romeo sierra tango uniform"),
      (6L, "oscar papa quebec romeo sierra tango uniform"))
    val corpus = (clones ++ genuine).toDF("doc_id", "text")
    val genuinePairs = Set((1L, 2L), (3L, 4L), (5L, 6L))

    // minhash LSH: every clone collides with every clone in EVERY band
    val mhUncapped = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
      numHashes = 16, bands = 4)
    assert(mhUncapped.count() >= 500L * 499 / 2, "premise: uncapped IS quadratic")
    val mh = DedupOps.minhashLshPairs(corpus, "doc_id", "text",
      numHashes = 16, bands = 4, maxBucketSize = 10)
      .as[(Long, Long, Double)].collect()
    assert(mh.map(p => (p._1, p._2)).toSet == genuinePairs, s"got ${mh.toSeq}")
    assert(mh.forall(_._3 == 1.0))

    // simhash: clones share one fingerprint -> every block key is hot
    val shUncapped = DedupOps.simhashPairs(corpus, "doc_id", "text", maxHamming = 3)
    assert(shUncapped.count() >= 500L * 499 / 2)
    val sh = DedupOps.simhashPairs(corpus, "doc_id", "text",
      maxHamming = 3, maxBlockSize = 10)
      .as[(Long, Long, Int)].collect()
    assert(sh.map(p => (p._1, p._2)).toSet == genuinePairs, s"got ${sh.toSeq}")
    assert(sh.forall(_._3 == 0))

    // jaccard inverted index: every clone token is shared by all 500
    val jc = DedupOps.jaccardPairs(corpus, "doc_id", "text",
      threshold = 0.0, maxTokenDocFreq = 10)
      .as[(Long, Long, Double)].collect()
    assert(jc.map(p => (p._1, p._2)).toSet == genuinePairs, s"got ${jc.toSeq}")
    assert(jc.forall(_._3 == 1.0))
  }

  test("simhash: identical docs at hamming 0, near-dups close, distinct far") {
    val pairs = DedupOps.simhashPairs(docs, "doc_id", "text", maxHamming = 16)
      .as[(Long, Long, Int)].collect().map(t => (t._1, t._2) -> t._3).toMap
    assert(pairs((1L, 5L)) == 0)
    assert(pairs.get((1L, 2L)).exists(_ <= 16))
    assert(!pairs.contains((3L, 4L)))
  }

  test("fingerprint: stable, whitespace/case-insensitive, order-sensitive") {
    val fps = Seq(
      (1L, "Alpha  Beta\tGamma"),
      (2L, "alpha beta gamma"),
      (3L, "gamma beta alpha")
    ).toDF("id", "t").select($"id", TextOps.fingerprint($"t").as("fp"))
      .as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    // NULL text fingerprints to NULL, not to the empty-doc fingerprint
    val nulls = Seq((1L, Some("")), (2L, Option.empty[String]))
      .toDF("id", "t").select($"id", TextOps.fingerprint($"t").as("fp"))
      .as[(Long, Option[Long])].collect().toMap
    assert(nulls(1L).isDefined && nulls(2L).isEmpty)
  }

  test("deterministicSample: reproducible, entity-consistent, ~fraction sized") {
    val rows = (1L to 2000L).map(i => (i % 500, i)).toDF("key", "v")
    val a = SampleOps.deterministicSample(rows, "key", 0.2)
    val b = SampleOps.deterministicSample(rows.repartition(7), "key", 0.2)
    // identical subset regardless of partitioning (df.sample is not)
    assert(a.select("v").as[Long].collect().toSet ==
      b.select("v").as[Long].collect().toSet)
    // keys are kept or dropped together: 4 rows per kept key
    val perKey = a.groupBy("key").count().select("count").as[Long].collect()
    assert(perKey.forall(_ == 4))
    // sample size tracks the fraction (500 keys, p=0.2 -> ~100)
    assert(perKey.length > 60 && perKey.length < 140, s"got ${perKey.length} keys")
    // boundary fractions
    assert(SampleOps.deterministicSample(rows, "key", 0.0).count() == 0)
    assert(SampleOps.deterministicSample(rows, "key", 1.0).count() == 2000)
    // within 2^-33 of 1.0: rounds to 2^32, which must clamp to 0xffffffff
    // (the unclamped 9-char "100000000" kept only md5 prefixes < "1")
    assert(SampleOps.deterministicSample(rows, "key", 1.0 - 1e-12).count() == 2000)
  }

  test("stratifiedSample: per-stratum fractions, deterministic, default drops") {
    val rows = (1 to 3000)
      .map(i => (i.toLong, Seq("a", "b", "c")(i % 3))).toDF("key", "s")
    val got = SampleOps.stratifiedSample(rows, "key", "s", Map("a" -> 0.5, "b" -> 0.1))
    val counts = got.groupBy("s").count().as[(String, Long)].collect().toMap
    assert(!counts.contains("c")) // unlisted stratum: defaultFraction 0
    assert(math.abs(counts("a") - 500) < 100, s"a=${counts("a")}")
    assert(math.abs(counts("b") - 100) < 60, s"b=${counts("b")}")
    // within a stratum the selection is EXACTLY deterministicSample's:
    // the same keys survive (pure function of the key, engine-independent)
    val viaPlain = SampleOps.deterministicSample(rows.filter($"s" === "a"), "key", 0.5)
      .as[(Long, String)].collect().toSet
    assert(got.filter($"s" === "a").as[(Long, String)].collect().toSet == viaPlain)
    // fraction 1.0 keeps the stratum WHOLE (a hex-clamped threshold would
    // drop the 1-in-2^32 keys whose md5 prefix is exactly ffffffff)
    val whole = SampleOps.stratifiedSample(rows, "key", "s", Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0))
    assert(whole.count() == 3000)
  }

  test("bigramSurprisal: integer log-code replay, boilerplate scores below novel text") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the mat"), // exact dup: same bigrams, higher counts
      (3L, "the cat sat on the mat"),
      (4L, "quantized surprisal ranks exotic constructions higher"),
      (5L, "the the the the the the the the"), // degenerate repetition
      (6L, "one"), // < 2 tokens: absent
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextOps.bigramSurprisal(docs, "doc_id", "text", smoothV = 16L)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("surprisal"),
          r.getAs[Double]("avg_bits"))).toMap
    assert(!got.contains(6L) && !got.contains(7L))
    // independent scalar reference: recompute counts + ilog32 directly
    def ilog(x: Long): Long =
      if (x < 32) x
      else {
        val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
        (e - 5) * 32 + (x >> (e - 5))
      }
    val toks = Map(
      1L -> "the cat sat on the mat", 2L -> "the cat sat on the mat",
      3L -> "the cat sat on the mat",
      4L -> "quantized surprisal ranks exotic constructions higher",
      5L -> "the the the the the the the the"
    ).view.mapValues(_.split("\\s+").toSeq).toMap
    val allBgs = toks.values.flatMap(t => t.sliding(2).map(p => (p(0), p.mkString(" ")))).toSeq
    val c1 = allBgs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val c2 = allBgs.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    toks.foreach { case (id, t) =>
      val ss = t.sliding(2).map { p =>
        ilog((c1(p(0)) + 16L) * 256L) - ilog((c2(p.mkString(" ")) + 1L) * 256L)
      }.toSeq
      assert(got(id)._1 == ss.size && got(id)._2 == ss.sum, s"doc $id")
      assert(got(id)._3 == ss.sum.toDouble / (ss.size * 32).toDouble, s"doc $id avg")
    }
    // the quality-filter story: triplicated boilerplate predicts itself
    // (low bits), the one-off sentence is surprising (high bits), and
    // pure repetition is the most predictable of all
    assert(got(5L)._3 < got(1L)._3 && got(1L)._3 < got(4L)._3)
  }

  test("stripHtml: script/style/comment removal, entity unescape, plain text unchanged") {
    val got = Seq(
      // script/style subtrees vanish wholesale, incl. attrs + newlines +
      // angle brackets inside code
      "<script type=\"a\">\nif (x < 3) { y(\"<b>\"); }\n</script>keep",
      "<STYLE media=\"x\">\np < q { }\n</STYLE>keep",
      // comments (multi-line), then tags to spaces
      "a<!-- c\nd -->b <p class=\"z\">c</p>",
      // entity unescape, &amp; last so &amp;lt; stays literal
      "x &lt;tag&gt; &quot;q&quot; it&#39;s A&nbsp;B &amp; C &amp;lt;",
      // whitespace collapse + trim; plain text untouched
      "  plain   text\n\tstays  ",
      "no html at all"
    ).toDF("t").select(TextOps.stripHtml($"t")).as[String].collect().toSeq
    assert(got == Seq(
      "keep", "keep", "a b c",
      "x <tag> \"q\" it's A B & C &lt;",
      "plain text stays", "no html at all"))
  }

  test("stripHtml numeric refs: general decode, hex/decimal, astral, invalid left literal") {
    val got = Seq(
      // decimal + hex (either case) decode through the code point
      "caf&#233; r&#xE9;sum&#xe9; it&#39;s",
      // astral plane: surrogate-pair arithmetic branch
      "grin &#128512; and hex &#x1F600;",
      // out-of-range and surrogate refs stay literal; double-escaped
      // &amp;#39; decodes the amp only (single-decode discipline)
      "bad &#1114112; worse &#xD800; keep &amp;#39;",
      // refs at string edges and back-to-back
      "&#65;&#66;mid&#67;"
    ).toDF("t").select(TextOps.stripHtml($"t")).as[String].collect().toSeq
    assert(got == Seq(
      "café résumé it's",
      "grin 😀 and hex 😀",
      "bad &#1114112; worse &#xD800; keep &#39;",
      "ABmidC"))
  }

  test("redactPii replaces emails, phones, IPs; leaves clean text alone") {
    val got = Seq(
      "contact bob.smith+x@example.co.uk today",
      "call +1 (555) 123-4567 now",
      "or 555 123 4567 or (555) 123-4567",
      "server at 192.168.0.1 responded",
      "nothing sensitive here 42",
      "released 2024-01-01 14:30 and 1999 2000 2001" // dates/years survive
    ).toDF("t").select(TextOps.redactPii($"t")).as[String].collect()
    assert(got(0) == "contact [EMAIL] today")
    assert(got(1) == "call [PHONE] now")
    assert(got(2) == "or [PHONE] or [PHONE]")
    assert(got(3) == "server at [IP] responded")
    assert(got(4) == "nothing sensitive here 42")
    assert(got(5) == "released 2024-01-01 14:30 and 1999 2000 2001")
  }

  test("langId: all 42 languages separate on their own seed prose") {
    // self-consistency of the trained table: every training paragraph
    // must classify as its own language (if this breaks, the resource
    // and the tool have drifted apart)
    val seeds = graft.tools.LangProfilesTool.seeds.toSeq
    val r = seeds.map { case (l, s) => (l, s) }.toDF("lang", "t")
      .select($"lang", TextOps.langId($"t").as("pred"))
      .as[(String, String)].collect()
    val wrong = r.filter { case (l, p) => l != p }
    assert(wrong.isEmpty, s"seed misclassified: ${wrong.mkString(", ")}")
    assert(r.length == 42)
  }

  test("langId kernel: non-BMP input walks code points (gram windows never split surrogate pairs)") {
    // astral-plane chars are 2 UTF-16 units but ONE code point - the
    // kernel's gram windows must count code points (the unit Spark's
    // substring counts), never char units; emoji-only text has no
    // vocabulary evidence -> und, and emoji mixed into a real sentence
    // must not corrupt the verdict or crash the offset walk
    val got = Seq(
      (1L, "😀😀😀"), // emoji only -> und
      (2L, "she opened the 😀 window and looked at the quiet street"),
      (3L, "🎉 los estudiantes escriben cartas largas durante las vacaciones 🎉"),
      (4L, "😀")
    ).toDF("id", "t").select($"id", TextOps.langId($"t").as("lang"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "und", got.toString)
    assert(got(2L) == "en", got.toString)
    assert(got(3L) == "es", got.toString)
    assert(got(4L) == "und", got.toString)
  }

  test("langId: novel sentences classify; digits/unknown/null/empty are und") {
    val fixtures = Seq(
      "en" -> "she opened the window and looked at the quiet street below",
      "es" -> "los estudiantes escriben cartas largas durante las vacaciones de verano",
      "de" -> "die kinder möchten am wochenende mit ihren freunden schwimmen gehen",
      "fr" -> "nous avons mangé du pain avec du fromage près de la rivière",
      "it" -> "questa sera andiamo al cinema con i nostri amici più cari",
      "pt" -> "as crianças não estão brincando no jardim porque está chovendo muito hoje",
      "nl" -> "vandaag gaan wij met de fiets naar de markt in de stad",
      "sv" -> "han dricker kaffe varje morgon innan han går till kontoret",
      "da" -> "hun købte nogle æbler og lidt brød til frokosten i dag",
      "no" -> "om morgenen tar barna toget til skolen og leser bøker på veien",
      "fi" -> "me menemme huomenna kirjastoon lukemaan uusia kirjoja yhdessä",
      "pl" -> "wczoraj wieczorem czytaliśmy ciekawą książkę o dalekich podróżach",
      "cs" -> "dnes večer půjdeme s přáteli do divadla na novou hru",
      "ro" -> "copiii merg la școală dimineața și învață lucruri interesante",
      "hu" -> "holnap reggel elmegyünk a piacra friss gyümölcsöt vásárolni",
      "tr" -> "yarın sabah erkenden kalkıp deniz kenarında yürüyüş yapacağız",
      "ru" -> "вчера вечером мы долго гуляли по старому городу и разговаривали",
      "uk" -> "сьогодні вранці діти пішли до школи разом зі своїми друзями",
      "el" -> "αύριο το πρωί θα πάμε στη θάλασσα με τα παιδιά μας",
      "ar" -> "ذهبنا إلى السوق في الصباح واشترينا خبزا وفواكه طازجة",
      "hi" -> "कल शाम हम सब मिलकर बाजार गए और ताजे फल खरीदे",
      "zh" -> "明天早上我们一起去图书馆看书然后到公园散步",
      "ja" -> "昨日の夜は友達と一緒においしい料理を食べました",
      "ko" -> "오늘 아침에 친구와 함께 도서관에서 책을 읽었습니다",
      "vi" -> "sáng nay chúng tôi cùng nhau đi chợ mua rau và trái cây tươi",
      "id" -> "besok pagi kami akan pergi ke pasar untuk membeli buah segar",
      // round-12 breadth languages, same held-out discipline: none of
      // these sentences appear in the training seeds
      "bg" -> "утре сутринта ще отидем на пазара да купим пресни плодове и зеленчуци",
      "bn" -> "আগামীকাল সকালে আমরা বাজারে গিয়ে তাজা ফল কিনব",
      "ca" -> "demà al matí anirem al mercat a comprar fruita fresca i verdures",
      "et" -> "homme hommikul läheme turule värskeid puuvilju ostma",
      "eu" -> "bihar goizean merkatura joango gara fruta freskoa erostera",
      "fa" -> "فردا صبح به بازار می رویم تا میوه تازه بخریم",
      "he" -> "מחר בבוקר נלך לשוק לקנות פירות טריים וירקות",
      "hr" -> "sutra ujutro idemo na tržnicu kupiti svježe voće i povrće",
      "lt" -> "rytoj ryte eisime į turgų pirkti šviežių vaisių ir daržovių",
      "lv" -> "rīt no rīta mēs iesim uz tirgu pirkt svaigus augļus un dārzeņus",
      "sk" -> "zajtra ráno pôjdeme na trh kúpiť čerstvé ovocie a zeleninu",
      "sl" -> "jutri zjutraj gremo na tržnico kupit sveže sadje in zelenjavo",
      "sr" -> "сутра ујутру идемо на пијацу да купимо свеже воће и поврће",
      "sw" -> "kesho asubuhi tutaenda sokoni kununua matunda mapya na mboga",
      "ta" -> "நாளை காலையில் நாங்கள் சந்தைக்குச் சென்று புதிய பழங்களை வாங்குவோம்",
      "th" -> "พรุ่งนี้เช้าเราจะไปตลาดเพื่อซื้อผลไม้สดและผัก"
    )
    val r = fixtures.toDF("lang", "t")
      .select($"lang", TextOps.langId($"t").as("pred"))
      .as[(String, String)].collect()
    val wrong = r.filter { case (l, p) => l != p }
    assert(wrong.isEmpty, s"fixture misclassified: ${wrong.mkString(", ")}")
    // no evidence -> und: digits/punct only, empty, NULL, out-of-vocab noise
    val und = Seq((1L, "12345 67890 ### !!!"), (2L, ""), (3L, null.asInstanceOf[String]))
      .toDF("id", "t").select($"id", TextOps.langId($"t").as("pred"))
      .as[(Long, String)].collect().toMap
    assert(und(1L) == "und" && und(2L) == "und" && und(3L) == "und")
  }

  test("langExpectedScript: covers every trained language; agreement holds on clean text") {
    // the consistency map must stay total over the trained language set
    assert(TextOps.langProfiles._1.toSet == TextOps.langExpectedScript.keySet)
    // clean single-language text: predicted language's expected script
    // == the dominant script (the composed pipeline's agreement case)
    val rows = Seq(
      (1L, "вчера вечером мы долго гуляли по старому городу и разговаривали"),
      (2L, "the quick brown fox jumps over the lazy dog near the river"),
      (3L, "η γρήγορη καφέ αλεπού πηδά πάνω από τον τεμπέλη σκύλο"),
      (4L, "ذهبنا إلى السوق في الصباح واشترينا خبزا وفواكه طازجة")
    ).toDF("id", "t")
    val got = rows.select($"id", TextOps.langId($"t").as("lang"))
      .join(TextOps.scriptProfile(rows, "id", "t").select($"id", $"dominant"), "id")
      .as[(Long, String, String)].collect()
    got.foreach { case (id, lang, dom) =>
      assert(TextOps.langExpectedScript(lang) == dom,
        s"row $id: lang=$lang expects ${TextOps.langExpectedScript(lang)}, dominant=$dom")
    }
  }

  test("langId plan: shuffle-free scan-fused codegen kernel (no table in the plan)") {
    val df = spark.range(50).select(col("id"),
      concat(lit("the quick brown fox number "), col("id")).as("t"))
    val scored = df.select(TextOps.langId(col("t")))
    val plan = scored.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"langId must not shuffle:\n${plan.take(2000)}")
    assert(!plan.contains("Join"), s"langId must not join:\n${plan.take(2000)}")
    // the scorer must be the O(1)-per-gram codegen kernel, and the
    // weight table must ride as the per-JVM static (loaded once from
    // the classpath), NOT as a plan literal: the map-literal spelling
    // linear-scanned all ~12k keys per gram inside an interpreted fold
    // (~51 ms per 300-char doc) and embedded the table in every task
    // binary
    assert(plan.contains("lang_id_score"),
      s"langId must score through the LangIdScore kernel:\n${plan.take(2000)}")
    val mapLiterals = scored.queryExecution.analyzed.expressions.map(_.collect {
      case l: org.apache.spark.sql.catalyst.expressions.Literal
        if l.dataType.isInstanceOf[org.apache.spark.sql.types.MapType] => l
    }.size).sum
    assert(mapLiterals == 0, s"weight-table literal embedded $mapLiterals times, want 0")
  }

  test("qualitySignals: each band moves the score; good text scores 1.0") {
    val good = ("spark shuffles sorted partitions through columnar scans while " +
      "catalyst rewrites filters into pruned exchanges across tables today").toLowerCase
    val r = TextOps.qualitySignals(Seq(
      (1L, ("word " * 50).trim), // repetitive: fails only distinct-ratio -> 0.75
      (2L, "0 12 345 6789 00 11 22 33 44 55 66 77 88 99 000 111 222 333 444"), // 19 digit words: fails alpha + word-count
      (3L, good + " " + good) // 36 words, varied, alpha -> all four bands
    ).toDF("id", "t"), "id", "t").as[(Long, Int, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> t._6).toMap
    assert(r.values.forall(s => s >= 0.0 && s <= 1.0))
    assert(r(1L) == 0.75)
    assert(r(2L) <= 0.5) // fails alpha-ratio and word-count bands
    assert(r(3L) == 1.0)
  }

  test("funnel: strict ordering, out-of-order events never convert, chain stops at gaps") {
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L), // full chain
      // click@5 precedes the first view -> doesn't count; purchase@12
      // precedes the qualifying click@15 -> chain stops
      (2L, "click", 5L), (2L, "view", 10L), (2L, "purchase", 12L), (2L, "click", 15L),
      (3L, "purchase", 1L), // no view at all -> not in the funnel
      (4L, "view", 10L), (4L, "click", 10L) // tie is NOT strictly after
    ).toDF("u", "et", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val got = TimeOps.funnel(ev, "u", "et", "ts", Seq("view", "click", "purchase"))
      .select(col("u"), unix_timestamp(col("t_view")), unix_timestamp(col("t_click")),
        unix_timestamp(col("t_purchase")))
      .as[(Long, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got.keySet == Set(1L, 2L, 4L))
    assert(got(1L) == ((Some(10L), Some(20L), Some(30L))))
    assert(got(2L) == ((Some(10L), Some(15L), None)))
    assert(got(4L) == ((Some(10L), None, None)))
  }

  test("cohortRetention: first-seen day buckets, per-offset distinct counts") {
    val day = 86400L
    val ev = Seq(
      (1L, 0L), (1L, day + 5L),            // cohort d0, active offsets 0 and 1
      (2L, 10L), (2L, 2 * day),            // cohort d0, active offsets 0 and 2
      (3L, day), (3L, day + 100L)          // cohort d1, active offset 0 (twice -> one)
    ).toDF("u", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val got = TimeOps.cohortRetention(ev, "u", "ts")
      .select(date_format(col("cohort_day"), "yyyy-MM-dd"), col("day_offset"), col("n_users"))
      .as[(String, Int, Long)].collect().toSet
    assert(got == Set(
      ("1970-01-01", 0, 2L), ("1970-01-01", 1, 1L), ("1970-01-01", 2, 1L),
      ("1970-01-02", 0, 1L)))
  }

  test("klDivergence: hand-computed divergences; single-doc corpus scores exactly 0") {
    // corpus counts: a:2, b:2, c:1 (N=5) -> q = {a:0.4, b:0.4, c:0.2}
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = TextOps.klDivergence(df, "doc_id", "text")
      .as[(Long, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L, 2L), "null-text doc excluded")
    val kl1 = 2.0 / 3 * math.log((2.0 / 3) / 0.4) + 1.0 / 3 * math.log((1.0 / 3) / 0.4)
    val kl2 = 0.5 * math.log(0.5 / 0.4) + 0.5 * math.log(0.5 / 0.2)
    assert(got(1L)._1 == 3 && math.abs(got(1L)._2 - kl1) < 1e-6)
    assert(got(2L)._1 == 2 && math.abs(got(2L)._2 - kl2) < 1e-6)
    assert(got.values.forall(_._2 >= 0.0), "KL vs the pooled corpus is non-negative")
    // a single doc IS the corpus distribution -> divergence exactly 0
    val solo = TextOps.klDivergence(
      Seq((9L, "x y x")).toDF("doc_id", "text"), "doc_id", "text")
      .as[(Long, Int, Double)].head()
    assert(solo == ((9L, 3, 0.0)))
  }

  test("iqrOutliers: Tukey fences flag exactly the out-of-fence rows, per group") {
    // group A: values 1..9 plus 100 -> q1=3.25, q3=7.75, iqr=4.5,
    // fences [-3.5, 14.5] -> only 100 is out. group B: tight cluster,
    // no outliers. NULL group: its own stratum (null-safe join).
    val df = ((1 to 9).map(i => ("A", i.toDouble)) :+ ("A", 100.0)) ++
      Seq(("B", 5.0), ("B", 6.0), ("B", 7.0), (null.asInstanceOf[String], 1.0))
    val got = ProfileOps.iqrOutliers(df.toDF("g", "v"), "g", "v", 1.5)
    val flagged = got.filter(col("is_outlier"))
      .select("g", "v").as[(String, Double)].collect().toSet
    assert(flagged == Set(("A", 100.0)))
    assert(got.count() == 14, "every input row comes back, flagged or not")
    val aFences = got.filter(col("g") === "A")
      .select("fence_lo", "fence_hi").distinct().as[(Double, Double)].head()
    assert(math.abs(aFences._1 - (-3.5)) < 1e-9 && math.abs(aFences._2 - 14.5) < 1e-9)
  }

  test("equiWidthHistogram: bucket edges, max in last bin, degenerate group, nulls dropped") {
    val df = Seq(
      ("A", Some(0.0)), ("A", Some(2.4)), ("A", Some(2.5)), ("A", Some(5.0)),
      ("A", Some(9.9)), ("A", Some(10.0)),
      ("B", Some(7.0)), ("B", Some(7.0)), // degenerate: min == max -> all bin 0
      ("C", None: Option[Double])
    ).toDF("g", "v")
    val got = ProfileOps.equiWidthHistogram(df, "g", "v", bins = 4)
      .as[(String, Int, Long)].collect().toSet
    // A spans [0,10], width 2.5: 0->b0, 2.4->b0, 2.5->b1, 5.0->b2, 9.9->b3, 10.0(max)->b3
    assert(got == Set(("A", 0, 2L), ("A", 1, 1L), ("A", 2, 1L), ("A", 3, 2L), ("B", 0, 2L)))
  }

  test("compactChangelog: latest wins, ties broken, tombstone order decides presence") {
    val log = Seq(
      (1L, 10L, 1L, "upsert", "a"), // key 1: upsert then delete -> absent
      (1L, 20L, 2L, "delete", "b"),
      (2L, 10L, 3L, "delete", "c"), // key 2: delete then upsert -> present
      (2L, 20L, 4L, "upsert", "d"),
      (3L, 10L, 5L, "upsert", "e"), // key 3: co-timestamped, max seq wins
      (3L, 10L, 6L, "upsert", "f"),
      (4L, 10L, 7L, null, "g") // NULL op: NOT a tombstone - key survives
    ).toDF("k", "ts", "seq", "op", "payload")
    val got = MergeOps.compactChangelog(log, Seq("k"), "ts", "seq",
      deleteMarker = col("op") === "delete")
      .select("k", "seq", "payload").as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((2L, 4L, "d"), (3L, 6L, "f"), (4L, 7L, "g")))
    // without a delete marker: pure keep-latest, all keys survive
    val all = MergeOps.compactChangelog(log, Seq("k"), "ts", "seq")
      .select("k", "seq").as[(Long, Long)].collect().sortBy(_._1)
    assert(all.toSeq == Seq((1L, 2L), (2L, 4L), (3L, 6L), (4L, 7L)))
  }

  test("scd2: contiguous intervals per key, single open-ended current row") {
    val log = Seq(
      (1L, 10L, 1L, "v1"), (1L, 20L, 2L, "v2"), (1L, 30L, 3L, "v3"),
      (2L, 15L, 4L, "w1")
    ).toDF("k", "ts", "seq", "v")
    val got = MergeOps.scd2(log, Seq("k"), "ts", "seq")
      .select("k", "seq", "valid_from", "valid_to", "is_current")
      .as[(Long, Long, Long, Option[Long], Boolean)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq == Seq(
      (1L, 1L, 10L, Some(20L), false),
      (1L, 2L, 20L, Some(30L), false),
      (1L, 3L, 30L, None, true),
      (2L, 4L, 15L, None, true)))
  }

  test("assignSplits: total coverage, deterministic, proportions track, FP-safe last bucket") {
    val n = 20000
    val df = (1L to n.toLong).toDF("id")
    val s = SampleOps.assignSplits(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect()
    assert(s.length == n && s.forall(_._2 != null), "every row labeled")
    val counts = s.groupBy(_._2).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 0.8 * n) < 0.03 * n)
    assert(math.abs(counts("val") - 0.1 * n) < 0.02 * n)
    assert(math.abs(counts("test") - 0.1 * n) < 0.02 * n)
    val again = SampleOps.assignSplits(df, "id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .as[(Long, String)].collect()
    assert(again.sortBy(_._1).sameElements(s.sortBy(_._1)))
  }

  test("leakageSafeSplit: cluster members co-assigned, singletons keyed by own id, md5 reference") {
    // clusters: {1,2,5} (rep 1), {3,7} (rep 3); 4 and 6 are singletons
    val docsDf = (1L to 7L).map(i => (i, s"doc number $i")).toDF("doc_id", "text")
    val clusters = Seq((1L, 1L), (2L, 1L), (5L, 1L), (3L, 3L), (7L, 3L))
      .toDF("id", "cluster_id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val got = SampleOps.leakageSafeSplit(docsDf, "doc_id", clusters, splits)
      .as[(Long, Long, String)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.size == 7, "every doc labeled exactly once")
    // the leakage invariant: every cluster member shares rep AND split
    assert(Set(got(1L), got(2L), got(5L)).size == 1, "cluster {1,2,5} must co-assign")
    assert(Set(got(3L), got(7L)).size == 1, "cluster {3,7} must co-assign")
    assert(got(4L)._1 == 4L && got(6L)._1 == 6L, "singletons keyed by their own id")
    // split matches an independent md5 reference on the representative
    def refSplit(rep: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val p = md.digest(rep.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 8)
      if (p < f"${math.round(0.8 * 0x100000000L)}%08x") "train"
      else if (p < f"${math.round(0.9 * 0x100000000L)}%08x") "val"
      else "test"
    }
    for ((id, (rep, split)) <- got)
      assert(split == refSplit(rep), s"doc $id: rep $rep")
    // a hand-built clusters frame with a DUPLICATE id must not fan the
    // join out (no doc appears twice); the deterministic min rep wins
    val dupClusters = clusters.unionByName(Seq((2L, 99L)).toDF("id", "cluster_id"))
    val got2 = SampleOps.leakageSafeSplit(docsDf, "doc_id", dupClusters, splits)
      .as[(Long, Long, String)].collect()
    assert(got2.length == 7, s"duplicate cluster id duplicated docs: ${got2.length}")
    assert(got2.find(_._1 == 2L).get._2 == 1L, "min cluster_id must win for the duplicated id")
  }

  test("duplicateSpans == in-memory reference; short/null docs absent; dup docs fully flagged") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog walked a different path"), // shared aligned prefix
      (3L, "Completely unrelated writing about columnar execution engines here"),
      (4L, "tiny"), // shorter than one window -> absent from output
      (5L, null.asInstanceOf[String]),
      (6L, "the quick brown fox jumps over the lazy dog near the river bank today") // exact dup of 1
    ).toDF("doc_id", "text")
    val W = 20; val S = 5
    val got = DedupOps.duplicateSpans(corpus, "doc_id", "text", window = W, step = S)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    // reference: same windows, cross-doc frequency, per-doc counts
    val texts = Map(1L -> "the quick brown fox jumps over the lazy dog near the river bank today",
      2L -> "the quick brown fox jumps over the lazy dog walked a different path",
      3L -> "Completely unrelated writing about columnar execution engines here",
      6L -> "the quick brown fox jumps over the lazy dog near the river bank today")
      .view.mapValues(_.toLowerCase).toMap
    def wins(t: String): Seq[String] =
      (1 to (t.length - W + 1) by S).map(p => t.substring(p - 1, p - 1 + W))
    val docsWith = texts.toSeq.flatMap { case (id, t) => wins(t).distinct.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    val want = texts.toSeq.map { case (id, t) =>
      val ws = wins(t)
      val dup = ws.count(w => docsWith(w) >= 2)
      (id, ws.size.toLong, dup.toLong,
        BigDecimal(dup.toDouble / ws.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    assert(got.map(r => (r._1, r._2, r._3)).sameElements(want.map(r => (r._1, r._2, r._3))))
    got.zip(want).foreach { case (g, w) => assert(math.abs(g._4 - w._4) < 1e-9) }
    val byId = got.map(r => r._1 -> r).toMap
    assert(byId(1L)._4 == 1.0 && byId(6L)._4 == 1.0, "exact dups: every window shared")
    assert(byId(3L)._3 == 0L, "unique doc: zero shared windows")
    assert(byId(2L)._3 > 0L && byId(2L)._4 < 1.0, "partial overlap flags only the shared prefix")
    assert(!byId.contains(4L) && !byId.contains(5L))
  }

  test("removeDuplicateSpans: reference excision; unique docs no-op; exact dups collapse") {
    val W = 20; val S = 5
    // exactly 40 chars = 2*W, so the stride-5 windows tile it FULLY
    // (positions 1..21 cover chars 1..40) and exact dups collapse to ""
    val shared = "the quick brown fox jumps over the lazy."
    assert(shared.length == 2 * 20)
    val corpus = Seq(
      (1L, shared + " dog near the river bank today"),
      (2L, shared + " cat under an old oak tree now"),
      (3L, "completely unrelated writing about columnar engines"),
      (4L, "tiny"), // shorter than one window -> unchanged, 0 dups
      (5L, null.asInstanceOf[String]), // dropped (no text to clean)
      (6L, shared), // exact dup of the shared span, len = 2W
      (7L, shared) // covered fully -> collapses to ""
    ).toDF("doc_id", "text")
    val got = DedupOps.removeDuplicateSpans(corpus, "doc_id", "text", W, S)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // in-memory reference: per-char coverage by cross-doc dup windows
    val texts = Map(
      1L -> (shared + " dog near the river bank today"),
      2L -> (shared + " cat under an old oak tree now"),
      3L -> "completely unrelated writing about columnar engines",
      6L -> shared, 7L -> shared)
    def positions(t: String): Seq[Int] =
      if (t.length < W) Seq.empty else 1 to (t.length - W + 1) by S
    val docsWith = texts.toSeq
      .flatMap { case (id, t) =>
        positions(t).map(p => t.substring(p - 1, p - 1 + W).toLowerCase -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.size).toMap
    texts.foreach { case (id, t) =>
      val dups = positions(t).filter(p =>
        docsWith(t.substring(p - 1, p - 1 + W).toLowerCase) >= 2)
      val covered = dups.flatMap(p => p until p + W).toSet
      val want = t.zipWithIndex.collect {
        case (c, i) if !covered(i + 1) => c }.mkString
      assert(got(id)._3 == want, s"doc $id: got '${got(id)._3}' want '$want'")
      assert(got(id)._2 == dups.size.toLong)
    }
    assert(got(3L)._3 == texts(3L) && got(3L)._2 == 0L, "unique doc is a no-op")
    assert(got(4L)._3 == "tiny" && got(4L)._2 == 0L, "sub-window doc passes through")
    assert(!got.contains(5L))
    assert(got(6L)._3 == "" && got(7L)._3 == "", "exact dups collapse to empty")
    assert(got(1L)._3.nonEmpty && !got(1L)._3.contains("quick brown"),
      "shared prefix excised, unique tail survives")
  }

  test("dedupLines: global first occurrence wins; short lines never dedup; order kept") {
    val corpus = Seq(
      (1L, "unique first line of doc one\nShare this article now!\nok\nbody text one here"),
      (2L, "Share this article now!\nunique line of doc two\nok\nShare this article now!"),
      (3L, "Share this article now!\nbody text one here\nok"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextOps.dedupLines(corpus, "doc_id", "text", minLen = 10)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    // doc 1 owns the first "Share this article now!" (line 1 beats doc
    // 2/3's copies) and the first "body text one here"
    assert(got(1L) == ((1L, 4L, 0L,
      "unique first line of doc one\nShare this article now!\nok\nbody text one here")))
    // doc 2 loses BOTH its copies (doc 1 published first), keeps its
    // unique line and the short 'ok' connector
    assert(got(2L) == ((2L, 4L, 2L, "unique line of doc two\nok")))
    // doc 3 loses both boilerplate lines, keeps only the short line
    assert(got(3L) == ((3L, 3L, 2L, "ok")))
    assert(!got.contains(4L))
  }

  test("exactDuplicateSpans recovers planted regions exactly where stride-10 is blind") {
    val L = 40
    // 44-char shared region: only 5 step-1 window starts fit inside it
    // ([a, a+4]), so planting it at a ≡ 2 (mod 10) leaves NO stride-10
    // window fully inside - the strided profile cannot see it
    val region = ('a' to 'z').mkString + "0123456789" + "abcdefgh"
    assert(region.length == 44)
    val rpt = "zyxwvu-9876 repeated block padding!" // intra-doc only
    val corpus = Seq(
      // boundary discipline: the two prefixes end in DIFFERENT chars
      // ('.' vs '!') and the two suffixes start in different chars
      // (' ' vs '-'), so no window crossing a region edge can match
      // cross-doc and the recovered span is the region, exactly
      (1L, "px1 filler." + region + " tail one, unique here."), // a = 12
      (2L, "px2 longer filler ab!" + region.toUpperCase + "-other tail."), // a = 22
      (3L, "completely unrelated writing about columnar engines and scans"),
      (4L, rpt + rpt + rpt), // repetition inside ONE doc: never flagged
      (5L, null.asInstanceOf[String]),
      (6L, "exact duplicate pair shares its whole text from start to end!!"),
      (7L, "exact duplicate pair shares its whole text from start to end!!")
    ).toDF("doc_id", "text")
    assert(corpus.collect()(0).getString(1).indexOf(region) == 11) // 1-based 12
    assert(corpus.collect()(1).getString(1).indexOf(region.toUpperCase) == 21)
    val exact = DedupOps.exactDuplicateSpans(corpus, "doc_id", "text", minLen = L)
      .as[(Long, Int, Int)].collect().sortBy(r => (r._1, r._2)).toSeq
    val wholeLen = "exact duplicate pair shares its whole text from start to end!!".length
    // planted regions come back at character-exact boundaries (doc 2's
    // UPPERCASE copy matches through the lowercase fold, positions stay
    // original); exact-dup docs collapse to one whole-text span
    assert(exact == Seq(
      (1L, 12, 44), (2L, 22, 44),
      (6L, 1, wholeLen), (7L, 1, wholeLen)), s"got $exact")
    // recall quantified: the strided profile sees ZERO duplicated
    // windows on the same corpus (0/2 planted regions; exact gets 2/2)
    val strided = DedupOps.duplicateSpans(corpus, "doc_id", "text", window = L, step = 10)
      .as[(Long, Long, Long, Double)].collect()
    assert(strided.filter(r => r._1 == 1L || r._1 == 2L).forall(_._3 == 0L),
      "stride-10 must miss the badly-aligned 44-char region")
  }

  test("tokenBudgetSample: expected volume tracks the budget, under-budget strata intact") {
    val n = 3000
    // stratum 'big': ~n*100 = 300k volume, budget 30k -> keep ~10%;
    // stratum 'small': ~20k volume, under budget -> keep ALL
    val df = (1L to n.toLong).map(i =>
      (i, if (i % 3 == 0) "small" else "big", if (i % 3 == 0) 20L else 150L))
      .toDF("id", "src", "vol")
    val kept = SampleOps.tokenBudgetSample(df, "id", "src", "vol", budgetPerStratum = 30000.0)
      .as[(Long, String, Long)].collect()
    val small = kept.filter(_._2 == "small")
    assert(small.length == n / 3, "under-budget stratum must keep every row")
    val bigVol = kept.filter(_._2 == "big").map(_._3).sum.toDouble
    assert(bigVol > 30000 * 0.7 && bigVol < 30000 * 1.3,
      s"surviving volume $bigVol should track the 30k budget")
    // deterministic
    val again = SampleOps.tokenBudgetSample(df, "id", "src", "vol", budgetPerStratum = 30000.0)
      .as[(Long, String, Long)].collect()
    assert(again.sortBy(_._1).sameElements(kept.sortBy(_._1)))
    // NULL stratum is a stratum like any other (null-safe join): small
    // volume -> under budget -> every row kept, none silently dropped
    val withNull = (1L to 100L).map(i => (i, if (i % 2 == 0) null else "big", 10L))
      .toDF("id", "src", "vol")
    val keptNull = SampleOps.tokenBudgetSample(withNull, "id", "src", "vol", 30000.0)
      .as[(Long, Option[String], Long)].collect()
    assert(keptNull.count(_._2.isEmpty) == 50, "NULL-stratum rows must survive")
  }

  test("temperatureMix: T flattens the head, T=1 is proportional, budgets track") {
    val n = 4000
    // head: ~3000 rows x 100 = 300k; tail: ~1000 rows x 20 = 20k
    val df = (1L to n.toLong).map(i =>
      (i, if (i % 4 == 0) "tail" else "head", if (i % 4 == 0) 20L else 100L))
      .toDF("id", "src", "vol")
    def keptVol(t: Double, budget: Double): Map[String, Double] =
      SampleOps.temperatureMix(df, "id", "src", "vol", budget, t)
        .as[(Long, String, Long)].collect()
        .groupBy(_._2).map { case (k, v) => k -> v.map(_._3).sum.toDouble }
    // T=1: p_s = n_s/N -> keep fraction identical across strata
    val t1 = keptVol(1.0, 32000.0)
    val fHead = t1.getOrElse("head", 0.0) / 300000.0
    val fTail = t1.getOrElse("tail", 0.0) / 20000.0
    assert(math.abs(fHead - fTail) < 0.05, s"T=1 proportional: $fHead vs $fTail")
    // T=2: sqrt weighting shifts share toward the tail
    val t2 = keptVol(2.0, 32000.0)
    assert(t2("tail") / t2("head") > t1("tail") / t1("head"),
      s"T=2 must favor the tail: $t2 vs $t1")
    // total kept volume tracks the budget at T=2 (no stratum clamped)
    val tot2 = t2.values.sum
    assert(tot2 > 32000 * 0.7 && tot2 < 32000 * 1.3, s"total $tot2 vs 32k budget")
    // deterministic
    assert(keptVol(2.0, 32000.0) == t2)
  }

  test("weightedSample: keep-rate tracks min(1, frac*w), deterministic, null/zero weights drop") {
    val n = 4000
    val df = (1L to n.toLong).map(i => (i, (i % 4) match {
      case 0 => 0.0
      case 1 => 0.5
      case 2 => 1.0
      case _ => 5.0 // saturates at P = 1
    })).toDF("id", "w")
    val kept = SampleOps.weightedSample(df, "id", "w", fraction = 0.4)
      .as[(Long, Double)].collect()
    val byW = kept.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!byW.contains(0.0)) // zero weight keeps nothing
    // expected keep-rates: 0.5 -> 0.2, 1.0 -> 0.4, 5.0 -> min(1, 2) = 1
    assert(byW(5.0) == n / 4)
    assert(math.abs(byW(0.5).toDouble / (n / 4) - 0.2) < 0.05)
    assert(math.abs(byW(1.0).toDouble / (n / 4) - 0.4) < 0.05)
    // deterministic: identical subset on rerun
    val again = SampleOps.weightedSample(df, "id", "w", fraction = 0.4)
      .as[(Long, Double)].collect()
    assert(again.sortBy(_._1).sameElements(kept.sortBy(_._1)))
    // null weight drops the row
    val withNull = Seq((1L, null.asInstanceOf[java.lang.Double]), (2L, Double.box(9.0)))
      .toDF("id", "w")
    assert(SampleOps.weightedSample(withNull, "id", "w", 1.0)
      .as[(Long, Double)].collect().map(_._1).toSeq == Seq(2L))
  }

  test("profile: null/distinct/range per column in one pass") {
    val df = Seq(
      (1L, "alpha", null.asInstanceOf[String]),
      (2L, "beta", "x"),
      (3L, "alpha", "y"),
      (4L, null.asInstanceOf[String], "y")
    ).toDF("id", "a", "b")
    val p = ProfileOps.profile(df, Seq("id", "a", "b"))
      .as[(String, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(p.keySet == Set("id", "a", "b"))
    assert(p("id") == (("id", 4L, 0L, 4L, "1", "4")))
    assert(p("a") == (("a", 4L, 1L, 2L, "alpha", "beta")))
    assert(p("b") == (("b", 4L, 1L, 2L, "x", "y")))
  }

  test("substringSearch == brute-force contains, incl. short/absent/case needles") {
    val docs = Seq(
      (1L, "The Quick Brown Fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "quick quick quick repeated tokens here"),
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "日本語のテキストと quick を混ぜる")
    ).toDF("doc_id", "text")
    val needles = Seq("quick", "QUICK b", "zzz-not-present", "ox", "q",
      "日本語のテ", "五").toDF("n")
    val idx = SearchOps.trigramIndex(docs, "doc_id", "text")
    val got = SearchOps.substringSearch(docs, "doc_id", "text", idx, needles, "n")
      .as[(String, Long)].collect().toSet
    val brute = (for {
      d <- docs.filter($"text".isNotNull).as[(Long, String)].collect()
      n <- needles.as[String].collect().map(_.toLowerCase).distinct
      if n.nonEmpty && d._2.toLowerCase.contains(n)
    } yield (n, d._1)).toSet
    assert(got == brute)
    // sanity on the interesting cases: case-insensitive hit, short
    // needle via fallback, absent trigram yields nothing
    assert(got.contains(("quick b", 1L)))
    assert(got.contains(("q", 2L)))
    assert(!got.exists(_._1 == "zzz-not-present"))
    assert(got.contains(("日本語のテ", 6L)))
  }

  test("persisted trigram index: lossless round-trip vs per-batch index") {
    val docs = Seq(
      (1L, "The Quick Brown Fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"),
      (3L, "quick quick quick repeated tokens here"),
      (4L, ""), (5L, null.asInstanceOf[String]),
      (6L, "日本語のテキストと quick を混ぜる")
    ).toDF("doc_id", "text")
    val needles = Seq("quick", "QUICK b", "zzz-not-present", "ox", "q",
      "日本語のテ", "五").toDF("n")
    val idx = SearchOps.trigramIndex(docs, "doc_id", "text")
    val direct = SearchOps.substringSearch(docs, "doc_id", "text", idx, needles, "n")
      .as[(String, Long)].collect().toSet
    // few buckets so several grams COLLIDE into one bucket, and more
    // buckets than probed grams so some directories really are pruned -
    // both layouts must replay the per-batch result exactly
    for (nBuckets <- Seq(4, 64)) {
      val path = java.nio.file.Files
        .createTempDirectory(s"graft_trigram_spec_$nBuckets").toString
      SearchOps.trigramWrite(idx, path, nBuckets = nBuckets, filesPerValue = 2)
      val back = SearchOps.trigramRead(spark, path)
      assert(back.nBuckets == nBuckets)
      val got = SearchOps.trigramQuery(docs, "doc_id", "text", back, needles, "n")
        .as[(String, Long)].collect().toSet
      assert(got == direct, s"nBuckets=$nBuckets")
    }
  }

  test("resampleGapFill: contiguous spine per key, gaps zero-filled, exact sums") {
    import java.sql.Timestamp
    def ts(min: Int) = new Timestamp(3600L * 1000 * 100 + min * 60000L)
    // user 1: events in bins 100 and 102 (bin 101 is a gap);
    // user 2: one event only (single-bin spine, no gaps)
    val df = Seq(
      (1L, ts(0), 1.5), (1L, ts(10), 2.25), (1L, ts(125), 4.0),
      (2L, ts(30), 7.0)
    ).toDF("user_id", "ts", "value")
    val out = TimeOps.resampleGapFill(df, "user_id", "ts", "value", 3600)
      .as[(Long, Timestamp, Long, Double, Boolean)].collect()
      .sortBy(r => (r._1, r._2.getTime))
    val u1 = out.filter(_._1 == 1L)
    assert(u1.length == 3, "spine covers first..last bin inclusive")
    assert(u1.map(_._3).toSeq == Seq(2L, 0L, 1L))
    assert(u1.map(_._4).toSeq == Seq(3.75, 0.0, 4.0))
    assert(u1.map(_._5).toSeq == Seq(false, true, false))
    // bin starts are exactly one binSeconds apart
    u1.map(_._2.getTime).sliding(2).foreach {
      case Array(a, b) => assert(b - a == 3600000L)
      case _ =>
    }
    assert(out.filter(_._1 == 2L).toSeq
      .map(r => (r._3, r._4, r._5)) == Seq((1L, 7.0, false)))
  }

  test("packSequences: budget respected, id order within groups, empty docs dropped") {
    val docs = (1L to 40L).map(i => (i, (1 to (i % 7 + 1).toInt * 10).map(j => s"t$j").mkString(" "))) ++
      Seq((41L, ""), (42L, null.asInstanceOf[String]))
    val out = TextOps.packSequences(docs.toDF("doc_id", "text"), "doc_id", "text",
      budget = 60, nGroups = 4)
      .as[(Long, Int, Int, Int, Long)].collect()
    // empty/NULL docs dropped
    assert(!out.exists(r => r._1 == 41L || r._1 == 42L))
    assert(out.map(_._1).toSet == (1L to 40L).toSet)
    // group assignment is id % nGroups
    out.foreach { case (id, grp, _, _, _) => assert(grp == (id % 4).toInt) }
    // multi-doc sequences respect the budget; seq_total is the true fill
    out.groupBy(r => (r._2, r._3)).foreach { case (_, members) =>
      val total = members.map(_._4.toLong).sum
      assert(members.forall(_._5 == total))
      if (members.length > 1) assert(total <= 60)
    }
    // within a group, sequence ids are non-decreasing in doc id (greedy
    // walks ids in order) and contiguous from 0
    out.groupBy(_._2).foreach { case (_, members) =>
      val seqsByDoc = members.sortBy(_._1).map(_._3)
      seqsByDoc.sliding(2).foreach {
        case Array(a, b) => assert(b == a || b == a + 1)
        case _ =>
      }
      assert(seqsByDoc.head == 0)
    }
  }

  test("packSequenceTexts: seq_text token count equals seq_total, members in id order") {
    val docs = (1L to 30L).map(i =>
      (i, (1 to (i % 5 + 1).toInt * 8).map(j => s"d${i}w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val texts = TextOps.packSequenceTexts(docs, "doc_id", "text", budget = 50, nGroups = 3)
      .as[(Int, Int, Long, Long, String)].collect()
    val membership = TextOps.packSequences(docs, "doc_id", "text", budget = 50, nGroups = 3)
      .as[(Long, Int, Int, Int, Long)].collect()
    // one text row per (grp, seq); counts agree with the membership view
    val byKey = membership.groupBy(r => (r._2, r._3))
    assert(texts.map(t => (t._1, t._2)).toSet == byKey.keySet)
    texts.foreach { case (grp, seq, nDocs, seqTotal, seqText) =>
      val members = byKey((grp, seq))
      assert(nDocs == members.length)
      assert(seqTotal == members.map(_._4.toLong).sum)
      // the concatenated stream carries exactly seq_total tokens...
      val toks = seqText.split(" ")
      assert(toks.length.toLong == seqTotal)
      // ...in ascending member id order (token prefix encodes the doc)
      val order = toks.map(_.drop(1).takeWhile(_ != 'w').toLong)
      assert(order.sameElements(order.sorted))
      assert(order.distinct.sameElements(members.map(_._1).sorted))
    }
  }

  test("chunkDocuments: coverage, exact overlap, no contained tails, empty docs") {
    val words = (1 to 23).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, words), (2L, "one two"), (3L, ""), (4L, null.asInstanceOf[String]),
      (5L, (1 to 8).map(i => s"v$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.chunkDocuments(df, "doc_id", "text", budget = 8, overlap = 3)
      .as[(Long, Int, Int, String)].collect().sortBy(c => (c._1, c._2))
    // empty / NULL docs yield nothing
    assert(!out.exists(c => c._1 == 3L || c._1 == 4L))
    // short doc: one whole chunk
    assert(out.filter(_._1 == 2L).toSeq == Seq((2L, 0, 2, "one two")))
    // doc 5 has exactly budget tokens: one chunk, no redundant tail
    assert(out.filter(_._1 == 5L).toSeq == Seq((5L, 0, 8, (1 to 8).map(i => s"v$i").mkString(" "))))
    // doc 1: 23 tokens, stride 5 -> starts 0,5,10,15 (20 would leave
    // only 3 <= overlap new-content tokens... 23-20=3 <= 3 -> skipped)
    val d1 = out.filter(_._1 == 1L)
    assert(d1.map(_._2).toSeq == Seq(0, 1, 2, 3))
    // every chunk except the tail carries exactly `budget` tokens; the
    // declared n_tokens matches the actual token count
    d1.foreach { case (_, idx, n, chunk) =>
      assert(chunk.split(" ").length == n)
      if (idx < 3) assert(n == 8) else assert(n == 23 - 15)
    }
    // consecutive chunks overlap in exactly `overlap` tokens
    d1.sliding(2).foreach { case Array((_, _, _, a), (_, _, _, b)) =>
      assert(a.split(" ").takeRight(3).sameElements(b.split(" ").take(3)))
    }
    // coverage: stitching chunks (drop the first `overlap` tokens of each
    // non-first chunk) reconstructs the token stream exactly
    val stitched = d1.flatMap { case (_, idx, _, chunk) =>
      val tks = chunk.split(" ").toSeq
      if (idx == 0) tks else tks.drop(3)
    }
    assert(stitched.mkString(" ") == (1 to 23).map(i => s"w$i").mkString(" "))
  }

  test("brute-force cosine topK: exact neighbours, deterministic ties") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0.9f, 0.1f)), (2L, Array(0f, 1f)),
      (3L, Array(-1f, 0f)), (4L, Array(1f, 0.01f))
    ).toDF("id", "v")
    val r = SimilarityOps.bruteTopK(vecs, "id", "v", vecs.filter($"id" === 0), "id", "v", 2)
      .select("neighbor_id", "rank").as[(Long, Int)].collect().toSet
    assert(r == Set((4L, 1), (1L, 2))) // closest first
  }

  test("LSH topK achieves good recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(7)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 200).map(i => (i.toLong, jitter(centers(i % 4)))).toDF("id", "v")
    val queries = vecs.filter($"id" < 8)
    val brute = SimilarityOps.bruteTopK(vecs, "id", "v", queries, "id", "v", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = SimilarityOps.lshTopK(vecs, "id", "v", queries, "id", "v", 5, dim = 16, bits = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & lsh).size.toDouble / brute.size
    assert(recall >= 0.6, s"recall $recall too low")
    // multi-probe (Hamming-1 neighbor buckets) can only widen the
    // candidate set: recall dominates single-probe and should be high
    val mp = SimilarityOps.lshTopK(vecs, "id", "v", queries, "id", "v", 5,
      dim = 16, bits = 4, multiProbe = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val mpRecall = (brute & mp).size.toDouble / brute.size
    assert(mpRecall >= recall, s"multi-probe $mpRecall < single $recall")
    assert(mpRecall >= 0.85, s"multi-probe recall $mpRecall too low")
  }

  test("IVF topK achieves good recall vs brute force on clustered vectors") {
    val rnd = new scala.util.Random(11)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 200).map(i => (i.toLong, jitter(centers(i % 4)))).toDF("id", "v")
    val queries = vecs.filter($"id" < 8)
    val brute = SimilarityOps.bruteTopK(vecs, "id", "v", queries, "id", "v", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfTopK(vecs, "id", "v", queries, "id", "v", 5,
      nCentroids = 16, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.7, s"recall $recall too low")
  }

  test("pqTopK: recall vs brute force; encode matches in-memory reference; exact re-rank sims") {
    val rnd = new scala.util.Random(29)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 200).map(i => (i.toLong, jitter(centers(i % 4)))).toDF("id", "v")
    val queries = vecs.filter($"id" < 8)
    val brute = SimilarityOps.bruteTopK(vecs, "id", "v", queries, "id", "v", 5)
      .as[(Long, Long, Int, Double)].collect()
    val pq = SimilarityOps.pqTopK(vecs, "id", "v", queries, "id", "v", 5,
      numSub = 4, numCodes = 8, rerank = 40)
      .as[(Long, Long, Int, Double)].collect()
    val recall = (brute.map(r => (r._1, r._2)).toSet & pq.map(r => (r._1, r._2)).toSet).size
      .toDouble / brute.length
    assert(recall >= 0.7, s"recall $recall too low")
    // the re-rank is EXACT: any (query, neighbor) the two paths share
    // carries the identical cosine
    val bruteSim = brute.map(r => (r._1, r._2) -> r._4).toMap
    for ((q, n, _, sim) <- pq; bs <- bruteSim.get((q, n)))
      assert(sim == bs, s"($q,$n): pq sim $sim != brute sim $bs")
    // encode parity: kernel codes == in-memory reference (same seed
    // codebooks, same dot-minus-half argmax, ties to smaller code)
    val rows = vecs.orderBy("id").as[(Long, Seq[Float])].collect()
    val seeds = rows.take(8).map { case (_, v) =>
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      d.map(_ / math.max(n, 1e-12))
    }
    val sub = 16 / 4
    val cbs = Array.tabulate(4)(m => seeds.map(_.slice(m * sub, (m + 1) * sub)))
    val halfs = cbs.map(_.map(cw => cw.map(x => x * x).sum / 2))
    def refEncode(v: Seq[Float]): Seq[Int] = {
      val d = v.map(_.toDouble).toArray
      val n = math.sqrt(d.map(x => x * x).sum)
      val vn = d.map(_ / math.max(n, 1e-12))
      (0 until 4).map { m =>
        val scores = cbs(m).zipWithIndex.map { case (cw, c) =>
          (vn.slice(m * sub, (m + 1) * sub).zip(cw).map { case (a, b) => a * b }.sum
            - halfs(m)(c), c)
        }
        scores.maxBy { case (s, c) => (s, -c) }._2
      }
    }
    val kernelCodes = vecs
      .withColumn("nrm", SimilarityOps.norm($"v"))
      .withColumn("vn", transform($"v", x => x / greatest($"nrm", lit(1e-12))))
      .select($"id", graft.functions.GraftFunctions.pq_encode($"vn", cbs, halfs).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    for ((id, v) <- rows)
      assert(kernelCodes(id) == refEncode(v), s"id=$id codes diverge")
  }

  test("PQ persisted index: bit-exact round-trip, job-free query construction, query parity") {
    val rnd = new scala.util.Random(31)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 150).map(i => (i.toLong, jitter(centers(i % 4)))).toDF("id", "v")
    val queries = vecs.filter($"id" < 6)
    val idx = SimilarityOps.pqBuild(vecs, "id", "v", numSub = 4, numCodes = 8)
    val direct = SimilarityOps.pqQuery(idx, queries, "id", "v", k = 5, rerank = 30)
      .collect().map(_.toString).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_pq_spec").toString
    SimilarityOps.pqWrite(idx, path)
    val back = SimilarityOps.pqRead(spark, path)
    // codebooks and halfs round-trip bit-exact
    assert(back.codebooks.length == idx.codebooks.length)
    for (m <- idx.codebooks.indices; c <- idx.codebooks(m).indices) {
      assert(back.codebooks(m)(c).sameElements(idx.codebooks(m)(c)), s"cw($m)($c)")
      assert(back.halfs(m)(c) == idx.halfs(m)(c), s"half($m)($c)")
    }
    // query construction on the read index launches ZERO jobs
    val (q, jobs) = countJobs(SimilarityOps.pqQuery(back, queries, "id", "v", k = 5, rerank = 30))
    assert(jobs == 0, s"pqQuery construction must launch no jobs, saw $jobs")
    assert(q.collect().map(_.toString).sorted.toSeq == direct,
      "persisted index must serve identical results")
  }

  test("IVF persisted index: lossless round-trip, job-free query construction, skewed lists") {
    // SKEWED fixture: 70% of vectors in one cluster (a hot inverted
    // list), the rest spread over three - the shape where a naive
    // write sends one list to one task/file
    val rnd = new scala.util.Random(23)
    def jitter(base: Array[Float]) = base.map(x => x + rnd.nextGaussian().toFloat * 0.05f)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextGaussian().toFloat))
    val vecs = (0 until 200)
      .map(i => (i.toLong, jitter(centers(if (i % 10 < 7) 0 else i % 10 - 6))))
      .toDF("id", "v")
    val queries = vecs.filter($"id" < 8)
    val idx = SimilarityOps.ivfBuild(vecs, "id", "v", nCentroids = 8, lloydIters = 2)
    val direct = SimilarityOps.ivfQuery(idx, queries, "id", "v", k = 5, nProbe = 3)
      .collect().map(_.toString).sorted.toSeq
    val path = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    // filesPerValue > 1: the hot list fans out over several files
    SimilarityOps.ivfWrite(idx, path, filesPerValue = 3)
    val back = SimilarityOps.ivfRead(spark, path)
    assert(back.centroids.length == idx.centroids.length)
    assert(back.centroids.zip(idx.centroids).forall { case (a, b) => a.sameElements(b) },
      "centroids must round-trip bit-exact")
    // plan construction on the read index launches ZERO jobs (the old
    // one-shot ivfTopK relaunched seeding+Lloyd on every call)
    val (persisted, jobs) = countJobs(SimilarityOps.ivfQuery(back, queries, "id", "v", k = 5, nProbe = 3))
    assert(jobs == 0, s"ivfQuery construction must launch no jobs, saw $jobs")
    // the queried results through the persisted index are identical
    assert(persisted.collect().map(_.toString).sorted.toSeq == direct)
    // recall through the persisted skewed index still tracks brute force
    val brute = SimilarityOps.bruteTopK(vecs, "id", "v", queries, "id", "v", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityOps.ivfQuery(back, queries, "id", "v", k = 5, nProbe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert((brute & ivf).size.toDouble / brute.size >= 0.7)
    // the lists table round-trips losslessly: same per-list sizes (the
    // filesPerValue fan-out mechanics themselves are pinned by SinksSpec)
    val sizesBefore = idx.lists.groupBy("list_id").count()
      .as[(Int, Long)].collect().toMap
    val sizesAfter = back.lists.groupBy("list_id").count()
      .as[(Int, Long)].collect().toMap
    assert(sizesAfter == sizesBefore)
    assert(new java.io.File(s"$path/lists").listFiles()
      .exists(f => f.isDirectory && f.getName.startsWith("list_id=")),
      "lists must be hive-partitioned on list_id")
  }

  test("multimodal: PNG header decode + deterministic features + chunking") {
    // minimal PNG header: signature + IHDR length/type + width=320 height=200
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 1, 0x40, 0, 0, 0, 0xc8.toByte, 8, 2, 0, 0, 0)
    assert(MultimodalOps.decodeImageMeta(png) == ((320, 200, "png")))
    // the decode must be REAL, not fixture-shaped: bytes from an actual
    // PNG encoder (javax.imageio, on every JVM) parse to their true dims
    val img = new java.awt.image.BufferedImage(37, 21,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    assert(MultimodalOps.decodeImageMeta(bos.toByteArray) == ((37, 21, "png")))
    // and the synthPngHeader fixture generator emits bytes the same
    // parser reads back verbatim (the media_decode query's PNG path)
    val synth = Seq((320, 200), (1, 1), (1024, 7))
      .toDF("w", "h")
      .select($"w", $"h",
        MultimodalOps.synthPngHeader($"w", $"h").as("p"))
      .collect()
      .map(r => (r.getAs[Int]("w"), r.getAs[Int]("h"),
        MultimodalOps.decodeImageMeta(r.getAs[Array[Byte]]("p"))))
    synth.foreach { case (w, h, got) => assert(got == ((w, h, "png")), s"${w}x$h") }
    // JPEG: the marker walk reads real encoder output (ImageIO writes
    // APP0 + DQT/DHT segments before the SOF frame header - the walk
    // must skip them all), and the synth fixture round-trips
    val jbos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(new java.awt.image.BufferedImage(53, 29,
      java.awt.image.BufferedImage.TYPE_INT_RGB), "jpg", jbos)
    assert(MultimodalOps.decodeImageMeta(jbos.toByteArray) == ((53, 29, "jpeg")))
    val jsynth = Seq((640, 480), (1, 1), (2048, 3))
      .toDF("w", "h")
      .select($"w", $"h", MultimodalOps.synthJpegHeader($"w", $"h").as("p"))
      .collect()
      .map(r => (r.getAs[Int]("w"), r.getAs[Int]("h"),
        MultimodalOps.decodeImageMeta(r.getAs[Array[Byte]]("p"))))
    jsynth.foreach { case (w, h, got) => assert(got == ((w, h, "jpeg")), s"${w}x$h") }
    // a JPEG stream with no frame header (SOI + APP0 only, then EOF)
    // decodes as 0x0 jpeg - deterministic, never a fallthrough to md5
    val headless = jbos.toByteArray.take(20)
    assert(MultimodalOps.decodeImageMeta(headless)._3 == "jpeg")
    // out-of-range dims raise instead of lpad-truncating into a valid
    // header carrying silently wrong dimensions
    intercept[Exception] {
      Seq((70000, 10)).toDF("w", "h")
        .select(MultimodalOps.synthJpegHeader($"w", $"h")).collect()
    }
    intercept[Exception] {
      Seq((0, 10)).toDF("w", "h")
        .select(MultimodalOps.synthPngHeader($"w", $"h")).collect()
    }
    val media = MultimodalOps.asMedia(
      Seq((1L, png), (2L, "not a png".getBytes)).toDF("id", "payload"), "id", "payload", "image")
    val out = MultimodalOps.decodeAndFeaturize(media)
    val rows = out.collect()
    assert(rows.length == 2)
    assert(out.schema.fieldNames.toSet ==
      Set("media_id", "kind", "meta", "width", "height", "format", "features"))
    val byId = rows.map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(byId(1L).getAs[String]("format") == "png")
    assert(byId(1L).getAs[Int]("width") == 320)
    assert(byId(2L).getAs[String]("format") == "raw")
    assert(byId(1L).getAs[scala.collection.Seq[Float]]("features").length == 16)
    // run twice: features deterministic
    assert(MultimodalOps.decodeAndFeaturize(media).collect().map(_.toString).sorted
      .sameElements(rows.map(_.toString).sorted))
    val chunks = MultimodalOps.sampleChunks(
      media.filter($"media_id" === 2), chunkBytes = 3, stride = 2).collect()
    assert(chunks.map(_.getAs[Int]("chunk_idx")).toSet == Set(0, 2))
    // partial tail chunk is a real (short) chunk; empty payload -> no rows
    val tailMedia = MultimodalOps.asMedia(
      Seq((3L, "0123456789abc".getBytes), (4L, Array.empty[Byte]))
        .toDF("id", "payload"), "id", "payload", "video")
    val tail = MultimodalOps.sampleChunks(tailMedia, chunkBytes = 3, stride = 2)
      .collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("chunk_idx"),
        r.getAs[Array[Byte]]("chunk").length)).toSet
    assert(tail == Set((3L, 0, 3), (3L, 2, 3), (3L, 4, 1)))
  }

  test("decodeAvMeta: real WAV chunk walk + MP4 box walk, fixtures round-trip") {
    import MultimodalOps.decodeAvMeta
    // WAV: parse REAL encoder output - javax.sound writes an actual
    // RIFF/WAVE stream (PCM 16-bit, 8kHz, mono, 1000 frames), the same
    // independent-writer validation ImageIO gives the PNG/JPEG parse
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val frames = 1000
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(new Array[Byte](frames * 2)), fmt, frames)
    val wbos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, wbos)
    // 2000 data bytes / 16000 bytes-per-sec = 125 ms
    assert(decodeAvMeta(wbos.toByteArray) == (("wav", 8000, 1, 125L, 0, 0)))
    // synth fixture round-trips through the same parse
    val wsynth = Seq((44100L, 2L, 441000L), (8000L, 1L, 0L), (192000L, 8L, 7L))
      .toDF("sr", "ch", "db")
      .select($"sr", $"ch", $"db",
        MultimodalOps.synthWavHeader($"sr", $"ch", $"db").as("p")).collect()
    wsynth.foreach { r =>
      val (sr, ch, db) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val got = decodeAvMeta(r.getAs[Array[Byte]]("p"))
      val dur = db * 1000L / (sr * ch * 2)
      assert(got == (("wav", sr.toInt, ch.toInt, dur, 0, 0)), s"$sr/$ch/$db")
      assert(r.getAs[Array[Byte]]("p").length == 44)
    }
    // MP4: fixture round-trip, PLUS an independently-built box tree
    // (ByteBuffer, different construction path than the hex concat)
    val msynth = Seq((640L, 480L, 600L, 360000L), (1L, 1L, 1L, 0L), (1920L, 1080L, 90000L, 123457L))
      .toDF("w", "h", "ts", "dur")
      .select($"w", $"h", $"ts", $"dur",
        MultimodalOps.synthMp4Header($"w", $"h", $"ts", $"dur").as("p")).collect()
    msynth.foreach { r =>
      val (w, h, ts, dur) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      val got = decodeAvMeta(r.getAs[Array[Byte]]("p"))
      assert(got == (("mp4", 0, 0, dur * 1000L / ts, w.toInt, h.toInt)), s"${w}x$h")
      assert(r.getAs[Array[Byte]]("p").length == 232)
    }
    val bb = java.nio.ByteBuffer.allocate(232) // BE by default
    bb.putInt(16).put("ftyp".getBytes).put("isom".getBytes).putInt(0x200)
    bb.putInt(216).put("moov".getBytes)
    bb.putInt(108).put("mvhd".getBytes).putInt(0).putInt(0).putInt(0)
      .putInt(48000).putInt(96000).putInt(0x00010000).putShort(0x0100.toShort)
      .put(new Array[Byte](10)).putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0).putInt(0).putInt(0).putInt(0x40000000)
      .put(new Array[Byte](24)).putInt(2)
    bb.putInt(100).put("trak".getBytes)
    bb.putInt(92).put("tkhd".getBytes).putInt(7).putInt(0).putInt(0).putInt(1)
      .putInt(0).putInt(96000).put(new Array[Byte](8))
      .putShort(0).putShort(0).putShort(0).putShort(0)
      .putInt(0x00010000).putInt(0).putInt(0)
      .putInt(0).putInt(0x00010000).putInt(0).putInt(0).putInt(0).putInt(0x40000000)
      .putInt(320 << 16).putInt(240 << 16)
    assert(decodeAvMeta(bb.array()) == (("mp4", 0, 0, 2000L, 320, 240)))
    // degenerate inputs decode deterministically, never a guess
    assert(decodeAvMeta(Array.empty[Byte]) == (("empty", 0, 0, 0L, 0, 0)))
    assert(decodeAvMeta(null) == (("empty", 0, 0, 0L, 0, 0)))
    assert(decodeAvMeta("plain text".getBytes) == (("unknown", 0, 0, 0L, 0, 0)))
    // truncated WAV (RIFF+WAVE only, no chunks) and headerless MP4
    // (ftyp only): fields stay 0, format still recognized
    assert(decodeAvMeta(wbos.toByteArray.take(12)) == (("wav", 0, 0, 0L, 0, 0)))
    assert(decodeAvMeta(bb.array().take(16)) == (("mp4", 0, 0, 0L, 0, 0)))
    // out-of-range fixture dims raise instead of encoding wrong fields
    intercept[Exception] {
      Seq((0L, 1L, 1L)).toDF("sr", "ch", "db")
        .select(MultimodalOps.synthWavHeader($"sr", $"ch", $"db")).collect()
    }
    intercept[Exception] {
      Seq((70000L, 10L)).toDF("w", "h")
        .select(MultimodalOps.synthMp4Header($"w", $"h", lit(600), lit(0))).collect()
    }
    // through the frame-level operator: schema + values, payload pruned
    val media = MultimodalOps.asMedia(
      Seq((1L, wbos.toByteArray), (2L, bb.array()), (3L, "x".getBytes))
        .toDF("id", "payload"), "id", "payload", "av")
    val out = MultimodalOps.decodeAv(media)
    assert(out.schema.fieldNames.toSet == Set("media_id", "kind", "meta",
      "format", "sample_rate", "channels", "duration_ms", "width", "height"))
    val byId = out.collect().map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(byId(1L).getAs[String]("format") == "wav" &&
      byId(1L).getAs[Long]("duration_ms") == 125L)
    assert(byId(2L).getAs[Int]("width") == 320 && byId(2L).getAs[Int]("height") == 240)
    assert(byId(3L).getAs[String]("format") == "unknown")
  }

  test("dhash64/imageDHash/imageDupPairs: perceptual fingerprint and lossless pairing") {
    import MultimodalOps._
    // independent scalar reference on the synthetic formula image
    def refHash(seed: Long, w: Int, h: Int): Long = {
      def p(y: Int, xx: Int): Int =
        (((xx * w / 9) * 7 + (y * h / 8) * 13 + seed) % 256).toInt
      var hash = 0L
      for (y <- 0 until 8; x <- 0 until 8)
        if (p(y, x + 1) > p(y, x)) hash |= 1L << (y * 8 + x)
      hash
    }
    for ((seed, w, h) <- Seq((0L, 9, 8), (5L, 16, 8), (13L, 31, 17))) {
      val Some((gw, gh, ch, px)) = decodePngPixels(synthPngImageBytes(seed, w, h))
      assert(dhash64(px, gw, gh, ch) == refHash(seed, w, h), s"seed=$seed ${w}x$h")
    }
    // sensitivity: flipping ONE luma-grid comparison flips ~1 bit
    val base = Array.tabulate(9 * 8)(i => ((i * 31) % 251).toByte)
    val tweaked = base.clone()
    tweaked(3) = (base(2) & 0xff).toByte // make cell 3 equal cell 2: bit 2 may flip
    val d = java.lang.Long.bitCount(dhash64(base, 9, 8, 1) ^ dhash64(tweaked, 9, 8, 1))
    assert(d <= 2, s"single-cell tweak flipped $d bits")
    // frame op: identical payloads hash identically; garbage -> NULL
    val media = asMedia(Seq(
      (1L, synthPngImageBytes(7L, 16, 12)),
      (2L, synthPngImageBytes(7L, 16, 12)), // byte-identical to 1
      (3L, synthPngImageBytes(8L, 16, 12)), // different image
      (4L, "not an image".getBytes)
    ).toDF("id", "payload"), "id", "payload", "image")
    val hs = imageDHash(media).select($"media_id", $"dhash")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hs(1L).isDefined && hs(1L) == hs(2L))
    assert(hs(4L).isEmpty)
    // pairs: lossless vs brute force at the radius (pigeonhole guarantee)
    val got = imageDupPairs(media, maxHamming = 2)
      .as[(Long, Long, Int)].collect().toSet
    val defined = hs.collect { case (id, Some(v)) => id -> v }.toSeq
    val brute = (for {
      (a, ha) <- defined; (b, hb) <- defined if a < b
      hd = java.lang.Long.bitCount(ha ^ hb) if hd <= 2
    } yield (a, b, hd)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(got.contains((1L, 2L, 0)))
  }

  test("audioFingerprint64/audioDHash/audioDupPairs: window-energy hash and lossless pairing") {
    import MultimodalOps._
    // independent scalar reference over the synth PCM formula
    def refFp(seed: Long, n: Int): Long = {
      def samp(i: Int): Int = (((i * 37L + seed * 11L) % 4096L) - 2048L).toInt
      // per-sample window assignment floor(i*65/n) - the same rule the
      // SQL oracle computes (window-start boundaries are NOT equivalent
      // under integer floors)
      val e = new Array[Long](65)
      for (i <- 0 until n) e(i * 65 / n) += math.abs(samp(i)).toLong
      (0 until 64).foldLeft(0L)((h, k) => if (e(k + 1) > e(k)) h | (1L << k) else h)
    }
    for ((seed, n) <- Seq((0L, 65), (3L, 400), (11L, 1000))) {
      val Some((_, _, samples)) = decodeWavSamples(synthWavPcmBytes(seed, 8000, n))
      assert(audioFingerprint64(samples) == Some(refFp(seed, n)), s"seed=$seed n=$n")
    }
    // too short for 65 windows -> None
    assert(audioFingerprint64(Array.fill[Short](64)(5)) == None)
    // frame op: identical payloads hash identically; non-WAV -> NULL
    val media = asMedia(Seq(
      (1L, synthWavPcmBytes(4L, 8000, 500)),
      (2L, synthWavPcmBytes(4L, 8000, 500)), // byte-identical to 1
      (3L, synthWavPcmBytes(5L, 8000, 500)), // different signal
      (4L, "not audio".getBytes)
    ).toDF("id", "payload"), "id", "payload", "audio")
    val hs = audioDHash(media).select($"media_id", $"afp").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(hs(1L).isDefined && hs(1L) == hs(2L))
    assert(hs(4L).isEmpty)
    // pairs: lossless vs brute force at the radius
    val got = audioDupPairs(media, maxHamming = 2).as[(Long, Long, Int)].collect().toSet
    val defined = hs.collect { case (id, Some(v)) => id -> v }.toSeq
    val brute = (for {
      (a, ha) <- defined; (b, hb) <- defined if a < b
      hd = java.lang.Long.bitCount(ha ^ hb) if hd <= 2
    } yield (a, b, hd)).toSet
    assert(got == brute, s"got=$got brute=$brute")
    assert(got.contains((1L, 2L, 0)))
  }

  test("decodeJpegPixels: exact on the DC-only fixture family, both decoders agree") {
    import MultimodalOps.{decodeJpegPixels, synthJpegImageBytes}
    // the block-constant + unit-quant construction makes the lossy
    // codec exact: my decoder AND ImageIO must BOTH reproduce the
    // block formula bit-equal (non-multiple-of-8 dims exercise edge
    // MCU clipping)
    for ((seed, w, h) <- Seq((0L, 8, 8), (7L, 24, 16), (13L, 17, 9), (255L, 31, 30))) {
      val bytes = synthJpegImageBytes(seed, w, h)
      val Some((gw, gh, ch, px)) = decodeJpegPixels(bytes)
      assert((gw, gh, ch) == ((w, h, 1)), s"dims ${w}x$h")
      for (y <- 0 until h; x <- 0 until w) {
        val want = (((x / 8) * 7 + (y / 8) * 13 + seed) % 256).toInt
        assert((px(y * w + x) & 0xff) == want,
          s"seed=$seed ${w}x$h pixel ($x,$y): got ${px(y * w + x) & 0xff} want $want")
      }
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        "ImageIO must accept the synthetic stream")
      for (y <- 0 until h; x <- 0 until w) {
        val want = (((x / 8) * 7 + (y / 8) * 13 + seed) % 256).toInt
        // raster sample, not getRGB: TYPE_BYTE_GRAY's getRGB runs a
        // colorspace (gamma) conversion on the decoded samples
        assert(img.getRaster.getSample(x, y, 0) == want,
          s"ImageIO seed=$seed pixel ($x,$y)")
      }
    }
  }

  test("sniffMime: real container bytes classify; short/unknown/null degrade cleanly") {
    import MultimodalOps._
    val gz = { val b = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(b); g.write("x".getBytes); g.close()
      b.toByteArray }
    val rows = Seq[(Long, Array[Byte])](
      (1L, synthPngImageBytes(1L, 8, 8)),
      (2L, synthJpegImageBytes(2L, 8, 8)),
      (3L, synthWavPcmBytes(3L, 8000, 10)),
      (4L, synthMjpegVideoBytes(Seq(4L), 8, 8)),
      (5L, gz),
      (6L, "<!DOCTYPE html><html></html>".getBytes),
      (7L, "%PDF-1.4 fake".getBytes),
      (8L, "PKzipish".getBytes("ISO-8859-1")),
      (9L, Array[Byte](0x42, 0x42)), // unknown + too short for anything
      (10L, null)).toDF("id", "p")
    val got = rows.select(col("id"), sniffMime(col("p")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got == Map(1L -> "image/png", 2L -> "image/jpeg", 3L -> "audio/wav",
      4L -> "video/mp4", 5L -> "application/gzip", 6L -> "text/html",
      7L -> "application/pdf", 8L -> "application/zip",
      9L -> "application/octet-stream", 10L -> null))
  }

  test("audioSegments: silence splits voiced runs into 0-based segment ids") {
    import MultimodalOps._
    // 500 samples, gate 100: windows 0,1 voiced (seg 0), 2 silent,
    // 3,4 voiced (seg 1)
    val media = asMedia(
      Seq((9L, synthWavPcmGatedBytes(9L, 8000, 500, 100)))
        .toDF("doc_id", "payload"), "doc_id", "payload", "audio")
    val out = audioSegments(media, windowSamples = 100, silenceEnergy = 1000000L)
      .select(col("win_idx"), col("is_silent"), col("segment_id"))
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getBoolean(1),
        if (r.isNullAt(2)) -1 else r.getInt(2))).toSeq
    assert(out == Seq((0, false, 0), (1, false, 0), (2, true, -1),
      (3, false, 1), (4, false, 1)))
  }

  test("audioSegments: trailing partial window drops") {
    import MultimodalOps._
    val media = asMedia(
      Seq((3L, synthWavPcmGatedBytes(3L, 8000, 250, 100)))
        .toDF("doc_id", "payload"), "doc_id", "payload", "audio")
    // 250 samples / 100 = 2 full windows; the 50-sample tail drops
    assert(audioSegments(media, 100, 1000000L).count() == 2)
  }

  test("readability: hand-counted signals, simple prose outscores jargon, degenerate -> NULL") {
    val rows = Seq(
      (1L, "The cat sat. The dog ran. It was fun."), // simple: 3 sent, 9 words
      (2L, "Incomprehensibility characterizes organizational bureaucratization."),
      (3L, "   ")).toDF("doc_id", "text")
    val out = TextOps.readability(rows, "text")
      .select(col("doc_id"), col("n_sentences"), col("n_words"), col("flesch"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(out(1L)._1 == 3 && out(1L)._2 == 9)
    assert(out(2L)._1 == 1 && out(2L)._2 == 4)
    assert(out(1L)._3.get > out(2L)._3.get, "simple prose must outscore jargon")
    // whitespace-only: 0 sentences, 0 words -> NULL, never a div-by-zero
    assert(out(3L) == ((0, 0, None)))
  }

  test("sentences: terminator runs split, pieces trim, empties drop, abbreviations documented") {
    val got = Seq("One two. Three four!  Five?\nSix...   ")
      .toDF("t").select(TextOps.sentences(col("t"))).as[Seq[String]].head()
    // trailing terminators + whitespace are a boundary too: "Six...   "
    // loses its dots; only end-of-string terminators survive (below)
    assert(got == Seq("One two", "Three four", "Five", "Six"))
    val eos = Seq("Ends here...").toDF("t")
      .select(TextOps.sentences(col("t"))).as[Seq[String]].head()
    assert(eos == Seq("Ends here..."))
    // no boundary whitespace -> no split (URLs/decimals survive)
    val one = Seq("pi is 3.14 exactly").toDF("t")
      .select(TextOps.sentences(col("t"))).as[Seq[String]].head()
    assert(one == Seq("pi is 3.14 exactly"))
  }

  test("videoSceneChanges: frame 0 opens, identical frames never cut, changed frames do") {
    import MultimodalOps._
    // frames 0 and 1 identical (seed 10), frame 2 in the wrap band
    // (seed 250: block constants wrap past 256, flipping dHash
    // comparisons - a plain constant shift like seed 200 would NOT,
    // since dHash is invariant to uniform brightness)
    val media = asMedia(
      Seq((7L, synthMjpegVideoBytes(Seq(10L, 10L, 250L), 16, 16)))
        .toDF("doc_id", "payload"), "doc_id", "payload", "video")
    val out = videoSceneChanges(media, threshold = 1)
      .select(col("frame_idx"), col("hamming_prev"), col("scene_change"))
      .collect().sortBy(_.getInt(0))
    assert(out.length == 3)
    assert(out(0).isNullAt(1) && out(0).getBoolean(2)) // frame 0 opens
    assert(out(1).getInt(1) == 0 && !out(1).getBoolean(2)) // identical
    assert(out(2).getInt(1) >= 1 && out(2).getBoolean(2)) // cut
  }

  test("domainCap: keeps at most k per registrable domain, md5-ranked") {
    val pages = ((1 to 8).map(i => (i.toLong, s"https://a.example.com/p$i")) ++
      (9 to 10).map(i => (i.toLong, s"https://www.b.org/q$i")))
      .toDF("id", "url")
    val out = WebOps.domainCap(pages, "url", "id", maxPerDomain = 3)
      .select(col("domain")).as[String].collect().toSeq
    assert(out.count(_ == "example.com") == 3)
    assert(out.count(_ == "b.org") == 2) // below the cap: all kept
  }

  test("synthMjpegVideoBytes/decodeVideoSamples: sample-table roundtrip, frames byte-exact") {
    import MultimodalOps._
    val seeds = Seq(3L, 4L, 5L)
    val bytes = synthMjpegVideoBytes(seeds, 17, 9)
    val Some((codec, frames)) = decodeVideoSamples(bytes)
    assert(codec == "jpeg")
    assert(frames.length == 3)
    // each extracted sample is byte-identical to the standalone encode
    seeds.zip(frames).foreach { case (s, f) =>
      assert(java.util.Arrays.equals(f, synthJpegImageBytes(s, 17, 9)))
    }
    // and decodes to the per-frame block formula
    val Some((w, h, _, px)) = decodeJpegPixels(frames(1))
    assert((w, h) == ((17, 9)))
    for (y <- 0 until 9; x <- 0 until 17)
      assert((px(y * 17 + x) & 0xff) == (((x / 8) * 7 + (y / 8) * 13 + 4L) % 256).toInt)
    // the metadata walk reads the same container (writer is spec-shaped)
    val (fmt, _, _, durMs, mw, mh) = decodeAvMeta(bytes)
    assert(fmt == "mp4" && mw == 17 && mh == 9 && durMs == 120L)
    // negative frame seeds are legal (floorMod block values)
    assert(decodeVideoSamples(synthMjpegVideoBytes(Seq(-5L), 8, 8)).get._2.length == 1)
  }

  test("property: media decoders never throw - noise, flipped, and truncated containers") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    import MultimodalOps._
    val realJpeg = synthJpegImageBytes(5L, 17, 9)
    val realPng = synthPngImageBytes(5L, 17, 9)
    val realMp4 = synthMjpegVideoBytes(Seq(1L, 2L), 16, 16)
    val realWav = synthWavPcmBytes(5L, 8000, 300)
    val reals = Seq(realJpeg, realPng, realMp4, realWav)
    val junk = Gen.chooseNum(0, 300).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-128, 127).map(_.toByte)).map(_.toArray))
    val mutated = for {
      base <- Gen.oneOf(reals)
      i <- Gen.chooseNum(0, base.length - 1)
      b <- Gen.chooseNum(-128, 127).map(_.toByte)
    } yield { val c = base.clone(); c(i) = b; c }
    val truncated = for {
      base <- Gen.oneOf(reals)
      n <- Gen.chooseNum(0, base.length - 1)
    } yield java.util.Arrays.copyOfRange(base, 0, n)
    val anyBytes = Gen.oneOf(junk, mutated, truncated)
    // the refuse-don't-crash contract, fuzzed: every decoder must
    // RETURN (Some or None) on every input - a single uncaught index
    // or parse exception here is a task-killer on corrupt crawl media
    val prop = Prop.forAll(anyBytes) { bytes =>
      decodeImagePixels(bytes); decodeVideoSamples(bytes)
      decodeWavSamples(bytes); decodeImageMeta(bytes); decodeAvMeta(bytes)
      true
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(300).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("decodeVideoSamples refuses malformed containers without throwing") {
    import MultimodalOps._
    assert(decodeVideoSamples(null).isEmpty)
    assert(decodeVideoSamples("garbage not a container".getBytes).isEmpty)
    val good = synthMjpegVideoBytes(Seq(1L, 2L), 8, 8)
    // truncation anywhere inside mdat/moov: refuse, never crash
    for (cut <- Seq(10, good.length / 3, good.length - 6))
      assert(decodeVideoSamples(java.util.Arrays.copyOfRange(good, 0, cut)).isEmpty,
        s"cut at $cut must refuse")
  }

  test("videoFrames/videoDupPairs: per-frame rows, pigeonhole pairing across videos") {
    import MultimodalOps._
    // wrap-heavy seeds: DC-only block-constant frames have coarse
    // gradients, and only the mod-256 wrap differentiates their dHash -
    // these seeds/dims are verified pairwise-distinct across the two
    // families, so radius 0 pairs exactly the planted shared frames
    val media = asMedia(Seq(
      // videos 1 and 2 share frame seeds (200, 237); video 3 disjoint
      (1L, synthMjpegVideoBytes(Seq(200L, 237L), 48, 40)),
      (2L, synthMjpegVideoBytes(Seq(200L, 237L, 251L), 48, 40)),
      (3L, synthMjpegVideoBytes(Seq(160L, 185L), 32, 56))
    ).toDF("vid", "payload"), "vid", "payload", "video")
    val fr = videoFrames(media)
    assert(fr.columns.toSeq == Seq("media_id", "kind", "meta", "frame_idx", "payload"))
    val counts = fr.groupBy("media_id").count().as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 2L, 2L -> 3L, 3L -> 2L))
    val pairs = videoDupPairs(media, maxHamming = 0)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs == Seq((1L, 2L, 2L)),
      s"videos 1,2 share exactly frames 10,11; got $pairs")
  }

  test("decodeJpegPixels: ImageIO-ENCODED grayscale decodes within IDCT rounding tolerance") {
    import MultimodalOps.decodeJpegPixels
    // general AC-bearing JPEG: conformant decoders may differ by ~1
    // per pixel (IDCT rounding freedom, spec annex A) - parity is
    // bounded drift, exactness is the DC-only test above
    for ((w, h) <- Seq((16, 16), (29, 13))) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w)
        img.getRaster.setSample(x, y, 0, (40 + x * 6 + y * 4) % 256) // smooth gradient
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      val bytes = bos.toByteArray
      val Some((gw, gh, ch, px)) = decodeJpegPixels(bytes)
      assert((gw, gh, ch) == ((w, h, 1)))
      val ref = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      var maxDiff = 0
      for (y <- 0 until h; x <- 0 until w) {
        val d = math.abs((px(y * w + x) & 0xff) - ref.getRaster.getSample(x, y, 0))
        if (d > maxDiff) maxDiff = d
      }
      assert(maxDiff <= 2, s"${w}x$h: max per-pixel drift $maxDiff > 2")
    }
    // unsupported/garbage payloads refuse cleanly
    assert(decodeJpegPixels("not a jpeg".getBytes) == None)
    assert(decodeJpegPixels(Array[Byte](0xff.toByte, 0xd8.toByte, 0x00, 0x01)) == None)
  }

  test("decodeImagePixels dispatch: PNG and JPEG payloads flow through one pixel pipeline") {
    import MultimodalOps._
    val media = asMedia(Seq(
      (1L, synthPngImageBytes(5L, 16, 8)),
      (2L, synthJpegImageBytes(5L, 16, 8)),
      (3L, "neither".getBytes)
    ).toDF("id", "payload"), "id", "payload", "image")
    val out = decodeResizePixels(media, 8, 8).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[Int]("width") == 16 && out(1L).getAs[Long]("px_sum") > 0)
    assert(out(2L).getAs[Int]("width") == 16 && out(2L).getAs[Int]("channels") == 1)
    // JPEG resampled corners replay the block formula
    def blockVal(x: Int, y: Int) = (((x / 8) * 7 + (y / 8) * 13 + 5L) % 256).toInt
    assert(out(2L).getAs[Int]("px_tl") == blockVal(0, 0))
    assert(out(2L).getAs[Int]("px_br") == blockVal(7 * 16 / 8, 7 * 8 / 8))
    assert(out(3L).getAs[Int]("width") == 0 &&
      out(3L).isNullAt(out(3L).fieldIndex("px_sum")))
  }

  test("decodePngPixels: real inflate+defilter decode - ImageIO parity, all 5 filters") {
    import MultimodalOps.{decodePngPixels, resizePixels, synthPngImageBytes}
    // 1) pixel-for-pixel parity with javax.imageio's DECODER on streams
    // javax.imageio's ENCODER wrote (real deflate, encoder-chosen
    // filters) - gray and RGB
    def imageioPng(w: Int, h: Int, rgb: Boolean): (Array[Byte], java.awt.image.BufferedImage) = {
      val img = new java.awt.image.BufferedImage(w, h,
        if (rgb) java.awt.image.BufferedImage.TYPE_INT_RGB
        else java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 57 + x * y) % 256
        img.setRGB(x, y, if (rgb) ((x * 5 % 256) << 16) | ((y * 11 % 256) << 8) | v
        else (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      (bos.toByteArray, img)
    }
    for (rgb <- Seq(false, true); (w, h) <- Seq((17, 9), (1, 1), (32, 32))) {
      val (bytes, img) = imageioPng(w, h, rgb)
      val Some((gw, gh, ch, px)) = decodePngPixels(bytes)
      assert((gw, gh, ch) == ((w, h, if (rgb) 3 else 1)), s"dims rgb=$rgb ${w}x$h")
      for (y <- 0 until h; x <- 0 until w) {
        if (rgb) {
          val argb = img.getRGB(x, y)
          assert((px((y * w + x) * 3) & 0xff) == ((argb >> 16) & 0xff), s"R($x,$y)")
          assert((px((y * w + x) * 3 + 1) & 0xff) == ((argb >> 8) & 0xff), s"G($x,$y)")
          assert((px((y * w + x) * 3 + 2) & 0xff) == (argb & 0xff), s"B($x,$y)")
        } else
          // raster sample, not getRGB: TYPE_BYTE_GRAY's getRGB runs a
          // colorspace (gamma) conversion; the PNG carries the raster
          assert((px(y * w + x) & 0xff) == img.getRaster.getSample(x, y, 0),
            s"gray($x,$y)")
      }
    }
    // 2) every filter type (None/Sub/Up/Average/Paeth) via a handcrafted
    // stream: filter row y with type y%5 per the spec's forward
    // transform, deflate, chunk with real CRCs - decode must invert it
    val (w, h) = (11, 10)
    val ref = Array.tabulate(h, w)((y, x) => (x * x + 3 * y + (x * y) % 7) % 256)
    val raw = new java.io.ByteArrayOutputStream()
    for (y <- 0 until h) {
      val f = y % 5
      raw.write(f)
      for (x <- 0 until w) {
        val cur = ref(y)(x)
        val a = if (x > 0) ref(y)(x - 1) else 0
        val b = if (y > 0) ref(y - 1)(x) else 0
        val c = if (x > 0 && y > 0) ref(y - 1)(x - 1) else 0
        val filtered = f match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - (a + b) / 2
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw.write(filtered & 0xff)
      }
    }
    val bos = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(bos)
    dos.write(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def chunk(typ: String, body: Array[Byte]): Unit = {
      dos.writeInt(body.length)
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32(); crc.update(tb); crc.update(body)
      dos.write(tb); dos.write(body); dos.writeInt(crc.getValue.toInt)
    }
    chunk("IHDR", java.nio.ByteBuffer.allocate(13).putInt(w).putInt(h)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array())
    val defl = new java.util.zip.Deflater(); defl.setInput(raw.toByteArray); defl.finish()
    val comp = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](8192)
    while (!defl.finished()) comp.write(buf, 0, defl.deflate(buf))
    defl.end()
    chunk("IDAT", comp.toByteArray); chunk("IEND", Array.empty)
    val Some((dw, dh, dch, dpx)) = decodePngPixels(bos.toByteArray)
    assert((dw, dh, dch) == ((w, h, 1)))
    for (y <- 0 until h; x <- 0 until w)
      assert((dpx(y * w + x) & 0xff) == ref(y)(x), s"filter ${y % 5} at ($x,$y)")
    // 3) the library's own encoder emits files OTHER decoders accept:
    // ImageIO reads synthPngImageBytes and sees the formula pixels
    val sp = synthPngImageBytes(seed = 42L, w = 13, h = 7)
    val rimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(sp))
    assert(rimg.getWidth == 13 && rimg.getHeight == 7)
    for (y <- 0 until 7; x <- 0 until 13)
      assert(rimg.getRaster.getSample(x, y, 0) == (x * 7 + y * 13 + 42) % 256, s"($x,$y)")
    // and our decoder agrees with itself on it
    val Some((_, _, _, spx)) = decodePngPixels(sp)
    for (y <- 0 until 7; x <- 0 until 13)
      assert((spx(y * 13 + x) & 0xff) == (x * 7 + y * 13 + 42) % 256)
    // 4) nearest-neighbor resample: identity at same dims; known mapping
    assert(resizePixels(spx, 13, 7, 1, 13, 7).toSeq == spx.toSeq)
    val small = resizePixels(spx, 13, 7, 1, 4, 2)
    for (i <- 0 until 2; j <- 0 until 4)
      assert((small(i * 4 + j) & 0xff) ==
        (spx((i * 7 / 2) * 13 + (j * 13 / 4)) & 0xff), s"resample ($i,$j)")
    // 5) frame-level operator: stats + deterministic non-PNG fallback
    val media = MultimodalOps.asMedia(
      Seq((1L, sp), (2L, "not a png".getBytes)).toDF("id", "payload"),
      "id", "payload", "image")
    val out = MultimodalOps.decodeResizePixels(media, 8, 8).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    assert(out(1L).getAs[Int]("width") == 13 && out(1L).getAs[Int]("channels") == 1)
    val expSum = (for (i <- 0 until 8; j <- 0 until 8)
      yield ((j * 13 / 8) * 7 + (i * 7 / 8) * 13 + 42) % 256).sum.toLong
    assert(out(1L).getAs[Long]("px_sum") == expSum)
    assert(out(2L).getAs[Int]("width") == 0 && out(2L).isNullAt(
      out(2L).fieldIndex("px_sum")))
  }

  test("decodeWavSamples: real PCM parse - javax.sound parity both directions") {
    import MultimodalOps.{decodeWavSamples, synthWavPcmBytes, decodeAudioFeatures}
    // 1) decode javax.sound's OWN encoder output sample-for-sample
    val ref = Array.tabulate(777)(i => ((i * 93 + 17) % 3000 - 1500).toShort)
    val pcm = java.nio.ByteBuffer.allocate(ref.length * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    ref.foreach(pcm.putShort)
    val fmt = new javax.sound.sampled.AudioFormat(16000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm.array()), fmt, ref.length)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val Some((sr, ch, got)) = decodeWavSamples(bos.toByteArray)
    assert(sr == 16000 && ch == 1 && got.toSeq == ref.toSeq)
    // 2) javax.sound reads OUR encoder's file back sample-for-sample
    val ours = synthWavPcmBytes(seed = 5L, sampleRate = 8000, nSamples = 123)
    val back = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(ours))
    assert(back.getFormat.getSampleRate == 8000f && back.getFormat.getChannels == 1)
    val raw = back.readAllBytes()
    assert(raw.length == 246)
    val rb = java.nio.ByteBuffer.wrap(raw).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until 123)
      assert(rb.getShort(2 * i) == ((i * 37 + 55) % 4096 - 2048).toShort, s"sample $i")
    // and our decoder agrees with itself on it
    val Some((_, _, own)) = decodeWavSamples(ours)
    assert(own.toSeq == (0 until 123).map(i => ((i * 37 + 55) % 4096 - 2048).toShort))
    // 3) truncated stream decodes its complete prefix, never a guess
    val Some((_, _, half)) = decodeWavSamples(ours.take(44 + 40))
    assert(half.toSeq == own.take(20).toSeq)
    // 4) non-WAV and header-only inputs
    assert(decodeWavSamples("plain".getBytes).isEmpty)
    // 5) frame-level features: exact integer replay
    val media = MultimodalOps.asMedia(
      Seq((1L, ours), (2L, "junk".getBytes)).toDF("id", "payload"),
      "id", "payload", "audio")
    val out = decodeAudioFeatures(media).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    val vs = (0 until 123).map(i => (i * 37 + 55) % 4096 - 2048)
    assert(out(1L).getAs[Long]("energy") == vs.map(v => v.toLong * v).sum)
    assert(out(1L).getAs[Int]("zero_crossings") ==
      vs.sliding(2).count(p => p(0) * p(1) < 0))
    assert(out(1L).getAs[Int]("peak") == vs.map(math.abs).max)
    assert(out(2L).getAs[Int]("sample_rate") == 0 &&
      out(2L).isNullAt(out(2L).fieldIndex("energy")))
  }

  test("decodeResizeFeaturize: model sees decoded pixels, undecodable embeds zeros") {
    import MultimodalOps._
    val png = synthPngImageBytes(seed = 9L, w = 10, h = 6)
    val media = asMedia(
      Seq((1L, png), (2L, "not a png".getBytes)).toDF("id", "payload"),
      "id", "payload", "image")
    val out = decodeResizeFeaturize(media, outW = 16, outH = 16,
      model = PatchProjectionModel).collect()
      .map(r => r.getAs[Long]("media_id") -> r).toMap
    // expected: the formula pixels resampled to 16x16 (built here
    // straight from the formula, NOT through the decoder), then the
    // model forward pass - proves the model input is the pixel buffer
    val buf = Array.tabulate(16 * 16) { idx =>
      val (i, j) = (idx / 16, idx % 16)
      (((j * 10 / 16) * 7 + (i * 6 / 16) * 13 + 9) % 256).toByte
    }
    val exp = PatchProjectionModel.openSession().embedBatch(Array(buf)).head
    assert(out(1L).getAs[scala.collection.Seq[Float]]("features").toSeq == exp.toSeq)
    assert(out(1L).getAs[Int]("width") == 10 && out(1L).getAs[Int]("height") == 6 &&
      out(1L).getAs[Int]("channels") == 1)
    // undecodable: zero vector, (0, 0, 0) dims - deterministic fallback
    assert(out(2L).getAs[scala.collection.Seq[Float]]("features").forall(_ == 0f))
    assert(out(2L).getAs[Int]("width") == 0 && out(2L).getAs[Int]("channels") == 0)
  }

  test("decodeAndFeaturize model hook: one session per partition, bounded batches, closed") {
    import graft.ops.FakeModelProbe
    FakeModelProbe.reset()
    val n = 25
    val media = MultimodalOps.asMedia(
      (1 to n).map(i => (i.toLong, s"payload-$i".getBytes)).toDF("id", "payload"),
      "id", "payload", "image").repartition(3)
    val out = MultimodalOps.decodeAndFeaturize(
      media, model = new FakeModelProbe.Model, batchSize = 4).collect()
    assert(out.length == n)
    // the fake embeds payload length into the vector: real values flowed
    // through the session, in order, one vector per row
    val lens = out.map(r => r.getAs[Long]("media_id") ->
      r.getAs[scala.collection.Seq[Float]]("features").head.toInt).toMap
    assert((1 to n).forall(i => lens(i.toLong) == s"payload-$i".getBytes.length))
    // one session per non-empty partition, each closed exactly once
    assert(FakeModelProbe.opened.get() > 0 && FakeModelProbe.opened.get() <= 3)
    assert(FakeModelProbe.closed.get() == FakeModelProbe.opened.get())
    // every model invocation bounded by batchSize (amortization shape)
    assert(FakeModelProbe.maxBatch.get() <= 4 && FakeModelProbe.batches.get() >= n / 4)
    // the default model is the byte-histogram stand-in: swapping models
    // changes feature VALUES only - schema and plan shape identical
    val dflt = MultimodalOps.decodeAndFeaturize(media)
    assert(dflt.schema == MultimodalOps.decodeAndFeaturize(
      media, model = new FakeModelProbe.Model).schema)
  }

  test("featurize session lifecycle: exhaustion + task completion both fire, close is once") {
    import graft.ops.FakeModelProbe
    // decodeResizeFeaturize now shares the sessionScoped contract: the
    // session closes at iterator exhaustion (the no-TaskContext /
    // driver-local path a bare listener would leak) AND on task
    // completion - the idempotence guard means closed == opened exactly,
    // never double-close, even with both paths firing in local mode
    FakeModelProbe.reset()
    val media = MultimodalOps.asMedia(
      (1 to 20).map(i => (i.toLong, s"p-$i".getBytes)).toDF("id", "payload"),
      "id", "payload", "image").repartition(3)
    MultimodalOps.decodeResizeFeaturize(
      media, outW = 4, outH = 4, model = new FakeModelProbe.Model, batchSize = 8).collect()
    assert(FakeModelProbe.opened.get() > 0)
    assert(FakeModelProbe.closed.get() == FakeModelProbe.opened.get(),
      s"close must fire exactly once per session: opened=${FakeModelProbe.opened.get()} " +
        s"closed=${FakeModelProbe.closed.get()}")
    // a limit abandoning iterators mid-partition still closes every
    // opened session (the task-completion half of the contract)
    FakeModelProbe.reset()
    MultimodalOps.decodeResizeFeaturize(
      media, outW = 4, outH = 4, model = new FakeModelProbe.Model, batchSize = 8)
      .limit(2).collect()
    assert(FakeModelProbe.closed.get() == FakeModelProbe.opened.get())
  }

  test("PatchProjectionModel: real forward pass - reference replay, window, exactness") {
    import MultimodalOps.PatchProjectionModel
    // independent scalar reference: recompute the forward pass directly
    // from the formula (no matrices, no loops-over-channels structure)
    def ref(p: Array[Byte]): Array[Float] = {
      val n = math.min(if (p == null) 0 else p.length, 256)
      (0 until 8).map { j =>
        val o = (0 until 8).map { k =>
          val a = (0 until n).map(i =>
            (p(i) & 0xff).toLong * (((i % 8) * 31 + k * 17 + 7) % 13 - 6)).sum
          (((a % 9973) + 9973) % 9973) * ((k * 7 + j * 5 + 1) % 11 - 5)
        }.sum
        math.max(o, 0L).toFloat
      }.toArray
    }
    val session = PatchProjectionModel.openSession()
    val payloads: Array[Array[Byte]] = Array(
      "hello world".getBytes("UTF-8"),
      Array.tabulate(300)(i => (i * 37 % 256).toByte), // crosses the window
      Array.tabulate(256)(_.toByte),
      Array(0x80.toByte, 0xff.toByte), // high bytes: unsigned read
      Array.empty[Byte],
      null)
    val got = session.embedBatch(payloads)
    payloads.zip(got).foreach { case (p, g) =>
      assert(g.toSeq == ref(p).toSeq, s"payload ${Option(p).map(_.length)}")
    }
    // not the histogram stand-in: a byte permutation that preserves the
    // histogram changes the embedding (position-sensitive arithmetic)
    val fwd = "abcdefgh12345678".getBytes("UTF-8")
    assert(session.embedBatch(Array(fwd.reverse)).head.toSeq
      != session.embedBatch(Array(fwd)).head.toSeq)
    // fixed receptive field: byte 257+ cannot influence the embedding
    val base = Array.tabulate(256)(i => (i % 251).toByte)
    assert(session.embedBatch(Array(base ++ Array(99.toByte))).head.toSeq
      == session.embedBatch(Array(base)).head.toSeq)
    // empty and null embed to exact zeros
    assert(got(4).forall(_ == 0f) && got(5).forall(_ == 0f))
    // every output is a nonneg integer < 2^24: the Float is EXACT, which
    // is the property the byte-exact DuckDB oracle depends on
    got.flatten.foreach { f =>
      assert(f >= 0f && f == math.rint(f).toFloat && f < (1 << 24).toFloat)
    }
    session.close()
    // through the full decodeAndFeaturize plan: same values, 8 dims
    val media = MultimodalOps.asMedia(
      Seq((1L, payloads(0)), (2L, payloads(1))).toDF("id", "payload"),
      "id", "payload", "image")
    val out = MultimodalOps.decodeAndFeaturize(media, PatchProjectionModel)
      .collect().map(r => r.getAs[Long]("media_id") ->
        r.getAs[scala.collection.Seq[Float]]("features")).toMap
    assert(out(1L).toSeq == ref(payloads(0)).toSeq && out(1L).length == 8)
    assert(out(2L).toSeq == ref(payloads(1)).toSeq)
  }

  test("randomProject: deterministic, linear, correct dimensions") {
    val vecs = Seq(
      (1L, Array.tabulate(64)(i => (i + 1).toFloat / 64)),
      (2L, Array.tabulate(64)(i => 2 * (i + 1).toFloat / 64)), // = 2 * vec 1
      (3L, Array.fill(64)(0f))
    ).toDF("vec_id", "embedding")
    val p = SimilarityOps.randomProject(vecs, "vec_id", "embedding", dim = 64, outDim = 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(p.values.forall(_.length == 8))
    // zero vector projects to zero; projection is linear (2v -> 2*p(v))
    assert(p(3L).forall(_ == 0.0))
    p(1L).zip(p(2L)).foreach { case (a, b) =>
      assert(math.abs(b - 2 * a) < 1e-9, s"linearity violated: $a vs $b")
    }
    // deterministic across invocations (matrix is a pure fn of the seed)
    val again = SimilarityOps.randomProject(vecs, "vec_id", "embedding", 64, 8)
      .as[(Long, Seq[Double])].collect().toMap
    assert(again == p)
  }

  test("SpaceSaving: frequent-item guarantee and exact two-phase top-k under eviction") {
    import graft.functions.SpaceSaving
    // skewed stream: token t_i appears i times (i = 1..60), N = 1830
    val rnd = new scala.util.Random(11)
    val stream = rnd.shuffle(
      (1 to 60).flatMap(i => Seq.fill(i)(f"t_$i%02d")).toVector)
    // capacity 30 << 60 distinct: evictions happen; guarantee says every
    // token with true count > N/cap = 61 survives in the summary
    val ss = new SpaceSaving(30)
    stream.foreach(ss.add(_))
    val kept = ss.items.toSet
    ((1 to 60).filter(_ > 1830 / 30 + 1)).foreach { i =>
      assert(kept.contains(f"t_$i%02d"), s"guaranteed-frequent t_$i missing")
    }
    // mergeable: split stream in 4, merge partials - same guarantee
    val parts = stream.grouped(500).map { chunk =>
      val p = new SpaceSaving(30); chunk.foreach(p.add(_)); p
    }.reduce(_ merge _)
    ((1 to 60).filter(_ > 2 * (1830 / 30))).foreach { i =>
      assert(parts.items.contains(f"t_$i%02d"), s"merged summary lost t_$i")
    }
    // end-to-end: two-phase result EQUALS the exact top-k, forced
    // through eviction+merge paths by the small capacity
    val docs = stream.grouped(61).zipWithIndex
      .map { case (toks, i) => (i.toLong, toks.mkString(" ")) }
      .toSeq.toDF("doc_id", "text")
    val got = TextOps.heavyHitterTokens(docs, "text", k = 10, capacity = 30)
      .as[(String, Long)].collect().toSeq
    val want = (51 to 60).map(i => (f"t_$i%02d", i.toLong))
      .sortBy { case (t, n) => (-n, t) }
    assert(got == want, s"two-phase top-k diverged: $got vs $want")
  }

  test("heavyHitterTokens: uncertifiable flat distribution falls back to exact, never wrong") {
    // 100 distinct singleton tokens, capacity 30: evictions happen and
    // the k-th recounted count (1) cannot beat N/capacity (100/30 = 3),
    // so the sketch result is NOT certifiable - the operator must take
    // the exact-fallback path and still return the true top-k
    val flat = (1 to 100).map(i => (i.toLong, f"u_$i%03d")).toDF("doc_id", "text")
    val got = TextOps.heavyHitterTokens(flat, "text", k = 10, capacity = 30)
      .as[(String, Long)].collect().toSeq
    val want = (1 to 10).map(i => (f"u_$i%03d", 1L)) // all ties -> token asc
    assert(got == want, s"fallback path wrong: $got")
  }

  test("contamination == in-memory reference on random corpora") {
    val rnd = new scala.util.Random(31)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def randDoc() = Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    for (round <- 1 to 3) {
      val train = (1L to 40L).map(i => (i, randDoc()))
      val test = (100L to 110L).map(i => (i, randDoc()))
      val n = 1 + rnd.nextInt(3)
      // independent reference: per-doc shingle SETS, set intersections
      val trSh = train.map { case (id, t) => id -> DedupOps.shingleArray(t, n).toSet }
      val teSh = test.map { case (id, t) => id -> DedupOps.shingleArray(t, n).toSet }
      val want = (for {
        (ti, ts) <- trSh; (ei, es) <- teSh
        inter = (ts & es).size if inter > 0
      } yield (ti, ei, inter.toLong,
        BigDecimal(inter.toDouble / es.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      )).toSet
      val got = TextOps.contamination(
          train.toDF("id", "text"), "id", "text",
          test.toDF("id", "text"), "id", "text", shingleLen = n)
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(got == want, s"round $round (n=$n) diverged from reference")
    }
  }

  test("bloomDecontam == in-memory Bloom reference; no false negatives vs exact overlap") {
    val rnd = new scala.util.Random(53)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh")
    def randDoc() = Seq.fill(2 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val (m, k, n) = (1 << 12, 3, 2)
    def pos(sh: String, i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest((sh + "#" + i).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16) % m
    }
    val train = (1L to 50L).map(i => (i, randDoc()))
    val eval = (100L to 105L).map(i => (i, randDoc()))
    // independent reference: build the position set, probe each train doc
    val evalPos = (for {
      (_, t) <- eval; sh <- DedupOps.shingleArray(t, n); i <- 0 until k
    } yield pos(sh, i)).toSet
    val evalSh = eval.flatMap { case (_, t) => DedupOps.shingleArray(t, n) }.toSet
    val want = train.flatMap { case (id, t) =>
      val shs = DedupOps.shingleArray(t, n)
      val nf = shs.count(sh => (0 until k).forall(i => evalPos(pos(sh, i))))
      if (nf == 0) None
      else Some((id, shs.length, nf,
        BigDecimal(nf.toDouble / shs.length).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toSet
    val got = TextOps.bloomDecontam(
        train.toDF("id", "text"), "id", "text",
        eval.toDF("id", "text"), "text",
        shingleLen = n, mBits = m, kHashes = k)
      .as[(Long, Int, Int, Double)].collect().toSet
    assert(got == want, "diverged from in-memory Bloom reference")
    // soundness: every doc truly sharing a shingle with the eval set is
    // flagged with n_flag >= its exact overlap (Bloom never undercounts)
    val flaggedCount = got.map(r => r._1 -> r._3).toMap
    for ((id, t) <- train) {
      val exact = DedupOps.shingleArray(t, n).count(evalSh)
      if (exact > 0)
        assert(flaggedCount.getOrElse(id, 0) >= exact,
          s"doc $id: exact overlap $exact but flagged ${flaggedCount.getOrElse(id, 0)}")
    }
  }

  test("snapshotDiff: all four statuses; NULL content is presence, not absence") {
    val v1 = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "will be removed"),
      (4L, null.asInstanceOf[String]), (5L, null.asInstanceOf[String]),
      (6L, "becomes null")
    ).toDF("id", "t")
    val v2 = Seq(
      (1L, "same text"), (2L, "changed text"),
      (4L, null.asInstanceOf[String]), (5L, "was null"),
      (6L, null.asInstanceOf[String]), (7L, "brand new")
    ).toDF("id", "t")
    val got = MergeOps.snapshotDiff(v1, v2, "id", "t")
      .as[(Long, String)].collect().toMap
    assert(got == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", // NULL -> NULL: present both sides, equal under null-safe compare
      5L -> "changed",   // NULL -> text
      6L -> "changed",   // text -> NULL
      7L -> "added"))
  }

  test("vocabEncode: deterministic top-V ids, OOV -> 0, order preserved, empty/null docs") {
    val rows = Seq(
      (1L, "aa bb aa cc aa bb"), // aa x3, bb x2, cc x1
      (2L, "bb dd cc"),          // dd is rank-4 (count 1, after cc alphabetically? no - dd > cc)
      (3L, ""),                  // empty -> n_tokens 0, ids ""
      (4L, null.asInstanceOf[String]) // dropped
    ).toDF("doc_id", "text")
    // counts: aa=3, bb=3? no: aa x3, bb x3 (2+1)... recount: doc1 has bb x2, doc2 bb x1 -> bb=3
    // aa=3, bb=3, cc=2, dd=1; rank by (n desc, tok asc): aa=1, bb=2, cc=3, dd=4
    val got = TextOps.vocabEncode(rows, "doc_id", "text", vocabSize = 3)
      .as[(Long, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(!got.contains(4L), "null text dropped")
    assert(got(1L) == ((6, "1,2,1,3,1,2")), s"got ${got(1L)}")
    assert(got(2L) == ((3, "2,0,3")), "dd is OOV at V=3")
    assert(got(3L) == ((0, "")), "empty doc encodes to empty csv")
    // determinism across runs
    val again = TextOps.vocabEncode(rows, "doc_id", "text", vocabSize = 3)
      .as[(Long, Int, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(again == got)
    // empty corpus -> empty vocab: every doc still encodes (all OOV)
    val empty = Seq((1L, ""), (2L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val gotEmpty = TextOps.vocabEncode(empty, "doc_id", "text", vocabSize = 3)
      .as[(Long, Int, String)].collect().toSeq
    assert(gotEmpty == Seq((1L, 0, "")), "empty vocab must not fail analysis")
  }

  test("gopherFilters: every rule trips on its own fixture; clean doc passes all") {
    val fifty = (1 to 50).map(i => s"word$i").mkString(" ")
    val clean = s"the quick brown fox and a dog of it is that for $fifty"
    val rows = Seq(
      (1L, clean),                                          // passes everything
      (2L, "too short the and"),                            // words_ok fails (stop_ok passes)
      (3L, ("a b c " * 20) + "the and"),                    // mean_len_ok fails (mean < 3)
      (4L, (1 to 60).map(_ => "123").mkString(" ") + " the and"), // alpha_ok fails
      (5L, (1 to 60).map(i => s"w$i").mkString(" ")),       // stop_ok fails (no 2 stopwords)
      (6L, "- bullet one\n- bullet two\n- bullet three\nthe and " + fifty), // bullet counts
      (7L, "trailing...\nalso trailing...\nplain\nthe and " + fifty),       // ellipsis counts
      (8L, "# lots # of # symbols # here # the and"),       // symbol ratio high
      (9L, null.asInstanceOf[String])                       // dropped
    ).toDF("doc_id", "text")
    val got = TextOps.gopherFilters(rows, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(!got.contains(9L), "null text dropped")
    assert(got(1L).getAs[Boolean]("keep"), "clean doc must pass the whole battery")
    assert(!got(2L).getAs[Boolean]("words_ok") && got(2L).getAs[Boolean]("stop_ok"))
    assert(!got(3L).getAs[Boolean]("mean_len_ok"), "1-char words fail the mean-length band")
    assert(!got(4L).getAs[Boolean]("alpha_ok"), "digit words fail the alpha ratio")
    assert(!got(5L).getAs[Boolean]("stop_ok"), "no stopwords -> stop rule fails")
    assert(got(6L).getAs[Int]("n_lines") == 4 && got(6L).getAs[Int]("n_bullet") == 3)
    assert(got(6L).getAs[Boolean]("bullet_ok"), "3/4 bullet lines still <= 90%")
    assert(got(7L).getAs[Int]("n_ellipsis") == 2 && !got(7L).getAs[Boolean]("ellipsis_ok"),
      "2/4 ellipsis lines exceed the 30% bound")
    assert(got(8L).getAs[Int]("n_symbols") == 5 && !got(8L).getAs[Boolean]("symbol_ok"))
    // integer-exact boundary: exactly 50 words passes, 49 fails
    val b = TextOps.gopherFilters(
      Seq((1L, (1 to 50).map(_ => "the").mkString(" ")),
        (2L, (1 to 49).map(_ => "the").mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Boolean]("words_ok")).toMap
    assert(b(1L) && !b(2L))
  }

  test("bloom write/read roundtrip: bits + hash family persist together, probe parity") {
    val eval = Seq((1L, "the exam answer is forty two"), (2L, "capital of france paris"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "the exam answer is forty two copied here"),
      (11L, "completely unrelated content")
    ).toDF("doc_id", "text")
    val filter = TextOps.bloomBuild(eval, "text", shingleLen = 3, mBits = 1 << 12, kHashes = 2)
    val path = java.nio.file.Files.createTempDirectory("bloomrt").toString + "/filter"
    TextOps.bloomWrite(filter, path)
    val back = TextOps.bloomRead(spark, path)
    assert(back.bits.sameElements(filter.bits), "bits must round-trip byte-exact")
    assert((back.mBits, back.kHashes, back.shingleLen) == ((1 << 12, 2, 3)),
      "hash family must persist WITH the bits")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(TextOps.bloomProbe(back, corpus, "doc_id", "text")) ==
      rows(TextOps.bloomProbe(filter, corpus, "doc_id", "text")))
  }

  test("repetitionScore == in-memory reference on random docs") {
    val rnd = new scala.util.Random(37)
    val vocab = Vector("x", "y", "z", "w")
    val docs = (1L to 50L).map(i =>
      (i, Seq.fill(rnd.nextInt(15))(vocab(rnd.nextInt(vocab.size))).mkString(" ")))
    val n = 2
    val want = docs.map { case (id, t) =>
      val toks = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
      val grams =
        if (toks.isEmpty) Seq("")
        else (0 to math.max(toks.length - n, 0)).map(i =>
          toks.slice(i, math.min(i + n, toks.length)).mkString(" "))
      val mx = grams.groupBy(identity).values.map(_.size).max.toLong
      (id, (grams.size.toLong, mx,
        BigDecimal(mx.toDouble / grams.size).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }.toMap
    val got = TextOps.repetitionScore(docs.toDF("id", "text"), "id", "text", n)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
  }

  test("heavyHitterTokens == exact top-k across capacities (certified and fallback)") {
    val rnd = new scala.util.Random(41)
    // Zipf-ish: token rank r appears ~ 200/r times, plus uniform tail
    val stream = (1 to 40).flatMap(r => Seq.fill(200 / r)(f"z_$r%02d")) ++
      (1 to 150).map(_ => f"u_${rnd.nextInt(400)}%03d")
    val docs = rnd.shuffle(stream).grouped(23).zipWithIndex
      .map { case (c, i) => (i.toLong, c.mkString(" ")) }.toSeq.toDF("id", "text")
    val exact = docs.select(explode(DedupOps.tokens($"text")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"tok".asc).limit(12)
      .as[(String, Long)].collect().toSeq
    // capacities spanning: tiny (fallback), mid (certified w/ eviction),
    // huge (lossless) - all must return the exact answer
    for (cap <- Seq(8, 60, 10000)) {
      val got = TextOps.heavyHitterTokens(docs, "text", k = 12, capacity = cap)
        .as[(String, Long)].collect().toSeq
      assert(got == exact, s"capacity $cap diverged: $got")
    }
  }

  test("contamination: overlap counts, test_frac, hot-shingle cap") {
    val train = Seq(
      (1L, "the exam answer is forty two exactly"),
      (2L, "completely unrelated content about weather patterns"),
      (3L, "the exam answer is forty two exactly copied verbatim")
    ).toDF("id", "text")
    val test = Seq(
      (100L, "the exam answer is forty two"), // 2-shingle overlap w/ 1 and 3
      (101L, "nothing shared here at all")
    ).toDF("id", "text")
    val got = TextOps.contamination(train, "id", "text", test, "id", "text",
        shingleLen = 5)
      .select("train_id", "test_id", "n_overlap", "test_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    // test 100 has 2 distinct 5-shingles; both appear in docs 1 and 3
    assert(got == Set((1L, 100L, 2L, 1.0), (3L, 100L, 2L, 1.0)))
    // cap = 1: shingles present in >1 training doc are dropped from both
    // sides; doc 100's surviving universe is empty -> no pairs at all
    val capped = TextOps.contamination(train, "id", "text", test, "id", "text",
        shingleLen = 5, maxShingleDocFreq = 1)
      .collect()
    assert(capped.isEmpty)
  }

  test("repetitionScore: max-run counting, short docs, empty docs") {
    val docs = Seq(
      (1L, "spam spam spam spam spam"),        // 3 grams, all identical
      (2L, "one two three four five"),         // 3 grams, all distinct
      (3L, "ab"),                              // shorter than n: 1 gram, ratio 1
      (4L, ""),                                // empty: 1 "" gram, ratio 1
      (5L, null.asInstanceOf[String])          // NULL text: excluded, not scored
    ).toDF("id", "text")
    val got = TextOps.repetitionScore(docs, "id", "text", n = 3)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 1L, 0.333333)))
    assert(got(3L) == ((1L, 1L, 1.0)))
    assert(got(4L) == ((1L, 1L, 1.0)))
    assert(!got.contains(5L), "NULL text must not be scored as boilerplate")
  }

  test("multimodal: resizeMeta fits the box, never upscales, passes 0x0 through") {
    val decoded = Seq(
      (1L, 1024, 768),  // downscale, width-bound: 256/1024 = 0.25
      (2L, 100, 400),   // downscale, height-bound: 256/400 = 0.64
      (3L, 200, 100),   // fits already: scale 1.0, dims unchanged
      (4L, 0, 0),       // empty payload: 0x0 passes through
      (5L, 512, 512)    // exact-fit scale 0.5
    ).toDF("media_id", "width", "height")
    val out = MultimodalOps.resizeMeta(decoded, 256, 256)
      .select("media_id", "out_w", "out_h", "scale")
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((256, 192, 0.25)))
    assert(out(2L) == ((64, 256, 0.64)))
    assert(out(3L) == ((200, 100, 1.0)))
    assert(out(4L) == ((0, 0, 1.0)))
    assert(out(5L) == ((256, 256, 0.5)))
    // aspect ratio preserved within integer truncation; never exceeds box
    val all = MultimodalOps.resizeMeta(decoded.filter($"width" > 0), 256, 256)
      .select("out_w", "out_h").as[(Int, Int)].collect()
    assert(all.forall { case (w, h) => w <= 256 && h <= 256 && w >= 1 && h >= 1 })
  }

  test("countMin: est >= exact always, exact when width ample, 0 for unseen") {
    val rnd = new scala.util.Random(11)
    val stream = Seq.fill(2000)(s"tok${rnd.nextInt(40)}").toDF("item")
    val exact = stream.as[String].collect().groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val probes = ((0 until 40).map(i => s"tok$i") ++ Seq("never_a", "never_b")).toDF("item")
    // undersized: width 16 << 40 distinct -> collisions, but never undercount
    val tight = SketchOps.countMinEstimate(
      SketchOps.countMinSketch(stream, "item", depth = 4, width = 16),
      probes, "item", depth = 4, width = 16)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) => assert(tight(k) >= n, s"CMS undercounted $k") }
    assert(tight("never_a") >= 0 && tight("never_b") >= 0)
    // ample: width 1024 >> 40 distinct -> whp no row collides everywhere;
    // unseen items must estimate 0 unless all 4 rows collide (they don't here)
    val ample = SketchOps.countMinEstimate(
      SketchOps.countMinSketch(stream, "item", depth = 4, width = 1024),
      probes, "item", depth = 4, width = 1024)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) => assert(ample(k) == n, s"ample CMS off for $k") }
    assert(ample("never_a") == 0L && ample("never_b") == 0L)
    // sketch size is bounded by depth*width, independent of stream length
    assert(SketchOps.countMinSketch(stream, "item", 4, 16).count() <= 64)
  }

  test("hllDistinct: register file bounded, estimate within rough rel-error, linear counting small range") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 3000).map(i => ("big", s"user${rnd.nextInt(800)}")) ++
      (1 to 50).map(i => ("small", s"u${i % 7}")) // 7 distinct -> linear counting
    val df = rows.toDF("grp", "uid")
    val out = SketchOps.hllDistinct(df, "uid", Seq("grp"))
      .select($"grp", $"v", $"hll_est").as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val exactBig = rows.filter(_._1 == "big").map(_._2).distinct.size
    // m=64 standard error ~ 1.04/sqrt(64) = 13%; allow 3 sigma
    assert(math.abs(out("big")._2 - exactBig) / exactBig.toDouble < 0.4,
      s"HLL est ${out("big")._2} vs exact $exactBig")
    // small group: many empty registers -> linear counting, which is
    // near-exact at 7 distinct
    assert(out("small")._1 > 0) // empty registers present
    assert(math.abs(out("small")._2 - 7.0) < 2.0)
    // union+re-aggregate mergeability: sketching df twice changes nothing
    val doubled = SketchOps.hllDistinct(df.union(df), "uid", Seq("grp"))
      .select($"grp", $"hll_est").as[(String, Double)].collect().toMap
    assert(doubled("big") == out("big")._2 && doubled("small") == out("small")._2)
  }

  test("triangleCounts == in-memory brute force; tolerates dups/reversed/self-loops") {
    // K4 on 1..4 plus a pendant 5, with noise: duplicates, both
    // orientations, and a self-loop
    val k4 = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val noisy = k4 ++ k4.map(_.swap) ++ Seq((1L, 1L), (4L, 5L), (5L, 4L), (2L, 1L))
    val out = GraphOps.triangleCounts(noisy.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    (1L to 3L).foreach { n => assert(out(n) == ((3L, 3L, 1.0)), s"node $n: ${out(n)}") }
    assert(out(4L) == ((4L, 3L, 0.5))) // 3 of C(4,2)=6 wedges closed
    assert(out(5L) == ((1L, 0L, 0.0))) // degree-1 node: defined 0
    // random graph vs brute force
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(300)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val und = edges.filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
    val adj = und.flatMap(e => Seq(e, e.swap)).groupBy(_._1)
      .map { case (k, v) => k -> v.map(_._2).toSet }
    val expTri = adj.map { case (n, nb) =>
      n -> nb.toSeq.combinations(2).count(p => adj(p(0)).contains(p(1)))
    }
    val got = GraphOps.triangleCounts(edges.toDF("s", "d"), "s", "d")
      .as[(Long, Long, Long, Double)].collect()
    got.foreach { case (n, deg, tri, clus) =>
      assert(deg == adj(n).size, s"degree of $n")
      assert(tri == expTri(n).toLong, s"triangles of $n")
      val expC = if (deg < 2) 0.0
        else BigDecimal(2.0 * expTri(n) / (deg * (deg - 1.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(clus == expC, s"clustering of $n")
    }
    assert(got.map(_._1).toSet == adj.keySet)
  }

  test("mutualKnnEdges: mutual-only, canonical a<b, degree <= k") {
    // Line cluster: 10 points near origin (mutually close) + one distant
    // outlier whose nearest are in the cluster, but it is in nobody's top-k
    val vecs = (1L to 10L).map(i =>
      (i, Array(1.0f, 0.001f * i, 0f))) :+ (99L, Array(0.0f, 0f, 1f))
    val df = vecs.toDF("id", "vec")
    val edges = SimilarityOps.mutualKnnEdges(df, "id", "vec", k = 3)
      .as[(Long, Long)].collect()
    assert(edges.forall { case (a, b) => a < b }, "canonical orientation")
    assert(edges.distinct.length == edges.length, "each edge once")
    val deg = edges.flatMap { case (a, b) => Seq(a, b) }.groupBy(identity).map(_._2.size)
    assert(deg.forall(_ <= 3), "degree bounded by k")
    // outlier 99: its top-3 are cluster points, but no cluster point
    // reciprocates (they have 9 closer neighbours) -> isolated
    assert(!edges.exists { case (a, b) => a == 99L || b == 99L })
    // in-memory mutual-kNN reference over exact cosine
    def cos(x: Array[Float], y: Array[Float]): Double = {
      val d = x.zip(y).map { case (a, b) => a.toDouble * b }.sum
      d / (math.sqrt(x.map(v => v.toDouble * v).sum) * math.sqrt(y.map(v => v.toDouble * v).sum))
    }
    val topk = vecs.map { case (i, v) =>
      i -> vecs.filter(_._1 != i)
        .sortBy { case (j, w) => (-cos(v, w), j) }.take(3).map(_._1).toSet
    }.toMap
    val expected = (for {
      (a, na) <- topk.toSeq; b <- na
      if topk(b).contains(a) && a < b
    } yield (a, b)).toSet
    assert(edges.toSet == expected)
  }

  test("saltedJoin == plain inner join, incl. duplicate and hot keys") {
    val rnd = new scala.util.Random(43)
    // one pathologically hot key (70% of left rows) + duplicates on BOTH
    // sides, so the all-pairs semantics is exercised
    val left = Seq.tabulate(400)(i =>
      (if (rnd.nextInt(10) < 7) 1L else rnd.nextInt(20).toLong, i.toLong))
      .toDF("lk", "lv")
    val right = Seq.tabulate(60)(i => (rnd.nextInt(20).toLong, i.toLong))
      .toDF("rk", "rv")
    val salted = JoinOps.saltedJoin(left, right, "lk", "rk", salts = 4)
      .select($"lk", $"lv", $"rv").as[(Long, Long, Long)].collect().sorted.toSeq
    val plain = left.join(right, $"lk" === $"rk")
      .select($"lk", $"lv", $"rv").as[(Long, Long, Long)].collect().sorted.toSeq
    assert(salted === plain)
    // the hot key's left rows really scatter across salts (the point)
    val saltOf = (row: (Long, Long)) => {
      val df = Seq(row).toDF("lk", "lv")
      df.select(pmod(xxhash64(df.columns.map(col): _*), lit(4)).cast("int"))
        .as[Int].head()
    }
    val hotSalts = Seq((1L, 3L), (1L, 17L), (1L, 23L), (1L, 101L), (1L, 202L))
      .map(saltOf).distinct
    assert(hotSalts.size > 1, s"hot-key rows all landed on one salt: $hotSalts")
  }

  test("bm25Search == in-memory reference ranking") {
    val queries = Seq("the quick brown", "query engines").toDF("q")
    val got = SearchOps.bm25Search(docs, "doc_id", "text", queries, "q", k = 3)
      .as[(String, Int, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    // in-memory BM25 with the same tokenizer and constants
    val corpus = docs.as[(Long, String)].collect().toSeq
    val tf = corpus.map { case (id, t) =>
      id -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length.toLong).toMap
    }.toMap
    val n = corpus.size
    val avgdl = tf.values.map(_.values.sum).sum.toDouble / n
    val dfT = tf.values.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
    def score(qs: String, id: Long): Double = {
      val terms = qs.split(" ").distinct
      terms.flatMap { t =>
        tf(id).get(t).map { f =>
          val idf = math.log((n - dfT(t) + 0.5) / (dfT(t) + 0.5) + 1.0)
          val dl = tf(id).values.sum.toDouble
          idf * f * 2.2 / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
        }
      }.sum
    }
    for ((q, expected) <- Seq("the quick brown", "query engines").map(qs =>
        qs -> corpus.map(_._1).map(id => (id, score(qs, id))).filter(_._2 > 0)
          .sortBy { case (id, sc) => (-sc, id) }.take(3))) {
      val g = got(q)
      assert(g.map(_._1) === expected.map(_._1), s"ranking for '$q'")
      g.zip(expected).foreach { case ((_, gs), (_, es)) =>
        assert(math.abs(gs - es) < 1e-6, s"score for '$q': $gs vs $es")
      }
    }
  }

  test("winnowPairs: dup/near-dup pairs found, unrelated docs absent, cap + threshold honored") {
    val got = DedupOps.winnowPairs(docs, "doc_id", "text",
        k = 8, w = 4, minShared = 2, maxFpDocFreq = 10)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    // exact dup (1,5) and near-dup (1,2)/(2,5) share spans >= k+w-1
    assert(got.contains((1L, 5L)) && got.contains((1L, 2L)) && got.contains((2L, 5L)))
    // the Spanish and the unrelated doc pair with nothing
    assert(!got.keys.exists { case (a, b) => a == 3L || b == 3L || a == 4L || b == 4L })
    // pairing replays from the operator's own fingerprint sets (join /
    // cap / threshold logic; the fingerprints themselves are
    // reference-checked in ShardOpsSpec)
    val fps = TextOps.winnowFingerprints(docs, "doc_id", "text")
      .select($"doc_id", $"fp").distinct().as[(Long, Long)].collect()
    val byFp = fps.groupBy(_._2).view.mapValues(_.toSeq).toMap.filter(_._2.length <= 10)
    val expected = byFp.values.toSeq
      .flatMap(ds => for (a <- ds; b <- ds if a._1 < b._1) yield (a._1, b._1))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= 2).toMap
    assert(got === expected)
  }

  test("hdrSketch: tail rank-error bound holds where equal-state bottom-k fails") {
    // heavy tail: value = 2^(40 * (i/n)^8) - near q999 the value doubles
    // every ~60 ranks, so a uniform-rank-error sample sketch misses by
    // whole octaves while the log-bucket bound (half a 1/32 bucket,
    // ~1.6% relative) is distribution-independent
    val n = 20000
    val data = (0 until n).map(i =>
      (i.toLong, "g", math.pow(2.0, 40.0 * math.pow(i.toDouble / n, 8))))
    val df = data.toDF("id", "grp", "value")
    val sk = SketchOps.hdrSketch(df, "value", Seq("grp"))
    val cells = sk.collect()
    val state = cells.length
    assert(state <= 41 * 32 + 32 && state < n / 10, s"state $state not sketch-sized")
    val qs = Seq(0.5, 0.9, 0.99, 0.999)
    val est = SketchOps.hdrQuantiles(sk, Seq("grp"), qs).collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("est")).toMap
    val sorted = data.map(_._3).sorted
    def exact(q: Double) = sorted(math.max(math.ceil(q * n).toInt, 1) - 1)
    qs.foreach { q =>
      val rel = math.abs(est(q) - exact(q)) / exact(q)
      assert(rel <= 0.02, s"hdr q$q rel err $rel")
    }
    // the SAME state budget spent on a bottom-k sample: rank error is
    // uniform in rank, which on this tail is octaves of value error
    val samp = SketchOps.sampleQuantiles(
      SketchOps.sampleSketch(df, "id", "value", Seq("grp"), k = state),
      Seq("grp"), Seq(0.999)).collect().head.getAs[Double]("est")
    val sampRel = math.abs(samp - exact(0.999)) / exact(0.999)
    assert(sampRel > 0.05,
      s"bottom-k at equal state $state should miss q999, rel err $sampRel")
    // merge law: union of half-corpus sketches re-summed == the sketch
    // of the whole corpus, cell for cell (no compaction randomness)
    val h1 = SketchOps.hdrSketch(df.filter($"id" % 2 === 0), "value", Seq("grp"))
    val h2 = SketchOps.hdrSketch(df.filter($"id" % 2 === 1), "value", Seq("grp"))
    val merged = h1.unionByName(h2).groupBy("grp", "sgn", "code").agg(sum("c").as("c"))
    assert(merged.collect().map(_.toString).sorted.toSeq
      == cells.map(_.toString).sorted.toSeq)
    // sign split + exact small-value buckets (code < 32 is the identity)
    val neg = Seq((1L, "g", -5.0), (2L, "g", -1000.0), (3L, "g", 0.0), (4L, "g", 2.5e-5))
      .toDF("id", "grp", "value")
    val nq = SketchOps.hdrQuantiles(
      SketchOps.hdrSketch(neg, "value", Seq("grp")),
      Seq("grp"), Seq(0.25, 0.5, 1.0)).collect()
      .map(r => r.getAs[Double]("q") -> r.getAs[Double]("est")).toMap
    assert(math.abs(nq(0.25) - (-1000.0)) / 1000.0 <= 0.016)
    assert(math.abs(nq(0.5) - (-5.0)) / 5.0 <= 0.016)
    assert(nq(1.0) == 26.0 / 1048576.0) // floor(2.5e-5 * 2^20) = 26, exact
    // out-of-range magnitude raises instead of silently overflowing -
    // the bound covers the SERVING side too (lo + hi in the midpoint
    // decode overflows a long from scaled magnitude 2^61, i.e. ~4.4e12)
    intercept[Exception] {
      SketchOps.hdrSketch(Seq((1L, "g", 3.0e12)).toDF("id", "grp", "value"),
        "value", Seq("grp")).collect()
    }
    // and the largest admitted magnitude serves without overflow
    val big = SketchOps.hdrQuantiles(
      SketchOps.hdrSketch(Seq((1L, "g", 1.9e12), (2L, "g", -1.9e12))
        .toDF("id", "grp", "value"), "value", Seq("grp")),
      Seq("grp"), Seq(1.0)).collect().head.getAs[Double]("est")
    assert(math.abs(big - 1.9e12) / 1.9e12 <= 0.016)
  }

  test("winnowPairs: checkpoint lifecycle - no leaked RDD blocks after consumption") {
    // the corpus-sized fingerprint checkpoint must be released inside the
    // call; the returned (bounded) frame is the ONE checkpoint left, and
    // unpersistCheckpoint releases it - repeated audits must not leak
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = DedupOps.winnowPairs(docs, "doc_id", "text",
      k = 8, w = 4, minShared = 2, maxFpDocFreq = 10)
    pairs.count() // consume
    val mid = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(mid.size <= 1,
      s"winnowPairs may pin only its own result checkpoint, found ${mid.size}")
    OpsUtil.unpersistCheckpoint(pairs)
    val after = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"leaked persistent RDDs after release: $after")
  }

  test("BM25 persisted index: lossless round-trip, job-free query construction") {
    val queries = Seq("the quick brown", "query engines").toDF("q")
    val direct = SearchOps.bm25Search(docs, "doc_id", "text", queries, "q", k = 3)
      .collect().map(_.toString).sorted.toSeq
    val idx = SearchOps.bm25Build(docs, "doc_id", "text")
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_spec").toString
    SearchOps.bm25Write(idx, path)
    val back = SearchOps.bm25Read(spark, path)
    val (q, jobs) = countJobs(SearchOps.bm25Query(back, queries, "q", k = 3))
    assert(jobs == 0, s"bm25Query construction must launch no jobs, saw $jobs")
    assert(q.collect().map(_.toString).sorted.toSeq == direct)
    // the tf probe must keep the index-probe shape (query batch
    // broadcast against the corpus-sized postings) even when the
    // freshly-read parquet carries no stats: threshold -1 turns off
    // size-based broadcasts, so only the explicit hint can produce one
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = SearchOps.bm25Query(back, queries, "q", k = 3)
        .queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("broadcasthashjoin"),
        s"tf probe lost its broadcast shape:\n${plan.take(2000)}")
    }
  }

  test("exactKPerStratum: exact per-stratum counts, deterministic, layout-independent") {
    val rnd = new scala.util.Random(47)
    val rows = Seq.tabulate(300)(i => (i.toLong, Seq("en", "de", "fr")(rnd.nextInt(3))))
    val df = rows.toDF("id", "lang")
    val got = SampleOps.exactKPerStratum(df, "id", "lang", k = 30)
      .as[(Long, String)].collect().toSet
    // exactly min(k, |stratum|) per stratum
    val perStratum = got.groupBy(_._2).view.mapValues(_.size).toMap
    val full = rows.groupBy(_._2).view.mapValues(_.size).toMap
    for ((lang, n) <- full) assert(perStratum(lang) == math.min(30, n), lang)
    // same subset under a different physical layout
    val again = SampleOps.exactKPerStratum(df.repartition(7), "id", "lang", k = 30)
      .as[(Long, String)].collect().toSet
    assert(again == got)
    // a new row only displaces the boundary element of ITS stratum
    val grown = SampleOps.exactKPerStratum(
        (rows :+ (999L, "en")).toDF("id", "lang"), "id", "lang", k = 30)
      .as[(Long, String)].collect().toSet
    assert((got -- grown).forall(_._2 == "en") && (grown -- got).size <= 1)
  }

  test("interleaveBySources: every prefix tracks the mixture, layout-independent") {
    val rnd = new scala.util.Random(59)
    val rows = Seq.tabulate(600)(i =>
      (i.toLong, Seq("a", "a", "a", "b", "b", "c")(rnd.nextInt(6))))
    val weights = Map("a" -> 0.5, "b" -> 0.3, "c" -> 0.2)
    val df = rows.toDF("id", "src")
    val got = SampleOps.interleaveBySources(df, "id", "src", weights)
      .select($"id", $"src", $"position").as[(Long, String, Long)]
      .collect().sortBy(_._3)
    // positions are 0..n-1
    assert(got.map(_._3).toSeq == (0L until got.length.toLong))
    // stride scheduling: in every prefix BEFORE any source exhausts,
    // each source's count stays within 1 of its proportional share
    // (after a source runs dry the others legitimately fill its slots)
    val totals = rows.groupBy(_._2).view.mapValues(_.size).toMap
    val seen = scala.collection.mutable.Map("a" -> 0, "b" -> 0, "c" -> 0)
    var exhausted = false
    got.zipWithIndex.foreach { case ((_, src, _), idx) =>
      seen(src) += 1
      exhausted ||= weights.keys.exists(s => seen(s) >= totals(s))
      val n = idx + 1
      if (!exhausted)
        for ((s, w) <- weights)
          assert(math.abs(seen(s) - n * w) <= 1.0 + 1e-9,
            s"prefix $n: source $s at ${seen(s)} vs share ${n * w}")
    }
    assert(got.length > 100) // the bound was actually exercised
    // reproducible under a different layout
    val again = SampleOps.interleaveBySources(df.repartition(13), "id", "src", weights)
      .select($"id", $"position").as[(Long, Long)].collect().toMap
    assert(again === got.map(r => r._1 -> r._3).toMap)
  }

  test("covarianceUpper == in-memory exact moments, partitioning-independent") {
    val rnd = new scala.util.Random(53)
    val vecs = Seq.tabulate(120)(i => (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat)))
    val df = vecs.toDF("id", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      SimilarityOps.covarianceUpper(d, "v", dim = 6)
        .as[(Int, Int, Double, Double)].collect()
        .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    val got = run(df)
    // bit-identical under a different partitioning (the decimal-exact
    // accumulation claim)
    assert(run(df.repartition(11)) === got)
    val n = vecs.size
    for (i <- 0 until 6; j <- i until 6) {
      val s2 = vecs.map(v => v._2(i).toDouble * v._2(j).toDouble).sum
      val mi = vecs.map(_._2(i).toDouble).sum / n
      val mj = vecs.map(_._2(j).toDouble).sum / n
      val (gram, cov) = got((i + 1, j + 1))
      // output is rounded to 6dp: agreement is to the rounding grain
      assert(math.abs(gram - s2 / n) <= 5.1e-7, s"gram($i,$j)")
      assert(math.abs(cov - (s2 / n - mi * mj)) <= 5.1e-7, s"cov($i,$j)")
    }
  }

  test("labelPropagation == in-memory synchronous reference on a random graph") {
    val rnd = new scala.util.Random(17)
    val raw = Seq.fill(120)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }
    val got = GraphOps.labelPropagation(raw.toDF("src", "dst"), "src", "dst", rounds = 5)
      .as[(Long, Long)].collect().toMap
    // in-memory replay of the same rule: most frequent neighbor label,
    // smallest on ties, all nodes update simultaneously
    val sym = (raw ++ raw.map(_.swap)).distinct
    val adj = sym.groupBy(_._1).map { case (k, es) => k -> es.map(_._2) }
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to 5) {
      labels = adj.map { case (n, ns) =>
        val votes = ns.groupBy(labels).map { case (l, xs) => (l, xs.size) }
        n -> votes.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    }
    assert(got === labels)
  }

  test("labelPropagation: packed-long argmin path == struct-min fallback path") {
    // the r17 hash-aggregate encoding (enc = votes*2^32 + (2^32-1-lab),
    // plain max) must pick EXACTLY the struct-min winner, ties included.
    // Same random graph run three ways: long ids in-range (packed path),
    // the ids as strings (non-integral -> struct fallback), and the ids
    // shifted past 2^31 (integral but out of range -> struct fallback).
    // All three must produce isomorphic labelings.
    val rnd = new scala.util.Random(41)
    val raw = Seq.fill(150)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }
    val packed = GraphOps.labelPropagation(raw.toDF("src", "dst"), "src", "dst", rounds = 4)
      .as[(Long, Long)].collect().toMap
    val asStr = GraphOps.labelPropagation(
      raw.map { case (a, b) => (f"n$a%03d", f"n$b%03d") }.toDF("src", "dst"),
      "src", "dst", rounds = 4).as[(String, String)].collect().toMap
    val shift = 1L << 32
    val shifted = GraphOps.labelPropagation(
      raw.map { case (a, b) => (a + shift, b + shift) }.toDF("src", "dst"),
      "src", "dst", rounds = 4).as[(Long, Long)].collect().toMap
    // zero-padded strings and shifted longs order identically to the
    // original longs, so the fallback labelings must translate 1:1
    assert(asStr == packed.map { case (n, l) => (f"n$n%03d", f"n$l%03d") })
    assert(shifted == packed.map { case (n, l) => (n + shift, l + shift) })
  }

  test("labelPropagation: a bridged pair of cliques splits into two communities") {
    val clique = (off: Long) => for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a + off, b + off)
    val edges = (clique(0L) ++ clique(10L) :+ (3L, 10L)).toDF("src", "dst")
    val got = GraphOps.labelPropagation(edges, "src", "dst", rounds = 5)
      .as[(Long, Long)].collect().toMap
    val left = (0L to 3L).map(got)
    val right = (10L to 13L).map(got)
    assert(left.distinct.size == 1 && right.distinct.size == 1)
    assert(left.head != right.head)
  }

  test("ewmaScore == in-memory recurrence over the 30 most recent values") {
    val rnd = new scala.util.Random(29)
    val events = Seq.tabulate(400)(i =>
      (rnd.nextInt(8).toLong, rnd.nextInt(300).toLong, i.toLong,
        if (rnd.nextInt(10) == 0) null.asInstanceOf[java.lang.Double]
        else java.lang.Double.valueOf(rnd.nextDouble() * 100)))
    val df = events.toDF("user_id", "ts", "event_id", "value")
    val got = TimeOps.ewmaScore(df, "user_id", "ts", "event_id", "value",
        alpha = 0.3, maxHistory = 30)
      .select($"user_id", $"n_used", $"ewma").as[(Long, Long, Double)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    val expected = events.filter(_._4 != null).groupBy(_._1).map { case (u, es) =>
      val recent = es.sortBy(e => (-e._2, -e._3)).take(30)
      // fold oldest -> newest: init at the oldest, then a*v + (1-a)*acc
      val ewma = recent.reverse.map(_._4.doubleValue()) match {
        case oldest +: rest => rest.foldLeft(oldest)((acc, v) => 0.3 * v + 0.7 * acc)
      }
      u -> (recent.size.toLong, ewma)
    }
    assert(got.keySet === expected.keySet)
    for ((u, (n, e)) <- expected) {
      assert(got(u)._1 === n, s"user $u n_used")
      // closed-form weights vs sequential fold associate differently;
      // agreement is to floating-point noise, not bit-exact
      assert(math.abs(got(u)._2 - e) <= 1e-6, s"user $u ewma ${got(u)._2} vs $e")
    }
  }

  test("repeatMix: exact floor copies, thresholded tail, omitted strata keep 1.0") {
    val docs = (1L to 400L).map(i => (i, Seq("a", "b", "c", "d")((i % 4).toInt)))
      .toDF("id", "src")
    val out = SampleOps.repeatMix(docs, "id", "src",
        Map("a" -> 3.0, "b" -> 1.5, "c" -> 0.25, "d" -> 0.0))
      .as[(Long, String, Int)].collect()
    val bySrc = out.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    assert(bySrc("a") === 300L) // exactly 3 copies each of 100 docs
    assert(bySrc.getOrElse("d", 0L) === 0L) // factor 0 drops the stratum
    // fractional tails are approximately binomial around the factor
    assert(bySrc("b") > 115 && bySrc("b") < 185, s"b=${bySrc("b")} for 1.5x of 100")
    assert(bySrc("c") > 10 && bySrc("c") < 45, s"c=${bySrc("c")} for 0.25x of 100")
    // copy indices within a doc are distinct and 0-based
    val aCopies = out.filter(r => r._2 == "a" && r._1 == 4L).map(_._3).sorted.toSeq
    assert(aCopies === Seq(0, 1, 2))
    // pure function of (key, copy): identical on re-run and re-partition
    val again = SampleOps.repeatMix(docs.repartition(13), "id", "src",
        Map("a" -> 3.0, "b" -> 1.5, "c" -> 0.25, "d" -> 0.0))
      .as[(Long, String, Int)].collect()
    assert(again.sorted.toSeq === out.sorted.toSeq)
    // a stratum missing from the map keeps exactly one copy
    val dflt = SampleOps.repeatMix(docs, "id", "src", Map("a" -> 2.0))
      .as[(Long, String, Int)].collect().groupBy(_._2).view.mapValues(_.length).toMap
    assert(dflt("b") === 100 && dflt("c") === 100 && dflt("d") === 100 && dflt("a") === 200)
  }

  test("shardManifest: partitioning-invariant fingerprint, single-doc change detection") {
    val docs = Seq.tabulate(40)(i => (i.toLong, s"document body number $i with words", i % 4))
      .toDF("id", "text", "shard")
    def rows(df: org.apache.spark.sql.DataFrame) =
      ShardOps.shardManifest(df, "id", "text", "shard")
        .collect().map(_.toString).sorted.toSeq
    val base = rows(docs)
    // content hash is a pure function of the SET of documents: any
    // repartitioning/row order produces the identical manifest
    assert(rows(docs.repartition(7)) === base)
    assert(rows(docs.orderBy($"text")) === base)
    // one edited doc flips exactly its shard's fingerprint
    val edited = docs.withColumn("text",
      when($"id" === 5, lit("tampered content")).otherwise($"text"))
    val diff = rows(edited).toSet.diff(base.toSet)
    assert(diff.size === 1 && diff.head.startsWith("[1,"), s"expected shard 1 to flip: $diff")
    // dropping a doc changes its shard's count AND hash
    val dropped = rows(docs.filter($"id" =!= 6)).toSet.diff(base.toSet)
    assert(dropped.size === 1 && dropped.head.startsWith("[2,"))
  }

  test("degenerate inputs: empty LSH index probes empty; empty DSIR target stays defined") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val idx = DedupOps.lshBuild(empty, "doc_id", "text")
    val batch = Seq((1L, "anything at all here")).toDF("doc_id", "text")
    assert(DedupOps.lshProbe(idx, batch, "doc_id", "text").isEmpty)
    // an empty target corpus: every bucket smooths to ca = 0, scores are
    // finite and uniform-ish (pure -ln p_raw shape), never NULL/NaN
    val raw = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val scores = SampleOps.dsirScores(raw, "doc_id", "text", empty, "text")
      .select($"doc_id", $"score_exact".cast("double"))
      .as[(Long, Double)].collect().toMap
    assert(scores.keySet === Set(1L, 2L))
    assert(scores.values.forall(v => !v.isNaN && !v.isInfinite))
  }

  test("dsirScores == in-memory reference; target-like docs outrank unrelated ones") {
    val target = Seq(
      (100L, "gradient descent optimizer learning rate schedule warmup decay"),
      (101L, "transformer attention heads layer norm residual stream"))
      .toDF("doc_id", "text")
    val rawRows = Seq(
      (1L, "gradient descent learning rate and attention heads discussion"), // target-like
      (2L, "optimizer schedule warmup decay residual stream analysis"), // target-like
      (3L, "recipe for sourdough bread with rye flour and honey"),
      (4L, "weather patterns in coastal regions during autumn storms"))
    val raw = rawRows.toDF("doc_id", "text")
    val got = SampleOps.dsirScores(raw, "doc_id", "text", target, "text")
      .select($"doc_id", $"n_features", $"score_exact".cast("double"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // in-memory reference sharing no code: same features, same md5
    // bucket, same smoothing
    def toks(t: String) = t.toLowerCase.trim.split("\\s+").filter(_.nonEmpty).toSeq
    def feats(t: String): Seq[String] = {
      val tk = toks(t)
      val uni = if (tk.isEmpty) Seq("") else tk.distinct
      val bi = if (tk.size < 2) Seq(tk.mkString(" "))
        else tk.sliding(2).map(_.mkString(" ")).toSeq.distinct
      uni ++ bi
    }
    def bucket(f: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(f.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % 1024
    }
    val tCnt = Seq(
      "gradient descent optimizer learning rate schedule warmup decay",
      "transformer attention heads layer norm residual stream")
      .flatMap(feats).map(bucket).groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val rCnt = rawRows.map(_._2).flatMap(feats).map(bucket)
      .groupBy(identity).map { case (b, xs) => b -> xs.size.toLong }
    val (ta, tb) = (tCnt.values.sum, rCnt.values.sum)
    for ((id, text) <- rawRows) {
      val fs = feats(text)
      val exp = fs.map { f =>
        val b = bucket(f)
        math.log((tCnt.getOrElse(b, 0L) + 1.0) / (ta + 1024.0)) -
          math.log((rCnt(b) + 1.0) / (tb + 1024.0))
      }.sum
      assert(got(id)._1 === fs.size.toLong, s"doc $id n_features")
      assert(math.abs(got(id)._2 - exp) <= 1e-9, s"doc $id score ${got(id)._2} vs $exp")
    }
    // the selection signal: both target-like docs beat both unrelated docs
    assert(Seq(1L, 2L).map(got(_)._2).min > Seq(3L, 4L).map(got(_)._2).max)
  }

  test("mixDriftByPeriod: stable mix ~0, shifted mix registers, vanished category floors") {
    val rows =
      Seq.fill(50)(("w1", "click")) ++ Seq.fill(50)(("w1", "view")) ++
      Seq.fill(60)(("w2", "click")) ++ Seq.fill(60)(("w2", "view")) ++ // same 50/50 mix
      Seq.fill(99)(("w3", "click")) ++ Seq.fill(1)(("w3", "view")) // collapsed mix
    val got = StatOps.mixDriftByPeriod(rows.toDF("wk", "et"), "wk", "et")
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set("w2", "w3"))
    assert(got("w2") === (("w2", "w1", 120L, 100L, 0.0))) // identical proportions
    assert(got("w3")._5 > 1.0, s"mix collapse must register, got ${got('w'+"3")._5}")
    // a category present before but absent now floors to eps, not a crash
    val vanish = (Seq.fill(10)(("a", "x")) ++ Seq.fill(10)(("a", "y")) ++
      Seq.fill(20)(("b", "x"))).toDF("wk", "et")
    val v = StatOps.mixDriftByPeriod(vanish, "wk", "et")
      .as[(String, String, Long, Long, Double)].collect().head
    assert(v._1 === "b" && v._5 > 1.0)
  }

  test("property: histogramQuantiles within one binWidth of the exact order statistic") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val (lo, hi, bins) = (0.0, 100.0, 16)
    val w = (hi - lo) / bins
    val dataGen = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-10.0, 110.0))) // incl. out-of-range tails
    val qGen = Gen.chooseNum(0.05, 1.0)
    val prop = Prop.forAll(dataGen, qGen) { (vs: List[Double], q: Double) =>
      val inRange = vs.filter(v => v >= lo && v < hi).sorted
      inRange.isEmpty || {
        val hist = SketchOps.fixedHistogram(
          vs.map(("g", _)).toDF("g", "v"), "v", Seq("g"), lo, hi, bins)
        val est = SketchOps.histogramQuantiles(hist, Seq("g"), Seq(q), lo, hi, bins)
          .select("est").as[Double].head()
        // exact rank-t order statistic bracket: the estimate must land
        // within one bin of SOME value at the target rank
        val t = q * inRange.size
        val exact = inRange(math.max(0, math.ceil(t).toInt - 1))
        math.abs(est - exact) <= w + 1e-9
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: fixedHistogramAuto quantiles within one derived binWidth") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val bins = 8
    val dataGen = Gen.chooseNum(5, 60).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-500.0, 500.0))) // range unknown a priori
    val qGen = Gen.chooseNum(0.05, 1.0)
    val prop = Prop.forAll(dataGen, qGen) { (vs: List[Double], q: Double) =>
      val sorted = vs.sorted
      val hist = SketchOps.fixedHistogramAuto(
        vs.map(("g", _)).toDF("g", "v"), "v", Seq("g"), bins)
      val est = SketchOps.histogramQuantilesAuto(hist, Seq("g"), Seq(q), bins)
        .select("est").as[Double].head()
      // auto mode has NO out-of-range tail: every value is in [lo, hi],
      // so the bound holds against the full sample's order statistic,
      // with the binWidth derived from the sample's own span
      val w = (sorted.last - sorted.head) / bins
      val t = q * sorted.size
      val exact = sorted(math.max(0, math.ceil(t).toInt - 1))
      math.abs(est - exact) <= w + 1e-9
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(40).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("fixedHistogramAuto: constant group bins to 0 and estimates exactly lo") {
    val df = Seq(("a", 7.5), ("a", 7.5), ("a", 7.5), ("b", 1.0), ("b", 3.0))
      .toDF("g", "v")
    val hist = SketchOps.fixedHistogramAuto(df, "v", Seq("g"), bins = 4)
    val aCells = hist.filter($"g" === "a")
      .select("bin", "lo", "hi", "c").as[(Int, Double, Double, Long)].collect()
    assert(aCells.toSeq == Seq((0, 7.5, 7.5, 3L)))
    // hi == lo: every quantile is the constant itself, no div-by-zero
    val q = SketchOps.histogramQuantilesAuto(hist, Seq("g"), Seq(0.5, 1.0), bins = 4)
      .filter($"g" === "a").select("est").as[Double].collect()
    assert(q.toSeq == Seq(7.5, 7.5))
    // max of a non-constant group clamps INTO the last bin (no sentinel)
    val bBins = hist.filter($"g" === "b").select("bin").as[Int].collect().sorted
    assert(bBins.toSeq == Seq(0, 3))
  }

  test("sampleSketch: sample == md5-bottom-k reference, partition-invariant, dup-id min fold") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"${b & 0xff}%02x").mkString
    val rnd = new scala.util.Random(17)
    val rows = (1L to 400L).map(i => ("g" + (i % 2), i, rnd.nextDouble() * 100))
    val df = rows.toDF("g", "id", "v")
    val k = 24
    val got = SketchOps.sampleSketch(df, "id", "v", Seq("g"), k)
      .select("g", "n", "sample").as[(String, Long, Seq[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // independent reference: per group, the k rows with smallest md5(id)
    val ref = rows.groupBy(_._1).map { case (g, rs) =>
      g -> rs.sortBy(r => md5hex(r._2.toString)).take(k).map(_._3).sorted.toSeq
    }
    assert(got.keySet == ref.keySet)
    ref.foreach { case (g, s) =>
      assert(got(g)._1 == rows.count(_._1 == g))
      assert(got(g)._2 == s, s"group $g sample mismatch")
    }
    // a pure function of the id set: any partitioning yields the SAME rows
    val re = SketchOps.sampleSketch(df.repartition(13), "id", "v", Seq("g"), k)
      .select("g", "sample").as[(String, Seq[Double])].collect().toMap
    ref.foreach { case (g, s) => assert(re(g) == s) }
    // duplicate id degrades deterministically to one entry with min value
    val dup = Seq(("a", 1L, 9.0), ("a", 1L, 2.0), ("a", 2L, 5.0))
      .toDF("g", "id", "v")
    val ds = SketchOps.sampleSketch(dup, "id", "v", Seq("g"), 10)
      .select("sample").as[Seq[Double]].head()
    assert(ds == Seq(2.0, 5.0))
  }

  test("sampleQuantiles: DKW-grade rank accuracy at k=512, exact when k >= n") {
    val rnd = new scala.util.Random(23)
    val n = 5000
    val vals = Array.fill(n)(rnd.nextGaussian() * 10 + 50)
    val df = vals.toSeq.zipWithIndex.map { case (v, i) => ("g", i.toLong, v) }
      .toDF("g", "id", "v")
    val qs = Seq(0.25, 0.5, 0.9, 0.99)
    val est = SketchOps.sampleQuantiles(
      SketchOps.sampleSketch(df, "id", "v", Seq("g"), k = 512), Seq("g"), qs)
      .select("q", "est").as[(Double, Double)].collect().toMap
    val sorted = vals.sorted
    qs.foreach { q =>
      // rank error: the estimate's empirical CDF position vs q, bounded
      // by the DKW sampling deviation (eps ~ 0.072 at k=512, 99% conf;
      // 0.1 leaves slack for the fixed seed)
      val rankOfEst = sorted.count(_ <= est(q)).toDouble / n
      assert(math.abs(rankOfEst - q) < 0.1, s"q=$q est=${est(q)} rank=$rankOfEst")
    }
    // k >= n: the sample IS the data, quantiles are exact order statistics
    val exact = SketchOps.sampleQuantiles(
      SketchOps.sampleSketch(df, "id", "v", Seq("g"), k = n), Seq("g"), qs)
      .select("q", "est").as[(Double, Double)].collect().toMap
    qs.foreach { q =>
      assert(exact(q) == sorted(math.max(1, math.ceil(q * n).toInt) - 1))
    }
  }

  test("MinKByHash: merge associativity equals single-pass build") {
    val items = (1 to 100).map(i => (f"h$i%03d-${i * 7 % 13}", i.toDouble))
    val shuffled = new scala.util.Random(3).shuffle(items)
    val one = new graft.functions.MinKByHash(10)
    shuffled.foreach { case (h, v) => one.add(h, v) }
    val (l, r) = shuffled.splitAt(37)
    val a = new graft.functions.MinKByHash(10)
    l.foreach { case (h, v) => a.add(h, v) }
    val b = new graft.functions.MinKByHash(10)
    r.foreach { case (h, v) => b.add(h, v) }
    assert(a.merge(b).values == one.values)
    assert(one.values == items.sortBy(_._1).take(10).map(_._2).sorted)
  }

  test("property: bpeTrain == in-memory trainer on random small corpora") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val wordGen = Gen.chooseNum(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 5).flatMap(m =>
        Gen.listOfN(m, wordGen).map(_.mkString(" ")))))
    def refTrain(texts: Seq[String], n: Int): Seq[(Int, String, String)] = {
      val unitRe = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]".r
      var state = texts.flatMap(t => unitRe.findAllIn(t.toLowerCase))
        .groupBy(identity).toSeq
        .map { case (u, us) => (u.map(_.toString).toVector, us.size.toLong) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      var stop = false
      while (out.size < n && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((toks, f) <- state; i <- 0 until toks.size - 1) {
          val p = (toks(i), toks(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
        }
        if (counts.isEmpty) stop = true
        else {
          val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += ((out.size, l, r))
          state = state.map { case (toks, f) =>
            val nt = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < toks.size) {
              if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
                nt += l + r; i += 2
              } else { nt += toks(i); i += 1 }
            }
            (nt.toVector, f)
          }
        }
      }
      out.toSeq
    }
    val prop = Prop.forAll(corpusGen) { (texts: List[String]) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val got = TextOps.bpeTrain(df, "text", numMerges = 3)
        .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
      got == refTrain(texts, 3)
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(13L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: bpeTrainLocal == bpeTrain (the driver-side off-ramp is bit-equal)") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    // wider alphabet than the bpeTrain property above: digits and
    // punctuation exercise all three unit classes, and repeated words
    // exercise the frequency weighting
    val wordGen = Gen.oneOf(
      Gen.chooseNum(1, 6).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString)),
      Gen.oneOf("42", "7", ",", "!", "ab.cd"))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(1, 6).flatMap(m =>
        Gen.listOfN(m, wordGen).map(_.mkString(" ")))))
    val prop = Prop.forAll(corpusGen) { (texts: List[String]) =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      val dist = TextOps.bpeTrain(df, "text", numMerges = 4)
        .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
      val local = TextOps.bpeTrainLocal(df, "text", numMerges = 4)
      dist == local
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(29L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("bpeTrainLocal: maxVocab guard fails fast with a clear message") {
    val df = Seq((1L, "one two three four five six")).toDF("id", "text")
    val e = intercept[IllegalArgumentException] {
      TextOps.bpeTrainLocal(df, "text", numMerges = 2, maxVocab = 3)
    }
    assert(e.getMessage.contains("maxVocab"))
    assert(e.getMessage.contains("bpeTrain"))
  }

  test("diversityByStratum: hand-computed ratios, repetitive source collapses") {
    val docs = Seq(
      (1L, "spam spam spam spam", "tpl"), // 4 tokens 1 type; 3 bigrams 1 distinct
      (2L, "spam spam", "tpl"), // 2 tokens; 1 bigram
      (3L, "alpha beta gamma delta", "rich"), // all distinct
      (4L, "epsilon zeta", "rich"),
      (5L, "solo", "tiny"), // 1 token, no bigrams
      (6L, null, "nulltext")
    ).toDF("id", "text", "src")
    val got = TextOps.diversityByStratum(docs, "text", "src")
      .as[(String, Long, Long, Long, Option[Double], Long, Option[Double])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("tpl") === (("tpl", 2L, 6L, 1L, Some(0.166667), 4L, Some(0.25))))
    assert(got("rich") === (("rich", 2L, 6L, 6L, Some(1.0), 4L, Some(1.0))))
    assert(got("tiny") === (("tiny", 1L, 1L, 1L, Some(1.0), 0L, None)))
    assert(!got.contains("nulltext")) // null text drops the row entirely
    // the screen: template source's TTR collapses against the rich one
    assert(got("tpl")._5.get < got("rich")._5.get)
  }

  test("lshAudit: perfect config scores 1.0, starved config shows recall < 1") {
    // 30 near-dup pairs (~0.73 jaccard: 16 shared + 3 unique each) -
    // comfortably above the 0.4 threshold for a healthy S-curve, still
    // missable by a starved one - plus disjoint filler
    val rnd = new scala.util.Random(67)
    def words(n: Int, tag: String) = Seq.tabulate(n)(i => s"$tag${rnd.nextInt(500)}w$i")
    val docs = (0 until 30).flatMap { p =>
      val shared = words(16, s"s$p")
      val a = (shared ++ words(3, s"a$p")).mkString(" ")
      val b = (shared ++ words(3, s"b$p")).mkString(" ")
      Seq((p * 2L, a), (p * 2L + 1, b))
    } ++ (1000L until 1040L).map(i => (i, words(15, s"f$i").mkString(" ")))
    val df = docs.toDF("doc_id", "text")
    def audit(hashes: Int, bands: Int) =
      DedupOps.lshAudit(df, "doc_id", "text", sampleFraction = 1.0,
          threshold = 0.4, numHashes = hashes, bands = bands, shingleLen = 1)
        .as[(Long, Long, Long, Long, Option[Double], Option[Double])].collect().head
    val strong = audit(64, 16) // r=4: collision prob at j=0.4 per band ~2.5%, 16 bands
    assert(strong._2 > 10, s"fixture must produce exact pairs, got ${strong._2}")
    assert(strong._5.exists(_ >= 0.9), s"strong config recall ${strong._5}")
    // starved: 16 hashes in 2 bands of 8 -> borderline pairs mostly missed
    val weak = audit(16, 2)
    assert(weak._5.exists(_ < strong._5.get),
      s"starved recall ${weak._5} must drop below strong ${strong._5}")
    // the audit never reports sketch pairs the exact join disowns as "both"
    assert(weak._4 <= weak._2 && weak._4 <= weak._3)
  }

  test("lsh index lifecycle: write/read roundtrip, probe finds planted dups, threshold holds") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "completely unrelated text about catalyst plans and shuffle exchanges"),
      (3L, "another disjoint document mentioning histograms sketches and quantiles")
    ).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("lshidx").toString
    DedupOps.lshWrite(DedupOps.lshBuild(corpus, "doc_id", "text"), dir)
    val (idx, nb) = DedupOps.lshRead(spark, dir)
    assert((idx.numHashes, idx.bands, idx.shingleLen, idx.seed) === ((64, 16, 3, 42)))
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog near the river bank now"), // ~1
      (11L, "zero overlap with any corpus document whatsoever in this sentence")
    ).toDF("doc_id", "text")
    val hits = DedupOps.lshProbe(idx, batch, "doc_id", "text", nBuckets = Some(nb))
      .as[(Long, Long, Double)].collect()
    assert(hits.length === 1 && hits.head._1 === 10L && hits.head._2 === 1L)
    assert(hits.head._3 >= 0.5)
    // threshold raise drops the borderline pair
    assert(DedupOps.lshProbe(idx, batch, "doc_id", "text",
      threshold = 0.999, nBuckets = Some(nb)).isEmpty)
    // probe against the in-memory (unwritten) index agrees
    val mem = DedupOps.lshBuild(corpus, "doc_id", "text")
    assert(DedupOps.lshProbe(mem, batch, "doc_id", "text")
      .as[(Long, Long, Double)].collect().toSeq === hits.toSeq)
  }

  test("hardNegatives: different label always, == brute reference, deterministic ties") {
    val rnd = new scala.util.Random(31)
    val vecs = Seq.tabulate(60)(i =>
      (i.toLong, Array.fill(6)(rnd.nextGaussian().toFloat), i % 3))
    val df = vecs.toDF("id", "v", "lab")
    val got = SimilarityOps.hardNegatives(df, "id", "v", "lab",
        df.filter($"id" < 4), k = 3)
      .as[(Long, Long, Int, Int, Double)].collect()
    val labels = vecs.map(v => v._1 -> v._3).toMap
    assert(got.nonEmpty && got.forall { case (a, n, nl, _, _) =>
      labels(a) != nl && labels(n) == nl })
    // brute reference: cosine over doubles, top-3 among other-label
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    for (a <- 0L until 4L) {
      val av = vecs(a.toInt)._2
      val exp = vecs.filter(_._3 != labels(a))
        .map(v => (v._1, cos(av, v._2)))
        .sortBy { case (id, s) => (-s, id) }
        .take(3).map(_._1)
      val mine = got.filter(_._1 == a).sortBy(_._4).map(_._2).toSeq
      assert(mine === exp, s"anchor $a")
    }
  }

  test("hardNegativesApprox: LSH candidates keep recall vs the exact miner, labels hold") {
    val rnd = new scala.util.Random(91)
    // clustered vectors so buckets carry real structure
    val centers = Array.fill(6)(Array.fill(16)(rnd.nextGaussian()))
    val vecs = Seq.tabulate(300) { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.3 * rnd.nextGaussian()).toFloat), i % 3)
    }
    val df = vecs.toDF("id", "v", "lab")
    val anchors = df.filter($"id" < 12)
    val exact = SimilarityOps.hardNegatives(df, "id", "v", "lab", anchors, k = 5)
      .as[(Long, Long, Int, Int, Double)].collect()
    val approx = SimilarityOps.hardNegativesApprox(df, "id", "v", "lab", anchors,
        k = 5, dim = 16, bits = 4)
      .as[(Long, Long, Int, Int, Double)].collect()
    val labels = vecs.map(v => v._1 -> v._3).toMap
    assert(approx.nonEmpty && approx.forall { case (a, n, nl, _, _) =>
      labels(a) != nl && labels(n) == nl })
    val exactSet = exact.map(r => (r._1, r._2)).toSet
    val approxSet = approx.map(r => (r._1, r._2)).toSet
    val recall = (exactSet & approxSet).size.toDouble / exactSet.size
    assert(recall >= 0.6, s"approx recall $recall vs exact miner")
  }

  test("every vector top-k ranks by one contract: exact cosine, ties by id, int rank, 6 dp") {
    val rnd = new scala.util.Random(53)
    val dim = 8
    val base = Array.fill(dim)(rnd.nextGaussian().toFloat)
    // power-of-two scales are exact in float and double, so these copies
    // tie EXACTLY on cosine against any query; label 3 is no anchor's
    val tied = Seq(5L -> 0.5f, 12L -> 2f, 21L -> 4f, 30L -> 8f).toMap
    val rows = (0L until 40L).map { id =>
      val v =
        if (tied.contains(id)) base.map(_ * tied(id))
        else if (id == 0L) base
        else if (id == 1L) base.map(_ + 0.01f * rnd.nextGaussian().toFloat)
        else Array.fill(dim)(rnd.nextGaussian().toFloat)
      (id, v, if (tied.contains(id)) 3 else (id % 3).toInt)
    }
    val df = rows.toDF("id", "v", "lab")
    val queries = df.filter($"id" < 3)
    val k = 5
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    def round6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // every candidate path made exhaustive: one LSH bucket (bits = 0) or
    // both probed (bits = 1, multi-probe), every IVF list probed, every
    // corpus row re-ranked after PQ's ADC stage
    val ivf = SimilarityOps.ivfBuild(df, "id", "v", nCentroids = 4, lloydIters = 0)
    val pq = SimilarityOps.pqBuild(df, "id", "v", numSub = 2, numCodes = 4)
    val cases = Seq(
      ("bruteTopK", false, SimilarityOps.bruteTopK(df, "id", "v", queries, "id", "v", k)),
      ("lshTopK", false, SimilarityOps.lshTopK(df, "id", "v", queries, "id", "v", k, dim, bits = 0)),
      ("lshTopK multi-probe", false, SimilarityOps.lshTopK(df, "id", "v", queries, "id", "v", k, dim,
        bits = 1, multiProbe = true)),
      ("ivfQuery", false, SimilarityOps.ivfQuery(ivf, queries, "id", "v", k, nProbe = 4)),
      ("pqQuery", false, SimilarityOps.pqQuery(pq, queries, "id", "v", k, rerank = rows.size)),
      ("hardNegatives", true, SimilarityOps.hardNegatives(df, "id", "v", "lab", queries, k)),
      ("hardNegativesApprox", true, SimilarityOps.hardNegativesApprox(df, "id", "v", "lab",
        queries, k, dim, bits = 1)))
    val label = rows.map(r => r._1 -> r._3).toMap
    for ((name, byLabel, out) <- cases) {
      assert(out.schema("rank").dataType == org.apache.spark.sql.types.IntegerType, name)
      val collected = out.collect()
      val got = collected.map(r => (r.getLong(0), r.getLong(1),
        r.getInt(r.fieldIndex("rank")), r.getDouble(r.fieldIndex("cosine_sim"))))
      if (byLabel)
        assert(collected.forall(r => r.getInt(2) == label(r.getLong(1))), name)
      for (q <- rows.filter(_._1 < 3)) {
        val mine = got.filter(_._1 == q._1).sortBy(_._3).map(g => (g._2, g._3, g._4)).toSeq
        val excluded = (c: (Long, Array[Float], Int)) => if (byLabel) c._3 == q._3 else c._1 == q._1
        val expected = rows.filterNot(excluded)
          .map(c => (c._1, cos(q._2, c._2)))
          .sortBy { case (id, s) => (-s, id) }
          .take(k).zipWithIndex
          .map { case ((id, s), i) => (id, i + 1, round6(s)) }
        assert(mine == expected, s"$name, query ${q._1}")
      }
      // the planted ties lead query 0's list, in ascending id
      assert(got.filter(_._1 == 0L).sortBy(_._3).take(4).map(_._2).toSeq == tied.keys.toSeq.sorted,
        name)
    }
  }

  test("lengthBucketedBatches: contiguous length runs, exact sizes, waste below a shuffled cut") {
    val rnd = new scala.util.Random(41)
    val docs = Seq.tabulate(100)(i => (i.toLong, 10L + rnd.nextInt(500))).toDF("id", "len")
    val got = ShardOps.lengthBucketedBatches(docs, "id", "len", batchSize = 8)
      .as[(Long, Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // every batch full except possibly the last; doc count preserved
    assert(got.map(_._2).sum === 100L)
    assert(got.dropRight(1).forall(_._2 == 8L) && got.last._2 <= 8L)
    // batches are contiguous length ranges: batch i's max <= batch i+1's min
    for (Array(a, b) <- got.sliding(2).map(_.toArray))
      assert(a._4 <= b._3, s"batch ${a._1} max ${a._4} > batch ${b._1} min ${b._3}")
    // waste arithmetic holds per batch
    for ((_, n, _, mx, sm, waste) <- got) assert(waste === mx * n - sm)
    // and the whole point: length-sorted batching wastes less than an
    // arbitrary (id-ordered) batching of the same corpus
    val lens = docs.as[(Long, Long)].collect().sortBy(_._1).map(_._2)
    val idOrderWaste = lens.grouped(8).map(g => g.max * g.size - g.sum).sum
    assert(got.map(_._6).sum < idOrderWaste)
  }

  test("bpeTrain: greedy non-overlap on 'aaa', early stop when pairs run out") {
    val out = TextOps.bpeTrain(Seq((1L, "aaa")).toDF("id", "text"), "text", numMerges = 5)
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    // round 0: (a,a) counted at both adjacent positions, applied
    // greedily left-to-right -> [aa, a]; round 1 merges (aa, a); then
    // the corpus is one symbol and training stops early
    assert(out === Seq((0, "a", "a"), (1, "aa", "a")))
  }

  test("bpeTrain == independent in-memory trainer on a mixed corpus") {
    val texts = Seq(
      "the cat sat on the mat",
      "the rat ate the cheese!",
      "low lower lowest new newer newest",
      "na na na banana, bandana 42 42")
    // reference trainer sharing no code with the operator: unit
    // frequencies, pair counts per adjacent position, argmax on
    // (count desc, pair asc), greedy left-to-right merge
    val unitRe = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]".r
    val units = texts.flatMap(t => unitRe.findAllIn(t.toLowerCase))
      .groupBy(identity).map { case (u, us) => u -> us.size.toLong }
    def refTrain(n: Int): Seq[(Int, String, String)] = {
      var state = units.toSeq.map { case (u, f) => (u.map(_.toString).toVector, f) }
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String)]
      var stop = false
      while (out.size < n && !stop) {
        val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        for ((toks, f) <- state; i <- 0 until toks.size - 1) {
          val p = (toks(i), toks(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + f
        }
        if (counts.isEmpty) stop = true
        else {
          val (l, r) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
          out += ((out.size, l, r))
          state = state.map { case (toks, f) =>
            val nt = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < toks.size) {
              if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
                nt += l + r; i += 2
              } else { nt += toks(i); i += 1 }
            }
            (nt.toVector, f)
          }
        }
      }
      out.toSeq
    }
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val got = TextOps.bpeTrain(df, "text", numMerges = 10)
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    assert(got === refTrain(10))
    // determinism: a second run learns the identical table
    val again = TextOps.bpeTrain(df, "text", numMerges = 10)
      .as[(Int, String, String)].collect().toSeq.sortBy(_._1)
    assert(again === got)

    // apply: learned merges folded back over the corpus must reproduce
    // an independent in-memory segmentation's per-doc token counts
    val merges = got.map { case (_, l, r) => (l, r) }
    def refApply(text: String): Int =
      unitRe.findAllIn(text.toLowerCase).map { u =>
        var toks = u.map(_.toString).toVector
        for ((l, r) <- merges) {
          val nt = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < toks.size) {
            if (i + 1 < toks.size && toks(i) == l && toks(i + 1) == r) {
              nt += l + r; i += 2
            } else { nt += toks(i); i += 1 }
          }
          toks = nt.toVector
        }
        toks.size
      }.sum
    val applied = TextOps.bpeApplyCount(df, "id", "text", merges)
      .as[(Long, Int)].collect().toMap
    val expected = texts.zipWithIndex.map { case (t, i) => i.toLong -> refApply(t) }.toMap
    assert(applied === expected)
    // zero merges = raw character-unit count; merging only shrinks
    val raw = TextOps.bpeApplyCount(df, "id", "text", Seq.empty)
      .as[(Long, Int)].collect().toMap
    for ((id, n) <- applied) assert(n <= raw(id), s"doc $id grew under merges")
  }

  test("fixedHistogram: bin edges, sentinel cells, and additive merge") {
    val rows = Seq(
      ("a", -0.5), // underflow -> -1
      ("a", 0.0), ("a", 4.999), // both bin 0 ([0, 5))
      ("a", 5.0), // bin 1 (left-closed edges)
      ("a", 9.999999999999998), // just under hi -> clamped into last bin
      ("a", 10.0), ("a", 25.0), // overflow sentinel = bins
      ("a", Double.NaN), // dropped: no bin is the honest answer
      ("b", 7.5)
    ).toDF("g", "v")
    val h = SketchOps.fixedHistogram(rows, "v", Seq("g"), lo = 0.0, hi = 10.0, bins = 2)
      .as[(String, Int, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(h === Map(
      ("a", -1) -> 1L, ("a", 0) -> 2L, ("a", 1) -> 2L, ("a", 2) -> 2L,
      ("b", 1) -> 1L))
    // mergeability: cells of two disjoint halves sum to the whole's cells
    val whole = Seq.tabulate(200)(i => ("g", i * 0.37)).toDF("g", "v")
    val (h1, h2) = (
      SketchOps.fixedHistogram(whole.filter($"v" < 30.0), "v", Seq("g"), 0.0, 60.0, 12),
      SketchOps.fixedHistogram(whole.filter($"v" >= 30.0), "v", Seq("g"), 0.0, 60.0, 12))
    val merged = h1.union(h2).groupBy("g", "bin").agg(sum("c").as("c"))
      .as[(String, Int, Long)].collect().toSet
    val direct = SketchOps.fixedHistogram(whole, "v", Seq("g"), 0.0, 60.0, 12)
      .as[(String, Int, Long)].collect().toSet
    assert(merged === direct)
  }

  test("histogramQuantiles: within one binWidth of the exact quantile; q=1 hits the top") {
    val vals = (1 to 1000).map(_.toDouble)
    val rnd = new scala.util.Random(11)
    val df = rnd.shuffle(vals).map(("g", _)).toDF("g", "v")
    val bins = 100
    val (lo, hi) = (0.0, 1000.0)
    val w = (hi - lo) / bins
    val hist = SketchOps.fixedHistogram(df, "v", Seq("g"), lo, hi, bins)
    val qs = Seq(0.25, 0.5, 0.9, 0.99, 1.0)
    val got = SketchOps.histogramQuantiles(hist, Seq("g"), qs, lo, hi, bins)
      .as[(String, Double, Double)].collect().map(r => r._2 -> r._3).toMap
    assert(got.keySet === qs.toSet)
    for (q <- qs) {
      val exact = vals((q * vals.size).ceil.toInt - 1) // exact order statistic
      assert(math.abs(got(q) - exact) <= w + 1e-9,
        s"q=$q est=${got(q)} exact=$exact not within one bin width $w")
    }
    assert(got(1.0) <= hi + 1e-9)
    // a group with only out-of-range values produces no quantile rows
    val oor = Seq(("z", -5.0), ("z", 1e9)).toDF("g", "v")
    val hOor = SketchOps.fixedHistogram(oor, "v", Seq("g"), lo, hi, bins)
    assert(SketchOps.histogramQuantiles(hOor, Seq("g"), Seq(0.5), lo, hi, bins).isEmpty)
  }

  test("ksDriftByStratum: zero for an identically-distributed stratum, exact D on a hand case") {
    // stratum A's values match the pooled rest exactly -> D = 0
    val same = Seq("A", "B", "C").flatMap(s => Seq(1L, 2L, 3L, 4L).map((s, _)))
      .toDF("src", "v")
    val ks0 = StatOps.ksDriftByStratum(same, "v", "src")
      .as[(String, Long, Long, Long, Double)].collect()
    assert(ks0.length === 3 && ks0.forall(_._5 === 0.0))
    // hand case: A = {1, 2}, rest = {3, 4}; sup gap is 1.0 at v = 2
    val split = (Seq(("A", 1L), ("A", 2L)) ++ Seq(("B", 3L), ("B", 4L)))
      .toDF("src", "v")
    val row = StatOps.ksDriftByStratum(split, "v", "src")
      .filter($"stratum" === "A")
      .as[(String, Long, Long, Long, Double)].collect().head
    assert(row === (("A", 2L, 2L, 2L, 1.0)))
  }

  test("ksDriftByStratum == brute-force two-sample KS on random data") {
    val rnd = new scala.util.Random(23)
    // stratum C is shifted on purpose; A/B share a distribution
    val rows = Seq.tabulate(600) { i =>
      val s = Seq("A", "B", "C")(i % 3)
      val v = if (s == "C") rnd.nextInt(40) + 20L else rnd.nextInt(40).toLong
      (s, v)
    }
    val got = StatOps.ksDriftByStratum(rows.toDF("src", "v"), "v", "src")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => r._1 -> r._5).toMap
    def cdfGap(a: Seq[Long], b: Seq[Long]): Double = {
      val points = (a ++ b).distinct.sorted
      points.map { p =>
        math.abs(a.count(_ <= p).toDouble / a.size - b.count(_ <= p).toDouble / b.size)
      }.max
    }
    for (s <- Seq("A", "B", "C")) {
      val mine = rows.filter(_._1 == s).map(_._2)
      val rest = rows.filter(_._1 != s).map(_._2)
      assert(math.abs(got(s) - cdfGap(mine, rest)) <= 1e-6, s"stratum $s")
    }
    assert(got("C") > got("A") && got("C") > got("B"), "shifted stratum must stand out")
  }

  test("ksFromHistograms: zero on identical cells, lower-bounds exact KS, exact on-grid") {
    val rnd = new scala.util.Random(53)
    val va = Seq.fill(400)(rnd.nextDouble() * 80)
    val vb = Seq.fill(300)(rnd.nextDouble() * 80 + 15) // shifted
    def h(vs: Seq[Double]) = SketchOps.fixedHistogram(
      vs.map(("g", _)).toDF("g", "v"), "v", Seq("g"), 0.0, 100.0, 25)
    val same = StatOps.ksFromHistograms(h(va), h(va))
      .as[(Long, Long, Int, Double)].collect().head
    assert(same === ((400L, 400L, -1, 0.0)) || same._4 === 0.0)
    val binned = StatOps.ksFromHistograms(h(va), h(vb))
      .as[(Long, Long, Int, Double)].collect().head
    // exact two-sample KS on the raw values
    val points = (va ++ vb).distinct.sorted
    val exact = points.map(p =>
      math.abs(va.count(_ <= p).toDouble / va.size - vb.count(_ <= p).toDouble / vb.size)).max
    assert(binned._4 > 0.1, "shift must register")
    assert(binned._4 <= exact + 1e-9, s"binned ${binned._4} must lower-bound exact $exact")
    // when every value sits on a bin edge grid, coarsening loses nothing
    val ga = Seq(0.0, 4.0, 4.0, 8.0).map(_ + 0.5)
    val gb = Seq(8.0, 12.0, 12.0, 16.0).map(_ + 0.5)
    def hg(vs: Seq[Double]) = SketchOps.fixedHistogram(
      vs.map(("g", _)).toDF("g", "v"), "v", Seq("g"), 0.0, 20.0, 5)
    val onGrid = StatOps.ksFromHistograms(hg(ga), hg(gb))
      .as[(Long, Long, Int, Double)].collect().head
    val gp = (ga ++ gb).distinct.sorted
    val gExact = gp.map(p =>
      math.abs(ga.count(_ <= p).toDouble / ga.size - gb.count(_ <= p).toDouble / gb.size)).max
    assert(math.abs(onGrid._4 - gExact) <= 1e-9)
  }

  test("psiFromHistograms: zero on identical cells, positive on a shift, order-symmetric magnitude") {
    val a = Seq.tabulate(300)(i => ("g", (i % 50).toDouble)).toDF("g", "v")
    val shifted = Seq.tabulate(300)(i => ("g", (i % 50) + 20.0)).toDF("g", "v")
    def h(df: org.apache.spark.sql.DataFrame) =
      SketchOps.fixedHistogram(df, "v", Seq("g"), 0.0, 100.0, 20)
    val zero = StatOps.psiFromHistograms(h(a), h(a), bins = 20)
      .as[(Long, Long, Double)].collect().head
    assert(zero === ((300L, 300L, 0.0)))
    val drift = StatOps.psiFromHistograms(h(a), h(shifted), bins = 20)
      .as[(Long, Long, Double)].collect().head
    assert(drift._3 > 0.1, s"shift must register, got ${drift._3}")
    // PSI is symmetric in (a, b) by construction of the formula
    val rev = StatOps.psiFromHistograms(h(shifted), h(a), bins = 20)
      .as[(Long, Long, Double)].collect().head
    assert(math.abs(drift._3 - rev._3) <= 1e-9)
  }

  test("parseUrls: components and eTLD+1 fold across the URL surface") {
    val urls = Seq(
      (1L, "https://user@www.shop.co.uk:8080/a/b?q=1#frag"),
      (2L, "http://api.example.com/x"),
      (3L, "ftp://example.org"),
      (4L, "https://localhost:9000/p"),
      (5L, "not a url at all"),
      (6L, "HTTPS://WWW.Shop.CO.UK/CaseKept")
    ).toDF("id", "url")
    val got = WebOps.parseUrls(urls, "url")
      .select("id", "scheme", "host", "port", "path", "query", "domain")
      .as[(Long, String, String, Int, String, String, String)]
      .collect().sortBy(_._1)
    assert(got(0) === ((1L, "https", "www.shop.co.uk", 8080, "/a/b", "q=1", "shop.co.uk")))
    assert(got(1) === ((2L, "http", "api.example.com", 0, "/x", "", "example.com")))
    assert(got(2) === ((3L, "ftp", "example.org", 0, "", "", "example.org")))
    assert(got(3) === ((4L, "https", "localhost", 9000, "/p", "", "localhost")))
    // a non-URL parses to all-empty components, never throws
    assert(got(4) === ((5L, "", "", 0, "", "", "")))
    // scheme and host fold to lowercase (RFC 3986); path case preserved
    assert(got(5) === ((6L, "https", "www.shop.co.uk", 0, "/CaseKept", "", "shop.co.uk")))
  }

  test("resolveUrl/resolveLinks: RFC 3986 resolution with a frontier cut") {
    val cases = Seq(
      ("https://a.com/dir/page?q=1", "other.html", "https://a.com/dir/other.html"),
      ("https://a.com/dir/page", "./x/y", "https://a.com/dir/x/y"),
      ("https://a.com/dir/sub/page", "../up", "https://a.com/dir/up"),
      ("https://a.com/dir/sub/page", "../../up?k=v", "https://a.com/up?k=v"),
      ("https://a.com/a/b/c", "../../../../z", "https://a.com/z"), // over-pop clamps at root
      ("https://a.com/dir/page", "/abs/path?k=v", "https://a.com/abs/path?k=v"),
      ("https://a.com/dir/page?q=1", "?q=2", "https://a.com/dir/page?q=2"),
      ("https://a.com/dir/page?q=1#top", "#sec", "https://a.com/dir/page?q=1"), // fragments never survive
      ("https://a.com/dir/page", "//cdn.b.net/lib.js", "https://cdn.b.net/lib.js"),
      ("http://a.com/p", "//cdn.b.net/x", "http://cdn.b.net/x"), // proto-relative takes base scheme
      ("https://a.com/p", "https://b.org/q", "https://b.org/q"), // absolute passes through
      ("https://a.com/p", "mailto:x@y.z", "mailto:x@y.z"),
      ("https://a.com", "x", "https://a.com/x"), // empty base path -> root dir
      ("https://a.com:8080/d/p", "u", "https://a.com:8080/d/u"), // port preserved
      ("https://a.com/d/", "u", "https://a.com/d/u"),
      ("https://a.com/a/b/", "..", "https://a.com/a/"), // trailing .. keeps the slash (RFC 5.2.4)
      ("https://a.com/a/x", "", "https://a.com/a/x"), // empty ref = base sans fragment
      ("not a url", "rel/x", "NULL"), // schemeless base cannot anchor a relative ref
      ("not a url", "https://ok.org/x", "https://ok.org/x")
    )
    val got = cases.toDF("base", "ref", "want")
      .select($"base", $"ref", $"want",
        coalesce(WebOps.resolveUrl($"base", $"ref"), lit("NULL")).as("got"))
      .as[(String, String, String, String)].collect()
    val wrong = got.filter(r => r._3 != r._4)
    assert(wrong.isEmpty, wrong.map(r =>
      s"resolve(${r._1}, ${r._2}) = ${r._4}, want ${r._3}").mkString("\n"))
    // resolveLinks: every href resolved, then only absolute http(s) kept
    val pages = Seq((1L, "https://s.org/d/p",
      "<a href=\"a\">1</a><a href=\"../b\">2</a><a href=\"//c.net/x\">3</a>" +
        "<a href=\"mailto:u@v.w\">4</a><a href=\"#f\">5</a>"))
      .toDF("id", "url", "html")
    val links = WebOps.resolveLinks(pages, "url", "html")
      .select($"link", $"resolved").as[(String, String)].collect().toSet
    assert(links == Set(
      ("a", "https://s.org/d/a"),
      ("../b", "https://s.org/b"),
      ("//c.net/x", "https://c.net/x"),
      ("#f", "https://s.org/d/p")))
  }

  test("resolveLinks honors <base href>: absolute, relative, and first-wins") {
    val pages = Seq(
      // absolute base on another host: EVERY relative link re-anchors
      (1L, "https://page.example/real/loc",
        "<head><base href=\"https://cdn.example.net/assets/v2/\"></head>" +
          "<a href=\"a.html\">1</a><a href=\"../up\">2</a><a href=\"/root\">3</a>"),
      // relative base: resolved against the page URL first
      (2L, "https://s.org/d/p",
        "<base href=\"/newroot/\"><a href=\"x\">1</a>"),
      // two base tags: the FIRST wins (HTML5)
      (3L, "https://s.org/d/p",
        "<base href=\"https://first.example/f/\">" +
          "<base href=\"https://second.example/s/\"><a href=\"y\">1</a>"),
      // no base: plain page-URL resolution
      (4L, "https://s.org/d/p", "<a href=\"z\">1</a>")
    ).toDF("id", "url", "html")
    val got = WebOps.resolveLinks(pages, "url", "html")
      .select($"id", $"link", $"resolved").as[(Long, String, String)]
      .collect().toSet
    assert(got == Set(
      // the base-tag href itself is an extracted link too (absolute -> kept)
      (1L, "https://cdn.example.net/assets/v2/", "https://cdn.example.net/assets/v2/"),
      (1L, "a.html", "https://cdn.example.net/assets/v2/a.html"),
      (1L, "../up", "https://cdn.example.net/assets/up"),
      (1L, "/root", "https://cdn.example.net/root"),
      (2L, "/newroot/", "https://s.org/newroot/"),
      (2L, "x", "https://s.org/newroot/x"),
      (3L, "https://first.example/f/", "https://first.example/f/"),
      (3L, "https://second.example/s/", "https://second.example/s/"),
      (3L, "y", "https://first.example/f/y"),
      (4L, "z", "https://s.org/d/z")), got.toString)
  }

  test("robotsRules/robotsAllowed: RFC 9309 group choice and longest-match verdicts") {
    val robotsTxt =
      """# policy
        |User-agent: badbot
        |Disallow: /
        |
        |User-agent: graftbot
        |User-Agent: otherbot
        |Disallow: /private
        |Allow: /private/ok
        |disallow: /tmp*
        |Disallow: /exact$
        |Disallow:
        |
        |User-agent: *
        |Disallow: /everything
        |""".stripMargin
    val robots = Seq(
      ("site.com", robotsTxt),
      ("open.org", "User-agent: *\nAllow: /")
    ).toDF("domain", "txt")
    val rules = WebOps.robotsRules(robots, "domain", "txt", "GraftBot")
    // exact-agent group beats '*' (badbot and * groups ignored for
    // site.com); consecutive UA lines head one group; directives are
    // case-insensitive; the empty Disallow carries no rule
    assert(rules.as[(String, Boolean, String)].collect().toSet == Set(
      ("site.com", false, "/private"),
      ("site.com", true, "/private/ok"),
      ("site.com", false, "/tmp*"),
      ("site.com", false, "/exact$"),
      ("open.org", true, "/"))) // no graftbot group -> the * group governs
    val urls = Seq(
      (1L, "https://www.site.com/private/file"), // /private denies (host folds)
      (2L, "https://site.com/private/ok/x"), // longer Allow beats shorter Disallow
      (3L, "https://site.com/tmpanything/deep"), // * wildcard
      (4L, "https://site.com/exact"), // $-anchored match
      (5L, "https://site.com/exactly"), // NOT matched by /exact$
      (6L, "https://site.com/other"), // no matching rule -> allowed
      (7L, "https://unknown.net/x"), // no robots entry -> allowed
      (8L, "https://open.org/anything") // Allow /
    ).toDF("id", "url")
    val got = WebOps.robotsAllowed(urls, "id", "url", rules)
      .select($"id", $"allowed").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> true, 7L -> true, 8L -> true), got.toString)
  }

  test("stripHtmlLines: block tags newline, inline tags join, structure survives exactly") {
    val cases = Seq(
      // <br> variants and block-closers become newlines; inline tags join
      ("a<br>b<BR/>c<br />d", "a\nb\nc\nd"),
      // every block-closer newlines, INCLUDING a trailing one (the
      // trailing blank line is formatting; line consumers drop blanks)
      ("<p>one</p><p>two</p>", "one\ntwo\n"),
      ("<div>x</div><h2>t</h2><li>i</li><tr>r</tr>", "x\nt\ni\nr\n"),
      ("co<b>ol</b> word", "cool word"),
      // script/style/comments vanish entirely (incl. braces and '<')
      ("<script>if (a<b) { x(); }</script>keep", "keep"),
      ("<style>p { c: red; }</style>keep", "keep"),
      ("a<!-- multi\nline -->b", "ab"),
      // NO whitespace collapse: spacing and blank lines are preserved
      ("  two  spaces <br><br>tail ", "  two  spaces \n\ntail "),
      // entities decode like stripHtml
      ("x &amp; y &lt;z&gt; caf&#233;", "x & y <z> café"))
    val got = cases.map(_._1).toDF("h")
      .select(TextOps.stripHtmlLines($"h")).as[String].collect().toSeq
    cases.zip(got).foreach { case ((in, exp), g) => assert(g == exp, s"input: $in") }
    // the WET identity the composed pipeline rests on: wrap a multi-line
    // text (boundary spaces, blank line) with <br> separators inside a
    // tag-only shell -> strip recovers it byte-for-byte
    val ltext = "Doc 1 begins here.\n line with edges \n\nThe final line ends properly!"
    val html = "<html><head><script type=\"x\">if (a<b) { fail(); }</script>" +
      "<style>p { color: red; }</style></head><body>" +
      ltext.replace("\n", "<br>") + "<!-- trailing\ncomment --></body></html>"
    val round = Seq(html).toDF("h")
      .select(TextOps.stripHtmlLines($"h")).as[String].head()
    assert(round == ltext)
    // null stays null
    assert(Seq((1, null: String)).toDF("i", "h")
      .select(TextOps.stripHtmlLines($"h")).as[String].head() == null)
  }

  test("robotsCrawlDelay/robotsSitemaps: group-scoped delay, group-free sitemaps") {
    val txt =
      """User-agent: badbot
        |Crawl-delay: 99
        |Disallow: /
        |
        |Sitemap: https://maps.site.com/a.xml
        |Sitemap: https://maps.site.com/a.xml
        |Sitemap: /relative.xml
        |
        |User-agent: *
        |Crawl-delay: 2.5
        |Crawl-delay: 1
        |Crawl-delay: fast
        |Allow: /p/
        |
        |User-agent: graftbot
        |Crawl-delay: 7
        |Sitemap: https://maps.site.com/b.xml
        |""".stripMargin
    val robots = Seq(
      ("site.com", txt),
      // only a * group: its delay governs; an all-invalid delay yields no row
      ("star.org", "User-agent: *\nCrawl-delay: 0.25\n"),
      ("bad.net", "User-agent: *\nCrawl-delay: soon\n"),
      ("none.io", "User-agent: *\nAllow: /\n")
    ).toDF("domain", "txt")
    val delays = WebOps.robotsCrawlDelay(robots, "domain", "txt", "GraftBot")
      .as[(String, Double)].collect().toMap
    // site.com: the exact-agent group (7) wins over * (max(2.5, 1) = 2.5)
    // and over badbot's 99; invalid values never surface
    assert(delays == Map("site.com" -> 7.0, "star.org" -> 0.25), delays.toString)
    val maps = WebOps.robotsSitemaps(robots, "domain", "txt")
      .as[(String, String)].collect().toSet
    // duplicates collapse, the relative loc cuts, group position is
    // irrelevant (b.xml sits inside the graftbot group and still counts)
    assert(maps == Set(
      ("site.com", "https://maps.site.com/a.xml"),
      ("site.com", "https://maps.site.com/b.xml")), maps.toString)
  }

  test("anchorTexts: an unclosed <a> swallows at most 1000 chars - later anchors survive") {
    val filler = "x" * 1500 // no '</a>' within the bound: the malformed anchor drops
    val html = "<a href=\"https://lost.example/u\">unclosed " + filler +
      "<a href=\"https://kept.example/v\">still here</a>" +
      "<a href=\"https://also.example/w\"><b>bold</b> too</a>"
    val got = WebOps.anchorTexts(Seq((1L, html)).toDF("id", "html"), "html")
      .select($"link", $"anchor").as[(String, String)].collect().toSet
    // pre-bound behavior merged EVERYTHING to the unclosed anchor and
    // lost kept/also; now the damage stops at 1000 chars
    assert(got == Set(
      ("https://kept.example/v", "still here"),
      ("https://also.example/w", "bold too")), got.toString)
    // anchors nested WITHIN the bound still merge (the documented residue)
    val near = "<a href=\"https://l.example/a\">open " +
      "<a href=\"https://n.example/b\">near</a>"
    val got2 = WebOps.anchorTexts(Seq((1L, near)).toDF("id", "html"), "html")
      .select($"link", $"anchor").as[(String, String)].collect().toSet
    assert(got2 == Set(("https://l.example/a", "open near")), got2.toString)
  }

  test("frontierSchedule: per-domain salt-major slots, delay or default spacing") {
    val frontier = Seq(
      (1L, "https://a.site.com/x"),
      (2L, "https://www.site.com/b"), // host folds: same domain as a.site.com
      (3L, "https://a.site.com/x"), // same URL: doc_id breaks the tie
      (4L, "https://other.org/only"),
      (5L, "https://nodelay.net/p")
    ).toDF("id", "url")
    val delays = Seq(("site.com", 2.5), ("other.org", 4.0)).toDF("domain", "crawl_delay")
    val got = WebOps.frontierSchedule(frontier, "id", "url", delays, defaultDelay = 1.0)
      .select($"id", $"domain", $"slot", $"not_before_s")
      .as[(Long, String, Long, Double)].collect().toSet
    assert(got == Set(
      // site.com ordered by (salt, url, id): a.site.com/x has md5
      // nibble 0 (id 1, then id 3 on the URL tie), www.site.com/b
      // nibble 10 - salt-major order
      (1L, "site.com", 0L, 0.0),
      (3L, "site.com", 1L, 2.5),
      (2L, "site.com", 2L, 5.0),
      (4L, "other.org", 0L, 0.0),
      (5L, "nodelay.net", 0L, 0.0)), got.toString)
    // second slot on an un-delayed domain paces at the default
    val got2 = WebOps.frontierSchedule(
        frontier.union(Seq((6L, "https://nodelay.net/q")).toDF("id", "url")),
        "id", "url", delays, defaultDelay = 1.5)
      .filter($"domain" === "nodelay.net")
      .select($"id", $"not_before_s").as[(Long, Double)].collect().toMap
    assert(got2 == Map(5L -> 0.0, 6L -> 1.5), got2.toString)
    // the order is SALT-major, not url-major: /p/0 (nibble 8) schedules
    // AFTER /p/3 (nibble 0) despite sorting first lexically
    val pin = WebOps.frontierSchedule(
        Seq((1L, "https://hot.example/p/0"), (2L, "https://hot.example/p/3"))
          .toDF("id", "url"),
        "id", "url", delays, defaultDelay = 1.0)
      .select($"id", $"slot").as[(Long, Long)].collect().toMap
    assert(pin == Map(2L -> 0L, 1L -> 1L), pin.toString)
    // a NULL url must SURVIVE scheduling (null md5 folds to salt
    // bucket 0, null domain <=>-joins), not silently drop at the
    // offsets join
    val withNull = WebOps.frontierSchedule(
        Seq((1L, "https://a.site.com/x"), (2L, null.asInstanceOf[String]))
          .toDF("id", "url"),
        "id", "url", delays, defaultDelay = 1.0)
      .select($"id", $"slot").as[(Long, Long)].collect().toMap
    assert(withNull == Map(1L -> 0L, 2L -> 0L), withNull.toString)
  }

  test("frontierSchedule: dense slots and pacing invariant on a hot domain") {
    // one mega-domain (200 URLs) + a small one: slots must be a dense
    // 0..n-1 permutation per domain (no idle gaps from the salting) and
    // the per-domain inter-fetch gap must be >= the governing delay
    val frontier = ((1L to 200L).map(i => (i, s"https://mega.example/p/$i")) ++
      Seq((900L, "https://tiny.org/a"), (901L, "https://tiny.org/b")))
      .toDF("id", "url")
    val delays = Seq(("mega.example", 2.0)).toDF("domain", "crawl_delay")
    val rows = WebOps.frontierSchedule(frontier, "id", "url", delays, defaultDelay = 1.0)
      .select($"domain", $"slot", $"not_before_s")
      .as[(String, Long, Double)].collect()
    val byDom = rows.groupBy(_._1)
    assert(byDom("mega.example").map(_._2).sorted.toSeq == (0L until 200L),
      "mega slots not a dense permutation")
    assert(byDom("tiny.org").map(_._2).sorted.toSeq == Seq(0L, 1L))
    // gap >= delay: consecutive not_before_s within a domain differ by
    // exactly the governing delay under dense slots
    val megaTimes = byDom("mega.example").map(_._3).sorted
    assert(megaTimes.zip(megaTimes.tail).forall { case (a, b) => b - a >= 2.0 - 1e-9 },
      "inter-fetch gap < crawl_delay on mega.example")
    assert(byDom("tiny.org").map(_._3).sorted.toSeq == Seq(0.0, 1.0))
  }

  test("canonicalizeUrl: case/port/dots/escapes/query-order collapse to one fetch key") {
    val cases = Seq(
      // scheme+host case fold, default port strip, fragment drop
      ("HTTP://WWW.Example.COM:80/a#frag", "http://www.example.com/a"),
      ("https://h.org:443/x", "https://h.org/x"),
      ("https://h.org:8443/x", "https://h.org:8443/x"), // non-default kept
      // dot segments removed; empty path -> '/'
      ("http://h.com/a/./b/../c", "http://h.com/a/c"),
      ("http://h.com", "http://h.com/"),
      // unreserved escapes decode, reserved escapes uppercase
      ("http://h.com/%7Euser/f%3fq", "http://h.com/~user/f%3Fq"),
      // query params sort; empty query drops '?'
      ("http://h.com/p?b=2&a=1", "http://h.com/p?a=1&b=2"),
      ("http://h.com/p?", "http://h.com/p"),
      // userinfo kept verbatim (case-sensitive)
      ("http://User@h.com/p", "http://User@h.com/p"),
      // the dedup payoff: maximally-messy == already-canonical
      ("HTTP://H.com:80/a/../b%7E?z=1&a=2#f", "http://h.com/b~?a=2&z=1"),
      ("http://h.com/b~?a=2&z=1", "http://h.com/b~?a=2&z=1"),
      // non-http(s) and unparseable -> NULL
      ("ftp://h.com/x", "NULL"),
      ("not a url", "NULL")
    )
    val got = cases.toDF("url", "want")
      .select($"url", $"want",
        coalesce(WebOps.canonicalizeUrl($"url"), lit("NULL")).as("got"))
      .as[(String, String, String)].collect()
    val wrong = got.filter(r => r._2 != r._3)
    assert(wrong.isEmpty, wrong.map(r =>
      s"canon(${r._1}) = ${r._3}, want ${r._2}").mkString("\n"))
  }

  test("registrableDomain: PSL longest-match, wildcards, exceptions, IP passthrough") {
    val hosts = Seq(
      // private-section suffix: each user site is its own registrable domain
      "user.github.io", "deep.sub.user.github.io", "github.io",
      // ccTLD second-level (the round-10 co.nz complaint)
      "shop.co.nz", "a.b.shop.co.nz", "blog.blogspot.co.uk",
      // wildcard *.kobe.jp with the !city.kobe.jp exception
      "foo.kobe.jp", "a.foo.kobe.jp", "city.kobe.jp", "x.city.kobe.jp",
      // wildcard *.ck with the !www.ck exception
      "www.ck", "sub.www.ck", "other.ck", "a.other.ck",
      // deep exact (3/4-label) rules
      "myapp.s3.amazonaws.com", "school.k12.ca.us",
      // wildcard with a 3-label base
      "vm.compute.amazonaws.com", "x.vm.compute.amazonaws.com",
      // IP literals: label-slicing these would poison domain aggregates
      "192.168.0.1", "10.0.0.255", "[2001:db8::1]", "2001:db8::1",
      // default rule (unknown TLD = 1-label suffix) + degenerate hosts
      "sub.example.com", "example.com", "plain.example", "localhost", ""
    ).toDF("host")
    val got = hosts
      .select(col("host"), WebOps.registrableDomain(col("host")).as("d"))
      .as[(String, String)].collect().toMap
    assert(got("user.github.io") == "user.github.io")
    assert(got("deep.sub.user.github.io") == "user.github.io")
    assert(got("github.io") == "github.io") // a public suffix passes through
    assert(got("shop.co.nz") == "shop.co.nz")
    assert(got("a.b.shop.co.nz") == "shop.co.nz")
    assert(got("blog.blogspot.co.uk") == "blog.blogspot.co.uk") // 3-label private suffix
    assert(got("foo.kobe.jp") == "foo.kobe.jp") // *.kobe.jp: foo.kobe.jp IS a suffix
    assert(got("a.foo.kobe.jp") == "a.foo.kobe.jp")
    assert(got("city.kobe.jp") == "city.kobe.jp") // exception rule
    assert(got("x.city.kobe.jp") == "city.kobe.jp")
    assert(got("www.ck") == "www.ck")
    assert(got("sub.www.ck") == "www.ck")
    assert(got("other.ck") == "other.ck")
    assert(got("a.other.ck") == "a.other.ck")
    assert(got("myapp.s3.amazonaws.com") == "myapp.s3.amazonaws.com")
    assert(got("school.k12.ca.us") == "school.k12.ca.us")
    assert(got("vm.compute.amazonaws.com") == "vm.compute.amazonaws.com")
    assert(got("x.vm.compute.amazonaws.com") == "x.vm.compute.amazonaws.com")
    assert(got("192.168.0.1") == "192.168.0.1") // NOT "0.1"
    assert(got("10.0.0.255") == "10.0.0.255")
    assert(got("[2001:db8::1]") == "[2001:db8::1]")
    assert(got("2001:db8::1") == "2001:db8::1")
    assert(got("sub.example.com") == "example.com")
    assert(got("example.com") == "example.com")
    assert(got("plain.example") == "plain.example")
    assert(got("localhost") == "localhost")
    assert(got("") == "")
  }

  test("registrableDomain: Spark fold and the interpolated DuckDB oracle fold share rule sets") {
    // the oracle's SQL CASE is generated from the same pslRules the
    // Spark column compiles from - pin the parse so the resource and
    // both folds cannot silently drift apart
    val (exact, wild, exc) = WebOps.pslRules
    assert(exact(2).contains("co.uk") && exact(2).contains("github.io") &&
      exact(2).contains("co.nz"))
    assert(exact(3).contains("k12.ca.us") && exact(3).contains("blogspot.co.uk") &&
      exact(3).contains("s3.amazonaws.com"))
    assert(wild(1).contains("ck") && wild(2).contains("kobe.jp") &&
      wild(3).contains("compute.amazonaws.com"))
    assert(exc(2).contains("www.ck") && exc(3).contains("city.kobe.jp"))
    // no rule family leaks a '*' or '!' marker into a set
    (exact.values ++ wild.values ++ exc.values).flatten.foreach { r =>
      assert(!r.contains("*") && !r.contains("!"), s"unstripped rule marker: $r")
    }
  }

  test("urlPort: 5-digit bound - an over-long digit run reads as no port, never a cast overflow") {
    val urls = Seq(
      (1L, "https://h.example.com:8080/x"),
      (2L, "https://h.example.com:65535/x"),
      (3L, "https://h.example.com:99999999999/x"), // overflows INT unbounded
      (4L, "https://h.example.com:123456/x") // 6 digits: not a port
    ).toDF("id", "url")
    val got = WebOps.parseUrls(urls, "url")
      .select("id", "port").as[(Long, Int)].collect().toMap
    assert(got(1L) == 8080 && got(2L) == 65535)
    // both engines agree on 0 (absent) instead of Spark NULL vs DuckDB raise
    assert(got(3L) == 0 && got(4L) == 0)
  }

  test("web-tier eTLD+1 folds once per distinct host: broadcast joins, no corpus shuffle") {
    // spark.range, not a local Seq: a LocalRelation constant-folds the
    // whole projection into a LocalTableScan and there is no plan left
    // to assert on
    val urls = spark.range(100).select(col("id"),
      concat(lit("https://h"), col("id") % 7, lit(".example.com/x")).as("url"),
      (col("id") % 13).as("n"))
    // parseUrls: the PSL fold runs on the distinct-host vocabulary and
    // comes back as ONE broadcast hash join; the only hash exchange in
    // the plan is the vocab distinct (partial-agg'd host strings), the
    // corpus row stream itself never shuffles
    val parsePlan = WebOps.parseUrls(urls, "url").queryExecution.executedPlan.toString
    assert(parsePlan.contains("BroadcastHashJoin"),
      s"domain vocab must broadcast back, plan:\n$parsePlan")
    assert(!parsePlan.contains("SortMergeJoin"),
      s"corpus must never sort-shuffle for the domain fold, plan:\n$parsePlan")
    assert("Exchange hashpartitioning".r.findAllIn(parsePlan).size == 1,
      s"only the host-vocab distinct may hash-shuffle, plan:\n$parsePlan")
    // blockDomains: the blocked-host vocabulary resolves in ONE bounded
    // micro-job and the returned plan carries only a literal IN-set
    // filter - no join, no shuffle, and crucially no PSL expression for
    // downstream pipelines to re-optimize per plan branch
    val blockPlan = WebOps.blockDomains(urls, "url", Seq("bad.com"))
      .queryExecution.executedPlan.toString
    assert(!blockPlan.contains("Join") && !blockPlan.contains("Exchange"),
      s"blocklist verdict must ride as an in-place literal filter, plan:\n$blockPlan")
    assert(!blockPlan.contains("greatest"),
      s"the PSL fold must not leak into the caller's plan:\n$blockPlan")
    // domainStats: host partial -> per-host fold -> domain re-aggregate;
    // two vocabulary-sized hash exchanges, no join of any kind
    val statsPlan = WebOps.domainStats(urls, "url", "n")
      .queryExecution.executedPlan.toString
    assert(!statsPlan.contains("Join") && !statsPlan.contains("CartesianProduct"),
      s"domain profile is pure aggregation, plan:\n$statsPlan")
    assert("Exchange hashpartitioning".r.findAllIn(statsPlan).size == 2,
      s"host partial + domain re-aggregate only, plan:\n$statsPlan")
  }

  test("sitemapEntries: urlset pages and index children, trim, lastmod optional, relative cut") {
    val rows = Seq(
      (1L, "<urlset><url><loc>\n https://a.example/p1 \n</loc>" +
        "<lastmod>2024-01-02</lastmod></url>" +
        "<url><loc>https://a.example/p2</loc></url>" +
        "<url><loc>/rel</loc></url></urlset>"),
      (2L, "<sitemapindex><sitemap><loc>https://a.example/s1.xml</loc>" +
        "</sitemap></sitemapindex>"),
      (3L, "not xml at all"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "xml")
    val got = WebOps.sitemapEntries(rows, "xml")
      .as[(Long, String, String, String)].collect().sortBy(r => (r._1, r._3)).toSeq
    assert(got == Seq(
      (1L, "page", "https://a.example/p1", "2024-01-02"),
      (1L, "page", "https://a.example/p2", ""),
      (2L, "sitemap", "https://a.example/s1.xml", "")))
  }

  test("sitemapEntriesDeep: one-level index walk, gz bodies, dangling/corrupt children drop") {
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes("UTF-8")); g.finish(); g.close()
      bos.toByteArray
    }
    val index = Seq(
      // own page + three children: plain, gz, dangling (never fetched)
      (1L, "<urlset><url><loc>https://a.example/own</loc></url></urlset>" +
        "<sitemapindex>" +
        "<sitemap><loc>https://a.example/c1.xml</loc></sitemap>" +
        "<sitemap><loc>https://a.example/c2.xml.gz</loc></sitemap>" +
        "<sitemap><loc>https://a.example/never.xml</loc></sitemap>" +
        "</sitemapindex>"),
      // a child that is ITSELF an index: its page entries surface, its
      // grandchildren do NOT (one level, the protocol's depth)
      (2L, "<sitemapindex><sitemap><loc>https://b.example/cx.xml</loc>" +
        "</sitemap></sitemapindex>")
    ).toDF("id", "xml")
    val bodies = WebOps.sitemapBodies(Seq(
      ("https://a.example/c1.xml",
        "<urlset><url><loc>https://a.example/p1</loc><lastmod>2024-05-06</lastmod></url></urlset>"
          .getBytes("UTF-8")),
      ("https://a.example/c2.xml.gz",
        gz("<urlset><url><loc>https://a.example/p2</loc></url></urlset>")),
      ("https://b.example/cx.xml",
        ("<urlset><url><loc>https://b.example/px</loc></url></urlset>" +
          "<sitemapindex><sitemap><loc>https://b.example/grandchild.xml" +
          "</loc></sitemap></sitemapindex>").getBytes("UTF-8")),
      // corrupt gzip: magic bytes but garbage - the row must drop
      ("https://a.example/bad.xml.gz",
        Array[Byte](0x1f.toByte, 0x8b.toByte, 1, 2, 3, 4))
    ).toDF("loc", "payload"), "loc", "payload")
    assert(bodies.count() == 3) // the corrupt gzip dropped
    val got = WebOps.sitemapEntriesDeep(index, "xml", bodies, "loc", "xml")
      .select($"id", $"via", $"loc", $"lastmod")
      .as[(Long, String, String, String)].collect().toSet
    assert(got == Set(
      (1L, "", "https://a.example/own", ""),
      (1L, "https://a.example/c1.xml", "https://a.example/p1", "2024-05-06"),
      (1L, "https://a.example/c2.xml.gz", "https://a.example/p2", ""),
      // cx's own page surfaces; grandchild.xml is NOT followed
      (2L, "https://b.example/cx.xml", "https://b.example/px", "")), got.toString)
  }

  test("pageMeta: title strip, both meta orders, lang fold, canonical; absent fields empty") {
    val rows = Seq(
      (1L, "<html lang=\"EN-us\"><head><title>Big <i>Sale</i>\nToday</title>" +
        "<meta name=\"description\" content=\"forward order desc\">" +
        "<link rel=\"canonical\" href=\"https://x.example/canon\">" +
        "</head><body>b</body></html>"),
      (2L, "<html><head><title>plain</title>" +
        "<meta content=\"reversed order desc\" name=\"description\">" +
        "<link href=\"https://y.example/c2\" rel=\"canonical\">" +
        "</head></html>"),
      (3L, "<html><body>no head at all</body></html>"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "html")
    val got = WebOps.pageMeta(rows, "html")
      .select($"id", $"title", $"meta_description", $"html_lang", $"canonical_url")
      .as[(Long, String, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, "Big Sale Today", "forward order desc", "en-us",
      "https://x.example/canon")))
    assert(got(2L) == ((2L, "plain", "reversed order desc", "", "https://y.example/c2")))
    assert(got(3L) == ((3L, "", "", "", "")))
    assert(got(4L)._2 == null && got(4L)._3 == null && got(4L)._5 == null)
    // base_href: first base wins, absent -> ""; tag-name boundary:
    // <basefont href> is NOT a base declaration
    val bh = WebOps.pageMeta(Seq(
        (1L, "<head><base href=\"https://b.example/dir/\">" +
          "<base href=\"https://ignored.example/\"></head>"),
        (2L, "<head><base target=\"_blank\" href=\"/rel/\"></head>"),
        (3L, "<head></head>"),
        (4L, "<head><basefont href=\"https://font.example/\"></head>"),
        (5L, "<head><basefont href=\"https://font.example/\">" +
          "<base href=\"https://real.example/\"></head>")).toDF("id", "html"), "html")
      .select($"id", $"base_href").as[(Long, String)].collect().toMap
    assert(bh == Map(1L -> "https://b.example/dir/", 2L -> "/rel/", 3L -> "",
      4L -> "", 5L -> "https://real.example/"))
  }

  test("urlQualitySignals: depth/params/digits/escapes/session verdicts") {
    val rows = Seq(
      (1L, "https://a.com/x/y?p=1&q=2"), // benign
      (2L, "https://a.com/1/2/3/4/5/6/7/8/9/10"), // depth 10 > 8
      (3L, "https://a.com/p?PHPSESSID=deadbeef"), // session id
      (4L, "https://a.com/p%2Fq%3Dr"), // two escapes
      (5L, "https://a.com/" + "z" * 250) // over-long
    ).toDF("id", "url")
    val got = WebOps.urlQualitySignals(rows, "url")
      .select($"id", $"path_depth", $"n_params", $"n_pct_escapes",
        $"has_session_id", $"url_suspect")
      .as[(Long, Int, Int, Int, Boolean, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 2, 2, 0, false, false)))
    assert(got(2L) == ((2L, 10, 0, 0, false, true)))
    assert(got(3L) == ((3L, 1, 1, 0, true, true)))
    assert(got(4L) == ((4L, 1, 0, 2, false, false)))
    assert(got(5L)._6 && got(5L)._2 == 1)
    // digit ratio: 4 digits in a 24-char url
    val dr = WebOps.urlQualitySignals(
        Seq("https://d.org/aa/11?b=22").toDF("url"), "url")
      .select($"digit_ratio").as[Double].head()
    assert(math.abs(dr - 4.0 / 24.0) < 1e-12, dr.toString)
  }

  test("pageLinkSignals: href/absolute/external counts and the exact share") {
    val rows = Seq(
      (1L, "https://page.example/p",
        "<a href=\"https://other.net/x\">e</a>" + // external
          "<a href=\"https://sub.page.example/y\">i</a>" + // same eTLD+1
          "<a href=\"/rel\">r</a><a href=\"mailto:a@b.c\">m</a>"),
      (2L, "https://page.example/p", "<a href=\"/only/relative\">r</a>"),
      (3L, "https://page.example/p", "no links")
    ).toDF("id", "url", "html")
    val got = WebOps.pageLinkSignals(rows, "url", "html")
      .select($"id", $"n_hrefs", $"n_abs", $"n_ext", $"ext_share")
      .as[(Long, Int, Int, Int, Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) == ((1L, 4, 2, 1, Some(0.5))))
    assert(got(2L) == ((2L, 1, 0, 0, None))) // no absolute links -> NULL share
    assert(got(3L) == ((3L, 0, 0, 0, None)))
  }

  test("blockDomains: drops exactly the rows whose registrable domain is listed") {
    val urls = Seq(
      (1L, "https://a.bad.com/x"), // bad.com -> blocked
      (2L, "https://bad.com/y"), // bare registrable form -> blocked
      (3L, "https://bad.com.evil.net/z"), // evil.net, NOT bad.com
      (4L, "https://good.org/w")
    ).toDF("id", "url")
    val kept = WebOps.blockDomains(urls, "url", Seq("bad.com"))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(3L, 4L))
  }

  test("blockDomains: host-shaped entries block that exact host, not the whole domain") {
    val urls = Seq(
      (1L, "https://www.site.com/a"), // host-listed -> blocked
      (2L, "https://cdn.site.com/b"), // same eTLD+1, other host -> kept
      (3L, "https://WWW.SITE.com/c"), // hosts fold case before matching
      (4L, "https://site.com/d") // bare registrable host, unlisted -> kept
    ).toDF("id", "url")
    val kept = WebOps.blockDomains(urls, "url", Seq("www.site.com"))
      .select("id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(2L, 4L))
  }

  test("dupFraction: exact dups score 1.0, near-dups the shared-shingle share, unique docs 0.0") {
    val got = DedupOps.dupFraction(docs, "doc_id", "text", shingleLen = 3)
      .select("id", "n_shingles", "n_dup", "dup_frac")
      .as[(Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // docs 1 and 5 are identical: every shingle shared
    assert(got(1L)._4 === 1.0 && got(5L)._4 === 1.0)
    // doc 2 differs from doc 1 only in the last token: 11 distinct
    // 3-shingles, the final one ("the river bend") unique
    assert(got(2L) === ((2L, 11L, 10L, math.rint(10.0 / 11.0 * 1e6) / 1e6)))
    // disjoint docs share nothing
    assert(got(3L)._4 === 0.0 && got(4L)._4 === 0.0)
  }

  test("sourceOverlap: pairwise shared-shingle counts and Jaccard over source vocabularies") {
    val df = Seq(
      ("A", 1L, "w1 w2 w3 w4"), // A shingles: {w1 w2 w3, w2 w3 w4}
      ("A", 2L, "w1 w2 w3"), // dup shingle within A: distinct-folded
      ("B", 3L, "w1 w2 w3 x1"), // shares "w1 w2 w3" with A
      ("C", 4L, "y1 y2 y3") // disjoint
    ).toDF("src", "doc_id", "text")
    val got = DedupOps.sourceOverlap(df, "src", "text", shingleLen = 3)
      .select("src_a", "src_b", "inter", "sz_a", "sz_b", "jaccard")
      .as[(String, String, Long, Long, Long, Double)].collect()
    // only (A, B) overlaps: A = {w1w2w3, w2w3w4}, B = {w1w2w3, w2w3x1}
    assert(got.toSeq === Seq(("A", "B", 1L, 2L, 2L, math.rint(1.0 / 3.0 * 1e6) / 1e6)))
  }

  test("runningTotal: distributed prefix sum == driver cumsum under a total order") {
    val rows = (1L to 97L).map(i => (i, (i * 37) % 101, i % 7 + 1))
    val df = rows.toDF("id", "key", "v").repartition(8)
    // checkpoint=false exposes the full lazy plan (inspection only):
    // the corpus path must be RANGE-partitioned parallel windows, never
    // one global single-partition window (the offsets frame's tiny
    // single-partition window is the deliberate exception)
    val plan = ShardOps.runningTotal(df, Seq(col("key").desc, col("id")), "v",
      checkpoint = false).queryExecution.executedPlan.toString
    assert(plan.contains("rangepartitioning"), s"plan:\n$plan")
    // values from the production (materialize-once) path
    val got = ShardOps.runningTotal(df, Seq(col("key").desc, col("id")), "v")
      .select("id", "running_total").as[(Long, Long)].collect().toMap
    // driver replay of the same (key desc, id) order
    var cum = 0L
    val expect = rows.sortBy { case (id, key, _) => (-key, id) }.map { case (id, _, v) =>
      cum += v; id -> cum
    }.toMap
    assert(got === expect)
  }

  test("qualityBudget: keeps exactly the best-score prefix within the token budget") {
    val df = Seq(
      (1L, "good fine good solid", true),
      (2L, "fine good solid fine good fine", true),
      (3L, "awful bad junk bad", false),
      (4L, "bad junk awful junk bad junk", false),
      (5L, "good fine solid good", false)
    ).toDF("doc_id", "text", "seed")
    val scored = TextOps.nbQualityFilter(df, "doc_id", "text", "seed")
      .select("doc_id", "n_tokens", "score").as[(Long, Long, Long)].collect()
    // driver replay of the greedy cut at budget 12
    var cum = 0L
    val expect = scored.sortBy { case (id, _, s) => (-s, id) }.flatMap { case (id, n, _) =>
      cum += n; if (cum <= 12L) Some(id) else None
    }.toSet
    val got = TextOps.qualityBudget(df, "doc_id", "text", "seed", budgetTokens = 12L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect()
    assert(got.map(_._1).toSet === expect)
    assert(got.map(_._2).max <= 12L)
    assert(expect.nonEmpty && expect.size < 5, "budget must cut mid-corpus for the test to bite")
  }

  test("scriptProfile: per-script char counts, first-wins dominant, other on no evidence") {
    val df = Seq(
      (1L, "hello world"), // latin
      (2L, "привет мир hi"), // cyrillic 9 > latin 2
      (3L, "αβ αβ"), // greek
      (4L, "12345 678"), // digit
      (5L, "!!! ..."), // nothing matches -> other
      (6L, "ab аб") // tie latin 2 == cyrillic 2 -> latin (class order)
    ).toDF("id", "text")
    val got = TextOps.scriptProfile(df, "id", "text")
      .select("id", "n_chars", "n_latin", "n_cyrillic", "n_greek", "n_digit", "dominant")
      .as[(Long, Long, Long, Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 11L, 10L, 0L, 0L, 0L, "latin")))
    assert(got(2L) === ((2L, 13L, 2L, 9L, 0L, 0L, "cyrillic")))
    assert(got(3L) === ((3L, 5L, 0L, 0L, 4L, 0L, "greek")))
    assert(got(4L) === ((4L, 9L, 0L, 0L, 0L, 8L, "digit")))
    assert(got(5L)._7 === "other")
    assert(got(6L) === ((6L, 5L, 2L, 2L, 0L, 0L, "latin")))
  }

  test("piiAudit: counts each PII class, flags carrying docs, zero residual after redaction") {
    val df = Seq(
      ("a", "mail me at bob@corp.example.com or sue@x.io today"),
      ("a", "server 10.0.0.1 and 192.168.1.255 rebooted"),
      ("b", "call (555) 123-4567 or +44 20 7946 0958 now"),
      ("b", "no sensitive content here at all")
    ).toDF("src", "text")
    val got = TextOps.piiAudit(df, "src", "text")
      .select("src", "n_docs", "n_email", "n_ip", "n_phone", "n_docs_with_pii", "n_residual")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got("a") === (("a", 2L, 2L, 2L, 0L, 2L, 0L)))
    assert(got("b") === (("b", 2L, 0L, 0L, 2L, 1L, 0L)))
  }

  test("nbQualityFilter: seed-class tokens separate, weights replay the integer log code") {
    val df = Seq(
      (1L, "good fine good solid", true),
      (2L, "fine good solid fine", true),
      (3L, "awful bad junk bad", false),
      (4L, "bad junk awful junk", false),
      (5L, "good fine solid good", false), // positive-looking text outside the seed
      (6L, "bad awful junk bad", true) // negative-looking text inside the seed
    ).toDF("doc_id", "text", "seed")
    val got = TextOps.nbQualityFilter(df, "doc_id", "text", "seed")
      .select("doc_id", "n_tokens", "score", "predicted")
      .as[(Long, Long, Long, Boolean)].collect().map(r => r._1 -> r).toMap
    // the CLASSIFIER is about token evidence, not the label: docs made of
    // seed-class tokens score positive wherever they sit
    assert(got(1L)._4 && got(2L)._4 && got(5L)._4)
    assert(!got(3L)._4 && !got(4L)._4 && !got(6L)._4)
    // independent scalar replay: recompute doc 1's full score from the
    // corpus's per-class token counts with the same integer log code
    def ilog(x: Long): Long = {
      if (x < 32) x
      else {
        val e = java.lang.Long.toBinaryString(x).length - 1
        (e - 5).toLong * 32 + (x >> (e - 5))
      }
    }
    val tokens = Seq(
      (true, "good fine good solid"), (true, "fine good solid fine"),
      (false, "awful bad junk bad"), (false, "bad junk awful junk"),
      (false, "good fine solid good"), (true, "bad awful junk bad"))
      .flatMap { case (l, t) => t.split(" ").map(tok => (l, tok)) }
    def cpOf(t: String) = tokens.count(p => p._1 && p._2 == t).toLong
    def cnOf(t: String) = tokens.count(p => !p._1 && p._2 == t).toLong
    val np = tokens.count(_._1).toLong
    val nn = tokens.count(!_._1).toLong
    val v = tokens.map(_._2).distinct.size.toLong
    def wOf(t: String): Long =
      ilog((cpOf(t) + 1) * 256) - ilog((np + v) * 256) -
        (ilog((cnOf(t) + 1) * 256) - ilog((nn + v) * 256))
    val doc1Score = "good fine good solid".split(" ").map(wOf).sum
    assert(got(1L)._3 === doc1Score)
    assert(got(1L)._2 === 4L)
  }

  test("c4LineFilter: line predicates, page-level drops, and the minLines cut") {
    val rows = Seq(
      // kept: line 1 (terminal punct, 4 words) and line 5; lines 2-4
      // fail word-count / punctuation / javascript respectively
      (1L, "Good first line here.\nshort.\nno terminal punct line\n" +
        "mentions javascript today.\nAnother good line stays!"),
      (2L, "Good first line here.\ncode snippet { x }"), // page drop: brace
      (3L, "Good first line here.\nsome lorem ipsum filler.\nfine line stays here."),
      (4L, "Read our privacy policy today.\nAnother good line stays!"),
      (5L, "Only one good line survives here.\nnope\nstill nope"), // n_kept 1 < 2
      (6L, null.asInstanceOf[String]),
      (7L, "He said \"stop\" and left.\nShe answered \"fine\"") // quote terminal
    ).toDF("doc_id", "text")
    val got = TextOps.c4LineFilter(rows, "doc_id", "text", minWords = 3, minLines = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L, 7L))
    assert(got(1L) == ((1L, 5L, 2L,
      "Good first line here.\nAnother good line stays!")))
    assert(got(7L) == ((7L, 2L, 2L,
      "He said \"stop\" and left.\nShe answered \"fine\"")))
  }

  test("pmiCollocations: counts and the integer log-PMI code match hand arithmetic") {
    // bigrams: (a,b) x3, (b,a) x1, (b,c) x1, (b,x) x1 -> N = 6
    // PMI(a,b) = log2(3 * 6 / (3 * 3)) = 1 bit -> code 32
    val df = Seq((1L, "a b a b c"), (2L, "a b x")).toDF("doc_id", "text")
    val got = TextOps.pmiCollocations(df, "text", minCount = 2L)
      .as[(String, String, Long, Long, Long, Long, Double)].collect()
    assert(got.length == 1)
    assert(got(0) == (("a", "b", 3L, 3L, 3L, 32L, 1.0)))
    assert(TextOps.pmiCollocations(df, "text", minCount = 1L).count() == 4)
  }

  test("linkGraph: href extraction, absolute-http(s) cut, eTLD+1 fold on both ends") {
    val pages = Seq(
      (1L, "http://a.x.com/p",
        "<a href=\"http://b.com/1\">l</a><a href='https://www.c.co.uk/2'>m</a>" +
          "<a href=\"/rel\">r</a><a href=\"mailto:u@d.com\">e</a>"),
      (2L, "https://a.com/q",
        "text <a href = \"http://b.com/3\">z</a> <a href=\"ftp://f.org/4\">f</a>"),
      (3L, "https://nolinks.org", "no anchors at all")
    ).toDF("doc_id", "url", "html")
    val links = WebOps.extractLinks(pages, "html")
      .select("doc_id", "link").as[(Long, String)].collect().toSet
    assert(links == Set(
      (1L, "http://b.com/1"), (1L, "https://www.c.co.uk/2"),
      (2L, "http://b.com/3"))) // relative, mailto:, ftp all cut
    val got = WebOps.linkGraph(pages, "url", "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("x.com", "b.com", 1L), ("x.com", "c.co.uk", 1L), ("a.com", "b.com", 1L)))
  }

  test("anchorProfile: anchor tokens fold to the target domain; non-http anchors cut") {
    val pages = Seq(
      (1L, "<a href=\"http://b.com/1\">Great Site here</a>" +
        "<a href='https://www.c.co.uk/2'>useful site</a>"),
      (2L, "<a class='x' href=\"http://b.com/3\" rel=\"nofollow\">great site</a>" +
        "<a href=\"mailto:u@d.com\">write us</a>"),
      // nested markup + newline in the body: the old [^<]* body regex
      // silently DROPPED these anchors; now inner tags strip to spaces
      (3L, "<a href=\"https://n.org/x\"><b>Bold deal</b>\n<span>today</span></a>" +
        "<A HREF=\"https://n.org/y\">CASE anchor</A>")
    ).toDF("doc_id", "html")
    val got = WebOps.anchorProfile(pages, "html")
      .as[(String, String, Long)].collect().toSet
    assert(got == Set(
      ("b.com", "great", 2L), ("b.com", "site", 2L), ("b.com", "here", 1L),
      ("c.co.uk", "useful", 1L), ("c.co.uk", "site", 1L),
      ("n.org", "bold", 1L), ("n.org", "deal", 1L), ("n.org", "today", 1L),
      ("n.org", "case", 1L), ("n.org", "anchor", 1L)))
  }

  test("graph driver off-ramps == distributed loops (pageRank/tol, trustRank, hits, labelprop, kCore)") {
    // r18: below the driver-edge guard the iterative ops run their
    // integer recurrences on collected arrays. The same pseudo-random
    // graph runs through all three paths - the off-ramp by default, the
    // distributed loop with its per-round node broadcasts, and the fully
    // shuffled distributed loop - and every op must agree on rows,
    // schema and round counts. String ids cover the orderingFor
    // tie-break and the hash-index path.
    val raw = (for {
      i <- 0L until 60L; j <- (i + 1) until 60L
      if (i * 11 + j * 7) % 23 < 3
    } yield (i, j)) ++ Seq((1L, 1L), (2L, 1L)) // self-loop + reversed dup
    val edges = raw.toDF("a", "b")
    val sEdges = raw.map { case (x, y) => (s"n$x", s"n$y") }.toDF("a", "b")
    def out(df: org.apache.spark.sql.DataFrame) = (df.schema, df.collect().toSet)
    def samePaths[A](what: String)(body: => A): Unit = {
      val Seq(local, bcast, shuffled) = Seq(
        Seq.empty,
        Seq(SizeGuard.DriverEdges -> false),
        Seq(SizeGuard.DriverEdges -> false, SizeGuard.NodeBroadcast -> false)
      ).map(sides => SizeGuard.forcing(sides: _*)(body))
      assert(bcast == local, s"$what: broadcast distributed loop != off-ramp")
      assert(shuffled == local, s"$what: shuffled distributed loop != off-ramp")
    }

    samePaths("pageRank")(out(GraphOps.pageRank(edges, "a", "b", iterations = 7, unit = 1000L)))
    // tol: same ranks AND same executed-round count
    samePaths("pageRankCounted tol=0") {
      val (df, rounds) = GraphOps.pageRankCounted(edges, "a", "b", iterations = 40,
        unit = 1000L, tol = 0L)
      (out(df), rounds)
    }
    // trustRank over string ids (directed; seed predicate)
    samePaths("trustRankSeedBy")(out(GraphOps.trustRankSeedBy(sEdges, "a", "b",
      col("node").isin("n0", "n3", "n5"), iterations = 6, unit = 1000L)))
    // hits (directed, per-half-step max rescale)
    samePaths("hits")(out(GraphOps.hits(sEdges, "a", "b", iterations = 5, unit = 1000L)))
    // labelPropagation: long ids (packed argmin path) and string ids
    // (struct-min path + UTF-8 tie-break ordering)
    samePaths("labelPropagation long")(out(GraphOps.labelPropagation(edges, "a", "b", rounds = 4)))
    samePaths("labelPropagation string")(
      out(GraphOps.labelPropagation(sEdges, "a", "b", rounds = 4)))
    // kCore: rows AND peel-round count; the shuffled side runs the
    // materialized-bad branch
    samePaths("kCore") {
      val (df, rounds) = GraphOps.kCoreCounted(edges, "a", "b", k = 3)
      (out(df), rounds)
    }
  }
}
