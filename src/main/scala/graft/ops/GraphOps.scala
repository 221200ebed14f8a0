package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Graph operators over relational edge lists (the shape dedup pipelines
  * produce: near-dup PAIRS in, duplicate CLUSTERS out).
  */
object GraphOps {

  /** Connected components of an undirected edge list by iterative
    * min-label propagation: every vertex starts labeled with its own id
    * and repeatedly adopts the minimum label among itself and its
    * neighbors, until a fixpoint. Vertex ids may be any orderable
    * column type (long ids, strings, ...) - "min" is the column type's
    * ordering.
    *
    * Scale notes: converges in O(component diameter) rounds, each round
    * one equi-join + one aggregation + one vertex-sized convergence
    * probe; `localCheckpoint` truncates lineage per round. Near-dup graphs are overwhelmingly many tiny components,
    * where diameter is small and this loop beats the O(log n)-round
    * large-star/small-star algorithm on constant factors; a giant-
    * component graph would want the latter behind the same edge-list API.
    *
    * Output: one row per distinct vertex appearing in `edges`:
    * (id, cluster_id = min vertex id in its component).
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // materialize the (possibly expensive) edge computation ONCE before
    // symmetrizing: union(sym, sym.swapped) would otherwise execute the
    // upstream pair-generation plan twice
    // a NULL endpoint carries no connectivity (equi-joins never match
    // null); dropping such edges up front gives both paths identical
    // semantics instead of the distributed loop emitting a (null, null)
    // label row and the union-find crashing on null ordering
    val sym = edges.select(F.col(srcCol).as("a"), F.col(dstCol).as("b"))
      .filter(F.col("a").isNotNull && F.col("b").isNotNull)
      .localCheckpoint()
    // small-graph off-ramp (the CC counterpart of Query.queryBatch's
    // broadcast mode): near-dup pair sets are usually tiny relative to
    // the corpus, and min-label propagation costs ~3 jobs PER ROUND.
    // Under the shared driver-edge guard, a driver union-find gives the
    // identical answer in one collect + one parallelize; above it (or
    // for exotic id types) the distributed loop below is the scale path.
    // The sizing aggregate reads sym's just-materialized checkpoint.
    // off-ramp only when both endpoint columns share one supported
    // atomic type: mixed int/long columns rely on the distributed
    // union's type widening, and the collected ordering must match
    // Spark's own min semantics for the type
    if (sym.schema("a").dataType == sym.schema("b").dataType && driverSized(sym, "a"))
      return connectedComponentsLocal(sym)
    val und = sym.union(sym.select(F.col("b").as("a"), F.col("a").as("b")))
      .distinct()
      .localCheckpoint()

    var labels = und.select(F.col("a").as("id")).distinct()
      .withColumn("label", F.col("id"))
      .localCheckpoint()

    var converged = labels.isEmpty // empty edge list: nothing to propagate
    while (!converged) {
      val nbrMin = und
        .join(labels, und("a") === labels("id"))
        .groupBy(und("b").as("nid"))
        .agg(min(F.col("label")).as("nbr_label"))
      // old and new labels are both in hand here, so the any-type
      // fixpoint test is a flag column, not another join
      val next = labels
        .join(nbrMin, labels("id") === nbrMin("nid"), "left")
        .select(
          F.col("id"),
          least(F.col("label"), coalesce(F.col("nbr_label"), F.col("label"))).as("label"),
          (coalesce(F.col("nbr_label"), F.col("label")) < F.col("label")).as("changed"))
        .localCheckpoint()
      converged = next.filter(F.col("changed")).isEmpty
      labels = next.drop("changed")
    }
    labels.select(F.col("id"), F.col("label").as("cluster_id"))
  }

  /** Runtime ordering for the id column types the driver off-ramp
    * handles; null = unsupported type, use the distributed path.
    */
  private def orderingFor(dt: DataType): Ordering[Any] = (dt match {
    case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
    case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    case StringType =>
      // Spark's min on StringType compares UTF8String BYTES (code-point
      // order); Java String compareTo compares UTF-16 units, which
      // disagrees above the BMP - compare UTF-8 bytes unsigned so the
      // off-ramp picks the same cluster minima as the distributed path
      new Ordering[Any] {
        override def compare(x: Any, y: Any): Int = {
          val a = x.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val b = y.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val n = math.min(a.length, b.length)
          var i = 0
          while (i < n) {
            val c = (a(i) & 0xff) - (b(i) & 0xff)
            if (c != 0) return c
            i += 1
          }
          a.length - b.length
        }
      }
    case _ => null
  })

  /** PageRank over an undirected edge list in fixed-point INTEGER
    * arithmetic - the corpus-weighting companion to
    * [[connectedComponents]] (rank web-ish sources by link structure
    * before sampling a training mixture). Each vertex starts with
    * `unit` mass; one round sends `r div deg` along every edge and
    * renews each vertex at `0.15*unit + 0.85*inflow`, all in integer
    * (floor) division.
    *
    * Integer arithmetic is the determinism contract: long sums are
    * associative, so the result is bit-identical regardless of
    * partitioning or aggregation order - float PageRank would differ in
    * the last ulp run-to-run and could never hash-match a second
    * engine. Overflow bound: `85 * n_vertices * unit` must fit a long,
    * so the default unit=1e9 is safe to ~1e8 vertices; shrink `unit`
    * for larger graphs (precision loss is 1 part in `unit/deg`).
    *
    * Scale shape: per round, one node-sized equi-join (ranks x degrees),
    * one edge-sized equi-join shuffling on `src`, one aggregation on
    * `dst`; the edge list is symmetrized + deduplicated ONCE up front
    * and `localCheckpoint` caps lineage per round, the same driver-loop
    * discipline as the CC loops. Vertices touch no driver state.
    *
    * Output: one row per distinct vertex: (node, rank_int).
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      unit: Long = 1000000000L
  ): DataFrame =
    pageRankCounted(edges, srcCol, dstCol, iterations, unit)._1

  /** [[pageRank]] plus the number of rounds actually executed, with an
    * optional convergence stop: `tol >= 0` probes every third round and
    * stops once the max per-node change across TWO rounds is <= tol
    * (no probes, and no extra actions, on the default `tol = -1` path).
    *
    * Why a two-round delta: the integer map does not generally reach a
    * one-round fixed point - on a hub-shaped graph the floor divisions
    * are amplified by the hub degree into a persistent exact period-2
    * cycle (measured on a 30-leaf star: the center rank alternates
    * between two values ~0.8 unit apart forever). Comparing S(i+1) to
    * S(i-1) treats that alternating mode as converged, which is the
    * honest notion of "done" for this arithmetic.
    *
    * At `tol = 0` the stop is LOSSLESS: S(i+1) == S(i-1) makes the
    * orbit exactly 2-periodic from round i-1 by determinism, so the
    * fixed-round result is either the current state or one more round
    * away - the stop runs that one parity-correcting round when
    * `iterations` demands it, and returns bit-identical ranks to the
    * fixed-round path.
    */
  def pageRankCounted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      unit: Long = 1000000000L,
      tol: Long = -1L
  ): (DataFrame, Int) = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(unit > 0, s"unit must be positive, got $unit")
    val sym = edges.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
      .filter(F.col("src").isNotNull && F.col("dst").isNotNull)
      .localCheckpoint()
    // ONE edge shuffle total: hash on dst alone satisfies the distinct's
    // (src, dst) clustering requirement (subset clustering), so the
    // dedup runs in the repartition's partitions - and every later
    // per-round aggregation on dst reuses this same partitioning
    val edgesByDst = sym
      .union(sym.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .repartition(F.col("dst"))
      .distinct()
      .localCheckpoint()
    // driver off-ramp (see the off-ramp section at the end of this
    // file): below the guard the identical integer recurrence runs on
    // collected arrays, bit-exact, skipping the per-round job-scheduling
    // floor; the edge derivation above stayed in Spark. The sizing is
    // one cheap job over the just-materialized checkpoint.
    if (driverSized(edgesByDst, "src")) {
      val out = pageRankLocal(edgesByDst, iterations, unit, tol)
      OpsUtil.unpersistCheckpoint(sym)
      OpsUtil.unpersistCheckpoint(edgesByDst)
      return out
    }
    // symmetrized: every vertex appears as a src, so deg doubles as the
    // vertex set and no vertex dangles (inflow is never empty)
    val deg = edgesByDst.groupBy(F.col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    // rank state is NODE-sized - tiny next to the edge list. Under the
    // size guards, broadcast the per-round contributions: each round is
    // then a broadcast join plus an aggregation that REUSES the edge
    // partitioning - zero per-round edge shuffles (vs 2 per round on the
    // fallback path). Graphs whose node table is too big to broadcast -
    // by row count OR by estimated bytes (wide string ids blow past any
    // row-count guard long before 4M rows) - take the shuffled path.
    val smallRanks = SizeGuard.small(SizeGuard.NodeBroadcast, deg, "node")
    val restart = 15L * unit / 100L
    // deg is a checkpointed LogicalRDD: its stats are UNKNOWN, so the
    // planner picked a SortMergeJoin with TWO exchanges + sorts for the
    // node-sized contribution join INSIDE EVERY ROUND (plan audit r17:
    // Exchange/Sort/SMJ under each round's BroadcastExchange). Under the
    // same size guard that already broadcasts contrib, broadcast deg:
    // one reused broadcast per materialization instead of 2 exchanges +
    // 2 sorts per round. Oversized graphs keep the shuffled join.
    def round(state: DataFrame): DataFrame = {
      val contrib = state.join(if (smallRanks) broadcast(deg) else deg, Seq("node"))
        .select(F.col("node").as("src"), expr("r div deg").as("c"))
      val joined =
        if (smallRanks) edgesByDst.join(broadcast(contrib), Seq("src"))
        else edgesByDst.join(contrib, Seq("src"))
      joined
        .groupBy(F.col("dst").as("node"))
        .agg(sum(F.col("c")).as("s"))
        .select(F.col("node"), (lit(restart) + expr("(85 * s) div 100")).as("r"))
    }
    var ranks = deg.select(F.col("node"), lit(unit).as("r"))
    var prev: DataFrame = null // S(i-1) at the top of iteration i
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      val before = ranks // S(i)
      ranks = round(ranks) // S(i+1)
      if (tol >= 0L) {
        // the probe at round i (i % 3 == 2) compares S(i+1) against
        // S(i-1) - states produced at iterations ≡ 2 and ≡ 0 (mod 3).
        // States produced at iterations ≡ 1 feed NO compare, so skip
        // their materialization: same probe cadence, one third fewer
        // per-round jobs, plan depth still bounded at two rounds
        if (i % 3 != 1 || i == iterations - 1) ranks = ranks.localCheckpoint()
        if (i % 3 == 2 && i != iterations - 1 && prev != null) {
          val delta = ranks
            .join(
              if (smallRanks) broadcast(prev.select(F.col("node"), F.col("r").as("pr")))
              else prev.select(F.col("node"), F.col("r").as("pr")),
              Seq("node"))
            .agg(coalesce(max(F.abs(F.col("r") - F.col("pr"))), lit(0L)))
            .head().getLong(0)
          if (delta <= tol) {
            // 2-periodic from S(i-1): land on the fixed-round parity so
            // tol=0 returns exactly the fixed-round result
            if ((iterations - (i + 1)) % 2 == 1) { ranks = round(ranks); i += 1 }
            converged = true
          }
        }
        prev = before
      } else {
        // fixed iteration count = no per-round convergence probe, so no
        // per-round action either: materialize only every FIFTH round to
        // cap plan depth (the edge table re-enters the plan each round;
        // unbounded, analysis cost grows superlinearly). The rounds in
        // between fuse into ONE query whose nested broadcast subtrees
        // each execute once. Stride re-measured r17 after the contrib
        // join went broadcast (each fused round is now one cheap BHJ
        // subtree, so deeper fusion pays): stride 5 reads 3.16 s vs
        // stride 3's 3.78 s on graph_pagerank at sf0.1/32; trustRank
        // keeps stride 3 - its rounds nest an extra full-outer join and
        // measured 1.7x WORSE at stride 5.
        if (i % 5 == 4 && i != iterations - 1) ranks = ranks.localCheckpoint()
      }
      i += 1
    }
    (ranks.select(F.col("node"), F.col("r").as("rank_int")), i)
  }

  /** TrustRank: authority propagated from a hand-picked TRUSTED seed
    * set along DIRECTED edges (Gyongyi/Garcia-Molina/Pedersen's spam
    * demotion: good pages rarely link to spam, so trust flowing only
    * out of vetted seeds separates the reputable web from link farms
    * that plain PageRank rewards). Same integer map as [[pageRank]]
    * (every node computes `div`s identically - no float drift across
    * partitionings), with two deliberate differences: edges stay
    * directed (trust flows WITH links, never back up them), and the
    * teleport mass rides ONLY the seeds -
    *
    *   r0(v)    = unit on seeds, 0 elsewhere
    *   r_i+1(v) = boost(v) + (85 * inflow) div 100,
    *   boost(v) = (15 * unit) div 100 on seeds, 0 elsewhere
    *
    * so an unreachable node holds rank 0 forever (the spam verdict),
    * and dangling-node mass evaporates instead of teleporting (the
    * cheap, standard choice; it only shrinks totals, never reorders
    * trust). Per round: one node-sized contribution join (broadcast
    * under the [[pageRank]] size guards) + one aggregation reusing the
    * single up-front edge partitioning - zero per-round edge shuffles
    * on the broadcast path; every third round materializes to cap plan
    * depth (the fixed-round [[pageRankCounted]] discipline).
    *
    * Output: (node, trust_int) for every node in the edge list -
    * including never-reached nodes at 0, which ARE the result.
    */
  def trustRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 10,
      unit: Long = 1000000000L
  ): DataFrame = {
    val sd = seeds.select(F.col(seedCol).as("gr_sn"), lit(true).as("gr_seed"))
      .distinct()
    trustRankCore(edges, srcCol, dstCol,
      n => n.join(broadcast(sd), n("node") === F.col("gr_sn"), "left")
        .select(n("node"), coalesce(F.col("gr_seed"), lit(false)).as("gr_is_seed")),
      iterations, unit)
  }

  /** [[trustRank]] with the seed set given as a PREDICATE over the
    * node id instead of a frame - e.g. `F.col("node").endsWith(".com")`.
    * Preferable when seeds are rule-defined: the predicate evaluates
    * over the op's own (already materialized) node frame, so the
    * caller's edge-derivation plan never executes a second time just
    * to list seeds.
    */
  def trustRankSeedBy(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      isSeed: Column,
      iterations: Int = 10,
      unit: Long = 1000000000L
  ): DataFrame =
    trustRankCore(edges, srcCol, dstCol,
      n => n.select(F.col("node"), isSeed.as("gr_is_seed")),
      iterations, unit)

  private def trustRankCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      markSeeds: DataFrame => DataFrame,
      iterations: Int,
      unit: Long
  ): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(unit > 0, s"unit must be positive, got $unit")
    val e = edges.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
      .filter(F.col("src").isNotNull && F.col("dst").isNotNull)
      .repartition(F.col("dst"))
      .distinct()
      .localCheckpoint()
    val outdeg = e.groupBy(F.col("src").as("node"))
      .agg(count(lit(1)).as("deg"))
      .localCheckpoint()
    val boost = 15L * unit / 100L
    // node universe = src ∪ dst; seeds mark the teleport support (a
    // seed not in the graph contributes nothing - semi-join semantics)
    val nodes0 = e.select(F.col("src").as("node"))
      .union(e.select(F.col("dst").as("node"))).distinct()
    val nodes = markSeeds(nodes0)
      .select(F.col("node"),
        when(F.col("gr_is_seed"), lit(boost)).otherwise(lit(0L)).as("gr_boost"))
      .localCheckpoint()
    // driver off-ramp (pageRank discipline): the seed marking already
    // ran in Spark over the materialized node frame - only the rounds
    // collect. Same directed integer map, bit-exact.
    if (driverSized(e, "src"))
      return trustRankLocal(e, nodes, iterations, unit)
    val smallRanks = SizeGuard.small(SizeGuard.NodeBroadcast, nodes, "node")
    // rounds iterate over the trust SUPPORT (seeds ∪ reached nodes),
    // never the full node frame: early rounds touch a seed-sized
    // frontier, and at web scale the reputable subgraph trust actually
    // reaches is far smaller than the crawl's node universe. Unreached
    // nodes join back as zeros ONCE, at the end.
    val seedFrame = nodes.filter(F.col("gr_boost") > 0L).localCheckpoint()
    // same checkpointed-stats SMJ trap as pageRank's round: broadcast
    // the node-sized outdeg under the existing size guard
    def round(state: DataFrame): DataFrame = {
      val contrib = state.filter(F.col("r") > 0L)
        .join(if (smallRanks) broadcast(outdeg) else outdeg, Seq("node"))
        .select(F.col("node").as("src"), expr("r div deg").as("c"))
      val joined =
        if (smallRanks) e.join(broadcast(contrib), Seq("src"))
        else e.join(contrib, Seq("src"))
      val inflow = joined
        .groupBy(F.col("dst").as("node"))
        .agg(sum(F.col("c")).as("s"))
      if (smallRanks)
        // the seedFrame-vs-inflow FULL OUTER of two node-sized frames
        // planned as a SortMergeJoin - 2 exchanges + 2 sorts inside
        // EVERY round (plan audit r18). Under the guard, LEFT-join the
        // broadcast inflow onto the already-materialized `nodes` frame
        // (which carries gr_boost for every node): every node the full
        // outer produced gets the identical r, and the extra rows are
        // exactly the nodes the full outer omitted - which only ever
        // held r = 0 there, a value the next round's r > 0 filter and
        // the final coalesce both erase. Zero exchanges per round.
        nodes.join(broadcast(inflow), Seq("node"), "left")
          .select(F.col("node"),
            (F.col("gr_boost") +
              coalesce(expr("(85 * s) div 100"), lit(0L))).as("r"))
      else
        seedFrame.join(inflow, Seq("node"), "full")
          .select(F.col("node"),
            (coalesce(F.col("gr_boost"), lit(0L)) +
              coalesce(expr("(85 * s) div 100"), lit(0L))).as("r"))
    }
    var ranks = seedFrame.select(F.col("node"), lit(unit).as("r"))
    var i = 0
    while (i < iterations) {
      ranks = round(ranks)
      if (i % 3 == 2 && i != iterations - 1) ranks = ranks.localCheckpoint()
      i += 1
    }
    // final join: broadcast the lazily-built rank frame under the same
    // guard (checkpointed-stats SMJ otherwise, as in pageRank/hits)
    nodes.join(if (smallRanks) broadcast(ranks) else ranks, Seq("node"), "left")
      .select(F.col("node"), coalesce(F.col("r"), lit(0L)).as("trust_int"))
  }

  /** HITS hubs & authorities (Kleinberg): the directory-vs-content
    * split PageRank flattens - a page can be a great INDEX of good
    * content (hub) without being good content (authority), and link
    * lists/seed directories are exactly the hub shape a crawl wants to
    * prioritize for DISCOVERY while ranking authorities for QUALITY.
    * Mutual recurrence over directed edges:
    *
    *   a'(v) = Σ_{u→v} h(u),   h'(u) = Σ_{u→v} a'(v)
    *
    * each half-step rescaled so its MAX equals `unit` - the integer
    * replacement for the float formulation's L2 normalization: max and
    * floor-div are aggregation-order exact, so every round replays
    * bit-for-bit in the oracle, where a float norm never would.
    * Overflow bound: a pre-scale sum is at most nodeCount·unit, and
    * the rescale multiplies by unit before dividing, so
    * nodeCount·unit² must fit a Long - enforced by a require, sized
    * via the node count the broadcast guard measures anyway (the
    * default unit=1e6 allows ~9.2e6 nodes; lower unit for bigger
    * graphs - it is a RESOLUTION knob, not a semantic one).
    * Choosing unit from node count: the largest safe value is
    * sqrt(Long.Max / n) - n = 1e8 domains allows unit ~ 9.6e3 (~10^4
    * score levels), n = 1e9 allows ~3e3 (~3000 levels); rank ORDER is
    * what downstream curation consumes and it stabilizes far below
    * that resolution, so the shrinking knob costs nothing real.
    *
    * Scale shape: TWO checkpointed edge copies (dst-partitioned for
    * the authority step, src-partitioned for the hub step); under the
    * broadcast guards each half-step is a map-side broadcast join plus
    * an aggregation that reuses its copy's partitioning - zero
    * per-round edge shuffles. Every third round materializes (the
    * [[pageRankCounted]] plan-depth discipline).
    *
    * Output: (node, hub_int, auth_int) for every node in the edge
    * list (sources that nothing links to have auth 0; sinks that link
    * to nothing have hub 0).
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 8,
      unit: Long = 1000000L
  ): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(unit > 0, s"unit must be positive, got $unit")
    val e0 = edges.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
      .filter(F.col("src").isNotNull && F.col("dst").isNotNull)
    val eByDst = e0.repartition(F.col("dst")).distinct().localCheckpoint()
    // driver off-ramp (pageRank discipline): the mutual recurrence with
    // its per-half-step max rescale is the family's worst job-scheduling
    // floor (StageProbe r18: 100 jobs, 0.9 s task time, 5.7 s wall at
    // sf0.1/32); below the guard it runs on collected arrays, bit-exact
    if (driverSized(eByDst, "src"))
      return hitsLocal(eByDst, iterations, unit)
    val eBySrc = eByDst.repartition(F.col("src")).localCheckpoint()
    val nodes = eByDst.select(F.col("src").as("node"))
      .union(eByDst.select(F.col("dst").as("node"))).distinct()
      .localCheckpoint()
    val (nodeCount, nodeBytes) = SizeGuard.measure(nodes, "node")
    require(nodeCount <= Long.MaxValue / unit / unit,
      s"$nodeCount nodes at unit=$unit risks Long overflow in the rescale; " +
        "lower unit (it is a resolution knob)")
    val small = SizeGuard.small(SizeGuard.NodeBroadcast, nodeCount, nodeBytes)
    def bcast(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    // rescale so max == unit; max is a one-row frame cross-joined back
    // (order-exact, no window). The pre-scale frame is shared by two
    // readers (the max aggregate and the rescale projection); without
    // truncation each half-step's subtree would enter the NEXT plan
    // TWICE - the logical tree doubles per half-step, 2^(2*iterations)
    // analysis blowup (a plain persist hung exactly that way when
    // tried, r18). r18: localCheckpoint LAZILY - eager=false truncates
    // the logical plan to a LogicalRDD leaf at build time (no
    // recomputation, no tree growth) but runs NO per-half-step driver
    // job; the whole 2*iterations-half-step recurrence materializes
    // inside the single final action below. The eager per-half-step
    // checkpoint was the op's real wall at local[32]: 2*iterations
    // scheduled jobs for sub-second task time (StageProbe at sf0.1/32:
    // 100 jobs, 0.9 s task time, 5.7 s wall). Every checkpoint's
    // blocks are released after the final materialization.
    val pending = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def rescale(scores: DataFrame, col: String): DataFrame = {
      val s = scores.localCheckpoint(false)
      pending += s
      val m = s.agg(F.max(F.col(col)).as("gr_m"))
      s.crossJoin(broadcast(m))
        .select(F.col("node"),
          when(F.col("gr_m") > 0L, expr(s"($col * ${unit}L) div gr_m"))
            .otherwise(lit(0L)).as(col))
    }
    def authStep(h: DataFrame): DataFrame = rescale(
      eByDst.join(bcast(h.select(F.col("node").as("src"), F.col("h"))), Seq("src"))
        .groupBy(F.col("dst").as("node")).agg(sum(F.col("h")).as("a")), "a")
    def hubStep(a: DataFrame): DataFrame = rescale(
      eBySrc.join(bcast(a.select(F.col("node").as("dst"), F.col("a"))), Seq("dst"))
        .groupBy(F.col("src").as("node")).agg(sum(F.col("a")).as("h")), "h")
    var h = nodes.select(F.col("node"), lit(unit).as("h"))
    var a = h.select(F.col("node"), lit(0L).as("a"))
    var i = 0
    while (i < iterations) {
      a = authStep(h)
      h = hubStep(a)
      i += 1
    }
    // release contract: materialize the two final node-sized frames
    // (ONE execution of the fused recurrence - h's plan contains a's,
    // so a's checkpoint reads its own pre-scale cache), then drop every
    // intermediate cache in one sweep
    if (iterations > 0) {
      h = h.localCheckpoint()
      a = a.localCheckpoint()
    }
    pending.foreach(OpsUtil.unpersistCheckpoint)
    // final joins: h and a are checkpointed LogicalRDDs with unknown
    // stats, which planned as TWO SortMergeJoins (plan audit r18);
    // broadcast them under the same size guard as the round joins
    nodes
      .join(bcast(h), Seq("node"), "left")
      .join(bcast(a), Seq("node"), "left")
      .select(F.col("node"),
        coalesce(F.col("h"), lit(0L)).as("hub_int"),
        coalesce(F.col("a"), lit(0L)).as("auth_int"))
  }

  /** Connected components by alternating large-star / small-star rounds
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) - the giant-component complement to
    * [[connectedComponents]]: min-label propagation needs O(component
    * diameter) rounds, which on a chain- or web-graph-shaped component
    * degenerates to O(n); star contraction converges in O(log n) rounds
    * regardless of diameter, at the cost of heavier per-round shuffles.
    * Same edge-list API, same output contract, interchangeable.
    *
    *   - large-star: every node links its LARGER neighbors to the min of
    *     its closed neighborhood (safe in parallel: only larger nodes
    *     re-point, so no cycles form);
    *   - small-star: every node links its smaller-or-equal closed
    *     neighborhood to its minimum.
    *
    * At the fixpoint the edge set is a disjoint union of stars whose
    * centers are the component minima. Each round is two
    * groupBy-join-distinct passes over the edge set; `localCheckpoint`
    * truncates lineage exactly as the min-label loop does.
    *
    * Output: one row per distinct vertex of `edges`:
    * (id, cluster_id = min vertex id in its component).
    */
  def connectedComponentsStar(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    connectedComponentsStarCounted(edges, srcCol, dstCol)._1

  /** [[connectedComponentsStar]] plus the number of large+small-star
    * rounds executed - the measurable form of the O(log n) claim (spec'd
    * on a long-chain fixture where min-label needs O(n) rounds).
    */
  private[graft] def connectedComponentsStarCounted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String
  ): (DataFrame, Int) = {
    val verts = edges.select(F.col(srcCol).as("id"))
      .union(edges.select(F.col(dstCol).as("id")))
      .distinct()
      .localCheckpoint()
    // canonical orientation (hi, lo); self-loops carry no connectivity
    var e = edges
      .select(greatest(F.col(srcCol), F.col(dstCol)).as("u"),
        least(F.col(srcCol), F.col(dstCol)).as("v"))
      .filter(F.col("u") =!= F.col("v"))
      .distinct()
      .localCheckpoint()
    var rounds = 0
    var converged = e.isEmpty
    while (!converged) {
      rounds += 1
      // large-star: m(u) = min of u's closed neighborhood; every
      // neighbor v > u re-points to m. (v, m) is canonical: v > u >= m.
      val sym = e.union(e.select(F.col("v").as("u"), F.col("u").as("v")))
      val lsMin = sym.groupBy("u").agg(min(F.col("v")).as("mn"))
        .select(F.col("u"), least(F.col("u"), F.col("mn")).as("m"))
      val ls = sym.join(lsMin, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").as("u"), F.col("m").as("v"))
        .distinct()
        .localCheckpoint()
      // small-star: every node u re-points its smaller neighbors AND
      // itself to the min of {u} ∪ smaller-neighbors. ls edges are
      // already (larger, smaller), so the grouping is direct.
      val ssMin = ls.groupBy("u").agg(min(F.col("v")).as("m"))
      val ss = ls.join(ssMin, "u")
        .select(F.col("v").as("u"), F.col("m").as("v"))
        .union(ls.join(ssMin, "u").select(F.col("u"), F.col("m").as("v")))
        .filter(F.col("u") =!= F.col("v"))
        .distinct()
        .localCheckpoint()
      // fixpoint of the full round: the edge set is unchanged
      converged = ss.count() == e.count() && ss.except(e).isEmpty
      e = ss
    }
    // fixpoint = disjoint stars rooted at component minima; isolated
    // vertices (self-loop-only inputs) label themselves
    val labels = e.select(F.col("u").as("vid"), F.col("v").as("cluster_id"))
    val out = verts.join(labels, verts("id") === labels("vid"), "left")
      .select(F.col("id"),
        coalesce(F.col("cluster_id"), F.col("id")).as("cluster_id"))
    (out, rounds)
  }

  /** Per-node triangle participation and local clustering coefficient
    * over an undirected edge list (self-loops and duplicate/reversed
    * edges tolerated).
    *
    * Algorithm: the standard degree-ordered orientation. Each edge is
    * directed from its lower-(degree, id) endpoint to the higher one, so
    * every node's OUT-degree is bounded by ~sqrt(2|E|) regardless of how
    * skewed the raw degree distribution is - the wedge join (out-edge x
    * out-edge on a shared apex) therefore cannot explode on hub nodes,
    * which is exactly what kills the naive id-ordered join on power-law
    * graphs at scale. Each triangle is found exactly once, at its
    * minimum-(degree, id) vertex, then credited to all three corners.
    * Two equi-joins + two aggregations total; everything shuffles on
    * node/pair keys - no cross products.
    *
    * Output: one row per node: (node, degree, n_triangles, clustering)
    * where clustering = 2*t / (deg*(deg-1)) rounded to 6 dp (0.0 for
    * degree < 2).
    */
  def triangleCounts(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .filter(F.col(srcCol).isNotNull && F.col(dstCol).isNotNull &&
        F.col(srcCol) =!= F.col(dstCol))
      .select(least(F.col(srcCol), F.col(dstCol)).as("a"),
        greatest(F.col(srcCol), F.col(dstCol)).as("b"))
      .distinct()
      .localCheckpoint() // reused 3x (degrees, wedges, closure probe)
    val deg = e.select(explode(array(F.col("a"), F.col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))
    // orient by (degree, id): lo -> hi
    val withDeg = e
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("degree", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("degree", "db"), "b")
    val oriented = withDeg.select(
      when(F.col("da") < F.col("db") ||
        (F.col("da") === F.col("db") && F.col("a") < F.col("b")), F.col("a"))
        .otherwise(F.col("b")).as("lo"),
      when(F.col("da") < F.col("db") ||
        (F.col("da") === F.col("db") && F.col("a") < F.col("b")), F.col("b"))
        .otherwise(F.col("a")).as("hi"))
    // wedges around each apex; (x, y) canonical so the closure probe is
    // a single equi-join against the undirected edge set
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        F.col("e1.lo") === F.col("e2.lo") && F.col("e1.hi") < F.col("e2.hi"))
      .select(F.col("e1.lo").as("apex"),
        least(F.col("e1.hi"), F.col("e2.hi")).as("x"),
        greatest(F.col("e1.hi"), F.col("e2.hi")).as("y"))
    val triangles = wedges
      .join(e, wedges("x") === e("a") && wedges("y") === e("b"))
      .select(F.col("apex"), F.col("x"), F.col("y"))
    val perNode = triangles
      .select(explode(array(F.col("apex"), F.col("x"), F.col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg
      .join(perNode, Seq("node"), "left")
      .select(F.col("node"), F.col("degree"),
        coalesce(F.col("n_triangles"), lit(0L)).as("n_triangles"),
        when(F.col("degree") >= 2,
          round(lit(2.0) * coalesce(F.col("n_triangles"), lit(0L)) /
            (F.col("degree") * (F.col("degree") - 1)), 6))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Synchronous label propagation community detection, `rounds` fixed
    * rounds: every node starts labeled with its own id; each round every
    * node adopts the MOST FREQUENT label among its neighbors, ties
    * broken by smallest label. Fixed round count + deterministic
    * tie-break makes the result a pure integer-arithmetic function of
    * the edge list - replayable to an exact hash by any engine (same
    * discipline as [[pageRank]]), unlike the seeded/async variants.
    *
    * Scale shape (the [[pageRank]] discipline): the symmetrized edge
    * list is hash-partitioned on dst ONCE - both per-round aggregations
    * cluster on dst (subset clustering), so they reuse that layout -
    * and under the node-count guard the vertex-sized label frame is
    * broadcast into each round's join: ZERO per-round edge shuffles,
    * only the vote/pick aggregations run, in place. Graphs whose label
    * table is too big to broadcast take the shuffled-join path (still
    * O(rounds) narrow shuffles of (node, lab) pairs, never the edges).
    * The whole fixed-round chain stays ONE lazy plan - each label frame
    * is consumed exactly once, so per-round materialization would only
    * add barriers.
    *
    * Output: (node, label) after `rounds` rounds; nodes are all
    * endpoints of the symmetrized edge list.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int
  ): DataFrame = {
    require(rounds >= 0, s"rounds must be non-negative, got $rounds")
    val sym = edges.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
    val e = sym
      .union(sym.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .repartition(F.col("dst"))
      .distinct()
      .localCheckpoint() // joined every round: materialize ONCE
    // driver off-ramp (pageRank discipline): synchronous integer vote
    // rounds with the orderingFor tie-break run bit-exact on collected
    // arrays below the guard
    if (driverSized(e, "src"))
      return labelPropagationLocal(e, rounds)
    val nodes = e.select(F.col("src").as("node")).distinct().localCheckpoint()
    // row count AND estimated bytes: broadcasting a multi-million-row
    // WIDE label frame every round pressures driver/executor memory
    // long before the row-count guard trips; the label is node-typed
    val smallLabels = SizeGuard.small(SizeGuard.NodeBroadcast, nodes, "node", carriedW = -1)
    // NOTE (r17 probe, VERDICT r16 #3): materializing every third round
    // (pageRank's plan-depth discipline) was tried against the fused
    // 5-round plan and measured NO improvement (4.71 s vs 4.21-4.72 s
    // session band at sf0.1/32) - the isolated-wall bimodality is not
    // plan-depth/analysis-dominated at this scale, so the fused lazy
    // plan (each round's broadcast subtree executes once, zero
    // intermediate materializations) stays.
    // Vote-argmin form (r17): min(struct(-votes, lab)) is a
    // DeclarativeAggregate over a STRUCT buffer, which HashAggregate
    // cannot hold - the plan audit showed a SortAggregate + TWO sorts of
    // the edge-sized vote frame in EVERY round (20 Sort/SortAggregate
    // nodes across 5 rounds). When the label domain is integral,
    // non-negative and < 2^31 - labels are always node ids, so one
    // bounds check of the materialized node frame settles every round -
    // and the vote count fits an int (votes <= |E|, checked), the
    // (votes, lab) argmin packs losslessly into ONE long:
    //   enc = votes * 2^32 + (2^32 - 1 - lab)
    // whose plain MAX (hash-aggregate-friendly) is exactly "most votes
    // first, smallest label on ties". Out-of-bounds / non-integral ids
    // keep the struct-min path.
    val idType = nodes.schema("node").dataType
    val packable = (idType == LongType || idType == IntegerType) && {
      val r = nodes.agg(F.min(F.col("node").cast(LongType)),
        F.max(F.col("node").cast(LongType))).head()
      !r.isNullAt(0) && r.getLong(0) >= 0L && r.getLong(1) < (1L << 31) &&
        e.count() < (1L << 31) // votes bound; e is checkpointed, count cheap
    }
    var labels = nodes.withColumn("lab", F.col("node"))
    for (_ <- 1 to rounds) {
      val prev = labels.withColumnRenamed("node", "src")
      val joined =
        if (smallLabels) e.join(broadcast(prev), "src")
        else e.join(prev, "src")
      // most votes first, smallest label on ties == lexicographic min
      // of (-votes, lab)
      val votes = joined
        .groupBy(F.col("dst").as("node"), F.col("lab"))
        .agg(count(lit(1)).as("votes"))
      labels =
        if (packable)
          votes
            .select(F.col("node"),
              (F.col("votes") * lit(4294967296L) +
                (lit(4294967295L) - F.col("lab").cast(LongType))).as("gr_enc"))
            .groupBy(F.col("node"))
            .agg(F.max(F.col("gr_enc")).as("gr_m"))
            .select(F.col("node"),
              (lit(4294967295L) - F.col("gr_m").bitwiseAND(lit(4294967295L)))
                .cast(idType).as("lab"))
        else
          votes
            .groupBy(F.col("node"))
            .agg(min(struct((-F.col("votes")).as("nv"), F.col("lab").as("lab"))).as("best"))
            .select(F.col("node"), F.col("best.lab").as("lab"))
    }
    labels
  }

  /** k-core of an undirected edge list: the maximal subgraph in which
    * every vertex keeps degree >= k, by iterative peeling - drop all
    * vertices under degree k, recompute degrees, repeat to fixpoint.
    * The density filter similarity/citation graphs use to separate a
    * cohesive cluster core from its low-degree fringe before running
    * anything quadratic on it.
    *
    * Scale notes: each round is one degree aggregate + one vertex-sized
    * convergence probe + two anti-joins keyed on the endpoints - all
    * key-equality, nothing corpus-quadratic; `localCheckpoint` truncates
    * lineage per round and the previous round's blocks are released
    * eagerly (the [[connectedComponents]] loop discipline). Round count
    * is the peel depth of the graph (small for near-dup / kNN graphs:
    * measured 8-12 on the mutual-5NN fixture), never the vertex count;
    * a graph that fails to converge within `maxIter` throws rather than
    * returning a non-core subgraph.
    *
    * Self-loops are dropped (degree conventions differ; a vertex is
    * never its own neighbor here) and duplicate edges collapse, so
    * degrees count distinct neighbors.
    *
    * Output: one row per k-core vertex: (node_id, core_degree = its
    * degree inside the k-core).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIter: Int = 200
  ): DataFrame = kCoreCounted(edges, srcCol, dstCol, k, maxIter)._1

  /** [[kCore]] plus the number of peel rounds executed - the measurable
    * form of the "round count = peel depth, never vertex count" claim
    * (ScaleCheck pins it constant across 1x/10x on a planted
    * fixed-depth gadget graph).
    */
  private[graft] def kCoreCounted(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      maxIter: Int = 200
  ): (DataFrame, Int) = {
    require(k >= 1, s"k must be positive, got $k")
    val sym = edges.select(F.col(srcCol).as("src"), F.col(dstCol).as("dst"))
      .filter(F.col("src").isNotNull && F.col("dst").isNotNull &&
        F.col("src") =!= F.col("dst"))
    // hash on src alone satisfies the distinct's (src, dst) clustering
    // requirement (subset clustering - the pageRank edgesByDst trick),
    // and BHJ anti-joins preserve the stream side's partitioning, so
    // EVERY round's degree aggregate then reuses this one exchange:
    // the per-round broadcast builds become single-stage jobs instead
    // of shuffle+reduce pairs
    var cur = sym
      .union(sym.select(F.col("dst").as("src"), F.col("src").as("dst")))
      .repartition(F.col("src"))
      .distinct()
      .localCheckpoint()
    // Loop discipline reworked for job count (measured: the old
    // materialize-bad / probe-emptiness / materialize-next shape cost
    // ~11 Spark jobs per peel round, ~5 s of pure scheduling at
    // local[32], with bad's unknown checkpoint stats additionally
    // forcing SortMergeJoin anti-joins - 2 exchanges + 2 sorts of the
    // full edge set per round). Now:
    //   - `bad` is never materialized on the common path: it rides the
    //     two anti-joins as a broadcast build (one cheap degree
    //     aggregate per build, read from the checkpointed edge cache);
    //   - the fixpoint probe is FREE: a peeled vertex always owns >= 1
    //     edge row, so the edge count strictly decreases iff bad was
    //     non-empty - comparing the (needed anyway) count of `next`
    //     with the previous round's count detects convergence without a
    //     separate emptiness job;
    //   - the broadcast guard needs no count of bad: |bad| <= |cur
    //     vertices| <= |cur| rows, and the previous round's count is in
    //     hand, so `curCnt` rows at 64 B each is a sound conservative
    //     bound for the node-broadcast guard. Giant early peels (curCnt
    //     over the cap) take the materialized-bad shuffled path as before.
    // Round count semantics unchanged: the round that discovers the
    // fixpoint still increments `it` (ScaleCheck pins 9/9 on the gadget).
    val (cnt0, bytes0) = SizeGuard.measure(cur, "src", carriedW = -1)
    var curCnt = cnt0
    // driver off-ramp (pageRank discipline): the peel loop's per-round
    // degree-aggregate broadcasts + checkpoint + count cost ~10 jobs per
    // round (StageProbe r18: 93 jobs at sf0.1/32); below the guard the
    // identical peel (same round counting, same non-convergence error)
    // runs on collected arrays
    if (orderingFor(cur.schema("src").dataType) != null &&
        SizeGuard.small(SizeGuard.DriverEdges, cnt0, bytes0)) {
      val out = kCoreLocal(cur, k, maxIter)
      OpsUtil.unpersistCheckpoint(cur)
      return out
    }
    var it = 0
    var done = curCnt == 0L
    while (!done) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"kCore did not converge in $maxIter rounds; raise maxIter")
      // symmetrized + deduped: the per-src row count IS the degree.
      // The peeled-vertex set is aliased ONCE (gr_bad) and both
      // anti-joins consume the SAME frame with a join condition
      // instead of a renamed copy: the two broadcast exchanges then
      // canonicalize identically and the second is a ReusedExchange -
      // one degree-aggregate build per round instead of two (r18;
      // the renamed copy planned as a second independent build)
      val bad = cur.groupBy(F.col("src"))
        .agg(count(lit(1)).as("deg"))
        .filter(F.col("deg") < k)
        .select(F.col("src").as("gr_bad"))
      if (SizeGuard.small(SizeGuard.NodeBroadcast, curCnt, curCnt * 64L)) {
        val badB = broadcast(bad)
        val next = cur
          .join(badB, F.col("src") === F.col("gr_bad"), "left_anti")
          .join(badB, F.col("dst") === F.col("gr_bad"), "left_anti")
          .select(F.col("src"), F.col("dst")) // pin column order across rounds
          .localCheckpoint()
        val nextCnt = next.count()
        if (nextCnt == curCnt) { // nothing peeled: bad was empty, cur is the core
          OpsUtil.unpersistCheckpoint(next)
          done = true
        } else {
          OpsUtil.unpersistCheckpoint(cur)
          cur = next
          curCnt = nextCnt
        }
      } else {
        // oversized frontier: materialize + size bad once, then decide
        val badP = bad.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val nBad = badP.count()
        if (nBad == 0L) done = true
        else {
          val badJ =
            if (SizeGuard.small(SizeGuard.NodeBroadcast, nBad, nBad * 64L)) broadcast(badP)
            else badP
          val next = cur
            .join(badJ, F.col("src") === F.col("gr_bad"), "left_anti")
            .join(badJ, F.col("dst") === F.col("gr_bad"), "left_anti")
            .select(F.col("src"), F.col("dst"))
            .localCheckpoint()
          OpsUtil.unpersistCheckpoint(cur)
          cur = next
          curCnt = next.count()
        }
        badP.unpersist(blocking = false)
      }
      it += 1
    }
    // Release contract (same as the other iterative ops here): the
    // returned frame must not pin the loop's checkpoint blocks for the
    // process lifetime. The aggregate is node-sized, so materialize IT
    // and drop the final edge checkpoint - a looping caller holds one
    // small self-contained frame, not the whole peeled edge set.
    val out = cur
      .groupBy(F.col("src").as("node_id")).agg(count(lit(1)).as("core_degree"))
      .localCheckpoint()
    OpsUtil.unpersistCheckpoint(cur)
    (out, it)
  }

  // ---------------------------------------------------------------------
  // Driver off-ramps for tiny graphs (connectedComponents' union-find,
  // generalized to the whole iterative family - r18)
  // ---------------------------------------------------------------------
  //
  // Every iterative op above costs a FIXED number of Spark jobs per
  // round: broadcast builds, checkpoint materializations, convergence
  // probes, AQE stage submissions. Measured at sf0.1/local[32]
  // (StageProbe): web_hits 100 jobs for 0.9 s of task time, graph_kcore
  // 93 jobs, graph_pagerank_tol 59 - the wall is job SCHEDULING, not
  // compute, and it does not shrink with cores (PERF_r17 scaling ratios
  // 0.8-1.03 for this family). Below an explicit size guard the same
  // integer recurrence runs on collected primitive arrays in
  // microseconds with BIT-IDENTICAL results - integer exactness under
  // any evaluation order is precisely these ops' determinism contract -
  // while the corpus-scale edge DERIVATION above the loop always stays
  // in Spark, and graphs over the guard (or with exotic id types) take
  // the distributed loop unchanged. All six ops, connectedComponents
  // included, share one guard: SizeGuard.DriverEdges.

  /** The off-ramp guard: an id type whose driver-side equality and
    * ordering provably match Spark's (the [[orderingFor]] set), and an
    * edge frame within [[SizeGuard.DriverEdges]], each endpoint charged
    * as an id.
    */
  private def driverSized(e: DataFrame, idCol: String): Boolean =
    orderingFor(e.schema(idCol).dataType) != null &&
      SizeGuard.small(SizeGuard.DriverEdges, e, idCol, carriedW = -1)

  /** A collected edge list re-indexed to dense ints. Symmetrization /
    * dedup / null-filtering happened IN SPARK before the collect - this
    * is a faithful copy of the materialized edge frame (columns 0 and 1
    * = src and dst), never a recomputation.
    */
  private final class LocalGraph(val ids: Array[Any], val src: Array[Int], val dst: Array[Int]) {
    def n: Int = ids.length
    def m: Int = src.length
  }

  private def collectGraph(e: DataFrame): LocalGraph = {
    val rows = e.collect()
    val idx = new java.util.HashMap[Any, Integer](rows.length * 2)
    val ids = scala.collection.mutable.ArrayBuffer.empty[Any]
    def of(v: Any): Int = {
      val g = idx.get(v)
      if (g != null) g.intValue
      else { idx.put(v, Integer.valueOf(ids.length)); ids += v; ids.length - 1 }
    }
    val src = new Array[Int](rows.length)
    val dst = new Array[Int](rows.length)
    var i = 0
    while (i < rows.length) { src(i) = of(rows(i).get(0)); dst(i) = of(rows(i).get(1)); i += 1 }
    new LocalGraph(ids.toArray, src, dst)
  }

  private def localResult(df: DataFrame, schema: StructType, rows: Seq[Row]): DataFrame = {
    val spark = df.sparkSession
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** [[connectedComponents]]' contract on collected arrays - one row per
    * distinct vertex, cluster_id = min id of its component under the
    * column type's ordering - by union-find with path halving over the
    * dense ids, keeping the minimum element as each set's root.
    */
  private def connectedComponentsLocal(sym: DataFrame): DataFrame = {
    val g = collectGraph(sym)
    val ord = orderingFor(sym.schema("a").dataType)
    val parent = Array.tabulate(g.n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var k = 0
    while (k < g.m) {
      val ra = find(g.src(k))
      val rb = find(g.dst(k))
      if (ra != rb) {
        if (ord.lt(g.ids(ra), g.ids(rb))) parent(rb) = ra else parent(ra) = rb
      }
      k += 1
    }
    // schema mirrors the distributed loop, nullability included: id is
    // the union of both endpoint columns, and every label expression
    // (the id itself, then least/coalesce over ids) keeps its nullability
    val id = StructField("id", sym.schema("a").dataType,
      sym.schema("a").nullable || sym.schema("b").nullable)
    localResult(sym, StructType(Seq(id, id.copy(name = "cluster_id"))),
      (0 until g.n).map(v => Row(g.ids(v), g.ids(find(v)))))
  }

  /** [[pageRankCounted]]'s integer map on collected arrays - the same
    * recurrence, probe cadence, parity correction and round counting,
    * statement for statement.
    */
  private def pageRankLocal(
      edgesByDst: DataFrame,
      iterations: Int,
      unit: Long,
      tol: Long
  ): (DataFrame, Int) = {
    val g = collectGraph(edgesByDst)
    val n = g.n
    val deg = new Array[Long](n)
    var k = 0
    while (k < g.m) { deg(g.src(k)) += 1L; k += 1 }
    val restart = 15L * unit / 100L
    def round(r: Array[Long]): Array[Long] = {
      val s = new Array[Long](n)
      var e = 0
      while (e < g.m) { s(g.dst(e)) += r(g.src(e)) / deg(g.src(e)); e += 1 }
      val out = new Array[Long](n)
      var v = 0
      while (v < n) { out(v) = restart + (85L * s(v)) / 100L; v += 1 }
      out
    }
    var ranks = Array.fill(n)(unit)
    var prev: Array[Long] = null
    var i = 0
    var converged = false
    while (i < iterations && !converged) {
      val before = ranks
      ranks = round(ranks)
      if (tol >= 0L) {
        if (i % 3 == 2 && i != iterations - 1 && prev != null) {
          var delta = 0L
          var v = 0
          while (v < n) {
            val d = math.abs(ranks(v) - prev(v)); if (d > delta) delta = d; v += 1
          }
          if (delta <= tol) {
            if ((iterations - (i + 1)) % 2 == 1) { ranks = round(ranks); i += 1 }
            converged = true
          }
        }
        prev = before
      }
      i += 1
    }
    // schema mirrors the distributed path exactly, nullability included
    // (the oracle artifacts are parquet, which records optional/required):
    // node inherits the unioned edge frame's nullability; rank_int is the
    // nullable sum arithmetic after >= 1 round, the non-nullable literal
    // unit at iterations = 0
    val srcF = edgesByDst.schema("src")
    val schema = StructType(Seq(
      StructField("node", srcF.dataType, srcF.nullable),
      StructField("rank_int", LongType, nullable = iterations > 0)))
    (localResult(edgesByDst, schema,
      (0 until n).map(v => Row(g.ids(v), ranks(v)))), i)
  }

  /** [[trustRankCore]]'s directed seeded map on collected arrays. */
  private def trustRankLocal(
      e: DataFrame,
      nodes: DataFrame, // (node, gr_boost) - seed marking already ran in Spark
      iterations: Int,
      unit: Long
  ): DataFrame = {
    val g = collectGraph(e)
    val n = g.n
    val outdeg = new Array[Long](n)
    var k = 0
    while (k < g.m) { outdeg(g.src(k)) += 1L; k += 1 }
    val boostRows = nodes.collect()
    val boost = new Array[Long](n)
    val idx = new java.util.HashMap[Any, Integer](n * 2)
    var v = 0
    while (v < n) { idx.put(g.ids(v), Integer.valueOf(v)); v += 1 }
    boostRows.foreach { r =>
      val i = idx.get(r.get(0)); if (i != null) boost(i.intValue) = r.getLong(1)
    }
    var ranks = Array.tabulate(n)(v => if (boost(v) > 0L) unit else 0L)
    var i = 0
    while (i < iterations) {
      val s = new Array[Long](n)
      var e2 = 0
      while (e2 < g.m) {
        val u = g.src(e2)
        if (ranks(u) > 0L) s(g.dst(e2)) += ranks(u) / outdeg(u)
        e2 += 1
      }
      val out = new Array[Long](n)
      var w = 0
      while (w < n) { out(w) = boost(w) + (85L * s(w)) / 100L; w += 1 }
      ranks = out
      i += 1
    }
    // node = the distributed path's src-union-dst node frame; trust_int
    // = coalesce(r, lit 0), non-nullable
    val (srcF, dstF) = (e.schema("src"), e.schema("dst"))
    val schema = StructType(Seq(
      StructField("node", srcF.dataType, srcF.nullable || dstF.nullable),
      StructField("trust_int", LongType, nullable = false)))
    localResult(e, schema, (0 until n).map(v => Row(g.ids(v), ranks(v))))
  }

  /** [[hits]]' mutual recurrence on collected arrays: same per-half-step
    * max-rescale in the same integer arithmetic. Nodes that a half-step's
    * aggregate frame omitted (non-sources for h, non-sinks for a) read 0
    * in the distributed path's final coalesce; the arrays hold the same 0.
    */
  private def hitsLocal(eByDst: DataFrame, iterations: Int, unit: Long): DataFrame = {
    val g = collectGraph(eByDst)
    val n = g.n
    require(n.toLong <= Long.MaxValue / unit / unit,
      s"$n nodes at unit=$unit risks Long overflow in the rescale; " +
        "lower unit (it is a resolution knob)")
    def rescale(x: Array[Long]): Array[Long] = {
      var m = 0L
      var v = 0
      while (v < n) { if (x(v) > m) m = x(v); v += 1 }
      val out = new Array[Long](n)
      v = 0
      while (v < n) { out(v) = if (m > 0L) (x(v) * unit) / m else 0L; v += 1 }
      out
    }
    var h = Array.fill(n)(unit)
    var a = new Array[Long](n)
    var i = 0
    while (i < iterations) {
      val aPre = new Array[Long](n)
      var e = 0
      while (e < g.m) { aPre(g.dst(e)) += h(g.src(e)); e += 1 }
      a = rescale(aPre)
      val hPre = new Array[Long](n)
      e = 0
      while (e < g.m) { hPre(g.src(e)) += a(g.dst(e)); e += 1 }
      h = rescale(hPre)
      i += 1
    }
    // node = src-union-dst; hub/auth = coalesce(_, lit 0), non-nullable
    val (srcF, dstF) = (eByDst.schema("src"), eByDst.schema("dst"))
    val schema = StructType(Seq(
      StructField("node", srcF.dataType, srcF.nullable || dstF.nullable),
      StructField("hub_int", LongType, nullable = false),
      StructField("auth_int", LongType, nullable = false)))
    localResult(eByDst, schema, (0 until n).map(v => Row(g.ids(v), h(v), a(v))))
  }

  /** [[labelPropagation]]'s synchronous vote rounds on collected arrays:
    * most votes first, ties to the smallest label under the id column
    * type's ordering (the [[orderingFor]] comparators, so string labels
    * break ties by UTF-8 bytes exactly as Spark's min does).
    */
  private def labelPropagationLocal(e: DataFrame, rounds: Int): DataFrame = {
    val g = collectGraph(e)
    val n = g.n
    val ord = orderingFor(e.schema("src").dataType)
    // rank of each node id under the type's total order = the tie-break key
    val byId = (0 until n).sortWith((x, y) => ord.lt(g.ids(x), g.ids(y)))
    val rank = new Array[Int](n)
    var p = 0
    while (p < byId.length) { rank(byId(p)) = p; p += 1 }
    // CSR by dst: every round reads each node's in-neighbors
    val off = new Array[Int](n + 1)
    var k = 0
    while (k < g.m) { off(g.dst(k) + 1) += 1; k += 1 }
    var v = 0
    while (v < n) { off(v + 1) += off(v); v += 1 }
    val nbr = new Array[Int](g.m)
    val cur = off.clone()
    k = 0
    while (k < g.m) { val d = g.dst(k); nbr(cur(d)) = g.src(k); cur(d) += 1; k += 1 }
    var lab = Array.tabulate(n)(identity)
    val votes = new java.util.HashMap[Integer, Integer]()
    var r = 0
    while (r < rounds) {
      val next = new Array[Int](n)
      var w = 0
      while (w < n) {
        votes.clear()
        var j = off(w)
        while (j < off(w + 1)) {
          val l = Integer.valueOf(lab(nbr(j)))
          val c = votes.get(l)
          votes.put(l, if (c == null) 1 else c.intValue + 1)
          j += 1
        }
        var bestLab = -1
        var bestVotes = 0
        val it = votes.entrySet().iterator()
        while (it.hasNext) {
          val en = it.next()
          val l = en.getKey.intValue
          val c = en.getValue.intValue
          if (c > bestVotes || (c == bestVotes && rank(l) < rank(bestLab))) {
            bestLab = l; bestVotes = c
          }
        }
        // every node has >= 1 neighbor (it appears in the symmetrized
        // edge list), so bestLab is always set
        next(w) = bestLab
        w += 1
      }
      lab = next
      r += 1
    }
    // node inherits the symmetrized frame's nullability; lab is the
    // nullable vote-argmin output after >= 1 round, the node column
    // itself at rounds = 0
    val srcF = e.schema("src")
    val schema = StructType(Seq(
      StructField("node", srcF.dataType, srcF.nullable),
      StructField("lab", srcF.dataType,
        nullable = if (rounds > 0) true else srcF.nullable)))
    localResult(e, schema, (0 until n).map(v => Row(g.ids(v), g.ids(lab(v)))))
  }

  /** [[kCoreCounted]]'s peel loop on collected arrays - identical round
    * counting (the discovery round increments `it`) and the identical
    * non-convergence error.
    */
  private def kCoreLocal(cur: DataFrame, k: Int, maxIter: Int): (DataFrame, Int) = {
    val g = collectGraph(cur)
    val n = g.n
    val alive = Array.fill(g.m)(true)
    var aliveCnt = g.m.toLong
    var it = 0
    var done = aliveCnt == 0L
    while (!done) {
      if (it >= maxIter)
        throw new IllegalStateException(
          s"kCore did not converge in $maxIter rounds; raise maxIter")
      val deg = new Array[Long](n)
      var e = 0
      while (e < g.m) { if (alive(e)) deg(g.src(e)) += 1L; e += 1 }
      var removed = 0L
      e = 0
      while (e < g.m) {
        if (alive(e) &&
          ((deg(g.src(e)) > 0L && deg(g.src(e)) < k) ||
            (deg(g.dst(e)) > 0L && deg(g.dst(e)) < k))) {
          alive(e) = false; removed += 1L
        }
        e += 1
      }
      if (removed == 0L) done = true else aliveCnt -= removed
      it += 1
    }
    val coreDeg = new Array[Long](n)
    var e = 0
    while (e < g.m) { if (alive(e)) coreDeg(g.src(e)) += 1L; e += 1 }
    // node_id inherits the symmetrized frame's nullability; core_degree
    // = count(lit), non-nullable
    val srcF = cur.schema("src")
    val schema = StructType(Seq(
      StructField("node_id", srcF.dataType, srcF.nullable),
      StructField("core_degree", LongType, nullable = false)))
    (localResult(cur, schema,
      (0 until n).filter(coreDeg(_) > 0L).map(v => Row(g.ids(v), coreDeg(v)))), it)
  }
}
