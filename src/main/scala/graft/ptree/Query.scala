package graft.ptree

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.SizeGuard

/** Fuzzy (Levenshtein) trie search.
  *
  * Spark-native equivalent of `QueryThorLevenshtein` / `QueryRoxieLevenshtein`
  * (/root/reference/PrefixTree.ecl:314-446, 459-588), with two physical modes
  * mirroring the reference's Thor/Roxie split:
  *
  *   - '''broadcast mode''' (default when the trie fits): the trie is
  *     collected once into a flat [[TrieIndex]], broadcast, and a
  *     SINGLE `mapPartitions` over the query dataset runs the whole pruned
  *     traversal per query (Kernels.searchIndex). Zero per-iteration Spark jobs,
  *     zero shuffles - the honest analog of Roxie's indexed point lookups
  *     (ecl:655), and the fast path at any query-set size. A distinct-word
  *     dictionary trie is tiny relative to a 100 TB corpus (dedup happens at
  *     build), so this covers most real corpora.
  *
  *   - '''partition-local mode''' (tries too large to collect, see
  *     [[queryJoin]]): each `compute_node` group of the trie compiles into
  *     its own [[TrieIndex]] in its task, and every query is searched in
  *     every group with the same walk.
  *
  * [[selfJoin]] searches a dictionary against itself in either mode, its
  * own end-caps being the queries.
  *
  * Both modes run the same kernel with the same two prunes as the
  * reference's LOOP (branch-and-bound on the DP row-min, ecl:434; subtree
  * length window, ecl:440-441 - kept separate per the author's
  * double-count warning, SURVEY.md B.q3).
  */
object Query {

  /** Output schema: the reference's Thor projection (ecl:445) -
    * (query_string, node = matched word, final_distance) - plus
    * `n_occurrences`, the matched word's corpus multiplicity (the
    * reference expresses multiplicity as repeated end-cap rows,
    * ecl:205-208; callers wanting that shape filter/explode on the
    * count, callers wanting dedup semantics just drop the column).
    */
  def queryBatch(
      queries: DataFrame,
      col: String,
      trie: Dataset[PTNode],
      maxDist: Int
  ): DataFrame = {
    // persist across the mode decision: the sizing agg + the search would
    // otherwise run trie construction twice. Both modes consume the trie
    // before returning (the collect, or the checkpointed partition-local
    // search), so unpersisting on return is safe.
    val t = trie.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (SizeGuard.small(SizeGuard.TrieIndex, trieStats(t).nodes, estimatedIndexBytes(t)))
        queryBroadcast(queries, col, t, maxDist)
      else queryJoin(queries, col, t, maxDist).localCheckpoint()
    } finally t.unpersist()
  }

  /** The trie searched against itself: every unordered pair of distinct
    * end-cap words within `maxDist` edits, exactly once, as
    * (query_string, node, final_distance). Which word of a pair lands in
    * which column is unspecified. This is the self-join cut of
    * [[Kernels.searchIndex]]: each end-cap searches only the end-caps
    * after its own pre-order position, so no pair is found twice and no
    * word matches itself. The queries are the trie's own end-caps, so
    * there is no query frame and no query-side shuffle.
    *
    * The same [[SizeGuard.TrieIndex]] site as [[queryBatch]] picks the
    * side:
    *   - '''small''': the compiled arrays are broadcast and
    *     `defaultParallelism` tasks each take the end-caps dealt
    *     round-robin in pre-order (early end-caps search more of the
    *     trie), with no shuffle at all;
    *   - '''large''': the partition-local cogroup of [[queryJoin]] with
    *     the end-caps as queries. An end-cap goes only to the groups whose
    *     `compute_node` is at least its own: in a higher group it searches
    *     uncut, in its own group it cuts at its own position, so a pair
    *     across two groups is found from the lower one only.
    *
    * The trie is read by the size check and by the search: pass a
    * persisted or checkpointed one.
    */
  def selfJoin(trie: Dataset[PTNode], maxDist: Int): DataFrame =
    if (SizeGuard.small(SizeGuard.TrieIndex, trieStats(trie).nodes, estimatedIndexBytes(trie)))
      selfJoinBroadcast(trie, maxDist)
    else selfJoinLocal(trie, maxDist)

  /** [[selfJoin]]'s small side: one broadcast, one `mapPartitions`. */
  private[ptree] def selfJoinBroadcast(trie: Dataset[PTNode], maxDist: Int): DataFrame = {
    val spark = trie.sparkSession
    import spark.implicits._
    val slices = spark.sparkContext.defaultParallelism
    val bc = spark.sparkContext.broadcast(childrenIndex(trie).flat)
    spark.range(0, slices, 1, slices).as[Long]
      .mapPartitions { it =>
        val idx = new TrieIndex(bc.value)
        val f = idx.flat
        it.flatMap { slice =>
          Iterator.range(0, f.nodes).filter(f.isWord(_)).zipWithIndex
            .collect { case (i, k) if k % slices == slice => i }
            .flatMap { i =>
              val q = f.words(i)
              Kernels.searchIndex(idx, q, maxDist, i)._1.map { case (w, d, _) => (q, w, d) }
            }
        }
      }
      .toDF("query_string", "node", "final_distance")
  }

  /** [[selfJoin]]'s large side: each group compiles once in its task. */
  private[ptree] def selfJoinLocal(trie: Dataset[PTNode], maxDist: Int): DataFrame = {
    val spark = trie.sparkSession
    import spark.implicits._
    val groups = trie.select($"compute_node".as("compute_node")).distinct()
    val caps = trie.filter($"is_word").select($"node", $"id", $"compute_node".as("own"))
    val perGroup = caps.join(broadcast(groups), groups("compute_node") >= caps("own"))
      .groupBy(groups("compute_node")).as[Int, (String, Long, Int, Int)]
    trie.groupBy($"compute_node").as[Int, PTNode]
      .cogroup(perGroup) { (group, rows, qs) =>
        if (qs.isEmpty) Iterator.empty
        else {
          val idx = compileGroup(group, rows, SizeGuard.TrieIndex.maxBytes)
          qs.flatMap { case (q, id, own, _) =>
            val cut = if (own == group) idx.positionOf(id) else -1
            Kernels.searchIndex(idx, q, maxDist, cut)._1.map { case (w, d, _) => (q, w, d) }
          }
        }
      }
      .toDF("query_string", "node", "final_distance")
  }

  // -------------------------------------------------------------------
  // trie sizing: computed ONCE per trie, never per query call
  // -------------------------------------------------------------------

  /** Stats cache, keyed on the trie's analyzed-plan semantic hash: a
    * trie READ back from a persisted index ([[PrefixTree.read]] /
    * [[PrefixTree.readTable]]) registers its sidecar/table-property stats
    * here, and a trie built in-session computes them at most once - so
    * [[queryBatch]]'s mode selection costs ZERO extra jobs on the paths
    * that used to pay a per-call sizing aggregate (the round-12 pt_*
    * bench regressions). Staleness (same plan, changed underlying files)
    * only mis-sizes a mode choice: both modes answer identically.
    *
    * Least-recently-used, [[StatsCacheEntries]] entries: a trie over a
    * `localCheckpoint` (every `fuzzyDedup` call) is a new plan each
    * time, so an unbounded cache grew by one entry per call. A miss
    * costs one aggregate.
    */
  private[ptree] final val StatsCacheEntries = 32

  private val statsCache = new java.util.LinkedHashMap[Int, TrieStats](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[Int, TrieStats]): Boolean =
      size > StatsCacheEntries
  }

  private def cached(k: Int): TrieStats = statsCache.synchronized(statsCache.get(k))

  private def cache(k: Int, st: TrieStats): Unit = statsCache.synchronized(statsCache.put(k, st))

  private[ptree] def statsCacheSize: Int = statsCache.synchronized(statsCache.size)

  private def cacheKey(trie: Dataset[PTNode]): Int =
    trie.queryExecution.analyzed.semanticHash()

  /** Register externally-known stats (a persisted index's sidecar) for
    * a trie plan. Called by [[PrefixTree.read]]/[[PrefixTree.readTable]].
    */
  private[ptree] def registerStats(trie: Dataset[PTNode], st: TrieStats): Unit =
    cache(cacheKey(trie), st)

  /** The trie's [[TrieStats]]: cache hit, or ONE single-pass aggregate
    * (count, total edge chars) computed and cached. On a trie the caller
    * just persisted, the agg doubles as the cache materialization - no
    * wasted pass either way.
    */
  def trieStats(trie: Dataset[PTNode]): TrieStats = {
    val k = cacheKey(trie)
    val hit = cached(k)
    if (hit != null) hit
    else {
      val st = computeTrieStats(trie)
      cache(k, st)
      st
    }
  }

  /** The uncached one-pass stats aggregate. [[PrefixTree.writeIndexed]]
    * runs this over the just-written files (a cheap columnar scan) to
    * build the sidecar.
    */
  private[ptree] def computeTrieStats(trie: Dataset[PTNode]): TrieStats = {
    val r = trie.toDF()
      .agg(count(lit(1)), coalesce(sum(length(column("node"))), lit(0L))).head()
    TrieStats(r.getLong(0), r.getLong(1))
  }

  /** Estimated JVM heap for collecting the children index - the
    * quantity the broadcast decision must bound. The peak is the
    * transient `Array[PTNode]` of [[childrenIndex]]'s collect, before it
    * compiles to the flat [[TrieIndex]] (~41 B/node + 4 B per edge code
    * point) that is broadcast and searched. A row COUNT is the wrong
    * guard: 20M nodes with 8-char edges is ~3 GB, with 200-char
    * document-shard payloads it is ~10 GB. Model: per collected node, the
    * PTNode object (header 16 + 3 longs + 3 ints + bool + padding +
    * String ref ≈ 72 B) plus its array slot, the String header and
    * collect scratch (≈ 56 B) → 128 B fixed, plus the String payload at
    * 2 B/char (UTF-16 worst case; compact strings halve it for ASCII).
    * Served from [[trieStats]] - a persisted index answers with no job at
    * all. The [[SizeGuard.TrieIndex]] limit (512 MB) leaves a multi-GB
    * driver comfortable: the collect, the compiled index and its
    * serialized broadcast blocks. Above it, the same model bounds each
    * partition-local group ([[compileGroup]]).
    */
  private[ptree] def estimatedIndexBytes(trie: Dataset[PTNode]): Long = {
    val st = trieStats(trie)
    indexBytes(st.nodes, st.chars)
  }

  private def indexBytes(nodes: Long, chars: Long): Long = nodes * 128L + 2L * chars

  /** Best-`k` matches per query within `maxDist`: the reference's
    * fixed-threshold query composed with a rank window - composition,
    * not a new physical operator, because `Window` + `row_number`
    * already express the semantics (and Catalyst pushes the rank limit
    * into a per-partition top-k). Ties break by (distance, node) so the
    * result is deterministic and oracle-comparable.
    */
  def fuzzyTopK(
      queries: DataFrame,
      col: String,
      trie: Dataset[PTNode],
      maxDist: Int,
      k: Int
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("query_string")
      .orderBy(column("final_distance").asc, column("node").asc)
    // distinct first: a duplicated query string would rank its duplicated
    // match rows into adjacent slots and silently push genuine
    // runners-up past k ("best k per distinct query" is the semantics)
    queryBatch(queries.select(column(col)).distinct(), col, trie, maxDist)
      .withColumn("rank", row_number().over(w))
      .filter(column("rank") <= k)
      .select(
        column("query_string"),
        column("node"),
        column("final_distance").cast(IntegerType).as("final_distance"),
        column("rank").cast(IntegerType).as("rank"))
  }

  /** Single-string query (reference's Roxie macro, ecl:459-588): pure
    * driver-side traversal over a prebuilt children index - no Spark jobs
    * at all once the index is built (see [[childrenIndex]]). The index is
    * searched compiled: a [[TrieIndex]] as is, any other children Map
    * compiled on every call.
    */
  def queryOne(
      query: String,
      children: Map[Long, Array[PTNode]],
      maxDist: Int
  ): Seq[(String, Int)] =
    Kernels.searchIndex(TrieIndex.of(children), query, maxDist)._1
      .map { case (w, d, _) => (w, d) }.toSeq

  /** Collect a trie into the serving-side index, compiled: a
    * `Map[parent_id -> children]` held as flat arrays ([[TrieIndex]]).
    */
  def childrenIndex(trie: Dataset[PTNode]): TrieIndex = TrieIndex(trie.collect())

  /** Serving-side autocomplete: all dictionary words extending `prefix`,
    * with their corpus multiplicity, by O(|prefix| + |answer|) trie
    * descent over the compiled children index (Kernels.prefixIndex;
    * compiled per call unless it is a [[TrieIndex]]) - no Spark jobs.
    * The batch-shaped equivalent is an honest codegen'd scan:
    * `trie.filter(_.is_word).filter(startswith(col("node"), lit(prefix)))`
    * - at batch granularity Spark's scan beats pointer chasing, so the
    * trie descent is reserved for the serving path where per-call latency
    * matters.
    */
  def prefixOne(
      prefix: String,
      children: Map[Long, Array[PTNode]]
  ): Seq[(String, Long)] =
    Kernels.prefixIndex(TrieIndex.of(children), prefix).toSeq

  /** Broadcast mode: the trie's compiled [[TrieIndex]] arrays broadcast once and
    * searched per query in ONE `mapPartitions`; the optional accumulators
    * sum the kernel's [[SearchStats]] (nodes examined, DP cells). Null
    * query strings match nothing.
    */
  def queryBroadcast(
      queries: DataFrame,
      col: String,
      trie: Dataset[PTNode],
      maxDist: Int,
      visitCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      cellCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val strings = queryStrings(queries, col)
      // spread the query set over every core: the input's file partitioning
      // (often 1 block) would otherwise serialize the whole batch
      .repartition(queries.sparkSession.sparkContext.defaultParallelism)
    searchBroadcast(strings, childrenIndex(trie), maxDist, visitCounter, cellCounter)
  }

  /** The broadcast search step of [[queryBroadcast]] and
    * `StreamOps.streamFuzzyMatch`: `index`'s arrays are broadcast once,
    * each partition of `strings` (one `query_string` column) compiles
    * them into a [[TrieIndex]] and searches every string in it. The
    * optional accumulators sum the kernel's [[SearchStats]]. Output:
    * (query_string, node, final_distance, n_occurrences).
    */
  private[graft] def searchBroadcast(
      strings: DataFrame,
      index: TrieIndex,
      maxDist: Int,
      visitCounter: Option[org.apache.spark.util.LongAccumulator] = None,
      cellCounter: Option[org.apache.spark.util.LongAccumulator] = None
  ): DataFrame = {
    val spark = strings.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.flat)
    strings
      .as[String]
      .mapPartitions { it =>
        val idx = new TrieIndex(bc.value)
        it.flatMap { q =>
          val (hits, stats) = Kernels.searchIndex(idx, q, maxDist)
          visitCounter.foreach(_.add(stats.nodes))
          cellCounter.foreach(_.add(stats.cells))
          hits.map { case (w, d, c) => (q, w, d, c) }
        }
      }
      .toDF("query_string", "node", "final_distance", "n_occurrences")
  }

  /** `queries`' `col` as the non-null strings both batch modes and
    * `StreamOps.streamFuzzyMatch` search.
    */
  private[graft] def queryStrings(queries: DataFrame, col: String): DataFrame =
    queries.select(column(col).cast(StringType).as("query_string"))
      .filter(column("query_string").isNotNull)

  /** Partition-local mode: [[PrefixTree.create]] builds each partition's
    * subtree closed under its own `compute_node` (the reference's per-node
    * tries, ecl:172-181, 273), so the trie groups on that column, each group
    * compiles in its task into a [[TrieIndex]] ([[compileGroup]]), every
    * query is sent to every group and searched with broadcast mode's walk,
    * and the groups' answers union (REPOSE's shape, PAPERS.md). Identical
    * words share a group, so a query row gets each match once, as in
    * broadcast mode. A trie bucketed on `compute_node`
    * ([[PrefixTree.writeIndexedTable]]) is read with no trie-side exchange:
    * only the (query x group) rows shuffle. Null query strings match
    * nothing.
    *
    * @param withPath add the reference's `cumulative_nodes` debug column
    *   (ecl:405-406, 424-425) as `path`: at an end-cap the edge labels
    *   walked spell the matched word, so `path` is `node`.
    */
  def queryJoin(
      queries: DataFrame,
      col: String,
      trie: Dataset[PTNode],
      maxDist: Int,
      withPath: Boolean = false
  ): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    // the alias gives the query side's key its own attribute: cogroup
    // needs both keys of one name and type, not one attribute
    val groups = trie.select($"compute_node".as("compute_node")).distinct()
    val perGroup = queryStrings(queries, col).crossJoin(broadcast(groups))
      .groupBy(groups("compute_node")).as[Int, (String, Int)]
    val out = trie.groupBy($"compute_node").as[Int, PTNode]
      .cogroup(perGroup) { (group, rows, qs) =>
        if (qs.isEmpty) Iterator.empty
        else {
          val idx = compileGroup(group, rows, SizeGuard.TrieIndex.maxBytes)
          qs.flatMap { case (q, _) =>
            Kernels.searchIndex(idx, q, maxDist)._1.map { case (w, d, c) => (q, w, d, c) }
          }
        }
      }
      .toDF("query_string", "node", "final_distance", "n_occurrences")
    if (withPath) out.withColumn("path", $"node") else out
  }

  /** One `compute_node` group's rows compiled into a [[TrieIndex]]. A group
    * whose [[indexBytes]] estimate exceeds `maxBytes` fails with its size
    * instead: a task cannot hold it, and skipping it would answer partially.
    * Rows past the limit are counted, not kept.
    */
  private[ptree] def compileGroup(group: Int, rows: Iterator[PTNode], maxBytes: Long): TrieIndex = {
    val kept = scala.collection.mutable.ArrayBuffer.empty[PTNode]
    var nodes, chars = 0L
    rows.foreach { r =>
      nodes += 1
      chars += r.node.length
      if (indexBytes(nodes, chars) <= maxBytes) kept += r
    }
    val bytes = indexBytes(nodes, chars)
    if (bytes > maxBytes) throw new IllegalStateException(
      s"trie group compute_node=$group has $nodes nodes, an estimated $bytes B index over " +
        s"the $maxBytes B limit: build the trie with a longer prefixLen or more numPartitions")
    TrieIndex(kept.toArray)
  }
}
