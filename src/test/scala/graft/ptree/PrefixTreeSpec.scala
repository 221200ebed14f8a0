package graft.ptree

import graft.SparkSpec
import graft.ops.SizeGuard
import org.apache.spark.sql.functions._

/** End-to-end Spark tests: create + query vs Spark's own levenshtein()
  * brute-force join (independent math, same oracle family as DuckDB's).
  */
class PrefixTreeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dictDf = Seq(
    "dog", "drop", "door", "doors", "cat", "category", "a", "ab", "abc",
    "kaminski", "kaminsky", "bayliss", "baylis", "muharemagic", "dog ", " cat", ""
  ).toDF("w")

  private lazy val trie = PrefixTree.create(dictDf, "w", prefixLen = 2, numPartitions = 4)

  /** Project a query result down to the reference's 3-column shape. */
  private def rows3(df: org.apache.spark.sql.DataFrame): Set[(String, String, Int)] =
    df.select("query_string", "node", "final_distance")
      .as[(String, String, Int)].collect().toSet

  /** `body` once per side of the queryJoin chain guard: broadcast hash
    * join, then the parent_id-partitioned join (the path of a trie too
    * big to broadcast).
    */
  private def bothChains[A](body: => A): Seq[A] =
    Seq(true, false).map(side => SizeGuard.forcing(SizeGuard.TrieChain -> side)(body))

  private def brute(queries: Seq[String], k: Int): Set[(String, String, Int)] = {
    val words = dictDf
      .select(trim($"w").as("word")).filter($"word" =!= "").distinct()
    queries.toDF("q")
      .crossJoin(words)
      .withColumn("d", levenshtein($"q", $"word"))
      .filter($"d" <= k)
      .as[(String, String, Int)].collect().toSet
  }

  test("create: end-caps == trimmed distinct words (multi-partition)") {
    val caps = trie.filter(_.is_word).map(_.node).collect().toSet
    val expect = dictDf.select(trim($"w")).as[String].collect().toSet - ""
    assert(caps == expect)
  }

  test("create: parent links resolve within partition forests") {
    val nodes = trie.collect()
    val byId = nodes.map(n => n.id -> n).toMap
    assert(byId.size == nodes.length, "ids globally unique across partitions")
    assert(nodes.forall(n => n.parent_id == 0 || byId.contains(n.parent_id)))
  }

  test("queryBroadcast matches brute-force levenshtein join") {
    val queries = Seq("dog", "doer", "kaminski", "baylizz", "zzz", "ab")
    for (k <- 0 to 2) {
      val got = rows3(Query.queryBroadcast(queries.toDF("q"), "q", trie, k))
      assert(got == brute(queries, k), s"k=$k")
    }
  }

  test("queryBatch auto mode picks each side of the threshold correctly") {
    val queries = Seq("dog", "kaminski").toDF("q")
    val expect = rows3(Query.queryBroadcast(queries, "q", trie, 1))
    val viaBroadcast = rows3(Query.queryBatch(queries, "q", trie, 1)) // trie << the index limit
    // forced join mode, with either chain join (an index over its limit
    // implies a trie over the chain broadcast's limit in production)
    val viaJoin = bothChains(SizeGuard.forcing(SizeGuard.TrieIndex -> false) {
      rows3(Query.queryBatch(queries, "q", trie, 1))
    })
    assert(viaBroadcast == expect && viaJoin.forall(_ == expect))
  }

  test("broadcast sizing is byte-based: wide payloads route to join mode at equal row count") {
    // same number of nodes, 100x the string payload: a row-count guard
    // sees identical tries; the byte estimate must separate them
    val narrow = PrefixTree.create(Seq("aaa", "bbb", "ccc").toDF("w"), "w", 1, 2)
    val wide = PrefixTree.create(
      Seq("a" * 300, "b" * 300, "c" * 300).toDF("w"), "w", 1, 2)
    assert(narrow.count() == wide.count(), "spec premise: equal node counts")
    val nb = Query.estimatedIndexBytes(narrow)
    val wb = Query.estimatedIndexBytes(wide)
    assert(wb > nb * 4, s"estimate must scale with payload bytes (narrow=$nb wide=$wb)")
    // wide routed to join mode and narrow to broadcast mode both still
    // return the right answer
    val q = Seq("a" * 300).toDF("q")
    val got = SizeGuard.forcing(SizeGuard.TrieIndex -> false) {
      rows3(Query.queryBatch(q, "q", wide, 0))
    }
    assert(got == Set(("a" * 300, "a" * 300, 0)))
    val q2 = Seq("aaa").toDF("q")
    assert(SizeGuard.forcing(SizeGuard.TrieIndex -> true) {
      rows3(Query.queryBatch(q2, "q", narrow, 0))
    } == Set(("aaa", "aaa", 0)))
  }

  test("trieStats: sidecar/table-property stats match a fresh compute; queries run off them") {
    // the per-call sizing aggregate moved to create/read time: writeIndexed
    // writes a _graft_stats sidecar, read() registers it, and trieStats
    // answers from the cache - verify the registered stats EQUAL a fresh
    // aggregate over the same data (a wrong sidecar would silently
    // mis-route strategy choices)
    val dir = java.nio.file.Files.createTempDirectory("pt_stats").toString
    PrefixTree.writeIndexed(trie, dir)
    val back = PrefixTree.read(spark, dir)
    val cached = Query.trieStats(back) // must be the registered sidecar row
    val fresh = Query.computeTrieStats(back)
    assert(cached == fresh, s"sidecar=$cached fresh=$fresh")
    assert(cached.nodes == trie.count())
    // the parquet listing must NOT pick the sidecar up as trie rows
    assert(back.count() == trie.count())
    // bucketed-table route: stats ride the catalog as a table property
    PrefixTree.writeIndexedTable(trie, "graft_pt_stats_spec", buckets = 2)
    val backT = PrefixTree.readTable(spark, "graft_pt_stats_spec")
    assert(Query.trieStats(backT) == fresh)
    // and the queries over the read-back index still answer correctly
    val q = Seq("kaminski").toDF("q")
    assert(rows3(Query.queryBatch(q, "q", back, 1)) ==
      rows3(Query.queryBroadcast(q, "q", trie, 1)))
  }

  test("the index's stats sidecar costs no Spark job on read") {
    // read + trieStats run exactly the jobs of a plain parquet read of the
    // index: the sidecar lookup and the sizing are both job-free
    val dir = java.nio.file.Files.createTempDirectory("pt_sidecar").toString
    PrefixTree.writeIndexed(trie, dir)
    val (_, plainJobs) = countJobs(spark.read.parquet(dir))
    val (st, jobs) = countJobs(Query.trieStats(PrefixTree.read(spark, dir)))
    assert(jobs == plainJobs, s"read + trieStats ran $jobs jobs, a plain read $plainJobs")
    assert(st == Query.computeTrieStats(PrefixTree.read(spark, dir)))
  }

  test("trieStats cache is a bounded LRU: more tries than the bound, and a read index still hits") {
    // every fuzzyDedup call sizes a trie over a fresh localCheckpoint, a
    // new plan each time: the cache must stop at its bound
    val n = Query.StatsCacheEntries + 8
    for (i <- 1 to n)
      Query.trieStats(PrefixTree.create(Seq(s"w$i", s"v$i").toDF("w"), "w", numPartitions = 1))
    assert(Query.statsCacheSize == Query.StatsCacheEntries)
    val dir = java.nio.file.Files.createTempDirectory("pt_lru").toString
    PrefixTree.writeIndexed(trie, dir)
    val back = PrefixTree.read(spark, dir)
    val (st, jobs) = countJobs(Query.trieStats(back))
    assert(jobs == 0, s"trieStats after read ran $jobs jobs: the registered sidecar was evicted")
    assert(st == Query.computeTrieStats(back))
    assert(Query.statsCacheSize == Query.StatsCacheEntries)
  }

  test("queryJoin (loop mode) matches broadcast mode") {
    val queries = Seq("dog", "doer", "kaminski", "ab").toDF("q")
    val a = Query.queryBroadcast(queries, "q", trie, 2)
      .as[(String, String, Int, Long)].collect().toSet
    val b = bothChains(Query.queryJoin(queries, "q", trie, 2)
      .as[(String, String, Int, Long)].collect().toSet)
    assert(b.forall(_ == a)) // including the n_occurrences column
  }

  test("queryOne (serving path) without Spark jobs") {
    val idx = Query.childrenIndex(trie)
    assert(Query.queryOne("kaminski", idx, 1).toSet == Set(("kaminski", 0), ("kaminsky", 1)))
    assert(Query.queryOne("zzzzz", idx, 2).isEmpty)
  }

  test("join mode matches broadcast mode on the real name corpus") {
    // the 100 TB path (trie too big to collect) on realistic data: deep
    // shared prefixes, multi-iteration driver loop
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val t = PrefixTree.create(cust, "c_name", prefixLen = 12)
    val q = cust.limit(12)
      .select(expr("concat(substr(c_name,1,length(c_name)-1),'X')").as("q"))
    val a = rows3(Query.queryBroadcast(q, "q", t, 1))
    val b = bothChains(rows3(Query.queryJoin(q, "q", t, 1)))
    assert(b.forall(_ == a) && a.nonEmpty)
  }

  test("branch-and-bound visits far fewer nodes than brute-force comparisons") {
    // real corpus shape: all customer names at sf0.01 (1500 names; at
    // sf0.001's 150 names every word is within ~3 edits of every other,
    // so k=2 pruning legitimately cannot discard subtrees)
    val cust = spark.read.parquet("/root/testdata/sf0.01/customer.parquet")
    val t = PrefixTree.create(cust, "c_name", prefixLen = 12)
    val dictSize = t.filter(_.is_word).count()
    val q = cust.limit(30).select(expr("concat(substr(c_name,1,length(c_name)-1),'X')").as("q"))
    val nodesAcc = spark.sparkContext.longAccumulator("pt.nodesVisited")
    val cellsAcc = spark.sparkContext.longAccumulator("pt.dpCells")
    val res = Query.queryBroadcast(q, "q", t, 2, Some(nodesAcc), Some(cellsAcc))
    res.count() // action populates the accumulators
    // apples-to-apples unit: DP cells. Brute force fills a full
    // (|q|+1)x(|w|+1) matrix per (query, word) pair; names are 18 chars.
    val bruteCells = dictSize * 30L * 19L * 19L
    assert(cellsAcc.value > 0 && nodesAcc.value > 0)
    assert(cellsAcc.value < bruteCells / 5,
      s"trie ${cellsAcc.value} cells vs brute $bruteCells - pruned DP should cut work substantially")
  }

  test("level-1 frontier join keeps its equi-key: hash join, never nested-loop") {
    // a foldable root node_id would be constant-propagated out of the
    // join condition, downgrading level 1 to a BroadcastNestedLoopJoin
    // that evaluates the window predicates against EVERY root edge -
    // build the init frontier the way queryJoin does and pin the plan
    val frontier0 = Seq("dog", "doors").toDF("q")
      .select($"q".cast("string").as("query_string"))
      .withColumn("qlen", length($"query_string"))
      .withColumn("node_id", pmod($"qlen", lit(1)).cast("long"))
      .withColumn("state", concat(sequence(lit(0), length($"query_string")), array(lit(0))))
      .withColumn("depth", lit(0))
    val joined = Query.frontierJoin(frontier0, broadcast(trie.toDF()), maxDist = 1)
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"level-1 must plan as a hash join:\n${plan.take(1500)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"level-1 must not fall back to a nested loop:\n${plan.take(1500)}")
  }

  test("deep-trie chain compiles: no 64KB codegen overflow (fallback disabled)") {
    // long words with an early branch force the maximum unrolled chain;
    // with spark.sql.codegen.fallback=false a Janino "code grows beyond
    // 64 KB" failure THROWS instead of silently running the whole
    // traversal interpreted - which is exactly what an unfenced chain
    // did at ~8 fused levels
    // a branch at EVERY depth defeats path compression, so each level
    // is its own 1-char edge and the chain unrolls to the 24-level cap
    val words = (2 to 28).flatMap(l => Seq("x" * l, "x" * (l - 1) + "y")).distinct
    val deep = PrefixTree.create(words.toDF("w"), "w", prefixLen = 1, numPartitions = 2)
    val queries = Seq("x" * 24 + "Z", "x" * 9 + "yy").toDF("q")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // queryJoin directly: queryBatch would route this tiny trie to the
      // collected-DFS broadcast path, which has no codegen chain at all
      val got = bothChains(rows3(Query.queryJoin(queries, "q", deep, 2)))
      val expect = queries
        .crossJoin(words.toDF("word"))
        .withColumn("d", levenshtein($"q", $"word"))
        .filter($"d" <= 2)
        .as[(String, String, Int)].collect().toSet
      assert(got.forall(_ == expect))
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }

  test("writeIndexed/read roundtrip: indexed trie answers identically") {
    val dir = java.nio.file.Files.createTempDirectory("pt_index").toString
    PrefixTree.writeIndexed(trie, dir, buckets = 4)
    val back = PrefixTree.read(spark, dir)
    val queries = Seq("dog", "kaminski", "ab").toDF("q")
    val a = rows3(Query.queryBroadcast(queries, "q", trie, 2))
    val b = rows3(Query.queryBroadcast(queries, "q", back, 2))
    val c = rows3(Query.queryJoin(queries, "q", back, 2))
    assert(a == b && a == c)
  }

  test("writeIndexedTable: bucketed trie joins on parent_id with no trie-side shuffle") {
    PrefixTree.writeIndexedTable(trie, "pt_spec_bucketed", buckets = 4)
    try {
      val back = PrefixTree.readTable(spark, "pt_spec_bucketed")
      // correctness through the catalog roundtrip
      val queries = Seq("dog", "kaminski", "ab").toDF("q")
      val a = rows3(Query.queryBroadcast(queries, "q", trie, 2))
      val b = rows3(Query.queryBroadcast(queries, "q", back, 2))
      assert(a == b)
      // the BUILDINDEX point: an equi-join on parent_id reads buckets
      // directly - only the probe side shuffles (disable broadcast so
      // the join strategy is partitioning-sensitive)
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val frontier = Seq(0L, 1L).toDF("node_id")
        val plan = frontier.join(back.toDF(), $"node_id" === $"parent_id")
          .queryExecution.executedPlan.toString
        val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
        assert(exchanges == 1, s"bucketed side must not re-shuffle; plan:\n$plan")
      }
    } finally spark.sql("DROP TABLE IF EXISTS pt_spec_bucketed")
  }

  test("prefixLen <= 0 (whole-word hashing, skew mode) answers identically") {
    val t = PrefixTree.create(dictDf, "w", prefixLen = 0, numPartitions = 4)
    val queries = Seq("dog", "doer", "kaminski", "ab")
    val got = rows3(Query.queryBroadcast(queries.toDF("q"), "q", t, 2))
    assert(got == brute(queries, 2))
  }

  test("join mode: per-iteration join shuffles only the frontier side") {
    // the 100 TB property behind queryJoin's one-time trie repartition:
    // each loop iteration's equi-join must reuse the trie's cached
    // hash partitioning on parent_id and exchange ONLY the frontier
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val parts = spark.sessionState.conf.numShufflePartitions
      val t = trie.toDF().repartition(parts, $"parent_id")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        t.count() // materialize: an unexecuted AQE cache plan reports
        // UnknownPartitioning and would force a defensive re-shuffle
        val frontier = Seq(("dog", 0L)).toDF("query_string", "node_id")
          .withColumn("qlen", length($"query_string"))
          .withColumn("state",
            concat(sequence(lit(0), length($"query_string")), array(lit(0))))
          .withColumn("depth", lit(0))
        val plan = Query.frontierJoin(frontier, t, 2)
          .queryExecution.executedPlan.toString
        // count only exchanges ABOVE the cache scan: the cached subtree's
        // exchanges ran once at materialization, not per iteration
        val perIteration = plan.split("InMemoryRelation")(0)
        val exchanges = "Exchange hashpartitioning".r.findAllIn(perIteration).length
        assert(exchanges == 1,
          s"trie side must not re-shuffle per iteration; plan:\n$plan")
      } finally t.unpersist()
    }
  }

  test("withPath: the traversal path spells the matched word exactly") {
    // the reference's cumulative_nodes invariant (ecl:405-425): edge
    // labels down to an end-cap's parent concatenate to the word
    val queries = Seq("dog", "doer", "kaminski").toDF("q")
    val rows = Query.queryJoin(queries, "q", trie, 2, withPath = true)
      .select("node", "path").as[(String, String)].collect()
    assert(rows.nonEmpty && rows.forall { case (node, path) => path == node })
    // default schema is unchanged (no path column)
    assert(!Query.queryJoin(queries, "q", trie, 1)
      .schema.fieldNames.contains("path"))
  }

  test("astral-plane text: edit distance counts code points, like Spark's levenshtein") {
    // real training corpora contain emoji/astral CJK: a surrogate pair
    // must be ONE edit (Spark SQL semantics), not two UTF-16 units.
    // DuckDB's levenshtein is byte-based and disagrees with Spark on any
    // non-ASCII input, so Spark's own levenshtein is the oracle here.
    val g = new String(Character.toChars(0x1F600)) // 😀
    val r = new String(Character.toChars(0x1F680)) // 🚀
    val corpus = Seq(s"ca$g", s"ca$r", s"c$g$r", "cat", s"$g$g", s"$g$r", g)
    val t = PrefixTree.create(corpus.toDF("w"), "w", prefixLen = 1, numPartitions = 2)
    // builder must never split a surrogate pair across an edge boundary
    t.collect().foreach { n =>
      assert(!Character.isLowSurrogate(n.node.head), s"edge '${n.node}' starts mid-pair")
      assert(!Character.isHighSurrogate(n.node.last), s"edge '${n.node}' ends mid-pair")
    }
    val queries = Seq(s"ca$g", s"$g$g", "ca", g, s"c$g")
    for (k <- 0 to 2) {
      val expect = queries.toDF("q")
        .crossJoin(corpus.toDF("w"))
        .withColumn("d", levenshtein($"q", $"w"))
        .filter($"d" <= k)
        .as[(String, String, Int)].collect().toSet
      val bc = rows3(Query.queryBroadcast(queries.toDF("q"), "q", t, k))
      val jm = rows3(Query.queryJoin(queries.toDF("q"), "q", t, k))
      assert(bc == expect && jm == expect, s"k=$k")
    }
    // autocomplete across a surrogate boundary
    assert(Query.prefixOne(s"ca", Query.childrenIndex(t)).map(_._1).toSet ==
      corpus.filter(_.startsWith("ca")).toSet)
  }

  test("prefixOne (autocomplete): trie descent == flat startsWith scan") {
    val idx = Query.childrenIndex(trie)
    val words = dictDf.select(trim($"w")).as[String].collect().toSet - ""
    // exact edge boundary, mid-edge, exact word, root, and no-match
    for (p <- Seq("do", "doo", "dog", "cat", "kamins", "a", "", "zzz", "doors")) {
      val got = Query.prefixOne(p, idx).map(_._1).toSet
      assert(got == words.filter(_.startsWith(p)), s"prefix '$p'")
    }
    // multiplicity comes back with the word
    val t = PrefixTree.create(Seq("dog", "dog", "dot").toDF("w"), "w", 2, 2)
    assert(Query.prefixOne("do", Query.childrenIndex(t)).toSet ==
      Set(("dog", 2L), ("dot", 1L)))
  }

  test("merge: incremental trie == trie over the concatenated corpus") {
    val a = Seq("dog", "dog", "cat").toDF("w")
    val b = Seq("dog", "door", "cat", "ant").toDF("w")
    val merged = PrefixTree.merge(PrefixTree.create(a, "w", 2, 2), b, "w", 2, 2)
    val full = PrefixTree.create(a.union(b), "w", 2, 2)
    // same weighted word multiset (counts fold: dog 2+1, cat 1+1)
    val mc = merged.filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    val fc = full.filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    assert(mc == fc && mc == Map("dog" -> 3L, "cat" -> 2L, "door" -> 1L, "ant" -> 1L))
    // identical answers through the query path
    val q = Seq("dog", "doot").toDF("q")
    val x = Query.queryBroadcast(q, "q", merged, 1)
      .as[(String, String, Int, Long)].collect().toSet
    val y = Query.queryBroadcast(q, "q", full, 1)
      .as[(String, String, Int, Long)].collect().toSet
    assert(x == y && x.nonEmpty)
  }

  test("fuzzyTopK returns the k best matches with deterministic ties") {
    val qs = Seq("dog", "kaminski")
    // feed each query TWICE: duplicate query strings must not consume
    // rank slots (top-k is per distinct query)
    val got = Query.fuzzyTopK((qs ++ qs).toDF("q"), "q", trie, maxDist = 2, k = 2)
      .as[(String, String, Int, Int)].collect()
    val byQ = got.groupBy(_._1)
    for (q <- qs) {
      val expect = brute(Seq(q), 2).toSeq.map { case (_, w, d) => (d, w) }
        .sorted.take(2)
        .zipWithIndex.map { case ((d, w), i) => (q, w, d, i + 1) }
      assert(byQ.getOrElse(q, Array.empty).sortBy(_._4).toSeq == expect, s"q=$q")
    }
  }

  test("duplicate words collapse to one end-cap carrying n_occurrences") {
    val t = PrefixTree.create(
      Seq("dog", "dog", "dog", "cat", "dot").toDF("w"), "w", 2, 2)
    val caps = t.filter(_.is_word).collect().map(n => n.node -> n.n_occurrences).toMap
    assert(caps == Map("dog" -> 3L, "cat" -> 1L, "dot" -> 1L))
    // multiplicity flows through both query modes (reference ecl:205-208
    // emits one row per occurrence; we report the count)
    val q = Seq("dog").toDF("q")
    val bc = Query.queryBroadcast(q, "q", t, 1)
      .as[(String, String, Int, Long)].collect().toSet
    val jm = Query.queryJoin(q, "q", t, 1)
      .as[(String, String, Int, Long)].collect().toSet
    assert(bc == Set(("dog", "dog", 0, 3L), ("dog", "dot", 1, 1L)))
    assert(jm == bc)
  }
}
