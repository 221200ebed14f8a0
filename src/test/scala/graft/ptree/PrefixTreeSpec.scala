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

  /** A query result as its row multiset, `n_occurrences` included. */
  private def rows4(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int, Long)] =
    df.as[(String, String, Int, Long)].collect().toSeq.sorted

  /** `e` and its causes' messages: a task's error reaches the driver
    * wrapped in a SparkException.
    */
  private def messages(e: Throwable): Seq[String] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(x => String.valueOf(x.getMessage)).toSeq

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
    // forced partition-local mode: the path of an index over its limit
    val viaJoin = SizeGuard.forcing(SizeGuard.TrieIndex -> false) {
      rows3(Query.queryBatch(queries, "q", trie, 1))
    }
    assert(viaBroadcast == expect && viaJoin == expect)
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
    val b = Query.queryJoin(queries, "q", trie, 2)
      .as[(String, String, Int, Long)].collect().toSet
    assert(b == a) // including the n_occurrences column
  }

  test("queryOne (serving path) without Spark jobs") {
    val idx = Query.childrenIndex(trie)
    assert(Query.queryOne("kaminski", idx, 1).toSet == Set(("kaminski", 0), ("kaminsky", 1)))
    assert(Query.queryOne("zzzzz", idx, 2).isEmpty)
  }

  test("join mode matches broadcast mode on the real name corpus") {
    // the 100 TB path (trie too big to collect) on realistic data: deep
    // shared prefixes, one group per create partition
    val cust = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
    val t = PrefixTree.create(cust, "c_name", prefixLen = 12)
    val q = cust.limit(12)
      .select(expr("concat(substr(c_name,1,length(c_name)-1),'X')").as("q"))
    val a = rows3(Query.queryBroadcast(q, "q", t, 1))
    val b = rows3(Query.queryJoin(q, "q", t, 1))
    assert(b == a && a.nonEmpty)
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

  test("deep-trie chain compiles: no 64KB codegen overflow (fallback disabled)") {
    // a branch at EVERY depth defeats path compression, so each level is
    // its own 1-char edge: a trie deeper than 24 levels. With
    // spark.sql.codegen.fallback=false a Janino "code grows beyond 64 KB"
    // failure THROWS instead of silently running interpreted
    val words = (2 to 28).flatMap(l => Seq("x" * l, "x" * (l - 1) + "y")).distinct
    val deep = PrefixTree.create(words.toDF("w"), "w", prefixLen = 1, numPartitions = 2)
    val queries = Seq("x" * 24 + "Z", "x" * 9 + "yy").toDF("q")
    val prev = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // queryJoin directly: queryBatch would route this tiny trie to the
      // broadcast path
      val got = rows3(Query.queryJoin(queries, "q", deep, 2))
      val expect = queries
        .crossJoin(words.toDF("word"))
        .withColumn("d", levenshtein($"q", $"word"))
        .filter($"d" <= 2)
        .as[(String, String, Int)].collect().toSet
      assert(got == expect)
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

  test("writeIndexedTable: bucketed trie groups on compute_node with no trie-side shuffle") {
    import org.apache.spark.sql.execution.{CoGroupExec, FileSourceScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    object plans extends AdaptiveSparkPlanHelper
    PrefixTree.writeIndexedTable(trie, "pt_spec_bucketed", buckets = 4)
    try {
      val back = PrefixTree.readTable(spark, "pt_spec_bucketed")
      // correctness through the catalog roundtrip
      val queries = Seq("dog", "kaminski", "ab").toDF("q")
      val a = rows3(Query.queryBroadcast(queries, "q", trie, 2))
      val b = rows3(Query.queryBroadcast(queries, "q", back, 2))
      val local = Query.queryJoin(queries, "q", back, 2)
      assert(a == b && rows3(local) == a)
      // the BUILDINDEX point: the partition-local search groups the trie
      // by reading its buckets - no exchange above the trie-side scan
      val plan = local.queryExecution.executedPlan
      val cogroup = plans.collect(plan) { case c: CoGroupExec => c }
      assert(cogroup.length == 1, s"one cogroup expected; plan:\n$plan")
      val trieSide = cogroup.head.left
      assert(plans.collect(trieSide) { case s: FileSourceScanExec if s.bucketedScan => s }.length == 1,
        s"trie side must scan the buckets; plan:\n$plan")
      assert(plans.collect(trieSide) { case e: ShuffleExchangeLike => e }.isEmpty,
        s"trie side must not re-shuffle; plan:\n$plan")
    } finally spark.sql("DROP TABLE IF EXISTS pt_spec_bucketed")
  }

  test("prefixLen <= 0 (whole-word hashing, skew mode) answers identically") {
    val t = PrefixTree.create(dictDf, "w", prefixLen = 0, numPartitions = 4)
    val queries = Seq("dog", "doer", "kaminski", "ab")
    val got = rows3(Query.queryBroadcast(queries.toDF("q"), "q", t, 2))
    assert(got == brute(queries, 2))
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

  test("parity: brute force == queryBroadcast == queryJoin == queryBatch above the guard (generated)") {
    // forests of 2-6 partitions at prefixLen 0-3 over shared stems and
    // astral code points, duplicate words and query rows, null queries;
    // case 0 is an empty trie, case 1 a trie deeper than 24 levels,
    // case 2 an empty query set
    val rnd = new scala.util.Random(6)
    val g = new String(Character.toChars(0x1F600))
    val letters = Vector("a", "b", "c", "o", "s", "\u00e9", g)
    val stems = Vector("", "do", "kamin", "bay", "co", g + "x")
    def word(): String =
      stems(rnd.nextInt(stems.length)) + Seq.fill(1 + rnd.nextInt(4))(letters(rnd.nextInt(letters.length))).mkString
    def edit(w: String): String = {
      val cps = w.codePoints().toArray.map(c => new String(Character.toChars(c))).toBuffer
      for (_ <- 0 until rnd.nextInt(3)) {
        val i = rnd.nextInt(cps.length + 1)
        val l = letters(rnd.nextInt(letters.length))
        rnd.nextInt(3) match {
          case 0 => cps.insert(i, l)
          case 1 if i < cps.length => cps.remove(i)
          case _ => if (i < cps.length) cps(i) = l else cps += l
        }
      }
      cps.mkString
    }
    val deepWords = (2 to 28).flatMap(l => Seq("x" * l, "x" * (l - 1) + "y"))
    for (c <- 0 until 22) {
      val corpus: Seq[String] = c match {
        case 0 => Nil
        case 1 => deepWords ++ deepWords.take(5)
        case _ =>
          val ws = Seq.fill(20 + rnd.nextInt(30))(word())
          ws ++ Seq.fill(8)(ws(rnd.nextInt(ws.length)))
      }
      val queries: Seq[Option[String]] = c match {
        case 2 => Nil
        case 1 => Seq(Some("x" * 24 + "Z"), Some("x" * 9 + "yy"), Some("x" * 27 + "y"), None)
        case _ =>
          val pool = if (corpus.isEmpty) Seq(word()) else corpus
          val qs = pool(rnd.nextInt(pool.length)) +:
            Seq.fill(7)(if (rnd.nextBoolean()) edit(pool(rnd.nextInt(pool.length))) else word())
          (qs ++ qs.take(2)).map(Some(_)) ++ Seq(None, None)
      }
      val parts = 2 + c % 5
      val prefixLen = c % 4
      val k = c % 3 + (if (c == 1) 2 else 0)
      val t = PrefixTree.create(corpus.toDF("w"), "w", prefixLen, parts)
      val qdf = queries.toDF("q")
      val counts = corpus.groupBy(identity).map { case (w, ws) => w -> ws.length.toLong }
      val brute = queries.flatten.flatMap { q =>
        counts.toSeq.map { case (w, n) => (q, w, BruteLev.lev(q, w), n) }.filter(_._3 <= k)
      }.sorted
      val ctx = s"case $c (parts=$parts prefixLen=$prefixLen k=$k)"
      assert(rows4(Query.queryBroadcast(qdf, "q", t, k)) == brute, ctx)
      assert(rows4(Query.queryJoin(qdf, "q", t, k)) == brute, ctx)
      assert(SizeGuard.forcing(SizeGuard.TrieIndex -> false) {
        rows4(Query.queryBatch(qdf, "q", t, k))
      } == brute, ctx)
      if (c > 2) assert(brute.nonEmpty, s"$ctx: a generated case should match something")
    }
  }

  test("partition-local search: a group over the byte limit fails, naming its size") {
    val rows = trie.collect()
    val group = rows.filter(_.compute_node == rows.head.compute_node)
    val g = group.head.compute_node
    val bytes = group.length * 128L + 2L * group.map(_.node.length.toLong).sum
    // at exactly its estimate the group compiles
    assert(Query.compileGroup(g, group.iterator, bytes).flat.nodes == group.length)
    val e = intercept[IllegalStateException](Query.compileGroup(g, group.iterator, bytes - 1))
    for (part <- Seq(s"compute_node=$g", s"${group.length} nodes", s"$bytes B", "prefixLen", "numPartitions"))
      assert(e.getMessage.contains(part), e.getMessage)
  }

  test("partition-local search: a subtree crossing compute_node values fails, never answers partially") {
    // one internal node moved to another group: its children's parent is
    // then missing from theirs (and its own parent from its new group)
    val rows = trie.collect()
    val moved = rows.find(n => !n.is_word && n.parent_id != 0L).get
    val other = rows.map(_.compute_node).find(_ != moved.compute_node).get
    val broken = rows.map(n => if (n.id == moved.id) n.copy(compute_node = other) else n).toSeq.toDS()
    val e = intercept[Exception](Query.queryJoin(Seq("dog").toDF("q"), "q", broken, 2).collect())
    assert(messages(e).exists(_.contains("is not in the index")), messages(e).mkString("\n"))
  }

  test("null query strings match nothing on both sides of the index guard and through fuzzyTopK") {
    val q = Seq(Some("dog"), None, Some("kaminski"), None).toDF("q")
    val nonNull = Seq("dog", "kaminski").toDF("q")
    val expect = rows4(Query.queryBroadcast(nonNull, "q", trie, 1))
    val topK = Query.fuzzyTopK(nonNull, "q", trie, 1, 2).as[(String, String, Int, Int)].collect().toSet
    assert(expect.nonEmpty && topK.nonEmpty)
    for (small <- Seq(true, false)) SizeGuard.forcing(SizeGuard.TrieIndex -> small) {
      assert(rows4(Query.queryBatch(q, "q", trie, 1)) == expect, s"small=$small")
      assert(Query.fuzzyTopK(q, "q", trie, 1, 2).as[(String, String, Int, Int)].collect().toSet == topK,
        s"small=$small")
    }
    assert(rows4(Query.queryBroadcast(q, "q", trie, 1)) == expect)
    assert(rows4(Query.queryJoin(q, "q", trie, 1)) == expect)
  }

  test("readTable: a malformed stats property fails; a temp view reads without stats") {
    PrefixTree.writeIndexedTable(trie, "pt_spec_badstats", buckets = 2)
    try {
      spark.sql("ALTER TABLE pt_spec_badstats SET TBLPROPERTIES ('graft.trie.stats' = '1,2,3')")
      val e = intercept[IllegalArgumentException](PrefixTree.readTable(spark, "pt_spec_badstats"))
      assert(e.getMessage.contains("malformed trie stats"), e.getMessage)
      // no catalog entry at all is not an error: stats compute on first use
      trie.toDF().createOrReplaceTempView("pt_spec_view")
      val v = PrefixTree.readTable(spark, "pt_spec_view")
      assert(Query.trieStats(v) == Query.computeTrieStats(trie))
    } finally {
      spark.sql("DROP TABLE IF EXISTS pt_spec_badstats")
      spark.catalog.dropTempView("pt_spec_view")
    }
  }

  test("an older writer's 4-field stats sidecar reads with zero sizing jobs") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("pt_sidecar4").toString
    PrefixTree.writeIndexed(trie, dir)
    val st = Query.computeTrieStats(spark.read.parquet(dir).as[PTNode])
    // the previous sidecar format: nodes,chars,max_word_len,min_top_edge
    val file = new Path(dir, "_graft_stats")
    val out = file.getFileSystem(spark.sessionState.newHadoopConf()).create(file, true)
    try out.write(s"${st.nodes},${st.chars},9,1".getBytes("UTF-8")) finally out.close()
    val (_, plainJobs) = countJobs(spark.read.parquet(dir))
    val (got, jobs) = countJobs(Query.trieStats(PrefixTree.read(spark, dir)))
    assert(jobs == plainJobs, s"read + trieStats ran $jobs jobs, a plain read $plainJobs")
    assert(got == TrieStats(st.nodes, st.chars))
  }
}
