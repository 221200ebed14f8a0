package graft.ops

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ptree.{BruteLev, PrefixTree, Query}

/** `DedupOps.fuzzyDedup` and the trie self-join under it, on both sides of
  * the [[SizeGuard.TrieIndex]] site, against a brute-force clustering.
  */
class FuzzyDedupSpec extends SparkSpec {
  import spark.implicits._

  private val smile = "😀"
  private val script = "𝒜"

  /** Near-duplicate words with astral and accented code points, plus a
    * seeded random block over a five-symbol alphabet, so clusters chain.
    */
  private val words: Seq[String] = {
    val fixed = Seq("dog", "dig", "dug", "cat", "cot", "coat", "zebra", "zebras", "kaminski",
      "kaminsky", s"${smile}ab", s"${smile}ac", s"${script}bc", "abc", "abd", "abcd",
      "été", "ete", "éte", "a", "b", "ab", "x")
    val rnd = new scala.util.Random(5L)
    val alphabet = Seq("a", "b", "c", "é", smile)
    fixed ++ Seq.fill(40)(Seq.fill(1 + rnd.nextInt(5))(alphabet(rnd.nextInt(alphabet.size))).mkString)
  }

  /** Repeats, space-padded copies, empties, blanks and a null. */
  private val rows: Seq[String] =
    words ++ Seq("dog", " cat ", "  abc", "abd  ", "", "   ", null, s"${smile}ab", s" ${script}bc")

  /** Spark's `trim`: leading and trailing U+0020 only. */
  private def trim(s: String): String = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse

  private def values(in: Seq[String]): Seq[String] =
    in.filter(_ != null).map(trim).filter(_.nonEmpty).distinct

  /** Unordered pairs of distinct values within `k` edits. */
  private def brutePairs(in: Seq[String], k: Int): Set[Set[String]] = {
    val vs = values(in)
    (for (a <- vs; b <- vs if a != b && BruteLev.lev(a, b) <= k) yield Set(a, b)).toSet
  }

  /** value -> the minimum value of its cluster, in Spark's string order
    * (UTF-8 bytes, which is code-point order, not UTF-16 order).
    */
  private def bruteClusters(in: Seq[String], k: Int): Map[String, String] = {
    val vs = values(in)
    val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
    def find(v: String): String = if (parent(v) == v) v else { val r = find(parent(v)); parent(v) = r; r }
    brutePairs(in, k).foreach { p => val Seq(a, b) = p.toSeq; parent(find(a)) = find(b) }
    val utf8 = new Ordering[String] {
      def compare(x: String, y: String): Int = java.util.Arrays.compareUnsigned(x.getBytes(UTF_8), y.getBytes(UTF_8))
    }
    val minOf = vs.groupBy(find).map { case (root, members) => root -> members.min(utf8) }
    vs.map(v => v -> minOf(find(v))).toMap
  }

  private def side(small: Boolean) = if (small) "small (broadcast)" else "large (partition-local)"

  for (small <- Seq(true, false)) {
    test(s"fuzzyDedup and selfJoin == brute force on the ${side(small)} side") {
      // six build partitions, so the trie has up to six compute_node groups
      withConf("spark.sql.shuffle.partitions" -> "6") {
        SizeGuard.forcing(SizeGuard.TrieIndex -> small) {
          val cases =
            (for (prefixLen <- 0 to 3; k <- 0 to 2) yield (rows, prefixLen, k)) ++ Seq(
              (Seq("kat", "kit", "kot", "kite", " kat"), 1, 1), // one group
              (Seq.empty[String], 2, 1))
          val groups = cases.map { case (in, prefixLen, k) =>
            val what = s"prefixLen=$prefixLen k=$k rows=${in.size}"
            val df = in.toDF("w")
            val trie = PrefixTree.create(df, "w", prefixLen).localCheckpoint()
            val pairs = Query.selfJoin(trie, k).as[(String, String, Int)].collect()
            val unordered = pairs.map { case (a, b, _) => Set(a, b) }
            assert(unordered.distinct.length == unordered.length, s"$what: a pair found twice")
            assert(unordered.toSet == brutePairs(in, k), what)
            assert(pairs.forall { case (a, b, d) => d == BruteLev.lev(a, b) }, what)
            val got = DedupOps.fuzzyDedup(df, "w", k, prefixLen).as[(String, String)].collect()
            assert(got.length == got.toMap.size, s"$what: a value repeated")
            assert(got.toMap == bruteClusters(in, k), what)
            trie.select("compute_node").distinct().count()
          }
          assert(groups.min == 0 && groups.contains(1L) && groups.max == 6L, groups)
        }
      }
    }
  }

  test("fuzzyDedup's output schema follows the input column's nullability") {
    val nullable = Seq("dog", "dig", null).toDF("w")
    val required = spark.range(3).select(F.concat(F.lit("w"), $"id".cast("string")).as("w"))
    assert(!required.schema("w").nullable)
    def schema(nulls: Boolean) = StructType(Seq(
      StructField("value", StringType, nulls), StructField("cluster_id", StringType, nulls)))
    for (small <- Seq(true, false)) SizeGuard.forcing(SizeGuard.TrieIndex -> small) {
      assert(DedupOps.fuzzyDedup(nullable, "w", 1).schema == schema(nulls = true))
      assert(DedupOps.fuzzyDedup(required, "w", 1).schema == schema(nulls = false))
    }
  }

  test("selfJoin's small side plans no Exchange; fuzzyDedup runs fewer jobs than distinct + queryBatch + filter") {
    val df = rows.toDF("w")
    val trie = PrefixTree.create(df, "w").localCheckpoint()
    val plan = SizeGuard.forcing(SizeGuard.TrieIndex -> true)(Query.selfJoin(trie, 1))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // the composition fuzzyDedup ran before the self-join: a distinct
    // shuffle, a query frame searched against the whole trie, and a
    // filter that drops one copy of every pair
    def composed(k: Int): DataFrame = {
      val vals = df.select(F.trim($"w").as("value")).filter($"value" =!= "").distinct().localCheckpoint()
      val pairs = Query.queryBatch(vals, "value", PrefixTree.create(vals, "value"), k)
        .filter($"query_string" < $"node").select($"query_string".as("a"), $"node".as("b"))
      val cc = GraphOps.connectedComponents(pairs, "a", "b")
      vals.join(cc, vals("value") === cc("id"), "left")
        .select($"value", F.coalesce($"cluster_id", $"value").as("cluster_id"))
    }
    val (before, beforeJobs) = countJobs(composed(1).as[(String, String)].collect().toSet)
    val (after, afterJobs) = countJobs(DedupOps.fuzzyDedup(df, "w", 1).as[(String, String)].collect().toSet)
    assert(after == before)
    assert(afterJobs < beforeJobs, s"fuzzyDedup ran $afterJobs jobs, the old composition $beforeJobs")
  }
}
