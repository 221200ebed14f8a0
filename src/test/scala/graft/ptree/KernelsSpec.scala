package graft.ptree

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, ObjectInputStream, ObjectOutputStream}

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Pure-kernel tests: no Spark. Oracle = textbook full-matrix Levenshtein. */
object BruteLev {
  /** Full-matrix Levenshtein over code points (the kernels' unit). */
  def lev(a: String, b: String): Int = {
    val x = a.codePoints().toArray
    val y = b.codePoints().toArray
    val prev = new Array[Int](y.length + 1)
    val cur = new Array[Int](y.length + 1)
    for (j <- 0 to y.length) prev(j) = j
    for (i <- 1 to x.length) {
      cur(0) = i
      for (j <- 1 to y.length) {
        val cost = if (x(i - 1) == y(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(y.length)
  }

  def bruteSearch(dict: Set[String], q: String, k: Int): Set[(String, Int)] =
    dict.map(w => (w, lev(q, w))).filter(_._2 <= k)

  def trieOf(dict: Set[String]): Map[Long, Array[PTNode]] =
    Kernels
      .buildTrie(0, dict.toSeq.sorted.iterator)
      .toArray
      .groupBy(_.parent_id)

  def trieSearch(dict: Set[String], q: String, k: Int): Set[(String, Int)] =
    Kernels.searchIndex(TrieIndex.of(trieOf(dict)), q, k)._1.map { case (w, d, _) => (w, d) }.toSet
}

class KernelsSpec extends AnyFunSuite {
  import BruteLev._

  /** `w`'s code points run through [[Kernels.Dp]] against `q` one
    * [[Kernels.Dp.row]] per code point: the last row.
    */
  private def rowsOf(q: String, w: String, maxDist: Int): Array[Int] = {
    val qc = Kernels.codePoints(q)
    val dp = new Kernels.Dp(qc, maxDist)
    var row = Kernels.initRow(qc.length)
    for ((c, i) <- Kernels.codePoints(w).zipWithIndex) {
      val next = new Array[Int](qc.length + 1)
      dp.row(row, next, c, i + 1)
      row = next
    }
    row
  }

  /** `w` as ONE multi-code-point edge through [[Kernels.Dp.edge]] from the
    * initial row, never stopping inside it: (last row, its minimum).
    */
  private def edgeOf(q: String, w: String, maxDist: Int): (Array[Int], Int) = {
    val qc = Kernels.codePoints(q)
    val es = Kernels.codePoints(w)
    val out, tmp = new Array[Int](qc.length + 1)
    val mn = new Kernels.Dp(qc, maxDist)
      .edge(Kernels.initRow(qc.length), es, 0, es.length, 0, maxDist + 1, out, tmp)
    (out, mn)
  }

  test("Dp.row matches full-matrix levenshtein char by char") {
    val cases = Seq(("kitten", "sitting"), ("dog", "drop"), ("", "abc"), ("abc", ""), ("abc", "abc"))
    for ((q, w) <- cases) {
      val row = rowsOf(q, w, 100)
      assert(row(row.length - 1) == lev(w, q), s"q=$q w=$w")
    }
  }

  test("Dp.edge over a multi-char edge == char-by-char") {
    val q = "dogma"
    val whole = edgeOf(q, "drops", 100)
    val row = rowsOf(q, "drops", 100)
    assert(whole._1.toSeq == row.toSeq)
    assert(whole._2 == row.min)
  }

  test("banded Dp.edge: saturated cells never hide a true match") {
    // band k=1 over a long query: exact distances <= k survive; cells
    // outside the band read as k+1 (saturation), never an undercount
    val q = "abcdefgh"
    for (k <- 0 to 3; w <- Seq("abcdefgh", "abcdefg", "abcdefghx", "abxdefgh", "zzzzzzzz")) {
      val (row, mn) = edgeOf(q, w, k)
      // the last cell is only written inside the band (searchIndex's rule)
      val d = if (math.abs(w.length - q.length) <= k) row(q.length) else k + 1
      val truth = lev(w, q)
      if (truth <= k) assert(d == truth, s"k=$k w=$w")
      else assert(d > k, s"k=$k w=$w")
      assert(mn <= d)
    }
  }

  // FIXTURES.md §2 micro-corpora -------------------------------------------

  test("no-share: multi-char root edges (reference bug B.q1 fixed)") {
    // reference computes d(dog, dog)=2 here via its stale-row bug; must be 0
    assert(trieSearch(Set("dog", "cat"), "dog", 1) == Set(("dog", 0)))
  }

  test("dup-prefix: dog/drop double-count guard") {
    assert(trieSearch(Set("dog", "drop"), "dog", 1) == Set(("dog", 0)))
    assert(trieSearch(Set("dog", "drop"), "dog", 2) == Set(("dog", 0), ("drop", 2)))
  }

  test("nested-prefix: words ending inside a path") {
    val d = Set("a", "ab", "abc")
    assert(trieSearch(d, "ab", 1) == Set(("a", 1), ("ab", 0), ("abc", 1)))
  }

  test("duplicates collapse to one end-cap") {
    val nodes = Kernels.buildTrie(0, Seq("cat", "dog", "dog").sorted.iterator).toArray
    assert(nodes.count(_.is_word) == 2)
  }

  test("trie structural invariants on a mixed corpus") {
    val dict = Set("a", "ab", "abc", "abd", "b", "bcd", "dog", "drop", "door", "doors")
    val nodes = Kernels.buildTrie(7, dict.toSeq.sorted.iterator).toArray
    val byId = nodes.map(n => n.id -> n).toMap
    // ids unique
    assert(byId.size == nodes.length)
    // every parent exists or is root
    assert(nodes.forall(n => n.parent_id == 0 || byId.contains(n.parent_id)))
    // end-caps reconstruct the word set
    assert(nodes.filter(_.is_word).map(_.node).toSet == dict)
    // edge labels along each end-cap's path concatenate to the word;
    // _min/_max bound the word length along the path
    for (cap <- nodes.filter(_.is_word)) {
      var acc = ""
      var cur = cap.parent_id
      while (cur != 0) {
        val n = byId(cur)
        acc = n.node + acc
        assert(n._min <= cap.node.length && cap.node.length <= n._max)
        cur = n.parent_id
      }
      assert(acc == cap.node, s"path of ${cap.node}")
    }
    // partition id seeding
    assert(nodes.forall(n => (n.id >> PTNode.PART_SHIFT) == 7))
  }

  test("band walks past a short query on a long edge (regression)") {
    // parent survives at the band edge, then a long edge pushes the band
    // entirely past the query end - must saturate, not overflow
    assert(trieSearch(Set("kaminski", "ka"), "ab", 2) == bruteSearch(Set("kaminski", "ka"), "ab", 2))
    assert(trieSearch(Set("abcdefghij"), "ab", 2) == Set.empty)
  }

  test("property: trie search == brute force") {
    val wordGen = for {
      n <- Gen.choose(1, 10)
      cs <- Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd'))
    } yield cs.mkString
    val dictGen = Gen.containerOfN[Set, String](12, wordGen)
    val prop = Prop.forAll(dictGen, wordGen, Gen.choose(0, 3)) {
      (dict: Set[String], q: String, k: Int) =>
        trieSearch(dict, q, k) == bruteSearch(dict, q, k)
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(300)
        .withInitialSeed(Seed(42L)),
      prop
    )
    assert(res.passed, res.status.toString)
  }

  // shared stems over ASCII, a BMP accent and two astral code points,
  // so edges split, words nest and UTF-16 length != code points
  private val unit = Gen.oneOf("a", "b", "c", "\u00e9", "\ud83d\ude00", "\ud835\udc9c")
  private val stem = Gen.choose(0, 4).flatMap(n => Gen.listOfN(n, unit).map(_.mkString))
  private val dictGen = for {
    stems <- Gen.listOfN(3, stem)
    tails <- Gen.listOfN(14, Gen.zip(Gen.oneOf(stems), Gen.choose(0, 5).flatMap(n =>
      Gen.listOfN(n, unit).map(_.mkString)), Gen.choose(1L, 3L)))
  } yield tails.map { case (s, t, c) => (s + t, c) }.filter(_._1.nonEmpty).toMap

  /** Two partitions' forests (root edges may share a first code point)
    * in a shuffled collect order: compile must not depend on either.
    */
  private def forest(dict: Map[String, Long], seed: Long): Array[PTNode] = {
    val (p0, p1) = dict.toSeq.sortBy(_._1).partition(_._1.hashCode % 2 == 0)
    new scala.util.Random(seed).shuffle(
      Kernels.buildTrieCounted(0, p0.iterator).toSeq ++ Kernels.buildTrieCounted(1, p1.iterator).toSeq).toArray
  }

  test("property: TrieIndex walk == lambda walk == brute force, with prefixes, Map view and serialization") {
    val caseGen = for {
      dict <- dictGen
      queries <- Gen.listOfN(4, Gen.oneOf(Gen.choose(0, 7).flatMap(n =>
        Gen.listOfN(n, unit).map(_.mkString)), Gen.oneOf(dict.keys.toSeq :+ "")))
      cuts <- Gen.listOfN(4, Gen.choose(0, 12))
      k <- Gen.choose(0, 3)
      seed <- Gen.choose(0L, 1L << 40)
    } yield (dict, queries, cuts, k, seed)
    def roundTrip(t: TrieIndex): TrieIndex = {
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(t)
      out.close()
      new ObjectInputStream(new ByteArrayInputStream(bytes.toByteArray)).readObject().asInstanceOf[TrieIndex]
    }
    // the broadcast payload through both Spark serializers (Kryo's Scala
    // registrations rebuild any Map subclass as a plain HashMap)
    val conf = new org.apache.spark.SparkConf()
    val serializers = Seq(new org.apache.spark.serializer.JavaSerializer(conf).newInstance(),
      new org.apache.spark.serializer.KryoSerializer(conf).newInstance())
    def shipped(t: TrieIndex): Seq[TrieIndex] =
      serializers.map(s => new TrieIndex(s.deserialize[TrieIndex.Flat](s.serialize(t.flat))))
    val prop = Prop.forAll(caseGen) { case (dict, queries, cuts, k, seed) =>
      val rows = forest(dict, seed)
      val groups = rows.groupBy(_.parent_id)
      val index = TrieIndex(rows)
      val back = roundTrip(index)
      val remote = shipped(index)
      def view(m: Map[Long, Array[PTNode]]) = m.map { case (p, kids) => p -> kids.toSeq }
      val mapOk = Seq(index, back).forall { ix =>
        view(ix) == view(groups) && ix.size == groups.size && !ix.contains(-1L) &&
          groups.keys.forall(p => ix.get(p).map(_.toSeq) == groups.get(p).map(_.toSeq))
      } && TrieIndex.of(index).eq(index)
      val searchOk = queries.forall { q =>
        val flat = Kernels.searchIndex(index, q, k)
        val lambda = Kernels.searchCounted(q, k, groups.getOrElse(_, null))
        val brute = dict.toSeq.map { case (w, c) => (w, lev(q, w), c) }.filter(_._2 <= k).sortBy(_._1)
        flat._1 == lambda._1 && flat._2 == lambda._2 && flat._1.sortBy(_._1) == brute &&
          (back +: remote).forall(ix => Kernels.searchIndex(ix, q, k) == flat) &&
          Query.queryOne(q, groups, k) == Query.queryOne(q, index, k)
      }
      val prefixes = "" +: (queries ++ dict.keys.toSeq.zip(cuts).map { case (w, c) =>
        w.substring(0, math.min(c, w.length)) }) // may cut a surrogate pair in half
      val prefixOk = prefixes.forall { p =>
        val want = dict.toSeq.filter(_._1.startsWith(p)).sortBy(_._1)
        Query.prefixOne(p, index).sortBy(_._1) == want &&
          (back +: remote).forall(ix => Query.prefixOne(p, ix) == Query.prefixOne(p, index)) &&
          Query.prefixOne(p, groups) == Query.prefixOne(p, index)
      }
      mapOk && searchOk && prefixOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(Seed(7L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("property: the self-join cut finds each within-maxDist pair once, in fewer cells") {
    val caseGen = for {
      dict <- dictGen
      k <- Gen.choose(0, 3)
      seed <- Gen.choose(0L, 1L << 40)
    } yield (dict, k, seed)
    val prop = Prop.forAll(caseGen) { case (dict, k, seed) =>
      val rows = forest(dict, seed)
      val groups = rows.groupBy(_.parent_id)
      val index = TrieIndex(rows)
      val f = index.flat
      val caps = (0 until f.nodes).filter(f.isWord(_))
      val cut = caps.map(i => i -> Kernels.searchIndex(index, f.words(i), k, i))
      val uncut = caps.map(i => Kernels.searchIndex(index, f.words(i), k, -1))
      // each unordered pair once, never a self pair, distances exact
      val pairs = cut.flatMap { case (i, (hits, _)) => hits.map { case (w, d, _) => (f.words(i), w, d) } }
      val unordered = pairs.map { case (a, b, _) => Set(a, b) }
      val words = dict.keys.toSeq
      val brute = (for (a <- words; b <- words if a < b && lev(a, b) <= k) yield Set(a, b)).toSet
      val pairsOk = pairs.forall { case (a, b, d) => a != b && d == lev(a, b) } &&
        unordered.distinct.size == unordered.size && unordered.toSet == brute
      // never more cells than the uncut walks, and -1 is the uncut walk:
      // the same answers and counters as the independent lambda walk
      val cellsOk = cut.map(_._2._2.cells).sum <= uncut.map(_._2.cells).sum
      val uncutOk = caps.zip(uncut).forall { case (i, u) =>
        u == Kernels.searchCounted(f.words(i), k, groups.getOrElse(_, null))
      }
      pairsOk && cellsOk && uncutOk
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(Seed(11L)), prop)
    assert(res.passed, res.status.toString)
  }

  test("TrieIndex refuses rows the root cannot reach") {
    val rows = Kernels.buildTrie(0, Seq("cat", "dog").iterator).toArray
    val orphan = rows.filterNot(r => !r.is_word && r.node == "cat")
    assert(intercept[IllegalArgumentException](TrieIndex(orphan)).getMessage.contains("not in the index"))
    val cycle = Array(PTNode(5L, 6L, 1, 1, is_word = false, 0, "a"), PTNode(6L, 5L, 1, 1, is_word = false, 0, "b"))
    assert(intercept[IllegalArgumentException](TrieIndex(cycle)).getMessage.contains("not reachable"))
  }

  test("SearchStats.cells counts only the band cells computed") {
    // query "ab", maxDist 1: row d fills the band [d-1, d+1] clipped to
    // the query's [0, 2] - 3 cells for d=1, 2 for d=2 (a flat charge of
    // edge length x 3 would say 6)
    val idx = TrieIndex(Kernels.buildTrie(0, Iterator("ab")).toArray)
    assert(Kernels.searchIndex(idx, "ab", 1)._2 == SearchStats(2, 5))
    // edge "zzz": row 2's minimum is 2 > 1, so the walk leaves the edge
    // after 2 of its 3 rows (9 cells charged up front before)
    val far = TrieIndex(Kernels.buildTrie(0, Iterator("zzz")).toArray)
    assert(Kernels.searchIndex(far, "ab", 1)._2 == SearchStats(1, 5))
  }
}
