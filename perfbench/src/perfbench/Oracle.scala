package perfbench

import scala.collection.mutable

/** Brute-force reference answers, independent of the program's trie and
  * kernels: a plain full-matrix Levenshtein over code points, linear
  * scans of the dictionary, and union-find over all close pairs.
  */
object Oracle {

  def cps(s: String): Array[Int] = s.codePoints().toArray

  /** Full (|a|+1) x (|b|+1) Levenshtein matrix, code-point units. */
  def lev(a: Array[Int], b: Array[Int]): Int = {
    val w = b.length + 1
    val m = new Array[Int]((a.length + 1) * w)
    for (i <- 0 to a.length) m(i * w) = i
    for (j <- 0 to b.length) m(j) = j
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val sub = m((i - 1) * w + j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
      m(i * w + j) = math.min(sub, math.min(m((i - 1) * w + j) + 1, m(i * w + j - 1) + 1))
    }
    m(a.length * w + b.length)
  }

  /** Spark's string order: unsigned UTF-8 bytes (code-point order). */
  val utf8Order: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      java.util.Arrays.compareUnsigned(a, b)
    }
  }

  /** A dictionary prepared for linear scans. */
  final class Dict(val counts: Map[String, Long]) {
    private val entries = counts.keys.toArray.map(w => (w, cps(w)))

    /** Every word within `maxDist` of `q`, with its distance. The length
      * test only skips pairs whose distance is provably above maxDist.
      */
    def within(q: String, maxDist: Int): Seq[(String, Int)] = {
      val qc = cps(q)
      entries.iterator.filter(e => math.abs(e._2.length - qc.length) <= maxDist)
        .map(e => (e._1, lev(qc, e._2))).filter(_._2 <= maxDist).toSeq
    }

    def startingWith(p: String): Seq[(String, Long)] =
      counts.iterator.filter(_._1.startsWith(p)).toSeq
  }

  /** Best `k` matches within `maxDist`, ties broken by word in Spark's
    * string order: the semantics `Query.fuzzyTopK` documents.
    */
  def topK(d: Dict, q: String, maxDist: Int, k: Int): Seq[(String, Int)] =
    d.within(q, maxDist)
      .sortWith((x, y) => x._2 < y._2 || (x._2 == y._2 && utf8Order.lt(x._1, y._1)))
      .take(k)

  /** Whether two strings are at most one edit apart, by the exact
    * characterisation: equal lengths and at most one differing position
    * (a substitution), or lengths one apart and the shorter equal to the
    * longer minus one position (an insertion). It selects the pairs the
    * full-matrix distance then confirms.
    */
  def withinOne(a: Array[Int], b: Array[Int]): Boolean =
    if (a.length == b.length) {
      var diff = 0
      var i = 0
      while (i < a.length && diff <= 1) { if (a(i) != b(i)) diff += 1; i += 1 }
      diff <= 1
    } else if (math.abs(a.length - b.length) == 1) {
      val (s, l) = if (a.length < b.length) (a, b) else (b, a)
      var i = 0
      while (i < s.length && s(i) == l(i)) i += 1
      while (i < s.length && s(i) == l(i + 1)) i += 1
      i == s.length
    } else false

  /** Connected components of the graph whose edges are all value pairs
    * within `maxDist`, each labelled by its least member in Spark's
    * string order. Every pair of values whose lengths allow it is
    * examined; for `maxDist` 1 the exact one-edit test above selects the
    * pairs the full-matrix distance confirms.
    */
  def clusters(values: Seq[String], maxDist: Int): Map[String, String] = {
    val parent = mutable.HashMap[String, String]()
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        if (utf8Order.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb
      }
    }
    values.foreach(v => parent(v) = v)
    val byLen = values.distinct.map(v => (v, cps(v))).groupBy(_._2.length)
      .map { case (l, g) => l -> g.toArray }
    def close(a: Array[Int], b: Array[Int]) =
      (maxDist != 1 || withinOne(a, b)) && lev(a, b) <= maxDist
    for ((len, group) <- byLen; dl <- 0 to maxDist; other <- byLen.get(len + dl)) {
      var i = 0
      while (i < group.length) {
        var j = if (dl == 0) i + 1 else 0
        while (j < other.length) {
          if (close(group(i)._2, other(j)._2)) union(group(i)._1, other(j)._1)
          j += 1
        }
        i += 1
      }
    }
    values.map(v => v -> find(v)).toMap
  }
}
