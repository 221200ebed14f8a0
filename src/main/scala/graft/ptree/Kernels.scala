package graft.ptree

import scala.collection.mutable.ArrayBuffer

/** Pure-Scala kernels (no Spark imports): unit-testable in isolation and
  * callable from `mapPartitions` with zero UDF/serde overhead.
  *
  * The reference implements these as embedded C++ kernels
  * (/root/reference/PrefixTree.ecl:315-394 `CalculateLevenshteinVector`,
  * `GetMinDistance`, `GetFinalDistance`). We keep the same math - an
  * incremental Levenshtein DP row threaded down trie edges, with the row
  * minimum as a branch-and-bound lower bound - but fix the reference's
  * first-call bug on multi-char root edges (stale initial row memcpy,
  * ecl:368; see SURVEY.md B.q1) and lift its 255-char/255-distance cap
  * (ecl:322-326) by using Int cells.
  */
object Kernels {

  /** Initial DP row for `query` vs the empty trie path: row(j) = j
    * (= cost of deleting j query chars).
    */
  def initRow(queryLen: Int): Array[Int] = Array.tabulate(queryLen + 1)(identity)

  /** Unicode code points of `s`. ALL edit-distance units in these
    * kernels are CODE POINTS, matching Spark SQL's `length()` and
    * `levenshtein()` - a surrogate pair (emoji, astral CJK) is one
    * edit, not two. (DuckDB's `levenshtein` is byte-based and disagrees
    * with Spark on any non-ASCII input; the DuckDB oracles therefore
    * only bind on ASCII corpora, while the in-repo brute-force oracle -
    * Spark's own `levenshtein` - binds everywhere, spec'd with an
    * astral-plane fixture.)
    */
  private[ptree] def codePoints(s: String): Array[Int] = {
    val out = new Array[Int](cpLen(s))
    codePointsInto(s, out, 0)
    out
  }

  /** Write `s`'s code points into `dst` from `off`; returns their count. */
  private[ptree] def codePointsInto(s: String, dst: Array[Int], off: Int): Int = {
    var ci = 0
    var i = off
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      dst(i) = cp
      ci += Character.charCount(cp)
      i += 1
    }
    i - off
  }

  @inline private[ptree] def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** The one banded Levenshtein DP step every kernel runs: rows of the
    * matrix between a trie path (`d` code points consumed) and the query
    * (`q`, code points), restricted to the Ukkonen band.
    *
    * `row(j)` = edit distance between the trie path consumed so far and
    * the first `j` query code points. Any cell (i, j) with |i - j| >
    * maxDist is >= maxDist + 1, so only the 2*maxDist+1 cells around the
    * diagonal are computed per path code point; everything else is
    * pinned at the saturation value `maxDist + 1`. All distances are
    * therefore `min(true distance, maxDist + 1)` - exact whenever they
    * matter (<= maxDist) and "too far" otherwise. For k << |query| this
    * cuts the inner loop from O(|query|) to O(k) per code point.
    *
    * The row minimum is a lower bound on the distance of ANY word
    * extending the path (the branch-and-bound prune key, ecl:364-372),
    * and it never decreases down a path: each cell is at least the
    * minimum of the three cells it is computed from. So a walk may stop
    * inside an edge at the first row whose minimum exceeds maxDist.
    *
    * `cells` counts the band cells actually computed.
    */
  private[ptree] final class Dp(q: Array[Int], maxDist: Int) {
    private val n = q.length
    private val inf = maxDist + 1
    var cells = 0L

    /** Row `d` (path code point `c` appended) from row `d - 1` in `prev`,
      * written into `cur`; returns its minimum, or `inf` once the band has
      * moved past the query's end (then every deeper cell is > maxDist).
      * Only band cells are written; the cells one past each band end are
      * pinned to `inf` so a reused buffer never leaks stale values into
      * the next row's reads (band ends move by at most 1 per row). Cells
      * further out are garbage: read `cur(j)` only for |d - j| <= maxDist.
      */
    def row(prev: Array[Int], cur: Array[Int], c: Int, d: Int): Int = {
      val lo = if (d - maxDist > 0) d - maxDist else 0
      val hi = if (d + maxDist < n) d + maxDist else n
      if (lo > hi) return inf
      if (lo > 0) cur(lo - 1) = inf // guard below the band
      var rowMin = inf
      var j = lo
      while (j <= hi) {
        var v =
          if (j == 0) d
          else {
            var m = prev(j - 1) + (if (q(j - 1) == c) 0 else 1) // substitute / match
            val del = cur(j - 1) + 1 // delete from query
            val ins = prev(j) + 1 // insert into query
            if (del < m) m = del
            if (ins < m) m = ins
            m
          }
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < n) cur(hi + 1) = inf // guard above the band
      cells += hi - lo + 1
      rowMin
    }

    /** Extend row `src` (after `consumed` path code points) across the
      * edge code points `es[from, until)`, alternating between the
      * scratch rows `out` and `tmp` so the last row lands in `out`; `src`
      * is only read. Returns the last row's minimum, or stops at the
      * first row whose minimum exceeds `bound` and returns that. An empty
      * edge copies `src` and returns its minimum over every cell.
      */
    def edge(src: Array[Int], es: Array[Int], from: Int, until: Int, consumed: Int,
        bound: Int, out: Array[Int], tmp: Array[Int]): Int = {
      val m = until - from
      if (m == 0) {
        System.arraycopy(src, 0, out, 0, n + 1)
        var mn = Int.MaxValue
        var j = 0
        while (j <= n) { if (src(j) < mn) mn = src(j); j += 1 }
        return mn
      }
      var prev = src
      var mn = inf
      var k = 0
      while (k < m) {
        val cur = if (((m - 1 - k) & 1) == 0) out else tmp
        mn = row(prev, cur, es(from + k), consumed + k + 1)
        if (mn > bound) return mn
        prev = cur
        k += 1
      }
      mn
    }
  }

  /** Pruned depth-first traversal of a compiled [[TrieIndex]], emitting
    * every dictionary word within `maxDist` edits of `query` as (word,
    * distance, `n_occurrences`), plus the work it did.
    *
    * This is the query kernel of every path - serving ("Roxie-style",
    * reference PrefixTree.ecl:459-588), broadcast and partition-local
    * batch, streaming: the whole LOOP of ecl:572-584 runs locally, so a
    * batch of queries runs with no per-iteration Spark jobs.
    *
    * Prunes (same two as the reference's join predicates, ecl:434,
    * 440-441, kept deliberately un-combined - see SURVEY.md B.q3):
    *   1. branch-and-bound: descend an edge only while the DP row-min
    *      stays <= maxDist, leaving the edge at the first row above it;
    *   2. subtree length window: `len(query) <= _max + maxDist` and
    *      `len(query) >= _min - maxDist`.
    * `SearchStats.nodes` counts the children examined, `cells` the band
    * cells computed: branch-and-bound should keep both far below brute
    * force, which examines every word.
    *
    * `cut` is the self-join cut: the pre-order position of the query's
    * own end-cap when the query is a word of this index. The walk then
    * emits only end-caps after `cut` and skips whole (neither examined
    * nor counted) every child subtree `[c, end(c))` that ends at or
    * before it, so searching every end-cap from its own position finds
    * each unordered pair of distinct words once (Trie-Join's shape). The
    * cut keys on position, not on word order: a forest is numbered in
    * collect order, which is not `String` order. `-1` (the default)
    * cuts nothing: every child is examined, as without the parameter.
    */
  def searchIndex(
      index: TrieIndex,
      query: String,
      maxDist: Int,
      cut: Int = -1
  ): (ArrayBuffer[(String, Int, Long)], SearchStats) = {
    val s = new IndexSearch(index.flat, codePoints(query), maxDist, cut + 1)
    s.go(0, index.flat.nodes, initRow(s.n), 0, 0)
    (s.out, SearchStats(s.visited, s.dp.cells))
  }

  /** Scratch rows for a walk: two per recursion level (rows live only
    * along the current path, so a query allocates O(depth) rows).
    */
  private final class Rows(n: Int) {
    private val pool = new ArrayBuffer[Array[Int]]()
    def apply(i: Int): Array[Int] = {
      while (pool.length <= i) pool += new Array[Int](n + 1)
      pool(i)
    }
  }

  /** One [[searchIndex]] walk. A child `c` is examined only when
    * `end(c) > live`: `live` = cut + 1 is the first position after the
    * query's own end-cap, so an end-cap at or before the cut and a subtree
    * holding nothing after it are both skipped, and `live` = 0 (no cut)
    * passes every child.
    */
  private final class IndexSearch(ix: TrieIndex.Flat, q: Array[Int], maxDist: Int, live: Int) {
    val n: Int = q.length
    val dp = new Dp(q, maxDist)
    val out = new ArrayBuffer[(String, Int, Long)]()
    var visited = 0L
    private val rows = new Rows(n)

    /** The children `[first, until)` of a node whose path is `consumed`
      * code points long, with DP row `row`.
      */
    def go(first: Int, until: Int, row: Array[Int], consumed: Int, level: Int): Unit = {
      var c = first
      while (c < until) {
        if (ix.end(c) > live) {
          visited += 1
          if (ix.isWord(c)) {
            // row(n) is only valid inside the band; outside it the true
            // distance exceeds maxDist by the banding argument
            if (consumed - n <= maxDist && n - consumed <= maxDist) {
              val d = row(n)
              if (d <= maxDist) out += ((ix.words(c), d, ix.occ(c)))
            }
          } else if (n <= ix.maxLen(c) + maxDist && n >= ix.minLen(c) - maxDist) {
            val from = ix.edgeOff(c)
            val until = ix.edgeOff(c + 1)
            val next = rows(2 * level)
            val rowMin = dp.edge(row, ix.edgeCp, from, until, consumed, maxDist, next, rows(2 * level + 1))
            if (rowMin <= maxDist) go(c + 1, ix.end(c), next, consumed + until - from, level + 1)
          }
        }
        c = ix.end(c)
      }
    }
  }

  /** [[searchIndex]] over a trie given as a children lookup (`parent id
    * -> children`, null when none): the same DP step, prunes, counters
    * and answer order, for callers that hold only a lookup function.
    * Each edge label is decoded to code points on the way down; serving
    * and broadcast mode use the compiled index instead.
    */
  def searchCounted(
      query: String,
      maxDist: Int,
      children: Long => Array[PTNode]
  ): (ArrayBuffer[(String, Int, Long)], SearchStats) = {
    val qcp = codePoints(query)
    val n = qcp.length
    val dp = new Dp(qcp, maxDist)
    val out = new ArrayBuffer[(String, Int, Long)]()
    val rows = new Rows(n)
    var visited = 0L
    var edge = new Array[Int](16) // decoded label; free again before the descent
    def go(nodeId: Long, row: Array[Int], consumed: Int, level: Int): Unit = {
      val kids = children(nodeId)
      if (kids == null) return
      var i = 0
      while (i < kids.length) {
        val child = kids(i)
        visited += 1
        if (child.is_word) {
          if (consumed - n <= maxDist && n - consumed <= maxDist) {
            val d = row(n)
            if (d <= maxDist) out += ((child.node, d, child.n_occurrences))
          }
        } else if (n <= child._max + maxDist && n >= child._min - maxDist) {
          if (edge.length < child.node.length) edge = new Array[Int](child.node.length)
          val m = codePointsInto(child.node, edge, 0)
          val next = rows(2 * level)
          if (dp.edge(row, edge, 0, m, consumed, maxDist, next, rows(2 * level + 1)) <= maxDist)
            go(child.id, next, consumed + m, level + 1)
        }
        i += 1
      }
    }
    go(0L, initRow(n), 0, 0)
    (out, SearchStats(visited, dp.cells))
  }

  /** All dictionary words extending `prefix`, as (word, n_occurrences),
    * by trie descent over a compiled [[TrieIndex]]: follow the edges
    * matching the prefix (path compression: an edge may consume part of
    * the prefix or extend past its end), then emit every end-cap of each
    * matched subtree - a contiguous pre-order range. O(|prefix| +
    * |answer|) node visits, where a flat scan is O(|dictionary|).
    * Because the trie is a per-partition forest with shared shallow
    * paths duplicated, the descent fans out over each partition's root
    * children; identical words colocate, so no result is ever duplicated.
    * Matching is by UTF-16 unit, exactly `word.startsWith(prefix)`.
    */
  def prefixIndex(index: TrieIndex, prefix: String): ArrayBuffer[(String, Long)] = {
    val f = index.flat
    val out = new ArrayBuffer[(String, Long)]()
    def collect(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        // an end-cap ends its path: anything under it is not a word here
        if (f.isWord(i)) { out += ((f.words(i), f.occ(i))); i = f.end(i) }
        else i += 1
      }
    }
    // prefix chars consumed after edge c from `pos`: -1 on a mismatch,
    // Int.MaxValue once the prefix ends inside (or at the end of) the edge
    def matchEdge(c: Int, start: Int): Int = {
      var pos = start
      var k = f.edgeOff(c)
      val until = f.edgeOff(c + 1)
      while (k < until) {
        val cp = f.edgeCp(k)
        val units = Character.charCount(cp)
        var u = 0
        while (u < units) {
          if (pos == prefix.length) return Int.MaxValue
          val ch = if (units == 1) cp.toChar
            else if (u == 0) Character.highSurrogate(cp) else Character.lowSurrogate(cp)
          if (prefix.charAt(pos) != ch) return -1
          pos += 1
          u += 1
        }
        k += 1
      }
      if (pos == prefix.length) Int.MaxValue else pos
    }
    def go(first: Int, until: Int, pos: Int): Unit = {
      var c = first
      while (c < until) {
        // end-caps during descent spell words shorter than the prefix
        if (!f.isWord(c)) {
          val r = matchEdge(c, pos)
          if (r == Int.MaxValue) collect(c, f.end(c))
          else if (r >= 0) go(c + 1, f.end(c), r)
        }
        c = f.end(c)
      }
    }
    if (prefix.isEmpty) collect(0, f.nodes) else go(0, f.nodes, 0)
    out
  }

  /** Streaming radix-trie builder over one partition's SORTED word
    * iterator (duplicates allowed - they arrive adjacent and collapse
    * into one end-cap carrying `n_occurrences`, preserving the
    * reference's per-occurrence multiplicity, ecl:205-208, without
    * duplicate rows). Single ascending pass, O(max word length) state.
    *
    * Spark-first redesign of the reference's construction pipeline (two
    * directional `ITERATE` boundary-marking passes + id assignment +
    * NORMALIZE + ROLLUP, /root/reference/PrefixTree.ecl:101-299): because
    * words arrive sorted, all words sharing a prefix are contiguous, so a
    * stack of "open" nodes along the current path builds the identical
    * path-compressed trie in one scan. Each node is emitted exactly once,
    * already carrying its final `_max`/`_min` subtree aggregates - the
    * reference's SORT+ROLLUP dedup stage (ecl:289-299) disappears
    * entirely.
    *
    * Invariants on the emitted table (checked by PrefixTreeSpec):
    * end-caps == input word set; every parent id exists (or 0); edge
    * labels along a path concatenate to the word; `_min <= len <= _max`
    * along each word's path.
    */
  def buildTrie(partitionId: Int, sortedWords: Iterator[String]): Iterator[PTNode] =
    buildTrieCounted(partitionId, sortedWords.map((_, 1L)))

  /** Weighted form of [[buildTrie]]: each input row carries a
    * pre-aggregated occurrence count (runs of equal words SUM their
    * counts into one end-cap). This is what makes incremental
    * maintenance cheap: a trie decomposes losslessly into
    * (word, n_occurrences) end-caps, so merging new corpus slices
    * rebuilds from vocabulary-sized weighted words, never the raw
    * corpus (PrefixTree.merge).
    */
  def buildTrieCounted(
      partitionId: Int,
      sortedWordCounts: Iterator[(String, Long)]
  ): Iterator[PTNode] = {
    val pidBase = partitionId.toLong << PTNode.PART_SHIFT
    var counter = 0L
    def nextId(): Long = { counter += 1; pidBase | counter }

    // Open node on the current path: label spans depths [start, start+label.length)
    final class Open(
        var start: Int,
        var label: String,
        var id: Long,
        var parentId: Long,
        var minLen: Int,
        var maxLen: Int
    )
    var stack: List[Open] = Nil
    val out = new ArrayBuffer[PTNode]()
    var prev: String = null

    def emit(o: Open): Unit =
      out += PTNode(o.id, o.parentId, o.maxLen, o.minLen, is_word = false, partitionId, o.label)

    def lcp(a: String, b: String): Int = {
      val m = math.min(a.length, b.length)
      var i = 0
      while (i < m && a.charAt(i) == b.charAt(i)) i += 1
      // never split a surrogate pair: if the divergence lands on the low
      // half (both strings share the high half at i-1), back up so the
      // edge boundary stays on a code-point boundary
      if (i > 0 && i < m && Character.isHighSurrogate(a.charAt(i - 1))) i -= 1
      i
    }

    def insert(w: String, count: Long): Unit = {
      val wlen = cpLen(w) // _max/_min are code-point lengths (query parity)
      val div = if (prev == null) 0 else lcp(prev, w)
      // 1. finalize open nodes lying entirely beyond the divergence point
      while (stack.nonEmpty && stack.head.start >= div) {
        emit(stack.head); stack = stack.tail
      }
      // 2. split an open node whose span crosses the divergence point:
      //    the deep part [div, end) belongs only to already-seen words ->
      //    finalize it now, keeping the ORIGINAL id (already referenced as
      //    parent by emitted descendants); the shallow part [start, div)
      //    stays open under a fresh id and becomes the new branch point.
      if (stack.nonEmpty) {
        val top = stack.head
        val end = top.start + top.label.length
        if (end > div) {
          val shallowId = nextId()
          out += PTNode(top.id, shallowId, top.maxLen, top.minLen,
            is_word = false, partitionId, top.label.substring(div - top.start))
          top.label = top.label.substring(0, div - top.start)
          top.id = shallowId
        }
      }
      // 3. every remaining open node is an ancestor of w: fold in its length
      var s = stack
      while (s.nonEmpty) {
        val o = s.head
        if (wlen < o.minLen) o.minLen = wlen
        if (wlen > o.maxLen) o.maxLen = wlen
        s = s.tail
      }
      // 4. open the new edge for w's suffix (div < w.length always holds
      //    for sorted distinct input) and emit w's end-cap under it
      val parent = if (stack.isEmpty) 0L else stack.head.id
      val fresh = new Open(div, w.substring(div), nextId(), parent, wlen, wlen)
      stack = fresh :: stack
      out += PTNode(nextId(), fresh.id, wlen, wlen, is_word = true, partitionId, w,
        n_occurrences = count)
      prev = w
    }

    new Iterator[PTNode] {
      private var idx = 0
      private var done = false
      private var lookahead: (String, Long) = null
      private def fill(): Unit = {
        if (idx >= out.length) { out.clear(); idx = 0 }
        while (idx >= out.length && !done) {
          var w = lookahead
          lookahead = null
          if (w == null && sortedWordCounts.hasNext) w = sortedWordCounts.next()
          if (w == null) { // input exhausted: finalize the remaining path
            while (stack.nonEmpty) { emit(stack.head); stack = stack.tail }
            done = true
          } else {
            // sorted input: all rows of this word are adjacent - consume
            // the whole run and fold the counts into one end-cap
            var count = w._2
            while (lookahead == null && sortedWordCounts.hasNext) {
              val nxt = sortedWordCounts.next()
              if (nxt._1 == w._1) count += nxt._2 else lookahead = nxt
            }
            insert(w._1, count)
          }
        }
      }
      def hasNext: Boolean = { fill(); idx < out.length }
      def next(): PTNode = { fill(); val r = out(idx); idx += 1; r }
    }
  }
}
