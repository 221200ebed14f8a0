package graft.ptree

import scala.collection.immutable

/** A collected trie compiled to primitive arrays: the serving-side index
  * every in-memory search runs over ([[Kernels.searchIndex]],
  * [[Kernels.prefixIndex]]).
  *
  * Layout: nodes are numbered in pre-order over the virtual root's
  * children, so node `i`'s subtree is `[i, end(i))`; its children are
  * `c = i + 1; while (c < end(i)) c = end(c)` and the root's children walk
  * `[0, size)` the same way. Children keep their collect order. Per node:
  * `ids`, `end`, `minLen`/`maxLen` (the subtree's word-length window), `occ`,
  * `isWord` and `part` (`compute_node`); internal edge labels are one
  * code-point array sliced by `edgeOff` (end-caps carry an empty slice);
  * end-caps keep their word String in `words`, because it is the output.
  * No `PTNode` object is kept: per node this is ~41 B plus 4 B per edge
  * code point, against ~128 B plus the label String for the boxed
  * `Map[parent_id -> Array[PTNode]]`, and a broadcast serializes ten
  * arrays rather than an object graph of three objects per node.
  *
  * It is still that Map: `get`/`iterator` rebuild each parent's
  * `Array[PTNode]` on demand, field by field and in the order
  * `trie.collect().groupBy(_.parent_id)` gives, for callers that hold a
  * `Map` (a lambda walk over [[Kernels.searchCounted]], `valuesIterator`
  * sizing). Those views allocate per call; the searches never do.
  *
  * The arrays live in [[TrieIndex.Flat]], which is what broadcast mode
  * ships: Spark's Kryo serializer writes any Scala `Map` subclass as its
  * entries and reads it back as a plain `HashMap`, so a broadcast
  * `TrieIndex` would arrive as the boxed Map it replaces, or not as a
  * `TrieIndex` at all.
  */
final class TrieIndex private[graft] (private[graft] val flat: TrieIndex.Flat)
    extends immutable.AbstractMap[Long, Array[PTNode]] with Serializable {
  import flat._

  /** Edge label of internal node `i` (the word on an end-cap). */
  private def label(i: Int): String =
    if (isWord(i)) words(i) else new String(edgeCp, edgeOff(i), edgeOff(i + 1) - edgeOff(i))

  /** `[first, until)` of `parent`'s children, or null when it has none. */
  private def childSpan(parent: Long): (Int, Int) =
    if (parent == 0L) { if (nodes == 0) null else (0, nodes) }
    else {
      val i = byId.indexOf(parent)
      if (i < 0 || end(i) == i + 1) null else (i + 1, end(i))
    }

  private def children(parent: Long, first: Int, until: Int): Array[PTNode] = {
    var k = 0
    var c = first
    while (c < until) { k += 1; c = end(c) }
    val out = new Array[PTNode](k)
    k = 0
    c = first
    while (c < until) {
      out(k) = PTNode(ids(c), parent, maxLen(c), minLen(c), isWord(c), part(c), label(c), occ(c))
      k += 1
      c = end(c)
    }
    out
  }

  /** id -> node position, built on the first lookup by id only. */
  @transient private lazy val byId: TrieIndex.LongIntTable = {
    val t = new TrieIndex.LongIntTable(nodes)
    var i = 0
    while (i < nodes) { t.put(ids(i), i); i += 1 }
    t
  }

  /** Pre-order position of the node with id `id`, or -1. */
  private[ptree] def positionOf(id: Long): Int = byId.indexOf(id)

  def get(key: Long): Option[Array[PTNode]] = childSpan(key) match {
    case null => None
    case (first, until) => Some(children(key, first, until))
  }

  /** The root's group, then every node with children, in pre-order. */
  def iterator: Iterator[(Long, Array[PTNode])] = {
    val inner = Iterator.range(0, nodes).filter(i => end(i) > i + 1)
      .map(i => ids(i) -> children(ids(i), i + 1, end(i)))
    (if (nodes == 0) Iterator.empty else Iterator.single(0L -> children(0L, 0, nodes))) ++ inner
  }

  def removed(key: Long): immutable.Map[Long, Array[PTNode]] = immutable.Map.from(this).removed(key)

  def updated[V1 >: Array[PTNode]](key: Long, value: V1): immutable.Map[Long, V1] =
    immutable.Map.from[Long, V1](this).updated(key, value)
}

object TrieIndex {

  /** The index's arrays (layout in [[TrieIndex]]): a plain class, so Java
    * and Kryo serialization alike ship it as arrays.
    */
  final class Flat private[TrieIndex] (
      val ids: Array[Long],
      val end: Array[Int],
      val minLen: Array[Int],
      val maxLen: Array[Int],
      val occ: Array[Long],
      val isWord: Array[Boolean],
      val part: Array[Int],
      val edgeOff: Array[Int],
      val edgeCp: Array[Int],
      val words: Array[String]
  ) extends Serializable {
    /** Number of trie nodes (the virtual root excluded). */
    def nodes: Int = ids.length
  }

  /** `index` itself when it is already compiled, else its compiled form:
    * every serving call takes a `Map` and searches this.
    */
  def of(index: Map[Long, Array[PTNode]]): TrieIndex = index match {
    case t: TrieIndex => t
    case m =>
      val n = m.valuesIterator.map(_.length).sum
      val parents = new Array[Long](n)
      val nodes = new Array[PTNode](n)
      var k = 0
      m.foreach { case (p, kids) =>
        kids.foreach { c => parents(k) = p; nodes(k) = c; k += 1 }
      }
      compile(parents, nodes)
  }

  /** Compile collected trie rows (any order; siblings keep theirs). */
  def apply(rows: Array[PTNode]): TrieIndex = compile(rows.map(_.parent_id), rows)

  /** `nodes(r)` is a child of `parents(r)` (0 = the root). Fails on a node
    * whose parent is missing, or any node the root cannot reach (a parent
    * cycle): a search would silently skip it.
    */
  private def compile(parents: Array[Long], nodes: Array[PTNode]): TrieIndex = {
    val n = nodes.length
    val row = new LongIntTable(n)
    var r = 0
    while (r < n) {
      require(nodes(r).id != 0L && row.indexOf(nodes(r).id) < 0,
        s"trie node id ${nodes(r).id} is reserved or repeated")
      row.put(nodes(r).id, r)
      r += 1
    }
    // children as linked lists, PREPENDED so the head is the last child:
    // pushing a list head-first onto the DFS stack pops it in order
    val head = Array.fill(n + 1)(-1) // slot n = the root
    val next = new Array[Int](n)
    r = 0
    while (r < n) {
      val p = if (parents(r) == 0L) n else row.indexOf(parents(r))
      require(p >= 0, s"trie node ${nodes(r).id}: parent ${parents(r)} is not in the index")
      next(r) = head(p)
      head(p) = r
      r += 1
    }
    // iterative pre-order DFS (document-length words make deep paths)
    val order = new Array[Int](n) // pre-order position -> row
    val parentPos = new Array[Int](n)
    val stack = new Array[Int](n)
    val stackParent = new Array[Int](n)
    var top = 0
    var c = head(n)
    while (c >= 0) { stack(top) = c; stackParent(top) = -1; top += 1; c = next(c) }
    var pos = 0
    while (top > 0) {
      top -= 1
      val cur = stack(top)
      order(pos) = cur
      parentPos(pos) = stackParent(top)
      c = head(cur)
      while (c >= 0) { stack(top) = c; stackParent(top) = pos; top += 1; c = next(c) }
      pos += 1
    }
    require(pos == n, s"${n - pos} trie nodes are not reachable from the root")
    // subtree sizes, children before parents (they come later in pre-order)
    val end = Array.fill(n)(1)
    var i = n - 1
    while (i >= 0) { if (parentPos(i) >= 0) end(parentPos(i)) += end(i); i -= 1 }
    i = 0
    while (i < n) { end(i) += i; i += 1 }
    val ids = new Array[Long](n)
    val minLen, maxLen, part = new Array[Int](n)
    val occ = new Array[Long](n)
    val isWord = new Array[Boolean](n)
    val words = new Array[String](n)
    val edgeOff = new Array[Int](n + 1)
    i = 0
    while (i < n) {
      val nd = nodes(order(i))
      ids(i) = nd.id; minLen(i) = nd._min; maxLen(i) = nd._max; occ(i) = nd.n_occurrences
      isWord(i) = nd.is_word; part(i) = nd.compute_node
      edgeOff(i + 1) = edgeOff(i) + (if (nd.is_word) 0 else Kernels.cpLen(nd.node))
      if (nd.is_word) words(i) = nd.node
      i += 1
    }
    val edgeCp = new Array[Int](edgeOff(n))
    i = 0
    while (i < n) {
      val nd = nodes(order(i))
      if (!nd.is_word) Kernels.codePointsInto(nd.node, edgeCp, edgeOff(i))
      i += 1
    }
    new TrieIndex(new Flat(ids, end, minLen, maxLen, occ, isWord, part, edgeOff, edgeCp, words))
  }

  /** Open-addressing Long -> Int map (ids are never 0, the empty key). */
  private[ptree] final class LongIntTable(capacity: Int) extends Serializable {
    private val mask = Integer.highestOneBit(math.max(4, capacity * 2) - 1) * 2 - 1
    private val keys = new Array[Long](mask + 1)
    private val vals = new Array[Int](mask + 1)

    private def slot(k: Long): Int = {
      var s = (java.lang.Long.hashCode(k * 0x9E3779B97F4A7C15L) & mask)
      while (keys(s) != 0L && keys(s) != k) s = (s + 1) & mask
      s
    }

    def put(k: Long, v: Int): Unit = { val s = slot(k); keys(s) = k; vals(s) = v }

    def indexOf(k: Long): Int = { val s = slot(k); if (keys(s) == k && k != 0L) vals(s) else -1 }
  }
}
