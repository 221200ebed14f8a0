package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.graftbridge.Bridge.InputType
import org.apache.spark.sql.internal.types.{AbstractArrayType, StringTypeWithCollation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's scalar kernels.
  *
  * Each generates code as a single static call into [[ExprKernels]] - no
  * UDF serde, inline null handling, and the call participates in
  * whole-stage codegen like any built-in function. This is the
  * preference-order step above "Scala UDF" for operators Spark lacks
  * (the reference implements the same kernels as embedded C++,
  * /root/reference/PrefixTree.ecl:101-394).
  */
object ExprKernels {

  // universal-hash coefficients are deterministic in (numHashes, seed):
  // computed once per JVM, not per row. private[graft]: the DuckDB oracle
  // SQL is generated from the SAME arrays (the registry interpolates them),
  // so the independent reimplementation uses identical constants.
  private val coefCache =
    new java.util.concurrent.ConcurrentHashMap[Long, (Array[Long], Array[Long])]()
  private[graft] def coefs(numHashes: Int, seed: Int): (Array[Long], Array[Long]) =
    coefCache.computeIfAbsent(
      (numHashes.toLong << 32) | (seed.toLong & 0xffffffffL),
      _ => {
        val rnd = new scala.util.Random(seed)
        (Array.fill(numHashes)(1 + rnd.nextInt(Int.MaxValue - 1).toLong),
          Array.fill(numHashes)(rnd.nextInt(Int.MaxValue).toLong))
      })

  // MessageDigest is not thread-safe; one instance per task thread
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def md5Bytes(s: String): Array[Byte] =
    md5OfBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[graft] def md5OfBytes(data: Array[Byte]): Array[Byte] = {
    val d = md5Local.get()
    d.reset()
    d.digest(data)
  }

  /** First 60 bits of md5(s) as a non-negative long - the value of
    * `('0x' || substr(md5(s), 1, 15))::BIGINT` in DuckDB and
    * `conv(substr(md5(s), 1, 15), 16, 10)` in Spark SQL. The sketch
    * kernels hash through md5 EXACTLY so an independent engine can
    * replay the whole sketch pipeline from its own md5 (the correctness
    * oracle does); 60 bits keeps the value unambiguous in a signed 64-bit
    * integer in every engine.
    */
  private[graft] def md5Hash60(s: String): Long = {
    val b = md5Bytes(s)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v >>> 4 // big-endian u64 of bytes 0..7 >> 4 == first 15 hex chars
  }

  /** Full first 8 md5 bytes, big-endian (== hex chars 1..16): bit j of
    * the result is `(lo >> j) & 1` for j<32 / `(hi >> (j-32)) & 1`
    * otherwise, with hi/lo the 32-bit ints from hex chars 1-8 / 9-16.
    */
  private[graft] def md5Hash64(s: String): Long = {
    val b = md5Bytes(s)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (b(i) & 0xffL); i += 1 }
    v
  }

  /** MinHash signature of a document: tokenize, word-shingle, hash,
    * running minima - one pass, primitive arrays. The per-shingle base
    * value goes through md5 (not xxhash64) so the signature is
    * recomputable in ANY engine with md5 - the DuckDB oracle replays
    * this pipeline independently and must hash-match.
    */
  def minhashSig(text: UTF8String, numHashes: Int, shingleLen: Int, seed: Int): ArrayData = {
    val shingles = graft.ops.DedupOps.shingleArray(if (text == null) null else text.toString, shingleLen)
    val prime = 2147483647L
    val (as, bs) = coefs(numHashes, seed)
    val sig = Array.fill(numHashes)(prime)
    var i = 0
    while (i < shingles.length) {
      val s = md5Hash60(shingles(i)) % prime
      var h = 0
      while (h < numHashes) {
        val v = (as(h) * s + bs(h)) % prime
        if (v < sig(h)) sig(h) = v
        h += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over whitespace tokens. */
  def simhash(text: UTF8String): Long =
    graft.ops.DedupOps.simhashKernel(if (text == null) null else text.toString)

  private val LN2 = math.log(2.0)

  /** Shannon entropy (bits, log base 2) of the string's code-point
    * distribution - the value DuckDB's `entropy()` aggregate yields over
    * the string's characters, computed as H = log2(n) - (sum c*ln c)/n/ln 2
    * so a single pass over a count map suffices. Empty string = 0 (one
    * char has entropy 0 either way). Code points, not UTF-16 units: a
    * surrogate pair counts as ONE symbol, matching any engine that
    * iterates characters.
    */
  def charEntropy(text: UTF8String): Double = {
    val str = text.toString
    val len = str.length
    if (len == 0) return 0.0
    // ASCII fast path: the long tail of corpus text is one-byte chars;
    // spill the rest to a map keyed by code point
    val ascii = new Array[Int](128)
    var rest: java.util.HashMap[Integer, Integer] = null
    var i = 0
    var n = 0
    while (i < len) {
      val cp = str.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (rest == null) rest = new java.util.HashMap[Integer, Integer]()
        val prev = rest.get(cp)
        rest.put(cp, if (prev == null) 1 else prev + 1)
      }
      i += Character.charCount(cp)
      n += 1
    }
    var acc = 0.0
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 1) acc += c * math.log(c.toDouble) // c == 1 contributes ln(1) = 0
      j += 1
    }
    if (rest != null) {
      val it = rest.values().iterator()
      while (it.hasNext) { val c = it.next().toDouble; if (c > 1) acc += c * math.log(c) }
    }
    (math.log(n.toDouble) - acc / n) / LN2
  }

  /** Unicode NFC normalization. Fast path: `isNormalized` is a
    * no-allocation scan (quick-check property), and nearly all corpus
    * text is already NFC - the input UTF8String is returned as-is and
    * only denormalized rows pay the String round-trip.
    */
  def nfcNormalize(text: UTF8String): UTF8String = {
    val str = text.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Fraction of agreeing positions between two equal-length signature
    * arrays - the MinHash Jaccard estimate. Null elements never agree;
    * a length mismatch compares only the common prefix against the
    * left length (signatures from minhash_sig always have equal length).
    */
  def sigAgree(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n == 0) return 0.0
    val m = math.min(n, b.numElements())
    var eq = 0
    var i = 0
    while (i < m) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  /** Distinct word n-shingles as an array<string> (see
    * DedupOps.shingleArray) - the tokenize+shingle step as one codegen'd
    * kernel call instead of a Scala UDF on the corpus-sized hot path.
    */
  def shingles(text: UTF8String, n: Int): ArrayData = {
    val arr = graft.ops.DedupOps.shingleArray(if (text == null) null else text.toString, n)
    val out = new Array[Any](arr.length)
    var i = 0
    while (i < arr.length) { out(i) = UTF8String.fromString(arr(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** Distinct character n-grams (code-point windows, first-occurrence
    * order - the same contract as array_distinct over substring windows)
    * as one codegen kernel call: the trigram-index build runs this over
    * every corpus row, where the transform/sequence/array_distinct
    * expression tree it replaces is interpreted per element and breaks
    * whole-stage codegen.
    */
  def charGrams(text: UTF8String, n: Int): ArrayData = {
    val str = text.toString
    val cps = str.codePoints().toArray
    if (cps.length < n) return new GenericArrayData(new Array[Any](0))
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= cps.length) {
      seen.add(new String(cps, i, n))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Dot product of two numeric arrays, accumulated in double in element
    * order - matching the `aggregate(zip_with(...))` formulation it
    * replaces on ALL inputs (those higher-order functions are
    * interpreted per element and do not participate in whole-stage
    * codegen): equal-length non-null arrays give the bit-identical sum;
    * length-mismatched arrays and null elements give NULL (zip_with pads
    * the short side with null, which the old tree propagated to NULL).
    * `checkNull` is a compile-time constant from the array type's
    * containsNull, so the common non-null path pays no per-element test.
    */
  def vecDotBoxed(a: ArrayData, b: ArrayData, isFloat: Boolean, checkNull: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    if (checkNull) {
      var i = 0
      while (i < n) { if (a.isNullAt(i) || b.isNullAt(i)) return null; i += 1 }
    }
    var acc = 0.0
    var i = 0
    if (isFloat) while (i < n) { acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1 }
    else while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    java.lang.Double.valueOf(acc)
  }

  /** L2 norm, double accumulation in element order; null elements give
    * NULL (matching sqrt(aggregate(transform(...))) null propagation).
    */
  def vecNormBoxed(a: ArrayData, isFloat: Boolean, checkNull: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (checkNull) {
      var i = 0
      while (i < n) { if (a.isNullAt(i)) return null; i += 1 }
    }
    var acc = 0.0
    var i = 0
    if (isFloat) while (i < n) { val x = a.getFloat(i).toDouble; acc += x * x; i += 1 }
    else while (i < n) { val x = a.getDouble(i); acc += x * x; i += 1 }
    java.lang.Double.valueOf(math.sqrt(acc))
  }

  // random-hyperplane matrices are deterministic in (dim, bits, seed):
  // generated once per JVM in the same order as the expression-tree
  // formulation they replace (Array.fill(bits, dim)(rnd.nextGaussian()))
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int, Long), Array[Array[Double]]]()
  private[graft] def planes(dim: Int, bits: Int, seed: Long): Array[Array[Double]] =
    planeCache.computeIfAbsent((dim, bits, seed), _ => {
      val rnd = new scala.util.Random(seed)
      Array.fill(bits, dim)(rnd.nextGaussian())
    })

  /** Sign-pattern LSH bucket id from `bits` fixed random hyperplanes:
    * bit i is set iff dot(vec, plane_i) >= 0. A vector whose length
    * differs from `dim`, or with a null element, gets bucket 0 - the
    * same value the per-plane expression tree produced (zip_with padded
    * with null -> null dot -> `when(null >= 0)` false for every bit).
    */
  def rhBucket(v: ArrayData, dim: Int, bits: Int, seed: Long, isFloat: Boolean, checkNull: Boolean): Long = {
    val n = v.numElements()
    if (n != dim) return 0L
    if (checkNull) {
      var i = 0
      while (i < n) { if (v.isNullAt(i)) return 0L; i += 1 }
    }
    val ps = planes(dim, bits, seed)
    var bucket = 0L
    var b = 0
    while (b < bits) {
      val p = ps(b)
      var acc = 0.0
      var i = 0
      if (isFloat) while (i < n) { acc += v.getFloat(i).toDouble * p(i); i += 1 }
      else while (i < n) { acc += v.getDouble(i) * p(i); i += 1 }
      if (acc >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  /** Indices of the `n` centroids with the largest dot product against
    * `v`, in descending-dot order; ties keep the lower centroid index -
    * matching the stable `sortBy(-dot)` of the boxed-UDF formulation
    * this replaces (the IVF coarse-quantization step,
    * SimilarityOps.ivfTopK). Dots accumulate in double in element order
    * over min(|v|, |centroid|) elements; a null element (possible only
    * when the array type allows nulls) gives NULL.
    */
  def nearestLists(
      v: ArrayData,
      cents: Array[Array[Double]],
      n: Int,
      isFloat: Boolean,
      checkNull: Boolean): ArrayData = {
    val len = v.numElements()
    if (checkNull) {
      var i = 0
      while (i < len) { if (v.isNullAt(i)) return null; i += 1 }
    }
    val nC = cents.length
    val scores = new Array[Double](nC)
    var ci = 0
    while (ci < nC) {
      val c = cents(ci)
      val m = math.min(len, c.length)
      var acc = 0.0
      var i = 0
      if (isFloat) while (i < m) { acc += v.getFloat(i).toDouble * c(i); i += 1 }
      else while (i < m) { acc += v.getDouble(i) * c(i); i += 1 }
      scores(ci) = acc
      ci += 1
    }
    // selection instead of sort: k is tiny (nProbe), nC is small, and a
    // repeated stable argmax reproduces the stable-sort tie order exactly
    val out = new Array[Int](math.min(math.max(n, 0), nC))
    val used = new Array[Boolean](nC)
    var j = 0
    while (j < out.length) {
      var best = -1
      var bestD = 0.0
      var c2 = 0
      while (c2 < nC) {
        if (!used(c2) && (best < 0 || scores(c2) > bestD)) { best = c2; bestD = scores(c2) }
        c2 += 1
      }
      used(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Greedy first-fit sequence packing: assign each size (in order) to
    * the current bin while the bin's fill stays <= `budget`; otherwise
    * close it and start the next. Returns the bin index per element.
    * An element larger than the budget occupies a bin alone (it can
    * never share); bins are contiguous 0..max. Sequential by definition
    * - which is exactly why it lives in a kernel over one group's array
    * rather than a window function: prefix sums can't express the
    * reset-on-overflow recurrence.
    */
  def greedyPack(sizes: ArrayData, budget: Int, checkNull: Boolean): ArrayData = {
    val n = sizes.numElements()
    if (checkNull) {
      var i = 0
      while (i < n) { if (sizes.isNullAt(i)) return null; i += 1 }
    }
    val out = new Array[Int](n)
    var bin = 0
    var fill = 0
    var i = 0
    while (i < n) {
      val s = sizes.getInt(i)
      if (i > 0 && fill + s > budget) { bin += 1; fill = s }
      else fill += s
      out(i) = bin
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Jaro-Winkler similarity, matching DuckDB's `jaro_winkler_similarity`
    * exactly (the correctness oracle): computed over UTF-8 BYTES (as
    * DuckDB does - empirically pinned, including non-ASCII), mismatched
    * match-position count FLOORED after halving, empty input or no
    * matches -> 0, Winkler prefix boost (p = 0.1, prefix capped at 4
    * bytes) applied only when the Jaro score strictly exceeds 0.7,
    * case-sensitive.
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    jwBytes(a.getBytes, b.getBytes)

  private[graft] def jaroWinklerImpl(s1: String, s2: String): Double =
    jwBytes(s1.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      s2.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  // per-thread scratch flags: the kernel runs millions of times per task
  // in blocked-pair scans, and two fresh boolean arrays per call made
  // allocation the dominant cost. Grown on demand, cleared per call.
  private val jwScratch = new ThreadLocal[(Array[Boolean], Array[Boolean])] {
    override def initialValue(): (Array[Boolean], Array[Boolean]) =
      (new Array[Boolean](64), new Array[Boolean](64))
  }

  private def jwBytes(b1: Array[Byte], b2: Array[Byte]): Double = {
    val len1 = b1.length
    val len2 = b2.length
    if (len1 == 0 || len2 == 0) return 0.0
    if (java.util.Arrays.equals(b1, b2)) return 1.0
    val window = math.max(0, math.max(len1, len2) / 2 - 1)
    var scratch = jwScratch.get()
    if (scratch._1.length < len1 || scratch._2.length < len2) {
      scratch = (new Array[Boolean](math.max(len1, scratch._1.length * 2)),
        new Array[Boolean](math.max(len2, scratch._2.length * 2)))
      jwScratch.set(scratch)
    }
    val m1 = scratch._1
    val m2 = scratch._2
    java.util.Arrays.fill(m1, 0, len1, false)
    java.util.Arrays.fill(m2, 0, len2, false)
    var matches = 0
    var i = 0
    while (i < len1) {
      val hi = math.min(len2 - 1, i + window)
      var j = math.max(0, i - window)
      var found = false
      while (j <= hi && !found) {
        if (!m2(j) && b1(i) == b2(j)) {
          m1(i) = true; m2(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < len1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (b1(i) != b2(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // t / 2 INTEGER division: DuckDB floors the halved transposition
    // count (empirically pinned: an odd 3-cycle scores 0.9444, not the
    // exact-halving 0.9167)
    val jaro = (m / len1 + m / len2 + (m - t / 2) / m) / 3.0
    if (jaro > 0.7) {
      val cap = math.min(4, math.min(len1, len2))
      var l = 0
      while (l < cap && b1(l) == b2(l)) l += 1
      jaro + l * 0.1 * (1.0 - jaro)
    } else jaro
  }

  // per-thread byte histogram for jwUpper: zeroed after every call by
  // re-walking the first string's bytes (touch-only reset, O(len) not
  // O(256))
  private val jwHist = new ThreadLocal[Array[Int]] {
    override def initialValue(): Array[Int] = new Array[Int](256)
  }

  /** Cheap UPPER BOUND on [[jaroWinkler]] from byte content alone:
    * Jaro matches are a matching between equal bytes, so m <= c where
    * c = multiset-common byte count; with the m/min and transposition
    * terms bounded by 1, jaro <= (c/|a| + c/|b| + 1)/3, and the Winkler
    * boost (l <= 4, p = 0.1) lifts any jaro to at most
    * 0.6*jaro + 0.4. Two histogram passes, no DP window - an order of
    * magnitude cheaper than the kernel, so `jw_upper(a,b) >= t` prunes
    * blocked scans before the O(|a|*|b|) kernel runs (lossless:
    * jaroWinkler(a,b) <= jwUpper(a,b) always, spec-pinned).
    */
  def jwUpper(a: UTF8String, b: UTF8String): Double = {
    val b1 = a.getBytes
    val b2 = b.getBytes
    val len1 = b1.length
    val len2 = b2.length
    if (len1 == 0 || len2 == 0) return 0.0
    val h = jwHist.get()
    var i = 0
    while (i < len1) { h(b1(i) & 0xff) += 1; i += 1 }
    var c = 0
    i = 0
    while (i < len2) {
      val v = b2(i) & 0xff
      if (h(v) > 0) { h(v) -= 1; c += 1 }
      i += 1
    }
    i = 0
    while (i < len1) { h(b1(i) & 0xff) = 0; i += 1 }
    val jaroUb = (c.toDouble / len1 + c.toDouble / len2 + 1.0) / 3.0
    0.6 * jaroUb + 0.4
  }

  // ---- merge-table BPE token counting -------------------------------

  /** The checked-in merge table (public GPT-2 merges.txt format: one
    * "left right" pair per line in learned order, '#' comments skipped),
    * loaded once per JVM from the classpath - it ships inside the
    * library jar, so every executor reads the same table with no side
    * channel. Rank map key is "left right" (tokens never contain
    * spaces: the pre-tokenizer splits on whitespace).
    */
  private[graft] lazy val bpeRanks: java.util.HashMap[String, Integer] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "graft/bpe_merges.txt missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val m = new java.util.HashMap[String, Integer]()
      var rank = 0
      for (line <- src.getLines(); t = line.trim
           if t.nonEmpty && !t.startsWith("#")) {
        require(t.count(_ == ' ') == 1, s"malformed merges line: '$t'")
        m.put(t, rank)
        rank += 1
      }
      m
    } finally src.close()
  }

  // pre-tokenizer over ALREADY-LOWERCASED text: letter runs, digit runs,
  // single punctuation marks - the same three disjoint classes as
  // TextOps.subwordPattern. The whitespace class is spelled OUT rather
  // than \s: Java's \s is [ \t\n\x0B\f\r] but RE2's (the oracle
  // engine's) omits \x0B, so a vertical tab would tokenize differently
  // across engines under \s. One explicit spelling, zero drift.
  private[graft] val bpeUnitRegex = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]"
  private val bpeUnitPattern = java.util.regex.Pattern.compile(bpeUnitRegex)

  // distinct-unit memo: the corpus vocabulary is tiny next to the corpus
  // (word frequencies are Zipfian), so per-row work collapses to a hash
  // lookup; capped so an adversarial corpus of unique tokens cannot
  // grow the map unboundedly
  private val bpeMemo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private val BpeMemoCap = 1 << 20

  /** Number of BPE tokens `unit` splits into under the merge table.
    * Exactly one merge per iteration: find the lowest-rank adjacent
    * pair (ranks are unique, so no tie exists) and fuse its LEFTMOST
    * occurrence - the same single-step rule the DuckDB oracle replays
    * as a recursive CTE, so counts are bit-identical by construction.
    */
  private def bpeUnitLen(unit: String): Int =
    mergeLoopLen(unit, bpeRanks, bpeMemo)

  /** The shared single-step merge loop: split `unit` into code points,
    * repeatedly fuse the LEFTMOST occurrence of the lowest-rank
    * adjacent pair under `ranks` (keys "left right"; ranks unique, so
    * no tie exists), count the surviving tokens. Memoized per distinct
    * unit (Zipfian vocabularies collapse per-row work to a lookup),
    * capped so adversarial unique-token corpora cannot grow the memo
    * unboundedly.
    */
  private[graft] def mergeLoopLen(
      unit: String,
      ranks: java.util.HashMap[String, Integer],
      memo: java.util.concurrent.ConcurrentHashMap[String, Integer]): Int = {
    val cached = memo.get(unit)
    if (cached != null) return cached.intValue()
    var toks = new java.util.ArrayList[String]()
    var i = 0
    while (i < unit.length) {
      val cp = unit.codePointAt(i)
      toks.add(unit.substring(i, i + Character.charCount(cp)))
      i += Character.charCount(cp)
    }
    var done = false
    while (!done && toks.size() > 1) {
      var bestRank = Int.MaxValue
      var bestPos = -1
      var j = 0
      while (j < toks.size() - 1) {
        val r = ranks.get(toks.get(j) + " " + toks.get(j + 1))
        if (r != null && r.intValue() < bestRank) { bestRank = r.intValue(); bestPos = j }
        j += 1
      }
      if (bestPos < 0) done = true
      else {
        toks.set(bestPos, toks.get(bestPos) + toks.get(bestPos + 1))
        toks.remove(bestPos + 1)
      }
    }
    val n = toks.size()
    if (memo.size() < BpeMemoCap) memo.put(unit, Integer.valueOf(n))
    n
  }

  /** Total BPE token count of `text` (callers pass LOWERCASED text so
    * Spark's `lower` and the oracle engine's `lower` stay the parity
    * pair; the kernel itself never case-folds).
    */
  def bpeCount(text: UTF8String): Int = {
    val m = bpeUnitPattern.matcher(text.toString)
    var total = 0
    while (m.find()) total += bpeUnitLen(m.group())
    total
  }

  // ---- HTML numeric character references ----------------------------

  // same pattern string as TextOps.numRefPattern (Java-regex/RE2 common
  // subset; the oracle replays it in RE2)
  private val numRefPattern = java.util.regex.Pattern.compile(
    "&#[0-9]{1,7};|&#[xX][0-9A-Fa-f]{1,6};")

  /** Decode HTML numeric character references (`&#233;`, `&#x1F600;`)
    * to their code points; out-of-range (0, > U+10FFFF) and
    * surrogate-range references stay literal (the lenient-browser
    * rule). One linear pass, ONE output builder - this replaces a
    * split + extract_all + interpreted aggregate() refold whose lambda
    * re-evaluated the whole upstream strip chain per step (no
    * common-subexpression elimination inside interpreted HOFs;
    * measured ~3 ms/doc, 16s of a 5,000-doc scan).
    */
  def decodeNumRefs(s: UTF8String): UTF8String = {
    val str = s.toString
    val m = numRefPattern.matcher(str)
    if (!m.find()) return s
    val sb = new java.lang.StringBuilder(str.length)
    var last = 0
    do {
      sb.append(str, last, m.start())
      val r = m.group()
      val isHex = r.charAt(2) == 'x' || r.charAt(2) == 'X'
      // bounded by the pattern: <= 7 decimal / <= 6 hex digits, fits long
      val cp = java.lang.Long.parseLong(
        r.substring(if (isHex) 3 else 2, r.length - 1), if (isHex) 16 else 10)
      if (cp >= 1L && cp <= 0x10FFFFL && !(cp >= 0xD800L && cp <= 0xDFFFL))
        sb.appendCodePoint(cp.toInt)
      else sb.append(r)
      last = m.end()
    } while (m.find())
    sb.append(str, last, str.length)
    UTF8String.fromString(sb.toString)
  }

  // ---- public-suffix-list eTLD+1 fold --------------------------------

  private val ipLiteralPattern =
    java.util.regex.Pattern.compile("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$")
  private val dotSplit = java.util.regex.Pattern.compile("\\.")

  /** Registrable domain (eTLD+1) of `host` under the PSL longest-match
    * algorithm, against a [[PslTable]] of hashed rule sets: exception
    * rules first (longest k wins), else public-suffix length = the
    * largest matching exact-k / wildcard-(b+1) rule (floor 1), then the
    * last psLen+1 labels; IP literals and bracketed/colon hosts pass
    * through whole. O(#rule-group) HashSet probes per host - the
    * column spelling of the same fold is a greatest-of-InSet CASE
    * chain whose per-ROW interpretation measured whole seconds of the
    * web tier wherever it could not ride the distinct-host broadcast
    * (e.g. inside per-link filter lambdas).
    */
  def pslFold(host: UTF8String, t: PslTable): UTF8String = {
    val h = host.toString
    if (ipLiteralPattern.matcher(h).matches() ||
      h.indexOf(':') >= 0 || h.startsWith("[")) return host
    val parts = dotSplit.split(h, -1)
    val n = parts.length
    def lastK(k: Int): String = {
      val start = math.max(n - k, 0)
      val sb = new java.lang.StringBuilder()
      var i = start
      while (i < n) {
        if (i > start) sb.append('.')
        sb.append(parts(i))
        i += 1
      }
      sb.toString
    }
    // exceptions override everything, longest first (t.eks descending)
    var i = 0
    while (i < t.eks.length) {
      val k = t.eks(i)
      if (n >= k && t.esets(i).contains(lastK(k)))
        return UTF8String.fromString(lastK(k))
      i += 1
    }
    var psLen = 1
    i = 0
    while (i < t.ks.length) {
      val k = t.ks(i)
      if (k > psLen && n >= k && t.sets(i).contains(lastK(k))) psLen = k
      i += 1
    }
    i = 0
    while (i < t.wks.length) {
      val b = t.wks(i)
      if (b + 1 > psLen && n >= b + 1 && t.wsets(i).contains(lastK(b)))
        psLen = b + 1
      i += 1
    }
    if (n > psLen) UTF8String.fromString(lastK(psLen + 1)) else host
  }

  // ---- n-gram repetition stats --------------------------------------

  private val wsSplit = java.util.regex.Pattern.compile("\\s+")

  /** (n_grams, max_rep) of the token n-gram multiset of `text`:
    * whitespace tokens of the space-trimmed lowercased text (the
    * DedupOps.tokens recipe - UTF8String.trim is Spark's space-only
    * trim, UTF8String.toLowerCase is Spark's locale-independent
    * lower), all n-grams with duplicates kept (short/empty docs yield
    * the single joined gram, "" for empty - the sequence/slice
    * semantics of the column form), max_rep = the largest multiplicity
    * (== the longest equal-run after sort_array, which is what the
    * interpreted sort+fold this replaces computed at ~1.2 ms/doc).
    */
  def repStats(text: UTF8String, n: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val t = text.trim().toLowerCase().toString
    val raw = wsSplit.split(t, -1)
    val toks = new java.util.ArrayList[String](raw.length)
    var i = 0
    while (i < raw.length) { if (raw(i).nonEmpty) toks.add(raw(i)); i += 1 }
    val last = math.max(toks.size() - n, 0)
    val counts = new java.util.HashMap[String, Integer]((last + 1) * 2)
    var best = 0
    i = 0
    while (i <= last) {
      val sb = new java.lang.StringBuilder()
      var j = i
      val end = math.min(i + n, toks.size())
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks.get(j))
        j += 1
      }
      val c = counts.merge(sb.toString, Integer.valueOf(1),
        (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
      if (c.intValue() > best) best = c.intValue()
      i += 1
    }
    new GenericInternalRow(Array[Any]((last + 1).toLong, best.toLong))
  }

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken) as one
    * O(len) pass: hash every k-code-point shingle (h = first 8 md5 hex
    * digits of its UTF-8 bytes, the exact value `conv(substring(md5(
    * substr(text,pos,k)),1,8),16,10)` computes), pack the rightmost-on-
    * ties rule as c = h * 2^31 + (2^31-1-pos), and take the min of each
    * full trailing-w window with a monotonic deque. Selections of the
    * same shingle instance are provably CONSECUTIVE (anything that
    * displaces the current min is newer and outlives it), so dedup is a
    * last-selected check - the array is exactly the DISTINCT (pos, fp)
    * set the explode + per-doc window-min + filter + distinct plan
    * produced, without the len(text)-rows-per-doc explode, the shuffle
    * into a per-doc window sort, or the distinct exchange.
    *
    * Returns array<struct<pos:int, fp:bigint>>; empty when the text has
    * fewer than k + w - 1 code points (no full window).
    */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val str = text.toString
    val cps = str.codePoints().toArray
    val nSh = cps.length - k + 1
    if (nSh < w) return new GenericArrayData(new Array[Any](0))
    val bytes = str.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val off = new Array[Int](cps.length + 1)
    var i = 0
    var b = 0
    while (i < cps.length) {
      off(i) = b
      val cp = cps(i)
      b += (if (cp < 0x80) 1 else if (cp < 0x800) 2
            else if (cp < 0x10000) 3 else 4)
      i += 1
    }
    off(cps.length) = b
    val md = md5Local.get()
    val half = 1L << 31
    val c = new Array[Long](nSh)
    var p = 0
    while (p < nSh) {
      md.reset()
      md.update(bytes, off(p), off(p + k) - off(p))
      val d = md.digest()
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      c(p) = h * half + (half - 1L - (p + 1L))
      p += 1
    }
    val deque = new Array[Int](nSh)
    var head = 0
    var tail = 0
    val out = new java.util.ArrayList[Any](2 * nSh / (w + 1) + 4)
    var lastSel = -1
    var e = 0
    while (e < nSh) {
      while (tail > head && c(deque(tail - 1)) > c(e)) tail -= 1
      deque(tail) = e
      tail += 1
      if (deque(head) < e - w + 1) head += 1
      if (e >= w - 1) {
        val sel = deque(head)
        if (sel != lastSel) {
          lastSel = sel
          val cm = c(sel)
          out.add(new GenericInternalRow(Array[Any](
            (half - 1L - (cm % half)).toInt, cm / half)))
        }
      }
      e += 1
    }
    new GenericArrayData(out.toArray)
  }

  // ---- GPT-2-convention byte-level BPE ------------------------------

  /** The GPT-2 bytes-to-unicode table (public algorithm from the GPT-2
    * release): printable/extended bytes ('!'..'~', '¡'..'¬',
    * '®'..'ÿ') map to their own code points; every other
    * byte b maps to 256+k in first-gap order - so ' ' becomes 'Ġ'
    * (U+0120), the space marker every vocab.bpe-format merge table
    * spells. All targets are BMP, one char each.
    */
  private[graft] val gpt2ByteEncoder: Array[Char] = {
    val enc = new Array[Char](256)
    val keep = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ'))
      .map(_.toInt).toSet
    var n = 0
    var b = 0
    while (b < 256) {
      if (keep(b)) enc(b) = b.toChar
      else { enc(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    enc
  }

  /** The GPT-2 pre-tokenizer (the published pattern): contraction
    * suffixes, space-led letter/digit/punctuation runs, and the
    * trailing-whitespace lookahead split. Unicode classes, case
    * preserved - unlike [[bpeUnitRegex]] this is the REAL GPT-2 unit
    * rule, so a user's actual vocab.bpe tokenizes identically here.
    */
  private[graft] val gpt2UnitRegex =
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"
  // UNICODE_CHARACTER_CLASS: the published tokenizer is a Python
  // regex whose \s is Unicode-wide (U+00A0, U+3000, ...); Java's \s
  // is ASCII-only without the flag, which would mis-bucket Unicode
  // whitespace into the punctuation class next to real punctuation
  private[graft] val gpt2UnitFlags =
    java.util.regex.Pattern.UNICODE_CHARACTER_CLASS
  private val gpt2UnitPattern =
    java.util.regex.Pattern.compile(gpt2UnitRegex, gpt2UnitFlags)

  /** The checked-in vocab.bpe-format merge table (GPT-2 byte-level
    * conventions: `#version` header required, Ġ-marked word-initial
    * tokens), loaded once per JVM from the classpath - drop in a real
    * published vocab.bpe and [[bpeCountPublic]] budgets with it.
    */
  private[graft] lazy val gpt2Ranks: java.util.HashMap[String, Integer] = {
    val in = getClass.getResourceAsStream("/graft/vocab.bpe")
    require(in != null, "graft/vocab.bpe missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val lines = src.getLines().toList
      require(lines.nonEmpty && lines.head.startsWith("#version:"),
        "vocab.bpe must start with a #version header (GPT-2 format)")
      val m = new java.util.HashMap[String, Integer]()
      var rank = 0
      for (line <- lines.tail; t = line.trim
           if t.nonEmpty && !t.startsWith("#")) {
        require(t.count(_ == ' ') == 1, s"malformed vocab.bpe line: '$t'")
        m.put(t, rank)
        rank += 1
      }
      m
    } finally src.close()
  }

  private val gpt2Memo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  /** Number of BPE tokens of `text` under the GPT-2 conventions: the
    * published pre-tokenizer over the RAW text (no case fold - GPT-2
    * distinguishes case), each unit's UTF-8 bytes through
    * [[gpt2ByteEncoder]], then the same single-step merge loop as
    * [[bpeCount]] against the vocab.bpe ranks. Byte-level means NO
    * unknown tokens: any input, any script, always tokenizes.
    */
  def bpeCountPublic(text: UTF8String): Int = {
    val m = gpt2UnitPattern.matcher(text.toString)
    var total = 0
    while (m.find()) {
      val bytes = m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val sb = new java.lang.StringBuilder(bytes.length)
      var i = 0
      while (i < bytes.length) { sb.append(gpt2ByteEncoder(bytes(i) & 0xFF)); i += 1 }
      total += mergeLoopLen(sb.toString, gpt2Ranks, gpt2Memo)
    }
    total
  }

  // ---- language-ID scoring ------------------------------------------

  /** The trained language-ID weight table, loaded once per JVM from the
    * checked-in classpath resource (same single-parse stance as
    * [[bpeRanks]]): language codes in alphabetical order (the argmax
    * tie-break order) and gram -> per-language integer weight vector.
    * TextOps.langProfiles derives its Seq/Map view (which the registry
    * interpolates into the DuckDB oracle) from THIS parse, so kernel
    * and oracle score from one table by construction.
    */
  private[graft] lazy val langTable
      : (Array[String], java.util.HashMap[String, Array[Long]]) = {
    val in = getClass.getResourceAsStream("/graft/lang_profiles.tsv")
    require(in != null, "graft/lang_profiles.tsv missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val lines = src.getLines().toList
      require(lines.nonEmpty && lines.head.startsWith("#langs\t"),
        "lang_profiles.tsv must start with a #langs header")
      val langs = lines.head.stripPrefix("#langs\t").split(",")
      val m = new java.util.HashMap[String, Array[Long]](1 << 15)
      lines.tail.filter(_.nonEmpty).foreach { l =>
        val cut = l.indexOf('\t')
        val ws = l.substring(cut + 1).split(",").map(_.toLong)
        require(ws.length == langs.length,
          s"profile row arity ${ws.length} != ${langs.length}")
        m.put(l.substring(0, cut), ws)
      }
      (langs, m)
    } finally src.close()
  }

  // language codes pre-encoded once: the kernel returns shared
  // immutable UTF8Strings, never re-encodes per row
  private lazy val langUtf8: Array[UTF8String] =
    langTable._1.map(UTF8String.fromString)
  private val langUnd = UTF8String.fromString("und")

  /** Language of an ALREADY-NORMALIZED-AND-CAPPED text (callers pass
    * `substring(langNormalize(text), 1, 256)`): slide 1/2/3-code-point
    * gram windows (code points, the unit Spark's `substring` counts,
    * so the gram multiset is identical to the column-side
    * `norm.substr(i, n)` spelling), sum each matched gram's weight
    * vector from [[langTable]], argmax with first-index (alphabetical)
    * tie-break; 'und' on zero vocabulary hits.
    *
    * This is the O(grams) HashMap form of what a map-literal
    * `element_at` spells as a LINEAR probe of all ~12k keys per gram
    * inside an interpreted fold - measured ~51 ms per 300-char doc
    * (9.1M UTF8String equality tests); here ~765 hash lookups.
    */
  def langIdScore(norm: UTF8String): UTF8String = {
    val langs = langTable._1
    val table = langTable._2
    val s = norm.toString
    val nChars = s.length
    // code-point start offsets (UTF-16 units); idx(cp) .. idx(cp+n)
    // bounds the n-code-point gram starting at code point cp
    val idx = new Array[Int](nChars + 1)
    var cpCount = 0
    var i = 0
    while (i < nChars) {
      idx(cpCount) = i
      i += Character.charCount(s.codePointAt(i))
      cpCount += 1
    }
    idx(cpCount) = nChars
    val sums = new Array[Long](langs.length)
    var hits = 0L
    var n = 1
    while (n <= 3) {
      var j = 0
      while (j + n <= cpCount) {
        val w = table.get(s.substring(idx(j), idx(j + n)))
        if (w != null) {
          hits += 1
          var k = 0
          while (k < sums.length) { sums(k) += w(k); k += 1 }
        }
        j += 1
      }
      n += 1
    }
    if (hits == 0L) langUnd
    else {
      // strictly-greater keeps the FIRST max: alphabetical first-wins,
      // the same rule as array_position(sums, array_max(sums))
      var best = 0
      var k = 1
      while (k < sums.length) { if (sums(k) > sums(best)) best = k; k += 1 }
      langUtf8(best)
    }
  }

  /** Bit test against a byte-packed bitset (bit `p` lives at
    * `bytes(p >> 3)`, mask `1 << (p & 7)`). Out-of-range positions are
    * absent, not an error - a Bloom probe with a stale/smaller filter
    * degrades to "not contained" instead of crashing the scan.
    */
  def bitsetContains(pos: Long, bits: Array[Byte]): Boolean =
    pos >= 0 && pos < bits.length.toLong * 8 &&
      (bits((pos >>> 3).toInt) & (1 << (pos & 7).toInt)) != 0

  /** Position `i` of shingle `sh` in an `mBits`-wide Bloom filter: the
    * first 15 hex chars (60 bits, always positive) of
    * `md5(sh || "#" || i)` mod `mBits` - EXACTLY Spark's
    * `conv(substring(md5(concat(sh, '#i')), 1, 15), 16, 10) % m` and
    * DuckDB's `('0x' || substr(md5(sh || '#' || i), 1, 15))::BIGINT % m`,
    * computed without building the hex string: the first 15 hex chars
    * are bytes 0..6 plus the high nibble of byte 7.
    */
  def bloomPos(shBytes: Array[Byte], suffix: Array[Byte], mBits: Int): Long = {
    val md = md5Local.get()
    md.reset()
    md.update(shBytes)
    md.update(suffix)
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v = (v << 4) | ((d(7) & 0xF0L) >>> 4)
    v % mBits
  }

  /** Product-quantization encode: for each of the `M = codebooks.length`
    * subspaces, the code of the codeword maximizing
    * `dot(x_m, cw) - halfNormSq(cw)` (== argmin squared L2, but spelled
    * as a dot so the DuckDB oracle replays the EXACT same arithmetic -
    * `list_dot_product` and this loop both accumulate in element order).
    * Ties break to the smaller code. `x` must be the NORMALIZED vector
    * in double; subspace `m` covers elements `[m*sub, (m+1)*sub)`.
    */
  def pqEncode(
      x: ArrayData,
      codebooks: Array[Array[Array[Double]]],
      halfs: Array[Array[Double]]
  ): ArrayData = {
    val m = codebooks.length
    val out = new Array[Any](m)
    var s = 0
    var off = 0
    while (s < m) {
      val cws = codebooks(s)
      val sub = cws(0).length
      var best = 0
      var bestScore = Double.NegativeInfinity
      var c = 0
      while (c < cws.length) {
        val cw = cws(c)
        var d = 0.0
        var i = 0
        while (i < sub) { d += x.getDouble(off + i) * cw(i); i += 1 }
        val score = d - halfs(s)(c)
        if (score > bestScore) { bestScore = score; best = c }
        c += 1
      }
      out(s) = best
      off += sub
      s += 1
    }
    new GenericArrayData(out)
  }

  /** Count of shingles whose `kHashes` Bloom positions are ALL set -
    * the per-document probe loop of TextOps.bloomProbe fused into one
    * kernel call (the equivalent `size(filter(shs, forall(...)))`
    * expression tree evaluates ~|shs| x k interpreted md5/conv column
    * trees per row and breaks whole-stage codegen).
    */
  /** `"#i"` suffix bytes for hash indexes 0..k-1 (hoisted out of the
    * per-row probe loop - see BloomFlagCount, which caches one array
    * per expression instance instead of allocating per row).
    */
  def bloomSuffixes(kHashes: Int): Array[Array[Byte]] = {
    val suffixes = new Array[Array[Byte]](kHashes)
    var i = 0
    while (i < kHashes) {
      suffixes(i) = ("#" + i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      i += 1
    }
    suffixes
  }

  def bloomFlagCount(shs: ArrayData, bits: Array[Byte], mBits: Int,
      suffixes: Array[Array[Byte]]): Int = {
    val kHashes = suffixes.length
    val n = shs.numElements()
    var flagged = 0
    var j = 0
    while (j < n) {
      val sh = shs.getUTF8String(j)
      // a null element cannot be flagged (matches the HOF formulation,
      // where null positions make the AND null, filtered out)
      if (sh != null) {
        val shBytes = sh.getBytes
        var all = true
        var h = 0
        while (all && h < kHashes) {
          all = bitsetContains(bloomPos(shBytes, suffixes(h), mBits), bits)
          h += 1
        }
        if (all) flagged += 1
      }
      j += 1
    }
    flagged
  }
}

/** What every native expression shares: it evaluates as ONE static call
  * `ExprKernels.<kernel>(inputs..., constants...)`. A subclass declares
  * the kernel name, [[inputTypes]], `dataType`, its [[constants]] and a
  * one-line `nullSafeEval`; this base derives the rest:
  *
  *   - the type check, from `inputTypes` (Catalyst's `ExpectsInputTypes`);
  *   - null handling: a null input gives null without calling the
  *     kernel, and a kernel declared [[kernelMayReturnNull]] gives null
  *     when it returns null (its result is boxed);
  *   - codegen: the same call as Java source, the constants rendered as
  *     Java literals (Int, Long, Boolean) or as plan reference objects
  *     (any other value: rule tables, bitsets, centroid and codebook
  *     matrices), so the call fuses into whole-stage codegen like any
  *     built-in function.
  *
  * The interpreted eval and the generated code spell the call twice;
  * `FunctionsSpec` runs every function both ways on the same rows.
  */
trait KernelCall extends ExpectsInputTypes {
  protected def kernel: String
  protected def constants: Seq[Any] = Nil
  protected def kernelMayReturnNull: Boolean = false

  protected def callCode(ctx: CodegenContext, ev: ExprCode, inputs: Seq[String]): String = {
    val args = inputs ++ constants.map {
      case i: Int     => i.toString
      case l: Long    => s"${l}L"
      case b: Boolean => b.toString
      case o: AnyRef  => ctx.addReferenceObj(kernel + "Const", o, o.getClass.getCanonicalName)
    }
    val call = s"graft.functions.ExprKernels.$kernel(${args.mkString(", ")})"
    if (!kernelMayReturnNull) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName(kernel)
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }
  }
}

/** [[KernelCall]] over one input column. Serializable, so that a task's
  * deserialized plan keeps `kernel`: Java deserialization constructs the
  * first non-Serializable superclass with no arguments.
  */
abstract class UnaryKernel(protected val kernel: String)
    extends UnaryExpression with KernelCall with Serializable {
  override def nullable: Boolean = kernelMayReturnNull || child.nullable
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => callCode(ctx, ev, Seq(c)))
}

/** [[KernelCall]] over two input columns; Serializable like [[UnaryKernel]]. */
abstract class BinaryKernel(protected val kernel: String)
    extends BinaryExpression with KernelCall with Serializable {
  override def nullable: Boolean = kernelMayReturnNull || left.nullable || right.nullable
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => callCode(ctx, ev, Seq(a, b)))
}

/** Input types the kernels accept. */
private[functions] object KernelTypes {
  /** Any string type, whatever its collation. */
  val Str: InputType = StringTypeWithCollation(
    supportsTrimCollation = true, supportsCaseSpecifier = true, supportsAccentSpecifier = true)
  /** A float or double vector, elements nullable or not. */
  val Vector: InputType = Bridge.anyOf(AbstractArrayType(FloatType), AbstractArrayType(DoubleType))

  /** The `isFloat` flag of a vector kernel: array<float>, not array<double>. */
  def floatElems(dt: DataType): Boolean = dt.asInstanceOf[ArrayType].elementType == FloatType
  /** The `checkNull` flag of an array kernel: the array type allows null elements. */
  def nullElems(dt: DataType): Boolean = dt.asInstanceOf[ArrayType].containsNull
}
import KernelTypes.{Str, Vector, floatElems, nullElems}

/** `minhash_sig(text)` - array<bigint> MinHash signature. */
case class MinHashSig(
    child: Expression,
    numHashes: Int = 64,
    shingleLen: Int = 3,
    seed: Int = 42
) extends UnaryKernel("minhashSig") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(numHashes, shingleLen, seed)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.minhashSig(v.asInstanceOf[UTF8String], numHashes, shingleLen, seed)
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
  override def prettyName: String = "minhash_sig"
}

/** `sig_agree(a, b)` - fraction of agreeing positions between two
  * array<bigint> MinHash signatures (the Jaccard estimate).
  */
case class SigAgree(left: Expression, right: Expression) extends BinaryKernel("sigAgree") {
  override def inputTypes: Seq[InputType] =
    Seq(AbstractArrayType(LongType), AbstractArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.sigAgree(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): SigAgree =
    copy(left = l, right = r)
  override def prettyName: String = "sig_agree"
}

/** `shingles(text, n)` - distinct word n-shingles as array<string>. */
case class Shingles(child: Expression, n: Int) extends UnaryKernel("shingles") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)
  override def nullSafeEval(v: Any): Any = ExprKernels.shingles(v.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(c: Expression): Shingles = copy(child = c)
  override def prettyName: String = "shingles"
}

/** `char_grams(text, n)` - distinct character n-grams as array<string>. */
case class CharGrams(child: Expression, n: Int) extends UnaryKernel("charGrams") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(n)
  override def nullSafeEval(v: Any): Any = ExprKernels.charGrams(v.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(c: Expression): CharGrams = copy(child = c)
  override def prettyName: String = "char_grams"
}

/** `simhash64(text)` - 64-bit SimHash fingerprint. */
case class SimHash64(child: Expression) extends UnaryKernel("simhash") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any = ExprKernels.simhash(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
  override def prettyName: String = "simhash64"
}

/** `char_entropy(text)` - Shannon entropy in bits (log2) of the string's
  * code-point distribution. A scan-speed garbage/binary detector:
  * natural-language text sits in a narrow entropy band (~3.5-4.5 bits
  * for English), while base64 blobs, minified code, and key-mash noise
  * sit well above and single-char runs well below.
  */
case class CharEntropy(child: Expression) extends UnaryKernel("charEntropy") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any = ExprKernels.charEntropy(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): CharEntropy = copy(child = c)
  override def prettyName: String = "char_entropy"
}

/** `nfc_normalize(text)` - Unicode NFC canonical composition, the one
  * text-preprocessing primitive Spark has no builtin for (DuckDB:
  * `nfc_normalize`; reference pipelines normalize before tokenizing so
  * "é" composed and "e"+U+0301 decomposed dedup as the same word).
  */
case class NfcNormalize(child: Expression) extends UnaryKernel("nfcNormalize") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = child.dataType
  override def nullSafeEval(v: Any): Any = ExprKernels.nfcNormalize(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): NfcNormalize = copy(child = c)
  override def prettyName: String = "nfc_normalize"
}

/** `vec_dot(a, b)` - dot product of two array<float|double> columns in
  * double. Both sides must have the same element type. NULL beyond null
  * inputs: length mismatch / null elements (see the kernel).
  */
case class VecDot(left: Expression, right: Expression) extends BinaryKernel("vecDotBoxed") {
  // the right side must match the left's element type
  override def inputTypes: Seq[InputType] = Seq(Vector, left.dataType match {
    case ArrayType(et @ (FloatType | DoubleType), _) => AbstractArrayType(et)
    case _                                           => Vector
  })
  override def dataType: DataType = DoubleType
  override protected def kernelMayReturnNull: Boolean = true
  private def checkNull: Boolean = nullElems(left.dataType) || nullElems(right.dataType)
  override protected def constants: Seq[Any] = Seq(floatElems(left.dataType), checkNull)
  override def nullSafeEval(a: Any, b: Any): Any = ExprKernels.vecDotBoxed(
    a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], floatElems(left.dataType), checkNull)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VecDot =
    copy(left = l, right = r)
  override def prettyName: String = "vec_dot"
}

/** `vec_norm(a)` - L2 norm of an array<float|double> column in double. */
case class VecNorm(child: Expression) extends UnaryKernel("vecNormBoxed") {
  override def inputTypes: Seq[InputType] = Seq(Vector)
  override def dataType: DataType = DoubleType
  override protected def kernelMayReturnNull: Boolean = true
  override protected def constants: Seq[Any] =
    Seq(floatElems(child.dataType), nullElems(child.dataType))
  override def nullSafeEval(v: Any): Any = ExprKernels.vecNormBoxed(
    v.asInstanceOf[ArrayData], floatElems(child.dataType), nullElems(child.dataType))
  override protected def withNewChildInternal(c: Expression): VecNorm = copy(child = c)
  override def prettyName: String = "vec_norm"
}

/** `rh_bucket(vec)` - random-hyperplane LSH bucket id (bigint) from
  * `bits` fixed Gaussian hyperplanes, deterministic in (dim, bits, seed).
  */
case class RhBucket(child: Expression, dim: Int, bits: Int, seed: Long)
    extends UnaryKernel("rhBucket") {
  override def inputTypes: Seq[InputType] = Seq(Vector)
  override def dataType: DataType = LongType
  override protected def constants: Seq[Any] =
    Seq(dim, bits, seed, floatElems(child.dataType), nullElems(child.dataType))
  override def nullSafeEval(v: Any): Any = ExprKernels.rhBucket(v.asInstanceOf[ArrayData],
    dim, bits, seed, floatElems(child.dataType), nullElems(child.dataType))
  override protected def withNewChildInternal(c: Expression): RhBucket = copy(child = c)
  override def prettyName: String = "rh_bucket"
}

/** `greedy_pack(sizes)` - greedy first-fit bin index per element for a
  * token-budgeted sequence-packing pass (see ExprKernels.greedyPack).
  * Accepts containsNull arrays (every parquet/JSON array column defaults
  * to containsNull=true): a null ELEMENT yields NULL at eval time.
  */
case class GreedyPack(child: Expression, budget: Int) extends UnaryKernel("greedyPack") {
  override def inputTypes: Seq[InputType] = Seq(AbstractArrayType(IntegerType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernelMayReturnNull: Boolean = true
  override protected def constants: Seq[Any] = Seq(budget, nullElems(child.dataType))
  override def nullSafeEval(v: Any): Any =
    ExprKernels.greedyPack(v.asInstanceOf[ArrayData], budget, nullElems(child.dataType))
  override protected def withNewChildInternal(c: Expression): GreedyPack = copy(child = c)
  override def prettyName: String = "greedy_pack"
}

/** `nearest_lists(vec)` - indices of the `n` nearest centroids by dot
  * product, descending (the IVF coarse-quantization step). The centroid
  * matrix is DATA-dependent (k-means output computed on the driver), so
  * unlike RhBucket's derive-from-seed planes it travels inside the
  * expression as a reference object: Spark broadcasts the task binary
  * (plan + references) once per stage, which is the same shipping cost
  * as the explicit `SparkContext.broadcast` of the UDF formulation this
  * replaces - but the kernel is codegen'd and allocation-free.
  */
case class NearestLists(child: Expression, cents: Array[Array[Double]], n: Int)
    extends UnaryKernel("nearestLists") {
  override def inputTypes: Seq[InputType] = Seq(Vector)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def kernelMayReturnNull: Boolean = true
  override protected def constants: Seq[Any] =
    Seq(cents, n, floatElems(child.dataType), nullElems(child.dataType))
  override def nullSafeEval(v: Any): Any = ExprKernels.nearestLists(v.asInstanceOf[ArrayData],
    cents, n, floatElems(child.dataType), nullElems(child.dataType))
  override protected def withNewChildInternal(c: Expression): NearestLists = copy(child = c)
  override def prettyName: String = "nearest_lists"
}

/** `jaro_winkler(a, b)` - Jaro-Winkler similarity in [0, 1]; semantics
  * identical to DuckDB's `jaro_winkler_similarity` (see
  * ExprKernels.jaroWinkler). The complementary string-similarity family
  * member to the trie's Levenshtein: no usable triangle-inequality
  * pruning exists for it, so it runs as a scan-side scalar over
  * blocked/bounded candidate pairs rather than an index traversal.
  */
case class JaroWinkler(left: Expression, right: Expression) extends BinaryKernel("jaroWinkler") {
  override def inputTypes: Seq[InputType] = Seq(Str, Str)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaroWinkler =
    copy(left = l, right = r)
  override def prettyName: String = "jaro_winkler"
}

/** `jw_upper(a, b)` - cheap sound upper bound on `jaro_winkler(a, b)`
  * (see ExprKernels.jwUpper); `jw_upper(a,b) >= t` is the content-based
  * prefilter for JW-thresholded scans.
  */
case class JwUpper(left: Expression, right: Expression) extends BinaryKernel("jwUpper") {
  override def inputTypes: Seq[InputType] = Seq(Str, Str)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    ExprKernels.jwUpper(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JwUpper =
    copy(left = l, right = r)
  override def prettyName: String = "jw_upper"
}

/** `bpe_count(loweredText)` - total merge-table BPE token count (int).
  * The merge table is the checked-in public-format merges file (see
  * ExprKernels.bpeRanks); the count a training pipeline budgets by.
  */
case class BpeCount(child: Expression) extends UnaryKernel("bpeCount") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = ExprKernels.bpeCount(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): BpeCount = copy(child = c)
  override def prettyName: String = "bpe_count"
}

/** `decode_num_refs(text)` - HTML numeric character references decoded
  * to their code points, invalid/surrogate/out-of-range refs left
  * literal (see ExprKernels.decodeNumRefs). One codegen kernel call
  * replacing an interpreted HOF refold in the stripHtml chain.
  */
case class DecodeNumRefs(child: Expression) extends UnaryKernel("decodeNumRefs") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = ExprKernels.decodeNumRefs(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): DecodeNumRefs = copy(child = c)
  override def prettyName: String = "decode_num_refs"
}

/** The PSL rule sets in kernel form: parallel (k, HashSet) arrays for
  * exact / wildcard / exception rule groups (exceptions pre-sorted by
  * k DESCENDING - longest exception wins first, the fold's override
  * order). One instance per JVM rides the plan as a reference object.
  */
final class PslTable(
    val ks: Array[Int], val sets: Array[java.util.HashSet[String]],
    val wks: Array[Int], val wsets: Array[java.util.HashSet[String]],
    val eks: Array[Int], val esets: Array[java.util.HashSet[String]])
  extends Serializable

/** `psl_fold(host)` - registrable domain (eTLD+1) under the PSL
  * longest-match algorithm (see ExprKernels.pslFold), the rule table a
  * reference object. Replaces the greatest-of-InSet CASE-chain column
  * spelling wherever the fold runs inline (per-link lambdas, URL
  * shells) - O(#rule-group) HashSet probes instead of an interpreted
  * scan of every rule per row.
  */
case class PslFold(child: Expression, table: PslTable) extends UnaryKernel("pslFold") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = StringType
  override protected def constants: Seq[Any] = Seq(table)
  override def nullSafeEval(v: Any): Any = ExprKernels.pslFold(v.asInstanceOf[UTF8String], table)
  override protected def withNewChildInternal(c: Expression): PslFold = copy(child = c)
  override def prettyName: String = "psl_fold"
}

/** `rep_stats(text, n)` - struct(n_grams, max_rep) of the token n-gram
  * multiset (see ExprKernels.repStats): the repetition-boilerplate
  * signal as ONE codegen kernel call, replacing a per-row
  * sort_array + interpreted aggregate() run-length fold.
  */
case class RepStats(child: Expression, n: Int) extends UnaryKernel("repStats") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("max_rep", LongType, nullable = false)))
  override protected def constants: Seq[Any] = Seq(n)
  override def nullSafeEval(v: Any): Any = ExprKernels.repStats(v.asInstanceOf[UTF8String], n)
  override protected def withNewChildInternal(c: Expression): RepStats = copy(child = c)
  override def prettyName: String = "rep_stats"
}

/** `winnow_fps(text, k, w)` - the distinct winnowing-selected
  * (pos, fp) fingerprints of a document as ONE codegen kernel call
  * (see ExprKernels.winnowFps): replaces the one-row-per-character
  * explode, the per-doc window-min shuffle, and the distinct exchange
  * with a per-row O(len) deque scan whose only remaining cost is the
  * same md5-per-shingle the fingerprint definition requires.
  */
case class WinnowFps(child: Expression, k: Int, w: Int) extends UnaryKernel("winnowFps") {
  // fail at construction (plan time), not as an executor
  // ArrayIndexOutOfBounds: k <= 0 indexes off(p + k) negative inside the
  // kernel, w <= 0 makes the window deque degenerate
  require(k >= 1 && w >= 1,
    s"winnow_fps needs k >= 1 and w >= 1 (shingle length / window size), got k=$k, w=$w")
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)
  override protected def constants: Seq[Any] = Seq(k, w)
  override def nullSafeEval(v: Any): Any = ExprKernels.winnowFps(v.asInstanceOf[UTF8String], k, w)
  override protected def withNewChildInternal(c: Expression): WinnowFps = copy(child = c)
  override def prettyName: String = "winnow_fps"
}

/** `bpe_count_public(text)` - GPT-2-convention byte-level BPE token
  * count (int) over the RAW text: published pre-tokenizer, bytes-to-
  * unicode table, checked-in vocab.bpe-format merge table (see
  * ExprKernels.gpt2Ranks). The budget number a pipeline interoperating
  * with a published tokenizer accounts by.
  */
case class BpeCountPublic(child: Expression) extends UnaryKernel("bpeCountPublic") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any = ExprKernels.bpeCountPublic(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): BpeCountPublic = copy(child = c)
  override def prettyName: String = "bpe_count_public"
}

/** `lang_id_score(norm)` - language code of an already-normalized,
  * already-capped text (see ExprKernels.langIdScore; callers pass
  * `substring(langNormalize(text), 1, 256)`). The trained weight table
  * is the checked-in classpath resource loaded once per JVM - O(1)
  * HashMap probe per gram, fully codegen'd, no per-row allocation
  * beyond the gram substrings.
  */
case class LangIdScore(child: Expression) extends UnaryKernel("langIdScore") {
  override def inputTypes: Seq[InputType] = Seq(Str)
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any = ExprKernels.langIdScore(v.asInstanceOf[UTF8String])
  override protected def withNewChildInternal(c: Expression): LangIdScore = copy(child = c)
  override def prettyName: String = "lang_id_score"
}

/** `bitset_contains(pos)` - membership test of a long position against a
  * driver-computed byte-packed bitset (the probe half of the broadcast
  * Bloom filter in TextOps.bloomDecontam). The bitset rides the plan as
  * a reference object - one array per executor, O(1) per test, fully
  * codegen'd - so a 100-TB corpus scan probes map-side with ZERO
  * shuffle of corpus data.
  */
case class BitsetContains(child: Expression, bits: Array[Byte])
    extends UnaryKernel("bitsetContains") {
  override def inputTypes: Seq[InputType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override protected def constants: Seq[Any] = Seq(bits)
  override def nullSafeEval(v: Any): Any = ExprKernels.bitsetContains(v.asInstanceOf[Long], bits)
  override protected def withNewChildInternal(c: Expression): BitsetContains = copy(child = c)
  override def prettyName: String = "bitset_contains"
}

/** `pq_encode(vn)` - product-quantization codes (array<int>, one per
  * subspace) of a normalized double vector against driver-computed
  * codebooks. Argmax of `dot - halfNormSq` per subspace, ties to the
  * smaller code - the dot-spelled argmin-L2 that replays in any engine
  * with an element-order dot product.
  */
case class PqEncode(
    child: Expression,
    codebooks: Array[Array[Array[Double]]],
    halfs: Array[Array[Double]]
) extends UnaryKernel("pqEncode") {
  override def inputTypes: Seq[InputType] = Seq(AbstractArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def constants: Seq[Any] = Seq(codebooks, halfs)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.pqEncode(v.asInstanceOf[ArrayData], codebooks, halfs)
  override protected def withNewChildInternal(c: Expression): PqEncode = copy(child = c)
  override def prettyName: String = "pq_encode"
}

/** `bloom_flag_count(shingles)` - per-row count of shingles whose
  * `kHashes` md5 Bloom positions are all set in the carried bitset: the
  * whole inner probe loop of TextOps.bloomProbe as ONE codegen kernel
  * call (the equivalent size/filter/forall HOF tree interpreted
  * |shingles| x k md5 column trees per row).
  */
case class BloomFlagCount(child: Expression, bits: Array[Byte], mBits: Int, kHashes: Int)
    extends UnaryKernel("bloomFlagCount") {
  // suffix bytes hoisted out of the per-row loop: one allocation per
  // expression instance, shipped to executors as a reference object
  @transient private lazy val suffixes: Array[Array[Byte]] =
    ExprKernels.bloomSuffixes(kHashes)
  override def inputTypes: Seq[InputType] = Seq(AbstractArrayType(Str))
  override def dataType: DataType = IntegerType
  override protected def constants: Seq[Any] = Seq(bits, mBits, suffixes)
  override def nullSafeEval(v: Any): Any =
    ExprKernels.bloomFlagCount(v.asInstanceOf[ArrayData], bits, mBits, suffixes)
  override protected def withNewChildInternal(c: Expression): BloomFlagCount = copy(child = c)
  override def prettyName: String = "bloom_flag_count"
}

/** Column-API and SQL-registration surface for the native expressions. */
object GraftFunctions {

  def minhash_sig(c: Column, numHashes: Int = 64, shingleLen: Int = 3, seed: Int = 42): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), numHashes, shingleLen, seed))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  def char_entropy(c: Column): Column =
    Bridge.column(CharEntropy(Bridge.expression(c)))

  def nfc_normalize(c: Column): Column =
    Bridge.column(NfcNormalize(Bridge.expression(c)))

  def sig_agree(a: Column, b: Column): Column =
    Bridge.column(SigAgree(Bridge.expression(a), Bridge.expression(b)))

  def jaro_winkler(a: Column, b: Column): Column =
    Bridge.column(JaroWinkler(Bridge.expression(a), Bridge.expression(b)))

  def jw_upper(a: Column, b: Column): Column =
    Bridge.column(JwUpper(Bridge.expression(a), Bridge.expression(b)))

  def shingles(c: Column, n: Int): Column =
    Bridge.column(Shingles(Bridge.expression(c), n))

  def char_grams(c: Column, n: Int): Column =
    Bridge.column(CharGrams(Bridge.expression(c), n))

  def vec_dot(a: Column, b: Column): Column =
    Bridge.column(VecDot(Bridge.expression(a), Bridge.expression(b)))

  def vec_norm(a: Column): Column =
    Bridge.column(VecNorm(Bridge.expression(a)))

  def rh_bucket(v: Column, dim: Int, bits: Int, seed: Long): Column =
    Bridge.column(RhBucket(Bridge.expression(v), dim, bits, seed))

  // no SQL registration: the centroid matrix is a driver-computed value,
  // not a literal a SQL call site could spell
  def nearest_lists(v: Column, cents: Array[Array[Double]], n: Int): Column =
    Bridge.column(NearestLists(Bridge.expression(v), cents, n))

  def greedy_pack(sizes: Column, budget: Int): Column =
    Bridge.column(GreedyPack(Bridge.expression(sizes), budget))

  def bpe_count(loweredText: Column): Column =
    Bridge.column(BpeCount(Bridge.expression(loweredText)))

  def lang_id_score(norm: Column): Column =
    Bridge.column(LangIdScore(Bridge.expression(norm)))

  def bpe_count_public(text: Column): Column =
    Bridge.column(BpeCountPublic(Bridge.expression(text)))

  def decode_num_refs(text: Column): Column =
    Bridge.column(DecodeNumRefs(Bridge.expression(text)))

  def rep_stats(text: Column, n: Int): Column =
    Bridge.column(RepStats(Bridge.expression(text), n))

  def winnow_fps(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFps(Bridge.expression(text), k, w))

  // no SQL registration: the rule table is a driver-computed value,
  // not a literal a SQL call site could spell (the nearest_lists stance)
  def psl_fold(host: Column, table: PslTable): Column =
    Bridge.column(PslFold(Bridge.expression(host), table))

  // no SQL registration: the bitset is a driver-computed value, not a
  // literal a SQL call site could spell (same stance as nearest_lists)
  def bitset_contains(pos: Column, bits: Array[Byte]): Column =
    Bridge.column(BitsetContains(Bridge.expression(pos), bits))

  def bloom_flag_count(shingles: Column, bits: Array[Byte], mBits: Int, kHashes: Int): Column =
    Bridge.column(BloomFlagCount(Bridge.expression(shingles), bits, mBits, kHashes))

  def pq_encode(vn: Column, codebooks: Array[Array[Array[Double]]],
      halfs: Array[Array[Double]]): Column =
    Bridge.column(PqEncode(Bridge.expression(vn), codebooks, halfs))


  /** Every SQL-callable native function: name, expression class (the
    * extension path's ExpressionInfo) and builder. Runtime registration
    * and [[GraftExtensions]] both read this one table.
    */
  private[functions] val sqlFunctions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSig], es => MinHashSig(es.head)),
    ("simhash64", classOf[SimHash64], es => SimHash64(es.head)),
    ("char_entropy", classOf[CharEntropy], es => CharEntropy(es.head)),
    ("nfc_normalize", classOf[NfcNormalize], es => NfcNormalize(es.head)),
    ("sig_agree", classOf[SigAgree], es => SigAgree(es(0), es(1))),
    ("jaro_winkler", classOf[JaroWinkler], es => JaroWinkler(es(0), es(1))),
    ("jw_upper", classOf[JwUpper], es => JwUpper(es(0), es(1))),
    ("greedy_pack", classOf[GreedyPack], {
      case Seq(sizes, Literal(b: Int, IntegerType)) => GreedyPack(sizes, b)
      // two args but a non-literal / non-int budget: say so, not "got 2 args"
      case Seq(_, budget) => throw new IllegalArgumentException(
        s"greedy_pack(sizes, budgetLiteral): budget must be an INT literal, got ${budget.sql}")
      case es => throw new IllegalArgumentException(
        s"greedy_pack(sizes, budgetLiteral); got ${es.length} args")
    }),
    ("bpe_count", classOf[BpeCount], es => BpeCount(es.head)),
    ("lang_id_score", classOf[LangIdScore], es => LangIdScore(es.head)),
    ("bpe_count_public", classOf[BpeCountPublic], es => BpeCountPublic(es.head)),
    ("decode_num_refs", classOf[DecodeNumRefs], es => DecodeNumRefs(es.head)),
    ("winnow_fps", classOf[WinnowFps], {
      case Seq(t, Literal(k: Int, IntegerType), Literal(w: Int, IntegerType)) =>
        WinnowFps(t, k, w)
      case es => throw new IllegalArgumentException(
        s"winnow_fps(text, kLiteral, wLiteral); got ${es.length} args")
    }),
    ("shingles", classOf[Shingles], {
      case Seq(c, Literal(n: Int, IntegerType)) => Shingles(c, n)
      case es => throw new IllegalArgumentException(
        s"shingles(text, nLiteral); got ${es.length} args")
    }),
    ("char_grams", classOf[CharGrams], {
      case Seq(c, Literal(n: Int, IntegerType)) => CharGrams(c, n)
      case es => throw new IllegalArgumentException(
        s"char_grams(text, nLiteral); got ${es.length} args")
    }),
    ("vec_dot", classOf[VecDot], es => VecDot(es(0), es(1))),
    ("vec_norm", classOf[VecNorm], es => VecNorm(es.head)),
    ("rh_bucket", classOf[RhBucket], {
      case Seq(v, Literal(d: Int, IntegerType), Literal(b: Int, IntegerType),
          Literal(s: Long, LongType)) => RhBucket(v, d, b, s)
      case Seq(v, Literal(d: Int, IntegerType), Literal(b: Int, IntegerType),
          Literal(s: Int, IntegerType)) => RhBucket(v, d, b, s.toLong)
      case es => throw new IllegalArgumentException(
        s"rh_bucket(vec, dimLiteral, bitsLiteral, seedLiteral); got ${es.length} args")
    }))

  /** Runtime registration: makes the functions callable from SQL text in
    * an existing session (`SELECT simhash64(text) FROM docs`).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    sqlFunctions.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** Builder-time extension point: a session builder's
  * `.withExtensions(new GraftExtensions)` (or
  * `spark.sql.extensions=graft.functions.GraftExtensions`) installs the
  * native functions cluster-wide.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(e: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.sqlFunctions.foreach { case (name, cls, builder) =>
      e.injectFunction((org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), builder))
    }
}
