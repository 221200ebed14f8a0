package perfbench

import scala.collection.mutable

/** Seeded input generator. Every input the program receives is made
  * here from the workload seed; the same seed gives the same inputs.
  *
  * Words are built from a seeded syllable inventory over a skewed
  * alphabet, so the dictionary shares prefixes the way natural
  * vocabularies do (the trie compresses them) and holds near neighbours
  * (the fuzzy kernels have work to do). The alphabet carries non-ASCII
  * letters so that code-point and UTF-16 lengths differ.
  */
final class Gen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)

  // letters with Zipf-like weights: frequent vowels and consonants first,
  // accented BMP letters in the tail
  private val letters: Array[Int] =
    ("eaoinrtslcdumphgbfyvkwzxjqé".codePoints().toArray ++
      "öüñçøßåæ".codePoints().toArray)
  private val cum: Array[Double] = {
    val w = letters.indices.map(i => 1.0 / (i + 2))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def int(n: Int): Int = rnd.nextInt(n)
  def chance(p: Double): Boolean = rnd.nextDouble() < p

  def letter(): Int = {
    val u = rnd.nextDouble()
    var i = 0
    while (i < cum.length - 1 && cum(i) < u) i += 1
    letters(i)
  }

  private def str(cps: Seq[Int]): String = new String(cps.toArray, 0, cps.length)

  /** `n` distinct syllables of 1 to 3 letters. */
  def syllables(n: Int): Array[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) out += str(Seq.fill(1 + int(3))(letter()))
    out.toArray
  }

  /** `n` distinct words of `minSyl` to `maxSyl` syllables. The first
    * syllable is uniform over the inventory, so the share of words under
    * each root edge varies little between seeds; later syllables are
    * skewed towards the front of the inventory, so deeper prefixes repeat.
    */
  def words(n: Int, syl: Array[String], minSyl: Int, maxSyl: Int): Array[String] = {
    val out = mutable.LinkedHashSet[String]()
    while (out.size < n) {
      val k = minSyl + int(maxSyl - minSyl + 1)
      val sb = new StringBuilder
      var i = 0
      while (i < k) {
        val r = rnd.nextDouble()
        sb ++= syl(((if (i == 0) r else r * r) * syl.length).toInt)
        i += 1
      }
      out += sb.toString
    }
    out.toArray
  }

  /** `word` after exactly `k` random single-code-point edits
    * (substitute, insert or delete); the true distance may be lower when
    * edits cancel, which the oracle accounts for.
    */
  def edit(word: String, k: Int): String = {
    val cps = mutable.ArrayBuffer.from(word.codePoints().toArray)
    var i = 0
    while (i < k) {
      int(3) match {
        case 0 if cps.nonEmpty => cps(int(cps.length)) = letter()
        case 1 => cps.insert(int(cps.length + 1), letter())
        case _ if cps.length > 1 => cps.remove(int(cps.length))
        case _ => cps.insert(int(cps.length + 1), letter())
      }
      i += 1
    }
    str(cps.toSeq)
  }

  /** A random word of `len` code points from `words` (there must be one). */
  def ofLength(words: Array[String], len: Int): String = {
    val pool = byLength.getOrElseUpdate(words, words.groupBy(Gen.cpLen))
    val ws = pool(len)
    ws(int(ws.length))
  }
  private val byLength = mutable.HashMap[Array[String], Map[Int, Array[String]]]()

  /** Corpus multiplicity of a word: mostly 1, sometimes 2 or 3. */
  def multiplicity(): Int = if (chance(0.8)) 1 else 2 + int(2)
}

object Gen {
  def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** Input properties the kernels' work depends on, printed with every
    * run so a reader can see what the program was given.
    */
  def dictionaryProps(words: Seq[String]): Map[String, Any] = {
    val lens = words.map(cpLen)
    val hist = lens.groupBy(identity).view.mapValues(_.size).toSeq.sortBy(_._1)
    val cps = words.iterator.flatMap(_.codePoints().toArray.iterator)
    var total = 0L
    var nonAscii = 0L
    cps.foreach { c => total += 1; if (c > 127) nonAscii += 1 }
    def prefixes(n: Int) = words.iterator.filter(cpLen(_) >= n)
      .map(w => w.substring(0, w.offsetByCodePoints(0, n))).toSet.size
    Map(
      "dictionary_words" -> words.size,
      "length_histogram" -> hist.map { case (l, c) => s"$l:$c" }.mkString(" "),
      "distinct_prefix2" -> prefixes(2),
      "distinct_prefix4" -> prefixes(4),
      "non_ascii_share" -> (if (total == 0) 0.0 else nonAscii.toDouble / total))
  }
}
