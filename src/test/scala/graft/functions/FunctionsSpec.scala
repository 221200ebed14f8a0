package graft.functions

import graft.SparkSpec
import graft.ops.DedupOps
import org.apache.spark.sql.functions._

/** Native Catalyst expressions: eval == kernel, codegen path exercised
  * through real query execution, SQL registration usable from text.
  */
class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox leaps over the lazy dog"),
    (3L, "")
  ).toDF("id", "text")

  test("simhash64 expression matches the kernel, incl. empty text") {
    val got = docs.select($"id", GraftFunctions.simhash64($"text")).as[(Long, Long)]
      .collect().toMap
    for ((id, t) <- Seq(1L -> "the quick brown fox jumps over the lazy dog",
                        2L -> "the quick brown fox leaps over the lazy dog", 3L -> ""))
      assert(got(id) == DedupOps.simhashKernel(t), s"id=$id")
  }

  test("char_entropy: hand-computed values, code-point counting, empty/uniform edge cases") {
    // "aab": p = {2/3, 1/3} -> H = -(2/3 log2 2/3 + 1/3 log2 1/3) = 0.91829...
    val h3 = -(2.0 / 3 * math.log(2.0 / 3) + 1.0 / 3 * math.log(1.0 / 3)) / math.log(2.0)
    val rows = Seq(
      (1L, "aab"), (2L, ""), (3L, "zzzz"), (4L, "abcd"),
      // one astral code point (U+1F600) twice + 'x' twice: 2 symbols, H = 1
      (5L, "😀x😀x"),
      (6L, null.asInstanceOf[String])
    ).toDF("id", "text")
    val got = rows.select($"id", GraftFunctions.char_entropy($"text").as("h"))
      .as[(Long, Option[Double])].collect().toMap
    assert(math.abs(got(1L).get - h3) < 1e-12)
    assert(got(2L).get == 0.0, "empty string")
    assert(got(3L).get == 0.0, "single repeated char")
    assert(got(4L).get == 2.0, "4 equally likely chars = 2 bits")
    assert(got(5L).get == 1.0, "surrogate pair counts as ONE symbol")
    assert(got(6L).isEmpty, "null in, null out")
    // SQL registration path
    GraftFunctions.register(spark)
    rows.createOrReplaceTempView("ce_docs")
    val viaSql = spark.sql("SELECT id, char_entropy(text) FROM ce_docs WHERE id = 4")
      .as[(Long, Double)].head()
    assert(viaSql == ((4L, 2.0)))
  }

  test("nfc_normalize: composes decomposed sequences, idempotent, null-safe") {
    val composed = "café"              // é as one code point
    val decomposed = "café"           // e + COMBINING ACUTE ACCENT
    val rows = Seq(
      (1L, decomposed), (2L, composed), (3L, "plain ascii"),
      (4L, ""), (5L, null.asInstanceOf[String]),
      // Hangul: conjoining jamo compose to a precomposed syllable
      (6L, "가")
    ).toDF("id", "text")
    val got = rows.select($"id", GraftFunctions.nfc_normalize($"text").as("t"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).get == composed, "decomposed input composes")
    assert(got(2L).get == composed, "already-NFC input unchanged (idempotent)")
    assert(got(3L).get == "plain ascii")
    assert(got(4L).get == "")
    assert(got(5L).isEmpty, "null in, null out")
    assert(got(6L).get == "가", "jamo sequence composes to syllable GA")
    // SQL registration path
    GraftFunctions.register(spark)
    rows.createOrReplaceTempView("nfc_docs")
    val viaSql = spark.sql("SELECT nfc_normalize(text) FROM nfc_docs WHERE id = 1")
      .as[String].head()
    assert(viaSql == composed)
  }

  test("char_grams: distinct code-point windows in first-occurrence order") {
    val rows = Seq(
      (1L, "abcab"),   // windows: abc, bca, cab (all distinct)
      (2L, "aaaa"),    // windows: aaa x2 -> one
      (3L, "ab"),      // shorter than n -> empty
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      (6L, "😀x😀x😀") // astral pairs count as ONE code point each
    ).toDF("id", "text")
    val got = rows.select($"id", GraftFunctions.char_grams($"text", 3).as("g"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(got(1L).get == Seq("abc", "bca", "cab"))
    assert(got(2L).get == Seq("aaa"))
    assert(got(3L).get == Seq.empty)
    assert(got(4L).get == Seq.empty)
    assert(got(5L).isEmpty, "null in, null out")
    assert(got(6L).get == Seq("😀x😀", "x😀x"), "5 code points -> 3 windows, 2 distinct")
    // matches the expression tree it replaced, on a mixed fixture
    val texts = Seq("hello world", "aa", "abcabcabc", "xyzxy").toDF("t")
    // the guard mirrors the replaced production tree: sequence(1, 0)
    // generates DESCENDING [1, 0], not an empty range
    val viaTree = texts.select(
      when(length($"t") >= 3,
        array_distinct(transform(sequence(lit(1), length($"t") - lit(2)),
          i => $"t".substr(i, lit(3)))))
        .otherwise(array().cast("array<string>")).as("g")).as[Seq[String]].collect()
    val viaKernel = texts.select(GraftFunctions.char_grams($"t", 3).as("g"))
      .as[Seq[String]].collect()
    assert(viaTree.toSeq == viaKernel.toSeq)
  }

  test("minhash_sig: deterministic, identical for identical text, 64 longs") {
    val sigs = docs.select($"id", GraftFunctions.minhash_sig($"text")).as[(Long, Seq[Long])]
      .collect().toMap
    assert(sigs(1L).length == 64)
    assert(sigs(1L) != sigs(2L)) // one word differs -> some positions differ
    // docs share 4 of 10 distinct shingles -> expected agreement ~ 0.4*64
    val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
    assert(agree > 12 && agree < 48, s"agreement should track jaccard 0.4, got $agree")
    // re-run: bit-identical (coefficients cached, hashing deterministic)
    val again = docs.select($"id", GraftFunctions.minhash_sig($"text")).as[(Long, Seq[Long])]
      .collect().toMap
    assert(again == sigs)
  }

  test("SQL registration: functions callable from SQL text") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("fdocs")
    val r = spark.sql(
      "SELECT id, simhash64(text) AS sh, size(minhash_sig(text)) AS n FROM fdocs ORDER BY id")
      .as[(Long, Long, Int)].collect()
    assert(r.length == 3)
    assert(r.forall(_._3 == 64))
    assert(r(0)._2 == DedupOps.simhashKernel("the quick brown fox jumps over the lazy dog"))
  }

  test("SQL registration: literal-argument builders (shingles, rh_bucket, sig_agree)") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("fdocs2")
    // shingles(text, nLiteral) + sig_agree over two signatures
    val r = spark.sql(
      """SELECT id, size(shingles(text, 3)) AS nsh,
        |       sig_agree(minhash_sig(text), minhash_sig(text)) AS self_agree
        |FROM fdocs2 WHERE id = 1""".stripMargin)
      .as[(Long, Int, Double)].collect()
    assert(r.head._2 == DedupOps.shingleArray(
      "the quick brown fox jumps over the lazy dog", 3).length)
    assert(r.head._3 == 1.0)
    // rh_bucket(vec, dim, bits, seed) with literal config args
    val b = spark.sql(
      "SELECT rh_bucket(array(CAST(0.5 AS DOUBLE), CAST(-1.5 AS DOUBLE)), 2, 4, 7) AS b")
      .as[Long].head()
    assert(b >= 0L && b < 16L)
    // non-literal n must be rejected, not silently misregistered
    val err = intercept[Exception] {
      spark.sql("SELECT shingles(text, id) FROM fdocs2").collect()
    }
    assert(err.getMessage.toLowerCase.contains("shingles"))
    // greedy_pack(sizes, budgetLiteral) + jw_upper from SQL text
    assert(spark.sql("SELECT greedy_pack(array(3, 3, 3), 5) AS b")
      .as[Seq[Int]].head() == Seq(0, 1, 2))
    val up = spark.sql("SELECT jw_upper('martha', 'marhta') AS u").as[Double].head()
    assert(up >= ExprKernels.jaroWinkler(
      org.apache.spark.unsafe.types.UTF8String.fromString("martha"),
      org.apache.spark.unsafe.types.UTF8String.fromString("marhta")))
  }

  test("jaro_winkler matches DuckDB jaro_winkler_similarity semantics") {
    import graft.functions.ExprKernels.jaroWinklerImpl
    // expected values computed with DuckDB's jaro_winkler_similarity
    val cases = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
      ("abc", "abc", 1.0),
      ("abc", "", 0.0),
      ("", "", 0.0),
      ("a", "b", 0.0),
      ("CRATE", "TRACE", 0.7333333333333334),       // jaro > 0.7 but prefix 0
      ("aaXXXXXX", "aaYYYYYY", 0.5),                // prefix 2 but jaro <= 0.7: NO boost
      ("abcdefgh", "abcdzzzz", 0.6666666666666666), // prefix 4 but jaro <= 0.7: NO boost
      ("abcdefxx", "abcdefyy", 0.9),                // prefix capped at 4
      ("DwAyNE", "DuANE", 0.8400000000000001),      // case-sensitive
      ("Customer#000000042", "Customer#0000000X2", 0.9777777777777777),
      ("abcxxx", "bcaxxx", 0.9444444444444445),     // odd 3-cycle: floored t/2
      ("abcdef", "bcadef", 0.9444444444444445),
      ("héllo", "hello", 0.8400000000000001),  // UTF-8 BYTE level (é = 2 bytes)
      ("ab", "ba", 0.0))                            // window 0: no matches
    for ((a, b, want) <- cases)
      assert(math.abs(jaroWinklerImpl(a, b) - want) < 1e-12, s"($a, $b)")
    // expression path (eval + codegen through real execution) == kernel
    val df = cases.toDF("a", "b", "want")
    val got = df.select($"want",
      GraftFunctions.jaro_winkler($"a", $"b").as("got")).as[(Double, Double)].collect()
    got.foreach { case (want, g) => assert(math.abs(g - want) < 1e-12) }
    // SQL registration
    GraftFunctions.register(spark)
    assert(spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS j").as[Double].head()
      == jaroWinklerImpl("MARTHA", "MARHTA"))
  }

  test("GraftExtensions injects the functions into a registry") {
    // apply the extension to an isolated registry (a second in-JVM
    // SparkContext would be needed to test via builder.withExtensions;
    // registerFunctions is the same code path the builder invokes)
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry
    val exts = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(exts)
    val reg = org.apache.spark.sql.graftbridge.Bridge
      .registerFunctions(exts, new SimpleFunctionRegistry)
    // the extension path injects exactly what runtime registration adds
    // to a fresh session's registry
    val session = spark.newSession()
    val before = session.sessionState.functionRegistry.listFunction().toSet
    GraftFunctions.register(session)
    val registered =
      (session.sessionState.functionRegistry.listFunction().toSet -- before).map(_.funcName)
    assert(registered.size == 18)
    assert(reg.listFunction().map(_.funcName).toSet == registered)
    val e = reg.lookupFunction(FunctionIdentifier("simhash64"),
      Seq(org.apache.spark.sql.catalyst.expressions.Literal("a b c")))
    assert(e.isInstanceOf[SimHash64])
  }

  test("vec_dot / vec_norm match the interpreted HOF formulation, float and double") {
    import org.apache.spark.sql.types.DoubleType
    val vf = Seq((Array(1.0f, 2.0f, -3.5f), Array(0.5f, -1.0f, 2.0f))).toDF("a", "b")
    val vd = Seq((Array(1.0, 2.0, -3.5), Array(0.5, -1.0, 2.0))).toDF("a", "b")
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast(DoubleType) * y.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    def hofNorm(a: org.apache.spark.sql.Column) =
      sqrt(aggregate(transform(a, x => x.cast(DoubleType) * x.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v))
    for (df <- Seq(vf, vd)) {
      val r = df.select(
        GraftFunctions.vec_dot($"a", $"b"), hofDot($"a", $"b"),
        GraftFunctions.vec_norm($"a"), hofNorm($"a")
      ).as[(Double, Double, Double, Double)].collect()(0)
      assert(r._1 == r._2, "dot must be bit-identical to the HOF tree")
      assert(r._3 == r._4, "norm must be bit-identical to the HOF tree")
    }
  }

  test("vec_dot/vec_norm/rh_bucket edge semantics match the old HOF trees") {
    // length mismatch -> NULL (zip_with pads with null -> null sum)
    val mism = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f))).toDF("a", "b")
    assert(mism.select(GraftFunctions.vec_dot($"a", $"b"))
      .as[Option[Double]].collect()(0).isEmpty)
    // null element -> NULL
    val withNull = Seq((Seq[java.lang.Float](1.0f, null, 3.0f),
      Seq[java.lang.Float](1.0f, 1.0f, 1.0f))).toDF("a", "b")
    assert(withNull.select(GraftFunctions.vec_dot($"a", $"b"))
      .as[Option[Double]].collect()(0).isEmpty)
    assert(withNull.select(GraftFunctions.vec_norm($"a"))
      .as[Option[Double]].collect()(0).isEmpty)
    // rh_bucket: wrong-length vector -> bucket 0 (old tree: all-null dots)
    val short = Seq(Tuple1(Array(1.0f, 2.0f))).toDF("v")
    assert(short.select(GraftFunctions.rh_bucket($"v", dim = 8, bits = 5, seed = 42L))
      .as[Long].collect()(0) == 0L)
  }

  test("rh_bucket matches the per-plane expression-tree formulation") {
    import org.apache.spark.sql.types.DoubleType
    val dim = 8; val bits = 5; val seed = 42L
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(bits, dim)(rnd.nextGaussian())
    val vecs = Seq(
      Tuple1(Array.tabulate(dim)(i => (i - 3).toFloat)),
      Tuple1(Array.tabulate(dim)(i => math.sin(i + 1).toFloat))
    ).toDF("v")
    val treeBucket = planes.zipWithIndex.map { case (p, i) =>
      val pl = array(p.map(lit(_)).toIndexedSeq: _*)
      when(aggregate(zip_with($"v", pl, (x, y) => x.cast(DoubleType) * y),
        lit(0.0), (acc, v) => acc + v) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    val r = vecs.select(GraftFunctions.rh_bucket($"v", dim, bits, seed), treeBucket)
      .as[(Long, Long)].collect()
    r.foreach { case (native, tree) => assert(native == tree) }
  }

  test("jwLengthBand is lossless: no pair above threshold violates the byte-length band") {
    import org.apache.spark.unsafe.types.UTF8String
    // the band claims: jw >= t  =>  min_bytes/max_bytes >= 5t - 4.
    // Brute-force it with the real kernel over an adversarial corpus:
    // shared long prefixes (max Winkler boost), repeated alphabets (max
    // matches), non-ASCII (bytes != chars), and random strings.
    val rnd = new scala.util.Random(5)
    val pool = Seq("", "a", "ab", "abcd", "abcde", "abcdef", "abcdefgh",
      "abcdefghij", "abcdefghijk", "abcdefghijklmno", "abcdefghijklmnop",
      "Customer#000000042", "Customer#00000004", "Customer#0000000421",
      "aaaaaaaaaa", "aaaaaaaaa", "ünïcødé", "ünïcødéx", "日本語テキスト", "日本語テキス") ++
      (0 until 150).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(20)).mkString) ++
      (0 until 50).map(_ => "prefix" + rnd.alphanumeric.take(rnd.nextInt(12)).mkString)
    def bytes(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length
    for (t <- Seq(0.85, 0.9, 0.97); a <- pool; b <- pool) {
      val jw = ExprKernels.jaroWinkler(UTF8String.fromString(a), UTF8String.fromString(b))
      val (mn, mx) = (math.min(bytes(a), bytes(b)), math.max(bytes(a), bytes(b)))
      val band = mx == 0 || mn.toDouble >= (5.0 * (t - 1e-6) - 4.0) * mx
      // every pair the query keeps (round-to-6dp >= t) must pass the band
      if (math.rint(jw * 1e6) / 1e6 >= t)
        assert(band, s"band dropped a qualifying pair: '$a' vs '$b' jw=$jw t=$t")
    }
    // and the Column form agrees with the scalar derivation
    val df = Seq(("abcdefghij", "abcdefghi"), ("abcdefghij", "abcde")).toDF("a", "b")
    val got = df.select(graft.ops.TextOps.jwLengthBand($"a", $"b", 0.97)).as[Boolean].collect()
    assert(got(0) && !got(1)) // 9/10 = 0.9 >= 0.85 passes; 5/10 fails
  }

  test("jw_upper dominates jaro_winkler on every pair (sound prefilter)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(29)
    val pool = Seq("", "a", "Customer#000000042", "Customer#000000999",
      "Customer#0000000X9", "aaaaaaaaaa", "ababababab", "bababababa",
      "ünïcødé", "ünïcødéx", "日本語テキスト") ++
      (0 until 200).map(_ => rnd.alphanumeric.take(1 + rnd.nextInt(24)).mkString) ++
      (0 until 60).map(_ => "Customer#" + (100000000 + rnd.nextInt(900000000)))
    for (a <- pool; b <- pool) {
      val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
      val jw = ExprKernels.jaroWinkler(ua, ub)
      val up = ExprKernels.jwUpper(ua, ub)
      assert(jw <= up + 1e-12, s"bound violated: '$a' vs '$b' jw=$jw upper=$up")
    }
    // identical strings: upper must not exclude them (jw = 1)
    val same = UTF8String.fromString("Customer#000000042")
    assert(ExprKernels.jwUpper(same, same) >= 1.0 - 1e-12)
    // and the Column path agrees with the kernel
    val df = Seq(("martha", "marhta")).toDF("a", "b")
    val (e, k) = (df.select(GraftFunctions.jw_upper($"a", $"b")).as[Double].collect()(0),
      ExprKernels.jwUpper(UTF8String.fromString("martha"), UTF8String.fromString("marhta")))
    assert(e == k)
  }

  test("greedy_pack: first-fit semantics, oversized items, empty input") {
    val df = Seq(
      Tuple1(Seq(100, 100, 100, 50, 200, 10)), // budget 250
      Tuple1(Seq(300)),                        // single oversized item
      Tuple1(Seq(300, 10, 300, 10)),           // oversized forces closes
      Tuple1(Seq.empty[Int])
    ).toDF("sizes")
    val got = df.select(GraftFunctions.greedy_pack($"sizes", 250)).as[Seq[Int]].collect()
    // 100+100 fits, +100 overflows -> new bin; 100+50 fits; 200 overflows; +10 fits
    assert(got(0) == Seq(0, 0, 1, 1, 2, 2))
    assert(got(1) == Seq(0)) // oversized item still gets a bin (alone)
    assert(got(2) == Seq(0, 1, 2, 3)) // 300 alone; 10 after 300 overflows? 300+10 > 250 -> yes
    assert(got(3) == Seq.empty)
    // containsNull array types (every parquet array column) are accepted;
    // an actual null ELEMENT yields NULL
    val nullable = Seq(Tuple1(Seq[Integer](100, 200)), Tuple1(Seq[Integer](100, null)))
      .toDF("sizes")
    val gotN = nullable.select(GraftFunctions.greedy_pack($"sizes", 250))
      .as[Option[Seq[Int]]].collect()
    assert(gotN(0).contains(Seq(0, 1)))
    assert(gotN(1).isEmpty)
    // property: replay the fold - bins are contiguous, fills respect the
    // budget except single-item bins, order is preserved
    val rnd = new scala.util.Random(17)
    for (_ <- 1 to 50) {
      val sizes = Seq.fill(1 + rnd.nextInt(40))(1 + rnd.nextInt(120))
      val budget = 100 + rnd.nextInt(150)
      val bins = Seq(Tuple1(sizes)).toDF("s")
        .select(GraftFunctions.greedy_pack($"s", budget)).as[Seq[Int]].collect()(0)
      assert(bins.length == sizes.length)
      // contiguous non-decreasing bin ids starting at 0, steps of <= 1
      assert(bins.head == 0)
      bins.sliding(2).foreach { case Seq(a, b) => assert(b == a || b == a + 1); case _ => }
      // every bin respects the budget unless it holds a single item
      sizes.zip(bins).groupBy(_._2).foreach { case (_, items) =>
        if (items.length > 1) assert(items.map(_._1).sum <= budget)
      }
      // first-fit: an item NOT opening its bin must fit on top of the
      // bin's previous fill; an item opening a bin must NOT have fit
      var fill = 0
      sizes.zip(bins).zipWithIndex.foreach { case ((s, b), i) =>
        if (i == 0) fill = s
        else if (b == bins(i - 1)) { assert(fill + s <= budget); fill += s }
        else { assert(fill + s > budget); fill = s }
      }
    }
  }

  test("nearest_lists matches the stable sortBy(-dot) formulation, incl. ties") {
    // 4 centroids; c0 and c2 are IDENTICAL so every vector ties them:
    // the stable sort keeps the lower index first
    val cents: Array[Array[Double]] = Array(
      Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(-1.0, -1.0))
    val vecs = Seq(
      Tuple1(Array(2.0f, 0.5f)),
      Tuple1(Array(0.0f, 3.0f)),
      Tuple1(Array(-1.0f, -1.0f))
    ).toDF("v")
    val got = vecs.select(GraftFunctions.nearest_lists($"v", cents, 4)).as[Seq[Int]].collect()
    def oracle(v: Array[Float]): Seq[Int] =
      cents.toSeq.zipWithIndex.map { case (c, i) =>
        (i, v.zip(c).map { case (x, y) => x.toDouble * y }.sum)
      }.sortBy(-_._2).map(_._1)
    assert(got(0) == oracle(Array(2.0f, 0.5f)))
    assert(got(0).indexOf(0) < got(0).indexOf(2), "tie must keep lower centroid index")
    assert(got(1) == oracle(Array(0.0f, 3.0f)))
    assert(got(2) == oracle(Array(-1.0f, -1.0f)))
    // n < nC truncates to the n best; n > nC caps at nC
    assert(vecs.select(GraftFunctions.nearest_lists($"v", cents, 2))
      .as[Seq[Int]].collect()(0) == oracle(Array(2.0f, 0.5f)).take(2))
    assert(vecs.select(GraftFunctions.nearest_lists($"v", cents, 9))
      .as[Seq[Int]].collect()(0).length == 4)
    // null element -> NULL
    val withNull = Seq(Tuple1(Seq[java.lang.Float](1.0f, null))).toDF("v")
    assert(withNull.select(GraftFunctions.nearest_lists($"v", cents, 2))
      .as[Option[Seq[Int]]].collect()(0).isEmpty)
  }

  test("bpe_count == independent merge-loop reference on every corpus unit") {
    // independent reference: same contract (lowest-rank pair, leftmost
    // occurrence, one merge per step) written against the parsed table,
    // sharing no code with the kernel
    val ranks: Map[(String, String), Int] = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/graft/bpe_merges.txt"), "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .zipWithIndex
        .map { case (l, r) => val Array(a, b) = l.split(" ", 2); (a, b) -> r }
        .toMap
      finally src.close()
    }
    assert(ranks.nonEmpty)
    // well-formedness: every merge's constituents are single chars or
    // products of EARLIER merges (the property that makes one-at-a-time
    // and all-at-once merging converge identically)
    val ordered = ranks.toSeq.sortBy(_._2)
    val products = ordered.map { case ((a, b), _) => a + b }
    ordered.zipWithIndex.foreach { case (((a, b), _), i) =>
      for (t <- Seq(a, b) if t.length > 1)
        assert(products.take(i).contains(t), s"merge $i: '$t' unformed")
    }
    def refCount(unit: String): Int = {
      var toks = unit.map(_.toString).toVector
      var cont = true
      while (cont && toks.size > 1) {
        val cands = toks.sliding(2).zipWithIndex.collect {
          case (Seq(a, b), i) if ranks.contains((a, b)) => (ranks((a, b)), i)
        }.toSeq
        if (cands.isEmpty) cont = false
        else {
          val (_, i) = cands.min
          toks = (toks.take(i) :+ (toks(i) + toks(i + 1))) ++ toks.drop(i + 2)
        }
      }
      toks.size
    }
    // explicit whitespace class, matching the documented contract (\s
    // differs between Java and RE2 on \x0B, so the kernel avoids it)
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 \\t\\n\\x0B\\f\\r]".r
    def refText(text: String): Int =
      pat.findAllIn(text.toLowerCase(java.util.Locale.ROOT)).map(refCount).sum
    val samples = Seq(
      "the quick spark window joins a stream",
      "big DATA tables: merge, filter & sort 42 columns!",
      "", "x", "zzzqqq unseen-units 9081726354",
      "spark spark spark customer customer")
    val got = samples.toDF("t")
      .select(GraftFunctions.bpe_count(lower($"t")))
      .as[Int].collect().toSeq
    assert(got == samples.map(refText), s"got $got")
    // fused-token sanity under the trained table: a high-frequency
    // corpus word merges all the way to ONE token, an out-of-corpus
    // word with a learned prefix splits at the morpheme ('un|seen')
    assert(Seq("spark").toDF("t")
      .select(GraftFunctions.bpe_count(lower($"t"))).as[Int].head() == 1)
    assert(Seq("unseen").toDF("t")
      .select(GraftFunctions.bpe_count(lower($"t"))).as[Int].head() == 2)
    // property check: 300 random texts over the learned alphabet plus
    // punctuation/digits/whitespace - kernel == reference on all of them
    // (driver-side kernel call: the expression's nullSafeEval IS the
    // kernel, and the Spark path is already pinned above)
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val charGen = Gen.frequency(
      8 -> Gen.alphaLowerChar, 2 -> Gen.numChar, 2 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '!', '-'), 1 -> Gen.alphaUpperChar,
      1 -> Gen.oneOf('\t', '\n', '\u000B', '\f', '\r')) // incl. the Java-vs-RE2 \s edge
    val textGen = Gen.listOf(charGen).map(_.mkString)
    val prop = Prop.forAll(textGen) { t =>
      graft.functions.ExprKernels.bpeCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          t.toLowerCase(java.util.Locale.ROOT))) == refText(t)
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(300)
        .withInitialSeed(Seed(7L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("bpe_count_public == independent GPT-2-convention reference; format + byte-level contract") {
    // independent reference sharing no code with the kernel: its own
    // bytes-to-unicode construction, its own pre-tokenizer compile,
    // its own merge loop over the parsed vocab.bpe
    val ranks: Map[(String, String), Int] = {
      val src = scala.io.Source.fromInputStream(
        getClass.getResourceAsStream("/graft/vocab.bpe"), "UTF-8")
      try {
        val lines = src.getLines().toList
        // the format contract: a GPT-2-release vocab.bpe leads with a
        // #version header
        assert(lines.head.startsWith("#version:"), lines.head)
        lines.tail.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
          .zipWithIndex
          .map { case (l, r) => val Array(a, b) = l.split(" ", 2); (a, b) -> r }
          .toMap
      } finally src.close()
    }
    assert(ranks.nonEmpty)
    // byte-level convention: the space marker is Ġ (U+0120) and some
    // word-initial merges carry it (what makes the table vocab.bpe-
    // shaped rather than plain merges)
    assert(ranks.keys.exists(_._1.contains('Ġ')))
    val byteEnc: Map[Int, Char] = {
      val keep = (('!' to '~') ++ ('¡' to '¬') ++ ('®' to 'ÿ')).map(_.toInt).toSet
      var n = -1
      (0 until 256).map { b =>
        if (keep(b)) b -> b.toChar
        else { n += 1; b -> (256 + n).toChar }
      }.toMap
    }
    assert(byteEnc(' '.toInt) == 'Ġ') // the published Ġ identity
    def refUnitCount(encoded: String): Int = {
      var toks = encoded.map(_.toString).toVector
      var cont = true
      while (cont && toks.size > 1) {
        val cands = toks.sliding(2).zipWithIndex.collect {
          case (Seq(a, b), i) if ranks.contains((a, b)) => (ranks((a, b)), i)
        }.toSeq
        if (cands.isEmpty) cont = false
        else {
          val (_, i) = cands.min
          toks = (toks.take(i) :+ (toks(i) + toks(i + 1))) ++ toks.drop(i + 2)
        }
      }
      toks.size
    }
    val pat = java.util.regex.Pattern.compile(
      "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def refText(text: String): Int = {
      val m = pat.matcher(text)
      var total = 0
      while (m.find()) {
        val enc = m.group().getBytes("UTF-8")
          .map(b => byteEnc(b & 0xFF)).mkString
        total += refUnitCount(enc)
      }
      total
    }
    val samples = Seq(
      "the quick spark window joins a stream",
      "Big DATA tables: merge, filter & sort 42 columns!", // case preserved
      "it's won't we're I'll they've he'd I'm", // contraction splits
      "double  space and trailing   ", // the \\s+(?!\\S) lookahead branch
      "tabs\tand\nnewlines", "", "x",
      "naïve café 日本語 🙂", // non-ASCII -> multi-byte byte-level units
      "nbsp !here 　?", // Unicode whitespace next to punctuation
      "spark spark spark customer customer")
    // the UNICODE_CHARACTER_CLASS contract: U+00A0/U+3000 are \s (as
    // in the published Python pattern), so they split AWAY from
    // adjacent punctuation instead of fusing into the [^\s\p{L}\p{N}]
    // class (Java's ASCII-only \s default would fuse " !")
    locally {
      val m = pat.matcher("x !y")
      val units = Iterator.continually(m).takeWhile(_.find()).map(_.group()).toSeq
      assert(units == Seq("x", " ", "!", "y"), s"unit split was $units")
    }
    val got = samples.toDF("t")
      .select(GraftFunctions.bpe_count_public($"t"))
      .as[Int].collect().toSeq
    assert(got == samples.map(refText), s"got $got want ${samples.map(refText)}")
    // byte-level means NO unknown tokens: an emoji still counts (as its
    // UTF-8 bytes at worst), never zero, never an error
    assert(Seq("🙂").toDF("t")
      .select(GraftFunctions.bpe_count_public($"t")).as[Int].head() >= 1)
    // a high-frequency corpus word fuses to ONE token in its space-led
    // (Ġ) form - the vocab.bpe convention working end-to-end
    assert(Seq("data spark").toDF("t")
      .select(GraftFunctions.bpe_count_public($"t")).as[Int].head() == 2)
    // property check: random texts over letters/digits/punct/whitespace
    // incl. multi-space runs (the lookahead edge) - kernel == reference
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import org.scalacheck.rng.Seed
    val charGen = Gen.frequency(
      8 -> Gen.alphaLowerChar, 2 -> Gen.numChar, 3 -> Gen.const(' '),
      1 -> Gen.oneOf('.', ',', '!', '\''), 2 -> Gen.alphaUpperChar,
      1 -> Gen.oneOf('\t', '\n', 'é', 'ß', '中'))
    val textGen = Gen.listOf(charGen).map(_.mkString)
    val prop = Prop.forAll(textGen) { t =>
      graft.functions.ExprKernels.bpeCountPublic(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)) == refText(t)
    }
    val res = SCTest.check(
      SCTest.Parameters.default
        .withMinSuccessfulTests(300)
        .withInitialSeed(Seed(11L)),
      prop)
    assert(res.passed, res.status.toString)
  }

  test("BpeCountPublic conventions vs the published GPT-2 merge excerpt") {
    // gpt2_merges_excerpt.bpe is the FIRST 30 merge rules of the
    // published GPT-2 vocab.bpe (MIT-licensed; the table is reproduced
    // across every BPE tutorial/port) - ground truth the self-generated
    // resource cannot provide: the assertions below only hold if the
    // kernel's byte-level conventions (Ġ marks a word-initial space,
    // contraction suffixes split as units, case is preserved, merges
    // apply lowest-rank-first) match the real tokenizer's on real
    // published ranks.
    val in = getClass.getResourceAsStream("/graft/gpt2_merges_excerpt.bpe")
    assert(in != null, "gpt2_merges_excerpt.bpe missing from test classpath")
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    assert(lines.head.startsWith("#version:")) // same format contract
    val ranks = new java.util.HashMap[String, Integer]()
    lines.tail.filter(l => l.trim.nonEmpty && !l.startsWith("#"))
      .zipWithIndex.foreach { case (l, r) => ranks.put(l.trim, r) }
    assert(ranks.size == 30)
    val memo = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val pat = java.util.regex.Pattern.compile(
      graft.functions.ExprKernels.gpt2UnitRegex,
      graft.functions.ExprKernels.gpt2UnitFlags)
    val enc = graft.functions.ExprKernels.gpt2ByteEncoder
    def count(text: String): Int = {
      val m = pat.matcher(text)
      var total = 0
      while (m.find()) {
        val bytes = m.group().getBytes("UTF-8")
        total += graft.functions.ExprKernels.mergeLoopLen(
          bytes.map(b => enc(b & 0xFF)).mkString, ranks, memo)
      }
      total
    }
    // " the" fully fuses through the published chain
    // Ġ+t(rank 0) -> h+e(2) -> Ġt+he(6); bare "the" has no "t he" rule
    // in the first 30, so the Ġ word-initial convention is load-bearing
    assert(count(" the") == 1)
    assert(count("the") == 2)
    // " to" via Ġ+t(0) then Ġt+o(28)
    assert(count(" to") == 1)
    // "ing" via i+n(3) then in+g(22); " ing" stops at [Ġ, ing] (no
    // "Ġ in"-then-g path: the loop is pairwise on the CURRENT tokens)
    assert(count("ing") == 1)
    assert(count(" ing") == 2)
    // " an" via Ġ+a(1) then Ġa+n(25): rank order matters - (a,n)=16
    // loses to (Ġ,a)=1, and the result still fuses
    assert(count(" an") == 1)
    // contraction split: " it's" -> units " it" + "'s"; " it" stops at
    // [Ġ, it] (i+t=14 fires, "Ġ it" is not in the excerpt), "'s" has
    // no rule -> 2+2
    assert(count(" it's") == 4)
    // case preserved: no rules mention 'T', so " The" stays [Ġ, T, he]
    assert(count(" The") == 3)
    // byte-level non-ASCII: " café" -> [Ġc(13), a, f, Ã, ©] (é is two
    // UTF-8 bytes; no rule joins them) - counts bytes, never errors
    assert(count(" café") == 5)
  }

  test("bitset_contains + BitsetAgg: build/probe round-trip, bounds, codegen path") {
    // build a bitset from a known position set via the mergeable UDAF
    val m = 1 << 10 // 1024 bits = 128 bytes
    val posSet = Seq(0L, 1L, 7L, 8L, 63L, 64L, 511L, 1023L)
    val bits = posSet.toDF("p").repartition(4).as[Long]
      .select(new BitsetAgg(m).toColumn).head()
    assert(bits.length == m / 8)
    // probe through real query execution (codegen path), every position
    val probe = (0L until m.toLong).toDF("p")
      .select($"p", GraftFunctions.bitset_contains($"p", bits).as("hit"))
      .as[(Long, Boolean)].collect().toMap
    for (p <- 0L until m.toLong)
      assert(probe(p) == posSet.contains(p), s"pos=$p")
    // out-of-range and negative positions are absent, never an error
    val oob = Seq(-1L, m.toLong, m.toLong + 5, Long.MaxValue, Long.MinValue).toDF("p")
      .select(GraftFunctions.bitset_contains($"p", bits)).as[Boolean].collect()
    assert(oob.forall(_ == false))
    // null position -> null result
    val nl = Seq(Some(3L), None).toDF("p")
      .select(GraftFunctions.bitset_contains($"p", bits)).as[Option[Boolean]].collect()
    assert(nl.toSet == Set(Some(false), None))
    // interpreted eval == codegen'd query result
    for (p <- Seq(0L, 5L, 63L, 1023L))
      assert(ExprKernels.bitsetContains(p, bits) == posSet.contains(p))
    // UDAF rejects out-of-range builds (soundness depends on the modulus)
    val ex = intercept[org.apache.spark.SparkException] {
      Seq(m.toLong).toDF("p").as[Long].select(new BitsetAgg(m).toColumn).head()
    }
    assert(ex.getMessage != null)
  }

  test("bloom_flag_count kernel == md5/conv column-expression formulation") {
    val (m, k) = (1 << 12, 3)
    // filter built from the shingles of a couple of docs
    val evalShingles = Seq("the exam answer", "answer is forty", "is forty two", "lone")
    val positions = evalShingles.toDF("sh")
      .select(explode(array((0 until k).map(i =>
        conv(substring(md5(concat($"sh", lit("#" + i))), 1, 15), 16, 10)
          .cast("long") % m): _*)).as("p"))
      .as[Long]
    val bits = positions.select(new BitsetAgg(m).toColumn).head()
    // probe docs: full members, partial overlaps, empties, null elements
    val probes = Seq(
      (1L, Seq("the exam answer", "is forty two")),       // 2 true members
      (2L, Seq("nothing here", "also absent")),           // likely 0 (collisions would match the reference anyway)
      (3L, Seq("lone")),                                  // 1 member
      (4L, Seq.empty[String])
    ).toDF("id", "shs")
    val kernel = probes.select($"id",
      GraftFunctions.bloom_flag_count($"shs", bits, m, k).as("n"))
      .as[(Long, Int)].collect().toMap
    // reference: count via the pure column formulation over exploded rows
    val ref = probes.select($"id", explode($"shs").as("sh"))
      .select($"id", (0 until k).map(i =>
        GraftFunctions.bitset_contains(
          conv(substring(md5(concat($"sh", lit("#" + i))), 1, 15), 16, 10)
            .cast("long") % m, bits)).reduce(_ && _).as("hit"))
      .groupBy($"id").agg(sum(when($"hit", 1).otherwise(0)).as("n"))
      .as[(Long, Long)].collect().toMap
    for ((id, n) <- ref) assert(kernel(id) == n.toInt, s"id=$id")
    assert(kernel(1L) == 2 && kernel(3L) == 1 && kernel(4L) == 0)
    // null array in, null out; null ELEMENTS never count
    val withNulls = Seq((5L, null.asInstanceOf[Seq[String]])).toDF("id", "shs")
      .union(Seq(6L).toDF("id").select($"id", array(lit(null.asInstanceOf[String]), lit("lone")).as("shs")))
    val got = withNulls.select($"id", GraftFunctions.bloom_flag_count($"shs", bits, m, k).as("n"))
      .as[(Long, Option[Int])].collect().toMap
    assert(got(5L).isEmpty, "null array -> null")
    assert(got(6L).contains(1), "null element skipped, real member counted")
  }

  test("winnowFps kernel == in-memory reference: 400-case property check incl. w=1/k=1 edges") {
    import org.apache.spark.unsafe.types.UTF8String
    // independent reference: code-point shingles hashed over UTF-8
    // bytes (the exact value conv(substring(md5(...),1,8),16,10)
    // yields), window-min with rightmost-on-ties, distinct selections
    def md5Hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    def ref(text: String, k: Int, w: Int): Set[(Int, Long)] = {
      val cps = text.codePoints().toArray
      if (cps.length < k + w - 1) return Set.empty
      val hs = (1 to cps.length - k + 1).map { p =>
        p -> java.lang.Long.parseLong(md5Hex(new String(cps, p - 1, k)).take(8), 16)
      }
      (w to hs.length).map { e =>
        val win = hs.slice(e - w, e)
        val mn = win.map(_._2).min
        win.filter(_._2 == mn).last // rightmost minimum
      }.toSet
    }
    def kernel(text: String, k: Int, w: Int): Set[(Int, Long)] = {
      val arr = ExprKernels.winnowFps(UTF8String.fromString(text), k, w)
      (0 until arr.numElements()).map { i =>
        val row = arr.getStruct(i, 2)
        (row.getInt(0), row.getLong(1))
      }.toSet
    }
    val rnd = new scala.util.Random(47)
    val alphabets = Seq("ab", "abcd", "aé😀b") // ties-heavy, mixed, multi-byte
    var cases = 0
    for (_ <- 0 until 100; (k, w) <- Seq((8, 4), (3, 2), (4, 1), (1, 3))) {
      val alpha = alphabets(rnd.nextInt(alphabets.length))
      val n = rnd.nextInt(41) // code points, 0..40: spans empty/short/no-full-window
      val cps = Seq.fill(n)(alpha.codePointAt(
        alpha.offsetByCodePoints(0, rnd.nextInt(alpha.codePointCount(0, alpha.length)))))
      val text = cps.map(Character.toChars(_).mkString).mkString
      assert(kernel(text, k, w) === ref(text, k, w),
        s"k=$k w=$w alpha=$alpha text=${text.take(40)}")
      cases += 1
    }
    assert(cases == 400)
  }

  test("every native function: interpreted eval == generated code, null row included") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    import GraftFunctions._
    def set(xs: String*) = { val s = new java.util.HashSet[String](); xs.foreach(s.add); s }
    val psl = new PslTable(Array(1, 2), Array(set("com", "uk"), set("co.uk")),
      Array(1), Array(set("ck")), Array(2), Array(set("www.ck")))
    val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 0.0, 0.0), Array(0.5, 0.5, 0.5, 0.5))
    val codebooks = Array.tabulate(2, 3, 2)((m, c, i) => ((m + 1) * (c - 1) + i) * 0.25)
    val halfs = codebooks.map(_.map(cw => cw.map(x => x * x).sum / 2))
    val bits = Array.tabulate[Byte](64)(i => (i * 37).toByte)
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("a", StringType), StructField("b", StringType),
      StructField("host", StringType), StructField("fa", ArrayType(FloatType)),
      StructField("fb", ArrayType(FloatType)), StructField("da", ArrayType(DoubleType)),
      StructField("db", ArrayType(DoubleType)), StructField("sizes", ArrayType(IntegerType)),
      StructField("pos", LongType), StructField("shs", ArrayType(StringType))))
    val rows = java.util.Arrays.asList(
      Row(1, "the quick brown fox jumps over the lazy dog, the quick brown fox",
        "the quick brown fax caf\u0065\u0301 &#233;&#x1F600;", "www.example.co.uk",
        Seq(1.0f, 2.0f, -3.5f, 0.5f), Seq(0.5f, -1.0f, 2.0f, 1.0f), Seq(0.5, -0.5, 0.5, 0.5),
        Seq(0.1, 0.2, 0.3, 0.4), Seq(3, 3, 3, 6), 5L, Seq("the quick", "quick brown", "lone")),
      // null elements and mismatched lengths: the kernels that return null
      Row(2, "Hallo Welt, wie geht es dir heute?", "", "sub.www.ck",
        Seq(1.0f, null, 3.0f), Seq(1.0f, 1.0f), Seq(0.25, null, 0.5, 0.5),
        Seq(1.0, 2.0), Seq(2, null), 300L, Seq(null, "lone")),
      Row.fromSeq(3 +: Seq.fill(10)(null)))
    // the shuffle keeps the projection out of the optimizer's
    // local-relation folding, so it runs in the executed plan
    val df = spark.createDataFrame(rows, schema).repartition(2)
    val fns = Seq(
      minhash_sig($"a"), sig_agree(minhash_sig($"a"), minhash_sig($"b")), shingles($"a", 2),
      char_grams($"b", 3), simhash64($"a"), char_entropy($"b"), nfc_normalize($"b"),
      vec_dot($"fa", $"fb"), vec_dot($"da", $"db"), vec_norm($"fa"), vec_norm($"da"),
      rh_bucket($"da", 4, 5, 7L), nearest_lists($"da", cents, 2), greedy_pack($"sizes", 5),
      jaro_winkler($"a", $"b"), jw_upper($"a", $"b"), bpe_count(lower($"a")),
      lang_id_score($"a"), bpe_count_public($"b"), decode_num_refs($"b"), rep_stats($"a", 2),
      winnow_fps($"a", 3, 2), psl_fold($"host", psl), bitset_contains($"pos", bits),
      bloom_flag_count($"shs", bits, 512, 3), pq_encode($"da", codebooks, halfs),
      // the type check accepts every string collation
      simhash64(collate($"a", "UTF8_LCASE_RTRIM")))
    def query = df.select($"id" +: fns.zipWithIndex.map { case (f, i) => f.as(s"f$i") }: _*)
    val outputs = query.queryExecution.analyzed.expressions.tail.map(_.children.head)
    val covered = outputs.flatMap(_.collect { case k: KernelCall => k.prettyName }).toSet
    assert(covered == (GraftFunctions.sqlFunctions.map(_._1) ++ Seq("nearest_lists", "psl_fold",
      "bitset_contains", "bloom_flag_count", "pq_encode", "rep_stats")).toSet)
    assert(covered.size == 24)
    def run(codegen: Boolean): Seq[Row] = withConf(
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.codegen.wholeStage" -> codegen.toString,
        "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
        "spark.sql.codegen.fallback" -> "false") {
      val r = query
      assert(r.queryExecution.executedPlan.find(_.isInstanceOf[WholeStageCodegenExec])
        .isDefined == codegen)
      r.collect().sortBy(_.getInt(0)).toSeq
    }
    val (generated, interpreted) = (run(codegen = true), run(codegen = false))
    for ((f, i) <- outputs.map(_.sql).zipWithIndex) {
      assert(generated.map(_.get(i + 1)) == interpreted.map(_.get(i + 1)), f)
      assert(generated(2).isNullAt(i + 1), s"$f of the null row")
      assert(!generated(0).isNullAt(i + 1), s"$f of the first row")
    }
    // row 2 reaches the kernels' own null results
    for (i <- Seq(7, 8, 9, 10, 12, 13)) assert(generated(1).isNullAt(i + 1), outputs(i).sql)
  }
}
