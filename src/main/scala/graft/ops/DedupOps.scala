package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Document-deduplication operators for large-scale training-data
  * pipelines: exact, token-set Jaccard, MinHash+LSH, and SimHash.
  *
  * Design rules (100 TB mindset):
  *   - per-row sketch math lives in tight Scala kernels exposed as native
  *     Catalyst expressions (graft.functions) - scalar, shuffle-free,
  *     inside whole-stage codegen; cheap column work stays in
  *     `org.apache.spark.sql.functions` expressions;
  *   - no all-pairs comparisons: candidate generation is always a
  *     key-equality self-join (shared shingle / LSH bucket / SimHash
  *     block), explicitly hinted shuffle_hash - both sides are
  *     corpus-sized, so a broadcast plan can neither scale nor keep the
  *     driver healthy;
  *   - pair shuffles move narrow rows: the cheap verdict (estimate /
  *     hamming) is computed before any dedup shuffle, signatures dropped.
  */
object DedupOps {

  /** Whitespace tokens, lowercased, empties dropped. */
  def tokens(c: Column): Column =
    filter(split(lower(trim(c)), "\\s+"), t => t =!= "")

  /** Character class of the NO-SPACE scripts (CJK Unified Ideographs,
    * Hiragana/Katakana, Thai): writing systems without word
    * separators, where whitespace tokenization yields one giant
    * "token" per sentence and every token-based signal - shingle
    * dedup, BM25, vocabulary/OOV, contamination - silently degrades.
    * BMP-only `\x{...}` ranges, the [[graft.ops.TextOps.scriptClasses]]
    * discipline: spelled and matched identically in Java regex and
    * RE2, and UTF-16 positions == code-point positions.
    */
  private[graft] val noSpaceScriptPattern: String =
    "[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}\\x{0E00}-\\x{0E7F}]"

  /** Script-aware tokens - the no-space-script fallback: [[tokens]],
    * with any token CONTAINING a no-space-script character re-cut
    * into overlapping character bigrams (the standard CJK analyzer
    * cut; a single-char token stays itself). Spaced-script tokens
    * pass through untouched, so mixed corpora pay nothing on their
    * Latin slice. Higher-order array expressions (not codegen) - the
    * opt-in path for multilingual corpora, not the default hot loop.
    */
  def scriptAwareTokens(c: Column): Column = {
    val toks = tokens(c)
    flatten(transform(toks, t =>
      when(t.rlike(noSpaceScriptPattern),
        transform(sequence(lit(1), greatest(length(t) - 1, lit(1))),
          i => t.substr(i, lit(2))))
        .otherwise(array(t))))
  }

  /** Pre-segmented text: [[scriptAwareTokens]] joined on single
    * spaces - the opt-in WIRE into every whitespace tokenizer
    * downstream. Map a no-space-script corpus's text column through
    * this once and [[jaccardPairs]]/[[minhashLshPairs]]/BM25/
    * vocabulary/contamination run unchanged over bigram "words"
    * (gate on [[graft.ops.TextOps.scriptProfile]]'s dominant class
    * to leave spaced-script documents untouched).
    */
  def segmentNoSpaceScripts(c: Column): Column =
    array_join(scriptAwareTokens(c), " ")

  /** Distinct word `n`-shingles as strings ("a b c"). For n = 1 this is
    * the distinct token set. Documents shorter than `n` words yield their
    * whole token list as one (short) shingle.
    *
    * Implemented as a tight Scala kernel rather than nested
    * transform/slice/concat_ws expressions: higher-order functions do not
    * participate in whole-stage codegen, and their per-element ArrayData
    * allocation made sketch queries GC-bound. One kernel call per row
    * scales linearly at any data size (no shuffle, no state).
    */
  private[graft] def shingleArray(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty[String]
    val toks = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) return if (n <= 1) Array.empty[String] else Array("")
    if (n <= 1) return toks.distinct
    val upper = math.max(toks.length - n, 0)
    val seen = new scala.collection.mutable.LinkedHashSet[String]
    var i = 0
    while (i <= upper) {
      seen += toks.slice(i, math.min(i + n, toks.length)).mkString(" ")
      i += 1
    }
    seen.toArray
  }

  def shingleStrings(c: Column, n: Int): Column =
    graft.functions.GraftFunctions.shingles(c, n)

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  /** Keep one row per distinct value of `col` (the min of `idCol` wins) -
    * the classic hash-groupBy dedup; one shuffle on the text hash.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(F.col(textCol))
      .agg(
        min(F.col(idCol)).as(idCol),
        count(lit(1)).as("n_copies")
      )
      .select(F.col(idCol), F.col("n_copies"))

  // ---------------------------------------------------------------------
  // Trie-accelerated fuzzy (edit-distance) dedup
  // ---------------------------------------------------------------------

  /** Cluster values whose Levenshtein distance is <= `maxDist`: build a
    * prefix tree over the trimmed values, SELF-JOIN it with the
    * branch-and-bound traversal (the reference's own algorithm - this is
    * the operator the trie exists for), take matched pairs as edges, and
    * collapse them into clusters with [[GraphOps.connectedComponents]].
    *
    * The trie is built straight from the raw column: `PrefixTree.create`
    * already trims, drops empties and collapses duplicates into one
    * end-cap, so there is no `distinct()` shuffle, and its end-caps are
    * both the queries and the output rows. `Query.selfJoin` finds each
    * pair once: an end-cap searches only the end-caps after it in the
    * index's pre-order, which skips every subtree ending at or before it
    * and needs no `a < b` filter over doubled pairs. The cut keys on that
    * position, not on `String` order, because the build's pre-order is
    * not sorted across its hash-partitioned forests.
    *
    * Output: (value, cluster_id = min value in the cluster), one row per
    * distinct non-empty value; singletons are their own cluster. At
    * corpus scale this replaces the O(n^2) all-pairs levenshtein join
    * with the pruned trie frontier per value.
    */
  def fuzzyDedup(
      df: DataFrame,
      textCol: String,
      maxDist: Int,
      prefixLen: Int = 2
  ): DataFrame = {
    val raw = df.select(F.col(textCol).as("value"))
    // consumed three times: sizing, the search, the output rows
    val trie = graft.ptree.PrefixTree.create(raw, "value", prefixLen).localCheckpoint()
    val pairs = graft.ptree.Query.selfJoin(trie, maxDist)
    val clustered = GraphOps.connectedComponents(pairs, "query_string", "node")
    // CC only covers values with >= 1 near-match; singletons join back.
    // An end-cap's word is never null: `value` is declared as nullable as
    // the input column, as trim(textCol) would be
    val word = if (raw.schema.head.nullable) F.col("node") else coalesce(F.col("node"), lit(""))
    val vals = trie.filter(F.col("is_word")).select(word.as("value"))
    vals
      .join(clustered, vals("value") === clustered("id"), "left")
      .select(F.col("value"),
        coalesce(F.col("cluster_id"), F.col("value")).as("cluster_id"))
  }

  /** Terminal step of every near-dup pipeline: resolve clusters to one
    * surviving document each - the highest `scoreCol` wins, ties to the
    * smallest id. Documents in no cluster (the overwhelming majority at
    * corpus scale) are their own survivors via the left join. Output:
    * (cluster_id, <idCol> = survivor, n_members).
    *
    * Scale shape: one equi-join docs->clusters (clusters is vertex-sized,
    * far smaller than the corpus) and one window over cluster_id -
    * cluster sizes are bounded by the upstream pair generation, so no
    * skewed window partitions.
    */
  def keepBestPerCluster(
      docs: DataFrame,
      idCol: String,
      scoreCol: String,
      clusters: DataFrame // (id, cluster_id) as produced by GraphOps
  ): DataFrame = {
    val joined = docs
      .join(clusters, docs(idCol) === clusters("id"), "left")
      .select(
        docs(idCol).as("doc"),
        F.col(scoreCol).as("score"),
        coalesce(F.col("cluster_id"), docs(idCol)).as("cluster_id"))
    val byCluster = Window.partitionBy("cluster_id")
    joined
      .withColumn("rk",
        row_number().over(byCluster.orderBy(F.col("score").desc, F.col("doc").asc)))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(F.col("rk") === 1)
      .select(F.col("cluster_id"), F.col("doc").as(idCol), F.col("n_members"))
  }

  // ---------------------------------------------------------------------
  // Exact token-set Jaccard (the ground truth the sketches approximate)
  // ---------------------------------------------------------------------

  /** All document pairs with token-set Jaccard >= `threshold`.
    *
    * Candidate generation: explode distinct tokens, self-join on token
    * (equi-join, NOT a cross join), count shared tokens per pair, then
    * Jaccard = inter / (|A| + |B| - inter). At scale the token join is
    * the standard "inverted index" prefix filter; stop-word-like tokens
    * shared by most documents make it quadratic - callers should filter
    * hot tokens first (see `maxTokenDocFreq`).
    */
  def jaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxTokenDocFreq: Long = Long.MaxValue,
      shingleLen: Int = 1
  ): DataFrame =
    tokenIntersections(df, idCol, textCol, maxTokenDocFreq, shingleLen)
      .withColumn("jaccard", F.col("inter").cast(DoubleType) /
        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
      .filter(F.col("jaccard") >= threshold)
      .select(F.col("id_a"), F.col("id_b"), round(F.col("jaccard"), 6).as("jaccard"))

  /** All document pairs with overlap coefficient
    * `inter / min(|A|, |B|) >= threshold` - the containment detector
    * Jaccard structurally misses: a short document fully quoted inside
    * a long one has overlap 1.0 but Jaccard ~ |short|/|long|, far below
    * any near-dup threshold. This is the dedup pass that catches
    * subset/quotation/boilerplate-wrapper documents. Same inverted-index
    * candidate generation (and skew cap) as [[jaccardPairs]]; output
    * `(id_a, id_b, overlap)`.
    */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxTokenDocFreq: Long = Long.MaxValue,
      shingleLen: Int = 1
  ): DataFrame =
    tokenIntersections(df, idCol, textCol, maxTokenDocFreq, shingleLen)
      .withColumn("overlap", F.col("inter").cast(DoubleType) /
        least(F.col("sz_a"), F.col("sz_b")))
      .filter(F.col("overlap") >= threshold)
      .select(F.col("id_a"), F.col("id_b"), round(F.col("overlap"), 6).as("overlap"))

  /** Shared candidate generation for the exact set-similarity pairs:
    * inverted-index equi-join on distinct shingles + per-pair
    * intersection counts + per-doc sizes over the SAME (hot-filtered)
    * token universe. Returns `(id_a, id_b, inter, sz_a, sz_b)`.
    */
  private def tokenIntersections(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokenDocFreq: Long,
      shingleLen: Int
  ): DataFrame = {
    val toks0 = OpsUtil.spread(df)
      .select(F.col(idCol).as("id"), explode(shingleStrings(F.col(textCol), shingleLen)).as("tok"))
    // with the skew cap active the token table feeds FOUR consumers (hot
    // count, sizes, both join sides); materialize it once instead of
    // re-running scan+shingle per consumer. This is the inverted index
    // every production near-dup pipeline materializes anyway; disk-backed.
    val toks = if (maxTokenDocFreq == Long.MaxValue) toks0 else toks0.localCheckpoint()
    val filtered =
      if (maxTokenDocFreq == Long.MaxValue) toks
      else {
        val hot = toks.groupBy("tok").count().filter(F.col("count") > maxTokenDocFreq).select("tok")
        toks.join(broadcast(hot), Seq("tok"), "left_anti")
      }
    // sizes over the SAME token universe as the intersection: with a
    // hot-token filter active, similarity is then exact within the
    // filtered universe instead of a systematic underestimate
    // (numerator filtered, denominator not)
    val sizes = filtered.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = filtered.as("a")
      .join(filtered.as("b").hint("shuffle_hash"),
        F.col("a.tok") === F.col("b.tok") && F.col("a.id") < F.col("b.id"))
      .groupBy(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
  }

  /** Per-document duplication fraction: what share of a document's
    * distinct word `shingleLen`-shingles also occur in at least one
    * OTHER document. The corpus-level curation metric (the Dolma /
    * RedPajama-style "duplication profile") that decides how aggressive
    * a dedup pass needs to be - computed WITHOUT generating a single
    * document pair, which is what makes it affordable where the
    * pairwise operators above need banding/capping.
    *
    * Scale shape: explode distinct shingles (codegen kernel, 1->N),
    * ONE shuffle on the shingle to count document frequency (partial
    * count map-side; no cap needed - a hot shingle is just a large
    * count, never a pair explosion), one equi-join of the per-doc
    * shingle list back to that type table (same key, AQE-coalesced),
    * one per-doc aggregate. The shingle frame feeds both sides, so it
    * is materialized once, like [[tokenIntersections]]'s index.
    *
    * Output: (id, n_shingles, n_dup, dup_frac), one row per document
    * with at least one shingle.
    */
  def dupFraction(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleLen: Int = 3
  ): DataFrame = {
    val sh = OpsUtil.spread(df)
      .select(F.col(idCol).as("id"), explode(shingleStrings(F.col(textCol), shingleLen)).as("sh"))
      .localCheckpoint()
    // shingles are DISTINCT within a document (shingleStrings contract),
    // so count(*) per shingle IS its document frequency
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("docfreq"))
    val out = sh.join(dfreq, "sh")
      .groupBy("id")
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(F.col("docfreq") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        round(F.col("n_dup").cast(DoubleType) / F.col("n_shingles").cast(DoubleType), 6))
      // materialize the per-doc profile (4 narrow columns) so the
      // shingle-exploded checkpoint - far larger than the corpus - is
      // released now, not when the returned frame is GC'd (same
      // lifecycle as winnowPairs; release the result with
      // OpsUtil.unpersistCheckpoint after consumption)
      .localCheckpoint()
    OpsUtil.unpersistCheckpoint(sh)
    out
  }

  /** Cross-source overlap matrix: for every pair of sources, how much
    * of their distinct shingle vocabulary is shared (count + Jaccard) -
    * the provenance-overlap report that tells a curation pass which
    * sources are near-copies of each other (mirrored crawls, vendored
    * dumps, re-exports) BEFORE any document-level dedup runs.
    *
    * Scale shape: per-doc distinct shingles fold to DISTINCT
    * (source, shingle) rows - a vocabulary-sized frame, not a
    * corpus-sized one - then one shingle-keyed equi-self-join. A
    * shingle shared by S sources contributes O(S^2) pairs, bounded by
    * the SOURCE count (structurally small: tens to hundreds), never by
    * corpus size - which is why this needs no hot-key cap where the
    * document-pair joins above do.
    *
    * Output: (src_a, src_b, inter, sz_a, sz_b, jaccard), one row per
    * unordered source pair with at least one shared shingle.
    */
  def sourceOverlap(
      df: DataFrame,
      strataCol: String,
      textCol: String,
      shingleLen: Int = 3
  ): DataFrame = {
    val sh = OpsUtil.spread(df)
      .select(F.col(strataCol).as("src"),
        explode(shingleStrings(F.col(textCol), shingleLen)).as("sh"))
      .distinct()
      .localCheckpoint() // feeds sizes + both join sides
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b").hint("shuffle_hash"),
        F.col("a.sh") === F.col("b.sh") && F.col("a.src") < F.col("b.src"))
      .groupBy(F.col("a.src").as("src_a"), F.col("b.src").as("src_b"))
      .agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.withColumnRenamed("src", "src_a").withColumnRenamed("sz", "sz_a"), "src_a")
      .join(sizes.withColumnRenamed("src", "src_b").withColumnRenamed("sz", "sz_b"), "src_b")
      .withColumn("jaccard",
        round(F.col("inter").cast(DoubleType) /
          (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast(DoubleType), 6))
      // the matrix is source-pair-sized (tiny): materialize it and
      // release the vocabulary-sized shingle checkpoint immediately
      // (winnowPairs lifecycle; OpsUtil.unpersistCheckpoint releases
      // the returned frame if a caller loops this)
      .localCheckpoint()
    OpsUtil.unpersistCheckpoint(sh)
    out
  }

  /** [[jaccardPairs]] with prefix filtering (SSJoin/PPJoin-style): the
    * lossless candidate pruning for exact set-similarity joins at scale.
    *
    * Instead of indexing EVERY shingle of every document, each document
    * indexes only its prefix - the `|d| - ceil(t*|d|) + 1` rarest
    * shingles under one global (doc-frequency asc, shingle asc) order.
    * Theorem (Chaudhuri/Bayardo prefix filter): two sets with Jaccard
    * >= t must share at least one prefix element, so joining prefixes
    * finds every qualifying pair; candidates are then verified with an
    * exact intersection over the full (array-packed) shingle sets.
    * Rarest-first ordering makes surviving prefix keys as selective as
    * possible.
    *
    * Identical output to [[jaccardPairs]] (spec-pinned, and the
    * dedup_jaccard DuckDB oracle holds for either implementation). The
    * trade: two extra vocabulary/document-sized shuffles (frequency
    * rank + per-doc arrays) buy a candidate join on ~(1-t) of the token
    * stream with no post-prefix pair explosion - at corpus scale the
    * pair explosion is the cost that matters; below ~10^6 documents the
    * plain inverted index's fewer stages usually win.
    */
  def jaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxTokenDocFreq: Long = Long.MaxValue,
      shingleLen: Int = 1
  ): DataFrame = {
    val toks0 = OpsUtil.spread(df)
      .select(F.col(idCol).as("id"), explode(shingleStrings(F.col(textCol), shingleLen)).as("sh"))
    // feeds doc-frequency AND the per-doc arrays: materialize once
    val toks = toks0.localCheckpoint()
    val filtered =
      if (maxTokenDocFreq == Long.MaxValue) toks
      else {
        val hot = toks.groupBy("sh").count().filter(F.col("count") > maxTokenDocFreq).select("sh")
        toks.join(broadcast(hot), Seq("sh"), "left_anti")
      }
    // one global total order, rarest first; ties broken by the shingle
    // itself so the order is deterministic
    val freq = filtered.groupBy("sh").agg(count(lit(1)).as("df_sh"))
    val arrs = filtered.join(freq, "sh")
      .select(F.col("id"), struct(F.col("df_sh"), F.col("sh")).as("k"))
      .groupBy("id")
      .agg(sort_array(collect_list(F.col("k"))).as("ks"))
      .select(F.col("id"),
        transform(F.col("ks"), k => k.getField("sh")).as("shs"),
        size(F.col("ks")).as("sz"))
      .localCheckpoint() // feeds prefix index + both verify joins
    // ceil(sz*t - eps): the double product can round up past the exact
    // rational (e.g. 0.8 > 4/5), which would shorten the prefix by one and
    // drop a pair sitting exactly at the threshold
    val prefLen = (F.col("sz") - ceil(F.col("sz") * lit(threshold) - lit(1e-9)).cast(IntegerType) + 1)
    val pref = arrs.select(F.col("id"), explode(slice(F.col("shs"), lit(1), prefLen)).as("sh"))
    val cand = pref.as("a")
      .join(pref.as("b").hint("shuffle_hash"),
        F.col("a.sh") === F.col("b.sh") && F.col("a.id") < F.col("b.id"))
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .distinct()
    cand
      .join(arrs.select(F.col("id").as("id_a"), F.col("shs").as("sa"), F.col("sz").as("sz_a")), "id_a")
      .join(arrs.select(F.col("id").as("id_b"), F.col("shs").as("sb"), F.col("sz").as("sz_b")), "id_b")
      .withColumn("inter", size(array_intersect(F.col("sa"), F.col("sb"))))
      .withColumn("jaccard", F.col("inter").cast(DoubleType) /
        (F.col("sz_a") + F.col("sz_b") - F.col("inter")))
      .filter(F.col("jaccard") >= threshold)
      .select(F.col("id_a"), F.col("id_b"), round(F.col("jaccard"), 6).as("jaccard"))
  }

  // ---------------------------------------------------------------------
  // MinHash + LSH (the scale path for near-dup detection)
  // ---------------------------------------------------------------------

  /** Per-document MinHash signature over hashed word `shingleLen`-shingles
    * (row-local, shuffle-free; one native-expression call per document).
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      shingleLen: Int = 3,
      seed: Int = 42
  ): DataFrame = {
    // One native-expression call per document: tokenize -> shingle ->
    // hash -> running minima, all on primitive arrays inside whole-stage
    // codegen (graft.functions.MinHashSig). The expression-tree
    // formulations tried first - nested transform/aggregate/zip_with -
    // are interpreted per element and turned this stage GC-bound.
    OpsUtil.spread(df).select(
      F.col(idCol).as("id"),
      graft.functions.GraftFunctions
        .minhash_sig(F.col(textCol), numHashes, shingleLen, seed)
        .as("signature")
    )
  }

  /** Candidate near-dup pairs via banded LSH over MinHash signatures:
    * split each signature into `bands` bands, hash each band to a bucket,
    * self-join on (band, bucket). Collision probability follows the
    * classic S-curve `1 - (1 - j^r)^b`. Output: (id_a, id_b, est_jaccard)
    * where est = fraction of agreeing signature positions.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleLen: Int = 3,
      threshold: Double = 0.5,
      maxBucketSize: Long = Long.MaxValue
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs0 = minhashSignatures(df, idCol, textCol, numHashes, shingleLen)
    // with the skew cap active the signatures feed three consumers (hot
    // count + both join sides): checkpoint the COMPACT per-doc signatures
    // (1 row/doc) rather than the bands-times-exploded table downstream -
    // banding from cached signatures is a cheap slice+explode
    val sigs = if (maxBucketSize == Long.MaxValue) sigs0 else sigs0.localCheckpoint()
    // the signature rides along each band row: the pair estimate below
    // reads it on both join sides
    val bandedAll = bandSignatures(sigs, numHashes, bands, "signature")
    // skew guard for the self-join: a bucket with B members yields
    // O(B^2) candidate pairs, and oversized buckets at corpus scale are
    // degenerate (boilerplate/empty-ish documents) with near-zero
    // precision. Dropping them bounds the worst key; the anti-join
    // broadcasts only the (few) hot bucket keys. Off by default so
    // small-corpus results are exhaustive.
    val banded =
      if (maxBucketSize == Long.MaxValue) bandedAll
      else {
        val hot = bandedAll.groupBy("band", "bucket").count()
          .filter(col("count") > maxBucketSize).select("band", "bucket")
        bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      }
    // estimate BEFORE deduping band collisions: the estimate is a cheap
    // kernel over arrays already in hand, and dropping the signature
    // columns first means the dedup shuffle moves 24-byte rows instead of
    // kilobyte signature pairs
    // shuffle-hash join, never broadcast: both sides are corpus-sized
    // (broadcasting the banded table stalls the driver and cannot scale)
    banded.as("a")
      .join(
        banded.as("b").hint("shuffle_hash"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id")
      )
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        graft.functions.GraftFunctions
          .sig_agree(col("a.signature"), col("b.signature")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  // ---------------------------------------------------------------------
  // SimHash
  // ---------------------------------------------------------------------

  /** 64-bit SimHash over tokens: each token is hashed to 64 bits (the
    * first 8 md5 bytes, big-endian - recomputable in any engine with
    * md5, which is how the DuckDB oracle replays this pipeline) and
    * votes +-1 per bit; the sign of each bit-sum forms the fingerprint.
    * Exposed as the native codegen expression `graft.functions.SimHash64`.
    */
  private[graft] def simhashKernel(text: String): Long = {
    val counts = new Array[Int](64)
    val toks = if (text == null) Array.empty[String]
      else text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
    toks.foreach { t =>
      val h = graft.functions.ExprKernels.md5Hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) { if (counts(b) > 0) fp |= (1L << b); b += 1 }
    fp
  }

  def simhashFingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    OpsUtil.spread(df).select(
      F.col(idCol).as("id"),
      graft.functions.GraftFunctions.simhash64(F.col(textCol)).as("simhash")
    )

  /** Near-dup pairs with Hamming distance <= `maxHamming`, found by the
    * block-rotation trick: split the 64-bit fingerprint into
    * `maxHamming + 1` blocks - any pair within the budget agrees on at
    * least one block (pigeonhole), so candidates come from equi-joins on
    * (blockIndex, blockValue), never a cross join.
    */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBlockSize: Long = Long.MaxValue
  ): DataFrame =
    hammingPairs(simhashFingerprints(df, idCol, textCol),
      "id", "simhash", maxHamming, maxBlockSize)

  /** Near-dup pairs over ANY 64-bit fingerprint column by the
    * pigeonhole block join (the [[simhashPairs]] engine, factored so
    * image dHashes and other sketches reuse it): split the hash into
    * maxHamming+1 disjoint blocks - two hashes within maxHamming MUST
    * agree on at least one whole block - join per (block index, block
    * value), verify with codegen xor+bit_count, dedupe survivors.
    * LOSSLESS for the given radius unless `maxBlockSize` caps a
    * degenerate block (the standard skew guard; a block shared by B
    * hashes is an O(B^2) join key).
    *
    * Output: (id_a, id_b, hamming) with id_a < id_b.
    */
  def hammingPairs(
      fps0: DataFrame,
      idCol: String,
      hashCol: String,
      maxHamming: Int = 3,
      maxBlockSize: Long = Long.MaxValue
  ): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"need 0 <= maxHamming <= 63 (blocks must be >= 1 bit wide), got $maxHamming")
    val blocks = maxHamming + 1
    val width = 64 / blocks
    val base = fps0.select(F.col(idCol).as("id"), F.col(hashCol).as("hsh"))
    // same shape as minhashLshPairs: checkpoint the compact per-doc
    // fingerprints (8 bytes/doc) once when the cap adds a third consumer
    val fps = if (maxBlockSize == Long.MaxValue) base else base.localCheckpoint()
    val blockStructs = (0 until blocks).map { bIdx =>
      struct(
        lit(bIdx).as("blk"),
        shiftrightunsigned(col("hsh"), bIdx * width)
          .bitwiseAND(lit((1L << width) - 1)).as("key")
      )
    }
    val keyedAll = fps.select(
      col("id"),
      col("hsh"),
      explode(array(blockStructs: _*)).as("bk")
    ).select(col("id"), col("hsh"),
      col("bk.blk").as("blk"), col("bk.key").as("key"))
    // same skew guard as minhashLshPairs: bound the quadratic worst key
    val keyed =
      if (maxBlockSize == Long.MaxValue) keyedAll
      else {
        val hot = keyedAll.groupBy("blk", "key").count()
          .filter(col("count") > maxBlockSize).select("blk", "key")
        keyedAll.join(broadcast(hot), Seq("blk", "key"), "left_anti")
      }
    // The pair enumeration inside a block is O(B^2), and real fingerprint
    // distributions are wildly skewed (measured on the sf0.1 media
    // fixtures: ONE dHash class holds 51% of all video-frame pairs; the
    // three degenerate all-ones image blocks hold ~97% of 17.4M pairs) -
    // so a plain self-join runs almost the whole join in one or two
    // tasks no matter the partition count, and AQE's skew handling can't
    // help (it splits by BYTES, and one equality key can't be split at
    // all). Standard hot-key treatment (guide §2.5): decompose each
    // block's pair space into triangle sub-quadrants. Rows get a
    // deterministic sub-group g in [0, G) with G = ceil(B / subBlockRows)
    // (capped - a block at the cap is degenerate and maxBlockSize is the
    // intended guard); the LEFT side carries a copy per (g, h >= g)
    // sub-key, the RIGHT side per (l <= g, g), and the join key grows to
    // (blk, key, lo, hi): a same-group pair meets once on the diagonal
    // (kept iff a.id < b.id, exactly the old condition), a cross-group
    // pair meets exactly once off-diagonal (normalized to id_a < id_b by
    // least/greatest). The produced pair SET is identical to the plain
    // a.id < b.id self-join; work per task is bounded by ~subBlockRows^2
    // pairs. Small blocks (B <= subBlockRows) have G = 1 and reduce to
    // the old plan shape. The window count rides the same (blk, key)
    // shuffle the join needed anyway, and the final EXPLICIT repartition
    // pins the parallelism to spark.sql.shuffle.partitions (the scale
    // knob) so AQE's bytes-based coalescing cannot serialize this
    // compute-bound stage (measured: it folded the 390 KB exchange to
    // one partition and ran 5.1 s single-task at local[32]).
    val subBlockRows = 256L
    val maxSubGroups = 64L
    val wspec = org.apache.spark.sql.expressions.Window.partitionBy("blk", "key")
    val grouped = keyed
      .withColumn("gr_gn",
        least(ceil(count(lit(1)).over(wspec) / subBlockRows), lit(maxSubGroups))
          .cast(org.apache.spark.sql.types.LongType))
      .withColumn("gr_g", pmod(xxhash64(col("id")), col("gr_gn")))
    val left = grouped
      .withColumn("gr_hi", explode(sequence(col("gr_g"), col("gr_gn") - 1)))
      .select(col("id"), col("hsh"), col("blk"), col("key"),
        col("gr_g").as("lo"), col("gr_hi").as("hi"))
    val right = grouped
      .withColumn("gr_lo", explode(sequence(lit(0L), col("gr_g"))))
      .select(col("id"), col("hsh"), col("blk"), col("key"),
        col("gr_lo").as("lo"), col("gr_g").as("hi"))
    val nParts = fps.sparkSession.sessionState.conf.numShufflePartitions
    val jk = Seq("blk", "key", "lo", "hi")
    left.repartition(nParts, jk.map(col): _*).as("a")
      .join(
        right.repartition(nParts, jk.map(col): _*).as("b").hint("shuffle_hash"),
        jk.map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
          (col("a.lo") =!= col("a.hi") || col("a.id") < col("b.id"))
      )
      // filter on hamming FIRST (codegen'd xor+bit_count on values already
      // in the join row), then dedupe the narrow survivors
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"),
        bit_count(col("a.hsh").bitwiseXOR(col("b.hsh"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), col("hamming").cast(IntegerType).as("hamming"))
  }

  // ---------------------------------------------------------------------
  // Exact substring-span dedup (window fingerprinting)
  // ---------------------------------------------------------------------

  /** Substring-level duplication profile: slide a `window`-char window
    * with stride `step` over each document's lowercased text and mark
    * every window whose exact text also occurs in at least one OTHER
    * document - the substring-granular exact dedup that catches boiler-
    * plate, quotes, and template blocks that whole-document dedup misses
    * (the "deduplicating training data" span-removal setting, at window
    * rather than suffix-array granularity).
    *
    * Output, one row per document with at least one full window:
    * (doc_id, n_windows, n_dup_windows, dup_ratio) where a window
    * instance counts as duplicated iff >= 2 DISTINCT documents contain
    * its text (the instance's own document is always one of them, so
    * the condition is exactly "someone else has this span too").
    * Intra-document repetition is NOT flagged here - that is
    * [[graft.ops.TextOps]]'s repetitionScore.
    *
    * Scale shape: the explode emits total_chars/step rows, the only
    * shuffle groups them by window text (bounded at `window` bytes per
    * key - no unbounded carry), and the verdict joins back on the same
    * key. Stride trades recall for volume: step <= window/2 still
    * covers every duplicated region of >= 1.5*window chars at some
    * alignment. No all-pairs stage at any size.
    */
  def duplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 40,
      step: Int = 10
  ): DataFrame = {
    require(window >= 3, s"window must be >= 3 chars, got $window")
    require(step >= 1, s"step must be >= 1, got $step")
    val t = F.col("t")
    // explicit guard: Spark's sequence(1, n) with n <= 0 generates a
    // DESCENDING range, not an empty one
    val positions = when(length(t) >= window,
      sequence(lit(1), length(t) - lit(window) + lit(1), lit(step)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val wins = df.filter(F.col(textCol).isNotNull)
      .select(F.col(idCol).as("id"), lower(F.col(textCol)).as("t"))
      .select(F.col("id"), explode(positions).as("p"), F.col("t"))
      .select(F.col("id"), F.col("t").substr(F.col("p"), lit(window)).as("win"))
      .localCheckpoint() // feeds the doc-frequency aggregate AND the verdict join
    val docFreq = wins.select(F.col("win"), F.col("id")).distinct()
      .groupBy("win").agg(count(lit(1)).as("docs_with"))
    wins.join(docFreq.hint("shuffle_hash"), Seq("win"))
      .groupBy(F.col("id").as("doc_id"))
      .agg(
        count(lit(1)).as("n_windows"),
        sum(when(F.col("docs_with") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(F.col("doc_id"), F.col("n_windows"), F.col("n_dup_windows"),
        round(F.col("n_dup_windows").cast(DoubleType) / F.col("n_windows"), 6)
          .as("dup_ratio"))
  }

  /** EXACT-alignment duplicate spans - the Lee et al. setting at full
    * character granularity, closing [[duplicateSpans]]' stride gap:
    * step=1 windows of `minLen` chars, dup verdict per window (>= 2
    * distinct documents contain the lowercased text), then
    * overlapping/adjacent duplicated windows merge into MAXIMAL spans.
    * The guarantee strided windows can't give: a cross-document
    * duplicated region of length >= minLen is recovered EXACTLY - its
    * every in-region window is duplicated at step 1, so the merged
    * span is the region itself, at any alignment.
    *
    * Scale shape: the explode emits one row per character, but the
    * shuffle key is an 8-byte `xxhash64` FINGERPRINT of the window, not
    * the `minLen`-byte window text: the doc-frequency exchange moves
    * ~(8 + id/pos) bytes per character instead of ~minLen bytes - at
    * the 40-char default a 4x-5x shuffle-byte cut, independent of
    * minLen (a 100-char window costs the same 8 bytes). The price of
    * fingerprinting is collision OVER-flagging: two different windows
    * sharing a hash count as one span text. That is (a) deterministic,
    * (b) conservative for a dedup profile (a span is flagged that
    * shouldn't be - never the reverse... strictly: a window is flagged
    * iff >= 2 distinct docs share its HASH, which a colliding pair
    * fakes), and (c) vanishingly rare: 10^14 windows (100 TB at one
    * window per char) see ~(10^14)^2 / 2^65 ~ 2.7e8 colliding pairs,
    * an over-flag rate of ~3e-6 of windows - noise against the
    * profile's purpose, and zero in practice at oracle scale (the
    * DuckDB replay groups by the window TEXT and stays byte-green,
    * which is itself the no-collisions-at-test-scale proof). Run
    * merging is a per-document HOF fold over the sorted window starts
    * (one doc-keyed shuffle, no per-character second explode).
    *
    * Output: one row per maximal duplicated span,
    * (idCol, span_start, span_len), 1-based original-text positions;
    * documents with no duplicated span emit nothing.
    */
  def exactDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minLen: Int = 40
  ): DataFrame = {
    require(minLen >= 3, s"minLen must be >= 3 chars, got $minLen")
    val t = F.col("t")
    val positions = when(length(t) >= minLen,
      sequence(lit(1), length(t) - lit(minLen) + lit(1), lit(1)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    val wins = df.filter(F.col(textCol).isNotNull)
      .select(F.col(idCol).as("id"), lower(F.col(textCol)).as("t"))
      .select(F.col("id"), explode(positions).as("p"), t)
      // the fingerprint replaces the window text BEFORE the shuffle:
      // 8 bytes/char through the exchange instead of minLen bytes
      .select(F.col("id"), F.col("p"),
        xxhash64(t.substr(F.col("p"), lit(minLen))).as("win"))
    val docFreq = wins.select(F.col("win"), F.col("id")).distinct()
      .groupBy("win").agg(count(lit(1)).as("docs_with"))
    val dupPos = wins.join(docFreq.hint("shuffle_hash"), Seq("win"))
      .filter(F.col("docs_with") >= 2)
      .groupBy(F.col("id"))
      .agg(sort_array(collect_list(F.col("p"))).as("ps"))
    // fold sorted starts into maximal runs: window [p, p+minLen) merges
    // into the open span iff it starts at or before the span's end
    val L = lit(minLen)
    val spanType = "array<struct<s:int,e:int>>"
    val init = struct(
      array().cast(spanType).as("spans"),
      lit(-1).as("cs"), lit(-1).as("ce"))
    val folded = aggregate(F.col("ps"), init,
      (acc, p) => {
        val spans = acc.getField("spans")
        val cs = acc.getField("cs"); val ce = acc.getField("ce")
        when(cs === -1,
          struct(spans.as("spans"), p.as("cs"), (p + L).as("ce")))
          .when(p <= ce,
            struct(spans.as("spans"), cs.as("cs"), (p + L).as("ce")))
          .otherwise(struct(
            concat(spans, array(struct(cs.as("s"), ce.as("e")))).as("spans"),
            p.as("cs"), (p + L).as("ce")))
      },
      acc => when(acc.getField("cs") === -1, acc.getField("spans"))
        .otherwise(concat(acc.getField("spans"),
          array(struct(acc.getField("cs").as("s"), acc.getField("ce").as("e"))))))
    dupPos
      .select(F.col("id"), explode(folded).as("span"))
      .select(F.col("id").as(idCol),
        F.col("span.s").as("span_start"),
        (F.col("span.e") - F.col("span.s")).as("span_len"))
  }

  /** Cross-document duplicate-span REMOVAL - the actual Lee et al.
    * "deduplicating training data" cleaning step [[duplicateSpans]]
    * only profiles: excise every window whose (lowercased) text occurs
    * in >= 2 distinct documents, stitch the surviving characters back
    * together in order, and emit the cleaned text. Window granularity
    * (not suffix-array): a character is removed iff SOME duplicated
    * window covers it, so overlapping dup windows merge into one
    * excised span.
    *
    * Semantics pinned for the oracle:
    *   - windows start at 1, 1+step, ... while a FULL `window` fits;
    *     docs shorter than `window` carry no windows and pass through
    *     unchanged;
    *   - matching is on lowercased window text, excision on the
    *     ORIGINAL text (positions are original-text positions);
    *   - a duplicated window is an instance whose text >= 2 DISTINCT
    *     documents contain - the instance's own document counts, so
    *     the condition is exactly "someone else has this span";
    *   - two byte-identical documents whose length is a covered
    *     multiple collapse to empty strings; stride tails (the last
    *     < window+step-1 chars no window starts over) survive.
    *
    * Scale shape: the SAME one-shuffle window frequency as
    * [[duplicateSpans]] (explode -> group by window text, bounded at
    * `window` bytes per key), then the duplicated positions fold back
    * per document and a higher-order `aggregate` stitches the gaps -
    * per-row work, no per-character explode, no second corpus shuffle
    * beyond the doc-id fold.
    *
    * Output, one row per non-null-text document:
    * (idCol, n_dup_windows, clean_text).
    */
  def removeDuplicateSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 40,
      step: Int = 10
  ): DataFrame = {
    require(window >= 3, s"window must be >= 3 chars, got $window")
    require(step >= 1, s"step must be >= 1, got $step")
    val base = df.filter(F.col(textCol).isNotNull)
      .select(F.col(idCol).as("id"), F.col(textCol).as("t"))
    val t = F.col("t")
    val positions = when(length(t) >= window,
      sequence(lit(1), length(t) - lit(window) + lit(1), lit(step)))
      .otherwise(array().cast(ArrayType(IntegerType)))
    // feeds the doc-frequency aggregate AND the verdict join; it is a
    // deterministic scan-shaped projection, so the second consumer
    // RECOMPUTES it rather than pinning ~window/step times the corpus
    // text in executor storage for the lifetime of the result (a
    // localCheckpoint here measured ~4x the corpus at the defaults,
    // held until the returned frame is released)
    val wins = base
      .select(F.col("id"), explode(positions).as("p"), t)
      .select(F.col("id"), F.col("p"),
        lower(t.substr(F.col("p"), lit(window))).as("win"))
    val docFreq = wins.select(F.col("win"), F.col("id")).distinct()
      .groupBy("win").agg(count(lit(1)).as("docs_with"))
    val dupPos = wins.join(docFreq.hint("shuffle_hash"), Seq("win"))
      .filter(F.col("docs_with") >= 2)
      .groupBy(F.col("id"))
      .agg(sort_array(collect_list(F.col("p"))).as("ps"))
    // gap-stitch fold: cursor starts at 1; each dup window [p, p+window)
    // appends the uncovered gap before it and advances the cursor past
    // its end (overlaps collapse via the greatest)
    val init = struct(lit(1).as("cur"), lit("").as("kept"))
    val folded = aggregate(F.col("ps"), init, (acc, p) => {
      val cur = acc.getField("cur")
      struct(
        greatest(cur, p + lit(window)).as("cur"),
        concat(acc.getField("kept"),
          t.substr(cur, greatest(p - cur, lit(0)))).as("kept"))
    })
    val stitched = concat(folded.getField("kept"),
      t.substr(folded.getField("cur"), length(t)))
    base.join(dupPos, Seq("id"), "left")
      .select(
        F.col("id").as(idCol),
        coalesce(size(F.col("ps")), lit(0)).cast(LongType).as("n_dup_windows"),
        when(F.col("ps").isNull, t).otherwise(stitched).as("clean_text"))
  }

  /** Near-dup candidate pairs from winnowing fingerprints
    * ([[TextOps.winnowFingerprints]]): docs sharing >= `minShared`
    * selected fingerprints. Winnowing's guarantee makes this the
    * principled sparse candidate generator for SHARED-SPAN near-dups:
    * any pair sharing a substring of length >= k + w - 1 shares a
    * fingerprint, while only ~2/(w+1) of positions are indexed - the
    * MOSS pairing step at corpus scale.
    *
    * Same skew discipline as every candidate generator here: a
    * fingerprint appearing in more than `maxFpDocFreq` docs is
    * boilerplate (headers, templates) with O(B^2) pair cost and
    * near-zero precision - dropped, and the oracle mirrors the cap.
    * The join is key-equality on fingerprints - never all-pairs.
    *
    * Output: (id_a, id_b, n_shared) with id_a < id_b.
    */
  def winnowPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 8,
      w: Int = 4,
      minShared: Int = 2,
      maxFpDocFreq: Long = 50L
  ): DataFrame = {
    // doc-level fingerprint SET (a fingerprint selected at several
    // positions of one doc counts once toward sharing)
    val fps = TextOps.winnowFingerprints(OpsUtil.spread(df), idCol, textCol, k, w)
      .select(F.col(idCol).as("id"), F.col("fp"))
      .distinct()
      .localCheckpoint() // feeds the hot-fp count and both join sides
    val hot = fps.groupBy("fp").count()
      .filter(F.col("count") > maxFpDocFreq).select("fp")
    val kept = fps.join(broadcast(hot), Seq("fp"), "left_anti")
    val pairs = kept.as("a")
      .join(kept.as("b").hint("shuffle_hash"),
        F.col("a.fp") === F.col("b.fp") && F.col("a.id") < F.col("b.id"))
      .groupBy(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(F.col("n_shared") >= minShared)
      // materialize the (bounded: capped-bucket pairs over threshold)
      // result now so the fingerprint checkpoint - corpus-sized - can be
      // released immediately instead of leaking for the process lifetime.
      // The RETURNED frame is itself checkpoint-backed: callers that run
      // winnowPairs repeatedly release it after consumption with
      // OpsUtil.unpersistCheckpoint (same contract as lshRead snapshots).
      .localCheckpoint()
    OpsUtil.unpersistCheckpoint(fps)
    pairs
  }

  /** LSH tuning audit - measure, don't guess: on a DETERMINISTIC
    * md5-keyed sample of the corpus, run both the exact shingle
    * Jaccard join and the banded MinHash pipeline at the same
    * threshold and report recall (exact pairs the sketch found) and
    * precision (sketch pairs that are exactly over threshold). This is
    * how numHashes/bands/threshold get chosen for a 100-TB run: audit
    * on the sample (quadratic cost bounded by the sample size), then
    * apply the tuned parameters corpus-wide. The sample is a pure
    * function of the id, so the audit is reproducible anywhere.
    *
    * Both sides read the same word-shingle definition, so the
    * comparison is apples-to-apples; no skew cap is applied inside the
    * audit (the sample is small by construction).
    *
    * Output: one row: (n_docs, n_exact, n_lsh, n_both, recall,
    * precision) - recall/precision NULL when the denominator is 0.
    */
  def lshAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sampleFraction: Double,
      threshold: Double = 0.5,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleLen: Int = 3
  ): DataFrame = {
    val sample = SampleOps.deterministicSample(
      df.filter(F.col(textCol).isNotNull), idCol, sampleFraction)
      .localCheckpoint() // feeds both pipelines; keep them on ONE snapshot
    val exact = jaccardPairs(sample, idCol, textCol, threshold,
        shingleLen = shingleLen)
      .select(F.col("id_a"), F.col("id_b"), lit(1).as("in_exact"))
    val lsh = minhashLshPairs(sample, idCol, textCol, numHashes, bands,
        shingleLen, threshold)
      .select(F.col("id_a"), F.col("id_b"), lit(1).as("in_lsh"))
    val n = sample.select(F.col(idCol)).distinct().count()
    val audit = exact.join(lsh, Seq("id_a", "id_b"), "full")
      .agg(
        lit(n).as("n_docs"),
        sum(coalesce(F.col("in_exact"), lit(0))).as("n_exact"),
        sum(coalesce(F.col("in_lsh"), lit(0))).as("n_lsh"),
        sum(when(F.col("in_exact").isNotNull && F.col("in_lsh").isNotNull, 1)
          .otherwise(0)).as("n_both"))
      .select(F.col("n_docs"), F.col("n_exact"), F.col("n_lsh"), F.col("n_both"),
        when(F.col("n_exact") > 0,
          round(F.col("n_both").cast(DoubleType) / F.col("n_exact"), 6)).as("recall"),
        when(F.col("n_lsh") > 0,
          round(F.col("n_both").cast(DoubleType) / F.col("n_lsh"), 6)).as("precision"))
    // the score is ONE row: materialize it now so the checkpointed
    // sample's storage blocks can be released immediately, instead of
    // leaking for the process lifetime on every audit call
    val result = audit.collect().toSeq
    OpsUtil.unpersistCheckpoint(sample)
    df.sparkSession.createDataFrame(
      df.sparkSession.sparkContext.parallelize(result, 1), audit.schema)
  }

  /** A persisted MinHash-LSH dedup index: the compact per-doc
    * signatures plus the exploded (id, band, bucket) membership table.
    * The lifecycle ([[lshBuild]] / [[lshWrite]] / [[lshRead]] /
    * [[lshProbe]]) is the INCREMENTAL dedup shape production pipelines
    * actually run: the existing corpus is signed once, and every new
    * crawl batch probes the persisted bands - the old corpus text is
    * never re-scanned, re-shingled, or re-hashed. Parameters travel
    * with the tables ([[lshWrite]]'s meta row): probing with a
    * mismatched hash family would be silently unsound, the Bloom
    * lesson applied here.
    */
  case class LshIndex(
      sigs: DataFrame,
      banded: DataFrame,
      numHashes: Int,
      bands: Int,
      shingleLen: Int,
      seed: Int)

  /** Sign and band a corpus into an [[LshIndex]]. The banded table
    * carries only (id, band, bucket) - the signature is NOT duplicated
    * per band; pair verification joins the compact signature table on
    * the (few) candidate ids instead.
    */
  def lshBuild(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleLen: Int = 3,
      seed: Int = 42,
      maxBucketSize: Long = Long.MaxValue
  ): LshIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sigs = minhashSignatures(df, idCol, textCol, numHashes, shingleLen, seed)
    val bandedAll = bandSignatures(sigs, numHashes, bands)
    // same degenerate-bucket guard as minhashLshPairs, applied at BUILD
    // time: a boilerplate bucket with B members costs every future probe
    // O(B) candidates for near-zero precision; dropping it once bounds
    // all probes. Off by default so small-corpus results are exhaustive.
    val banded =
      if (maxBucketSize == Long.MaxValue) bandedAll
      else {
        val hot = bandedAll.groupBy("band", "bucket").count()
          .filter(F.col("count") > maxBucketSize).select("band", "bucket")
        bandedAll.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
      }
    LshIndex(sigs, banded, numHashes, bands, shingleLen, seed)
  }

  /** Explode a compact signature table (id, signature, ...) into band
    * membership rows (id, carried..., band, bucket), where `carried`
    * names further columns of `sigs` kept on every band row. The bucket
    * key per band is the signature SLICE itself (r longs): raw slices
    * instead of a hash of the slice keep the whole banding stage in
    * builtin codegen'd expressions (no UDF) and make the bucket key
    * reproducible by the independent DuckDB oracle; the r*8-byte key is
    * slightly wider on the shuffle than an 8-byte hash, which the narrow
    * candidate rows can afford. Shared by [[minhashLshPairs]],
    * [[lshBuild]], [[lshProbe]], and the streaming maintenance (which
    * bands already-checkpointed signatures rather than re-running the
    * kernel).
    */
  def bandSignatures(sigs: DataFrame, numHashes: Int, bands: Int, carried: String*): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"), slice(F.col("signature"), b * r + 1, r).as("bucket"))
    }
    val kept = ("id" +: carried).map(F.col)
    sigs
      .select(kept :+ explode(array(bandStructs: _*)).as("bk"): _*)
      .select(kept ++ Seq(F.col("bk.band").as("band"), F.col("bk.bucket").as("bucket")): _*)
  }

  /** Directory-partition key of a band bucket: hash the whole (band,
    * bucket) key into one of `nBuckets` partition values, the trigram
    * index's layout trick - a probe joins on this PARTITION column, so
    * dynamic partition pruning drops unprobed directories at file
    * listing. Layout-only: results never depend on it.
    */
  private def lshPartition(nBuckets: Int): Column =
    F.pmod(F.xxhash64(F.col("band"), F.col("bucket")), lit(nBuckets.toLong))

  /** Persist an [[LshIndex]]: banded membership hive-partitioned on the
    * bucket-hash key (bounded directory count), compact signatures
    * sorted by id (row-group min/max pruning for candidate lookups),
    * and the hash-family parameters as a one-row meta table.
    */
  def lshWrite(index: LshIndex, path: String, nBuckets: Int = 32): Unit = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    index.banded
      .withColumn("pb", lshPartition(nBuckets))
      .repartition(F.col("pb"))
      .sortWithinPartitions("band", "id")
      .write.mode("overwrite").partitionBy("pb").parquet(s"$path/banded")
    index.sigs
      .repartitionByRange(F.col("id")).sortWithinPartitions("id")
      .write.mode("overwrite").parquet(s"$path/sigs")
    val spark = index.sigs.sparkSession
    import spark.implicits._
    Seq((index.numHashes, index.bands, index.shingleLen, index.seed, nBuckets))
      .toDF("num_hashes", "bands", "shingle_len", "seed", "n_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  /** Read a persisted [[LshIndex]] back: tables stay lazy scans; only
    * the one-row meta collects.
    */
  def lshRead(spark: org.apache.spark.sql.SparkSession, path: String): (LshIndex, Int) = {
    val m = spark.read.parquet(s"$path/meta").head()
    (LshIndex(
      spark.read.parquet(s"$path/sigs"),
      spark.read.parquet(s"$path/banded"),
      m.getInt(0), m.getInt(1), m.getInt(2), m.getInt(3)), m.getInt(4))
  }

  /** Probe a new batch against a persisted corpus index: sign the
    * BATCH only, equi-join its band buckets against the persisted
    * membership (on the partition column too, when the index was read
    * from [[lshWrite]]'s layout, so pruning fires at file listing),
    * verify candidates by signature agreement, and report each new
    * doc's best corpus match over `threshold` (est desc, corpus id asc
    * - deterministic). The corpus cost is the pruned membership scan
    * plus a candidate-sized signature lookup; corpus TEXT is never
    * touched.
    *
    * Output: (new_id, dup_of, est_jaccard) - one row per new doc that
    * has a near-dup in the corpus. Scope is batch-vs-CORPUS by
    * design; duplicates WITHIN the new batch are found by running
    * [[minhashLshPairs]] on the (small) batch itself before or after
    * the probe - the two compose, they don't overlap.
    */
  def lshProbe(
      index: LshIndex,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.5,
      nBuckets: Option[Int] = None
  ): DataFrame = {
    val nsigs = minhashSignatures(newDf, idCol, textCol,
      index.numHashes, index.shingleLen, index.seed)
    val probeBase = bandSignatures(nsigs, index.numHashes, index.bands, "signature")
      .select(F.col("id").as("new_id"), F.col("signature").as("new_sig"),
        F.col("band"), F.col("bucket"))
    val probe = nBuckets match {
      case Some(n) => probeBase.withColumn("pb", lshPartition(n))
      case None => probeBase
    }
    val joinKeys = Seq("band", "bucket") ++ (if (nBuckets.isDefined) Seq("pb") else Nil)
    val cands = index.banded
      .join(probe, joinKeys)
      .select(F.col("id").as("corpus_id"), F.col("new_id"), F.col("new_sig"))
      .distinct()
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("new_id")
      .orderBy(F.col("est_jaccard").desc, F.col("corpus_id").asc)
    cands
      .join(index.sigs.hint("shuffle_hash"), F.col("corpus_id") === F.col("id"))
      .withColumn("est_jaccard",
        graft.functions.GraftFunctions.sig_agree(F.col("new_sig"), F.col("signature")))
      .filter(F.col("est_jaccard") >= threshold)
      .withColumn("rk", row_number().over(w))
      .filter(F.col("rk") === 1)
      .select(F.col("new_id"), F.col("corpus_id").as("dup_of"),
        round(F.col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Entity resolution (record linkage): blocking -> in-block pairwise
    * Jaro-Winkler scoring -> threshold edges -> connected components ->
    * canonical cluster id per input row. The classic two-phase shape:
    * `blockKey` is the cheap deterministic key that bounds the
    * candidate space (sort-key prefix, normalized field, phonetic
    * code); the JW score is the expensive fuzzy verdict that only ever
    * runs INSIDE a block.
    *
    * Scale shape: one block-keyed shuffle-hash self-join (both sides
    * corpus-sized - the DedupOps candidate-join discipline), never
    * all-pairs; blocks larger than `maxBlockSize` are dropped loudly
    * in the profile sense (a block that big means the key is not a
    * blocking key - header/template values; same cap semantics as the
    * hot-shingle/LSH-bucket caps, and an oracle mirrors it). The JW
    * comparison rounds to 6dp BEFORE thresholding so a replaying
    * engine lands on the identical edge set. Cluster formation is
    * [[GraphOps.connectedComponents]] (min-id labels, driver off-ramp
    * under the shared `SizeGuard.DriverEdges` guard).
    *
    * Output: one row per input row: (idCol, cluster_id) - singletons
    * keep their own id as cluster id.
    */
  def resolveEntities(
      df: DataFrame,
      idCol: String,
      nameCol: String,
      blockKey: Column,
      threshold: Double,
      maxBlockSize: Long = 10000L
  ): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0, s"threshold in (0,1], got $threshold")
    val all = OpsUtil.spread(df)
      .select(F.col(idCol).as("gr_eid"), F.col(nameCol).as("gr_nm"), blockKey.as("gr_bk"))
      .localCheckpoint() // feeds block counts, both join sides, and the final join-back
    // a null name or block key cannot be compared - such rows skip
    // candidate generation but SURVIVE as singleton clusters below
    // (every input row appears in the output exactly once)
    val ents = all.filter(
      F.col("gr_eid").isNotNull && F.col("gr_nm").isNotNull && F.col("gr_bk").isNotNull)
    val hot = ents.groupBy(F.col("gr_bk")).agg(count(lit(1)).as("gr_n"))
      .filter(F.col("gr_n") > maxBlockSize).select(F.col("gr_bk"))
    val kept = ents.join(broadcast(hot), Seq("gr_bk"), "left_anti")
    val edges = kept.as("a")
      .join(kept.as("b").hint("shuffle_hash"),
        F.col("a.gr_bk") === F.col("b.gr_bk") && F.col("a.gr_eid") < F.col("b.gr_eid"))
      .filter(round(graft.functions.GraftFunctions
        .jaro_winkler(F.col("a.gr_nm"), F.col("b.gr_nm")), 6) >= threshold)
      .select(F.col("a.gr_eid").as("id_a"), F.col("b.gr_eid").as("id_b"))
    val cc = GraphOps.connectedComponents(edges, "id_a", "id_b")
    val out = all
      .join(cc, all("gr_eid") === cc("id"), "left")
      .select(F.col("gr_eid").as(idCol),
        coalesce(F.col("cluster_id"), F.col("gr_eid")).as("cluster_id"))
      // cluster map is (id, cluster)-narrow: materialize it and release
      // the entity checkpoint now (winnowPairs lifecycle)
      .localCheckpoint()
    OpsUtil.unpersistCheckpoint(all)
    out
  }
}
