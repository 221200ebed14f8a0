package graft.registry

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.DedupOps

/** Fixture builders and oracle fragments shared by more than one
  * query family.
  */
private[registry] object Fixtures {

  def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[tbl]] + OpsUtil.spread, for queries whose PRE-SHUFFLE per-row work
    * is heavy (payload synthesis + codec decode, kernel scans, wide
    * partial aggregates). The sf fixtures are single-row-group parquet
    * files, so a scan arrives as ONE split no matter the core count and
    * everything before the first exchange runs single-threaded (measured:
    * 5.1 s of media_video_dup's 7.8 s wall in one task at local[32]).
    * spread() rebalances only small inputs (< ~32 MB/core); at warehouse
    * scale a splittable source already carries a split per ~128 MB and
    * this is a no-op - scale-adaptive, not a local[32] tune (guide §2.2).
    *
    * Deliberately NOT applied to every query: an A/B over the full suite
    * measured that queries with LIGHT pre-shuffle work lose 0.1-1.0 s to
    * the extra round-robin exchange plus 32-way tiny-task overhead
    * (sampled 40-query tail: 21.6 s -> 30.0 s spread-everywhere), while
    * kernel/decode-bound queries win 2-5x. So the spread is opt-in per
    * query, driven by the bench. Results are partition-agnostic by
    * construction (every oracle is replayed SQL), re-verified byte-exact.
    */
  def tblS(s: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.OpsUtil.spread(tbl(s, dir, name))

  /** Hot-key cap shared by the sketch-dedup pipelines (jaccard token doc
    * freq / LSH bucket size / SimHash block size). A key with B members
    * yields O(B²) pairs in the candidate self-join, and keys that hot at
    * corpus scale are degenerate (stop-shingles, boilerplate, empty-ish
    * docs) with near-zero precision — dropping them bounds the worst
    * shuffle key. One constant so every oracle can mirror the same
    * filter by interpolation.
    */
  val skewCap = 50L

  /** Deterministic multi-line text shell for the C4-filter queries
    * (`docs_c4_filter`, `web_pipeline`): good lines, a javascript
    * notice, a too-short line, a no-punctuation line, and page-level
    * poison (code braces / lorem ipsum / policy boilerplate) on id-mod
    * slices. ONE builder + ONE oracle CTE ([[c4LinedCte]]) shared by
    * both - same no-drift rule as [[synthUrlCol]]/[[urlShellCte]].
    */
  def synthLinedCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 7 === 0, concat(lit("Doc "), id.cast(StringType)))
        .otherwise(concat(lit("Doc "), id.cast(StringType),
          lit(" begins here."))),
      lit("\n"), substring(col("text"), 1, 60), lit("."),
      when(id % 3 === 0,
        lit("\nPlease enable JavaScript to continue viewing."))
        .otherwise(lit("")),
      when(id % 4 === 0, lit("\nok.")).otherwise(lit("")),
      when(id % 5 === 0, lit("\nclick here to subscribe now"))
        .otherwise(lit("")),
      lit("\n"), substring(col("text"), 61, 40),
      when(id % 7 === 0, lit("\nand then it just stops"))
        .otherwise(lit("\nThe final line ends properly!")),
      when(id % 11 === 0, lit("\nif (x) { return; }")).otherwise(lit("")),
      when(id % 13 === 0, lit("\nfiller lorem ipsum dolor sit amet."))
        .otherwise(lit("")),
      when(id % 17 === 0, lit("\nSee our privacy policy for details."))
        .otherwise(lit("")))
  }

  /** `lined(doc_id, source, ltext)` - the [[synthLinedCol]] shell
    * replayed with `||` + chr(10) over relation `rel`, plus
    * `f(doc_id, source, ls, kept)` - the [[graft.ops.TextOps
    * .c4LineFilter]] replay (minWords = 3; page-level cuts in the
    * WHERE, line predicates in the list lambda). NOT pre-stripMargin'd.
    */
  def c4LinedCtes(rel: String): String =
    s"""lined AS (
      |  SELECT doc_id, source,
      |    (CASE WHEN doc_id % 7 = 0 THEN 'Doc ' || CAST(doc_id AS VARCHAR)
      |          ELSE 'Doc ' || CAST(doc_id AS VARCHAR) || ' begins here.' END)
      |    || chr(10) || substr(text, 1, 60) || '.'
      |    || (CASE WHEN doc_id % 3 = 0
      |             THEN chr(10) || 'Please enable JavaScript to continue viewing.'
      |             ELSE '' END)
      |    || (CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'ok.' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0
      |             THEN chr(10) || 'click here to subscribe now' ELSE '' END)
      |    || chr(10) || substr(text, 61, 40)
      |    || (CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'and then it just stops'
      |             ELSE chr(10) || 'The final line ends properly!' END)
      |    || (CASE WHEN doc_id % 11 = 0
      |             THEN chr(10) || 'if (x) { return; }' ELSE '' END)
      |    || (CASE WHEN doc_id % 13 = 0
      |             THEN chr(10) || 'filler lorem ipsum dolor sit amet.' ELSE '' END)
      |    || (CASE WHEN doc_id % 17 = 0
      |             THEN chr(10) || 'See our privacy policy for details.' ELSE '' END)
      |    AS ltext
      |  FROM $rel WHERE text IS NOT NULL
      |), f AS (
      |  SELECT doc_id, source,
      |    string_split(ltext, chr(10)) AS ls,
      |    list_filter(string_split(ltext, chr(10)), l ->
      |      trim(l) <> ''
      |      AND NOT contains(lower(l), 'javascript')
      |      AND regexp_matches(trim(l), '[.!?"]${"$"}')
      |      AND len(list_filter(string_split_regex(trim(l), '\\s+'),
      |                          w -> w <> '')) >= 3) AS kept
      |  FROM lined
      |  WHERE NOT contains(lower(ltext), 'lorem ipsum')
      |    AND NOT contains(ltext, '{')
      |    AND NOT contains(lower(ltext), 'terms of use')
      |    AND NOT contains(lower(ltext), 'privacy policy')
      |    AND NOT contains(lower(ltext), 'cookie policy')
      |)"""

  /** The [[graft.ops.TextOps.dedupLines]] replay (global
    * first-occurrence-wins, short lines never dedup, ordered
    * reassembly) over `rel(doc_id, $txt)` - ONE fragment for the
    * standalone (`docs_line_dedup`) and composed (`web_wet_pipeline`)
    * oracles, so the composition cannot drift from the piece. Includes
    * the final SELECT; NOT pre-stripMargin'd.
    */
  def lineDedupReplaySql(rel: String, txt: String): String =
    s"""la AS (
      |  SELECT doc_id, string_split($txt, chr(10)) AS arr FROM $rel
      |), l AS (
      |  SELECT doc_id, CAST(i AS INT) AS ln, arr[CAST(i AS INT)] AS line
      |  FROM (SELECT doc_id, arr, unnest(generate_series(1, len(arr))) AS i
      |        FROM la)
      |), firsts AS (
      |  SELECT line, min(struct_pack(id := doc_id, ln := ln)) AS first
      |  FROM l WHERE length(trim(line)) >= 10 GROUP BY line
      |), v AS (
      |  SELECT l.doc_id, l.ln, l.line,
      |    (length(trim(l.line)) < 10 OR
      |     (struct_extract(f.first, 'id') = l.doc_id AND
      |      struct_extract(f.first, 'ln') = l.ln)) AS keep
      |  FROM l LEFT JOIN firsts f USING (line)
      |)
      |SELECT doc_id,
      |  CAST(count(*) AS BIGINT) AS n_lines,
      |  CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
      |  coalesce(string_agg(CASE WHEN keep THEN line END, chr(10) ORDER BY ln),
      |           '') AS clean_text
      |FROM v GROUP BY doc_id"""

  /** The reusable CTE chain of the langId replay, ending in
    * `lpred(doc_id, lang_pred)` - internals prefixed `l` so the chain
    * composes with other fragments (the consistency pipeline feeds it
    * the transliteration shell). `rel` must carry doc_id + the text
    * expression.
    */
  def langIdCtes(rel: String, textExpr: String): String = {
    val (langs, prof) = graft.ops.TextOps.langProfiles
    val rows = prof.toSeq.sortBy(_._1).map { case (g, ws) =>
      s"('${g.replace("'", "''")}', [${ws.mkString(",")}])"
    }.mkString(", ")
    val sumCols = langs.indices
      .map(i => s"CAST(sum(ws[${i + 1}]) AS BIGINT) AS s$i").mkString(", ")
    val pick = langs.zipWithIndex
      .map { case (l, i) => s"WHEN s$i = best THEN '$l'" }.mkString(" ")
    val gramCtes = Seq(1, 2, 3).map { n =>
      s"""SELECT doc_id, substr(norm, CAST(i AS INT), $n) AS gram
         |  FROM (SELECT doc_id, norm,
         |               unnest(generate_series(1, length(norm) - ${n - 1})) AS i
         |        FROM lt WHERE length(norm) >= $n)""".stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL ")
    s"""prof(gram, ws) AS (VALUES $rows),
       |lt AS (
       |  SELECT doc_id,
       |    substr(trim(regexp_replace(regexp_replace(lower(coalesce($textExpr, '')),
       |      '[^\\p{L}\\p{M}]', ' ', 'g'), ' +', ' ', 'g')), 1, 256) AS norm
       |  FROM $rel
       |), lg AS (
       |  $gramCtes
       |), lm AS (
       |  SELECT lg.doc_id, p.ws FROM lg JOIN prof p USING (gram)
       |), ls AS (
       |  SELECT lt.doc_id, count(lm.ws) AS hits, $sumCols
       |  FROM lt LEFT JOIN lm USING (doc_id)
       |  GROUP BY lt.doc_id
       |), lb AS (
       |  SELECT *, greatest(${langs.indices.map(i => s"s$i").mkString(", ")}) AS best
       |  FROM ls
       |), lpred AS (
       |  SELECT doc_id,
       |         CASE WHEN hits = 0 THEN 'und' $pick ELSE 'und' END AS lang_pred
       |  FROM lb
       |)""".stripMargin
  }

  /** `t2/p2/z2/f2` + the final keep SELECT over a `base(doc_id, lang,
    * n_tok)` CTE: the [[graft.ops.SampleOps.temperatureMix]] replay at
    * T=2 (pow .5 over exact integer sums, DECIMAL normalizer, md5
    * keep threshold) under a 20000-token budget. ONE fragment shared
    * by `docs_lang_mix` and `web_pipeline_multilingual`.
    */
  lazy val langTempMixTailSql: String =
    """t2 AS (
      |  SELECT lang AS s, CAST(sum(n_tok) AS DOUBLE) AS n FROM base GROUP BY 1
      |), p2 AS (
      |  SELECT s, n, pow(n, 0.5) AS pp FROM t2
      |), z2 AS (
      |  SELECT CAST(sum(CAST(pp AS DECIMAL(38,18))) AS DOUBLE) AS zz FROM p2
      |), f2 AS (
      |  SELECT s, least(1.0, 20000.0 * pp / z2.zz / n) AS keep
      |  FROM p2 CROSS JOIN z2
      |)
      |SELECT b.doc_id, b.lang, b.n_tok
      |FROM base b JOIN f2 ON b.lang IS NOT DISTINCT FROM f2.s
      |WHERE ('0x' || substr(md5(CAST(b.doc_id AS VARCHAR)), 1, 8))::BIGINT
      |      < keep * 4294967296.0"""

  /** 26-letter transliteration alphabets for the `text_scripts` shell -
    * ONE definition used by the Spark query and (interpolated) by the
    * oracle, so the two cannot drift. Targets chosen inside the exact
    * [[TextOps.scriptClasses]] ranges.
    */
  val scriptLatinAbc = "abcdefghijklmnopqrstuvwxyz"

  val scriptCyrAbc = "абвгдежзийклмнопрстуфхцчшщ"

  val scriptGreekAbc = "αβγδεζηθικλμνξοπρστυφχψωϊϋ"

  /** The transliteration shell over `textCol`: `doc_id % 5` picks a
    * Cyrillic (1), Greek (2) or digit-vowel (3) slice; `mixed` adds the
    * vowels+t-to-Cyrillic slice (4) - the spam shape whose per-doc
    * script dominance flips while the language evidence stays mixed.
    * The Spark column and the oracle's ([[translitShellSql]]) come from
    * the same alphabets.
    */
  def translitShell(mixed: Boolean, textCol: String = "text"): Column = {
    val (id, t) = (col("doc_id"), col(textCol))
    val slices = when(id % 5 === 1, translate(t, scriptLatinAbc, scriptCyrAbc))
      .when(id % 5 === 2, translate(t, scriptLatinAbc, scriptGreekAbc))
      .when(id % 5 === 3, translate(t, "aeiou", "01234"))
    (if (mixed) slices.when(id % 5 === 4, translate(t, "aeiout", "аеиоут")) else slices)
      .otherwise(t)
  }

  /** `SELECT doc_id, <shell> AS t FROM <from>` - the oracle side of
    * [[translitShell]]. Not pre-stripMargin'd (the outer templates
    * strip).
    */
  def translitShellSql(mixed: Boolean, textCol: String = "text",
      from: String = "documents WHERE text IS NOT NULL"): String = {
    val slices = Seq(
      s"1 THEN translate($textCol, '$scriptLatinAbc', '$scriptCyrAbc')",
      s"2 THEN translate($textCol, '$scriptLatinAbc', '$scriptGreekAbc')",
      s"3 THEN translate($textCol, 'aeiou', '01234')") ++
      (if (mixed) Seq(s"4 THEN translate($textCol, 'aeiout', 'аеиоут')") else Nil)
    slices.map(w => s"WHEN doc_id % 5 = $w").mkString(
      "  SELECT doc_id,\n  |    CASE ", "\n  |         ",
      s"\n  |         ELSE $textCol END AS t\n  |  FROM $from")
  }

  /** base/tok/types/tot/xx/wt CTE chain of the NB log-odds weight
    * replay (tokenize + label on the src0-src2 seed, per-class token
    * counts, single-row totals, 32-per-octave integer log code on the
    * 2^8-pre-scaled smoothed counts). Shared by `docs_nb_quality` and
    * `docs_quality_budget` so the two replays cannot drift - same rule
    * as [[ppForwardCtes]]/[[urlShellCte]]. Like [[urlShellCte]],
    * deliberately NOT pre-stripMargin'd (the outer templates strip).
    */
  def nbWeightCtes(
      rel: String = "documents", textCol: String = "text"): String =
    s"""base AS (
      |  SELECT doc_id, source IN ('src0', 'src1', 'src2') AS lbl,
      |         list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
      |                     t -> t <> '') AS tk
      |  FROM $rel WHERE $textCol IS NOT NULL
      |), tok AS (
      |  SELECT doc_id, lbl, unnest(tk) AS t FROM base
      |), types AS (
      |  SELECT t, CAST(SUM(CASE WHEN lbl THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |         CAST(SUM(CASE WHEN lbl THEN 0 ELSE 1 END) AS BIGINT) AS cn
      |  FROM tok GROUP BY t
      |), tot AS (
      |  SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn,
      |         count(*) AS v
      |  FROM types
      |), xx AS (
      |  SELECT t, (cp + 1) * 256 AS xp, (cn + 1) * 256 AS xn,
      |         (np + v) * 256 AS tp, (nn + v) * 256 AS tn
      |  FROM types CROSS JOIN tot
      |), wt AS (
      |  SELECT t,
      |    (CASE WHEN xp < 32 THEN xp ELSE (length(bin(xp)) - 6) * 32 + (xp >> (length(bin(xp)) - 6)) END)
      |    - (CASE WHEN tp < 32 THEN tp ELSE (length(bin(tp)) - 6) * 32 + (tp >> (length(bin(tp)) - 6)) END)
      |    - (CASE WHEN xn < 32 THEN xn ELSE (length(bin(xn)) - 6) * 32 + (xn >> (length(bin(xn)) - 6)) END)
      |    + (CASE WHEN tn < 32 THEN tn ELSE (length(bin(tn)) - 6) * 32 + (tn >> (length(bin(tn)) - 6)) END) AS w
      |  FROM xx
      |)"""

  /** DuckDB VALUES list of the universal-hash coefficients used by
    * `minhash_sig` - the oracle replays the signature pipeline with
    * IDENTICAL constants (they are deterministic in (numHashes, seed),
    * and all kernel arithmetic stays within 63 bits: a < 2^31, s < 2^31,
    * so a*s+b < 2^62 - exact in any engine's BIGINT).
    */
  def coefValues(numHashes: Int, seed: Int): String = {
    val (as, bs) = graft.functions.ExprKernels.coefs(numHashes, seed)
    (0 until numHashes).map(h => s"($h,${as(h)},${bs(h)})").mkString(",")
  }

  /** DuckDB VALUES table `p(pb, pv)` of the random-hyperplane matrix used
    * by `rh_bucket`. Double.toString emits the shortest round-tripping
    * decimal, and DuckDB's parse is correctly rounded, so the
    * interpolated literals come back bit-identical.
    */
  def planeValues(dim: Int, bits: Int, seed: Long): String = {
    val ps = graft.functions.ExprKernels.planes(dim, bits, seed)
    ps.zipWithIndex.map { case (row, b) =>
      s"($b, [${row.mkString(",")}]::DOUBLE[])"
    }.mkString("(VALUES ", ",", ") p(pb, pv)")
  }

  lazy val scratchTag: String = java.lang.ProcessHandle.current().pid().toString

  /** Process-unique scratch path for queries that exercise a write+read
    * lifecycle: two harness JVMs (e.g. Verify and Bench) running the
    * same query against the same SF dir must not race on one /tmp
    * directory (an overwrite in one process would delete files the
    * other's lazy scan is still reading).
    */
  def scratchPath(prefix: String, dir: String): String =
    System.getProperty("java.io.tmpdir") +
      s"/graft_${prefix}_${scratchTag}_${dir.replaceAll("[^A-Za-z0-9]", "_")}"

  /** events.ts has shipped in two layouts: parquet TIMESTAMP(NANOS)
    * (which Spark's vectorized reader rejects - read as raw nanos via
    * `nanosAsLong` and truncate to micros) and, in newer generations,
    * plain TIMESTAMP(MICROS) that needs no shim. events() inspects the
    * scanned dtype and only applies the div-1000 conversion when ts is
    * an integral column, so both layouts load identically.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = tbl(s, dir, "events")
    raw.schema("ts").dataType match {
      case LongType | IntegerType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // tz-less parquet metadata scans as TIMESTAMP_NTZ; downstream ops
        // (unix_millis etc.) need TIMESTAMP. Session tz is pinned UTC, so
        // the wall-clock -> instant cast is exact and engine-portable.
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  def docWords(s: SparkSession, dir: String): DataFrame =
    tbl(s, dir, "documents")
      .select(explode(DedupOps.tokens(col("text"))).as("word"))
      .distinct()

  /** The winnowing window-min CTE chain (k=8 shingles, w=4 windows,
    * packed tie-break) - shared by the text_winnow and dedup_winnow
    * replays so the two can never drift.
    */
  def winnowWindowSql: String =
    """p AS (
      |  SELECT doc_id, CAST(i AS BIGINT) AS pos, substr(text, i, 8) AS sh
      |  FROM documents, unnest(generate_series(1, length(text) - 7)) t(i)
      |  WHERE text IS NOT NULL AND length(text) >= 8
      |), c AS (
      |  SELECT doc_id, pos,
      |         ('0x' || substr(md5(sh), 1, 8))::BIGINT * 2147483648
      |           + (2147483647 - pos) AS c
      |  FROM p
      |), m AS (
      |  SELECT doc_id, pos,
      |         min(c) OVER (PARTITION BY doc_id ORDER BY pos
      |                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS cmin
      |  FROM c
      |)""".stripMargin
}
