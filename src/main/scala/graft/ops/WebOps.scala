package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** URL analytics for web-crawl curation - the pipeline stage between
  * [[TextOps.stripHtml]] (raw page -> text) and the per-domain curation
  * decisions every large crawl corpus needs (C4/RefinedWeb/FineWeb all
  * filter and report BY REGISTRABLE DOMAIN, not by page): parse the
  * source URL into components, collapse hosts to their eTLD+1, and
  * aggregate or block on that key.
  *
  * Design rules (100 TB mindset):
  *   - parsing is a pure `regexp_extract`/array-function column chain -
  *     codegen'd, shuffle-free, fuses into whatever scan produced the
  *     URL column; no UDF, no driver state;
  *   - every pattern lives in the Java-regex/RE2 common subset (no
  *     backreferences, no lookaround) so the DuckDB oracle replays the
  *     parse byte-for-byte;
  *   - [[domainStats]] is ONE shuffle on the registrable domain (partial
  *     aggregation map-side); [[blockDomains]] broadcasts the blocklist
  *     as a literal IN-set - corpus rows never shuffle to be filtered.
  *
  * The eTLD+1 fold implements the full Public Suffix List ALGORITHM
  * (publicsuffix.org/list: longest-rule-wins, `*.` wildcard labels,
  * `!` exception rules, implicit `*` default) over a checked-in PSL
  * snapshot resource (graft/public_suffix_list.txt - a curated subset;
  * swap in the full ~9k-rule published file and nothing else changes).
  * The rule sets compile into LITERAL hash-set membership tests
  * (Catalyst InSet) grouped by rule label count, so the fold stays a
  * pure codegen column - no join, no broadcast, no shuffle - and the
  * DuckDB oracle replays it from the same interpolated sets. IPv4 and
  * IPv6 literal hosts pass through unchanged (an IP has no registrable
  * domain; label-slicing `192.168.0.1` to `0.1` would poison every
  * per-domain aggregate downstream).
  */
object WebOps {

  /** The PSL snapshot, parsed into the three rule families the fold
    * needs, each grouped by label count: exact rules (`co.uk` -> under
    * key 2), wildcard rule BASES (`*.ck` -> "ck" under key 1; the
    * matched suffix spans base+1 labels), and exception domains
    * (`!www.ck` -> "www.ck" under key 2; the exception IS the
    * registrable domain). Single-label exact rules are dropped at load:
    * the algorithm's implicit default rule `*` already gives every
    * unknown TLD a 1-label public suffix, so they change nothing.
    */
  private[graft] lazy val pslRules: (Map[Int, Seq[String]], Map[Int, Seq[String]], Map[Int, Seq[String]]) = {
    val in = getClass.getResourceAsStream("/graft/public_suffix_list.txt")
    require(in != null, "graft/public_suffix_list.txt missing from classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val lines =
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("//")).toList
      finally src.close()
    def labels(s: String): Int = s.count(_ == '.') + 1
    def grouped(xs: List[String]): Map[Int, Seq[String]] =
      xs.distinct.groupBy(labels).view.mapValues(_.toSeq.sorted).toMap
    val (exc, rest) = lines.partition(_.startsWith("!"))
    val (wild, exact) = rest.partition(_.startsWith("*."))
    (grouped(exact.filter(_.contains("."))),
      grouped(wild.map(_.stripPrefix("*."))),
      grouped(exc.map(_.stripPrefix("!"))))
  }

  private def rx(c: Column, pattern: String): Column =
    regexp_extract(c, pattern, 1)

  /** Scheme of `url`, lowercased ("" when the URL has no `scheme://`
    * prefix). Schemes are case-insensitive (RFC 3986 §3.1): `HTTPS://`
    * parses and folds to `https`.
    */
  def urlScheme(url: Column): Column =
    lower(rx(url, "^([A-Za-z][A-Za-z0-9+.-]*)://"))

  /** Authority (userinfo@host:port) of `url`. */
  private def authority(url: Column): Column =
    rx(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)")

  /** Host of `url`, lowercased (hosts are case-insensitive, RFC 3986
    * §3.2.2 - and the eTLD+1 fold must see one canonical form):
    * authority minus userinfo and port.
    */
  def urlHost(url: Column): Column =
    lower(rx(authority(url), "^(?:[^@]*@)?([^:]*)"))

  /** Explicit port of `url`, 0 when absent (the scheme default). The
    * digit run is bounded to 5 (no real port exceeds 65535's width):
    * an unbounded `[0-9]+` on garbage like `host:99999999999` would
    * overflow the INT cast - NULL in Spark, a raise in DuckDB's CAST -
    * an engine-parity break. Bounded + end-anchored, an over-long run
    * simply fails to match (the char before the last 5 digits is a
    * digit, not ':') and the port reads as absent: both engines agree.
    */
  def urlPort(url: Column): Column = {
    val p = rx(authority(url), ":([0-9]{1,5})$")
    when(p === "", lit(0)).otherwise(p.cast(IntegerType))
  }

  /** Path component of `url` ("" for scheme://host with no slash).
    * Case is PRESERVED: unlike scheme and host, paths are
    * case-sensitive.
    */
  def urlPath(url: Column): Column =
    rx(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)")

  /** Query string of `url` (without the '?'), "" when absent. */
  def urlQuery(url: Column): Column = rx(url, "\\?([^#]*)")

  /** SURT key (Sort-friendly URI Reordering Transform) of `url` - the
    * canonical lookup key of web-archive indexes (CDX): URLs of one
    * site sort adjacently because the host's dot-labels are REVERSED
    * and comma-joined (`www.example.com/A?b=2&a=1` ->
    * `com,example)/a?a=1&b=2`). Semantics (pywb-style, documented
    * here as THE contract):
    *
    *   1. host lowercased (via [[urlHost]]), ONE leading `www.` label
    *      stripped, labels reversed and joined with `,`;
    *   2. an explicit port survives as `:port` UNLESS it is the
    *      scheme default (http:80 / https:443) - default ports and
    *      portless URLs key identically;
    *   3. `)` separator, then the path lowercased (`""` keys as `/`:
    *      `http://h` and `http://h/` are the same resource);
    *   4. a non-empty query appends as `?` + the `&`-split parameters
    *      LOWERCASED then SORTED (byte order) - parameter order never
    *      splits an archive entry; fragments never reach the key
    *      ([[urlPath]]/[[urlQuery]] already cut them).
    *
    * Pure codegen (regex extracts + split/reverse/sort/join) - the key
    * fuses into the scan that reads the URL, and a CDX build over a
    * 100-TB crawl pays exactly one sort on an already-computed string
    * column. Byte-replayable in DuckDB (list_reverse/list_sort are the
    * same binary-order primitives).
    */
  def surtKey(url: Column): Column = {
    val scheme = urlScheme(url)
    val host = regexp_replace(urlHost(url), "^www\\.", "")
    val hostKey = array_join(reverse(split(host, "\\.")), ",")
    val defPort = when(scheme === "http", lit(80))
      .when(scheme === "https", lit(443)).otherwise(lit(0))
    val port = urlPort(url)
    val portPart = when(port =!= 0 && port =!= defPort,
      concat(lit(":"), port.cast(StringType))).otherwise(lit(""))
    val p = urlPath(url)
    val pathPart = when(p === "", lit("/")).otherwise(lower(p))
    val q = urlQuery(url)
    // lowercase BEFORE sorting (pywb's order): sorting the raw-case
    // params and folding after can emit an unsorted key, splitting
    // ?a=1&B=2 and ?a=1&b=2 into two archive entries
    val qPart = when(q === "", lit("")).otherwise(
      concat(lit("?"), array_join(array_sort(split(lower(q), "&")), "&")))
    concat(hostKey, portPart, lit(")"), pathPart, qPart)
  }

  /** Registrable domain (eTLD+1) of a host, by the Public Suffix List
    * algorithm over the checked-in snapshot ([[pslRules]]):
    *
    *   1. IPv4 literals (`1.2.3.4`) and IPv6-shaped hosts (any `:` or
    *      a `[` bracket) pass through unchanged - an IP address has no
    *      registrable domain to fold to.
    *   2. If an exception rule matches (host ends with the exception's
    *      labels), the exception domain itself is the registrable
    *      domain (`sub.www.ck` -> `www.ck` despite `*.ck`).
    *   3. Otherwise the public suffix is the LONGEST match among exact
    *      rules (suffix = the rule) and wildcard rules (suffix = base
    *      + one label), defaulting to the last single label (the
    *      implicit `*` rule); the registrable domain is the suffix
    *      plus one preceding label.
    *   4. A host that IS a public suffix (or has no extra label -
    *      `localhost`, "") passes through unchanged.
    *
    * ONE codegen kernel call ([[graft.functions.PslFold]]), the rule
    * table a per-plan reference object of hashed sets - O(#rule-group)
    * probes per host. The column spelling this replaced (label-list
    * slicing + a greatest-of-InSet CASE chain per rule-length) was
    * measured at whole seconds of the web tier wherever it ran inline
    * (per-link filter lambdas are interpreted and re-evaluate the
    * whole chain per element); byte-replayable in the oracle from the
    * same interpolated rule sets either way.
    */
  def registrableDomain(host: Column): Column =
    graft.functions.GraftFunctions.psl_fold(host, pslTable)

  /** [[pslRules]] in kernel form (see [[graft.functions.PslTable]]):
    * exact/wildcard groups k-ascending, exceptions k-DESCENDING (the
    * longest-exception-first override order the fold requires).
    */
  private lazy val pslTable: graft.functions.PslTable = {
    val (exact, wild, exc) = pslRules
    def conv(m: Map[Int, Seq[String]], desc: Boolean)
        : (Array[Int], Array[java.util.HashSet[String]]) = {
      val sorted = m.toSeq.sortBy(kv => if (desc) -kv._1 else kv._1)
      (sorted.map(_._1).toArray,
        sorted.map { case (_, vs) =>
          val s = new java.util.HashSet[String](vs.size * 2)
          vs.foreach(s.add)
          s
        }.toArray)
    }
    val (ks, sets) = conv(exact, desc = false)
    val (wks, wsets) = conv(wild, desc = false)
    val (eks, esets) = conv(exc, desc = true)
    new graft.functions.PslTable(ks, sets, wks, wsets, eks, esets)
  }

  /** The eTLD+1 fold applied ONCE PER DISTINCT HOST, broadcast back
    * onto the corpus - the vocabulary-frame discipline for any
    * expensive pure function of a low-cardinality column. The PSL fold
    * is a greatest-of-InSet CASE chain over label slices; evaluated
    * per row it dominated the web tier's wall time, while the host
    * vocabulary of a crawl is bounded by the frontier (millions), not
    * the corpus (billions). ONE partial-agg distinct over the
    * projected host column + ONE broadcast hash join; the corpus
    * itself never shuffles. Appends `outCol` = registrableDomain of
    * `hostExpr` (null host folds to null, same as the inline fold).
    *
    * The bounded-vocabulary assumption is a real PRECONDITION, not a
    * hope: a host frame past the broadcast/driver budget (hundreds of
    * millions of distinct hosts) would fail the broadcast outright.
    * Callers that cannot bound their host fan-out pass
    * `broadcastHosts = false`: the fold then rides a plain equi-join
    * (AQE still picks a broadcast at runtime when the distinct frame
    * turns out small, and degrades to a shuffle join - the corpus
    * pays one exchange - when it does not, instead of failing). The
    * default stays `true` because the inline alternative is strictly
    * worse for every real crawl (per-ROW PSL evaluation measured
    * whole seconds of the web tier), and a crawl's host vocabulary IS
    * frontier-bounded.
    */
  def foldDomainByHost(
      df: DataFrame,
      hostExpr: Column,
      outCol: String,
      broadcastHosts: Boolean = true): DataFrame = {
    require(!df.columns.exists(Set("gr_fh", "gr_frd")),
      "input already has a gr_fh/gr_frd column; rename it first")
    val hosts = df.select(hostExpr.as("gr_fh")).distinct()
      .select(F.col("gr_fh"), registrableDomain(F.col("gr_fh")).as("gr_frd"))
    val build = if (broadcastHosts) broadcast(hosts) else hosts
    df.join(build, hostExpr <=> F.col("gr_fh"), "left")
      .withColumn(outCol, F.col("gr_frd"))
      .drop("gr_fh", "gr_frd")
  }

  /** Parse `urlCol` into components beside the original row: scheme,
    * host, port (0 = default), path, query, and the registrable domain.
    * The five component extracts are codegen'd projections fused into
    * the scan; the eTLD+1 fold runs once per distinct host and comes
    * back as a broadcast join ([[foldDomainByHost]]) - no corpus
    * shuffle either way.
    */
  def parseUrls(df: DataFrame, urlCol: String): DataFrame = {
    val u = F.col(urlCol)
    val parsed = df.withColumn("scheme", urlScheme(u))
      .withColumn("host", urlHost(u))
      .withColumn("port", urlPort(u))
      .withColumn("path", urlPath(u))
      .withColumn("query", urlQuery(u))
    foldDomainByHost(parsed, F.col("host"), "domain")
  }

  /** Per-registrable-domain crawl profile: page count, distinct-host
    * count, and total text size - the frame a crawl's domain-level
    * curation (caps, blocklists, quality cuts) is decided from.
    *
    * Scale shape: the corpus folds to a HOST-keyed partial first (one
    * partial-agg shuffle of (host, count, size) triples), the eTLD+1
    * fold then runs once per distinct host on that vocabulary-sized
    * frame, and the domain re-aggregate is a second tiny shuffle.
    * `n_hosts` falls out as a row count (the host partial is already
    * distinct per host), so the exact distinct never re-shuffles the
    * corpus.
    */
  def domainStats(df: DataFrame, urlCol: String, sizeCol: String): DataFrame =
    df.select(urlHost(F.col(urlCol)).as("gr_host"), F.col(sizeCol))
      .groupBy(F.col("gr_host"))
      .agg(count(lit(1)).as("gr_n"), sum(F.col(sizeCol)).as("gr_sz"))
      .select(registrableDomain(F.col("gr_host")).as("domain"),
        F.col("gr_host"), F.col("gr_n"), F.col("gr_sz"))
      .groupBy(F.col("domain"))
      .agg(
        sum(F.col("gr_n")).as("n_docs"),
        count(F.col("gr_host")).as("n_hosts"),
        sum(F.col("gr_sz")).as("sum_chars"))

  /** Host-level partial profile - the MERGEABLE factorization of
    * [[domainStats]]: per (domain, host), page count and text volume.
    * Both measures merge by plain addition, so profiles of corpus
    * slices (or stream micro-batches - see
    * `StreamOps.domainMaintenance`) union+re-aggregate into exactly
    * the profile of the union; the distinct-host count, which is NOT
    * mergeable from per-slice distinct counts, is recovered at serve
    * time by [[domainStatsFromProfile]] counting host rows. State is
    * bounded by the crawl frontier (distinct (domain, host) pairs),
    * not the corpus. The eTLD+1 fold runs once per distinct host, on
    * the already-host-keyed aggregate - no join needed at all.
    */
  def hostProfile(df: DataFrame, urlCol: String, sizeCol: String): DataFrame =
    df.select(urlHost(F.col(urlCol)).as("host"), F.col(sizeCol))
      .groupBy(F.col("host"))
      .agg(count(lit(1)).as("n_docs"), sum(F.col(sizeCol)).as("sum_chars"))
      .select(registrableDomain(F.col("host")).as("domain"),
        F.col("host"), F.col("n_docs"), F.col("sum_chars"))

  /** Serve [[domainStats]]' frame off a [[hostProfile]] table: fold the
    * host partials to the registrable domain, recovering the exact
    * distinct-host fan-out as a row count.
    */
  def domainStatsFromProfile(profile: DataFrame): DataFrame =
    profile.groupBy(F.col("domain"))
      .agg(
        sum(F.col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_hosts"),
        sum(F.col("sum_chars")).as("sum_chars"))

  /** Drop rows whose registrable domain OR exact host is on `blocked` -
    * the crawl blocklist cut. Domain-shaped entries ("src2.com") block
    * the whole eTLD+1; host-shaped entries ("www.src3.com") block that
    * host only. Matching both forms keeps a host-shaped entry from
    * being a silent no-op (the eTLD+1 fold alone would never equal it).
    * Entries are lowercased to the same canonical form [[urlHost]]
    * emits. The blocklist rides into the plan as a literal IN-set (a
    * broadcast-join degenerates to this for any list that fits a driver
    * string set); corpus rows are filtered in place, never shuffled.
    *
    * EAGER-SNAPSHOT SEMANTICS (deliberate, and part of the contract):
    * this method runs a bounded micro-job AT CALL TIME (a distinct over
    * the projected host column + a capped take) and bakes the resolved
    * blocked-host set into the returned plan as a literal. The verdict
    * is therefore FROZEN against the input as of the call: if the
    * underlying files change before (or between) executions of the
    * returned frame, hosts that newly appear under a blocked domain are
    * NOT re-resolved - re-call blockDomains after a data refresh. Every
    * call also pays the micro-job's latency even if the result is never
    * executed. This trade is intentional: the PSL fold expression in a
    * REUSED plan branch re-optimizes and re-codegens per copy (measured
    * whole seconds of fixed driver time in the composed web_pipeline),
    * while the literal IN-set is free everywhere it rides. A blocklist
    * whose host fan-out exceeds the literal cap falls back to the lazy
    * broadcast anti-join, which re-resolves per execution.
    */
  def blockDomains(df: DataFrame, urlCol: String, blocked: Seq[String]): DataFrame = {
    require(blocked.nonEmpty, "empty blocklist: nothing to block")
    val entries = blocked.map(_.trim.toLowerCase(java.util.Locale.ROOT)).filter(_.nonEmpty)
    require(entries.nonEmpty, "blocklist had only blank entries")
    val host = urlHost(F.col(urlCol))
    // the eTLD+1 fold runs once per DISTINCT host, in ONE bounded
    // micro-job: the blocked-host vocabulary is resolved eagerly and
    // rides the returned plan as a small literal IN-set, so the (large)
    // PSL expression never enters the caller's plan at all - a filter
    // frame that downstream pipelines reuse across several branches and
    // jobs would otherwise re-optimize and re-codegen that expression
    // per copy (measured: whole seconds of fixed driver time in the
    // composed web_pipeline). The corpus is filtered in place, never
    // shuffled. Null-url rows drop, matching the inline fold's
    // null-predicate semantics. A blocklist whose host fan-out exceeds
    // the literal cap (pathological - a blocked domain with >10k
    // distinct crawled hosts) falls back to the broadcast anti-join.
    val blockedHosts = df.select(host.as("gr_bh")).distinct()
      .filter(registrableDomain(F.col("gr_bh")).isin(entries: _*) ||
        F.col("gr_bh").isin(entries: _*))
    val cap = 10000
    val resolved = blockedHosts.take(cap + 1)
    if (resolved.length <= cap) {
      val hs = resolved.map(_.getString(0))
      if (hs.isEmpty) df.filter(host.isNotNull)
      else df.filter(host.isNotNull && !host.isin(hs.toSeq: _*))
    } else {
      df.filter(host.isNotNull)
        .join(broadcast(blockedHosts), host === F.col("gr_bh"), "left_anti")
    }
  }

  /** href attribute values in `htmlCol`, one output row per link (the
    * input row is duplicated beside each). Extraction is a single
    * codegen'd `regexp_extract_all` + explode (projection-side 1->N, no
    * shuffle): href = "..." or href = '...', whitespace-tolerant around
    * the '=', in the Java-regex/RE2 common subset. Only absolute
    * http/https links survive - relative paths, mailto:, javascript:
    * and fragment links are dropped (a crawl frontier wants resolvable
    * fetch targets; [[resolveLinks]] is the stage that first RESOLVES
    * relative hrefs against the page URL and then applies the same
    * cut - on real pages most links are relative, so a frontier built
    * from extractLinks alone loses them).
    */
  def extractLinks(df: DataFrame, htmlCol: String): DataFrame =
    df.withColumn("link", explode(regexp_extract_all(
        F.col(htmlCol),
        lit("href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1))))
      .filter(urlScheme(F.col("link")).isin("http", "https"))

  /** One dot-segment rewrite pass of [[removeDotSegments]]: inner
    * `/./`, trailing `/.`, leading `/../`, one inner `seg/../` pop,
    * trailing `seg/..` pop (pops keep the slash, matching RFC 3986
    * §5.2.4's trailing-slash outputs). The SAME five patterns run in
    * the DuckDB oracle, so parity holds by construction at any depth.
    */
  private def dotPass(p: Column): Column = {
    val a = regexp_replace(p, "/\\./", "/")
    val b = regexp_replace(a, "/\\.$", "/")
    val c = regexp_replace(b, "^/\\.\\.(/|$)", "/")
    val d = regexp_replace(c, "/[^/]+/\\.\\./", "/")
    regexp_replace(d, "/[^/]+/\\.\\.$", "/")
  }

  /** RFC 3986 §5.2.4 remove_dot_segments as a bounded rewrite chain:
    * [[dotPass]] applied 8 times (each pass resolves at least one
    * nesting level; 8 covers any path a real page links - deeper
    * pathological chains leave residue IDENTICALLY in both engines,
    * never divergence). Purely codegen'd regexp work, no UDF.
    */
  def removeDotSegments(p: Column): Column =
    (1 to 8).foldLeft(p)((c, _) => dotPass(c))

  /** Resolve a (possibly relative) href against its page URL - RFC
    * 3986 §5 reference resolution, expression-level, with
    * crawl-frontier semantics: fragments never survive (a `#...`
    * suffix is cut from the reference; a fragment-only reference
    * resolves to the base sans fragment).
    *
    *   - absolute references (`scheme:...`) pass through;
    *   - protocol-relative `//host/p` takes the base's scheme;
    *   - root-relative `/p` takes scheme://authority, path normalized;
    *   - query-only `?q` replaces the base's query;
    *   - path-relative `p`, `./p`, `../p` merge onto the base path's
    *     directory ([[removeDotSegments]] then normalizes `.`/`..`);
    *   - a base with no `scheme://` cannot anchor a relative
    *     reference: absolute refs still pass through, everything else
    *     resolves to NULL.
    */
  def resolveUrl(base: Column, ref: Column): Column = {
    val r = regexp_replace(ref, "#.*", "")
    val bNoFrag = regexp_replace(base, "#.*", "")
    val bScheme = rx(base, "^([A-Za-z][A-Za-z0-9+.-]*)://")
    val bAuth = rx(base, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)")
    val bPath = urlPath(base)
    val baseOk = bScheme =!= ""
    // base-path directory: everything up to and including the last '/'
    val baseDir = when(bPath === "", lit("/"))
      .otherwise(regexp_replace(bPath, "[^/]*$", ""))
    val rPath = regexp_extract(r, "^([^?]*)", 1)
    val rQuery = regexp_extract(r, "(\\?.*)$", 1) // "?..." or ""
    val prefix = concat(bScheme, lit("://"), bAuth)
    // root-relative paths replace the base path, the rest merge onto its
    // directory; ONE dot-segment chain normalizes either (its 40
    // regexp_replace calls are most of the generated code)
    val path = when(r.startsWith("/"), rPath).otherwise(concat(baseDir, rPath))
    when(r === "", bNoFrag)
      .when(r.rlike("^[A-Za-z][A-Za-z0-9+.-]*:"), r)
      .when(!baseOk, lit(null).cast(StringType))
      .when(r.startsWith("//"), concat(bScheme, lit(":"), r))
      .when(r.startsWith("?"), concat(prefix, bPath, r))
      .otherwise(concat(prefix, removeDotSegments(path), rQuery))
  }

  /** Percent-encoding normalization, RFC 3986 §6.2.2: decode escapes
    * of UNRESERVED characters (ALPHA / DIGIT / `-._~` - encoding them
    * never changes meaning, so `%7Euser` == `~user`) and uppercase the
    * hex of every escape that must stay (`%3f` -> `%3F`). Same
    * split/extract/HOF-refold shape as `TextOps.decodeNumericRefs`;
    * the decoded byte range is ASCII, so a 2-digit unhex + UTF-8
    * decode is exact in both engines.
    */
  def normalizePercentEncoding(s: Column): Column = {
    val pat = "%[0-9A-Fa-f]{2}"
    val parts = split(s, pat, -1)
    val refs = regexp_extract_all(s, lit(pat), lit(0))
    val n = size(refs)
    def norm(r: Column): Column = {
      val hexUp = upper(r.substr(lit(2), lit(2)))
      val cp = conv(hexUp, 16, 10).cast(IntegerType)
      val unreserved =
        cp.between(0x41, 0x5A) || cp.between(0x61, 0x7A) ||
          cp.between(0x30, 0x39) ||
          cp.isin(0x2D, 0x2E, 0x5F, 0x7E) // - . _ ~
      when(unreserved, decode(unhex(hexUp), "UTF-8"))
        .otherwise(concat(lit("%"), hexUp))
    }
    val refolded = aggregate(
      sequence(lit(1), greatest(n, lit(1))), element_at(parts, 1),
      (acc, i) => concat(acc, norm(element_at(refs, i)),
        element_at(parts, i + 1)))
    when(n === 0, s).otherwise(refolded)
  }

  /** Canonical form of an absolute http(s) URL - the URL-level dedup
    * key a crawl frontier batches on BEFORE fetching (the cheapest
    * dedup in the whole pipeline: `HTTP://Host:80/a/../b?b=2&a=1` and
    * `http://host/b?a=1&b=2` are one fetch, not two):
    *
    *   - scheme and host lowercase (RFC 3986 §6.2.2.1); userinfo kept
    *     as written (it is case-sensitive);
    *   - fragment dropped;
    *   - default port stripped (`:80` for http, `:443` for https);
    *   - path dot-segments removed ([[removeDotSegments]]); an empty
    *     path with an authority becomes `/` (§6.2.3);
    *   - percent-escapes normalized ([[normalizePercentEncoding]]);
    *   - query parameters SORTED (string sort on `&`-split params -
    *     beyond-RFC but standard crawl practice: parameter order is
    *     almost never semantic, and unsorted order defeats the dedup);
    *     an empty query drops its `?`.
    *
    * Non-http(s) or unparseable inputs return NULL (callers keep the
    * raw URL for those rows). Pure codegen column - no shuffle.
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = normalizePercentEncoding(regexp_replace(url, "#.*", ""))
    val scheme = urlScheme(u)
    val auth = rx(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)")
    val userinfo = rx(auth, "^([^@]*@)")
    val host = lower(rx(auth, "^(?:[^@]*@)?([^:]*)"))
    val port = urlPort(u)
    val keepPort = port =!= 0 &&
      !(scheme === "http" && port === 80) &&
      !(scheme === "https" && port === 443)
    val rawPath = urlPath(u)
    val path = removeDotSegments(when(rawPath === "", lit("/")).otherwise(rawPath))
    val q = urlQuery(u)
    val sortedQ = array_join(sort_array(split(q, "&")), "&")
    concat(
      when(scheme.isin("http", "https"), scheme)
        .otherwise(lit(null).cast(StringType)),
      lit("://"), userinfo, host,
      when(keepPort, concat(lit(":"), port.cast(StringType))).otherwise(lit("")),
      path,
      when(q === "", lit("")).otherwise(concat(lit("?"), sortedQ)))
  }

  /** EVERY href of `htmlCol` - relative ones included - resolved
    * against the page's EFFECTIVE base URL, then the frontier cut: one
    * row per href that resolves to an absolute http(s) target. This is
    * the crawl-frontier builder [[extractLinks]]'s docstring promises:
    * `extractLinks` keeps only already-absolute links; on real pages
    * the majority are relative and THIS stage recovers them.
    *
    * The effective base honors `<base href>` (common on CDN-served
    * sites; resolving against the page URL instead mis-resolves every
    * relative link): the FIRST base href in the document (the HTML5
    * rule), itself resolved against the page URL when relative, else
    * the page URL. Same plan shape - extraction, base pick, resolution
    * and the scheme cut are all codegen'd projections fused into the
    * scan, no shuffle.
    *
    * Output: input row + (link = raw href, resolved = absolute URL).
    */
  def resolveLinks(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    require(!df.columns.exists(Set("gr_base", "link", "resolved")),
      "input already has a gr_base/link/resolved column; rename it first")
    // \s after the tag name: without it the pattern also matches any
    // tag merely STARTING with 'base' (<basefont href=..>), and a
    // false match re-anchors every relative link of the page
    val baseHref = regexp_extract(F.col(htmlCol),
      "(?is)<base\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']", 1)
    val effBase = when(baseHref === "", F.col(urlCol))
      .otherwise(resolveUrl(F.col(urlCol), baseHref))
    df.withColumn("gr_base", effBase)
      .withColumn("link", explode(regexp_extract_all(
        F.col(htmlCol),
        lit("href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1))))
      .withColumn("resolved", resolveUrl(F.col("gr_base"), F.col("link")))
      .filter(urlScheme(F.col("resolved")).isin("http", "https"))
      .drop("gr_base")
  }

  /** Registrable-domain link graph of a crawled page set - the
    * host-graph every link-based curation signal (domain authority,
    * spam-farm detection, crawl-frontier prioritization) is computed
    * from. Each page contributes (its own eTLD+1) -> (eTLD+1 of every
    * absolute http(s) href in its HTML) edges; parallel links collapse
    * into a weight.
    *
    * Scale shape: link extraction and both host extracts are codegen'd
    * projections fused into the scan; the corpus shuffles ONCE, keyed
    * on the (src_host, dst_host) pair with map-side partial counts.
    * The PSL fold then runs on that edge-structure-sized frame (twice
    * per distinct host pair, not twice per link occurrence - the fold
    * is the expensive expression), and the domain re-aggregate is a
    * second, tiny shuffle. Pages never pair with pages; self-links
    * (within-domain navigation) are kept - callers that want the
    * cross-domain graph filter `src_domain <> dst_domain`, one
    * predicate on the already-tiny edge frame.
    *
    * Output: (src_domain, dst_domain, n_links).
    */
  def linkGraph(df: DataFrame, urlCol: String, htmlCol: String): DataFrame =
    extractLinks(df, htmlCol)
      .select(
        urlHost(F.col(urlCol)).as("gr_sh"),
        urlHost(F.col("link")).as("gr_dh"))
      .groupBy(F.col("gr_sh"), F.col("gr_dh"))
      .agg(count(lit(1)).as("gr_n"))
      // the host-pair frame is edge-structure-sized: the PSL fold now
      // runs twice per distinct host PAIR, not twice per link
      // occurrence, and the domain re-aggregate shuffles a frame no
      // bigger than the one the old plan shuffled
      .select(
        registrableDomain(F.col("gr_sh")).as("src_domain"),
        registrableDomain(F.col("gr_dh")).as("dst_domain"),
        F.col("gr_n"))
      .groupBy(F.col("src_domain"), F.col("dst_domain"))
      .agg(sum(F.col("gr_n")).as("n_links"))

  /** Parse robots.txt bodies into the allow/disallow rule set that
    * governs `agent` - the crawl-politeness half a frontier builder
    * needs beside [[resolveLinks]]/[[canonicalizeUrl]]. RFC 9309
    * semantics:
    *
    *   - lines split on `\r?\n`, `#` comments stripped, directives
    *     case-insensitive; only user-agent/allow/disallow matter;
    *   - consecutive `User-agent` lines head ONE group; a group's
    *     rules run until the next group starts;
    *   - the group(s) naming `agent` exactly (case-insensitive) win
    *     over `*` groups; same-specificity groups merge;
    *   - empty rule values carry no restriction and are dropped
    *     (`Disallow:` = allow everything).
    *
    * Scale shape: robots tables are domain-sized, not corpus-sized -
    * one posexplode over the text, one window per domain for group
    * assignment, two group-level aggregates. Output: (domainCol,
    * is_allow, rule).
    */
  def robotsRules(
      robots: DataFrame,
      domainCol: String,
      txtCol: String,
      agent: String
  ): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val lines = robots
      .select(F.col(domainCol).as("domain"),
        posexplode(split(F.col(txtCol), "\r?\n")).as(Seq("line_no", "raw")))
      .select(F.col("domain"), F.col("line_no"),
        trim(regexp_replace(F.col("raw"), "#.*", "")).as("ln"))
      .filter(F.col("ln") =!= "")
      .withColumn("directive",
        lower(regexp_extract(F.col("ln"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value",
        trim(regexp_extract(F.col("ln"), "^[A-Za-z-]+\\s*:\\s*(.*)$", 1)))
      .filter(F.col("directive").isin("user-agent", "allow", "disallow"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("line_no")
    val grouped = lines
      .withColumn("is_ua", F.col("directive") === "user-agent")
      .withColumn("prev_ua",
        coalesce(lag(F.col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp",
        sum(when(F.col("is_ua") && !F.col("prev_ua"), 1).otherwise(0)).over(w))
    val groupSpec = grouped.filter(F.col("is_ua"))
      .groupBy(F.col("domain"), F.col("grp"))
      .agg(max(when(lower(F.col("value")) === a, 2)
        .when(F.col("value") === "*", 1).otherwise(0)).as("spec"))
      .filter(F.col("spec") > 0)
    val bestSpec = groupSpec.groupBy(F.col("domain")).agg(max("spec").as("best"))
    val chosen = groupSpec.join(bestSpec, "domain")
      .filter(F.col("spec") === F.col("best"))
      .select(F.col("domain"), F.col("grp"))
    grouped.filter(!F.col("is_ua") && F.col("value") =!= "")
      .join(chosen, Seq("domain", "grp"))
      .select(F.col("domain"), (F.col("directive") === "allow").as("is_allow"),
        F.col("value").as("rule"))
  }

  /** Per-domain `Crawl-delay` for `agent` - the politeness interval a
    * frontier's per-domain scheduler honors between fetches.
    * Crawl-delay is not in RFC 9309 but is the de-facto extension
    * every major crawler parses; it is GROUP-scoped like
    * allow/disallow, so the same specificity rule applies: groups
    * naming `agent` exactly beat `*` groups, same-specificity groups
    * merge, and the governing delay is the MAX of the chosen groups'
    * valid numeric values (most-conservative politeness; fractional
    * seconds allowed). Non-numeric values drop; domains with no
    * governing delay emit nothing (callers coalesce to their default
    * pacing). Group assignment here sees user-agent + crawl-delay
    * lines only (an allow line between two user-agent lines is the
    * rules path's concern) - real robots files list their user-agent
    * lines adjacently, where the two assignments agree.
    *
    * Scale shape: identical to [[robotsRules]] - domain-sized frames
    * end to end. Output: (domain, crawl_delay: double).
    */
  def robotsCrawlDelay(
      robots: DataFrame,
      domainCol: String,
      txtCol: String,
      agent: String
  ): DataFrame = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    val lines = robots
      .select(F.col(domainCol).as("domain"),
        posexplode(split(F.col(txtCol), "\r?\n")).as(Seq("line_no", "raw")))
      .select(F.col("domain"), F.col("line_no"),
        trim(regexp_replace(F.col("raw"), "#.*", "")).as("ln"))
      .filter(F.col("ln") =!= "")
      .withColumn("directive",
        lower(regexp_extract(F.col("ln"), "^([A-Za-z-]+)\\s*:", 1)))
      .withColumn("value",
        trim(regexp_extract(F.col("ln"), "^[A-Za-z-]+\\s*:\\s*(.*)$", 1)))
      .filter(F.col("directive").isin("user-agent", "crawl-delay"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("domain").orderBy("line_no")
    val grouped = lines
      .withColumn("is_ua", F.col("directive") === "user-agent")
      .withColumn("prev_ua",
        coalesce(lag(F.col("is_ua"), 1).over(w), lit(false)))
      .withColumn("grp",
        sum(when(F.col("is_ua") && !F.col("prev_ua"), 1).otherwise(0)).over(w))
    val groupSpec = grouped.filter(F.col("is_ua"))
      .groupBy(F.col("domain"), F.col("grp"))
      .agg(max(when(lower(F.col("value")) === a, 2)
        .when(F.col("value") === "*", 1).otherwise(0)).as("spec"))
      .filter(F.col("spec") > 0)
    val bestSpec = groupSpec.groupBy(F.col("domain")).agg(max("spec").as("best"))
    val chosen = groupSpec.join(bestSpec, "domain")
      .filter(F.col("spec") === F.col("best"))
      .select(F.col("domain"), F.col("grp"))
    grouped.filter(!F.col("is_ua"))
      // try_cast, not cast: ANSI mode throws on non-numeric values, and
      // "Crawl-delay: fast" in a crawled robots file must DROP, not kill
      // the task
      .withColumn("delay", F.col("value").try_cast(DoubleType))
      .filter(F.col("delay").isNotNull && F.col("delay") >= 0)
      .join(chosen, Seq("domain", "grp"))
      .groupBy(F.col("domain"))
      .agg(max(F.col("delay")).as("crawl_delay"))
  }

  /** `Sitemap:` directives of robots.txt bodies - the in-robots seed
    * wire into [[sitemapEntries]]: per the sitemaps.org protocol the
    * directive is INDEPENDENT of any user-agent group (it may appear
    * anywhere in the file and applies to all agents), so no group
    * logic runs - every valid absolute http(s) sitemap URL surfaces,
    * deduplicated per domain. Fetching those URLs and piping the
    * bodies through [[sitemapEntries]] completes the frontier's
    * second seed source. Output: (domain, sitemap_url), distinct.
    */
  def robotsSitemaps(
      robots: DataFrame,
      domainCol: String,
      txtCol: String
  ): DataFrame =
    robots
      .select(F.col(domainCol).as("domain"),
        explode(split(F.col(txtCol), "\r?\n")).as("raw"))
      .select(F.col("domain"),
        trim(regexp_replace(F.col("raw"), "#.*", "")).as("ln"))
      .filter(lower(regexp_extract(F.col("ln"), "^([A-Za-z-]+)\\s*:", 1))
        === "sitemap")
      .select(F.col("domain"),
        trim(regexp_extract(F.col("ln"), "^[A-Za-z-]+\\s*:\\s*(.*)$", 1))
          .as("sitemap_url"))
      .filter(urlScheme(F.col("sitemap_url")).isin("http", "https"))
      .distinct()

  /** Politeness SCHEDULING for a fetch frontier - the stage that turns
    * [[robotsCrawlDelay]]'s per-domain pacing into per-URL fetch
    * offsets: candidate URLs order deterministically within their
    * registrable domain (by (urlCol, idCol) - the tiebreaker makes the
    * schedule total even when two pages share a URL) and slot k gets
    * `not_before_s = k * delay`, where delay is the domain's
    * crawl_delay or `defaultDelay`. A scheduler draining the frontier
    * honors the offsets per domain and fetches domains in parallel -
    * exactly the shape crawl workers consume.
    *
    * Scale shape - salted local ranks + broadcast offsets (the
    * [[graft.ops.ShardOps.runningTotal]] discipline), because a
    * mega-domain's frontier must never serialize on one window task:
    *
    *   1. rank within `(domain, salt)` where salt is the first
    *      md5(url) hex nibble (16 buckets, byte-replayable in any
    *      engine with md5) - each window task bounded by slice/16;
    *   2. per-(domain, salt) counts prefix-sum into salt offsets on a
    *      (#domains x 16)-row frame joined back on (domain, salt);
    *   3. slot = local_rank + salt_offset.
    *
    * Slots stay DENSE (each domain uses 0..n-1 exactly once - no idle
    * pacing gaps), deterministic, and total; the within-domain order
    * is (salt, url, id), md5-bucket-major - a politeness schedule
    * orders arbitrarily anyway, it only needs determinism and the
    * distinct-slot inter-fetch gap. Rows with a NULL/unparseable url
    * (null md5) fold to salt bucket 0 so they schedule like any other
    * row instead of dropping at the offsets join. The offsets and
    * delays frames are domain-sized; no forced broadcast() hint - at
    * tens of millions of registrable domains a forced broadcast can
    * blow the 8 GB broadcast limit with no fallback, while AQE
    * broadcasts them whenever they actually fit.
    *
    * Output: frontier columns + (domain, slot, not_before_s).
    */
  def frontierSchedule(
      frontier: DataFrame,
      idCol: String,
      urlCol: String,
      delays: DataFrame,
      defaultDelay: Double = 1.0
  ): DataFrame = {
    require(defaultDelay >= 0, s"defaultDelay must be >= 0, got $defaultDelay")
    require(!frontier.columns.exists(
      Set("gr_salt", "gr_lrk", "gr_off", "gr_od", "gr_os", "gr_dd",
        "domain", "slot", "not_before_s")),
      "frontier already has a gr_*/domain/slot/not_before_s column; rename it first")
    val W = org.apache.spark.sql.expressions.Window
    val wLocal = W.partitionBy(F.col("domain"), F.col("gr_salt"))
      .orderBy(F.col(urlCol), F.col(idCol))
    // the corpus-scale ranking window is salted; THIS window runs on
    // the (#domains x 16)-row count frame only, where per-key is fine
    val wOff = W.partitionBy(F.col("domain")).orderBy(F.col("gr_salt"))
      .rowsBetween(Long.MinValue, -1)
    // column functions, not an interpolated F.expr: a url column name
    // needing backticks (space/dot/keyword) must not break parsing.
    // conv(hexDigit, 16, 10) == instr('0123456789abcdef', hexDigit) - 1
    // for every md5 nibble; null url -> null md5 folds to bucket 0
    // (row survives the join), and the oracle salt mirrors the same
    // coalesce-to-0 so a null-url fixture cannot break parity
    val salted = foldDomainByHost(frontier, urlHost(F.col(urlCol)), "domain")
      .withColumn("gr_salt", coalesce(
        F.conv(substring(F.md5(F.col(urlCol)), 1, 1), 16, 10).cast(IntegerType),
        lit(0)))
    val offsets = salted.groupBy(F.col("domain"), F.col("gr_salt"))
      .agg(count(lit(1)).as("gr_cnt"))
      .withColumn("gr_off", coalesce(sum(F.col("gr_cnt")).over(wOff), lit(0L)))
      .select(F.col("domain").as("gr_od"), F.col("gr_salt").as("gr_os"),
        F.col("gr_off"))
    salted
      .withColumn("gr_lrk", row_number().over(wLocal).cast(LongType) - 1L)
      .join(offsets,
        F.col("domain") <=> F.col("gr_od") && F.col("gr_salt") === F.col("gr_os"))
      .join(delays.select(F.col("domain").as("gr_dd"),
        F.col("crawl_delay")), F.col("domain") <=> F.col("gr_dd"), "left")
      .withColumn("slot", F.col("gr_lrk") + F.col("gr_off"))
      .withColumn("not_before_s",
        F.col("slot") * coalesce(F.col("crawl_delay"), lit(defaultDelay)))
      .drop("gr_dd", "crawl_delay", "gr_salt", "gr_lrk", "gr_off", "gr_od", "gr_os")
  }

  /** Fetch list against an archive index: candidate URLs whose
    * (surt, digest) pair is ALREADY in the index are dropped - the
    * "don't refetch unchanged content" cut every incremental crawl
    * runs before spending bandwidth. The index side carries only the
    * two key columns into a LEFT ANTI equi-join (Spark never
    * materializes the non-matching index rows), so at 100 TB this is
    * one shuffle of 8-byte-digest + surt keys on both sides - and the
    * candidates frame (a frontier, orders of magnitude smaller than
    * the archive) is the side AQE will happily broadcast when it
    * fits. Candidates with no archive entry, or whose content digest
    * changed, survive as the fetch list.
    */
  def fetchList(
      candidates: DataFrame,
      surtCol: String,
      digestCol: String,
      index: DataFrame,
      indexSurtCol: String,
      indexDigestCol: String
  ): DataFrame =
    candidates.join(
      index.select(F.col(indexSurtCol).as("gr_fs"), F.col(indexDigestCol).as("gr_fd")),
      F.col(surtCol) === F.col("gr_fs") && F.col(digestCol) === F.col("gr_fd"),
      "left_anti")

  /** Adaptive revisit scheduling from two archive-index snapshots
    * (the classic crawl-freshness policy: halve the revisit interval
    * for URLs whose content changed between snapshots, double it for
    * stable ones, clamped to [minDays, maxDays]). Snapshots key on
    * the SURT; duplicate keys within a snapshot (one URL captured
    * twice) fold by MIN digest first - deterministic, and the
    * interesting signal is "any change", not which capture. One
    * aggregate per snapshot + one equi-join on the surt, all partial-
    * aggregated map-side: at crawl scale both frames are
    * frontier-sized (distinct URLs), never corpus-sized.
    *
    * Output: (surt, changed, interval_days) - URLs present in only
    * one snapshot don't schedule (inner join): a first-seen URL has
    * no change signal yet and gets the crawler's default cadence.
    */
  def recrawlSchedule(
      prev: DataFrame,
      prevSurtCol: String,
      prevDigestCol: String,
      cur: DataFrame,
      curSurtCol: String,
      curDigestCol: String,
      baseDays: Int = 7,
      minDays: Int = 1,
      maxDays: Int = 30
  ): DataFrame = {
    require(minDays >= 0 && minDays <= baseDays && baseDays <= maxDays,
      s"need 0 <= minDays <= baseDays <= maxDays, got $minDays/$baseDays/$maxDays")
    val a = prev.groupBy(F.col(prevSurtCol).as("surt"))
      .agg(F.min(F.col(prevDigestCol)).as("gr_d1"))
    val b = cur.groupBy(F.col(curSurtCol).as("surt"))
      .agg(F.min(F.col(curDigestCol)).as("gr_d2"))
    a.join(b, "surt")
      .withColumn("changed", F.col("gr_d1") =!= F.col("gr_d2"))
      .withColumn("interval_days",
        when(F.col("changed"), greatest(lit(baseDays / 2), lit(minDays)))
          .otherwise(least(lit(baseDays * 2), lit(maxDays))).cast(IntegerType))
      .drop("gr_d1", "gr_d2")
  }

  /** The path-pattern regex of a robots rule: `*` matches any run,
    * a TRAILING `$` anchors the end, everything else is literal
    * (regex specials escaped with plain literal replaces - backslash
    * FIRST), prefix-anchored with `^`. Built identically in the
    * DuckDB oracle, so matching replays byte-for-byte.
    */
  def robotsRuleRegex(rule: Column): Column = {
    val anchored = rule.endsWith("$")
    val body = when(anchored, rule.substr(lit(1), length(rule) - 1))
      .otherwise(rule)
    val escaped = Seq("\\", ".", "^", "$", "+", "?", "(", ")", "[", "]", "{", "}", "|")
      .foldLeft(body)((c, ch) => F.replace(c, lit(ch), lit("\\" + ch)))
    concat(lit("^"), F.replace(escaped, lit("*"), lit(".*")),
      when(anchored, lit("$")).otherwise(lit("")))
  }

  /** Longest-match robots verdict per URL (RFC 9309 §2.2.2): every
    * governing rule whose pattern matches the URL path competes; the
    * rule with the LONGEST raw text wins, allow beating disallow on
    * ties; no match (or no robots entry for the domain) = allowed.
    * An empty path evaluates as `/`.
    *
    * Scale shape: the rule table (from [[robotsRules]]) is
    * domain-sized and BROADCASTS; matching inside the broadcast join
    * takes a LITERAL-PREFIX fast path for the (overwhelming) majority
    * of rules that carry no `*` and no trailing `$`: for those,
    * RFC 9309 matching is exactly `startsWith(path, rule)` - a
    * codegen'd byte compare - and the rlike (which compiles its
    * COLUMN pattern per evaluated pair: a real constant-factor CPU
    * tax on every fetch decision) is demoted to the wildcard
    * minority. Same verdict byte-for-byte: a wildcard-free rule's
    * built regex is `^` + escaped-literal, i.e. a prefix test. The
    * verdict is ONE aggregate keyed on `idCol`. The corpus never
    * shuffles to be judged. Output: df's rows + (allowed boolean).
    */
  def robotsAllowed(
      df: DataFrame,
      idCol: String,
      urlCol: String,
      rules: DataFrame
  ): DataFrame = {
    val rx = rules.select(F.col("domain").as("gr_rdom"), F.col("is_allow"),
      (!F.col("rule").contains("*") && !F.col("rule").endsWith("$"))
        .as("gr_lit"),
      F.col("rule").as("gr_rule"),
      robotsRuleRegex(F.col("rule")).as("gr_rx"),
      length(F.col("rule")).as("gr_rlen"))
    val paths = foldDomainByHost(
      df.select(F.col(idCol).as("gr_id"),
        urlHost(F.col(urlCol)).as("gr_vh"),
        when(urlPath(F.col(urlCol)) === "", lit("/"))
          .otherwise(urlPath(F.col(urlCol))).as("gr_path")),
      F.col("gr_vh"), "gr_dom")
      .select(F.col("gr_id"), F.col("gr_dom"), F.col("gr_path"))
    val verdict = paths
      .join(broadcast(rx), F.col("gr_dom") === F.col("gr_rdom") &&
        // literal rules: codegen'd prefix compare; wildcard rules only
        // pay the per-pair rlike COLUMN-pattern compile
        when(F.col("gr_lit"), F.col("gr_path").startsWith(F.col("gr_rule")))
          .otherwise(F.expr("gr_path rlike gr_rx")))
      .groupBy(F.col("gr_id"))
      .agg(max(struct(F.col("gr_rlen"),
        F.col("is_allow").cast(IntegerType).as("a"))).as("best"))
      .select(F.col("gr_id").as(idCol + "_v"),
        (F.col("best.a") === 1).as("allowed"))
    df.join(verdict, F.col(idCol) === F.col(idCol + "_v"), "left")
      .drop(idCol + "_v")
      .withColumn("allowed", coalesce(F.col("allowed"), lit(true)))
  }

  /** Anchor elements of `htmlCol` as (link, anchor) rows beside the
    * input row - the classic IR relevance signal: how OTHER pages
    * describe a target. One `regexp_extract_all` over whole `<a
    * href=...>...</a>` elements + explode, then the two groups
    * re-extracted from the (short) element string; same absolute
    * http(s) cut as [[extractLinks]]. The body is matched LAZILY
    * across nested markup (`(?is)(.*?)</a>` - real anchors routinely
    * wrap `<b>`/`<span>`/`<img>`; the old `[^<]*` body silently
    * dropped them), then inner tags strip to spaces and whitespace
    * collapses, so `<a href=u><b>bold deal</b> now</a>` yields
    * "bold deal now". All codegen'd projections, no shuffle; patterns
    * stay in the Java-regex/RE2 common subset for the oracle replay.
    *
    * Known bound of the lazy-body trade-off: an UNCLOSED `<a>` tag
    * swallows everything up to the NEXT `</a>` - but the body is
    * CAPPED at 1000 chars (`.{0,1000}?` - RE2, the oracle's engine,
    * rejects counted repetitions past 1000, so this is the largest
    * bound inside the common subset; genuine anchor texts are two
    * orders of magnitude shorter). An unclosed tag therefore swallows
    * at most 1 KB: anchors further than that survive as their own
    * rows instead of merging into the malformed one (they previously
    * lost their rows for the REST OF THE PAGE). Stopping the body at
    * the next `<a` open tag outright needs a negative lookahead,
    * which RE2 does not support - the cap is the common-subset
    * damage bound. Anchors nested within 1000 chars of an unclosed
    * tag still merge; well-formed anchors are unaffected.
    */
  def anchorTexts(df: DataFrame, htmlCol: String): DataFrame = {
    val pat = "(?is)<a[^>]*href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*>(.{0,1000}?)</a>"
    df.withColumn("a_elem", explode(regexp_extract_all(
        F.col(htmlCol), lit(pat), lit(0))))
      .withColumn("link", regexp_extract(F.col("a_elem"), pat, 1))
      .withColumn("anchor", trim(regexp_replace(
        regexp_replace(regexp_extract(F.col("a_elem"), pat, 2), "<[^>]+>", " "),
        "[ \\t\\n\\x0B\\f\\r]+", " ")))
      .filter(urlScheme(F.col("link")).isin("http", "https"))
      .drop("a_elem")
  }

  /** Sitemap parsing (sitemaps.org protocol) - the crawl frontier's
    * OTHER seed source beside in-page links: `<urlset>` documents
    * yield page entries, `<sitemapindex>` documents yield child
    * sitemap entries, each with its `<loc>` (whitespace-trimmed, as
    * the protocol requires readers to tolerate) and optional
    * `<lastmod>` ("" when absent - the recrawl-scheduling signal).
    * Only absolute http(s) locs survive, same cut as
    * [[extractLinks]]. Two whole-element `regexp_extract_all` +
    * explode passes (projection-side 1->N, RE2 subset, no shuffle) -
    * one per element kind, unioned; a document that is neither kind
    * emits nothing.
    *
    * Output: input rows (xmlCol dropped) + (kind: 'page'|'sitemap',
    * loc, lastmod).
    */
  def sitemapEntries(df: DataFrame, xmlCol: String): DataFrame = {
    def entries(tag: String, kind: String): DataFrame = {
      val elem = s"(?is)<$tag>(.*?)</$tag>"
      df.withColumn("gr_e", explode(regexp_extract_all(
          F.col(xmlCol), lit(elem), lit(1))))
        .withColumn("kind", lit(kind))
        .withColumn("loc", regexp_extract(F.col("gr_e"),
          "(?is)<loc>\\s*(.*?)\\s*</loc>", 1))
        .withColumn("lastmod", regexp_extract(F.col("gr_e"),
          "(?is)<lastmod>\\s*(.*?)\\s*</lastmod>", 1))
        .filter(urlScheme(F.col("loc")).isin("http", "https"))
        .drop("gr_e", xmlCol)
    }
    entries("url", "page").unionByName(entries("sitemap", "sitemap"))
  }

  /** Decode fetched sitemap bodies into XML text rows: `.xml.gz`
    * payloads (the protocol's standard compression - Google caps
    * sitemaps at 50 MB UNCOMPRESSED and most publishers gzip) inflate
    * via [[graft.sources.Warc.gunzipAll]], plain bytes decode as
    * UTF-8 directly. Refuse-don't-crash: corrupt gzip and null
    * payloads drop the row (a crawled body must never kill the task).
    * Per-row typed flatMap - the genuinely imperative decode step,
    * everything around it declarative (the [[graft.sources.Warc]]
    * ingest discipline).
    *
    * Output: (locCol, xml).
    */
  def sitemapBodies(df: DataFrame, locCol: String, bytesCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(F.col(locCol).cast(StringType), F.col(bytesCol))
      .as[(String, Array[Byte])]
      .flatMap { case (loc, bytes) =>
        if (bytes == null) None
        else {
          val raw =
            if (graft.sources.Warc.isGzip(bytes))
              graft.sources.Warc.gunzipAll(bytes).orNull
            else bytes
          if (raw == null) None
          else Some((loc, new String(raw, java.nio.charset.StandardCharsets.UTF_8)))
        }
      }
      .toDF(locCol, "xml")
  }

  /** One-level sitemapindex expansion - the protocol's standard depth
    * (an index lists child sitemaps; children list pages; indexes of
    * indexes are against the spec and real crawlers cap the walk):
    * page entries of `df`'s own XML, UNIONED with the page entries of
    * every child sitemap whose fetched body appears in `bodies`
    * (join on the child loc - children without a fetched body drop;
    * a child that is itself an index contributes nothing below its
    * own page entries, no level-2 walk). `via` carries the child
    * sitemap's loc ("" for the index's own entries) - the provenance
    * a recrawl scheduler keys politeness on.
    *
    * Scale shape: the bodies frame is sitemap-count-sized (thousands
    * of rows per large site, never corpus-sized) - AQE broadcasts the
    * join; entry extraction is the same codegen regex chain as
    * [[sitemapEntries]], fused into each side's scan.
    *
    * Output: df's non-xml columns + (via, kind = "page", loc, lastmod).
    */
  def sitemapEntriesDeep(
      df: DataFrame,
      xmlCol: String,
      bodies: DataFrame,
      bodyLocCol: String,
      bodyXmlCol: String
  ): DataFrame = {
    require(!df.columns.exists(Set("via", "kind", "loc", "lastmod", "gr_x")),
      "input already has a via/kind/loc/lastmod/gr_x column; rename it first")
    val own = sitemapEntries(df, xmlCol)
    val ownPages = own.filter(F.col("kind") === "page")
      .withColumn("via", lit(""))
    val children = own.filter(F.col("kind") === "sitemap")
      .drop("kind", "lastmod")
      .withColumnRenamed("loc", "via")
      .join(bodies.select(F.col(bodyLocCol).as("via"),
        F.col(bodyXmlCol).as("gr_x")), Seq("via"))
    val childPages = sitemapEntries(children, "gr_x")
      .filter(F.col("kind") === "page")
    ownPages.unionByName(childPages)
  }

  /** Page-level HEAD metadata - the self-description signals a web
    * curation pass reads before any body analysis: `<title>` text
    * (inner tags stripped, whitespace collapsed - same discipline as
    * [[anchorTexts]]), the `description` meta tag's content (BOTH
    * attribute orders - real HTML writes `name=.. content=..` and
    * `content=.. name=..` about equally), the `<html lang=..>`
    * declaration (lowercased - the value [[graft.ops.TextOps]]'
    * language-consistency screen audits against the trained
    * prediction), and the `rel=canonical` link href (the page's OWN
    * dedup hint, to be resolved + canonicalized like any href), and
    * the `<base href>` declaration (the document's link-resolution
    * base - first one wins, the HTML5 rule). All codegen'd
    * `regexp_extract` projections in the Java-regex/RE2 common
    * subset; absent fields are "" (the no-match value both engines
    * agree on), null HTML stays null.
    *
    * Output: input columns + (title, meta_description, html_lang,
    * canonical_url, base_href).
    */
  def pageMeta(df: DataFrame, htmlCol: String): DataFrame = {
    val h = F.col(htmlCol)
    def attr2(tag: String, k1: String, v1: String, k2: String): Column = {
      // k1=v1 ... k2=(captured), in either attribute order
      val fwd = s"(?is)<$tag[^>]*$k1\\s*=\\s*[\"']$v1[\"'][^>]*$k2\\s*=\\s*[\"']([^\"']*)[\"']"
      val rev = s"(?is)<$tag[^>]*$k2\\s*=\\s*[\"']([^\"']*)[\"'][^>]*$k1\\s*=\\s*[\"']$v1[\"']"
      val f = regexp_extract(h, fwd, 1)
      when(f =!= "", f).otherwise(regexp_extract(h, rev, 1))
    }
    df.withColumn("title", trim(regexp_replace(regexp_replace(
        regexp_extract(h, "(?is)<title[^>]*>(.*?)</title>", 1),
        "<[^>]+>", " "), "[ \\t\\n\\x0B\\f\\r]+", " ")))
      .withColumn("meta_description", attr2("meta", "name", "description", "content"))
      .withColumn("html_lang",
        lower(regexp_extract(h, "(?is)<html[^>]*\\slang\\s*=\\s*[\"']([^\"']+)[\"']", 1)))
      .withColumn("canonical_url", attr2("link", "rel", "canonical", "href"))
      // first <base href> wins (the HTML5 rule) - the document's
      // declared resolution base, "" when absent; [[resolveLinks]]
      // extracts the same value to pick its effective base
      // \s boundary after the tag name, same rule as [[resolveLinks]]:
      // <basefont href=..> must not masquerade as a base declaration
      .withColumn("base_href",
        regexp_extract(h, "(?is)<base\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"']", 1))
  }

  /** Per-domain page cap: keep at most `maxPerDomain` pages per
    * registrable domain (the Dolma/RefinedWeb-style anti-dominance
    * cut - without it a handful of mega-sites contribute most of the
    * corpus and the model overfits their boilerplate). The kept subset
    * is a deterministic PSEUDO-RANDOM sample within each domain: rank
    * by md5(url) (id tie-break), never lexicographically - alphabetic
    * ranking would systematically keep `/a...` pages.
    *
    * Scale shape - two-phase salted top-K, because domains are
    * Zipf-distributed and a single per-domain window would rank a
    * mega-domain's ENTIRE slice (terabytes, at a raw-crawl 100 TB) in
    * one task, in exactly the operator whose job is cutting
    * mega-domains:
    *
    *   1. rank within `(domain, hash(url) % saltBuckets)` and keep at
    *      most `maxPerDomain` per salt - any one window task is
    *      bounded by slice/saltBuckets, and every row of the TRUE
    *      per-domain top-K survives (a row in the global top-K is in
    *      the top-K of any subset containing it);
    *   2. exact re-rank of the <= saltBuckets*maxPerDomain survivors
    *      per domain by the same (md5(url), id) key.
    *
    * Same output as the one-window plan, row for row; the salt never
    * reaches the result, so it uses the engine-native hash. The PSL
    * fold runs per distinct host.
    *
    * Output: input columns + domain, rows over the cap dropped.
    */
  def domainCap(
      df: DataFrame,
      urlCol: String,
      idCol: String,
      maxPerDomain: Int,
      saltBuckets: Int = 16
  ): DataFrame = {
    require(maxPerDomain > 0, s"maxPerDomain must be positive, got $maxPerDomain")
    require(saltBuckets > 0, s"saltBuckets must be positive, got $saltBuckets")
    require(!df.columns.exists(Set("gr_rk", "gr_salt", "domain")),
      "input already has a gr_rk/gr_salt/domain column; rename it first")
    val W = org.apache.spark.sql.expressions.Window
    val orderKey = Seq(F.md5(F.col(urlCol)), F.col(idCol))
    val w1 = W.partitionBy(F.col("domain"), F.col("gr_salt")).orderBy(orderKey: _*)
    val w2 = W.partitionBy(F.col("domain")).orderBy(orderKey: _*)
    foldDomainByHost(df, urlHost(F.col(urlCol)), "domain")
      .withColumn("gr_salt", pmod(hash(F.col(urlCol)), lit(saltBuckets)))
      .withColumn("gr_rk", row_number().over(w1))
      .filter(F.col("gr_rk") <= maxPerDomain)
      .drop("gr_rk")
      .withColumn("gr_rk", row_number().over(w2))
      .filter(F.col("gr_rk") <= maxPerDomain)
      .drop("gr_rk", "gr_salt")
  }

  /** Staleness cut against an archive index: keep the rows whose
    * declared last-modification (`ts14Col`, timestamp14 - e.g. a
    * sitemap `lastmod` normalized to 14 digits) is NEWER than their
    * latest archived capture, or that were never captured at all
    * (surfaced as the `never_captured` flag). The lexical ts14 compare
    * IS the chronological one ([[graft.sources.Cdx.timestamp14]]'s
    * invariant). This is the sitemap-driven half of recrawl: publishers
    * TELL crawlers what changed; [[recrawlSchedule]] infers it when
    * they don't. One left equi-join on the surt against the
    * (frontier-sized) latest-capture view - the pages side never
    * shuffles more than its join key.
    */
  def staleCaptures(
      pages: DataFrame,
      urlCol: String,
      ts14Col: String,
      index: DataFrame
  ): DataFrame = {
    require(!pages.columns.exists(Set("gr_sk", "gr_cts", "never_captured")),
      "pages already has a gr_sk/gr_cts/never_captured column; rename it first")
    require(index.columns.contains("surt_key") && index.columns.contains("cdx_ts"),
      s"index must carry surt_key and cdx_ts columns, got ${index.columns.mkString(",")}")
    pages.withColumn("gr_sk", surtKey(F.col(urlCol)))
      .join(index.select(F.col("surt_key").as("gr_sk"),
        F.col("cdx_ts").as("gr_cts")), Seq("gr_sk"), "left")
      .withColumn("never_captured", F.col("gr_cts").isNull)
      .filter(F.col("gr_cts").isNull || F.col(ts14Col) > F.col("gr_cts"))
      .drop("gr_sk", "gr_cts")
  }

  /** Resolve WARC `revisit` records to their original capture via an
    * archive index: a revisit stores only (url, payload digest,
    * pointer) - the BYTES live in the original capture the index
    * maps ([[graft.sources.Warc.parseWarcRevisits]]). Join key is
    * (surt(url), digest) against the index (typically the
    * latest-capture view - frontier-sized, never the archive);
    * matches surface the original's coordinates (orig_ts,
    * orig_filename, orig_offset, orig_length) ready for
    * [[graft.sources.Warc.fetchRecords]]' ranged reads; revisits
    * whose original is missing flag `resolved = false` - a dangling
    * pointer must surface, not drop (LEFT join, the revisits frame
    * never loses rows). The revisit side shuffles only its join key;
    * AQE broadcasts the index when it fits.
    */
  def resolveRevisits(
      revisits: DataFrame,
      urlCol: String,
      digestCol: String,
      index: DataFrame
  ): DataFrame = {
    require(!revisits.columns.exists(Set("gr_sk", "orig_ts", "orig_filename",
      "orig_offset", "orig_length", "resolved")),
      "revisits already has a gr_sk/orig_*/resolved column; rename it first")
    require(Seq("surt_key", "cdx_ts", "digest", "filename", "offset", "length")
      .forall(index.columns.contains),
      s"index must carry surt_key/cdx_ts/digest/filename/offset/length, got ${index.columns.mkString(",")}")
    revisits.withColumn("gr_sk", surtKey(F.col(urlCol)))
      .join(index.select(F.col("surt_key").as("gr_ik"),
        F.col("digest").as("gr_dg"), F.col("cdx_ts").as("orig_ts"),
        F.col("filename").as("orig_filename"), F.col("offset").as("orig_offset"),
        F.col("length").as("orig_length")),
        F.col("gr_sk") === F.col("gr_ik") && F.col(digestCol) === F.col("gr_dg"),
        "left")
      .withColumn("resolved", F.col("orig_ts").isNotNull)
      .drop("gr_sk", "gr_ik", "gr_dg")
  }

  /** Robots META directives from page HTML (the in-page half of the
    * exclusion protocol: robots.txt gates the FETCH, `<meta
    * name="robots">` gates what an indexer may DO with the fetched
    * page - a corpus builder honoring publisher intent filters on
    * both). The content attribute parses in either attribute order
    * (the [[pageMeta]] discipline), folds to lowercase, and the
    * noindex / nofollow verdicts are token matches (comma/whitespace
    * separated, so `noindexing` never false-positives); `none` means
    * noindex AND nofollow (the protocol's shorthand - it does NOT
    * imply noarchive/nosnippet). Pure codegen regex projections
    * fused into the scan - RE2 subset, replayed byte-for-byte in the
    * oracle.
    *
    * Adds: robots_content (lowercased, "" when no tag), noindex,
    * nofollow, noarchive (don't serve cached copies - a corpus
    * honoring publisher intent drops these from any user-facing
    * cache/replay tier), nosnippet (don't excerpt - gates snippet
    * fields in derived datasets).
    */
  def robotsMetaDirectives(df: DataFrame, htmlCol: String): DataFrame = {
    val h = F.col(htmlCol)
    val fwd = "(?is)<meta[^>]*name\\s*=\\s*[\"']robots[\"'][^>]*content\\s*=\\s*[\"']([^\"']*)[\"']"
    val rev = "(?is)<meta[^>]*content\\s*=\\s*[\"']([^\"']*)[\"'][^>]*name\\s*=\\s*[\"']robots[\"']"
    val f = regexp_extract(h, fwd, 1)
    val content = lower(when(f =!= "", f).otherwise(regexp_extract(h, rev, 1)))
    def tok(t: String): Column =
      F.col("robots_content").rlike(s"(^|[\\s,])$t($$|[\\s,])")
    df.withColumn("robots_content", content)
      .withColumn("noindex", tok("noindex") || tok("none"))
      .withColumn("nofollow", tok("nofollow") || tok("none"))
      .withColumn("noarchive", tok("noarchive"))
      .withColumn("nosnippet", tok("nosnippet"))
  }

  /** `rel=alternate hreflang` link elements - the multilingual site
    * map publishers declare (the per-page ground truth a multilingual
    * curation pass joins against [[graft.ops.TextOps.scriptProfile]]/
    * langId: a page whose declared alternates contradict its detected
    * language is mislabeled or spam, and the alternate cluster is a
    * cross-language near-dup HINT no content hash finds). One row per
    * alternate: hreflang lowercased (BCP 47 tags are case-insensitive;
    * `x-default` passes through), href RAW - resolution against the
    * effective base is [[resolveLinks]]' job, not the extractor's.
    * Attribute order free; link elements without rel=alternate (or
    * without both attributes) drop. Whole-element extract + per-element
    * pulls, the [[sitemapEntries]] two-stage discipline - pure codegen,
    * fused into the scan.
    *
    * Output: input columns + (hreflang, alt_href).
    */
  def hreflangAlternates(df: DataFrame, htmlCol: String): DataFrame = {
    require(!df.columns.exists(Set("gr_l", "hreflang", "alt_href")),
      "input already has a gr_l/hreflang/alt_href column; rename it first")
    df.withColumn("gr_l", explode(regexp_extract_all(F.col(htmlCol),
        lit("(?is)<link[^>]*hreflang[^>]*>"), lit(0))))
      .filter(F.col("gr_l").rlike("(?is)rel\\s*=\\s*[\"']alternate[\"']"))
      .withColumn("hreflang", lower(regexp_extract(F.col("gr_l"),
        "(?is)hreflang\\s*=\\s*[\"']([^\"']*)[\"']", 1)))
      .withColumn("alt_href", regexp_extract(F.col("gr_l"),
        "(?is)href\\s*=\\s*[\"']([^\"']*)[\"']", 1))
      .filter(F.col("hreflang") =!= "" && F.col("alt_href") =!= "")
      .drop("gr_l")
  }

  /** Resolve HTTP redirect chains to their final targets - the fetch
    * tier's canonical-location pass (301/302 hops are how the web
    * actually moves; a frontier that stores hop-1 targets re-crawls
    * every intermediate forever). A URL redirecting to several places
    * (recrawled over time) folds to its MIN target first -
    * deterministic, like every snapshot fold here. `maxHops` unrolled
    * left joins follow the chain; a URL still pointing INTO the
    * redirect map after maxHops (a loop, or a chain longer than any
    * real site uses - browsers cap near 20) flags `resolved = false`
    * rather than spinning. Each hop is one equi-join of the
    * chain-state frame against the (frontier-sized) redirect map; the
    * unrolled chain is ONE lazy plan.
    *
    * Output: (url, target, hops, resolved) - one row per redirecting
    * URL.
    */
  def redirectChains(
      redirects: DataFrame,
      fromCol: String,
      toCol: String,
      maxHops: Int = 8
  ): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1, got $maxHops")
    val r = redirects
      .filter(F.col(fromCol).isNotNull && F.col(toCol).isNotNull)
      .groupBy(F.col(fromCol).as("gr_f"))
      .agg(F.min(F.col(toCol)).as("gr_t"))
    var state = r.select(F.col("gr_f").as("url"),
      F.col("gr_t").as("target"), lit(1).as("hops"))
    for (_ <- 2 to maxHops) {
      state = state.join(r, state("target") === r("gr_f"), "left")
        .select(state("url"),
          coalesce(F.col("gr_t"), state("target")).as("target"),
          when(F.col("gr_t").isNotNull, state("hops") + 1)
            .otherwise(state("hops")).as("hops"))
    }
    state.join(r.select(F.col("gr_f")), state("target") === F.col("gr_f"), "left")
      .select(state("url"), state("target"), state("hops"),
        F.col("gr_f").isNull.as("resolved"))
  }

  /** Co-citation relatedness: two domains cited BY the same page are
    * topically related (the related-domain discovery signal behind
    * "people who link to X also link to Y" - direction matters: this
    * is the in-link sibling of bibliographic coupling). One
    * dst-pair-per-src self-join with the family's skew discipline:
    * sources whose fan-out exceeds `maxFanout` drop ENTIRELY (mega-hub
    * link lists pair everything with everything at near-zero precision
    * - the same degenerate-key argument as every capped sketch join
    * here), bounding the quadratic blowup per source. Output pairs
    * order (a < b) so each pair counts once.
    */
  def coCitation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxFanout: Long = 100
  ): DataFrame = {
    require(maxFanout >= 2, s"maxFanout must be >= 2, got $maxFanout")
    val e = edges.select(F.col(srcCol).as("gr_cs"), F.col(dstCol).as("gr_cd"))
      .filter(F.col("gr_cs").isNotNull && F.col("gr_cd").isNotNull)
      .distinct()
    val ok = e.groupBy(F.col("gr_cs")).agg(count(lit(1)).as("gr_n"))
      .filter(F.col("gr_n") <= maxFanout)
      .select(F.col("gr_cs"))
    // no broadcast hint: the eligible-src frame is frontier-sized and
    // AQE picks the strategy (the foldDomainByHost lesson - an
    // unconditional broadcast fails outright past driver memory)
    val kept = e.join(ok, Seq("gr_cs"))
    kept.as("a").join(kept.as("b"),
        F.col("a.gr_cs") === F.col("b.gr_cs") &&
          F.col("a.gr_cd") < F.col("b.gr_cd"))
      .groupBy(F.col("a.gr_cd").as("dst_a"), F.col("b.gr_cd").as("dst_b"))
      .agg(count(lit(1)).as("n_cociting"))
  }

  /** Bibliographic coupling - the out-link transpose of
    * [[coCitation]]: two SOURCES that link to the same targets are
    * topically similar (Kessler's measure; the seed-expansion signal -
    * "find more domains like the vetted ones" ranks candidates by
    * coupling strength to the seed set). Same engine, roles swapped:
    * targets whose in-degree exceeds `maxFanin` drop entirely
    * (everyone links to the mega-authorities - pairing their citers
    * says nothing and costs a quadratic key). Output pairs order
    * (a < b), one count per pair.
    */
  def coupling(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxFanin: Long = 100
  ): DataFrame = {
    require(maxFanin >= 2, s"maxFanin must be >= 2, got $maxFanin")
    val e = edges.select(F.col(srcCol).as("gr_cs"), F.col(dstCol).as("gr_cd"))
      .filter(F.col("gr_cs").isNotNull && F.col("gr_cd").isNotNull)
      .distinct()
    val ok = e.groupBy(F.col("gr_cd")).agg(count(lit(1)).as("gr_n"))
      .filter(F.col("gr_n") <= maxFanin)
      .select(F.col("gr_cd"))
    val kept = e.join(ok, Seq("gr_cd"))
    kept.as("a").join(kept.as("b"),
        F.col("a.gr_cd") === F.col("b.gr_cd") &&
          F.col("a.gr_cs") < F.col("b.gr_cs"))
      .groupBy(F.col("a.gr_cs").as("src_a"), F.col("b.gr_cs").as("src_b"))
      .agg(count(lit(1)).as("n_shared_targets"))
  }

  /** Per-URL quality signals - the zero-fetch spam/trap screen a
    * frontier runs BEFORE spending bandwidth (complementing
    * [[crawlTraps]]' domain-level verdict with a per-URL one): length,
    * path depth, query-parameter count, digit density (auto-generated
    * URL spaces are digit-heavy), percent-escape count (encoding mazes)
    * and a session-id sniff, folded into a `url_suspect` flag by
    * caller-tunable thresholds. Pure codegen regex/list projections
    * fused into the scan - no shuffle, replayed byte-for-byte in the
    * oracle (the ratio divides exact integer counts).
    *
    * Adds: url_len, path_depth, n_params, digit_ratio, n_pct_escapes,
    * has_session_id, url_suspect.
    */
  def urlQualitySignals(
      df: DataFrame,
      urlCol: String,
      maxLen: Int = 200,
      maxDepth: Int = 8,
      maxParams: Int = 6
  ): DataFrame = {
    require(!df.columns.exists(Set("url_len", "path_depth", "n_params",
      "digit_ratio", "n_pct_escapes", "has_session_id", "url_suspect")),
      "input already has a urlQualitySignals output column; rename it first")
    val u = F.col(urlCol)
    val p = urlPath(u)
    val q = urlQuery(u)
    val depth = size(F.filter(split(p, "/"), s => s =!= ""))
    val nParams = when(q === "", lit(0)).otherwise(size(split(q, "&")))
    val nDigits = length(u) - length(regexp_replace(u, "[0-9]", ""))
    val sess = lower(u).rlike("(sessionid|phpsessid|jsessionid|[?&]sid=)")
    df.withColumn("url_len", length(u))
      .withColumn("path_depth", depth)
      .withColumn("n_params", nParams)
      .withColumn("digit_ratio",
        nDigits.cast(DoubleType) / greatest(length(u), lit(1)))
      .withColumn("n_pct_escapes",
        size(regexp_extract_all(u, lit("%[0-9A-Fa-f]{2}"), lit(0))))
      .withColumn("has_session_id", sess)
      .withColumn("url_suspect",
        length(u) > lit(maxLen) || depth > lit(maxDepth) ||
          nParams > lit(maxParams) || sess)
  }

  /** Per-page outlink signals - the link-spam screen complementing the
    * domain-graph verdicts ([[coCitation]]/TrustRank judge domains;
    * THIS judges one page's linking behavior at scan speed): total
    * href count, absolute-http(s) count, external count (different
    * registrable domain than the page - the PSL fold runs per link
    * element, on the page's own row), and the external share (exact
    * integer counts into one double division; NULL when no absolute
    * links). A page that is mostly external links is a link farm or a
    * directory; both get curated differently from content pages.
    * Higher-order array filters (not codegen) over scan-fused extracts;
    * no shuffle.
    *
    * Adds: n_hrefs, n_abs, n_ext, ext_share.
    */
  def pageLinkSignals(df: DataFrame, urlCol: String, htmlCol: String): DataFrame = {
    require(!df.columns.exists(Set("n_hrefs", "n_abs", "n_ext", "ext_share")),
      "input already has a pageLinkSignals output column; rename it first")
    val links = coalesce(
      regexp_extract_all(F.col(htmlCol),
        lit("href\\s*=\\s*[\"']([^\"']+)[\"']"), lit(1)),
      F.array().cast("array<string>"))
    val pageDom = registrableDomain(urlHost(F.col(urlCol)))
    val absL = F.filter(links, l => urlScheme(l).isin("http", "https"))
    val extL = F.filter(absL, l => registrableDomain(urlHost(l)) =!= pageDom)
    df.withColumn("n_hrefs", size(links))
      .withColumn("n_abs", size(absL))
      .withColumn("n_ext", size(extL))
      .withColumn("ext_share",
        when(size(absL) > 0, size(extL).cast(DoubleType) / size(absL)))
  }

  /** Per-domain crawl-trap signals: infinite calendars, session-id
    * mazes and path-recursion bugs generate unbounded URL spaces that
    * drown a frontier unless cut at the DOMAIN level. Two per-URL
    * signals that need no fetch at all: path depth, and repeated path
    * segments (at least TWO duplicate segment occurrences across the
    * path - `/cal/2024/cal/2024/...` or one segment appearing 3+
    * times - the recursion signature; a single repeat is normal
    * nesting). Aggregated per registrable domain (the PSL fold
    * runs once per distinct host): n_urls, avg_depth, repeat_share,
    * and the flag = enough URLs AND (too deep on average OR too many
    * repeating paths). avg/share are exact integer-sum divisions, so
    * the oracle replays them bit-for-bit.
    *
    * One aggregate shuffle keyed on the domain - frontier-sized, never
    * corpus-sized; the signals are codegen'd list ops fused into the
    * scan.
    */
  def crawlTraps(
      df: DataFrame,
      urlCol: String,
      minUrls: Long = 5,
      maxAvgDepth: Double = 6.0,
      maxRepeatShare: Double = 0.3
  ): DataFrame = {
    val segs = F.filter(split(urlPath(F.col("gr_tu")), "/"),
      (s: Column) => s =!= "")
    val sigs = df.select(F.col(urlCol).as("gr_tu"))
      .withColumn("gr_depth", F.size(segs))
      .withColumn("gr_rep",
        (F.size(segs) - F.size(F.array_distinct(segs)) >= 2)
          .cast(IntegerType))
    foldDomainByHost(
      sigs.withColumn("gr_th", urlHost(F.col("gr_tu"))), F.col("gr_th"), "domain")
      .groupBy(F.col("domain"))
      .agg(count(lit(1)).as("n_urls"),
        sum(F.col("gr_depth")).as("gr_sd"),
        sum(F.col("gr_rep")).as("gr_sr"))
      .withColumn("avg_depth",
        F.col("gr_sd").cast(DoubleType) / F.col("n_urls"))
      .withColumn("repeat_share",
        F.col("gr_sr").cast(DoubleType) / F.col("n_urls"))
      .withColumn("flagged",
        F.col("n_urls") >= minUrls &&
          (F.col("avg_depth") > maxAvgDepth ||
            F.col("repeat_share") > maxRepeatShare))
      .drop("gr_sd", "gr_sr")
  }

  /** Per-target-domain anchor-text vocabulary: for every registrable
    * domain, the tokens other pages link to it WITH, and how often -
    * the aggregated form search/curation ranks on (a domain described
    * as "spam casino bonus" by its in-links reads very differently
    * from its self-description). Extraction and the domain fold fuse
    * into the scan; the single shuffle is the final count keyed on the
    * (domain, token) pair - an anchor-vocabulary-sized frame.
    *
    * Output: (dst_domain, token, n_mentions).
    */
  def anchorProfile(df: DataFrame, htmlCol: String): DataFrame =
    anchorTexts(df, htmlCol)
      .select(
        urlHost(F.col("link")).as("gr_dh"),
        explode(graft.ops.DedupOps.tokens(F.col("anchor"))).as("token"))
      .groupBy(F.col("gr_dh"), F.col("token"))
      .agg(count(lit(1)).as("gr_n"))
      // fold eTLD+1 on the (host, token) vocabulary frame, then
      // re-aggregate: the PSL fold runs per distinct host-token pair
      // instead of per anchor occurrence
      .select(registrableDomain(F.col("gr_dh")).as("dst_domain"),
        F.col("token"), F.col("gr_n"))
      .groupBy(F.col("dst_domain"), F.col("token"))
      .agg(sum(F.col("gr_n")).as("n_mentions"))
}
