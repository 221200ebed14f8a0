package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{DedupOps, GraphOps, SampleOps, TextOps, WebOps}
import Fixtures._

/** Web crawl data: URL parsing and canonicalization, link graphs,
  * robots, sitemaps, WARC/WAT/WET/CDX round trips and crawl scheduling.
  */
object WebQueries extends Family {

  query("web_urls") { (s, dir) =>
    // URL parse - the crawl-curation stage after stripHtml: every doc
    // gets a deterministic URL shell (schemes, userinfo, md5-varied
    // subdomains, co.uk-style suffixes, ports, query strings,
    // fragments), parsed at scan speed by the codegen'd
    // regexp_extract chain. The oracle replays shell AND parse.
    WebOps.parseUrls(
        tbl(s, dir, "documents").withColumn("url", synthUrlCol), "url")
      .select(col("doc_id"), col("url"), col("scheme"), col("host"),
        col("port"), col("path"), col("query").as("qstr"), col("domain"))
  }(
    s"""WITH $urlShellCte
      |SELECT doc_id, url, scheme, host, port, path, qstr, domain
      |FROM d""".stripMargin)
  query("web_domains") { (s, dir) =>
    // per-registrable-domain crawl profile: the frame domain-level
    // curation decisions (caps, blocklists) are made from; ONE
    // shuffle on the eTLD+1 key
    WebOps.domainStats(
      tbl(s, dir, "documents").withColumn("url", synthUrlCol),
      "url", "n_chars")
  }(
    s"""WITH $urlShellCte
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM d GROUP BY domain""".stripMargin)
  query("web_blocklist") { (s, dir) =>
    // domain blocklist cut: rows filtered in place by a literal
    // IN-set over the registrable domain - corpus never shuffles to
    // be filtered; survivors profiled per source
    WebOps.blockDomains(
        tbl(s, dir, "documents").withColumn("url", synthUrlCol),
        "url", Seq("src2.com", "src5.co.uk", "src8.org", "www.src3.com"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }(
    s"""WITH $urlShellCte
      |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      |FROM d
      |WHERE domain NOT IN ('src2.com', 'src5.co.uk', 'src8.org', 'www.src3.com')
      |  AND host   NOT IN ('src2.com', 'src5.co.uk', 'src8.org', 'www.src3.com')
      |GROUP BY source""".stripMargin)
  query("web_domain_quality") { (s, dir) =>
    // the domain-level quality cut (FineWeb-style): NB-score every
    // page, fold token-weighted scores to the registrable domain -
    // the table a crawl's per-domain keep/drop decisions read.
    // Composes the two shared replays (url shell + NB weights).
    val d = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol)
      .withColumn("seed", col("source").isin("src0", "src1", "src2"))
    val scored = TextOps.nbQualityFilter(d, "doc_id", "text", "seed")
      .select(col("doc_id"), col("n_tokens"), col("score"))
    WebOps.parseUrls(d.select(col("doc_id"), col("url")), "url")
      .select(col("doc_id"), col("domain"))
      .join(scored, "doc_id")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("sum_tokens"),
        sum("score").as("sum_score"))
      .withColumn("avg_bits",
        col("sum_score").cast(DoubleType) /
          (col("sum_tokens") * 32).cast(DoubleType))
  }(
    // composes the two shared CTE fragments: url shell/parse (u,p,d)
    // + NB weights (base..wt); token-weighted mean bits per domain
    s"""WITH $urlShellCte, ${nbWeightCtes()}, scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(SUM(w) AS BIGINT) AS score
      |  FROM tok JOIN wt USING (t)
      |  GROUP BY doc_id
      |)
      |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
      |       CAST(SUM(score) AS BIGINT) AS sum_score,
      |       CAST(SUM(score) AS DOUBLE) / (CAST(SUM(n_tokens) AS BIGINT) * 32)
      |         AS avg_bits
      |FROM d JOIN scored USING (doc_id)
      |GROUP BY domain""".stripMargin)
  query("web_pipeline") { (s, dir) =>
    // the FineWeb-shaped curation pipeline END-TO-END in one plan:
    // domain blocklist cut (in-place filter, no shuffle) -> C4 line
    // cleaning (codegen, fuses into the scan) -> seed-trained NB
    // quality scoring over the CLEANED text -> greedy token-budget
    // selection via the distributed prefix sum. Every stage's replay
    // fragment is shared with its standalone query, so the composed
    // oracle cannot drift from the pieces.
    val pages = tbl(s, dir, "documents").withColumn("url", synthUrlCol)
    val survivors = WebOps.blockDomains(pages, "url",
      Seq("src2.com", "src5.co.uk", "src8.org", "www.src3.com"))
    val cleaned = TextOps.c4LineFilter(
        survivors.withColumn("ltext", synthLinedCol),
        "doc_id", "ltext", minWords = 3, minLines = 2)
      .join(survivors.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("seed", col("source").isin("src0", "src1", "src2"))
    TextOps.qualityBudget(cleaned, "doc_id", "clean", "seed",
      budgetTokens = 2500L)
  } {
    // the end-to-end composition: url-shell blocklist cut -> shared
    // C4 CTEs -> NB weight CTEs over the CLEANED text -> the same
    // greedy budget tail as docs_quality_budget (budget 2500)
    s"""WITH $urlShellCte, blocked AS (
      |  SELECT d.doc_id, d.source, x.text
      |  FROM d JOIN documents x USING (doc_id)
      |  WHERE NOT (domain IN ($webPipelineBlocklistSql)
      |             OR host IN ($webPipelineBlocklistSql))
      |), ${c4LinedCtes("blocked")}, cleaned AS (
      |  SELECT doc_id, source, array_to_string(kept, chr(10)) AS clean
      |  FROM f WHERE len(kept) >= 2
      |), ${nbWeightCtes("cleaned", "clean")}, scored AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |         CAST(SUM(w) AS BIGINT) AS score
      |  FROM tok JOIN wt USING (t)
      |  GROUP BY doc_id
      |), cum AS (
      |  SELECT doc_id, n_tokens, score,
      |         CAST(SUM(n_tokens) OVER (ORDER BY score DESC, doc_id) AS BIGINT)
      |           AS cum_tokens
      |  FROM scored
      |)
      |SELECT doc_id, n_tokens, score, cum_tokens
      |FROM cum WHERE cum_tokens <= 2500""".stripMargin
  }
  query("web_link_graph") { (s, dir) =>
    // registrable-domain link graph: each page's HTML shell carries
    // two deterministic absolute hrefs (plus a relative and a mailto
    // link that must NOT survive), the page's own domain comes from
    // the shared URL shell, and the only shuffle is the final count
    // on the (src, dst) domain pair
    WebOps.linkGraph(
      tbl(s, dir, "documents")
        .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol),
      "url", "html")
  }(
    // page domain from the shared url-shell CTE; href shell,
    // extraction regex, http(s) cut and link-host fold from the
    // shared link CTEs
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes
      |SELECT src_domain, dst_domain, CAST(count(*) AS BIGINT) AS n_links
      |FROM dd GROUP BY 1, 2""".stripMargin)
  query("web_domain_rank") { (s, dir) =>
    // domain authority: the same integer PageRank as graph_pagerank
    // (string node ids - the engine is key-type-agnostic) over the
    // symmetrized cross-domain link graph. The corpus is scanned
    // once into a domain-pair-sized edge frame; every PageRank round
    // then works on frames bounded by the domain count.
    val pages = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
    val edges = WebOps.linkGraph(pages, "url", "html")
      .filter(col("src_domain") =!= col("dst_domain"))
      .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
    val sym = edges.union(edges.select(col("dd").as("sd"), col("sd").as("dd")))
    GraphOps.pageRank(sym, "sd", "dd", iterations = 10)
      .select(col("node").as("domain"), col("rank_int"))
  } {
    // the graph_pagerank integer replay (same unit, restart, and
    // floor divisions) over the symmetrized cross-domain edges of
    // the shared link CTEs; rounds from the shared
    // [[domainRankCtes]] fragment (also the web_fetch_priority
    // authority stage - one replay, no drift)
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, $domainRankCtes
      |SELECT node AS domain, r AS rank_int FROM r10""".stripMargin
  }
  query("web_trustrank") { (s, dir) =>
    // spam demotion: trust propagates from a vetted seed set (.com
    // domains here) along DIRECTED links only - integer map, so the
    // replay is exact; domains no trusted page reaches hold 0, which
    // IS the spam verdict
    val pages = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
    val edges = WebOps.linkGraph(pages, "url", "html")
      .filter(col("src_domain") =!= col("dst_domain"))
      .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
    // seed-by-predicate: the rule evaluates over the op's own
    // materialized node frame, so the link extraction above runs
    // ONCE (a seeds frame would re-execute the whole plan)
    GraphOps.trustRankSeedBy(edges, "sd", "dd",
        col("node").endsWith(".com"), iterations = 10)
      .select(col("node").as("domain"), col("trust_int"))
  } {
    // the trustRank integer map unrolled: DIRECTED edges, teleport
    // mass only on the .com seeds, never-reached nodes stay 0; each
    // round-table is MATERIALIZED (referenced by the next round's
    // join AND the left-join shell - plain inlining would double the
    // 10-round chain per reference)
    val rounds = (1 to 10).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT n.node,
         |         CAST(n.boost + (85 * coalesce(f.infl, 0)) // 100 AS BIGINT) AS r
         |  FROM nb n LEFT JOIN (
         |    SELECT e.dst AS node, sum(p.r // d2.deg) AS infl
         |    FROM r${i - 1} p JOIN od d2 USING (node) JOIN e ON e.src = p.node
         |    WHERE p.r > 0
         |    GROUP BY 1) f USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, e AS (
      |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM dd
      |  WHERE src_domain <> dst_domain
      |), nodes AS (
      |  SELECT src AS node FROM e UNION SELECT dst FROM e
      |), nb AS MATERIALIZED (
      |  SELECT node,
      |    CASE WHEN node LIKE '%.com' THEN CAST(150000000 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS boost,
      |    CASE WHEN node LIKE '%.com' THEN CAST(1000000000 AS BIGINT)
      |         ELSE CAST(0 AS BIGINT) END AS r0
      |  FROM nodes
      |), od AS (
      |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
      |), r0 AS (
      |  SELECT node, r0 AS r FROM nb
      |), $rounds
      |SELECT node AS domain, r AS trust_int FROM r10""".stripMargin
  }
  query("web_redirects") { (s, dir) =>
    // 301-chain resolution: every non-multiple-of-7 URL redirects one
    // step down (chains of <= 6 hops ending at 7-multiples), 41-
    // multiples self-loop - those flag resolved=false instead of
    // spinning; 8 unrolled hops, ONE lazy plan
    val id = col("doc_id")
    def u(i: org.apache.spark.sql.Column) =
      concat(lit("https://r.org/p"), i.cast(StringType))
    val redirects = tbl(s, dir, "documents").filter(id % 7 =!= 0)
      .select(u(id).as("from_url"),
        when(id % 41 === 0, u(id)).otherwise(u(id - 1)).as("to_url"))
    WebOps.redirectChains(redirects, "from_url", "to_url", maxHops = 8)
  } {
    // the min-fold + 8 unrolled left-join hops + the final
    // still-in-map probe; r MATERIALIZED (referenced by all 8 hops)
    val hops = (2 to 8).map { i =>
      s"""s$i AS (
         |  SELECT s.url, coalesce(r.t, s.target) AS target,
         |         CASE WHEN r.t IS NOT NULL THEN s.hops + 1
         |              ELSE s.hops END AS hops
         |  FROM s${i - 1} s LEFT JOIN r ON s.target = r.f
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH r AS MATERIALIZED (
      |  SELECT 'https://r.org/p' || CAST(doc_id AS VARCHAR) AS f,
      |         min(CASE WHEN doc_id % 41 = 0
      |              THEN 'https://r.org/p' || CAST(doc_id AS VARCHAR)
      |              ELSE 'https://r.org/p' || CAST(doc_id - 1 AS VARCHAR)
      |              END) AS t
      |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY 1
      |), s1 AS (
      |  SELECT f AS url, t AS target, 1 AS hops FROM r
      |), $hops
      |SELECT s.url, s.target, CAST(s.hops AS INT) AS hops,
      |       (r.f IS NULL) AS resolved
      |FROM s8 s LEFT JOIN r ON s.target = r.f""".stripMargin
  }
  query("web_cocite") { (s, dir) =>
    // related-domain discovery: domains cited by the SAME page pair
    // up; mega-hub sources past the shared skew cap drop entirely
    // (the degenerate-key discipline of every capped self-join here)
    val pages = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
    val edges = WebOps.linkGraph(pages, "url", "html")
      .select(col("src_domain"), col("dst_domain"))
    WebOps.coCitation(edges, "src_domain", "dst_domain", maxFanout = skewCap)
  } {
    // same cap, same ordered-pair self-join over the shared link CTEs
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, e AS (
      |  SELECT DISTINCT src_domain AS s, dst_domain AS d FROM dd
      |), ok AS (
      |  SELECT s FROM (SELECT s, count(*) AS n FROM e GROUP BY 1)
      |  WHERE n <= $skewCap
      |), k AS MATERIALIZED (
      |  SELECT e.s, e.d FROM e JOIN ok USING (s)
      |)
      |SELECT a.d AS dst_a, b.d AS dst_b,
      |       CAST(count(*) AS BIGINT) AS n_cociting
      |FROM k a JOIN k b ON a.s = b.s AND a.d < b.d
      |GROUP BY 1, 2""".stripMargin
  }
  query("web_coupling") { (s, dir) =>
    // seed expansion: sources linking to the same targets pair up
    // (the out-link transpose of web_cocite); mega-authority targets
    // past the cap drop - everyone links to them, pairing their
    // citers says nothing
    val pages = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
    val edges = WebOps.linkGraph(pages, "url", "html")
      .select(col("src_domain"), col("dst_domain"))
    WebOps.coupling(edges, "src_domain", "dst_domain", maxFanin = skewCap)
  } {
    // the cocite replay transposed: cap on target in-degree, pairs
    // over sources
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, e AS (
      |  SELECT DISTINCT src_domain AS s, dst_domain AS d FROM dd
      |), ok AS (
      |  SELECT d FROM (SELECT d, count(*) AS n FROM e GROUP BY 1)
      |  WHERE n <= $skewCap
      |), k AS MATERIALIZED (
      |  SELECT e.s, e.d FROM e JOIN ok USING (d)
      |)
      |SELECT a.s AS src_a, b.s AS src_b,
      |       CAST(count(*) AS BIGINT) AS n_shared_targets
      |FROM k a JOIN k b ON a.d = b.d AND a.s < b.s
      |GROUP BY 1, 2""".stripMargin
  }
  query("web_hits") { (s, dir) =>
    // hubs vs authorities over the DIRECTED domain graph: link
    // directories rank as hubs (crawl-discovery priority), content
    // domains as authorities (quality weighting) - the split
    // PageRank flattens. Integer max-normalization per half-step
    // replaces the float L2 norm, so every round replays exactly.
    val pages = tbl(s, dir, "documents")
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
    val edges = WebOps.linkGraph(pages, "url", "html")
      .filter(col("src_domain") =!= col("dst_domain"))
      .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
    GraphOps.hits(edges, "sd", "dd", iterations = 8, unit = 1000000L)
      .select(col("node").as("domain"), col("hub_int"), col("auth_int"))
  } {
    // the HITS mutual recurrence unrolled: per round an authority
    // half-step (sum of hub scores over in-edges, max-rescaled to
    // the unit) then a hub half-step (sum of authority scores over
    // out-edges, same rescale); MATERIALIZED per half-step so the
    // 8-round chain never re-expands
    val rounds = (1 to 8).map { i =>
      s"""ar$i AS (
         |  SELECT e.dst AS node, sum(p.h) AS s
         |  FROM h${i - 1} p JOIN e ON e.src = p.node GROUP BY 1
         |), am$i AS (
         |  SELECT max(s) AS m FROM ar$i
         |), a$i AS MATERIALIZED (
         |  SELECT node, CAST(CASE WHEN m > 0 THEN s * 1000000 // m
         |                    ELSE 0 END AS BIGINT) AS a
         |  FROM ar$i CROSS JOIN am$i
         |), hr$i AS (
         |  SELECT e.src AS node, sum(q.a) AS s
         |  FROM a$i q JOIN e ON e.dst = q.node GROUP BY 1
         |), hm$i AS (
         |  SELECT max(s) AS m FROM hr$i
         |), h$i AS MATERIALIZED (
         |  SELECT node, CAST(CASE WHEN m > 0 THEN s * 1000000 // m
         |                    ELSE 0 END AS BIGINT) AS h
         |  FROM hr$i CROSS JOIN hm$i
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, e AS (
      |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM dd
      |  WHERE src_domain <> dst_domain
      |), nodes AS (
      |  SELECT src AS node FROM e UNION SELECT dst FROM e
      |), h0 AS (
      |  SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes
      |), $rounds
      |SELECT n.node AS domain,
      |       coalesce(h8.h, 0) AS hub_int,
      |       coalesce(a8.a, 0) AS auth_int
      |FROM nodes n LEFT JOIN h8 USING (node) LEFT JOIN a8 USING (node)""".stripMargin
  }
  query("web_anchor_text") { (s, dir) =>
    // anchor-text profile: how the crawl DESCRIBES each target
    // domain (the classic off-page relevance signal) - anchor
    // element extraction, http(s) cut, eTLD+1 fold, token explode;
    // ONE shuffle on the (domain, token) pair
    WebOps.anchorProfile(
      tbl(s, dir, "documents").withColumn("html", synthLinkHtmlCol),
      "html")
  } {
    // anchor elements re-extracted whole, then split into (link,
    // anchor); the same http(s) cut and host fold as the link CTEs,
    // then the shared tokenizer over the anchor text
    // s-interp so the \\s collapses to \s in the SQL literal (plain
    // triple-quoted would ship a literal backslash-s, which RE2
    // treats as an escaped backslash, not whitespace)
    // body capped at {0,1000} in lockstep with WebOps.anchorTexts:
    // the unclosed-<a> damage bound (RE2's max counted repetition)
    val pat = s"""(?is)<a[^>]*href\\s*=\\s*["'']([^"'']+)["''][^>]*>(.{0,1000}?)</a>"""
    s"""WITH $linkShellCte, ae AS (
      |  SELECT unnest(regexp_extract_all(html, '$pat', 0)) AS a_elem FROM h
      |), ax AS (
      |  SELECT regexp_extract(a_elem, '$pat', 1) AS link,
      |         trim(regexp_replace(regexp_replace(
      |           regexp_extract(a_elem, '$pat', 2),
      |           '<[^>]+>', ' ', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS anchor
      |  FROM ae
      |), af AS (
      |  SELECT ${hostOfSql("link")} AS lh, anchor
      |  FROM ax
      |  WHERE lower(regexp_extract(link, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |        IN ('http', 'https')
      |), tk AS (
      |  SELECT ${domainFoldSql("lh")} AS dst_domain,
      |    unnest(list_filter(string_split_regex(lower(trim(anchor)), '\\s+'),
      |                       t -> t <> '')) AS token
      |  FROM af
      |)
      |SELECT dst_domain, token, CAST(count(*) AS BIGINT) AS n_mentions
      |FROM tk GROUP BY 1, 2""".stripMargin
  }
  query("web_robots") { (s, dir) =>
    // crawl-politeness gate: per-domain robots.txt (deterministic
    // shell - a badbot group our agent must skip, a * group with a
    // digit-derived Disallow, a longer Allow, a wildcard+anchor
    // rule), parsed to the governing rule set, then the RFC 9309
    // longest-match verdict per page URL. Rules broadcast; the
    // corpus never shuffles to be judged.
    val pages = tbl(s, dir, "documents").withColumn("url", synthUrlCol)
    val domains = pages
      .select(WebOps.registrableDomain(WebOps.urlHost(col("url"))).as("domain"))
      .distinct()
    val n = regexp_extract(col("domain"), "src([0-9])", 1)
    val robots = domains.withColumn("txt", concat(
      lit("# crawl policy\nUser-agent: badbot\nDisallow: /\n\n"),
      lit("User-agent: *\nDisallow: /p/"), n,
      lit("\nAllow: /p/"), n, lit("0\nDisallow: /q*z$\n")))
    val rules = WebOps.robotsRules(robots, "domain", "txt", "graftbot")
    WebOps.robotsAllowed(
        pages.select(col("doc_id"), col("url")), "doc_id", "url", rules)
      .select(col("doc_id"), col("url"), col("allowed"))
  }(robotsOracleSql)
  query("web_warc_ingest") { (s, dir) =>
    // raw crawl ingestion, the web tier's first hop: each document
    // serializes into a spec-compliant WARC/1.1 blob (warcinfo +
    // request + response records, CRLF framing, byte-exact
    // Content-Length) by the library's own writer, and the reader
    // frames the records back, surfacing ONLY the response pages
    // with their HTTP status/mime parsed off the payload. The
    // oracle replays the page fields from the same doc_id formulas -
    // container bytes never enter the compare.
    import s.implicits._
    val blobs = tblS(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
        val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
        val mime = if (id % 4 == 0) "text/plain" else "text/html"
        val html =
          s"<html><head><title>doc $id</title></head><body>$text</body></html>"
        (id, graft.sources.Warc.writeWarcBytes(Seq(
          graft.sources.Warc.WarcPage(url, date, 200, mime, html))))
      }).toDF("doc_id", "blob")
    graft.sources.Warc.ingest(blobs, "doc_id", "blob")
      .select(col("doc_id"), col("url"), col("fetch_time"), col("status"),
        col("mime"), col("html"))
  }(warcIngestOracleSql)
  query("web_page_meta") { (s, dir) =>
    // page self-description: title (nested markup + newline survive
    // the strip), description meta in both attribute orders, lang
    // declaration case-folded, canonical hint - all codegen regex
    // extracts fused into the scan
    WebOps.pageMeta(
        tbl(s, dir, "documents")
          .select(col("doc_id"), synthMetaHtmlCol.as("html")),
        "html")
      .select(col("doc_id"), col("title"), col("meta_description"),
        col("html_lang"), col("canonical_url"))
  }(
    // the WARC writer/reader pair is byte-exact framing around formula
    // fields; the oracle replays the fields directly - the gzip variant
    // inflates to the SAME records, so it shares the replay verbatim
    // head-shell construction + the same RE2-subset extracts: title
    // tag-strip/collapse, description in both attribute orders
    // (forward wins when non-empty), lang lowercased, canonical href
    s"""WITH $metaShellCte, x AS (
      |  SELECT doc_id, html,
      |    regexp_extract(html,
      |      '(?is)<meta[^>]*name\\s*=\\s*["'']description["''][^>]*content\\s*=\\s*["'']([^"'']*)["'']', 1) AS d_fwd,
      |    regexp_extract(html,
      |      '(?is)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*name\\s*=\\s*["'']description["'']', 1) AS d_rev,
      |    regexp_extract(html,
      |      '(?is)<link[^>]*rel\\s*=\\s*["'']canonical["''][^>]*href\\s*=\\s*["'']([^"'']*)["'']', 1) AS c_fwd,
      |    regexp_extract(html,
      |      '(?is)<link[^>]*href\\s*=\\s*["'']([^"'']*)["''][^>]*rel\\s*=\\s*["'']canonical["'']', 1) AS c_rev
      |  FROM h
      |)
      |SELECT doc_id,
      |  trim(regexp_replace(regexp_replace(
      |    regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
      |    '<[^>]+>', ' ', 'g'), '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS title,
      |  CASE WHEN d_fwd <> '' THEN d_fwd ELSE d_rev END AS meta_description,
      |  lower(regexp_extract(html,
      |    '(?is)<html[^>]*\\slang\\s*=\\s*["'']([^"'']+)["'']', 1)) AS html_lang,
      |  CASE WHEN c_fwd <> '' THEN c_fwd ELSE c_rev END AS canonical_url
      |FROM x""".stripMargin)
  query("web_sitemap") { (s, dir) =>
    // sitemap ingestion, the frontier's second seed source: index
    // documents (every 4th doc) yield child-sitemap entries, urlset
    // documents yield page entries - whitespace-padded locs trim,
    // lastmod optional, a relative loc is cut. Two codegen
    // extract+explode passes, no shuffle.
    val id = col("doc_id")
    val xml = when(id % 4 === 0, concat(
        lit("<sitemapindex><sitemap><loc>https://s"),
        (id % 9).cast(StringType), lit(".example.org/sitemap"),
        (id % 5).cast(StringType), lit(".xml</loc><lastmod>2024-02-0"),
        (id % 9 + 1).cast(StringType),
        lit("</lastmod></sitemap></sitemapindex>")))
      .otherwise(concat(
        lit("<urlset><url><loc>\n  https://p"), (id % 9).cast(StringType),
        lit(".example.org/a/"), (id % 5).cast(StringType),
        lit("\n</loc><lastmod>2024-01-0"), (id % 9 + 1).cast(StringType),
        lit("</lastmod></url><url><loc>https://p"), (id % 9).cast(StringType),
        lit(".example.org/b/"), (id % 7).cast(StringType),
        lit("</loc></url><url><loc>/relative/only</loc></url></urlset>")))
    WebOps.sitemapEntries(
      tbl(s, dir, "documents").select(col("doc_id"), xml.as("xml")), "xml")
  }(
    // shell + the same two whole-element extraction passes; the
    // unnest CTE is MATERIALIZED (chained SELECT-* over an unnest
    // trips a DuckDB binder error otherwise)
    """WITH x AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 4 = 0 THEN
      |      '<sitemapindex><sitemap><loc>https://s' ||
      |      CAST(doc_id % 9 AS VARCHAR) || '.example.org/sitemap' ||
      |      CAST(doc_id % 5 AS VARCHAR) || '.xml</loc><lastmod>2024-02-0' ||
      |      CAST(doc_id % 9 + 1 AS VARCHAR) ||
      |      '</lastmod></sitemap></sitemapindex>'
      |    ELSE
      |      '<urlset><url><loc>' || chr(10) || '  https://p' ||
      |      CAST(doc_id % 9 AS VARCHAR) || '.example.org/a/' ||
      |      CAST(doc_id % 5 AS VARCHAR) || chr(10) ||
      |      '</loc><lastmod>2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) ||
      |      '</lastmod></url><url><loc>https://p' ||
      |      CAST(doc_id % 9 AS VARCHAR) || '.example.org/b/' ||
      |      CAST(doc_id % 7 AS VARCHAR) ||
      |      '</loc></url><url><loc>/relative/only</loc></url></urlset>'
      |    END AS xml
      |  FROM documents
      |), u AS MATERIALIZED (
      |  SELECT doc_id, 'page' AS kind,
      |         unnest(regexp_extract_all(xml, '(?is)<url>(.*?)</url>', 1)) AS e
      |  FROM x
      |  UNION ALL
      |  SELECT doc_id, 'sitemap' AS kind,
      |         unnest(regexp_extract_all(xml, '(?is)<sitemap>(.*?)</sitemap>', 1)) AS e
      |  FROM x
      |), p AS (
      |  SELECT doc_id, kind,
      |    regexp_extract(e, '(?is)<loc>\s*(.*?)\s*</loc>', 1) AS loc,
      |    regexp_extract(e, '(?is)<lastmod>\s*(.*?)\s*</lastmod>', 1) AS lastmod
      |  FROM u
      |)
      |SELECT doc_id, kind, loc, lastmod FROM p
      |WHERE lower(regexp_extract(loc, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      IN ('http', 'https')""".stripMargin)
  query("web_sitemap_deep") { (s, dir) =>
    // one-level sitemapindex walk: each doc's index lists a plain
    // child, a GZIP child (.xml.gz - the protocol's standard
    // compression, inflated by sitemapBodies' gunzipAll path), and a
    // never-fetched child that must drop; child urlset pages union
    // with provenance in `via`
    import s.implicits._
    val id = col("doc_id")
    val index = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .select(id, concat(
        lit("<sitemapindex><sitemap><loc>https://s"), id.cast(StringType),
        lit(".example.org/a.xml</loc></sitemap><sitemap><loc>https://s"),
        id.cast(StringType),
        lit(".example.org/b.xml.gz</loc></sitemap>" +
          "<sitemap><loc>https://missing.example.org/m"),
        id.cast(StringType),
        lit(".xml</loc></sitemap></sitemapindex>")).as("xml"))
    val bodyRows = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .select(id).as[Long]
      .mapPartitions(_.flatMap { i =>
        def gz(s2: String): Array[Byte] = {
          val bos = new java.io.ByteArrayOutputStream()
          val g = new java.util.zip.GZIPOutputStream(bos)
          g.write(s2.getBytes("UTF-8")); g.finish(); g.close()
          bos.toByteArray
        }
        val aXml = s"<urlset><url><loc>https://p${i % 9}.example.org/pa/" +
          s"${i % 5}</loc><lastmod>2024-02-0${i % 9 + 1}</lastmod></url></urlset>"
        val bXml = s"<urlset><url><loc>https://p${i % 9}.example.org/pb/" +
          s"${i % 3}</loc></url></urlset>"
        Iterator(
          (s"https://s$i.example.org/a.xml", aXml.getBytes("UTF-8")),
          (s"https://s$i.example.org/b.xml.gz", gz(bXml)))
      }).toDF("body_loc", "payload")
    val bodies = WebOps.sitemapBodies(bodyRows, "body_loc", "payload")
    WebOps.sitemapEntriesDeep(index, "xml", bodies, "body_loc", "xml")
      .select(col("doc_id"), col("via"), col("loc"), col("lastmod"))
  }(
    // closed-form replay: the plain child contributes its pa page
    // (with lastmod), the gz child its pb page (container bytes
    // never enter the compare - gunzip is spec-pinned), the missing
    // child nothing
    """SELECT doc_id,
      |  'https://s' || CAST(doc_id AS VARCHAR) || '.example.org/a.xml' AS via,
      |  'https://p' || CAST(doc_id % 9 AS VARCHAR) || '.example.org/pa/' ||
      |    CAST(doc_id % 5 AS VARCHAR) AS loc,
      |  '2024-02-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod
      |FROM documents WHERE text IS NOT NULL
      |UNION ALL
      |SELECT doc_id,
      |  'https://s' || CAST(doc_id AS VARCHAR) || '.example.org/b.xml.gz',
      |  'https://p' || CAST(doc_id % 9 AS VARCHAR) || '.example.org/pb/' ||
      |    CAST(doc_id % 3 AS VARCHAR),
      |  ''
      |FROM documents WHERE text IS NOT NULL""".stripMargin)
  query("web_domain_cap") { (s, dir) =>
    // anti-dominance cut: at most 5 pages per registrable domain,
    // kept subset ranked by md5(url) (doc_id tie-break) so the cap
    // never systematically keeps the alphabetically-first pages.
    // ONE domain-keyed window; the PSL fold per distinct host.
    val pages = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", synthUrlCol)
      .select(col("doc_id"), col("url"))
    WebOps.domainCap(pages, "url", "doc_id", maxPerDomain = 5)
  } {
    // the shared shell/parse/fold CTEs + the same md5-ranked window
    s"""WITH $urlShellCte, base AS (
      |  SELECT d.doc_id, d.url, d.domain
      |  FROM d JOIN documents dd USING (doc_id)
      |  WHERE dd.text IS NOT NULL
      |), rk AS (
      |  SELECT doc_id, url, domain,
      |         ROW_NUMBER() OVER (PARTITION BY domain
      |                            ORDER BY md5(url), doc_id) AS rn
      |  FROM base
      |)
      |SELECT doc_id, url, domain FROM rk WHERE rn <= 5""".stripMargin
  }
  query("web_sitemap_recrawl") { (s, dir) =>
    // publishers TELL crawlers what changed: sitemap lastmod vs the
    // CDX latest-capture view. Entries parsed by sitemapEntries,
    // lastmod normalized to timestamp14, then the staleCaptures cut -
    // never-captured URLs (host digit divisible by 3) and lastmods
    // newer than the 2024-01-05 capture survive as the fetch list
    val id = col("doc_id")
    val xml = concat(lit("<urlset><url><loc>https://p"),
      (id % 9).cast(StringType), lit(".example.org/a/"),
      (id % 5).cast(StringType), lit("</loc><lastmod>2024-01-0"),
      (id % 9 + 1).cast(StringType), lit("</lastmod></url></urlset>"))
    val entries = WebOps.sitemapEntries(
        tbl(s, dir, "documents").select(col("doc_id"), xml.as("xml")), "xml")
      .filter(col("kind") === "page" && col("lastmod") =!= "")
      .select(col("doc_id"), col("loc"), col("lastmod"))
    val pages = entries.withColumn("lm14",
      concat(regexp_replace(col("lastmod"), "-", ""), lit("000000")))
    val hostDigit = regexp_extract(col("loc"), "https://p([0-9])", 1)
      .cast(IntegerType)
    val index = pages.filter(hostDigit % 3 =!= 0)
      .select(WebOps.surtKey(col("loc")).as("surt_key")).distinct()
      .withColumn("cdx_ts", lit("20240105000000"))
    WebOps.staleCaptures(pages, "loc", "lm14", index)
      .select(col("doc_id"), col("loc"), col("lastmod"),
        col("never_captured"))
  } {
    // entry formulas replayed closed-form (the sitemap parse is
    // web_sitemap's oracled ground); the surt of the simple
    // https://pK.example.org/a/M loc collapses to a direct formula,
    // and the fetch cut is the left-join staleness predicate
    """WITH en AS (
      |  SELECT doc_id,
      |    'https://p' || CAST(doc_id % 9 AS VARCHAR) || '.example.org/a/' ||
      |      CAST(doc_id % 5 AS VARCHAR) AS loc,
      |    '2024-01-0' || CAST(doc_id % 9 + 1 AS VARCHAR) AS lastmod
      |  FROM documents
      |), pg AS (
      |  SELECT doc_id, loc, lastmod,
      |    replace(lastmod, '-', '') || '000000' AS lm14,
      |    'org,example,p' || CAST(doc_id % 9 AS VARCHAR) || ')/a/' ||
      |      CAST(doc_id % 5 AS VARCHAR) AS sk
      |  FROM en
      |), ix AS (
      |  SELECT DISTINCT sk FROM pg WHERE (doc_id % 9) % 3 <> 0
      |)
      |SELECT doc_id, loc, lastmod, (ix.sk IS NULL) AS never_captured
      |FROM pg LEFT JOIN ix USING (sk)
      |WHERE ix.sk IS NULL OR pg.lm14 > '20240105000000'""".stripMargin
  }
  query("web_lang_declared") { (s, dir) =>
    // declared-vs-trained language cross-check (the CommonCrawl
    // metadata-vs-classifier audit): the html lang attribute's
    // primary subtag against the trained langId prediction, with an
    // agreement flag. Both signals are per-row scans; the only
    // shuffle is the doc-keyed join of the two frames.
    val base = tbl(s, dir, "documents")
      .select(col("doc_id"), synthMetaHtmlCol.as("html"), col("text"))
    val declared = WebOps.pageMeta(base.select(col("doc_id"), col("html")), "html")
      .select(col("doc_id"),
        regexp_extract(col("html_lang"), "^([a-z]+)", 1).as("declared"))
    val pred = base.select(col("doc_id"), TextOps.langId(col("text")).as("lang_pred"))
    declared.join(pred, "doc_id")
      .withColumn("agree",
        col("declared") =!= "" && col("declared") === col("lang_pred"))
  }(
    // shared meta shell -> lang-attr extraction, joined to the shared
    // langId CTE chain over the raw text
    s"""WITH $metaShellCte, ${langIdCtes("documents", "text")}, decl AS (
      |  SELECT doc_id,
      |    regexp_extract(lower(regexp_extract(html,
      |      '(?is)<html[^>]*\\slang\\s*=\\s*["'']([^"'']+)["'']', 1)),
      |      '^([a-z]+)', 1) AS declared
      |  FROM h
      |)
      |SELECT d.doc_id, d.declared, p.lang_pred,
      |       (d.declared <> '' AND d.declared = p.lang_pred) AS agree
      |FROM decl d JOIN lpred p USING (doc_id)""".stripMargin)
  query("web_warc_gz") { (s, dir) =>
    // the CommonCrawl wire layout: each WARC record gzipped as its
    // OWN member, members concatenated; the reader auto-detects gzip,
    // inflates the multi-member stream, and frames identically to the
    // plain path - so the oracle is the same field-formula replay
    import s.implicits._
    val blobs = tblS(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
        val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
        val mime = if (id % 4 == 0) "text/plain" else "text/html"
        val html =
          s"<html><head><title>doc $id</title></head><body>$text</body></html>"
        (id, graft.sources.Warc.writeWarcGzBytes(Seq(
          graft.sources.Warc.WarcPage(url, date, 200, mime, html))))
      }).toDF("doc_id", "blob")
    graft.sources.Warc.ingest(blobs, "doc_id", "blob")
      .select(col("doc_id"), col("url"), col("fetch_time"), col("status"),
        col("mime"), col("html"))
  }(warcIngestOracleSql)
  query("web_warc_charset") { (s, dir) =>
    // charset-aware body decode - input correctness for the whole web
    // tier: real CommonCrawl is heavily non-UTF-8, and a hard-coded
    // UTF-8 decode silently mojibakes those pages. Each doc's body
    // encodes in a rotating legacy charset (Latin-1 / Shift_JIS / GBK
    // header-declared; windows-1251 declared ONLY via <meta charset>,
    // exercising the sniff path - the writer omits the header param
    // when the html self-declares). The reader must recover the exact
    // original text + the charset used; the oracle replays both from
    // the doc_id formulas - the legacy bytes never enter the compare.
    import s.implicits._
    val blobs = tblS(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val (cs, phrase) = (id % 4).toInt match {
          case 0 => ("iso-8859-1", "café déjà vu ñandú ")
          case 1 => ("shift_jis", "日本語のテキスト ")
          case 2 => ("gbk", "中文文本处理 ")
          case _ => ("windows-1251", "русский текст ")
        }
        val meta = if (id % 4 == 3) s"<meta charset=$cs>" else ""
        val html = s"<html><head>$meta</head><body>$phrase$id</body></html>"
        (id, graft.sources.Warc.writeWarcBytes(Seq(graft.sources.Warc.WarcPage(
          s"https://c${id % 5}.example.org/p/$id",
          "2024-03-01T00:00:00Z", 200, "text/html", html, cs))))
      }).toDF("doc_id", "blob")
    graft.sources.Warc.ingest(blobs, "doc_id", "blob")
      .select(col("doc_id"), col("charset"), col("html"))
  }(
    """SELECT doc_id,
      |  CASE doc_id % 4 WHEN 0 THEN 'iso-8859-1' WHEN 1 THEN 'shift_jis'
      |       WHEN 2 THEN 'gbk' ELSE 'windows-1251' END AS charset,
      |  '<html><head>' ||
      |  CASE WHEN doc_id % 4 = 3 THEN '<meta charset=windows-1251>' ELSE '' END ||
      |  '</head><body>' ||
      |  CASE doc_id % 4 WHEN 0 THEN 'café déjà vu ñandú '
      |       WHEN 1 THEN '日本語のテキスト '
      |       WHEN 2 THEN '中文文本处理 '
      |       ELSE 'русский текст ' END ||
      |  CAST(doc_id AS VARCHAR) || '</body></html>' AS html
      |FROM documents""".stripMargin)
  query("web_warc_stream") { (s, dir) =>
    // the STREAMING archive reader end-to-end: executors write a few
    // multi-page .warc.gz part files (the CommonCrawl per-record-member
    // layout) into scratch, then readWarcFiles streams them back
    // record-at-a-time - one task per file, memory bounded by one
    // record, no whole-file materialization (the 2 GiB binaryFile
    // ceiling is gone). Pages carry the SAME field formulas as
    // web_warc_ingest, so the oracle is the shared replay; doc_id
    // comes back out of the URL.
    import s.implicits._
    val outDir = scratchPath("warc_stream", dir)
    val hPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.mkdirs(hPath)
    tbl(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .repartition(8, col("doc_id"))
      .as[(Long, String)]
      .foreachPartition { (it: Iterator[(Long, String)]) =>
        val pages = it.map { case (id, text) =>
          val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
          val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
          val mime = if (id % 4 == 0) "text/plain" else "text/html"
          val html =
            s"<html><head><title>doc $id</title></head><body>$text</body></html>"
          graft.sources.Warc.WarcPage(url, date, 200, mime, html)
        }.toSeq
        if (pages.nonEmpty) {
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val p = new org.apache.hadoop.fs.Path(outDir, f"part-$pid%05d.warc.gz")
          val pfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val out = pfs.create(p, true)
          try out.write(graft.sources.Warc.writeWarcGzBytes(pages))
          finally out.close()
        }
      }
    graft.sources.Warc.readWarcFiles(s, outDir)
      .select(
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast(LongType).as("doc_id"),
        col("url"), col("fetch_time"), col("status"), col("mime"), col("html"))
  }(
    // the streaming reader frames the SAME pages the whole-blob reader
    // does - shared field-formula replay, container bytes never compared
    warcIngestOracleSql)
  query("web_robots_ext") { (s, dir) =>
    // the politeness extras beside allow/disallow: per-domain
    // Crawl-delay (group-scoped - the graftbot group wins over * for
    // even-digit domains; max of valid values within the chosen
    // group; non-numeric values drop; badbot's 99 never applies) and
    // Sitemap directives (group-INDEPENDENT per the protocol:
    // duplicates collapse, relative locs cut). The delay feeds the
    // frontier's per-domain pacing; the sitemap URLs are
    // sitemapEntries' seed wire.
    val pages = tbl(s, dir, "documents").withColumn("url", synthUrlCol)
    val domains = pages
      .select(WebOps.registrableDomain(WebOps.urlHost(col("url"))).as("domain"))
      .distinct()
    val robots = domains.withColumn("txt", robotsExtTxtCol)
    val delays = WebOps.robotsCrawlDelay(robots, "domain", "txt", "graftbot")
    val maps = WebOps.robotsSitemaps(robots, "domain", "txt")
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_sitemaps"), min(col("sitemap_url")).as("first_sitemap"))
    delays.join(maps, Seq("domain"))
      .select(col("domain"), col("crawl_delay"), col("n_sitemaps"),
        col("first_sitemap"))
  } {
    // closed-form expectations independently derived from the fixture
    // formulas: even-digit domains are governed by the graftbot group
    // (delay 2), odd by the * group (max of n.5 and 1 - the only valid
    // numeric values; 'fast' drops); exactly one sitemap survives (the
    // duplicate collapses, the relative loc is cut)
    s"""WITH $urlShellCte, doms AS (
      |  SELECT DISTINCT domain FROM d
      |), x AS (
      |  SELECT domain, regexp_extract(domain, 'src([0-9])', 1) AS n FROM doms
      |)
      |SELECT domain,
      |  CAST(CASE WHEN CAST(n AS INT) % 2 = 0 THEN 2.0
      |            ELSE greatest(CAST(n || '.5' AS DOUBLE), 1.0) END
      |       AS DOUBLE) AS crawl_delay,
      |  CAST(1 AS BIGINT) AS n_sitemaps,
      |  'https://maps.' || domain || '/sm-' || n || '.xml' AS first_sitemap
      |FROM x""".stripMargin
  }
  query("web_wat_links") { (s, dir) =>
    // the THIRD CommonCrawl interchange file: WAT metadata records
    // (application/json envelopes). The source only frames; the JSON
    // parses with Spark's codegen'd from_json - title off the Head,
    // one row per extracted link. Oracle replays the field formulas
    // closed-form (1 + doc_id % 3 links per page).
    import s.implicits._
    val blobs = tblS(s, dir, "documents")
      .select(col("doc_id")).as[Long]
      .mapPartitions(_.map { id =>
        val links = (0L until (1 + id % 3)).map { k =>
          s"""{"url":"https://l${(id + k) % 8}.example.org/t/$k","text":"anchor $k"}"""
        }.mkString("[", ",", "]")
        val json =
          s"""{"Envelope":{"WARC-Header-Metadata":{"WARC-Target-URI":"https://w${id % 7}.example.org/p/$id"},""" +
            s""""Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{"Head":{"Title":"doc $id"},"Links":$links}}}}}"""
        (id, graft.sources.Warc.writeWatGzBytes(Seq(graft.sources.Warc.WatEntry(
          s"https://w${id % 7}.example.org/p/$id",
          "2024-04-01T00:00:00Z", json))))
      }).toDF("doc_id", "blob")
    val schema = org.apache.spark.sql.types.DataType.fromDDL(
      "STRUCT<Envelope: STRUCT<`Payload-Metadata`: STRUCT<" +
        "`HTTP-Response-Metadata`: STRUCT<`HTML-Metadata`: STRUCT<" +
        "Head: STRUCT<Title: STRING>, " +
        "Links: ARRAY<STRUCT<url: STRING, text: STRING>>>>>>>")
    val html = col("m").getField("Envelope").getField("Payload-Metadata")
      .getField("HTTP-Response-Metadata").getField("HTML-Metadata")
    graft.sources.Warc.watIngest(blobs, "doc_id", "blob")
      .withColumn("m", from_json(col("json"), schema))
      .select(col("doc_id"),
        html.getField("Head").getField("Title").as("title"),
        explode(html.getField("Links")).as("lnk"))
      .select(col("doc_id"), col("title"),
        col("lnk.url").as("link_url"), col("lnk.text").as("link_text"))
  }(
    """SELECT doc_id,
      |  'doc ' || CAST(doc_id AS VARCHAR) AS title,
      |  'https://l' || CAST((doc_id + k) % 8 AS VARCHAR) ||
      |    '.example.org/t/' || CAST(k AS VARCHAR) AS link_url,
      |  'anchor ' || CAST(k AS VARCHAR) AS link_text
      |FROM (SELECT doc_id, unnest(range(0, 1 + doc_id % 3)) AS k
      |      FROM documents)""".stripMargin)
  query("web_wet_roundtrip") { (s, dir) =>
    // the OTHER CommonCrawl interchange file: WET extracted-text
    // archives (conversion records, text/plain, per-record gzip
    // members). Writer -> reader roundtrip over the corpus; the
    // oracle replays the url/date formulas - container bytes never
    // enter the compare.
    import s.implicits._
    val blobs = tblS(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
        val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
        (id, graft.sources.Warc.writeWetGzBytes(Seq(
          graft.sources.Warc.WetDoc(url, date, text))))
      }).toDF("doc_id", "blob")
    graft.sources.Warc.wetIngest(blobs, "doc_id", "blob")
      .select(col("doc_id"), col("url"), col("fetch_time"), col("text"))
  }(
    """SELECT doc_id,
      |  'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
      |    CAST(doc_id % 3 AS VARCHAR) || '.org/p/' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
      |    'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |    ':00:00Z' AS fetch_time,
      |  text
      |FROM documents WHERE text IS NOT NULL""".stripMargin)
  query("web_frontier_schedule") { (s, dir) =>
    // politeness scheduling end-to-end: the per-domain Crawl-delay
    // parsed by robotsCrawlDelay (domains with digit % 3 == 2 publish
    // no robots -> the default 1s pacing) becomes per-URL fetch
    // offsets - slot k within a domain fetches no earlier than
    // k * delay seconds. ONE domain-keyed window; delays broadcast.
    val pages = tbl(s, dir, "documents").withColumn("url", synthUrlCol)
    val domains = pages
      .select(WebOps.registrableDomain(WebOps.urlHost(col("url"))).as("domain"))
      .distinct()
    val n = regexp_extract(col("domain"), "src([0-9])", 1)
    val robots = domains.filter(n.cast(IntegerType) % 3 =!= 2)
      .withColumn("txt", robotsExtTxtCol)
    val delays = WebOps.robotsCrawlDelay(robots, "domain", "txt", "graftbot")
    WebOps.frontierSchedule(pages.select(col("doc_id"), col("url")),
        "doc_id", "url", delays, defaultDelay = 1.0)
      .select(col("doc_id"), col("domain"), col("slot"), col("not_before_s"))
  } {
    // slot = deterministic per-domain rank over (salt, url, doc_id)
    // where salt is the first md5(url) hex nibble - the salt-major
    // dense order the de-skewed two-phase plan produces (local rank
    // within (domain, salt) + broadcast salt offsets == ONE window in
    // salt-major order); delay = the same closed-form governing
    // verdict as web_robots_ext, with digit % 3 == 2 domains falling
    // to the 1s default (no robots)
    s"""WITH $urlShellCte, x AS (
      |  SELECT doc_id, url, domain,
      |    coalesce(
      |      instr('0123456789abcdef', substring(md5(url), 1, 1)) - 1,
      |      0) AS salt,
      |    regexp_extract(domain, 'src([0-9])', 1) AS n
      |  FROM d
      |), r AS (
      |  SELECT doc_id, domain, url,
      |    CAST(row_number() OVER (PARTITION BY domain ORDER BY salt, url, doc_id)
      |         AS BIGINT) - 1 AS slot,
      |    CAST(CASE WHEN CAST(n AS INT) % 3 = 2 THEN 1.0
      |              WHEN CAST(n AS INT) % 2 = 0 THEN 2.0
      |              ELSE greatest(CAST(n || '.5' AS DOUBLE), 1.0) END
      |         AS DOUBLE) AS delay
      |  FROM x
      |)
      |SELECT doc_id, domain, slot,
      |  CAST(slot * delay AS DOUBLE) AS not_before_s
      |FROM r""".stripMargin
  }
  query("web_fetch_priority")((s, dir) => fetchPriorityPlan(s, dir)) {
    // the capstone composed from the SHARED fragments: urlShell (d)
    // for the frontier, the quality-screen and trap predicates
    // replayed inline (same regex/list chains as web_url_quality /
    // web_crawl_traps), domainRankCtes for authority (the
    // web_domain_rank replay verbatim), the web_robots_ext governing
    // delay rule extended with the no-digit default, and the
    // web_frontier_schedule salt-major slot replay
    s"""WITH $urlShellCte, $linkShellCte, $linkFoldCtes, $domainRankCtes, fr AS (
      |  SELECT doc_id, url, domain FROM d
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN 'https://trapsite.org/cal/2024/cal/2024/cal/' ||
      |              CAST(doc_id % 12 AS VARCHAR)
      |         WHEN doc_id % 3 = 1
      |         THEN 'https://newcomer.net/fresh/' || CAST(doc_id % 11 AS VARCHAR)
      |         ELSE 'https://src' || CAST(doc_id % 10 AS VARCHAR) ||
      |              '.com/l?PHPSESSID=' || CAST(doc_id AS VARCHAR) END,
      |    CASE WHEN doc_id % 3 = 0 THEN 'trapsite.org'
      |         WHEN doc_id % 3 = 1 THEN 'newcomer.net'
      |         ELSE 'src' || CAST(doc_id % 10 AS VARCHAR) || '.com' END
      |  FROM documents
      |), scr AS (
      |  SELECT doc_id, url, domain,
      |    CAST(length(url) AS INT) AS url_len,
      |    len(list_filter(string_split(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |      '/'), x -> x <> '')) AS path_depth,
      |    CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN 0
      |         ELSE len(string_split(regexp_extract(url, '\\?([^#]*)', 1), '&'))
      |    END AS n_params,
      |    regexp_matches(lower(url),
      |      '(sessionid|phpsessid|jsessionid|[?&]sid=)') AS has_session_id
      |  FROM fr
      |), clean AS (
      |  SELECT doc_id, url, domain FROM scr
      |  WHERE NOT (url_len > 200 OR path_depth > 8 OR n_params > 6
      |             OR has_session_id)
      |), tsig AS (
      |  SELECT domain,
      |    list_filter(string_split(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |      '/'), x -> x <> '') AS segs
      |  FROM fr
      |), ta AS (
      |  SELECT domain, count(*) AS n_urls, sum(len(segs)) AS sd,
      |    sum(CASE WHEN len(segs) - len(list_distinct(segs)) >= 2
      |             THEN 1 ELSE 0 END) AS sr
      |  FROM tsig GROUP BY 1
      |), traps AS (
      |  SELECT domain FROM ta
      |  WHERE n_urls >= 5 AND (CAST(sd AS DOUBLE) / n_urls > 4.5 OR
      |                         CAST(sr AS DOUBLE) / n_urls > 0.3)
      |), dl AS (
      |  SELECT domain,
      |    CASE WHEN regexp_extract(domain, 'src([0-9])', 1) = '' THEN 1.0
      |         WHEN CAST(regexp_extract(domain, 'src([0-9])', 1) AS INT) % 3 = 2
      |           THEN 1.0
      |         WHEN CAST(regexp_extract(domain, 'src([0-9])', 1) AS INT) % 2 = 0
      |           THEN 2.0
      |         ELSE greatest(CAST(regexp_extract(domain, 'src([0-9])', 1) || '.5'
      |                            AS DOUBLE), 1.0) END AS delay
      |  FROM (SELECT DISTINCT domain FROM clean)
      |), sch AS (
      |  SELECT doc_id, url, domain,
      |    CAST(row_number() OVER (PARTITION BY domain ORDER BY
      |           coalesce(
      |             instr('0123456789abcdef', substring(md5(url), 1, 1)) - 1,
      |             0),
      |           url, doc_id)
      |         AS BIGINT) - 1 AS slot
      |  FROM clean
      |)
      |SELECT s.doc_id, s.url, s.domain,
      |  CAST(coalesce(r.r, 0) AS BIGINT) AS authority,
      |  s.slot, CAST(s.slot * dl.delay AS DOUBLE) AS not_before_s
      |FROM sch s JOIN dl USING (domain)
      |LEFT JOIN r10 r ON r.node = s.domain
      |WHERE s.domain NOT IN (SELECT domain FROM traps)""".stripMargin
  }
  query("web_wet_pipeline") { (s, dir) =>
    // the full CommonCrawl-to-clean-text recipe in ONE declarative
    // plan: WARC archive -> charset-aware page decode ->
    // line-preserving HTML strip (stripHtmlLines: <br>/block-closers
    // newline, script/style/comment cut) -> C4 line-quality filter ->
    // cross-document line dedup. The HTML wrap uses <br> separators
    // and puts no text outside the body, so the WARC + strip hops are
    // IDENTITY on the lined shell by construction (proven by
    // WarcSpec/OpsSpec) and the oracle composes the shared c4 +
    // line-dedup fragments directly over the shell.
    import s.implicits._
    val blobs = tblS(s, dir, "documents").filter(col("text").isNotNull)
      .select(col("doc_id"), synthLinedCol.as("ltext"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, ltext) =>
        val html = "<html><head><script type=\"x\">if (a<b) { fail(); }" +
          "</script><style>p { color: red; }</style></head><body>" +
          ltext.replace("\n", "<br>") +
          "<!-- trailing\ncomment --></body></html>"
        (id, graft.sources.Warc.writeWarcBytes(Seq(graft.sources.Warc.WarcPage(
          s"https://w${id % 7}.example${id % 3}.org/p/$id",
          "2024-02-02T00:00:00Z", 200, "text/html", html))))
      }).toDF("doc_id", "blob")
    val pages = graft.sources.Warc.ingest(blobs, "doc_id", "blob")
    val wet = pages.select(col("doc_id"),
      TextOps.stripHtmlLines(col("html")).as("wtext"))
    val cleaned = TextOps.c4LineFilter(wet, "doc_id", "wtext",
        minWords = 3, minLines = 2)
      .select(col("doc_id"), col("clean"))
    TextOps.dedupLines(cleaned, "doc_id", "clean", minLen = 10)
  } {
    // the composed recipe entirely from shared fragments: the WARC +
    // line-preserving strip hops are identity on the lined shell
    // (spec-proven), so the replay is c4LinedCtes -> surviving docs'
    // cleaned text -> the SAME line-dedup tail as docs_line_dedup
    s"""WITH ${c4LinedCtes("documents")}, cleaned AS (
      |  SELECT doc_id, array_to_string(kept, chr(10)) AS clean
      |  FROM f WHERE len(kept) >= 2
      |), ${lineDedupReplaySql("cleaned", "clean")}""".stripMargin
  }
  query("web_surt") { (s, dir) =>
    // SURT keys (the web-archive index key): host labels reversed so
    // one site's URLs sort adjacently, default ports and www. folded,
    // query params sorted, fragments cut. The dedicated shell stacks
    // the cases the shared URL shell lacks: default :443/:80 ports
    // that must DROP vs an :8080 that must survive, a mixed-case
    // path that must lowercase, and a two-param unsorted query.
    tbl(s, dir, "documents")
      .select(col("doc_id"), surtShellCol.as("url"))
      .select(col("doc_id"), col("url"),
        WebOps.surtKey(col("url")).as("surt"))
  } {
    // the dedicated messy shell replayed inline (same no-drift rule
    // as web_url_canon), the parse replayed with the SAME regexes as
    // urlShellCte's p, and the key by the shared surt fragment
    s"""WITH u AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'HTTP' END)
      |    || '://'
      |    || (CASE WHEN doc_id % 13 = 0 THEN 'User@' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.' ELSE '' END)
      |    || 'Src' || CAST(doc_id % 10 AS VARCHAR)
      |    || (CASE doc_id % 3 WHEN 0 THEN '.COM' WHEN 1 THEN '.co.UK' ELSE '.org' END)
      |    || (CASE WHEN doc_id % 2 = 0 THEN ':443' WHEN doc_id % 13 = 0 THEN ':80'
      |             WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
      |    || (CASE WHEN doc_id % 9 = 0 THEN '' ELSE '/P/' || CAST(doc_id % 7 AS VARCHAR) END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '?b=' || CAST(doc_id % 5 AS VARCHAR) || '&A=1' ELSE '' END)
      |    || (CASE WHEN doc_id % 17 = 0 THEN '#Frag' ELSE '' END) AS url
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                         '^(?:[^@]*@)?([^:]*)', 1)) AS host,
      |    CASE WHEN regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                             ':([0-9]{1,5})$$', 1) = '' THEN 0
      |         ELSE CAST(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                                  ':([0-9]{1,5})$$', 1) AS INT) END AS port,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(url, '\\?([^#]*)', 1) AS qstr
      |  FROM u
      |)
      |SELECT doc_id, url, $surtReplaySql AS surt FROM p""".stripMargin
  }
  query("web_cdx_roundtrip") { (s, dir) =>
    // the FOURTH CommonCrawl interchange artifact: the CDX(J) cluster
    // index ("surt timestamp14 json" lines, gzip shards). Build index
    // lines for the corpus's synthetic captures, write -> read ->
    // parse; the oracle replays every field closed-form (container
    // bytes never enter the compare). Read parallelism = shard file,
    // exactly how CommonCrawl ships its ~300-shard index.
    val path = scratchPath("web_cdx", dir)
    val id = col("doc_id")
    val lines = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", synthUrlCol)
      .select(graft.sources.Cdx.cdxLine(
        WebOps.surtKey(col("url")),
        graft.sources.Cdx.timestamp14(lit(2024), id % 12 + 1, id % 28 + 1,
          id % 24, id % 60, lit(0)),
        col("url"), lit("text/html"),
        when(id % 31 === 0, lit("404")).otherwise(lit("200")),
        md5(col("text")),
        col("n_chars").cast(StringType),
        (id * 512).cast(StringType),
        concat(lit("cdx/shard-"), (id % 16).cast(StringType),
          lit(".warc.gz"))).as("line"))
    graft.sources.Cdx.writeCdx(lines, "line", path)
    graft.sources.Cdx.readCdx(s, path)
  } {
    // every CDX field replayed closed-form over the shared URL shell;
    // the container (gzip text shards) never enters the compare
    s"""WITH $urlShellCte
      |SELECT $surtReplaySql AS surt_key,
      |  '2024' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
      |         || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
      |         || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
      |         || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || '00' AS cdx_ts,
      |  p.url AS url, 'text/html' AS mime,
      |  CASE WHEN doc_id % 31 = 0 THEN '404' ELSE '200' END AS status,
      |  md5(dd.text) AS digest,
      |  CAST(p.n_chars AS VARCHAR) AS length,
      |  CAST(doc_id * 512 AS VARCHAR) AS offset,
      |  'cdx/shard-' || CAST(doc_id % 16 AS VARCHAR) || '.warc.gz' AS filename
      |FROM p JOIN documents dd USING (doc_id) WHERE dd.text IS NOT NULL""".stripMargin
  }
  query("web_warc_revisit") { (s, dir) =>
    // deduplicated recaptures: every 4th doc's archive carries a
    // `revisit` record beside the response (WARC 1.1
    // identical-payload-digest profile - pointer + digest, no body);
    // revisitIngest surfaces them WITHOUT touching page ingest, and
    // resolveRevisits joins (surt, digest) against the capture index
    // to recover the original's coordinates. Every 8th-mod-4 doc's
    // digest is planted stale -> dangling pointer, resolved = false
    // but the row SURVIVES (capture history must not silently drop).
    import s.implicits._
    val blobs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
        val page = graft.sources.Warc.WarcPage(url, "2024-01-01T00:00:00Z",
          200, "text/html", s"<html><body>$text</body></html>")
        val revisits =
          if (id % 4 == 0) {
            val digest =
              if (id % 8 == 4) "sha1:missing"
              else java.security.MessageDigest.getInstance("MD5")
                .digest(text.getBytes("UTF-8"))
                .map("%02x".format(_)).mkString
            Seq(graft.sources.Warc.WarcRevisit(url, "2024-03-01T00:00:00Z",
              s"<urn:graft:$id>", digest))
          } else Nil
        (id, graft.sources.Warc.writeWarcBytesWithRevisits(Seq(page), revisits))
      }).toDF("doc_id", "blob")
    val revisits = graft.sources.Warc.revisitIngest(blobs, "doc_id", "blob")
    val id = col("doc_id")
    val index = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", concat(lit("https://w"), (id % 7).cast(StringType),
        lit(".example"), (id % 3).cast(StringType), lit(".org/p/"),
        id.cast(StringType)))
      .select(WebOps.surtKey(col("url")).as("surt_key"),
        graft.sources.Cdx.timestamp14(lit(2024), id % 12 + 1, id % 28 + 1,
          id % 24, id % 60, lit(0)).as("cdx_ts"),
        md5(col("text")).as("digest"),
        concat(lit("shard-"), (id % 16).cast(StringType), lit(".warc.gz"))
          .as("filename"),
        (id * 512).cast(StringType).as("offset"),
        col("n_chars").cast(StringType).as("length"))
    WebOps.resolveRevisits(revisits, "url", "digest", index)
      .select(col("doc_id"), col("url"), col("refers_to"), col("digest"),
        col("orig_ts"), col("orig_filename"), col("orig_offset"), col("resolved"))
  }(
    // revisit rows (every 4th doc) with the planted-stale digests
    // (every 8th-mod-4) dangling: orig_* NULL, resolved false; the
    // rest resolve to the closed-form index coordinates
    """WITH r AS (
      |  SELECT doc_id, text,
      |    'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
      |      CAST(doc_id % 3 AS VARCHAR) || '.org/p/' ||
      |      CAST(doc_id AS VARCHAR) AS url,
      |    '<urn:graft:' || CAST(doc_id AS VARCHAR) || '>' AS refers_to,
      |    CASE WHEN doc_id % 8 = 4 THEN 'sha1:missing'
      |         ELSE md5(text) END AS digest,
      |    doc_id % 8 <> 4 AS resolved
      |  FROM documents WHERE text IS NOT NULL AND doc_id % 4 = 0
      |)
      |SELECT doc_id, url, refers_to, digest,
      |  CASE WHEN resolved THEN
      |    '2024' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
      |    lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0') ||
      |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || '00'
      |  END AS orig_ts,
      |  CASE WHEN resolved THEN
      |    'shard-' || CAST(doc_id % 16 AS VARCHAR) || '.warc.gz'
      |  END AS orig_filename,
      |  CASE WHEN resolved THEN CAST(doc_id * 512 AS VARCHAR)
      |  END AS orig_offset,
      |  resolved
      |FROM r""".stripMargin)
  query("web_revisit_fetch") { (s, dir) =>
    // the capture-history loop CLOSED: originals land in warc.gz part
    // files whose member coordinates feed a capture index; a later
    // crawl's revisit records (pointer + digest, no body) resolve
    // through that index and the resolved coordinates drive ranged
    // fetches of the ORIGINAL bytes - the exact consumer story
    // revisits exist for ("don't store the body twice; fetch the
    // original when you need it"). Dangling revisits (planted stale
    // digests, id % 8 == 4) resolve=false and never reach the fetch.
    import s.implicits._
    val outDir = scratchPath("revisit_fetch", dir)
    val hPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.mkdirs(hPath)
    def md5hex(t: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
    // originals: indexed warc.gz parts; entries carry the digest the
    // index needs (computed beside the member coordinates)
    val entries = docs.repartition(8, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ds = it.toSeq
        if (ds.isEmpty) Iterator.empty
        else {
          val pages = ds.map { case (id, text) =>
            val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
            val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
            val mime = if (id % 4 == 0) "text/plain" else "text/html"
            val html =
              s"<html><head><title>doc $id</title></head><body>$text</body></html>"
            graft.sources.Warc.WarcPage(url, date, 200, mime, html)
          }
          val (bytes, members) = graft.sources.Warc.writeWarcGzBytesIndexed(pages)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fname = f"orig-$pid%05d.warc.gz"
          val p = new org.apache.hadoop.fs.Path(outDir, fname)
          val pfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val out = pfs.create(p, true)
          try out.write(bytes) finally out.close()
          members.iterator.zip(ds.iterator).map { case (m, (_, text)) =>
            (fname, m.offset.toString, m.length.toString, m.url,
              m.fetchTime, md5hex(text))
          }
        }
      }.toDF("filename", "offset", "length", "url", "fetch_time", "digest")
    val index = entries.select(
      WebOps.surtKey(col("url")).as("surt_key"),
      regexp_replace(col("fetch_time"), "[^0-9]", "").as("cdx_ts"),
      col("digest"), col("filename"), col("offset"), col("length"))
    // the later crawl's revisits, in-memory blobs (the file half is
    // web_warc_revisit's ground)
    val rv = graft.sources.Warc.revisitIngest(
      docs.filter(col("doc_id") % 4 === 0)
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
          val digest = if (id % 8 == 4) "sha1:missing" else md5hex(text)
          (id, graft.sources.Warc.writeWarcBytesWithRevisits(Nil, Seq(
            graft.sources.Warc.WarcRevisit(url, "2024-06-01T00:00:00Z",
              s"<urn:graft:$id>", digest))))
        }).toDF("doc_id", "blob"),
      "doc_id", "blob")
    val coords = WebOps.resolveRevisits(rv, "url", "digest", index)
      .filter(col("resolved"))
      .select(col("orig_filename").as("filename"),
        col("orig_offset").as("offset"), col("orig_length").as("length"))
    graft.sources.Warc.fetchRecords(coords, outDir)
      .select(
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast(LongType).as("doc_id"),
        col("url"), col("fetch_time"), col("status"), col("mime"), col("html"))
  }(
    // the closed loop fetches exactly the resolvable revisits'
    // originals: every 4th doc revisits, every 8th-mod-4 digest is
    // planted stale and never reaches the fetch
    (s"SELECT * FROM ($warcIngestOracleSql) " +
      "WHERE doc_id % 4 = 0 AND doc_id % 8 <> 4"))
  query("web_cdx_fetch") { (s, dir) =>
    // the point-lookup half of the archive-index lifecycle: executors
    // write warc.gz part files (per-record gzip members) and RETURN
    // the member coordinates from the same pass; a real CDX(J) index
    // built from those coordinates (write -> read -> parse) then
    // drives ranged fetches of a SUBSET (doc_id % 3 == 0) - one
    // seek + ranged read + single-member inflate per record, no
    // archive re-scan. Fields byte-match the full-scan ingest (the
    // shared warc page formulas), proving offset/length delimit the
    // records exactly.
    import s.implicits._
    val outDir = scratchPath("cdx_fetch", dir)
    val hPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = hPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(hPath)) fs.delete(hPath, true)
    fs.mkdirs(hPath)
    val entries = tbl(s, dir, "documents")
      .select(col("doc_id"), col("text")).filter(col("text").isNotNull)
      .repartition(8, col("doc_id"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val docs = it.toSeq
        if (docs.isEmpty) Iterator.empty
        else {
          val pages = docs.map { case (id, text) =>
            val url = s"https://w${id % 7}.example${id % 3}.org/p/$id"
            val date = f"2024-01-${1 + id % 28}%02dT${id % 24}%02d:00:00Z"
            val mime = if (id % 4 == 0) "text/plain" else "text/html"
            val html =
              s"<html><head><title>doc $id</title></head><body>$text</body></html>"
            graft.sources.Warc.WarcPage(url, date, 200, mime, html)
          }
          val (bytes, members) = graft.sources.Warc.writeWarcGzBytesIndexed(pages)
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val fname = f"part-$pid%05d.warc.gz"
          val p = new org.apache.hadoop.fs.Path(outDir, fname)
          val pfs = p.getFileSystem(new org.apache.hadoop.conf.Configuration())
          val out = pfs.create(p, true)
          try out.write(bytes) finally out.close()
          members.iterator.map(m =>
            (fname, m.offset.toString, m.length.toString, m.url, m.fetchTime))
        }
      }.toDF("filename", "offset", "length", "url", "fetch_time")
    val cdxPath = scratchPath("cdx_fetch_idx", dir)
    val lines = entries.select(graft.sources.Cdx.cdxLine(
      WebOps.surtKey(col("url")),
      regexp_replace(col("fetch_time"), "[^0-9]", ""),
      col("url"), lit("text/html"), lit("200"), md5(col("url")),
      col("length"), col("offset"), col("filename")).as("line"))
    graft.sources.Cdx.writeCdx(lines, "line", cdxPath)
    val index = graft.sources.Cdx.readCdx(s, cdxPath)
      .filter(regexp_extract(col("url"), "/p/([0-9]+)$", 1)
        .cast(LongType) % 3 === 0)
    graft.sources.Warc.fetchRecords(index, outDir)
      .select(
        regexp_extract(col("url"), "/p/([0-9]+)$", 1).cast(LongType).as("doc_id"),
        col("url"), col("fetch_time"), col("status"), col("mime"), col("html"))
  }(
    // the ranged fetch must byte-match the full-scan ingest on the
    // indexed subset - the shared warc page replay, cut to the
    // fetched doc_ids
    s"SELECT * FROM ($warcIngestOracleSql) WHERE doc_id % 3 = 0")
  query("web_cdx_fetchlist") { (s, dir) =>
    // incremental-crawl cut: candidate URLs anti-join the archive
    // index on (surt, digest) - unchanged content never refetches.
    // A quarter of the index carries a stale digest (content changed
    // since capture), so those URLs survive into the fetch list.
    // ONE equi-anti-join on the two key columns; the index side
    // projects nothing else.
    val id = col("doc_id")
    val base = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", synthUrlCol)
      .select(id, col("url"), WebOps.surtKey(col("url")).as("surt"),
        col("text"))
    val cand = base.select(id, col("url"), col("surt"),
      md5(col("text")).as("digest"))
    val index = base.select(col("surt"),
      when(id % 4 === 0, md5(concat(col("text"), lit("x"))))
        .otherwise(md5(col("text"))).as("digest"))
    WebOps.fetchList(cand, "surt", "digest", index, "surt", "digest")
      .select(col("doc_id"), col("url"), col("surt"), col("digest"))
  } {
    // anti-join replay: NOT EXISTS on the (surt, digest) pair
    s"""WITH $urlShellCte, b AS (
      |  SELECT doc_id, p.url, $surtReplaySql AS surt, dd.text
      |  FROM p JOIN documents dd USING (doc_id) WHERE dd.text IS NOT NULL
      |), c AS (
      |  SELECT doc_id, url, surt, md5(text) AS digest FROM b
      |), i AS (
      |  SELECT surt, CASE WHEN doc_id % 4 = 0 THEN md5(text || 'x')
      |               ELSE md5(text) END AS digest FROM b
      |)
      |SELECT c.doc_id, c.url, c.surt, c.digest FROM c
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM i WHERE i.surt = c.surt AND i.digest = c.digest)""".stripMargin
  }
  query("web_recrawl") { (s, dir) =>
    // adaptive revisit scheduling from two index snapshots: per SURT,
    // the interval halves when the content digest changed between
    // snapshots and doubles when stable (clamped) - the freshness
    // policy every production crawler runs. Duplicate captures of a
    // surt fold by min digest inside recrawlSchedule.
    val id = col("doc_id")
    val base = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", synthUrlCol)
      .select(id, WebOps.surtKey(col("url")).as("surt"), col("text"))
    val prev = base.select(col("surt"), md5(col("text")).as("digest"))
    val cur = base.select(col("surt"),
      when(id % 3 === 0, md5(concat(col("text"), lit("y"))))
        .otherwise(md5(col("text"))).as("digest"))
    WebOps.recrawlSchedule(prev, "surt", "digest", cur, "surt", "digest")
  } {
    // min-digest fold per surt in each snapshot, then the halve/double
    // policy (base 7 days: changed -> 3, stable -> 14, both in-clamp)
    s"""WITH $urlShellCte, b AS (
      |  SELECT doc_id, $surtReplaySql AS surt, dd.text
      |  FROM p JOIN documents dd USING (doc_id) WHERE dd.text IS NOT NULL
      |), a1 AS (
      |  SELECT surt, min(md5(text)) AS d1 FROM b GROUP BY 1
      |), a2 AS (
      |  SELECT surt, min(CASE WHEN doc_id % 3 = 0 THEN md5(text || 'y')
      |                   ELSE md5(text) END) AS d2 FROM b GROUP BY 1
      |)
      |SELECT surt, d1 <> d2 AS changed,
      |       CAST(CASE WHEN d1 <> d2 THEN 3 ELSE 14 END AS INT) AS interval_days
      |FROM a1 JOIN a2 USING (surt)""".stripMargin
  }
  query("web_cdx_latest") { (s, dir) =>
    // the "current state of the web" view: two captures per page
    // (2024 + 2025, the later digest changed on a third of pages)
    // fold to the per-SURT latest by ONE max-struct aggregate -
    // timestamp14 sorts lexically==chronologically, and the struct
    // compare breaks same-second ties deterministically (never
    // max_by's arbitrary pick). Map-side partials carry one struct
    // per (partition, surt).
    val id = col("doc_id")
    val base = tbl(s, dir, "documents").filter(col("text").isNotNull)
      .withColumn("url", synthUrlCol)
    def cap(ts: org.apache.spark.sql.Column, dg: org.apache.spark.sql.Column) =
      base.select(
        WebOps.surtKey(col("url")).as("surt_key"), ts.as("cdx_ts"),
        col("url"), lit("text/html").as("mime"), lit("200").as("status"),
        dg.as("digest"), col("n_chars").cast(StringType).as("length"),
        (id * 512).cast(StringType).as("offset"),
        concat(lit("s-"), (id % 16).cast(StringType)).as("filename"))
    val c1 = cap(lit("20240101000000"), md5(col("text")))
    val c2 = cap(lit("20250101000000"),
      when(id % 3 === 0, md5(concat(col("text"), lit("z"))))
        .otherwise(md5(col("text"))))
    graft.sources.Cdx.latestCaptures(c1.unionByName(c2))
  } {
    // max(struct_pack(...)) replays Spark's max(struct(...)) - both
    // compare field-order lexicographically (the docs_line_dedup
    // precedent), cdx_ts leading
    s"""WITH $urlShellCte, b AS (
      |  SELECT doc_id, p.url, $surtReplaySql AS surt, dd.text, p.n_chars
      |  FROM p JOIN documents dd USING (doc_id) WHERE dd.text IS NOT NULL
      |), caps AS (
      |  SELECT surt AS surt_key, '20240101000000' AS cdx_ts, url,
      |         'text/html' AS mime, '200' AS status, md5(text) AS digest,
      |         CAST(n_chars AS VARCHAR) AS length,
      |         CAST(doc_id * 512 AS VARCHAR) AS "offset",
      |         's-' || CAST(doc_id % 16 AS VARCHAR) AS filename
      |  FROM b
      |  UNION ALL
      |  SELECT surt, '20250101000000', url, 'text/html', '200',
      |         CASE WHEN doc_id % 3 = 0 THEN md5(text || 'z') ELSE md5(text) END,
      |         CAST(n_chars AS VARCHAR), CAST(doc_id * 512 AS VARCHAR),
      |         's-' || CAST(doc_id % 16 AS VARCHAR)
      |  FROM b
      |), agg AS (
      |  SELECT surt_key, max(struct_pack(cdx_ts := cdx_ts, url := url,
      |    mime := mime, status := status, digest := digest,
      |    length := length, "offset" := "offset", filename := filename)) AS m
      |  FROM caps GROUP BY 1
      |)
      |SELECT surt_key,
      |  struct_extract(m, 'cdx_ts') AS cdx_ts,
      |  struct_extract(m, 'url') AS url,
      |  struct_extract(m, 'mime') AS mime,
      |  struct_extract(m, 'status') AS status,
      |  struct_extract(m, 'digest') AS digest,
      |  struct_extract(m, 'length') AS length,
      |  struct_extract(m, 'offset') AS "offset",
      |  struct_extract(m, 'filename') AS filename
      |FROM agg""".stripMargin
  }
  query("web_robots_meta") { (s, dir) =>
    // the in-page half of the exclusion protocol: meta robots parsed
    // in BOTH attribute orders (and single quotes, and case-folded
    // content), noindex/nofollow as token matches so `noindexing`
    // never false-positives, `none` meaning both
    val id = col("doc_id")
    val html = concat(lit("<html><head>"),
      when(id % 5 === 0,
        lit("<meta name=\"robots\" content=\"noindex, noarchive, nofollow\">"))
        .when(id % 5 === 1, lit("<meta content=\"NOFOLLOW\" name=\"robots\">"))
        .when(id % 5 === 2, lit("<meta name='robots' content='none'>"))
        .when(id % 5 === 3,
          lit("<meta name=\"robots\" content=\"index, follow, nosnippet\">"))
        .otherwise(lit("")),
      lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
    WebOps.robotsMetaDirectives(
        tbl(s, dir, "documents").select(col("doc_id"), html.as("html")),
        "html")
      .select(col("doc_id"), col("robots_content"),
        col("noindex"), col("nofollow"), col("noarchive"), col("nosnippet"))
  } {
    // shell + parse replayed with the SAME regexes; token matches so
    // noindexING never false-positives; none = both
    s"""WITH h AS (
      |  SELECT doc_id,
      |    '<html><head>' ||
      |    (CASE WHEN doc_id % 5 = 0 THEN '<meta name="robots" content="noindex, noarchive, nofollow">'
      |          WHEN doc_id % 5 = 1 THEN '<meta content="NOFOLLOW" name="robots">'
      |          WHEN doc_id % 5 = 2 THEN '<meta name=''robots'' content=''none''>'
      |          WHEN doc_id % 5 = 3 THEN '<meta name="robots" content="index, follow, nosnippet">'
      |          ELSE '' END) ||
      |    '</head><body><p>' || text || '</p></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL
      |), c AS (
      |  SELECT doc_id,
      |    lower(CASE WHEN regexp_extract(html,
      |        '(?is)<meta[^>]*name\\s*=\\s*["'']robots["''][^>]*content\\s*=\\s*["'']([^"'']*)["'']', 1) <> ''
      |      THEN regexp_extract(html,
      |        '(?is)<meta[^>]*name\\s*=\\s*["'']robots["''][^>]*content\\s*=\\s*["'']([^"'']*)["'']', 1)
      |      ELSE regexp_extract(html,
      |        '(?is)<meta[^>]*content\\s*=\\s*["'']([^"'']*)["''][^>]*name\\s*=\\s*["'']robots["'']', 1)
      |      END) AS robots_content
      |  FROM h
      |)
      |SELECT doc_id, robots_content,
      |  (regexp_matches(robots_content, '(^|[\\s,])noindex($$|[\\s,])') OR
      |   regexp_matches(robots_content, '(^|[\\s,])none($$|[\\s,])')) AS noindex,
      |  (regexp_matches(robots_content, '(^|[\\s,])nofollow($$|[\\s,])') OR
      |   regexp_matches(robots_content, '(^|[\\s,])none($$|[\\s,])')) AS nofollow,
      |  regexp_matches(robots_content, '(^|[\\s,])noarchive($$|[\\s,])') AS noarchive,
      |  regexp_matches(robots_content, '(^|[\\s,])nosnippet($$|[\\s,])') AS nosnippet
      |FROM c""".stripMargin
  }
  query("web_hreflang") { (s, dir) =>
    // the declared multilingual site map: rel=alternate hreflang
    // links in both attribute orders, an x-default, a stylesheet
    // link with an hreflang-LOOKING attribute that must drop (no
    // rel=alternate), and a docs slice with no alternates at all
    val id = col("doc_id")
    val html = concat(lit("<html><head>"),
      when(id % 3 === 0, concat(
        lit("<link rel=\"alternate\" hreflang=\"EN\" href=\"https://en.s"),
        (id % 7).cast(StringType), lit(".example/p/"), (id % 5).cast(StringType),
        lit("\"><link hreflang='de' rel='alternate' href='/de/p/"),
        (id % 5).cast(StringType),
        lit("'><link rel=\"alternate\" hreflang=\"x-default\" href=\"https://s"),
        (id % 7).cast(StringType), lit(".example/p\">")))
        .when(id % 3 === 1,
          lit("<link rel=\"stylesheet\" hreflang=\"fr\" href=\"/css/m.css\">"))
        .otherwise(lit("")),
      lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
    WebOps.hreflangAlternates(
        tbl(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), html.as("html")),
        "html")
      .select(col("doc_id"), col("hreflang"), col("alt_href"))
  } {
    // shell + the two-stage extract replayed: whole hreflang-bearing
    // link elements, rel=alternate gate, per-element attribute pulls.
    // NOTE the s-interpolator: it processes \\ escapes, matching the
    // sibling oracles' regex spelling
    s"""WITH h AS (
      |  SELECT doc_id,
      |    '<html><head>' ||
      |    (CASE WHEN doc_id % 3 = 0 THEN
      |       '<link rel="alternate" hreflang="EN" href="https://en.s' ||
      |       CAST(doc_id % 7 AS VARCHAR) || '.example/p/' ||
      |       CAST(doc_id % 5 AS VARCHAR) ||
      |       '"><link hreflang=''de'' rel=''alternate'' href=''/de/p/' ||
      |       CAST(doc_id % 5 AS VARCHAR) ||
      |       ''''  || '><link rel="alternate" hreflang="x-default" href="https://s' ||
      |       CAST(doc_id % 7 AS VARCHAR) || '.example/p">'
      |     WHEN doc_id % 3 = 1 THEN
      |       '<link rel="stylesheet" hreflang="fr" href="/css/m.css">'
      |     ELSE '' END) ||
      |    '</head><body><p>' || text || '</p></body></html>' AS html
      |  FROM documents WHERE text IS NOT NULL
      |), le AS MATERIALIZED (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(html, '(?is)<link[^>]*hreflang[^>]*>', 0)) AS l
      |  FROM h
      |)
      |SELECT doc_id,
      |  lower(regexp_extract(l, '(?is)hreflang\\s*=\\s*["'']([^"'']*)["'']', 1)) AS hreflang,
      |  regexp_extract(l, '(?is)href\\s*=\\s*["'']([^"'']*)["'']', 1) AS alt_href
      |FROM le
      |WHERE regexp_matches(l, '(?is)rel\\s*=\\s*["'']alternate["'']')
      |  AND regexp_extract(l, '(?is)hreflang\\s*=\\s*["'']([^"'']*)["'']', 1) <> ''
      |  AND regexp_extract(l, '(?is)href\\s*=\\s*["'']([^"'']*)["'']', 1) <> ''""".stripMargin
  }
  query("web_url_quality") { (s, dir) =>
    // zero-fetch per-URL spam screen: a dedicated messy shell plants
    // deep auto-generated paths (every 4th doc: 10 segments > the
    // depth-8 default), session ids (every 3rd), percent escapes and
    // digit-heavy tails; signals and the suspect fold replay exactly
    val id = col("doc_id")
    val url = concat(
      lit("https://s"), (id % 10).cast(StringType), lit(".example.com"),
      when(id % 4 === 0,
        concat(lit("/d1/d2/d3/d4/d5/d6/d7/d8/d9/"), id.cast(StringType)))
        .otherwise(concat(lit("/a/b%2Fc/"), (id % 5).cast(StringType))),
      when(id % 3 === 0,
        concat(lit("?x=1&y=2&PHPSESSID="), id.cast(StringType)))
        .when(id % 3 === 1, concat(lit("?a="), (id % 7).cast(StringType)))
        .otherwise(lit("")))
    WebOps.urlQualitySignals(
        tbl(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), url.as("url")),
        "url")
      .select(col("doc_id"), col("url"), col("url_len"), col("path_depth"),
        col("n_params"), col("digit_ratio"), col("n_pct_escapes"),
        col("has_session_id"), col("url_suspect"))
  } {
    // shell + every signal replayed with the same regex/list chain;
    // digit_ratio divides exact integer counts
    s"""WITH u AS (
      |  SELECT doc_id,
      |    'https://s' || CAST(doc_id % 10 AS VARCHAR) || '.example.com' ||
      |    (CASE WHEN doc_id % 4 = 0
      |          THEN '/d1/d2/d3/d4/d5/d6/d7/d8/d9/' || CAST(doc_id AS VARCHAR)
      |          ELSE '/a/b%2Fc/' || CAST(doc_id % 5 AS VARCHAR) END) ||
      |    (CASE WHEN doc_id % 3 = 0
      |          THEN '?x=1&y=2&PHPSESSID=' || CAST(doc_id AS VARCHAR)
      |          WHEN doc_id % 3 = 1 THEN '?a=' || CAST(doc_id % 7 AS VARCHAR)
      |          ELSE '' END) AS url
      |  FROM documents WHERE text IS NOT NULL
      |), c AS (
      |  SELECT doc_id, url,
      |    CAST(length(url) AS INT) AS url_len,
      |    CAST(len(list_filter(string_split(
      |      regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
      |      '/'), x -> x <> '')) AS INT) AS path_depth,
      |    CASE WHEN regexp_extract(url, '\\?([^#]*)', 1) = '' THEN 0
      |         ELSE CAST(len(string_split(
      |           regexp_extract(url, '\\?([^#]*)', 1), '&')) AS INT)
      |    END AS n_params,
      |    length(url) - length(regexp_replace(url, '[0-9]', '', 'g')) AS nd,
      |    CAST(len(regexp_extract_all(url, '%[0-9A-Fa-f]{2}', 0)) AS INT)
      |      AS n_pct_escapes,
      |    regexp_matches(lower(url),
      |      '(sessionid|phpsessid|jsessionid|[?&]sid=)') AS has_session_id
      |  FROM u
      |)
      |SELECT doc_id, url, url_len, path_depth, n_params,
      |  CAST(nd AS DOUBLE) / greatest(length(url), 1) AS digit_ratio,
      |  n_pct_escapes, has_session_id,
      |  (url_len > 200 OR path_depth > 8 OR n_params > 6 OR has_session_id)
      |    AS url_suspect
      |FROM c""".stripMargin
  }
  query("web_link_signals") { (s, dir) =>
    // per-page outlink profile over the shared url + link shells:
    // total hrefs, absolute http(s), external (registrable domain
    // differs from the page's - the PSL fold per link element), and
    // the exact-count external share
    WebOps.pageLinkSignals(
        tbl(s, dir, "documents")
          .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
          .select(col("doc_id"), col("url"), col("html")),
        "url", "html")
      .select(col("doc_id"), col("n_hrefs"), col("n_abs"), col("n_ext"),
        col("ext_share"))
  } {
    // shared url + link shells; per-link PSL fold via domainFoldSql,
    // exact-count external share
    s"""WITH $urlShellCte, $linkShellCte, nl AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(html,
      |      'href\\s*=\\s*["'']([^"'']+)["'']', 1)) AS INT) AS n_hrefs
      |  FROM h
      |), cl AS MATERIALIZED (
      |  SELECT d.doc_id, d.domain AS page_domain,
      |         unnest(regexp_extract_all(h.html,
      |                'href\\s*=\\s*["'']([^"'']+)["'']', 1)) AS link
      |  FROM d JOIN h USING (doc_id)
      |), ab AS (
      |  SELECT doc_id, page_domain, ${hostOfSql("link")} AS lh
      |  FROM cl
      |  WHERE lower(regexp_extract(link, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |        IN ('http', 'https')
      |), dd2 AS (
      |  SELECT doc_id, page_domain, ${domainFoldSql("lh")} AS ld
      |  FROM ab
      |), ag AS (
      |  SELECT doc_id, CAST(count(*) AS INT) AS n_abs,
      |         CAST(sum(CASE WHEN ld <> page_domain THEN 1 ELSE 0 END) AS INT)
      |           AS n_ext
      |  FROM dd2 GROUP BY doc_id
      |)
      |SELECT nl.doc_id, nl.n_hrefs,
      |  coalesce(ag.n_abs, 0) AS n_abs, coalesce(ag.n_ext, 0) AS n_ext,
      |  CASE WHEN coalesce(ag.n_abs, 0) > 0
      |       THEN CAST(ag.n_ext AS DOUBLE) / ag.n_abs END AS ext_share
      |FROM nl LEFT JOIN ag USING (doc_id)""".stripMargin
  }
  query("web_crawl_traps") { (s, dir) =>
    // domain-level trap detection: even-numbered hosts mix repeating
    // calendar-recursion paths (repeat_share trips), odd hosts mix
    // deep-but-distinct paths (avg_depth trips) - both flag routes
    // exercised, plus unflagged shallow traffic on every host
    val id = col("doc_id")
    val url = concat(lit("https://t"), (id % 6).cast(StringType),
      lit(".org"),
      when(id % 4 === 0,
        concat(lit("/cal/2024/cal/2024/cal/"), (id % 12).cast(StringType)))
        .when(id % 4 === 1,
          concat(lit("/a/b/c/d/e/f/g/"), (id % 9).cast(StringType)))
        .otherwise(concat(lit("/p/"), (id % 7).cast(StringType))))
    WebOps.crawlTraps(
      tbl(s, dir, "documents").select(url.as("url")), "url",
      minUrls = 5, maxAvgDepth = 4.5, maxRepeatShare = 0.3)
  } {
    // per-URL signals as list ops, the PSL fold via the shared
    // domainFoldSql, exact integer-sum divisions for avg/share
    s"""WITH u AS (
      |  SELECT doc_id,
      |    'https://t' || CAST(doc_id % 6 AS VARCHAR) || '.org' ||
      |    (CASE WHEN doc_id % 4 = 0 THEN '/cal/2024/cal/2024/cal/' || CAST(doc_id % 12 AS VARCHAR)
      |          WHEN doc_id % 4 = 1 THEN '/a/b/c/d/e/f/g/' || CAST(doc_id % 9 AS VARCHAR)
      |          ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END) AS url
      |  FROM documents
      |), q AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                         '^(?:[^@]*@)?([^:]*)', 1)) AS host,
      |    list_filter(string_split(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), '/'),
      |                s -> s <> '') AS segs
      |  FROM u
      |), s AS (
      |  SELECT ${domainFoldSql("host")} AS domain, len(segs) AS depth,
      |    CASE WHEN len(segs) - len(list_distinct(segs)) >= 2 THEN 1 ELSE 0 END AS rep
      |  FROM q
      |), a AS (
      |  SELECT domain, count(*) AS n_urls, sum(depth) AS sd, sum(rep) AS sr
      |  FROM s GROUP BY 1
      |)
      |SELECT domain, n_urls,
      |  CAST(sd AS DOUBLE) / n_urls AS avg_depth,
      |  CAST(sr AS DOUBLE) / n_urls AS repeat_share,
      |  (n_urls >= 5 AND (CAST(sd AS DOUBLE) / n_urls > 4.5 OR
      |                    CAST(sr AS DOUBLE) / n_urls > 0.3)) AS flagged
      |FROM a""".stripMargin
  }
  query("web_url_canon") { (s, dir) =>
    // URL canonicalization: the cheapest dedup in the pipeline (one
    // fetch key for every case/port/dot/escape/param-order variant).
    // The messy shell stacks every normalization at once: mixed-case
    // scheme+host, a default port, ./ and ../ segments, a %7E that
    // must decode and a %3f that must uppercase, unsorted query
    // params, and a fragment.
    val messy = concat(
      when(col("doc_id") % 2 === 0, lit("HTTP")).otherwise(lit("https")),
      lit("://"),
      when(col("doc_id") % 13 === 0, lit("User@")).otherwise(lit("")),
      lit("WWW.Src"), (col("doc_id") % 10).cast(StringType),
      when(col("doc_id") % 3 === 0, lit(".COM"))
        .when(col("doc_id") % 3 === 1, lit(".co.UK")).otherwise(lit(".org")),
      when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/a/./b"), (col("doc_id") % 5).cast(StringType),
      lit("/../c%7Ex%3f"),
      lit("?b="), (col("doc_id") % 7).cast(StringType), lit("&a=1#frag"))
    tbl(s, dir, "documents")
      .select(col("doc_id"), messy.as("url"))
      .select(col("doc_id"), col("url"),
        WebOps.canonicalizeUrl(col("url")).as("canonical"))
  }(urlCanonOracleSql)
  query("web_links_resolved") { (s, dir) =>
    // crawl-frontier builder: EVERY href (relative, dotted,
    // protocol-relative, query-only, fragment) resolved against the
    // page's EFFECTIVE base per RFC 3986 section 5, then the
    // absolute-http(s) cut - all codegen projections fused into the
    // scan. <base href> honored: every 6th doc declares an absolute
    // base (different host + directory), every 6th-mod-3 a
    // root-relative one resolved against the page URL first
    val baseTag = when(col("doc_id") % 6 === 0,
        concat(lit("<base href=\"https://base"),
          (col("doc_id") % 5).cast(StringType),
          lit(".example.net/dir/sub/page.html\">")))
      .when(col("doc_id") % 6 === 3, lit("<base href=\"/newroot/\">"))
      .otherwise(lit(""))
    WebOps.resolveLinks(
      tblS(s, dir, "documents")
        .withColumn("url", synthUrlCol)
        .withColumn("html", concat(baseTag, synthLinkHtmlCol)),
      "url", "html")
      .select(col("doc_id"), col("link"), col("resolved"))
  }(linksResolvedOracleSql)
  query("web_pipeline_multilingual") { (s, dir) =>
    // the FineWeb-2 shape END-TO-END: web curation (domain blocklist
    // -> C4 line cleaning, the exact web_pipeline prefix) feeding
    // langId-stratified temperature mixing - the TRAINED classifier
    // over the CLEANED text decides the strata, token volumes per
    // language flatten under T=2 so low-resource strata survive the
    // head cut. The transliteration slice manufactures several real
    // language strata out of one corpus (the docs_lang_mix device);
    // the operator chain is the production shape. Scale: blocklist +
    // C4 + translit + langId + token count all fuse into ONE scan;
    // temperatureMix's stratum frame broadcasts; the corpus never
    // shuffles.
    val pages = tbl(s, dir, "documents").withColumn("url", synthUrlCol)
    val survivors = WebOps.blockDomains(pages, "url",
      Seq("src2.com", "src5.co.uk", "src8.org", "www.src3.com"))
    val cleaned = TextOps.c4LineFilter(
      survivors.withColumn("ltext", synthLinedCol),
      "doc_id", "ltext", minWords = 3, minLines = 2)
    // one materialization point (the docs_lang_mix discipline): the
    // blocklist + C4 + translit chain must run once, not once per
    // temperatureMix branch
    val shell = cleaned.select(col("doc_id"),
      translitShell(mixed = true, textCol = "clean").as("stext"))
      .localCheckpoint()
    val docs2 = shell.select(col("doc_id"),
      TextOps.langId(col("stext")).as("lang"),
      size(DedupOps.tokens(col("stext"))).cast(LongType).as("n_tok"))
    SampleOps.temperatureMix(docs2, "doc_id", "lang", "n_tok",
      totalBudget = 20000.0, temperature = 2.0)
  }(
    // the web_pipeline curation prefix (shared url-shell blocklist +
    // C4 CTEs), the docs_lang_mix translit + langId replay over the
    // CLEANED text, and the shared T=2 keep-fraction tail
    s"""WITH $urlShellCte, blocked AS (
      |  SELECT d.doc_id, d.source, x.text
      |  FROM d JOIN documents x USING (doc_id)
      |  WHERE NOT (domain IN (${webPipelineBlocklistSql})
      |             OR host IN (${webPipelineBlocklistSql}))
      |), ${c4LinedCtes("blocked")}, cleaned AS (
      |  SELECT doc_id, array_to_string(kept, chr(10)) AS clean
      |  FROM f WHERE len(kept) >= 2
      |), m AS (
      |${translitShellSql(mixed = true, textCol = "clean", from = "cleaned")}
      |), ${langIdCtes("m", "t")}, base AS (
      |  SELECT m.doc_id, lp.lang_pred AS lang,
      |    CAST(len(list_filter(string_split_regex(lower(trim(m.t)), '\\s+'),
      |      x -> x <> '')) AS BIGINT) AS n_tok
      |  FROM m JOIN lpred lp USING (doc_id)
      |), $langTempMixTailSql""".stripMargin)

  /** Deterministic URL shell for the three `web_*` queries: every doc
    * gets a synthetic crawl URL exercising the whole parse surface
    * (schemes, userinfo, subdomains incl. an md5-varied one, multi-label
    * public suffixes, explicit ports, empty paths, query strings,
    * fragments). ONE builder + ONE oracle CTE ([[urlShellCte]]) shared
    * by all three so the replays cannot drift - same rule as
    * [[ppForwardCtes]].
    */
  private def synthUrlCol: org.apache.spark.sql.Column = concat(
    when(col("doc_id") % 4 === 0, lit("https"))
      .when(col("doc_id") % 4 === 1, lit("http"))
      .when(col("doc_id") % 4 === 2, lit("HTTPS")).otherwise(lit("ftp")),
    lit("://"),
    when(col("doc_id") % 13 === 0, lit("user@")).otherwise(lit("")),
    when(col("doc_id") % 5 === 0, lit("www."))
      .when(col("doc_id") % 5 === 1,
        concat(lit("m"), substring(md5(col("text")), 1, 2), lit(".")))
      .otherwise(lit("")),
    col("source"),
    when(col("doc_id") % 3 === 0, lit(".com"))
      .when(col("doc_id") % 3 === 1, lit(".co.uk")).otherwise(lit(".org")),
    when(col("doc_id") % 11 === 0, lit(":8080")).otherwise(lit("")),
    when(col("doc_id") % 9 === 0, lit(""))
      .otherwise(concat(lit("/p/"), (col("doc_id") % 7).cast(StringType))),
    when(col("doc_id") % 7 === 0,
      concat(lit("?q="), substring(md5(col("text")), 7, 4))).otherwise(lit("")),
    when(col("doc_id") % 17 === 0, lit("#sec")).otherwise(lit("")))

  /** Dedicated messy shell for `web_surt`: stacks the SURT cases the
    * shared [[synthUrlCol]] shell lacks - default ports (:443 under
    * https, :80 under http) that must DROP from the key vs an :8080
    * that must survive, a `WWW.` label that must strip, a mixed-case
    * path that must lowercase, and a two-param query in the WRONG
    * order that must sort. Replayed inline in the one oracle (same
    * no-drift rule as web_url_canon's messy shell).
    */
  private def surtShellCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      when(id % 2 === 0, lit("https")).otherwise(lit("HTTP")),
      lit("://"),
      when(id % 13 === 0, lit("User@")).otherwise(lit("")),
      when(id % 5 === 0, lit("WWW.")).otherwise(lit("")),
      lit("Src"), (id % 10).cast(StringType),
      when(id % 3 === 0, lit(".COM"))
        .when(id % 3 === 1, lit(".co.UK")).otherwise(lit(".org")),
      when(id % 2 === 0, lit(":443")).when(id % 13 === 0, lit(":80"))
        .when(id % 11 === 0, lit(":8080")).otherwise(lit("")),
      when(id % 9 === 0, lit(""))
        .otherwise(concat(lit("/P/"), (id % 7).cast(StringType))),
      when(id % 7 === 0,
        concat(lit("?b="), (id % 5).cast(StringType), lit("&A=1")))
        .otherwise(lit("")),
      when(id % 17 === 0, lit("#Frag")).otherwise(lit("")))
  }

  /** Deterministic HTML shell with anchor elements for the link-graph
    * queries (`web_link_graph` / `web_domain_rank` / `web_anchor_text`):
    * two absolute hrefs with worded anchor texts (double- AND
    * single-quoted attribute forms, one behind extra attributes), plus
    * a relative and a mailto link that extraction must cut. ONE builder
    * + ONE oracle CTE ([[linkShellCte]]) shared by all three - same
    * no-drift rule as [[synthUrlCol]]/[[urlShellCte]].
    */
  private def synthLinkHtmlCol: org.apache.spark.sql.Column = concat(
    lit("<html><body><p>"), col("text"), lit("</p><a href=\"http://src"),
    ((col("doc_id") * 7 + 1) % 10).cast(StringType), lit(".com/p/"),
    (col("doc_id") % 5).cast(StringType), lit("\">read doc "),
    (col("doc_id") % 3).cast(StringType), lit(" now</a>"),
    when(col("doc_id") % 2 === 0,
      concat(lit("<a class='r' href='https://www.src"),
        ((col("doc_id") * 3 + 2) % 10).cast(StringType),
        lit(".org/q'>more about topic "),
        (col("doc_id") % 4).cast(StringType), lit("</a>")))
      .otherwise(lit("")),
    // nested-markup anchor (bold child + embedded newline): exercises
    // the lazy dot-all body + inner-tag strip of WebOps.anchorTexts
    lit("<a href=\"https://b"), (col("doc_id") % 10).cast(StringType),
    lit(".net/z\"><b>bold deal</b>\nnumber "),
    (col("doc_id") % 2).cast(StringType), lit("</a>"),
    // relative / dotted / protocol-relative / query-only / fragment
    // links: invisible to extractLinks (absolute-http cut) and to the
    // anchor profile, but the whole point of web_links_resolved
    lit("<a href=\"../up/one\">up</a><a href=\"./here?x=1\">dot</a>"),
    lit("<a href=\"//cdn.src"), (col("doc_id") % 10).cast(StringType),
    lit(".net/lib\">cdn</a><a href=\"?page=2\">next</a><a href=\"#frag\">top</a>"),
    lit("<a href=\"/rel/p\">rel</a><a href=\"mailto:a@b.c\">write us</a>" +
      "</body></html>"))

  /** Deterministic HEAD-metadata shell for `web_page_meta`: optional
    * html lang attribute (case fold exercised), a title with nested
    * markup + an embedded newline, the description meta in BOTH
    * attribute orders (and absent on a slice), an optional canonical
    * link. ONE builder + the inline CTE in the oracle - same no-drift
    * rule as the other shells.
    */
  private def synthMetaHtmlCol: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    concat(
      lit("<html"),
      when(id % 4 === 1, lit(" lang=\"en\""))
        .when(id % 4 === 2, lit(" lang=\"DE\""))
        .when(id % 4 === 3, lit(" lang=\"fr-FR\""))
        .otherwise(lit("")),
      lit("><head><title>doc "), (id % 7).cast(StringType),
      lit("\n<b>best</b> page</title>"),
      when(id % 5 === 0, lit(""))
        .when(id % 2 === 0, concat(
          lit("<meta name=\"description\" content=\"about topic "),
          (id % 11).cast(StringType), lit("\">")))
        .otherwise(concat(
          lit("<meta content=\"rev topic "),
          (id % 11).cast(StringType), lit("\" name=\"description\">"))),
      when(id % 2 === 0, concat(
        lit("<link rel=\"canonical\" href=\"https://c"),
        (id % 9).cast(StringType), lit(".example.org/p\">")))
        .otherwise(lit("")),
      lit("</head><body><p>"), col("text"), lit("</p></body></html>"))
  }

  /** The robots-extras fixture body over a `domain` column - ONE Scala
    * builder shared by `web_robots_ext` and `web_frontier_schedule` (the
    * no-drift rule): a badbot group whose delay must never apply, the
    * sitemap block (duplicate + relative), a `*` group with one
    * fractional + one integer + one invalid delay, and for even-digit
    * domains a graftbot group that must win.
    */
  private def robotsExtTxtCol: org.apache.spark.sql.Column = {
    val n = regexp_extract(col("domain"), "src([0-9])", 1)
    concat(
      lit("User-agent: badbot\nCrawl-delay: 99\nDisallow: /\n\n"),
      lit("Sitemap: https://maps."), col("domain"), lit("/sm-"), n, lit(".xml\n"),
      lit("Sitemap: https://maps."), col("domain"), lit("/sm-"), n, lit(".xml\n"),
      lit("Sitemap: /relative.xml\n\n"),
      lit("User-agent: *\nCrawl-delay: "), n,
      lit(".5\nCrawl-delay: 1\nCrawl-delay: fast\nAllow: /p/\n\n"),
      when(n.cast(IntegerType) % 2 === 0,
        lit("User-agent: graftbot\nCrawl-delay: 2\nDisallow: /none\n"))
        .otherwise(lit("")))
  }

  /** The eTLD+1 fold of [[graft.ops.WebOps.registrableDomain]] as a SQL
    * CASE over a host expression - ONE builder for every oracle that
    * folds a host (the url-shell `d` CTE, the link-target fold, the
    * anchor-target fold), so the folds cannot drift.
    */
  private def domainFoldSql(host: String): String = {
    val (exact, wild, exc) = graft.ops.WebOps.pslRules
    def inList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(", ")
    val parts = s"string_split($host, '.')"
    // last k labels; DuckDB's [-k:] clamps short lists to the whole
    // list, mirroring the Spark side's clamped slice
    def lastK(k: Int) = s"array_to_string($parts[-$k:], '.')"
    // exception rules override everything, longest first
    val excB = exc.toSeq.sortBy(-_._1).map { case (k, ds) =>
      s"WHEN len($parts) >= $k AND ${lastK(k)} IN (${inList(ds)}) THEN ${lastK(k)}"
    }
    // longest-match cascade: a public suffix of s labels matches via an
    // exact rule of s labels or a wildcard base of s-1 labels; first
    // (longest) match wins; a host that IS the suffix passes through
    val sLens = (exact.keySet ++ wild.keySet.map(_ + 1)).toSeq.sorted.reverse
    val sufB = sLens.map { s =>
      val tests = exact.get(s).map(r => s"${lastK(s)} IN (${inList(r)})").toSeq ++
        wild.get(s - 1).map(b => s"${lastK(s - 1)} IN (${inList(b)})")
      s"WHEN len($parts) >= $s AND (${tests.mkString(" OR ")}) THEN " +
        s"(CASE WHEN len($parts) > $s THEN ${lastK(s + 1)} ELSE $host END)"
    }
    // no '|' characters and single-line branches: this fragment embeds
    // in templates that stripMargin AFTER interpolation
    s"CASE WHEN regexp_matches($host, '^[0-9]{1,3}(\\.[0-9]{1,3}){3}$$') " +
      s"OR $host LIKE '%:%' OR $host LIKE '[%' THEN $host " +
      excB.mkString(" ") + " " + sufB.mkString(" ") +
      s" WHEN len($parts) > 1 THEN ${lastK(2)} ELSE $host END"
  }

  /** RFC 3986 §5.2.4 remove_dot_segments over a SQL path expression -
    * the SAME five rewrite patterns as [[graft.ops.WebOps.dotPass]],
    * applied the same 8 times, so the resolution replay agrees with
    * the Spark column at ANY nesting depth by construction.
    */
  private def dotSegmentsSql(expr0: String): String =
    (1 to 8).foldLeft(expr0) { (e, _) =>
      val a = s"regexp_replace($e, '/\\./', '/', 'g')"
      val b = s"regexp_replace($a, '/\\.$$', '/', 'g')"
      val c = s"regexp_replace($b, '^/\\.\\.(/|$$)', '/', 'g')"
      val d = s"regexp_replace($c, '/[^/]+/\\.\\./', '/', 'g')"
      s"regexp_replace($d, '/[^/]+/\\.\\.$$', '/', 'g')"
    }

  /** Field-formula replay shared by the plain and gzip WARC ingestion
    * queries: the containers differ, the framed pages do not.
    */
  private lazy val warcIngestOracleSql: String =
    """SELECT doc_id,
      |  'https://w' || CAST(doc_id % 7 AS VARCHAR) || '.example' ||
      |    CAST(doc_id % 3 AS VARCHAR) || '.org/p/' ||
      |    CAST(doc_id AS VARCHAR) AS url,
      |  '2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') ||
      |    'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') ||
      |    ':00:00Z' AS fetch_time,
      |  200 AS status,
      |  CASE WHEN doc_id % 4 = 0 THEN 'text/plain'
      |       ELSE 'text/html' END AS mime,
      |  '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
      |    '</title></head><body>' || text || '</body></html>' AS html
      |FROM documents WHERE text IS NOT NULL""".stripMargin

  /** Replay of [[graft.ops.WebOps.resolveLinks]] over the url + link
    * shells: href extraction (ALL hrefs), the RFC 3986 §5 resolution
    * CASE, and the absolute-http(s) frontier cut.
    */
  private def linksResolvedOracleSql: String =
    s"""WITH $urlShellCte, $linkShellCte, hb AS (
      |  -- the planted <base href> slice: absolute on doc_id % 6 = 0,
      |  -- root-relative on % 6 = 3 (prepended so the base-tag href is
      |  -- ALSO an extracted link, exactly as the Spark regex sees it)
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 6 = 0 THEN '<base href="https://base' ||
      |            CAST(doc_id % 5 AS VARCHAR) || '.example.net/dir/sub/page.html">'
      |          WHEN doc_id % 6 = 3 THEN '<base href="/newroot/">'
      |          ELSE '' END) || html AS html
      |  FROM h
      |), lr AS MATERIALIZED (
      |  -- MATERIALIZED: inlining an unnest CTE under the SELECT-*
      |  -- resolution chain trips a DuckDB internal binder error.
      |  -- url = the EFFECTIVE base: the absolute base verbatim, the
      |  -- root-relative one grafted onto the page URL's scheme://auth
      |  -- (raw-case scheme - resolveUrl never case-folds), else the
      |  -- page URL
      |  SELECT u.doc_id,
      |         CASE WHEN u.doc_id % 6 = 0 THEN 'https://base' ||
      |                CAST(u.doc_id % 5 AS VARCHAR) || '.example.net/dir/sub/page.html'
      |              WHEN u.doc_id % 6 = 3 THEN
      |                regexp_extract(u.url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)
      |                || '://' ||
      |                regexp_extract(u.url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)
      |                || '/newroot/'
      |              ELSE u.url END AS url,
      |         unnest(regexp_extract_all(hb.html,
      |                'href\\s*=\\s*["'']([^"'']+)["'']', 1)) AS link
      |  FROM u JOIN hb USING (doc_id)
      |), p1 AS (
      |  SELECT doc_id, url, link,
      |    regexp_replace(link, '#.*', '', 'g') AS r,
      |    regexp_replace(url, '#.*', '', 'g') AS bnf,
      |    regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) AS bscheme,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS bauth,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS bpath
      |  FROM lr
      |), p2 AS (
      |  SELECT *,
      |    CASE WHEN bpath = '' THEN '/'
      |         ELSE regexp_replace(bpath, '[^/]*$$', '', 'g') END AS basedir,
      |    regexp_extract(r, '^([^?]*)', 1) AS rpath,
      |    regexp_extract(r, '(\\?.*)$$', 1) AS rquery
      |  FROM p1
      |), p3 AS (
      |  SELECT doc_id, link, CASE
      |    WHEN r = '' THEN bnf
      |    WHEN regexp_matches(r, '^[A-Za-z][A-Za-z0-9+.-]*:') THEN r
      |    WHEN bscheme = '' THEN NULL
      |    WHEN r LIKE '//%' THEN bscheme || ':' || r
      |    WHEN r LIKE '?%' THEN bscheme || '://' || bauth || bpath || r
      |    WHEN r LIKE '/%' THEN bscheme || '://' || bauth ||
      |         ${dotSegmentsSql("rpath")} || rquery
      |    ELSE bscheme || '://' || bauth ||
      |         ${dotSegmentsSql("(basedir || rpath)")} || rquery
      |  END AS resolved
      |  FROM p2
      |)
      |SELECT doc_id, link, resolved FROM p3
      |WHERE lower(regexp_extract(resolved, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |      IN ('http', 'https')""".stripMargin

  /** Replay of [[graft.ops.WebOps.robotsRules]] +
    * [[graft.ops.WebOps.robotsAllowed]] over the url shell: robots
    * shell per distinct domain, line split with zipped-unnest
    * ordinality, directive parse, the lag+running-sum group
    * assignment, agent-specificity group choice, the SAME
    * literal-replace regex build, and the longest-match verdict
    * (rule length desc, allow beats disallow on ties; unmatched and
    * robots-less domains allowed).
    */
  private def robotsOracleSql: String = {
    val escBody = Seq("\\", ".", "^", "$", "+", "?", "(", ")", "[", "]", "{", "}", "|")
      .foldLeft("body") { (e, ch) =>
        val rep = "\\" + ch
        s"replace($e, '$ch', '$rep')"
      }
    s"""WITH $urlShellCte, doms AS (
      |  SELECT DISTINCT domain FROM d
      |), rb AS (
      |  SELECT domain,
      |    '# crawl policy' || chr(10) || 'User-agent: badbot' || chr(10) ||
      |    'Disallow: /' || chr(10) || chr(10) ||
      |    'User-agent: *' || chr(10) ||
      |    'Disallow: /p/' || regexp_extract(domain, 'src([0-9])', 1) || chr(10) ||
      |    'Allow: /p/' || regexp_extract(domain, 'src([0-9])', 1) || '0' || chr(10) ||
      |    'Disallow: /q*z$$' || chr(10) AS txt
      |  FROM doms
      |), l0 AS (
      |  SELECT domain,
      |    unnest(string_split_regex(txt, '\\r?\\n')) AS raw,
      |    CAST(unnest(generate_series(1, len(string_split_regex(txt, '\\r?\\n')))) AS INT) AS line_no
      |  FROM rb
      |), l2 AS (
      |  SELECT domain, line_no,
      |    lower(regexp_extract(ln, '^([A-Za-z-]+)\\s*:', 1)) AS directive,
      |    trim(regexp_extract(ln, '^[A-Za-z-]+\\s*:\\s*(.*)$$', 1)) AS value
      |  FROM (SELECT domain, line_no,
      |          trim(regexp_replace(raw, '#.*', '', 'g')) AS ln FROM l0)
      |  WHERE ln <> ''
      |), l3 AS (
      |  SELECT * FROM l2 WHERE directive IN ('user-agent', 'allow', 'disallow')
      |), g0 AS (
      |  -- two stages: a lag nested inside the running SUM's argument
      |  -- is an illegal nested window call (mirrors the Spark side's
      |  -- two withColumn projections)
      |  SELECT *, directive = 'user-agent' AS is_ua,
      |    coalesce(lag(directive = 'user-agent')
      |      OVER (PARTITION BY domain ORDER BY line_no), false) AS prev_ua
      |  FROM l3
      |), g AS (
      |  SELECT *, SUM(CASE WHEN is_ua AND NOT prev_ua THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY domain ORDER BY line_no) AS grp
      |  FROM g0
      |), spec AS (
      |  SELECT domain, grp,
      |    max(CASE WHEN lower(value) = 'graftbot' THEN 2
      |             WHEN value = '*' THEN 1 ELSE 0 END) AS sp
      |  FROM g WHERE is_ua GROUP BY domain, grp
      |  HAVING max(CASE WHEN lower(value) = 'graftbot' THEN 2
      |                  WHEN value = '*' THEN 1 ELSE 0 END) > 0
      |), best AS (
      |  SELECT domain, max(sp) AS bst FROM spec GROUP BY domain
      |), chosen AS (
      |  SELECT s.domain, s.grp FROM spec s
      |  JOIN best b ON s.domain = b.domain AND s.sp = b.bst
      |), rules AS (
      |  SELECT g.domain, g.directive = 'allow' AS is_allow, g.value AS rule
      |  FROM g JOIN chosen USING (domain, grp)
      |  WHERE NOT g.is_ua AND g.value <> ''
      |), rx AS (
      |  SELECT domain, is_allow, CAST(length(rule) AS INT) AS rlen,
      |    '^' || replace($escBody, '*', '.*') ||
      |    (CASE WHEN rule LIKE '%$$' THEN '$$' ELSE '' END) AS pat
      |  FROM (SELECT *, CASE WHEN rule LIKE '%$$'
      |                       THEN substr(rule, 1, length(rule) - 1)
      |                       ELSE rule END AS body
      |        FROM rules)
      |), pg AS (
      |  SELECT doc_id, url, domain,
      |         CASE WHEN path = '' THEN '/' ELSE path END AS p
      |  FROM d
      |), mv AS (
      |  SELECT pg.doc_id, r.is_allow, r.rlen
      |  FROM pg JOIN rx r ON pg.domain = r.domain AND regexp_matches(pg.p, r.pat)
      |), v AS (
      |  SELECT doc_id, is_allow FROM (
      |    SELECT doc_id, is_allow,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |                              ORDER BY rlen DESC, is_allow DESC) AS rk
      |    FROM mv) WHERE rk = 1
      |)
      |SELECT pg.doc_id, pg.url, coalesce(v.is_allow, true) AS allowed
      |FROM pg LEFT JOIN v USING (doc_id)""".stripMargin
  }

  /** Replay of [[graft.ops.WebOps.canonicalizeUrl]] over the messy URL
    * shell: fragment cut, the generic percent-escape normalization
    * (unreserved decode / reserved hex uppercase, via the same
    * unnest + ordered string_agg stitch as the numeric-ref replay),
    * component re-parse, default-port strip, [[dotSegmentsSql]] path
    * normalization, and the sorted-query reassembly.
    */
  private def urlCanonOracleSql: String =
    s"""WITH m AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END) || '://' ||
      |    (CASE WHEN doc_id % 13 = 0 THEN 'User@' ELSE '' END) ||
      |    'WWW.Src' || CAST(doc_id % 10 AS VARCHAR) ||
      |    (CASE doc_id % 3 WHEN 0 THEN '.COM' WHEN 1 THEN '.co.UK' ELSE '.org' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ||
      |    '/a/./b' || CAST(doc_id % 5 AS VARCHAR) || '/../c%7Ex%3f' ||
      |    '?b=' || CAST(doc_id % 7 AS VARCHAR) || '&a=1#frag' AS url
      |  FROM documents
      |), nf AS (
      |  SELECT doc_id, regexp_replace(url, '#.*', '', 'g') AS u0 FROM m
      |), pe AS (
      |  SELECT doc_id, u0,
      |    string_split_regex(u0, '%[0-9A-Fa-f]{2}') AS parts,
      |    regexp_extract_all(u0, '%[0-9A-Fa-f]{2}', 0) AS refs
      |  FROM nf
      |), e AS (
      |  SELECT doc_id, parts, refs,
      |         CAST(unnest(generate_series(1, len(refs))) AS INT) AS i
      |  FROM pe WHERE len(refs) > 0
      |), dec AS (
      |  SELECT doc_id, i,
      |    (CASE WHEN (cp BETWEEN 65 AND 90) OR (cp BETWEEN 97 AND 122)
      |               OR (cp BETWEEN 48 AND 57) OR cp IN (45, 46, 95, 126)
      |          THEN chr(cp) ELSE '%' || hx END) || parts[i + 1] AS piece
      |  FROM (SELECT doc_id, i, parts, upper(substr(refs[i], 2, 2)) AS hx,
      |          CAST(('0x' || substr(refs[i], 2, 2)) AS INT) AS cp
      |        FROM e)
      |), asm AS (
      |  SELECT doc_id, string_agg(piece, '' ORDER BY i) AS tail
      |  FROM dec GROUP BY doc_id
      |), pn AS (
      |  SELECT pe.doc_id,
      |         CASE WHEN a.tail IS NULL THEN pe.u0
      |              ELSE pe.parts[1] || a.tail END AS u
      |  FROM pe LEFT JOIN asm a USING (doc_id)
      |), px AS (
      |  SELECT doc_id, u,
      |    lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1) AS auth,
      |    regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(u, '\\?([^#]*)', 1) AS q
      |  FROM pn
      |), pz AS (
      |  SELECT *,
      |    regexp_extract(auth, '^([^@]*@)', 1) AS userinfo,
      |    lower(regexp_extract(auth, '^(?:[^@]*@)?([^:]*)', 1)) AS host,
      |    CASE WHEN regexp_extract(auth, ':([0-9]{1,5})$$', 1) = '' THEN 0
      |         ELSE CAST(regexp_extract(auth, ':([0-9]{1,5})$$', 1) AS INT) END AS port
      |  FROM px
      |)
      |SELECT z.doc_id, m.url,
      |  CASE WHEN scheme IN ('http', 'https') THEN
      |    scheme || '://' || userinfo || host ||
      |    (CASE WHEN port <> 0 AND NOT (scheme = 'http' AND port = 80)
      |               AND NOT (scheme = 'https' AND port = 443)
      |          THEN ':' || CAST(port AS VARCHAR) ELSE '' END) ||
      |    ${dotSegmentsSql("(CASE WHEN rawpath = '' THEN '/' ELSE rawpath END)")} ||
      |    (CASE WHEN q = '' THEN ''
      |          ELSE '?' || array_to_string(list_sort(string_split(q, '&')), '&') END)
      |  ELSE NULL END AS canonical
      |FROM pz z JOIN m USING (doc_id)""".stripMargin

  /** Host-of-URL extraction as a SQL expression (scheme://[user@]host
    * [:port] authority walk) - shared by the link/anchor oracle folds.
    */
  private def hostOfSql(url: String): String =
    s"lower(regexp_extract(regexp_extract($url, " +
      s"'^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^(?:[^@]*@)?([^:]*)', 1))"

  /** `h(doc_id, html)` - the [[synthMetaHtmlCol]] head shell replayed
    * with `||`; shared by `web_page_meta` and `web_lang_declared`.
    * Like [[linkShellCte]], deliberately NOT pre-stripMargin'd.
    */
  private lazy val metaShellCte: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html' ||
      |    CASE WHEN doc_id % 4 = 1 THEN ' lang="en"'
      |         WHEN doc_id % 4 = 2 THEN ' lang="DE"'
      |         WHEN doc_id % 4 = 3 THEN ' lang="fr-FR"' ELSE '' END ||
      |    '><head><title>doc ' || CAST(doc_id % 7 AS VARCHAR) || chr(10) ||
      |    '<b>best</b> page</title>' ||
      |    CASE WHEN doc_id % 5 = 0 THEN ''
      |         WHEN doc_id % 2 = 0 THEN
      |           '<meta name="description" content="about topic ' ||
      |           CAST(doc_id % 11 AS VARCHAR) || '">'
      |         ELSE '<meta content="rev topic ' ||
      |           CAST(doc_id % 11 AS VARCHAR) || '" name="description">' END ||
      |    CASE WHEN doc_id % 2 = 0 THEN
      |      '<link rel="canonical" href="https://c' ||
      |      CAST(doc_id % 9 AS VARCHAR) || '.example.org/p">' ELSE '' END ||
      |    '</head><body><p>' || text || '</p></body></html>' AS html
      |  FROM documents
      |)"""

  /** `h(doc_id, html)` - the [[synthLinkHtmlCol]] shell replayed with
    * `||`. Like [[urlShellCte]], deliberately NOT pre-stripMargin'd.
    */
  private lazy val linkShellCte: String =
    """h AS (
      |  SELECT doc_id,
      |    '<html><body><p>' || text || '</p><a href="http://src' ||
      |    CAST((doc_id * 7 + 1) % 10 AS VARCHAR) || '.com/p/' ||
      |    CAST(doc_id % 5 AS VARCHAR) || '">read doc ' ||
      |    CAST(doc_id % 3 AS VARCHAR) || ' now</a>' ||
      |    (CASE WHEN doc_id % 2 = 0
      |          THEN '<a class=''r'' href=''https://www.src' ||
      |               CAST((doc_id * 3 + 2) % 10 AS VARCHAR) ||
      |               '.org/q''>more about topic ' ||
      |               CAST(doc_id % 4 AS VARCHAR) || '</a>'
      |          ELSE '' END) ||
      |    '<a href="https://b' || CAST(doc_id % 10 AS VARCHAR) ||
      |    '.net/z"><b>bold deal</b>' || chr(10) || 'number ' ||
      |    CAST(doc_id % 2 AS VARCHAR) || '</a>' ||
      |    '<a href="../up/one">up</a><a href="./here?x=1">dot</a>' ||
      |    '<a href="//cdn.src' || CAST(doc_id % 10 AS VARCHAR) ||
      |    '.net/lib">cdn</a><a href="?page=2">next</a><a href="#frag">top</a>' ||
      |    '<a href="/rel/p">rel</a><a href="mailto:a@b.c">write us</a></body></html>'
      |    AS html
      |  FROM documents
      |)"""

  /** `l(src_domain, link)` + `dd(src_domain, dst_domain)` - the
    * [[graft.ops.WebOps.extractLinks]] replay (href regex, absolute
    * http(s) cut) joined to the url-shell page domain, with the
    * link-host fold. Expects [[urlShellCte]]'s `d` and
    * [[linkShellCte]]'s `h` upstream; NOT pre-stripMargin'd.
    */
  private lazy val linkFoldCtes: String =
    s"""l AS (
      |  SELECT d.domain AS src_domain,
      |         unnest(regexp_extract_all(h.html,
      |                'href\\s*=\\s*["'']([^"'']+)["'']', 1)) AS link
      |  FROM d JOIN h USING (doc_id)
      |), lk AS (
      |  SELECT src_domain, ${hostOfSql("link")} AS lh
      |  FROM l
      |  WHERE lower(regexp_extract(link, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
      |        IN ('http', 'https')
      |), dd AS (
      |  SELECT src_domain,
      |    ${domainFoldSql("lh")} AS dst_domain
      |  FROM lk
      |)"""

  /** `e0/e/deg/r0/r1..r10` over [[linkFoldCtes]]' `dd`: the
    * graph_pagerank integer replay (same unit, restart, and floor
    * divisions as [[graft.ops.GraphOps.pageRank]]) on the symmetrized
    * cross-domain edge set, ending in `r10(node, r)`. ONE fragment
    * shared by `web_domain_rank` and `web_fetch_priority` so the
    * authority replays cannot drift.
    */
  private lazy val domainRankCtes: String = {
    val rounds = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(150000000 + (85 * sum(p.r // d2.deg)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} p JOIN deg d2 USING (node) JOIN e ON e.src = p.node
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    s"""e0 AS (
      |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM dd
      |  WHERE src_domain <> dst_domain
      |), e AS (
      |  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
      |), deg AS (
      |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
      |), r0 AS (
      |  SELECT node, CAST(1000000000 AS BIGINT) AS r FROM deg
      |), $rounds"""
  }

  /** The web-pipeline domain blocklist as a SQL IN-list - ONE
    * definition for `web_pipeline` and `web_pipeline_multilingual`
    * (the Spark sides spell the same four entries).
    */
  private lazy val webPipelineBlocklistSql: String =
    Seq("src2.com", "src5.co.uk", "src8.org", "www.src3.com")
      .map("'" + _ + "'").mkString(", ")

  /** `u(doc_id, source, n_chars, url)` + `p(..., scheme, host, port,
    * path, qstr)` + `d(..., domain)` CTE chain: the [[synthUrlCol]]
    * shell replayed with `||` (null-propagating, like Spark `concat`)
    * and the [[WebOps]] parse chain replayed with the SAME regexes -
    * all in the Java-regex/RE2 common subset - plus the eTLD+1 label
    * fold replaying the PSL longest-match algorithm over the interpolated [[WebOps.pslRules]] sets.
    */
  private lazy val urlShellCte: String = {
    s"""u AS (
      |  SELECT doc_id, source, n_chars,
      |    (CASE doc_id % 4 WHEN 0 THEN 'https' WHEN 1 THEN 'http'
      |          WHEN 2 THEN 'HTTPS' ELSE 'ftp' END)
      |    || '://'
      |    || (CASE WHEN doc_id % 13 = 0 THEN 'user@' ELSE '' END)
      |    || (CASE WHEN doc_id % 5 = 0 THEN 'www.'
      |             WHEN doc_id % 5 = 1 THEN 'm' || substr(md5(text), 1, 2) || '.'
      |             ELSE '' END)
      |    || source
      |    || (CASE doc_id % 3 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk' ELSE '.org' END)
      |    || (CASE WHEN doc_id % 11 = 0 THEN ':8080' ELSE '' END)
      |    || (CASE WHEN doc_id % 9 = 0 THEN '' ELSE '/p/' || CAST(doc_id % 7 AS VARCHAR) END)
      |    || (CASE WHEN doc_id % 7 = 0 THEN '?q=' || substr(md5(text), 7, 4) ELSE '' END)
      |    || (CASE WHEN doc_id % 17 = 0 THEN '#sec' ELSE '' END) AS url
      |  FROM documents
      |), p AS (
      |  SELECT doc_id, source, n_chars, url,
      |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      |    lower(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                         '^(?:[^@]*@)?([^:]*)', 1)) AS host,
      |    CASE WHEN regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                             ':([0-9]{1,5})$$', 1) = '' THEN 0
      |         ELSE CAST(regexp_extract(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1),
      |                                  ':([0-9]{1,5})$$', 1) AS INT) END AS port,
      |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path,
      |    regexp_extract(url, '\\?([^#]*)', 1) AS qstr
      |  FROM u
      |), d AS (
      |  SELECT p.*,
      |    ${domainFoldSql("host")} AS domain
      |  FROM p
      |)"""
    // NOT .stripMargin: this fragment interpolates into oracle templates
    // that strip margins themselves, and stripping here first would let
    // the OUTER pass eat the first '|' of every '||' concat operator
  }

  /** SQL replay of [[WebOps.surtKey]] over the parse columns
    * `(scheme, host, port, path, qstr)` that [[urlShellCte]]'s `p`
    * CTE (and the inline parse in the web_surt oracle) provide - ONE
    * fragment shared by all four SURT/CDX oracles so the replays
    * cannot drift. list_reverse/list_sort are the same binary-order
    * primitives as Spark's reverse/array_sort.
    */
  private lazy val surtReplaySql: String =
    "array_to_string(list_reverse(string_split(" +
      "regexp_replace(host, '^www\\.', ''), '.')), ',')" +
      " || (CASE WHEN port <> 0 AND port <> (CASE scheme WHEN 'http' THEN 80" +
      " WHEN 'https' THEN 443 ELSE 0 END)" +
      " THEN ':' || CAST(port AS VARCHAR) ELSE '' END)" +
      " || ')' || (CASE WHEN path = '' THEN '/' ELSE lower(path) END)" +
      " || (CASE WHEN qstr = '' THEN '' ELSE '?' ||" +
      " array_to_string(list_sort(string_split(lower(qstr), '&')), '&') END)"

  /** The `web_fetch_priority` capstone plan - crawl prioritization
    * END-TO-END, the ranked fetch list a crawler actually drains:
    * zero-fetch URL screen (urlQualitySignals) x domain trap verdict
    * (crawlTraps) x link-graph authority (the web_domain_rank
    * PageRank) x robots politeness pacing (frontierSchedule), ONE
    * declarative plan over the shared crawl shells. Scale shape: the
    * screen and trap signals fuse into the frontier scan; traps,
    * authority and delays are all DOMAIN-sized frames joined back (AQE
    * broadcasts); the only corpus-sized shuffles are the salted
    * schedule windows and the one link-graph edge aggregate.
    *
    * The url+html shell that feeds the frontier, the link graph and
    * the robots domain list is pinned with one localCheckpoint (three
    * scan re-executions without it). Round 16 measured sf0.1/32 with
    * an interleaved A/B, min-of-2: unpinned 6.40s vs pinned 5.22s
    * (0.82x) - the shell re-execution is NOT free here because the
    * planted-frontier union and the PSL host fold ride it. At cluster
    * scale the call stays right: the pin is one corpus-partitioned
    * in-memory materialization consumed by three column-pruned
    * readers, in place of three full scans of the raw corpus.
    * Re-measure both arms after changing the plan's sharing structure.
    */
  private def fetchPriorityPlan(s: SparkSession, dir: String): DataFrame = {
    val id = col("doc_id")
    val docs = tbl(s, dir, "documents")
    val pages = docs
      .withColumn("url", synthUrlCol).withColumn("html", synthLinkHtmlCol)
      .localCheckpoint()
    // planted frontier slices on top of the shell: a
    // calendar-recursion trap domain (whole domain must drop), a
    // session-id URL per shell domain (per-URL suspect cut), and a
    // no-inlink newcomer domain (authority coalesces to 0 - new
    // domains are still fetchable, just lowest-priority)
    val planted = docs.select(
      (id + 1000000L).as("doc_id"),
      when(id % 3 === 0,
        concat(lit("https://trapsite.org/cal/2024/cal/2024/cal/"),
          (id % 12).cast(StringType)))
        .when(id % 3 === 1,
          concat(lit("https://newcomer.net/fresh/"), (id % 11).cast(StringType)))
        .otherwise(concat(lit("https://src"), (id % 10).cast(StringType),
          lit(".com/l?PHPSESSID="), id.cast(StringType)))
        .as("url"))
    // materialization point (the docs_lang_mix discipline): the
    // frontier feeds the screen AND the trap verdict, and the
    // screened rows feed BOTH of frontierSchedule's branches (local
    // ranks + salt offsets) - without the pin the shell + PSL fold
    // re-executes once per consumer
    val frontier = pages.select(id, col("url")).unionByName(planted)
      .localCheckpoint()
    // (1) per-URL screen: suspect URLs never reach scheduling
    val clean = WebOps.urlQualitySignals(frontier, "url")
      .filter(!col("url_suspect")).select(col("doc_id"), col("url"))
      .localCheckpoint()
    // (2) trap verdict over the FULL frontier (a trap domain's
    // suspect URLs still evidence the trap)
    val trapped = WebOps.crawlTraps(frontier, "url",
        minUrls = 5, maxAvgDepth = 4.5, maxRepeatShare = 0.3)
      .filter(col("flagged")).select(col("domain"))
    // (3) authority: the same symmetrized integer PageRank as
    // web_domain_rank, over the same link shell
    val edges = WebOps.linkGraph(pages, "url", "html")
      .filter(col("src_domain") =!= col("dst_domain"))
      .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
    val sym = edges.union(edges.select(col("dd").as("sd"), col("sd").as("dd")))
    val rank = GraphOps.pageRank(sym, "sd", "dd", iterations = 10)
      .select(col("node").as("gr_rd"), col("rank_int"))
    // (4) robots pacing, same shell as web_frontier_schedule
    val domains = pages
      .select(WebOps.registrableDomain(WebOps.urlHost(col("url"))).as("domain"))
      .distinct()
    val nD = regexp_extract(col("domain"), "src([0-9])", 1)
    val robots = domains.filter(nD.cast(IntegerType) % 3 =!= 2)
      .withColumn("txt", robotsExtTxtCol)
    val delays = WebOps.robotsCrawlDelay(robots, "domain", "txt", "graftbot")
    // schedule the screened frontier, then cut trap domains WHOLESALE
    // and attach authority: traps drop whole domains, so surviving
    // domains' slot density is untouched by cutting after scheduling
    // (frontierSchedule owns the domain fold, so the domain-keyed
    // joins ride its output)
    WebOps.frontierSchedule(clean, "doc_id", "url", delays, defaultDelay = 1.0)
      .join(trapped, Seq("domain"), "left_anti")
      .join(rank, col("domain") === col("gr_rd"), "left")
      .select(col("doc_id"), col("url"), col("domain"),
        coalesce(col("rank_int"), lit(0L)).as("authority"),
        col("slot"), col("not_before_s"))
  }
}
