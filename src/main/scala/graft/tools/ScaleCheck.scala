package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ad-hoc weak-scaling probe: build 10 disjoint copies of an sf table
  * and time each operator at 1x vs 10x with min-of-2 - the same
  * discipline as the README's measured scale curve for the
  * dedup/curation pipelines. Two fixtures:
  *
  *   - events: ids offset by a data-derived stride, event types
  *     suffixed per copy - 10 independent instances for the sketch
  *     operators;
  *   - customer names (the trie flagship): each copy prefixed with a
  *     6-char tag of pairwise edit distance 6 > 2*maxDist+1, so no
  *     query can cross copies and the 10x run is 10 independent
  *     fuzzy-match problems - the weak-scaling definition.
  *
  * Usage: runMain graft.tools.ScaleCheck <sfDir>
  */
object ScaleCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val cpus = graft.Session.hostCores
    val spark = graft.Session.local(cpus)

    def timedPair(tag: String, dA: DataFrame, dB: DataFrame,
        labA: String, labB: String)(f: DataFrame => DataFrame): Unit = {
      // noop-sink write, NOT .count(): same honesty fix as graft.Bench -
      // count lets Catalyst prune projection-only operators down to a
      // metadata read, and a pruned 10x run would "scale" perfectly
      // while measuring nothing
      def once(df: DataFrame): Double = {
        val t0 = System.nanoTime()
        f(df).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once(dA); once(dB) // warm codegen
      val a = math.min(once(dA), once(dA))
      val b = math.min(once(dB), once(dB))
      println(f"$tag%-28s $labA=$a%6.2fs $labB=$b%6.2fs ratio=${b / a}%4.1fx")
    }
    def timed(tag: String, d1: DataFrame, d10: DataFrame)(f: DataFrame => DataFrame): Unit =
      timedPair(tag, d1, d10, "1x", "10x")(f)

    val ev1 = spark.read.parquet(s"$sfDir/events.parquet").localCheckpoint()
    val n1 = ev1.count()
    // offset stride derived from the DATA, not a magic 1e8: ids >= the
    // constant would make the copies collide and quietly deflate the 10x
    // workload for the id-keyed sketches
    val idStride = ev1.agg(coalesce(max(col("event_id")), lit(0L)))
      .head().getLong(0) + 1L
    val ev10 = (0 until 10).map { c =>
      ev1.withColumn("event_id", col("event_id") + lit(c.toLong * idStride))
        .withColumn("event_type", concat(col("event_type"), lit(s"_$c")))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    val n10 = ev10.count()
    println(s"events rows: 1x=$n1 10x=$n10")

    timed("events_sample_quantiles", ev1, ev10) { df =>
      graft.ops.SketchOps.sampleQuantiles(
        graft.ops.SketchOps.sampleSketch(df, "event_id", "value", Seq("event_type"), 512),
        Seq("event_type"), Seq(0.25, 0.5, 0.9, 0.99))
    }
    timed("events_quantiles_auto", ev1, ev10) { df =>
      graft.ops.SketchOps.histogramQuantilesAuto(
        graft.ops.SketchOps.fixedHistogramAuto(df, "value", Seq("event_type"), 20),
        Seq("event_type"), Seq(0.25, 0.5, 0.9, 0.99), 20)
    }
    timed("events_quantiles_tail", ev1, ev10) { df =>
      graft.ops.SketchOps.hdrQuantiles(
        graft.ops.SketchOps.hdrSketch(df, "value", Seq("event_type")),
        Seq("event_type"), Seq(0.5, 0.9, 0.99, 0.999))
    }
    timed("events_hll_registers", ev1, ev10) { df =>
      graft.ops.SketchOps.hllEstimate(
        graft.ops.SketchOps.hllRegisters(df, "user_id", Seq("event_type")),
        Seq("event_type"))
    }

    // the trie flagship: 10 tag-disjoint dictionary copies; the query
    // set grows 10x with the dictionary (weak scaling on both sides)
    val cust1 = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey"), col("c_name")).localCheckpoint()
    val cust10 = (0 until 10).map { c =>
      // tag = the copy digit repeated 6x: every position differs between
      // copies, so pairwise Levenshtein distance is truly 6 ("z0z0z0"-
      // style tags only differ in 3 positions - distance 3, a margin of
      // 1 over maxDist=2, not the 2*maxDist+1 the fixture claims)
      cust1.select(col("c_custkey"),
        concat(lit(c.toString * 6), col("c_name")).as("c_name"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    println(s"dict rows: 1x=${cust1.count()} 10x=${cust10.count()}")

    def trieQueries(df: DataFrame): DataFrame = df
      .filter(col("c_custkey") % 35 === 0)
      .select(expr("concat(substr(c_name, 1, length(c_name)-1), 'X')").as("query_string"))
    timed("pt_fuzzy_joinmode", cust1, cust10) { df =>
      // forced partition-local path (the 100-TB shape: trie too large to broadcast)
      val trie = graft.ptree.PrefixTree.create(df, "c_name", prefixLen = 12)
      graft.ptree.Query.queryJoin(trieQueries(df), "query_string", trie, maxDist = 2)
    }
    // pixel pipeline: encode + decode + resample + featurize is pure
    // per-row compute - the scan-shaped floor, no shuffle at all.
    // Same data-derived id stride rule as the events fixture: a magic
    // constant would silently collide copies on a large corpus
    val docs1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id")).localCheckpoint()
    val docStride = docs1.agg(coalesce(max(col("doc_id")), lit(0L)))
      .head().getLong(0) + 1L
    val docs10 = (0 until 10).map { c =>
      docs1.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    timed("media_pixel_features", docs1, docs10) { df =>
      import spark.implicits._
      val media = graft.ops.MultimodalOps.asMedia(
        df.as[Long].mapPartitions(_.map { id =>
          (id, graft.ops.MultimodalOps.synthPngImageBytes(
            id, 8 + (id % 24).toInt, 8 + ((id * 3) % 24).toInt))
        }).toDF("doc_id", "payload"),
        "doc_id", "payload", "image")
      graft.ops.MultimodalOps.decodeResizeFeaturize(media, 16, 16,
        graft.ops.MultimodalOps.PatchProjectionModel)
    }
    // bigram-LM scoring: per-copy token suffixes keep the 10x bigram
    // vocabulary genuinely 10x (type tables grow with the data)
    val docsT1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()
    val docsT10 = (0 until 10).map { c =>
      docsT1.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + s"zz$c").as("text"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    timed("docs_surprisal", docsT1, docsT10) { df =>
      graft.ops.TextOps.bigramSurprisal(df, "doc_id", "text")
    }
    // language ID: the scan-shaped floor of the text tier - pure
    // per-row kernel scoring (O(1) HashMap probe per gram, ~765 probes
    // per capped doc), no shuffle; this row is what the map-literal
    // fold it replaced could never ship (~51 ms/doc = minutes at 1x)
    timed("text_langid", docsT1, docsT10) { df =>
      df.select(col("doc_id"), graft.ops.TextOps.langId(col("text")).as("lang"))
    }
    // HTML strip: regex-chain + DecodeNumRefs kernel, scan-shaped (the
    // interpreted refold it replaced re-ran the chain per numeric ref)
    timed("text_strip_html", docsT1, docsT10) { df =>
      val html = concat(lit("<html><head><script>if (x<3) { y(); }</script>" +
        "<style>p{}</style></head><body><p>"), col("text"),
        lit(" &amp; caf&#233; grin&#128512;</p><!-- c --></body></html>"))
      df.select(col("doc_id"), graft.ops.TextOps.stripHtml(html).as("clean"))
    }
    // repetition score: RepStats kernel (gram-multiset max multiplicity),
    // scan-shaped per-doc statistic
    timed("text_repetition", docsT1, docsT10) { df =>
      graft.ops.TextOps.repetitionScore(df, "doc_id", "text", n = 3)
    }
    // duplication profile: the per-copy token suffixes make shingles
    // copy-disjoint, so 10x is 10 independent duplication problems and
    // the shingle-keyed shuffle grows linearly with the corpus
    timed("docs_dup_fraction", docsT1, docsT10) { df =>
      graft.ops.DedupOps.dupFraction(df, "doc_id", "text", shingleLen = 3)
    }
    // NB classifier: the token-type weight table grows 10x with the
    // suffixed vocabularies, like the surprisal bigram table
    timed("docs_nb_quality", docsT1, docsT10) { df =>
      graft.ops.TextOps.nbQualityFilter(
        df.withColumn("seed", col("doc_id") % 5 < 2), "doc_id", "text", "seed")
    }
    // web curation tier: copy-suffixed SOURCES make the 10x corpus carry
    // 10x distinct registrable domains, so the domain-keyed aggregates,
    // the link graph, and every PageRank round grow with the data (weak
    // scaling) while the per-page parse/filter stages stay scan-shaped
    val webBase = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("source"), col("text")).localCheckpoint()
    val web10 = (0 until 10).map { c =>
      webBase.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"),
        concat(col("source"), lit(s"_c$c")).as("source"), col("text"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    def webify(df: DataFrame): DataFrame = df
      .withColumn("url", concat(
        lit("https://"),
        when(col("doc_id") % 5 === 0, lit("www.")).otherwise(lit("")),
        col("source"),
        when(col("doc_id") % 3 === 0, lit(".com"))
          .when(col("doc_id") % 3 === 1, lit(".co.uk")).otherwise(lit(".org")),
        lit("/p/"), (col("doc_id") % 7).cast("string")))
      .withColumn("html", concat(
        lit("<p>"), col("text"),
        // link targets rotate per page WITHIN the copy's own domain
        // space (the copy suffix rides in `source`), so a 10x corpus
        // has a 10x-node cross-domain graph, never copy collisions
        lit("</p><a href=\"https://l"), (col("doc_id") * 7 + 1) % 10,
        lit("."), col("source"), lit("x"), (col("doc_id") * 3 + 2) % 10,
        lit(".net/q\">read this</a><a href=\"/rel\">rel</a>")))
      .withColumn("ltext", concat(col("text"),
        lit("\nthis second line carries enough words to pass the c4 cut today.\nshort")))
    timed("web_domain_rank", webify(webBase), webify(web10)) { df =>
      val edges = graft.ops.WebOps.linkGraph(df, "url", "html")
        .filter(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
      val sym = edges.union(edges.select(col("dd").as("sd"), col("sd").as("dd")))
      graft.ops.GraphOps.pageRank(sym, "sd", "dd", iterations = 10)
    }
    timed("web_pipeline", webify(webBase), webify(web10)) { df =>
      val survivors = graft.ops.WebOps.blockDomains(df, "url", Seq("blocked.example"))
      val cleaned = graft.ops.TextOps.c4LineFilter(
          survivors, "doc_id", "ltext", minWords = 3, minLines = 1)
        .join(survivors.select(col("doc_id"), col("source")), "doc_id")
        .withColumn("seed", col("doc_id") % 5 < 2)
      graft.ops.TextOps.qualityBudget(cleaned, "doc_id", "clean", "seed",
        budgetTokens = 10000000L)
    }
    timed("pt_querybatch_auto", cust1, cust10) { df =>
      // mode-choosing entry (measures whatever the sizing policy picks)
      val trie = graft.ptree.PrefixTree.create(df, "c_name", prefixLen = 12)
      graft.ptree.Query.queryBatch(trieQueries(df), "query_string", trie, maxDist = 2)
    }
    // image near-dup: copy-LOCAL collision classes ((copy, id % 37) -
    // the copy index is id / stride on the shifted fixture), so 10x is
    // 10 independent dedup problems and the pigeonhole join's blocks
    // keep their 1x size - pair volume grows linearly, never n^2
    timed("media_dup_pairs", docs1, docs10) { df =>
      import spark.implicits._
      val media = graft.ops.MultimodalOps.asMedia(
        df.as[Long].mapPartitions(_.map { id =>
          // copy-LOCAL classes in seed AND dims: same-seed different-dim
          // images hash differently, so cross-copy dHashes stay apart
          // and 10x is 10 independent dedup problems (a dims-shared
          // fixture measured 38.8x - near-dup DENSITY grew with copies,
          // which is a fixture artifact, not an operator property)
          val copy = id / docStride
          val seed = copy * 37 + id % 37
          val w = 8 + ((id % 37 + copy * 7) % 24).toInt
          val h = 8 + (((id % 37) * 3 + copy * 11) % 24).toInt
          (id, graft.ops.MultimodalOps.synthPngImageBytes(seed, w, h))
        }).toDF("doc_id", "payload"),
        "doc_id", "payload", "image")
      graft.ops.MultimodalOps.imageDupPairs(media, maxHamming = 2)
    }
    // span removal: the token-suffixed copies keep window texts
    // copy-disjoint, so the window-frequency shuffle carries 10
    // independent vocabularies and duplicate density per copy holds
    timed("dedup_span_removal", docsT1, docsT10) { df =>
      graft.ops.DedupOps.removeDuplicateSpans(df, "doc_id", "text",
        window = 40, step = 10)
    }
    // exact-alignment spans: same fixture, step=1 - one window row per
    // character, but the shuffle key is the 8-byte xxhash64 fingerprint
    // (not the 40-byte window text); expected data-proportional
    timed("dedup_spans_exact", docsT1, docsT10) { df =>
      graft.ops.DedupOps.exactDuplicateSpans(df, "doc_id", "text", minLen = 40)
    }
    // cross-document line dedup: per copy, one hot boilerplate line
    // shared by every doc (its map-side-combined min folds to one cell
    // per partition) + unique lines from the copy-suffixed text, so the
    // line-keyed aggregate carries 10 independent vocabularies at 10x
    def lineify(df: DataFrame): DataFrame = df.withColumn("ltext", concat(
      substring(col("text"), 1, 60), lit("\n"),
      lit("subscribe to our newsletter today copy"),
      expr(s"doc_id div $docStride"), lit("\n"),
      substring(col("text"), 61, 60)))
    timed("docs_line_dedup", lineify(docsT1), lineify(docsT10)) { df =>
      graft.ops.TextOps.dedupLines(df, "doc_id", "ltext", minLen = 10)
    }
    // robots gate: the rules table is domain-sized (10x domains in the
    // copy-suffixed web fixture) and BROADCASTS; the verdict stays a
    // scan + per-id aggregate
    timed("web_robots", webify(webBase), webify(web10)) { df =>
      val pages = df.select(col("doc_id"), col("url"))
      val domains = pages.select(graft.ops.WebOps.registrableDomain(
        graft.ops.WebOps.urlHost(col("url"))).as("domain")).distinct()
      val robots = domains.withColumn("txt", concat(
        lit("User-agent: *\nDisallow: /p/"),
        substring(col("domain"), 1, 1),
        lit("\nAllow: /p/\nDisallow: /q*z$\n")))
      val rules = graft.ops.WebOps.robotsRules(robots, "domain", "txt", "graftbot")
      graft.ops.WebOps.robotsAllowed(pages, "doc_id", "url", rules)
    }
    // URL canonicalization: pure codegen per-row normalization chain -
    // the scan-shaped floor, like the pixel probe
    timed("web_url_canon", webify(webBase), webify(web10)) { df =>
      df.select(col("doc_id"),
        graft.ops.WebOps.canonicalizeUrl(concat(
          lit("HTTP://User@WWW."), col("source"),
          lit(".COM:80/a/./b/../c%7Ex%3f?b=2&a=1#frag"))).as("canonical"))
    }
    // WARC ingestion: per-row serialize + frame + HTTP parse, no
    // shuffle anywhere - scan-shaped
    timed("web_warc_ingest", docsT1, docsT10) { df =>
      import spark.implicits._
      val blobs = df.select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .mapPartitions(_.map { case (id, text) =>
          (id, graft.sources.Warc.writeWarcBytes(Seq(graft.sources.Warc.WarcPage(
            s"https://w$id.example.org/p/$id", "2024-01-01T00:00:00Z", 200,
            "text/html", s"<html><body>$text</body></html>"))))
        }).toDF("doc_id", "blob")
      graft.sources.Warc.ingest(blobs, "doc_id", "blob")
    }
    // video near-dup: container demux + per-frame decode + hash +
    // pigeonhole join. DC-only block-constant frames live in a TINY
    // dHash space (a few hundred values - gradients are coarse and only
    // the mod-256 wrap varies them), so at 10x the hash classes merge
    // across copies and the pair count is inherently super-linear; the
    // probe therefore runs WITH the operator's own skew cap, which is
    // exactly what a production run over degenerate content does (the
    // same discipline as every capped sketch-dedup pipeline here)
    timed("media_video_dup", docs1, docs10) { df =>
      import spark.implicits._
      val media = graft.ops.MultimodalOps.asMedia(
        df.as[Long].mapPartitions(_.map { id =>
          val vs = id % 97
          val w = 16 + (vs % 7).toInt * 8
          val h = 16 + ((vs * 3) % 5).toInt * 8
          val n = 2 + (id % 3).toInt
          (id, graft.ops.MultimodalOps.synthMjpegVideoBytes(
            (0 until n).map(f => 160 + ((id / docStride) * 4 + vs * 4 + f) * 31 % 96), w, h))
        }).toDF("doc_id", "payload"),
        "doc_id", "payload", "video")
      graft.ops.MultimodalOps.videoDupPairs(media, maxHamming = 0,
        maxBlockSize = 200)
    }
    // CDX fetch-list: surt-key projections fuse into the scan; the one
    // shuffle is the (surt, digest) anti-join, whose key count grows
    // with the data (copy-suffixed sources keep the 10x surts distinct)
    timed("web_cdx_fetchlist", webify(webBase), webify(web10)) { df =>
      val base = df.select(col("doc_id"), col("url"),
        graft.ops.WebOps.surtKey(col("url")).as("surt"), col("text"))
      val cand = base.select(col("doc_id"), col("url"), col("surt"),
        md5(col("text")).as("digest"))
      val index = base.select(col("surt"),
        when(col("doc_id") % 4 === 0, md5(concat(col("text"), lit("x"))))
          .otherwise(md5(col("text"))).as("digest"))
      graft.ops.WebOps.fetchList(cand, "surt", "digest",
        index, "surt", "digest")
    }
    // CDX latest-capture fold: ONE max-struct aggregate keyed on the
    // surt - map-side partials mean the shuffle carries one candidate
    // struct per (partition, surt), so the 10x run should track the
    // 10x key count, never the 2x-capture history
    timed("web_cdx_latest", webify(webBase), webify(web10)) { df =>
      val base = df.select(col("doc_id"), col("url"),
        graft.ops.WebOps.surtKey(col("url")).as("surt_key"), col("text"))
      def cap(ts: String, dg: org.apache.spark.sql.Column) = base.select(
        col("surt_key"), lit(ts).as("cdx_ts"), col("url"),
        lit("text/html").as("mime"), lit("200").as("status"), dg.as("digest"),
        lit("1").as("length"), lit("0").as("offset"), lit("f").as("filename"))
      graft.sources.Cdx.latestCaptures(
        cap("20240101000000", md5(col("text"))).unionByName(
          cap("20250101000000", md5(concat(col("text"), lit("z"))))))
    }
    // TrustRank: directed domain edges (10x copies carry 10x distinct
    // domains via the copy-suffixed sources), .com seeds by predicate
    timed("web_trustrank", webify(webBase), webify(web10)) { df =>
      val edges = graft.ops.WebOps.linkGraph(df, "url", "html")
        .filter(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
      graft.ops.GraphOps.trustRankSeedBy(edges, "sd", "dd",
        col("node").endsWith(".com"), iterations = 10)
    }
    // HITS: the double-half-step loop over the same directed graph
    timed("web_hits", webify(webBase), webify(web10)) { df =>
      val edges = graft.ops.WebOps.linkGraph(df, "url", "html")
        .filter(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("sd"), col("dst_domain").as("dd"))
      graft.ops.GraphOps.hits(edges, "sd", "dd", iterations = 8)
    }
    // co-citation: ordered-pair self-join under the skew cap - the
    // quadratic-per-source shape the cap exists to bound
    timed("web_cocite", webify(webBase), webify(web10)) { df =>
      graft.ops.WebOps.coCitation(
        graft.ops.WebOps.linkGraph(df, "url", "html")
          .select(col("src_domain"), col("dst_domain")),
        "src_domain", "dst_domain", maxFanout = 50)
    }
    // per-domain page cap under a PLANTED Zipf head: half of every copy
    // lands on ONE mega-domain (the exact shape the old single-window
    // plan serialized on one task). The salted two-phase top-K bounds
    // any window task at slice/16, so 10x the corpus - and 10x the
    // mega-domain - should track ~linearly
    def hotify(df: DataFrame): DataFrame = df.withColumn("url", concat(
      lit("https://"),
      when(col("doc_id") % 2 === 0, lit("mega-domain"))
        .otherwise(concat(lit("s"), (col("doc_id") % 997).cast("string"))),
      lit(".example/p/"), col("doc_id").cast("string")))
    timed("web_domain_cap_hot", hotify(docsT1), hotify(docsT10)) { df =>
      graft.ops.WebOps.domainCap(df.select(col("doc_id"), col("url")),
        "url", "doc_id", maxPerDomain = 20)
    }
    // salted frontier schedule over the same hot fixture: the ranking
    // window is (domain, salt)-keyed, offsets/delays broadcast
    timed("web_frontier_hot", hotify(docsT1), hotify(docsT10)) { df =>
      import spark.implicits._
      val delays = Seq(("mega-domain.example", 2.0)).toDF("domain", "crawl_delay")
      graft.ops.WebOps.frontierSchedule(df.select(col("doc_id"), col("url")),
        "doc_id", "url", delays)
    }

    // ---------------------------------------------------------------
    // iterative-loop family: planted gadget graph with a FIXED round
    // count. Per 20 consecutive ids: a 16-node path (at k=2 it peels
    // exactly 2 endpoints per round - 8 peel rounds, independent of
    // how many gadgets exist) plus a 3-node triangle (the surviving
    // 2-core / a diameter-1 component). Copies are id-disjoint, so the
    // 10x graph is 10x gadgets with the SAME peel depth and component
    // diameter: round count is INVARIANT (printed below to prove it)
    // while every per-round degree aggregate / anti-join / star step
    // carries 10x the edges - the weak-scaling definition for the
    // driver-loop operators. (Partial gadgets at copy-range edges are
    // shorter paths - they peel in <= 8 rounds and never raise the max.)
    // ---------------------------------------------------------------
    def gadgetEdges(df: DataFrame): DataFrame = {
      val base = df.select(col("doc_id").as("id"), (col("doc_id") % 20).as("p"))
      val path = base.filter(col("p") <= 14)
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
      val tri = base.filter(col("p").isin(16, 17))
        .select(col("id").as("src"), (col("id") + 1).as("dst"))
        .union(base.filter(col("p") === 18)
          .select(col("id").as("src"), (col("id") - 2).as("dst")))
      path.union(tri)
    }
    val gadget1 = gadgetEdges(docs1).repartition(cpus).localCheckpoint()
    val gadget10 = gadgetEdges(docs10).repartition(cpus).localCheckpoint()
    println(s"gadget edges: 1x=${gadget1.count()} 10x=${gadget10.count()}")
    locally {
      val (_, k1) = graft.ops.GraphOps.kCoreCounted(gadget1, "src", "dst", k = 2)
      val (_, k10) = graft.ops.GraphOps.kCoreCounted(gadget10, "src", "dst", k = 2)
      val (_, c1) = graft.ops.GraphOps.connectedComponentsStarCounted(gadget1, "src", "dst")
      val (_, c10) = graft.ops.GraphOps.connectedComponentsStarCounted(gadget10, "src", "dst")
      println(s"round invariants: kcore 1x=$k1 10x=$k10 ccstar 1x=$c1 10x=$c10")
    }
    timed("graph_kcore_planted", gadget1, gadget10) { e =>
      graft.ops.GraphOps.kCore(e, "src", "dst", k = 2)
    }
    timed("graph_ccstar_planted", gadget1, gadget10) { e =>
      graft.ops.GraphOps.connectedComponentsStar(e, "src", "dst")
    }
    timed("graph_labelprop_planted", gadget1, gadget10) { e =>
      graft.ops.GraphOps.labelPropagation(e, "src", "dst", rounds = 5)
    }
    timed("graph_pagerank_planted", gadget1, gadget10) { e =>
      graft.ops.GraphOps.pageRank(e, "src", "dst", iterations = 10)
    }

    // ---------------------------------------------------------------
    // 100x rows for the kernelized scans: at 10x these sit at the
    // fixed-overhead floor (ratios 1.2-2.0x), which demonstrates
    // overhead amortizing, not the linear regime. 100 token-suffixed
    // copies vs the 10-copy fixture: a ~10x wall over the 10x row is
    // the linear-regime evidence on 32 cores.
    // ---------------------------------------------------------------
    val docsT100 = (0 until 100).map { c =>
      docsT1.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", "$1" + s"zz$c").as("text"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    println(s"docsT rows: 10x=${docsT10.count()} 100x=${docsT100.count()}")
    timedPair("text_langid", docsT10, docsT100, "10x", "100x") { df =>
      df.select(col("doc_id"), graft.ops.TextOps.langId(col("text")).as("lang"))
    }
    timedPair("text_strip_html", docsT10, docsT100, "10x", "100x") { df =>
      val html = concat(lit("<html><head><script>if (x<3) { y(); }</script>" +
        "<style>p{}</style></head><body><p>"), col("text"),
        lit(" &amp; caf&#233; grin&#128512;</p><!-- c --></body></html>"))
      df.select(col("doc_id"), graft.ops.TextOps.stripHtml(html).as("clean"))
    }
    timedPair("text_repetition", docsT10, docsT100, "10x", "100x") { df =>
      graft.ops.TextOps.repetitionScore(df, "doc_id", "text", n = 3)
    }

    // ---------------------------------------------------------------
    // pretrain-funnel tail (the docs_pretrain_e2e composition minus
    // the Gopher scan, whose weak scaling the scan rows above already
    // pin): exact dedup -> MinHash-LSH fuzzy dedup -> Bloom
    // decontamination -> per-source token budget. Per-copy token
    // suffixes make shingles copy-disjoint (no cross-copy minhash
    // pairs, per-copy eval slices) and per-copy source suffixes grow
    // the stratum table 10x - ten independent funnel problems.
    // Placed LAST: the stage checkpoints leak blocks by design (each
    // survivor frame feeds 2-3 consumers), so the row ends with a
    // blanket unpersist no later row depends on.
    // ---------------------------------------------------------------
    val docsE1 = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("source"), col("text"))
      .localCheckpoint()
    val docsE10 = (0 until 10).map { c =>
      docsE1.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"),
        concat(col("source"), lit(s"_c$c")).as("source"),
        regexp_replace(col("text"), "(\\S+)", "$1" + s"zz$c").as("text"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    timed("docs_pretrain_tail", docsE1, docsE10) { df =>
      val ed = df.join(graft.ops.DedupOps.exactDedup(df, "doc_id", "text")
          .select("doc_id"), "doc_id")
        .localCheckpoint()
      val pairs = graft.ops.DedupOps.minhashLshPairs(ed, "doc_id", "text",
        numHashes = 64, bands = 8, shingleLen = 3, threshold = 0.5,
        maxBucketSize = 50L)
      val fd = ed.join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // size the Bloom bitset WITH the eval slice (ADVICE r16): a fixed
      // 1<<18 saturates once the arm's distinct 4-gram set outgrows it,
      // the false-positive rate climbs, far more of the corpus gets
      // flagged "contaminated", and the bigger arm then runs a smaller
      // downstream stage - the weak-scaling ratio would understate true
      // cost. ~500 bits per eval doc (~100 distinct 4-grams/doc at
      // ~5 bits/item for k=3), rounded up to a power of two, floored at
      // the original 1<<18. df is a checkpointed leaf, so the sizing
      // count is cheap and OUTSIDE the timed region (timedPair/timed
      // time the returned frame only).
      val evalDocs = df.filter(col("doc_id") % 10 === 0).count()
      val mBits = math.max(1 << 18, Integer.highestOneBit(
        math.min(1L << 30, math.max(1L, evalDocs * 500L) * 2 - 1).toInt))
      println(s"docs_pretrain_tail: evalDocs=$evalDocs mBits=$mBits")
      val flagged = graft.ops.TextOps.bloomDecontam(fd, "doc_id", "text",
        df.filter(col("doc_id") % 10 === 0), "text",
        shingleLen = 4, mBits = mBits, kHashes = 3)
      val clean = fd.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          size(graft.ops.DedupOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.ops.SampleOps.tokenBudgetSample(clean, "doc_id", "source",
        "n_tok", budgetPerStratum = 300.0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("tok_sampled"))
    }
    // 100x pair for the funnel tail: the 1x/10x row sits near the
    // fixed-overhead floor (stage job overheads dominate), so - like
    // the kernel-scan rows above - the linear-regime evidence needs
    // the next decade. Same copy-disjoint construction, 100 strata
    // sets.
    val docsE100 = (0 until 100).map { c =>
      docsE1.select((col("doc_id") + lit(c.toLong * docStride)).as("doc_id"),
        concat(col("source"), lit(s"_c$c")).as("source"),
        regexp_replace(col("text"), "(\\S+)", "$1" + s"zz$c").as("text"))
    }.reduce(_ unionByName _).repartition(cpus).localCheckpoint()
    println(s"docsE rows: 10x=${docsE10.count()} 100x=${docsE100.count()}")
    timedPair("docs_pretrain_tail", docsE10, docsE100, "10x", "100x") { df =>
      val ed = df.join(graft.ops.DedupOps.exactDedup(df, "doc_id", "text")
          .select("doc_id"), "doc_id")
        .localCheckpoint()
      val pairs = graft.ops.DedupOps.minhashLshPairs(ed, "doc_id", "text",
        numHashes = 64, bands = 8, shingleLen = 3, threshold = 0.5,
        maxBucketSize = 50L)
      val fd = ed.join(pairs.select(col("id_b").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .localCheckpoint()
      // size the Bloom bitset WITH the eval slice (ADVICE r16): a fixed
      // 1<<18 saturates once the arm's distinct 4-gram set outgrows it,
      // the false-positive rate climbs, far more of the corpus gets
      // flagged "contaminated", and the bigger arm then runs a smaller
      // downstream stage - the weak-scaling ratio would understate true
      // cost. ~500 bits per eval doc (~100 distinct 4-grams/doc at
      // ~5 bits/item for k=3), rounded up to a power of two, floored at
      // the original 1<<18. df is a checkpointed leaf, so the sizing
      // count is cheap and OUTSIDE the timed region (timedPair/timed
      // time the returned frame only).
      val evalDocs = df.filter(col("doc_id") % 10 === 0).count()
      val mBits = math.max(1 << 18, Integer.highestOneBit(
        math.min(1L << 30, math.max(1L, evalDocs * 500L) * 2 - 1).toInt))
      println(s"docs_pretrain_tail: evalDocs=$evalDocs mBits=$mBits")
      val flagged = graft.ops.TextOps.bloomDecontam(fd, "doc_id", "text",
        df.filter(col("doc_id") % 10 === 0), "text",
        shingleLen = 4, mBits = mBits, kHashes = 3)
      val clean = fd.join(flagged.select("doc_id"), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("source"),
          size(graft.ops.DedupOps.tokens(col("text"))).cast("long").as("n_tok"))
      graft.ops.SampleOps.tokenBudgetSample(clean, "doc_id", "source",
        "n_tok", budgetPerStratum = 300.0)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sampled"), sum(col("n_tok")).as("tok_sampled"))
    }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    spark.stop()
  }
}
