package graft.registry

import org.apache.spark.sql.functions._

import graft.ops.{DedupOps, GraphOps, SampleOps, SimilarityOps, TextOps}
import Fixtures._

/** Deduplication suite: exact, span, sketch (MinHash, SimHash, LSH,
  * winnowing), embedding and fuzzy dedup, clusters and keep-best.
  */
object DedupQueries extends Family {

  query("dedup_exact")((s, dir) => DedupOps.exactDedup(tbl(s, dir, "documents"), "doc_id", "text"))(
    """SELECT min(doc_id) AS doc_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY text""".stripMargin)
  query("dedup_spans") { (s, dir) =>
    // substring-granular exact dedup: 40-char windows, stride 10;
    // flags boilerplate/quote spans shared across documents that
    // whole-document dedup can't see. One shuffle on window text.
    DedupOps.duplicateSpans(tbl(s, dir, "documents"), "doc_id", "text",
      window = 40, step = 10)
  }(
    """WITH d AS (
      |  SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL
      |), w AS (
      |  SELECT doc_id, t, unnest(generate_series(1, len(t) - 39, 10)) AS p FROM d
      |), win AS (
      |  SELECT doc_id, substr(t, p, 40) AS win FROM w
      |), freq AS (
      |  SELECT win, count(DISTINCT doc_id) AS docs_with FROM win GROUP BY win
      |)
      |SELECT doc_id,
      |       count(*) AS n_windows,
      |       CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_dup_windows,
      |       round(CAST(sum(CASE WHEN docs_with >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS dup_ratio
      |FROM win JOIN freq USING (win)
      |GROUP BY doc_id""".stripMargin)
  query("dedup_span_removal") { (s, dir) =>
    // the cleaning step dedup_spans only profiles: excise every
    // 40-char window shared by >= 2 documents, stitch survivors,
    // emit the cleaned text. Same one-shuffle window frequency.
    DedupOps.removeDuplicateSpans(tbl(s, dir, "documents"), "doc_id", "text",
      window = 40, step = 10)
  }(
    // per-character replay of the gap-stitch: a char survives iff no
    // duplicated window covers it - slow-but-simple is fine for the
    // oracle; the Spark side stitches gaps with one HOF fold instead
    """WITH d AS (
      |  SELECT doc_id, text AS t FROM documents WHERE text IS NOT NULL
      |), w0 AS (
      |  SELECT doc_id, t, unnest(generate_series(1, length(t) - 39, 10)) AS p
      |  FROM d WHERE length(t) >= 40
      |), w AS (
      |  SELECT doc_id, CAST(p AS INT) AS p,
      |         lower(substr(t, CAST(p AS INT), 40)) AS win
      |  FROM w0
      |), f AS (
      |  SELECT win, count(DISTINCT doc_id) AS docs_with FROM w GROUP BY win
      |), dup AS (
      |  SELECT w.doc_id, w.p FROM w JOIN f USING (win) WHERE f.docs_with >= 2
      |), nd AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM dup GROUP BY doc_id
      |), ch0 AS (
      |  SELECT doc_id, t, unnest(generate_series(1, length(t))) AS i
      |  FROM d WHERE length(t) >= 1
      |), ch AS (
      |  SELECT doc_id, CAST(i AS INT) AS i, substr(t, CAST(i AS INT), 1) AS c
      |  FROM ch0
      |), cov AS (
      |  SELECT DISTINCT c.doc_id, c.i
      |  FROM ch c JOIN dup u ON c.doc_id = u.doc_id
      |                      AND c.i >= u.p AND c.i < u.p + 40
      |), kept AS (
      |  SELECT c.doc_id,
      |         coalesce(string_agg(CASE WHEN v.i IS NULL THEN c.c END,
      |                             '' ORDER BY c.i), '') AS clean
      |  FROM ch c LEFT JOIN cov v ON c.doc_id = v.doc_id AND c.i = v.i
      |  GROUP BY c.doc_id
      |)
      |SELECT d.doc_id,
      |       coalesce(nd.n_dup, 0) AS n_dup_windows,
      |       coalesce(k.clean, d.t) AS clean_text
      |FROM d
      |LEFT JOIN kept k USING (doc_id)
      |LEFT JOIN nd USING (doc_id)""".stripMargin)
  query("dedup_spans_exact") { (s, dir) =>
    // EXACT-alignment span dedup (the Lee-et-al setting at character
    // granularity): step=1 windows, dup verdict per window, maximal
    // run merge - recovers every cross-doc duplicated region of
    // >= 40 chars exactly, at any alignment, where stride-10 windows
    // can miss short or badly-aligned regions
    DedupOps.exactDuplicateSpans(tblS(s, dir, "documents"), "doc_id", "text",
      minLen = 40)
  }(
    // gaps-and-islands replay of the run merge: same-length windows
    // sorted by start merge iff the gap to the previous start is <= 40
    """WITH d AS (
      |  SELECT doc_id, lower(text) AS t FROM documents WHERE text IS NOT NULL
      |), w0 AS (
      |  SELECT doc_id, t, unnest(generate_series(1, length(t) - 39, 1)) AS p
      |  FROM d WHERE length(t) >= 40
      |), w AS (
      |  SELECT doc_id, CAST(p AS INT) AS p,
      |         substr(t, CAST(p AS INT), 40) AS win
      |  FROM w0
      |), f AS (
      |  SELECT win FROM w GROUP BY win HAVING count(DISTINCT doc_id) >= 2
      |), dup AS (
      |  SELECT w.doc_id, w.p FROM w JOIN f USING (win)
      |), isl AS (
      |  SELECT doc_id, p,
      |         CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) <= 40
      |              THEN 0 ELSE 1 END AS brk
      |  FROM dup
      |), grp AS (
      |  SELECT doc_id, p,
      |         SUM(brk) OVER (PARTITION BY doc_id ORDER BY p
      |                        ROWS UNBOUNDED PRECEDING) AS g
      |  FROM isl
      |)
      |SELECT doc_id,
      |       CAST(min(p) AS INT) AS span_start,
      |       CAST(max(p) + 40 - min(p) AS INT) AS span_len
      |FROM grp GROUP BY doc_id, g""".stripMargin)
  // Skew caps are ON in every shipped sketch-dedup pipeline: one
  // degenerate stop-shingle/boilerplate bucket with B members is an
  // O(B^2) self-join key at corpus scale. The caps are part of the
  // operator's semantics here, so each DuckDB oracle mirrors the same
  // hot-key filter.
  query("dedup_jaccard") { (s, dir) =>
    // plain inverted index: measured 2.5x faster than
    // jaccardPairsPrefix at this corpus size (the prefix filter's
    // extra rank/array shuffles only pay for themselves when the pair
    // explosion dominates, ~10^6+ docs; both are spec-pinned equal
    // and this oracle holds for either)
    DedupOps.jaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.5, maxTokenDocFreq = skewCap, shingleLen = 3)
  }(
    s"""WITH sh AS (
      |  SELECT doc_id AS id,
      |         unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                               FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS tok
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                   t -> t <> '') AS tk FROM documents)
      |), flt AS ( -- mirror of the engine's hot-token skew cap
      |  SELECT id, tok FROM sh
      |  WHERE tok NOT IN (SELECT tok FROM sh GROUP BY tok HAVING COUNT(*) > $skewCap)
      |), sizes AS (SELECT id, COUNT(*) AS sz FROM flt GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      |  FROM flt a JOIN flt b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY a.id, b.id
      |)
      |SELECT id_a, id_b,
      |       round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
      |FROM inter
      |JOIN sizes sa ON id_a = sa.id
      |JOIN sizes sb ON id_b = sb.id
      |WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5""".stripMargin)
  query("dedup_containment") { (s, dir) =>
    // overlap-coefficient pairs: the containment detector Jaccard
    // structurally misses (a short doc fully quoted inside a long one
    // has overlap 1.0 but Jaccard ~ |short|/|long|) - the pass that
    // catches subset/quotation/boilerplate-wrapper documents
    DedupOps.containmentPairs(tbl(s, dir, "documents"), "doc_id", "text",
      threshold = 0.8, maxTokenDocFreq = skewCap, shingleLen = 2)
  }(
    s"""WITH sh AS (
      |  SELECT doc_id AS id,
      |         unnest(list_distinct([array_to_string(tk[i:i+1], ' ')
      |                               FOR i IN generate_series(1, greatest(len(tk)-1, 1))])) AS tok
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                   t -> t <> '') AS tk FROM documents)
      |), flt AS (
      |  SELECT id, tok FROM sh
      |  WHERE tok NOT IN (SELECT tok FROM sh GROUP BY tok HAVING COUNT(*) > $skewCap)
      |), sizes AS (SELECT id, COUNT(*) AS sz FROM flt GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      |  FROM flt a JOIN flt b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY a.id, b.id
      |)
      |SELECT id_a, id_b,
      |       round(i::DOUBLE / least(sa.sz, sb.sz), 6) AS overlap
      |FROM inter
      |JOIN sizes sa ON id_a = sa.id
      |JOIN sizes sb ON id_b = sb.id
      |WHERE i::DOUBLE / least(sa.sz, sb.sz) >= 0.8""".stripMargin)
  query("dedup_minhash") { (s, dir) =>
    // md5-based signatures + slice band keys: the oracle replays the
    // ENTIRE sketch pipeline (signatures, banding, skew cap, estimate)
    // independently in DuckDB - a full hash-match, not rows-only
    DedupOps.minhashLshPairs(tbl(s, dir, "documents"), "doc_id", "text",
      numHashes = 64, bands = 8, shingleLen = 3, threshold = 0.5,
      maxBucketSize = skewCap)
  }(
    // Sketch replays: the md5-based kernels are reimplemented from scratch
    // in DuckDB SQL with the engine's own constants interpolated in, so
    // these are full hash-matches, not rows-only checks.
    s"""WITH coef(h, a, b) AS (VALUES ${coefValues(64, 42)}),
      |tk AS (
      |  SELECT doc_id AS id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                   t -> t <> '') AS tk FROM documents
      |), sh AS (
      |  SELECT id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                                   FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS sh
      |  FROM tk
      |), hv AS ( -- per-shingle base value: first 15 md5 hex chars mod the Mersenne prime
      |  SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647 AS s FROM sh
      |), sigv AS (
      |  SELECT id, h, min((a * s + b) % 2147483647) AS v
      |  FROM hv CROSS JOIN coef GROUP BY id, h
      |), sig AS (
      |  SELECT id, list(v ORDER BY h) AS sig FROM sigv GROUP BY id
      |), banded AS ( -- band key = the signature slice itself (8 longs per band)
      |  SELECT id, sig, band, sig[band*8+1 : band*8+8] AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS band)
      |), keep AS ( -- mirror of the engine's bucket-size skew cap
      |  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING COUNT(*) <= $skewCap
      |), b2 AS (
      |  SELECT banded.* FROM banded SEMI JOIN keep USING (band, bucket)
      |), pairs AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM b2 x JOIN b2 y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
      |), est AS ( -- Jaccard estimate = fraction of agreeing signature positions
      |  SELECT id_a, id_b,
      |         len([i FOR i IN generate_series(1, 64) IF sa.sig[i] = sb.sig[i]]) / 64.0 AS e
      |  FROM pairs JOIN sig sa ON id_a = sa.id JOIN sig sb ON id_b = sb.id
      |)
      |SELECT id_a, id_b, round(e, 6) AS est_jaccard FROM est WHERE e >= 0.5""".stripMargin)
  query("dedup_simhash") { (s, dir) =>
    DedupOps.simhashPairs(tbl(s, dir, "documents"), "doc_id", "text",
      maxHamming = 3, maxBlockSize = skewCap)
  }(
    s"""WITH tk AS (
      |  SELECT doc_id AS id, unnest(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                          t -> t <> '')) AS tok FROM documents
      |), th AS ( -- 64-bit token hash: first 16 md5 hex chars as unsigned
      |  SELECT id, ('0x' || substr(md5(tok), 1, 16))::UBIGINT AS h FROM tk
      |), votes AS ( -- each token votes +-1 per bit
      |  SELECT id, j, SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS cnt
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j)
      |  GROUP BY id, j
      |), bits AS ( -- docs with zero tokens get all-zero bits; NULL-text
      |             -- docs are excluded entirely (engine: simhash64(NULL)
      |             -- is NULL and null block keys never join)
      |  SELECT d.doc_id AS id, jj.j,
      |         CASE WHEN coalesce(v.cnt, 0) > 0 THEN 1 ELSE 0 END AS bit
      |  FROM (SELECT doc_id FROM documents WHERE text IS NOT NULL) d
      |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS j) jj
      |  LEFT JOIN votes v ON v.id = d.doc_id AND v.j = jj.j
      |), bl AS (
      |  SELECT id, list(bit ORDER BY j) AS bl FROM bits GROUP BY id
      |), keyed AS ( -- pigeonhole blocks: 4 x 16-bit slices of the fingerprint
      |  SELECT id, bl, blk,
      |         list_sum([bl[blk*16 + jj] * (2**(jj-1))::BIGINT FOR jj IN generate_series(1, 16)]) AS key
      |  FROM bl CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS blk)
      |), keep AS ( -- mirror of the engine's block-size skew cap
      |  SELECT blk, key FROM keyed GROUP BY blk, key HAVING COUNT(*) <= $skewCap
      |), k2 AS (
      |  SELECT keyed.* FROM keyed SEMI JOIN keep USING (blk, key)
      |), pairs AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM k2 x JOIN k2 y ON x.blk = y.blk AND x.key = y.key AND x.id < y.id
      |), ham AS (
      |  SELECT id_a, id_b,
      |         len([i FOR i IN generate_series(1, 64) IF a.bl[i] <> b.bl[i]]) AS hamming
      |  FROM pairs JOIN bl a ON id_a = a.id JOIN bl b ON id_b = b.id
      |)
      |SELECT id_a, id_b, CAST(hamming AS INT) AS hamming FROM ham WHERE hamming <= 3""".stripMargin)
  query("dedup_embedding") { (s, dir) =>
    // oracle replays the hyperplane bucketing with the SAME plane
    // constants (interpolated into the SQL), then exact cosine
    SimilarityOps.cosinePairs(tbl(s, dir, "embeddings"), "vec_id", "embedding",
      threshold = 0.35, dim = 64, bits = 4)
  }(
    s"""WITH v AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), bk AS ( -- sign-pattern bucket from the engine's own hyperplanes
      |  SELECT id, SUM(CASE WHEN list_dot_product(v.v, p.pv) >= 0 THEN (2**p.pb)::BIGINT ELSE 0 END) AS bucket
      |  FROM v CROSS JOIN ${planeValues(64, 4, 42L)}
      |  GROUP BY id
      |), b AS (
      |  SELECT v.id, v.v, v.nrm, bk.bucket FROM v JOIN bk ON v.id = bk.id
      |)
      |SELECT a.id AS id_a, b2.id AS id_b,
      |       round(list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm), 6) AS cosine_sim
      |FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
      |WHERE list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) >= 0.35""".stripMargin)
  query("dedup_semantic") { (s, dir) =>
    // semantic (embedding-space) dedup end-to-end: LSH-bucketed exact
    // cosine pairs -> connected components -> cluster labels. The
    // composition a semantic-dedup pass actually runs; both stages'
    // replays already exist and the oracle chains them.
    val pairs = SimilarityOps.cosinePairs(tbl(s, dir, "embeddings"),
      "vec_id", "embedding", threshold = 0.35, dim = 64, bits = 4)
    GraphOps.connectedComponents(pairs, "id_a", "id_b")
  }(
    s"""WITH RECURSIVE v AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), bk AS ( -- sign-pattern bucket from the engine's own hyperplanes
      |  SELECT id, SUM(CASE WHEN list_dot_product(v.v, p.pv) >= 0 THEN (2**p.pb)::BIGINT ELSE 0 END) AS bucket
      |  FROM v CROSS JOIN ${planeValues(64, 4, 42L)}
      |  GROUP BY id
      |), b AS (
      |  SELECT v.id, v.v, v.nrm, bk.bucket FROM v JOIN bk ON v.id = bk.id
      |), edges AS (
      |  SELECT a.id AS id_a, b2.id AS id_b
      |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.id < b2.id
      |  WHERE list_dot_product(a.v, b2.v) / (a.nrm * b2.nrm) >= 0.35
      |), und AS (
      |  SELECT id_a AS a, id_b AS b FROM edges
      |  UNION SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT a AS id, b AS peer FROM und
      |  UNION
      |  SELECT r.id, u.b AS peer FROM reach r JOIN und u ON r.peer = u.a
      |)
      |SELECT id, least(id, min(peer)) AS cluster_id FROM reach GROUP BY id""".stripMargin)
  query("dedup_fuzzy") { (s, dir) =>
    // trie-accelerated fuzzy dedup: the reference's algorithm applied
    // to the training-data problem it was built for - vocabulary
    // normalization by edit-distance clusters
    DedupOps.fuzzyDedup(docWords(s, dir), "word", maxDist = 1)
  }(
    """WITH RECURSIVE v AS (
      |  SELECT w FROM (
      |    SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\s+')) AS w
      |    FROM documents
      |  ) WHERE w <> ''
      |), edges AS (
      |  SELECT a.w AS a, b.w AS b FROM v a JOIN v b
      |  ON a.w < b.w AND levenshtein(a.w, b.w) <= 1
      |), und AS (
      |  SELECT a, b FROM edges UNION SELECT b, a FROM edges
      |), reach AS (
      |  SELECT a AS id, b AS peer FROM und
      |  UNION
      |  SELECT r.id, u.b AS peer FROM reach r JOIN und u ON r.peer = u.a
      |)
      |SELECT v.w AS value,
      |       coalesce(least(v.w, m.mn), v.w) AS cluster_id
      |FROM v LEFT JOIN (SELECT id, min(peer) AS mn FROM reach GROUP BY id) m
      |ON v.w = m.id""".stripMargin)
  query("dedup_clusters") { (s, dir) =>
    // near-dup pairs -> duplicate clusters: connected components by
    // min-label propagation (GraphOps), oracled by a recursive CTE
    GraphOps.connectedComponents(
      DedupOps.jaccardPairs(tbl(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5, maxTokenDocFreq = skewCap, shingleLen = 3),
      "id_a", "id_b")
  }(
    s"""WITH RECURSIVE sh AS (
      |  SELECT doc_id AS id,
      |         unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                               FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS tok
      |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                                   t -> t <> '') AS tk FROM documents)
      |), flt AS ( -- mirror of the engine's hot-token skew cap
      |  SELECT id, tok FROM sh
      |  WHERE tok NOT IN (SELECT tok FROM sh GROUP BY tok HAVING COUNT(*) > $skewCap)
      |), sizes AS (SELECT id, COUNT(*) AS sz FROM flt GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      |  FROM flt a JOIN flt b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY a.id, b.id
      |), edges AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON id_a = sa.id
      |  JOIN sizes sb ON id_b = sb.id
      |  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
      |), und AS (
      |  SELECT id_a AS a, id_b AS b FROM edges
      |  UNION SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT a AS id, b AS peer FROM und
      |  UNION
      |  SELECT r.id, u.b AS peer FROM reach r JOIN und u ON r.peer = u.a
      |)
      |SELECT id, least(id, min(peer)) AS cluster_id FROM reach GROUP BY id""".stripMargin)
  query("dedup_keep_best") { (s, dir) =>
    // the full near-dup pipeline end-to-end: pairs -> clusters ->
    // one surviving doc per cluster (best quality score, ties to the
    // smallest id). Singleton docs survive as their own cluster.
    val docs = tbl(s, dir, "documents")
    val clusters = GraphOps.connectedComponents(
      DedupOps.jaccardPairs(docs, "doc_id", "text",
        threshold = 0.5, maxTokenDocFreq = skewCap, shingleLen = 3),
      "id_a", "id_b")
    val scored = docs.join(
      TextOps.qualitySignals(docs, "doc_id", "text")
        .select(col("doc_id").as("qid"), col("quality_score")),
      col("doc_id") === col("qid"))
    DedupOps.keepBestPerCluster(scored, "doc_id", "quality_score", clusters)
  }(
    s"""WITH RECURSIVE base AS (
      |  SELECT doc_id, text,
      |         list_filter(string_split_regex(lower(trim(text)), '\\s+'), t -> t <> '') AS tk
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id AS id,
      |         unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                               FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS tok
      |  FROM base
      |), flt AS (
      |  SELECT id, tok FROM sh
      |  WHERE tok NOT IN (SELECT tok FROM sh GROUP BY tok HAVING COUNT(*) > $skewCap)
      |), sizes AS (SELECT id, COUNT(*) AS sz FROM flt GROUP BY id),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS i
      |  FROM flt a JOIN flt b ON a.tok = b.tok AND a.id < b.id
      |  GROUP BY a.id, b.id
      |), edges AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON id_a = sa.id
      |  JOIN sizes sb ON id_b = sb.id
      |  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
      |), und AS (
      |  SELECT id_a AS a, id_b AS b FROM edges
      |  UNION SELECT id_b, id_a FROM edges
      |), reach AS (
      |  SELECT a AS id, b AS peer FROM und
      |  UNION
      |  SELECT r.id, u.b AS peer FROM reach r JOIN und u ON r.peer = u.a
      |), clus AS (
      |  SELECT id, least(id, min(peer)) AS cluster_id FROM reach GROUP BY id
      |), quality AS (
      |  SELECT doc_id,
      |         round(CASE WHEN len(tk) BETWEEN 20 AND 5000 THEN 0.25 ELSE 0 END
      |             + CASE WHEN length(regexp_replace(trim(text), '\\s+', '', 'g'))::DOUBLE / len(tk)
      |                         BETWEEN 2.0 AND 12.0 THEN 0.25 ELSE 0 END
      |             + CASE WHEN (length(text) - length(regexp_replace(text, '[A-Za-z ]', '', 'g')))::DOUBLE
      |                         / greatest(length(text), 1) >= 0.8 THEN 0.25 ELSE 0 END
      |             + CASE WHEN len(list_distinct(tk))::DOUBLE / greatest(len(tk), 1) >= 0.3
      |                    THEN 0.25 ELSE 0 END, 2) AS q
      |  FROM base
      |), all_docs AS (
      |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS cluster_id, q.q
      |  FROM documents d
      |  LEFT JOIN clus c ON d.doc_id = c.id
      |  JOIN quality q ON d.doc_id = q.doc_id
      |), ranked AS (
      |  SELECT cluster_id, doc_id,
      |         ROW_NUMBER() OVER (PARTITION BY cluster_id ORDER BY q DESC, doc_id ASC) AS rk,
      |         COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
      |  FROM all_docs
      |)
      |SELECT cluster_id, doc_id, n_members FROM ranked WHERE rk = 1""".stripMargin)
  query("dedup_lsh_audit") { (s, dir) =>
    // measure-don't-guess: recall/precision of the banded MinHash
    // pipeline vs exact Jaccard at the same threshold, on a
    // deterministic half-corpus sample - how bands/numHashes get
    // tuned before a corpus-wide run
    DedupOps.lshAudit(tbl(s, dir, "documents"), "doc_id", "text",
      sampleFraction = 0.5, threshold = 0.5)
  }(
    // composed replay: the md5 half-sample, the exact shingle
    // Jaccard join, the full minhash/banding pipeline (16 bands of
    // 4, no cap), and the audit arithmetic
    s"""WITH coef(h, a, b) AS (VALUES ${coefValues(64, 42)}),
      |samp AS (
      |  SELECT doc_id AS id, text FROM documents
      |  WHERE text IS NOT NULL
      |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${SampleOps.hexThreshold(0.5)}'
      |), tk AS (
      |  SELECT id, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                         t -> t <> '') AS tk FROM samp
      |), sh AS (
      |  SELECT id, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                                   FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS sh
      |  FROM tk
      |), sizes AS (SELECT id, count(*) AS sz FROM sh GROUP BY 1),
      |inter AS (
      |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.id < b.id
      |  GROUP BY 1, 2
      |), exact AS (
      |  SELECT id_a, id_b FROM inter
      |  JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
      |  WHERE i::DOUBLE / (sa.sz + sb.sz - i) >= 0.5
      |), hv AS (
      |  SELECT id, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647 AS s FROM sh
      |), sigv AS (
      |  SELECT id, h, min((a * s + b) % 2147483647) AS v
      |  FROM hv CROSS JOIN coef GROUP BY 1, 2
      |), sig AS (SELECT id, list(v ORDER BY h) AS sig FROM sigv GROUP BY 1),
      |banded AS (
      |  SELECT id, sig, band, sig[band*4+1 : band*4+4] AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band)
      |), cand AS (
      |  SELECT DISTINCT x.id AS id_a, y.id AS id_b
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
      |), lsh AS (
      |  SELECT id_a, id_b FROM (
      |    SELECT cand.id_a, cand.id_b,
      |           len([i FOR i IN generate_series(1, 64) IF sa.sig[i] = sb.sig[i]]) / 64.0 AS e
      |    FROM cand JOIN sig sa ON cand.id_a = sa.id JOIN sig sb ON cand.id_b = sb.id)
      |  WHERE e >= 0.5
      |), joined AS (
      |  SELECT coalesce(e.id_a, l.id_a) AS id_a,
      |         CASE WHEN e.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
      |         CASE WHEN l.id_a IS NOT NULL THEN 1 ELSE 0 END AS in_lsh
      |  FROM exact e FULL OUTER JOIN lsh l
      |    ON e.id_a = l.id_a AND e.id_b = l.id_b
      |), agg AS (
      |  SELECT (SELECT count(*) FROM samp) AS n_docs,
      |         CAST(sum(in_exact) AS BIGINT) AS n_exact,
      |         CAST(sum(in_lsh) AS BIGINT) AS n_lsh,
      |         CAST(sum(in_exact * in_lsh) AS BIGINT) AS n_both
      |  FROM joined
      |)
      |SELECT n_docs, n_exact, n_lsh, n_both,
      |       CASE WHEN n_exact > 0
      |            THEN round(CAST(n_both AS DOUBLE) / n_exact, 6) END AS recall,
      |       CASE WHEN n_lsh > 0
      |            THEN round(CAST(n_both AS DOUBLE) / n_lsh, 6) END AS precision
      |FROM agg""".stripMargin)
  query("dedup_incremental") { (s, dir) =>
    // the incremental-dedup lifecycle: sign + band the corpus once
    // into a persisted LSH index, then dedup a NEW crawl batch
    // against it - corpus text never re-scanned. The batch here is
    // near-dup copies of every 7th corpus doc (suffixed text, offset
    // ids), so hits exist at every SF; the oracle replays signatures
    // for both sides and the band-bucket probe
    val docs = tbl(s, dir, "documents").filter(col("text").isNotNull)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val batch = corpus.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"),
        concat(col("text"), lit(" zz end")).as("text"))
    val path = scratchPath("lsh_index", dir)
    if (!new java.io.File(s"$path/meta/_SUCCESS").exists())
      DedupOps.lshWrite(DedupOps.lshBuild(corpus, "doc_id", "text"), path)
    val (idx, nb) = DedupOps.lshRead(s, path)
    DedupOps.lshProbe(idx, batch, "doc_id", "text",
      threshold = 0.5, nBuckets = Some(nb))
  }(
    // full lifecycle replay: both sides' signatures from the same
    // md5 + affine-coefficient chain, 16 bands of 4 (the build's
    // banding), bucket equi-join, agreement verify, best-match pick
    s"""WITH coef(h, a, b) AS (VALUES ${coefValues(64, 42)}),
      |corpus AS (
      |  SELECT doc_id AS id, text FROM documents
      |  WHERE text IS NOT NULL AND doc_id % 10 <> 0
      |), newb AS (
      |  SELECT id + 1000000 AS id, text || ' zz end' AS text
      |  FROM corpus WHERE id % 7 = 0
      |), allr AS (
      |  SELECT id, text, 'c' AS side FROM corpus
      |  UNION ALL SELECT id, text, 'n' FROM newb
      |), tk AS (
      |  SELECT id, side, list_filter(string_split_regex(lower(trim(text)), '\\s+'),
      |                               t -> t <> '') AS tk FROM allr
      |), sh AS (
      |  SELECT id, side, unnest(list_distinct([array_to_string(tk[i:i+2], ' ')
      |                                         FOR i IN generate_series(1, greatest(len(tk)-2, 1))])) AS sh
      |  FROM tk
      |), hv AS (
      |  SELECT id, side, ('0x' || substr(md5(sh), 1, 15))::BIGINT % 2147483647 AS s FROM sh
      |), sigv AS (
      |  SELECT id, side, h, min((a * s + b) % 2147483647) AS v
      |  FROM hv CROSS JOIN coef GROUP BY 1, 2, 3
      |), sig AS (
      |  SELECT id, side, list(v ORDER BY h) AS sig FROM sigv GROUP BY 1, 2
      |), bandc AS (
      |  SELECT id, band, sig[band*4+1 : band*4+4] AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band)
      |  WHERE side = 'c'
      |), bandn AS (
      |  SELECT id, band, sig[band*4+1 : band*4+4] AS bucket
      |  FROM sig CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS band)
      |  WHERE side = 'n'
      |), cand AS (
      |  SELECT DISTINCT c.id AS corpus_id, n.id AS new_id
      |  FROM bandc c JOIN bandn n ON c.band = n.band AND c.bucket = n.bucket
      |), est AS (
      |  SELECT cand.new_id, cand.corpus_id,
      |         len([i FOR i IN generate_series(1, 64) IF sc.sig[i] = sn.sig[i]]) / 64.0 AS e
      |  FROM cand
      |  JOIN sig sc ON cand.corpus_id = sc.id AND sc.side = 'c'
      |  JOIN sig sn ON cand.new_id = sn.id AND sn.side = 'n'
      |), best AS (
      |  SELECT new_id, corpus_id, e,
      |         row_number() OVER (PARTITION BY new_id
      |                            ORDER BY e DESC, corpus_id ASC) AS rk
      |  FROM est WHERE e >= 0.5
      |)
      |SELECT new_id, corpus_id AS dup_of, round(e, 6) AS est_jaccard
      |FROM best WHERE rk = 1""".stripMargin)
  query("dedup_winnow") { (s, dir) =>
    // winnowing-based near-dup pairs: docs sharing >= 8 selected
    // fingerprints - the MOSS pairing step. The synthetic corpus is
    // template-heavy, so the hot-fp cap is tighter than skewCap and
    // the evidence threshold higher: 38 true near-dup pairs at
    // sf0.01, not a 88k-pair boilerplate hairball
    DedupOps.winnowPairs(tblS(s, dir, "documents"), "doc_id", "text",
      k = 8, w = 4, minShared = 8, maxFpDocFreq = 20)
  }(
    s"""WITH $winnowWindowSql, sel AS (
      |  SELECT DISTINCT doc_id, cmin // 2147483648 AS fp
      |  FROM m WHERE pos >= 4
      |), hot AS (
      |  SELECT fp FROM (SELECT fp, count(*) AS c FROM sel GROUP BY 1)
      |  WHERE c > 20
      |), kept AS (
      |  SELECT s.doc_id, s.fp FROM sel s ANTI JOIN hot USING (fp)
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
      |FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING count(*) >= 8""".stripMargin)
}
