package graft.registry

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{DedupOps, GraphOps, SearchOps, SimilarityOps}
import Fixtures._

/** Similarity search and graphs: exact and approximate nearest neighbours
  * (LSH, PQ, IVF, persisted indexes), embedding transforms, entity
  * resolution and the graph operators.
  */
object SimilarityQueries extends Family {

  query("knn_cosine") { (s, dir) =>
    val emb = tbl(s, dir, "embeddings")
    SimilarityOps.bruteTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }(
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(q.qv, q.qv)) *
      |            sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
      |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
      |         sim
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
      |FROM ranked WHERE rank <= 5""".stripMargin)
  query("emb_hard_negatives") { (s, dir) =>
    // contrastive-training negative mining: per anchor, the top-5
    // most-similar DIFFERENT-label vectors (maximally confusing
    // non-matches); label inequality rides the broadcast join, so
    // the corpus pass stays shuffle-free
    val emb = tbl(s, dir, "embeddings")
    SimilarityOps.hardNegatives(emb, "vec_id", "embedding", "label",
      emb.filter(col("vec_id") < 10), k = 5)
  }(
    // knn replay with the label-inequality predicate in place of the
    // self-exclusion (different label implies a different vector, so
    // no separate self-filter is needed)
    """WITH q AS (SELECT vec_id AS anchor_id, label AS anchor_label,
      |                  embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.anchor_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
      |         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(q.qv, q.qv)) *
      |            sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
      |  FROM q CROSS JOIN embeddings e WHERE e.label <> q.anchor_label
      |), ranked AS (
      |  SELECT anchor_id, neighbor_id, neighbor_label,
      |         ROW_NUMBER() OVER (PARTITION BY anchor_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
      |         sim
      |  FROM scored
      |)
      |SELECT anchor_id, neighbor_id, neighbor_label,
      |       CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
      |FROM ranked WHERE rank <= 5""".stripMargin)
  query("search_eval") { (s, dir) =>
    // retrieval-quality scoring: run the brute-force top-5 and grade
    // it against label-match qrels (same-label vectors are the
    // relevant set) - recall@5 / precision@5 / reciprocal rank per
    // query, integers + per-query divisions only (cross-query float
    // averages are summation-order traps; callers fold the integers)
    val emb = tbl(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val retrieved = SimilarityOps.bruteTopK(
      emb, "vec_id", "embedding", queries, "vec_id", "embedding", k = 5)
    val qrels = queries
      .select(col("vec_id").as("query_id"), col("label").as("gr_qlabel"))
      .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        col("gr_qlabel") === col("label"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    SearchOps.retrievalEval(
      retrieved, "query_id", "neighbor_id", "rank", qrels, k = 5)
  }(
    // knn_cosine's top-5 replay graded against label-match qrels; the
    // divisions are spelled in CAST(... AS DOUBLE) so neither engine
    // routes them through DECIMAL
    """WITH q AS (SELECT vec_id AS query_id, label AS q_label,
      |                  embedding::DOUBLE[] AS qv
      |           FROM embeddings WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id,
      |         list_dot_product(q.qv, e.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(q.qv, q.qv)) *
      |            sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))) AS sim
      |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id
      |), ret AS (
      |  SELECT query_id, neighbor_id, rk FROM (
      |    SELECT query_id, neighbor_id,
      |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rk
      |    FROM scored) WHERE rk <= 5
      |), qr AS (
      |  SELECT q.query_id, e.vec_id AS neighbor_id
      |  FROM q JOIN embeddings e ON e.label = q.q_label AND e.vec_id <> q.query_id
      |), nrel AS (SELECT query_id, count(*) AS n_rel FROM qr GROUP BY query_id),
      |h AS (
      |  SELECT r.query_id, r.rk,
      |         CASE WHEN qr.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM ret r LEFT JOIN qr
      |    ON r.query_id = qr.query_id AND r.neighbor_id = qr.neighbor_id
      |), agg AS (
      |  SELECT query_id, count(*) AS n_ret, sum(hit) AS n_hit,
      |         min(CASE WHEN hit = 1 THEN rk END) AS fr
      |  FROM h GROUP BY query_id
      |)
      |SELECT a.query_id,
      |       CAST(coalesce(n.n_rel, 0) AS BIGINT) AS n_rel,
      |       CAST(a.n_ret AS BIGINT) AS n_ret,
      |       CAST(a.n_hit AS BIGINT) AS n_hit,
      |       CAST(coalesce(a.fr, 0) AS INT) AS first_rank,
      |       round(CASE WHEN a.fr IS NOT NULL
      |                  THEN CAST(1 AS DOUBLE) / a.fr
      |                  ELSE CAST(0 AS DOUBLE) END, 6) AS rr,
      |       round(CASE WHEN coalesce(n.n_rel, 0) > 0
      |                  THEN CAST(a.n_hit AS DOUBLE) / CAST(n.n_rel AS DOUBLE)
      |                  ELSE CAST(0 AS DOUBLE) END, 6) AS recall_k,
      |       round(CAST(a.n_hit AS DOUBLE) / 5, 6) AS precision_k
      |FROM agg a LEFT JOIN nrel n ON a.query_id = n.query_id""".stripMargin)
  query("ann_lsh") { (s, dir) =>
    // deterministic in (seed, dim, bits): the oracle replays the
    // hyperplane signs with the SAME interpolated plane constants
    val emb = tbl(s, dir, "embeddings")
    SimilarityOps.lshTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, dim = 64, bits = 6)
  }(
    s"""WITH v AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), bk AS (
      |  SELECT id, SUM(CASE WHEN list_dot_product(v.v, p.pv) >= 0 THEN (2**p.pb)::BIGINT ELSE 0 END) AS bucket
      |  FROM v CROSS JOIN ${planeValues(64, 6, 42L)}
      |  GROUP BY id
      |), b AS (
      |  SELECT v.id, v.v, v.nrm, bk.bucket FROM v JOIN bk ON v.id = bk.id
      |), scored AS ( -- candidates = the query's bucket only (single probe)
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      |  FROM b q JOIN b c ON q.bucket = c.bucket AND q.id <> c.id
      |  WHERE q.id < 10
      |), ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
      |FROM ranked WHERE rank <= 5""".stripMargin)
  query("ann_pq") { (s, dir) =>
    // product quantization with ADC + exact re-rank: the
    // memory-compression ANN path (numSub BYTES per vector instead of
    // dim floats). Deterministic seed codebooks (first numCodes
    // normalized vectors' slices) keep the whole pipeline
    // oracle-replayable, like ann_ivf's lloydIters = 0 contract.
    val emb = tbl(s, dir, "embeddings")
    SimilarityOps.pqTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, numSub = 8, numCodes = 16, rerank = 50)
  }(pqOracleSql)
  query("ann_ivf") { (s, dir) =>
    // lloydIters = 0 makes the whole pipeline a deterministic function
    // of the data (seed centroids = first nCentroids vectors by id,
    // normalized), so the DuckDB oracle replays coarse quantization +
    // probing + exact re-ranking bit-for-bit. The Lloyd-refined path
    // stays covered by the ScalaTest recall spec - distributed FP
    // summation makes refined centroids deterministic only up to
    // reduction order, which is not oracle material.
    val emb = tbl(s, dir, "embeddings")
    SimilarityOps.ivfTopK(emb, "vec_id", "embedding",
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, nCentroids = 32, nProbe = 8, lloydIters = 0)
  }(ivfOracleSql)
  query("ann_pq_persisted") { (s, dir) =>
    // PQ lifecycle: build -> write (codebooks + codes) -> read ->
    // query. Same params and oracle as ann_pq: what's exercised is
    // that codebooks/halfs/codes round-trip bit-exact through parquet
    // and the query half is pure plan construction (OpsSpec pins
    // zero jobs). Write-once-per-corpus-version discipline like the
    // other persisted indexes.
    val emb = tbl(s, dir, "embeddings")
    val path = scratchPath("pq_index", dir)
    if (!new java.io.File(s"$path/codes/_SUCCESS").exists())
      SimilarityOps.pqWrite(SimilarityOps.pqBuild(emb, "vec_id", "embedding",
        numSub = 8, numCodes = 16), path)
    SimilarityOps.pqQuery(SimilarityOps.pqRead(s, path),
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, rerank = 50)
  }(
    // identical replay: the persisted round-trip must be lossless
    pqOracleSql)
  query("ann_ivf_persisted") { (s, dir) =>
    // the persisted index lifecycle (the trie writeIndexedTable analog
    // for ANN): build once, write centroids + hive-partitioned lists,
    // read back, query through the stored index. Same params and same
    // oracle as ann_ivf - what's exercised is that persistence
    // round-trips the index exactly (float vectors and the double
    // norms both travel bit-exact through parquet) and that the query
    // half runs without rebuild jobs (pinned by OpsSpec).
    val emb = tblS(s, dir, "embeddings")
    val built = SimilarityOps.ivfBuild(emb, "vec_id", "embedding",
      nCentroids = 32, lloydIters = 0)
    val path = scratchPath("ivf_index", dir)
    SimilarityOps.ivfWrite(built, path)
    val back = SimilarityOps.ivfRead(s, path)
    SimilarityOps.ivfQuery(back,
      emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, nProbe = 8)
  }(
    // identical replay: the persisted round-trip must be lossless
    ivfOracleSql)
  query("emb_project") { (s, dir) =>
    // JL random projection 64 -> 8 dims; deterministic matrix, so the
    // oracle replays the projection with the SAME interpolated
    // constants (flattened to scalar columns - the driver compare
    // sorts by column values, which arrays would break)
    val proj = SimilarityOps.randomProject(
      tbl(s, dir, "embeddings"), "vec_id", "embedding", dim = 64, outDim = 8)
    proj.select(col("vec_id") +: (0 until 8).map(i =>
      round(element_at(col("projected"), i + 1), 6).as(s"p$i")): _*)
  } {
    val ps = graft.functions.ExprKernels.planes(64, 8, 42L)
    val cols = ps.zipWithIndex.map { case (row, i) =>
      s"round(list_dot_product(embedding::DOUBLE[], [${row.mkString(",")}]::DOUBLE[]), 6) AS p$i"
    }.mkString(",\n       ")
    s"SELECT vec_id,\n       $cols\nFROM embeddings"
  }
  query("emb_quantize") { (s, dir) =>
    // symmetric int8 quantization; codes flattened to one csv string
    // (full element-level pinning without array columns, which the
    // driver compare can't sort)
    SimilarityOps.quantizeInt8(tbl(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), round(col("scale"), 6).as("scale6"),
        array_join(transform(col("q"), x => x.cast(StringType)), ",").as("q_codes"))
  }(
    """WITH s AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |         list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
      |           AS scale
      |  FROM embeddings
      |)
      |SELECT vec_id, round(scale, 6) AS scale6,
      |       array_to_string(list_transform(v, x ->
      |         CASE WHEN scale = 0 THEN 0
      |              ELSE greatest(-127, least(127, CAST(floor(x / scale + 0.5) AS INT)))
      |         END), ',') AS q_codes
      |FROM s""".stripMargin)
  query("graph_triangles") { (s, dir) =>
    // cluster-density audit of the semantic similarity graph:
    // triangle counts + local clustering coefficient per node over the
    // mutual-5NN graph (degree <= 5 by construction, so the wedge
    // join is O(k^2 * N); candidates swap to LSH/IVF at larger N)
    val emb = tblS(s, dir, "embeddings")
    val edges = SimilarityOps.mutualKnnEdges(emb, "vec_id", "embedding", k = 5)
    GraphOps.triangleCounts(edges, "a", "b")
      .select(col("node").as("node_id"), col("degree"),
        col("n_triangles"), col("clustering"))
  }(
    // mutual-5NN edges replayed via the knn_cosine sim formula, then
    // triangles by plain id-order joins (the engine's degree-ordered
    // orientation finds the identical triangle set)
    """WITH sims AS (
      |  SELECT a.vec_id AS qa, b.vec_id AS qb,
      |         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
      |           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
      |            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      |), knn AS (
      |  SELECT qa, qb FROM (
      |    SELECT qa, qb, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb ASC) AS rk
      |    FROM sims) WHERE rk <= 5
      |), e AS (
      |  SELECT k1.qa AS a, k1.qb AS b
      |  FROM knn k1 JOIN knn k2 ON k1.qa = k2.qb AND k1.qb = k2.qa
      |  WHERE k1.qa < k1.qb
      |), deg AS (
      |  SELECT node, count(*) AS degree
      |  FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e) GROUP BY 1
      |), tri AS (
      |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |  FROM e e1 JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
      |  JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
      |), pern AS (
      |  SELECT node, count(*) AS n_triangles
      |  FROM (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
      |        UNION ALL SELECT z FROM tri) GROUP BY 1
      |)
      |SELECT d.node AS node_id, d.degree,
      |       coalesce(p.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
      |       CASE WHEN d.degree >= 2
      |            THEN round(2.0::DOUBLE * coalesce(p.n_triangles, 0) /
      |                       (d.degree * (d.degree - 1)), 6)
      |            ELSE CAST(0.0 AS DOUBLE) END AS clustering
      |FROM deg d LEFT JOIN pern p USING (node)""".stripMargin)
  query("graph_kcore") { (s, dir) =>
    // density filter on the same mutual-5NN similarity graph: peel to
    // the 3-core (every surviving vector keeps >= 3 mutual neighbors
    // in the core) - the cohesive-cluster extraction that runs BEFORE
    // anything quadratic; measured peel depth 8-12 rounds on this
    // fixture, each round degree-agg + two key-equality anti-joins
    val emb = tblS(s, dir, "embeddings")
    val edges = SimilarityOps.mutualKnnEdges(emb, "vec_id", "embedding", k = 5)
    GraphOps.kCore(edges, "a", "b", k = 3)
  }(kcoreOracleSql)
  query("er_resolve") { (s, dir) =>
    // entity resolution over a deliberately dirtied catalog: every
    // third part re-enters with a typo'd name and an offset id; the
    // resolver must cluster originals with their typo'd copies (and
    // identical-name listings) via block + JW + connected components.
    // Block = brand + first word + 2-char noun prefix: all stable
    // under the last-char typo, so every true pair shares a block
    val p = tbl(s, dir, "part")
    val base = p.select(col("p_partkey").as("ent_id"),
      col("p_name").as("name"), col("p_brand").as("brand"))
    val dirty = p.filter(col("p_partkey") % 3 === 0)
      .select((col("p_partkey") + lit(10000000L)).as("ent_id"),
        concat(expr("substr(p_name, 1, length(p_name)-1)"), lit("x")).as("name"),
        col("p_brand").as("brand"))
    val ents = base.unionByName(dirty)
    val bk = concat(col("brand"), lit("|"),
      element_at(split(col("name"), " "), 1), lit("|"),
      substring(element_at(split(col("name"), " "), 2), 1, 2))
    DedupOps.resolveEntities(ents, "ent_id", "name", bk, threshold = 0.94)
  }(
    // full replay: dirtied catalog, block key, capped blocks, 6dp-
    // rounded JW threshold edges, then min-id components via the
    // recursive-reach recipe (dedup_clusters); singletons fall back
    // to their own id through the LEFT JOIN
    """WITH RECURSIVE ents AS (
      |  SELECT p_partkey AS ent_id, p_name AS name, p_brand AS brand FROM part
      |  UNION ALL
      |  SELECT p_partkey + 10000000, substr(p_name, 1, length(p_name)-1) || 'x', p_brand
      |  FROM part WHERE p_partkey % 3 = 0
      |), blk AS (
      |  SELECT ent_id, name,
      |         brand || '|' || string_split(name, ' ')[1] || '|' ||
      |         substr(string_split(name, ' ')[2], 1, 2) AS bk
      |  FROM ents
      |), big AS (SELECT bk FROM blk GROUP BY bk HAVING count(*) > 10000),
      |kept AS (SELECT * FROM blk WHERE bk NOT IN (SELECT bk FROM big)),
      |edges AS (
      |  SELECT a.ent_id AS ia, b.ent_id AS ib
      |  FROM kept a JOIN kept b ON a.bk = b.bk AND a.ent_id < b.ent_id
      |  WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.94
      |), und AS (SELECT ia AS a, ib AS b FROM edges UNION SELECT ib, ia FROM edges),
      |reach AS (
      |  SELECT a AS id, b AS peer FROM und
      |  UNION
      |  SELECT r.id, u.b AS peer FROM reach r JOIN und u ON r.peer = u.a
      |)
      |SELECT e.ent_id, coalesce(c.cluster_id, e.ent_id) AS cluster_id
      |FROM ents e
      |LEFT JOIN (SELECT id, least(id, min(peer)) AS cluster_id
      |           FROM reach GROUP BY id) c
      |  ON e.ent_id = c.id""".stripMargin)
  query("graph_pagerank") { (s, dir) =>
    // link-analysis corpus weighting: PageRank over the who-buys-from-
    // whom graph (customer<->supplier edges from orders x lineitem,
    // node ids disambiguated by parity). 10 integer-arithmetic rounds -
    // bit-exact under any aggregation order (GraphOps.pageRank), which
    // is what lets a second engine replay it to an exact hash
    val ord = tblS(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = tblS(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val edges = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    GraphOps.pageRank(edges, "src", "dst", iterations = 10)
      .select(col("node").as("node_id"), col("rank_int"))
  }(pagerankOracleSql)
  query("graph_pagerank_tol") { (s, dir) =>
    // the convergence-stop path under oracle: tol=0 stops only on an
    // exact period-<=2 fixed point and parity-corrects, so its output
    // is BIT-IDENTICAL to the fixed-round path - same oracle as
    // graph_pagerank (whether or not the probe fires at this sf)
    val ord = tblS(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = tblS(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val edges = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    GraphOps.pageRankCounted(edges, "src", "dst", iterations = 10, tol = 0L)._1
      .select(col("node").as("node_id"), col("rank_int"))
  }(
    // the tol=0 convergence path is bit-identical to fixed-round by
    // contract - it must reproduce the SAME unrolled-CTE replay
    pagerankOracleSql)
  query("graph_labelprop") { (s, dir) =>
    // community detection over the same customer<->supplier graph:
    // 5 synchronous label-propagation rounds, most-frequent-neighbor
    // label with min-label tie-break - deterministic integer
    // arithmetic, so the oracle replays all rounds exactly
    val ord = tblS(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
    val li = tblS(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
    val edges = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    GraphOps.labelPropagation(edges, "src", "dst", rounds = 5)
      .select(col("node").as("node_id"), col("lab").as("community"))
  }(labelPropOracleSql)
  query("emb_covariance")((s, dir) =>
    // exact Gram + covariance of the embedding corpus in ONE
    // treeAggregate pass (corpus never shuffles); decimal-fixed
    // accumulation is order-independent, so the oracle re-sums the
    // identical decimals
    SimilarityOps.covarianceUpper(tblS(s, dir, "embeddings"), "embedding", dim = 64))(
    """WITH v AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
      |st AS (SELECT count(*) AS n FROM v),
      |p AS (SELECT s.i, t.j
      |      FROM generate_series(1, 64) s(i), generate_series(1, 64) t(j)
      |      WHERE t.j >= s.i),
      |s2 AS (
      |  SELECT p.i, p.j, sum(CAST(v.v[p.i] * v.v[p.j] AS DECIMAL(38,18))) AS s
      |  FROM v, p GROUP BY 1, 2
      |), s1 AS (
      |  SELECT g.i, sum(CAST(v.v[g.i] AS DECIMAL(38,18))) AS s
      |  FROM v, generate_series(1, 64) g(i) GROUP BY 1
      |)
      |SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j,
      |       round(CAST(s2.s AS DOUBLE) / st.n, 6) + 0.0 AS gram,
      |       round(CAST(s2.s AS DOUBLE) / st.n
      |             - (CAST(a.s AS DOUBLE) / st.n) * (CAST(b.s AS DOUBLE) / st.n), 6)
      |         + 0.0 AS cov
      |FROM p JOIN s2 ON s2.i = p.i AND s2.j = p.j
      |JOIN s1 a ON a.i = p.i JOIN s1 b ON b.i = p.j
      |CROSS JOIN st""".stripMargin)

  // shared by ann_ivf and ann_ivf_persisted: the persisted index must
  // reproduce the in-memory pipeline bit-for-bit, so both replay the
  // same coarse quantization + probing + exact re-ranking
  private lazy val pqOracleSql: String =
      """WITH v AS (
        |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
        |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |  FROM embeddings
        |), n AS (
        |  SELECT id, v, nrm, [x / greatest(nrm, 1e-12) FOR x IN v] AS vn FROM v
        |), seeds AS (
        |  SELECT (ROW_NUMBER() OVER (ORDER BY id)) - 1 AS c, vn
        |  FROM (SELECT id, vn FROM n ORDER BY id LIMIT 16)
        |), cb AS (
        |  SELECT g.m, s.c, s.vn[g.m*8+1 : g.m*8+8] AS cw,
        |         list_dot_product(s.vn[g.m*8+1 : g.m*8+8], s.vn[g.m*8+1 : g.m*8+8]) / 2 AS half
        |  FROM seeds s CROSS JOIN generate_series(0, 7) g(m)
        |), codes AS ( -- PQ encode: argmax (dot - half), ties to smaller code
        |  SELECT id, list(code ORDER BY m) AS codes FROM (
        |    SELECT n.id, cb.m, cb.c AS code,
        |           ROW_NUMBER() OVER (PARTITION BY n.id, cb.m
        |             ORDER BY list_dot_product(n.vn[cb.m*8+1 : cb.m*8+8], cb.cw) - cb.half DESC,
        |                      cb.c ASC) AS rn
        |    FROM n CROSS JOIN cb) WHERE rn = 1
        |  GROUP BY id
        |), lut AS ( -- per-query ADC table, m-major
        |  SELECT id AS query_id, list(d ORDER BY m, c) AS lutarr FROM (
        |    SELECT nq.id, cb.m, cb.c,
        |           list_dot_product(nq.vn[cb.m*8+1 : cb.m*8+8], cb.cw) AS d
        |    FROM n nq CROSS JOIN cb WHERE nq.id < 10)
        |  GROUP BY id
        |), adc AS ( -- fixed-order fold: list_sum over ascending m
        |  SELECT l.query_id, c.id AS neighbor_id,
        |         list_sum([l.lutarr[m*16 + c.codes[m+1] + 1] FOR m IN generate_series(0, 7)]) AS adc
        |  FROM codes c CROSS JOIN lut l
        |  WHERE l.query_id <> c.id
        |), cand AS (
        |  SELECT query_id, neighbor_id FROM (
        |    SELECT query_id, neighbor_id,
        |           ROW_NUMBER() OVER (PARTITION BY query_id
        |                              ORDER BY adc DESC, neighbor_id ASC) AS rn
        |    FROM adc) WHERE rn <= 50
        |), exact AS (
        |  SELECT cand.query_id, cand.neighbor_id,
        |         list_dot_product(q.v, x.v) / (q.nrm * x.nrm) AS sim
        |  FROM cand
        |  JOIN v q ON q.id = cand.query_id
        |  JOIN v x ON x.id = cand.neighbor_id
        |), ranked AS (
        |  SELECT query_id, neighbor_id, sim,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |                            ORDER BY sim DESC, neighbor_id ASC) AS rank
        |  FROM exact
        |)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
        |FROM ranked WHERE rank <= 5""".stripMargin

  private lazy val ivfOracleSql: String =
    """WITH cent AS ( -- seed centroids: first 32 vectors by id, L2-normalized
      |  SELECT (ROW_NUMBER() OVER (ORDER BY vec_id)) - 1 AS cid,
      |         [x / greatest(sqrt(list_dot_product(vv, vv)), 1e-12) FOR x IN vv] AS cv
      |  FROM (SELECT vec_id, embedding::DOUBLE[] AS vv FROM embeddings ORDER BY vec_id LIMIT 32)
      |), v AS (
      |  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
      |         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
      |  FROM embeddings
      |), corpus_assign AS ( -- inverted list = argmax dot(v, centroid)
      |  SELECT id, v, nrm, cid AS list_id FROM (
      |    SELECT v.id, v.v, v.nrm, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY v.id
      |                              ORDER BY list_dot_product(v.v, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v CROSS JOIN cent c
      |  ) WHERE rn = 1
      |), query_probe AS ( -- each query probes its nProbe nearest lists
      |  SELECT id, v, nrm, cid AS list_id FROM (
      |    SELECT v.id, v.v, v.nrm, c.cid,
      |           ROW_NUMBER() OVER (PARTITION BY v.id
      |                              ORDER BY list_dot_product(v.v, c.cv) DESC, c.cid ASC) AS rn
      |    FROM v CROSS JOIN cent c
      |    WHERE v.id < 10
      |  ) WHERE rn <= 8
      |), scored AS (
      |  SELECT q.id AS query_id, c.id AS neighbor_id,
      |         list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS sim
      |  FROM query_probe q JOIN corpus_assign c ON q.list_id = c.list_id AND q.id <> c.id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored
      |)
      |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, round(sim, 6) AS cosine_sim
      |FROM ranked WHERE rank <= 5""".stripMargin

  /** Full replay of GraphOps.labelPropagation's 5 synchronous rounds as
    * unrolled CTEs: per round, each node adopts its neighbors' most
    * frequent label, smallest label on ties (row_number over the
    * grouped vote counts - integer-exact in any engine).
    */
  private def labelPropOracleSql: String = {
    val rounds = (1 to 5).map { i =>
      s"""l$i AS (
         |  SELECT node, lab FROM (
         |    SELECT e.dst AS node, p.lab,
         |           row_number() OVER (PARTITION BY e.dst
         |                              ORDER BY count(*) DESC, p.lab) AS rk
         |    FROM e JOIN l${i - 1} p ON e.src = p.node
         |    GROUP BY e.dst, p.lab
         |  ) WHERE rk = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS (
       |  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
       |                  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), e AS (
       |  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
       |), l0 AS (
       |  SELECT DISTINCT src AS node, src AS lab FROM e
       |), $rounds
       |SELECT node AS node_id, lab AS community FROM l5""".stripMargin
  }

  // full replay of GraphOps.pageRank's 10 integer-arithmetic rounds as
  // 10 unrolled CTEs (DuckDB forbids aggregates in a recursive CTE's
  // recursive term). `//` floors like Spark's `div` on the all-positive
  // ranks; DuckDB's sum(BIGINT) widens to HUGEINT, so each round casts
  // back to BIGINT to keep the typed hash aligned.
  private def pagerankOracleSql: String = {
    val rounds = (1 to 10).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node,
         |         CAST(150000000 + (85 * sum(p.r // d.deg)) // 100 AS BIGINT) AS r
         |  FROM r${i - 1} p JOIN deg d USING (node) JOIN e ON e.src = p.node
         |  GROUP BY 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH e0 AS (
       |  SELECT DISTINCT CAST(o.o_custkey * 2 AS BIGINT) AS src,
       |                  CAST(l.l_suppkey * 2 + 1 AS BIGINT) AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
       |), e AS (
       |  SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0
       |), deg AS (
       |  SELECT src AS node, count(*) AS deg FROM e GROUP BY 1
       |), r0 AS (
       |  SELECT node, CAST(1000000000 AS BIGINT) AS r FROM deg
       |), $rounds
       |SELECT node AS node_id, r AS rank_int FROM r10""".stripMargin
  }

  /** Replay of GraphOps.kCore(k=3) over the mutual-5NN graph: the
    * mutual-kNN edge CTEs (identical to graph_triangles' replay) plus
    * 20 unrolled peel rounds - measured fixpoint is 8-12 rounds on this
    * fixture across sf0.001-0.1, and peeling is stable after the
    * fixpoint, so s20 IS the 3-core - and the trailing UNION ALL
    * asserts it (count(s19) = count(s20), which for a monotone peel is
    * set equality), emitting a poison (-1,-1) row on violation so a
    * too-shallow unroll fails the compare loudly rather than passing
    * on a half-peeled graph. Every round-table is MATERIALIZED:
    * each is referenced three times (degree scan + both NOT IN probes)
    * and plain CTE inlining would expand the 20-round chain
    * exponentially.
    */
  private def kcoreOracleSql: String = {
    val k = 3
    val rounds = (0 until 20).map { r =>
      s""", bad$r AS MATERIALIZED (
         |  SELECT src FROM (SELECT src, count(*) AS deg FROM s$r GROUP BY src)
         |  WHERE deg < $k
         |), s${r + 1} AS MATERIALIZED (
         |  SELECT src, dst FROM s$r
         |  WHERE src NOT IN (SELECT src FROM bad$r)
         |    AND dst NOT IN (SELECT src FROM bad$r)
         |)""".stripMargin
    }.mkString
    s"""WITH sims AS (
       |  SELECT a.vec_id AS qa, b.vec_id AS qb,
       |         list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |           (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |            sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS sim
       |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
       |), knn AS (
       |  SELECT qa, qb FROM (
       |    SELECT qa, qb, ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb ASC) AS rk
       |    FROM sims) WHERE rk <= 5
       |), me AS (
       |  SELECT k1.qa AS a, k1.qb AS b
       |  FROM knn k1 JOIN knn k2 ON k1.qa = k2.qb AND k1.qb = k2.qa
       |  WHERE k1.qa < k1.qb
       |), s0 AS MATERIALIZED (
       |  SELECT a AS src, b AS dst FROM me UNION ALL SELECT b, a FROM me
       |)$rounds
       |SELECT src AS node_id, CAST(count(*) AS BIGINT) AS core_degree
       |FROM s20 GROUP BY src
       |UNION ALL
       |-- convergence assertion: peeling only ever removes rows
       |-- (s(r+1) is a subset of s(r)), so equal counts <=> equal sets.
       |-- If 20 unrolled rounds were ever too shallow for a fixture,
       |-- this emits a poison row no Spark run can produce and the
       |-- driver compare fails LOUDLY instead of silently blessing a
       |-- half-peeled graph.
       |SELECT CAST(-1 AS BIGINT) AS node_id, CAST(-1 AS BIGINT) AS core_degree
       |WHERE (SELECT count(*) FROM s19) <> (SELECT count(*) FROM s20)""".stripMargin
  }
}
