package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.types._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every vector top-k here has two steps (REPOSE's split, PAPERS.md):
  * a candidate join that prunes the (query, neighbor) pairs, then one
  * exact local top-k over the survivors, [[topKByCosine]]. The entry
  * points differ only in the candidate join and its exclusion
  * predicate:
  *   - [[bruteTopK]] / [[hardNegatives]]: every corpus vector against
  *     the broadcast query set (exact).
  *   - [[lshTopK]] / [[hardNegativesApprox]]: random-hyperplane LSH -
  *     the query's bucket (optionally multi-probe) by equi-join. The
  *     100 TB path: candidate set per query shrinks by ~2^bits.
  *   - [[ivfQuery]]: the `nProbe` nearest inverted lists.
  *   - [[pqQuery]]: the top `rerank` by product-quantized ADC score.
  *
  * The top-k contract the DuckDB oracles replay: exact cosine
  * `dot(qv, cv) / (qn * cn)` in double (native codegen kernels), ties
  * by `neighbor_id` ascending, `rank` an int, `cosine_sim` rounded to
  * 6 dp.
  */
object SimilarityOps {

  /** Cosine similarity between two array<numeric> columns, in double. */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Dot product / L2 norm as native codegen expressions
    * (graft.functions.{VecDot, VecNorm}): double accumulation in element
    * order, bit-identical to the `aggregate(zip_with(...))` trees they
    * replace - which are interpreted per element, don't participate in
    * whole-stage codegen, and made these stages allocation-bound.
    */
  def dot(a: Column, b: Column): Column = graft.functions.GraftFunctions.vec_dot(a, b)

  def norm(a: Column): Column = graft.functions.GraftFunctions.vec_norm(a)

  /** The candidate side of every vector top-k:
    * `(neighbor_id, carried..., cv, cn)`. The norm is attached per
    * VECTOR (once), not per pair, so the pair stage computes only the
    * dot product - the same expression tree per value as [[cosine]].
    * A column derived from the vector (`bucket`, `list_id`) follows as
    * a `withColumn` over `cv`, which the optimizer folds into this one
    * projection.
    */
  private def vectors(df: DataFrame, id: String, vec: String, carried: Column*): DataFrame =
    df.select((F.col(id).as("neighbor_id") +: carried) ++
      Seq(F.col(vec).as("cv"), norm(F.col(vec)).as("cn")): _*)

  /** The exact local top-k every vector top-k ends in. `candidates`
    * carries `key`, `neighbor_id`, the query vector and norm (`qv`,
    * `qn`) and the neighbor's (`cv`, `cn`); the output is
    * `(key, neighbor_id, carried..., rank, cosine_sim)`: per `key`, the
    * `k` best by (cosine desc, neighbor_id asc), `rank` an int and the
    * cosine rounded to 6 dp.
    */
  private def topKByCosine(
      candidates: DataFrame,
      key: String,
      k: Int,
      carried: String*
  ): DataFrame = {
    val w = Window
      .partitionBy(key)
      .orderBy(F.col("cosine_sim").desc, F.col("neighbor_id").asc)
    candidates
      .withColumn("cosine_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(F.col("rank") <= k)
      .select(Seq(F.col(key), F.col("neighbor_id")) ++ carried.map(F.col) ++ Seq(
        F.col("rank").cast(IntegerType).as("rank"),
        round(F.col("cosine_sim"), 6).as("cosine_sim")): _*)
  }

  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss):
    * project `vecCol` (length `dim`) onto `outDim` fixed Gaussian
    * directions - the standard cheap preprocessing before storing or
    * indexing high-dimensional embeddings. The matrix is a deterministic
    * function of (dim, outDim, seed) (same generator as the LSH
    * hyperplanes), so results are reproducible across runs AND engines:
    * the correctness oracle replays the projection with interpolated
    * constants. Per-row arithmetic only - zero shuffles, scan-speed.
    */
  def randomProject(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      outDim: Int,
      seed: Long = 42L
  ): DataFrame = {
    val planes = graft.functions.ExprKernels.planes(dim, outDim, seed)
    val v = F.col(vecCol).cast(ArrayType(DoubleType))
    val comps = planes.toSeq.map(row => dot(v, typedLit(row.toSeq)))
    df.select(F.col(idCol), array(comps: _*).as("projected"))
  }

  /** Exact top-k nearest neighbours by cosine for each query vector.
    *
    * `queries` is expected to be small (it is broadcast); the corpus side
    * streams, every corpus vector a candidate except the query itself.
    * Output: (query_id, neighbor_id, rank, cosine_sim).
    */
  def bruteTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int
  ): DataFrame = {
    val q = broadcast(
      queries.select(F.col(queryId).as("query_id"), F.col(queryVec).as("qv"),
        norm(F.col(queryVec)).as("qn")))
    val cand = vectors(OpsUtil.spread(corpus), corpusId, corpusVec)
      .join(q, F.col("query_id") =!= F.col("neighbor_id")) // self excluded
    topKByCosine(cand, "query_id", k)
  }

  /** Hard-negative mining for contrastive/retrieval training: per
    * anchor, the top-k most-similar corpus vectors carrying a
    * DIFFERENT label - maximally confusing non-matches, the negatives
    * that actually move a bi-encoder (random negatives are too easy;
    * same-label neighbors are positives, not negatives).
    *
    * The candidates of [[bruteTopK]] with label inequality in place of
    * the self-exclusion (it rides the broadcast join condition - the
    * corpus-side scan stays shuffle-free). At corpus scale,
    * [[hardNegativesApprox]] takes the LSH candidates instead - mining
    * is recall-tolerant by definition (a missed hard negative is just a
    * slightly easier one).
    *
    * Output: (anchor_id, neighbor_id, neighbor_label, rank,
    * cosine_sim).
    */
  def hardNegatives(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      anchors: DataFrame,
      k: Int
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val q = broadcast(
      anchors.select(F.col(idCol).as("anchor_id"), F.col(vecCol).as("qv"),
        F.col(labelCol).as("anchor_label"), norm(F.col(vecCol)).as("qn")))
    val cand = vectors(OpsUtil.spread(corpus), idCol, vecCol,
        F.col(labelCol).as("neighbor_label"))
      .join(q, F.col("anchor_label") =!= F.col("neighbor_label"))
    topKByCosine(cand, "anchor_id", k, "neighbor_label")
  }

  /** The corpus-scale path of [[hardNegatives]]: the candidates of
    * [[lshTopK]] (the anchor's LSH bucket(s), a hash-bucket equi-join,
    * no broadcast nested loop over everything) with the same
    * label-inequality filter. Mining is recall-tolerant by definition -
    * a missed hard negative is a slightly easier one - so the LSH
    * recall/bits trade (multi-probe recovers across-one-hyperplane
    * misses) applies unchanged; OpsSpec pins recall against the exact
    * miner.
    *
    * Output schema matches [[hardNegatives]].
    */
  def hardNegativesApprox(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      anchors: DataFrame,
      k: Int,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L,
      multiProbe: Boolean = true
  ): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    val cb = vectors(OpsUtil.spread(corpus), idCol, vecCol, F.col(labelCol).as("neighbor_label"))
      .withColumn("bucket", lshBucket(F.col("cv"), dim, bits, seed))
    val qb = broadcast(anchors.select(
      F.col(idCol).as("anchor_id"),
      F.col(labelCol).as("anchor_label"),
      F.col(vecCol).as("qv"),
      norm(F.col(vecCol)).as("qn"),
      explode(lshProbes(F.col(vecCol), dim, bits, seed, multiProbe)).as("bucket")))
    val joined = cb
      .join(qb, Seq("bucket"))
      .filter(F.col("anchor_label") =!= F.col("neighbor_label"))
    val cand =
      if (multiProbe) joined.dropDuplicates("anchor_id", "neighbor_id") else joined
    topKByCosine(cand, "anchor_id", k, "neighbor_label")
  }

  /** Sign-pattern bucket id from `bits` fixed random hyperplanes
    * (deterministic in `seed` and the vector dimension `dim`). Native
    * codegen expression; plane matrix generated once per JVM, in the
    * same (seed, order) as the expression-tree version it replaces.
    */
  def lshBucket(vec: Column, dim: Int, bits: Int, seed: Long): Column =
    graft.functions.GraftFunctions.rh_bucket(vec, dim, bits, seed)

  /** The buckets a query vector probes: its own [[lshBucket]], plus
    * under `multiProbe` every Hamming-1 neighbor bucket (bits + 1
    * probes).
    */
  private def lshProbes(vec: Column, dim: Int, bits: Int, seed: Long, multiProbe: Boolean): Column = {
    val exact = lshBucket(vec, dim, bits, seed)
    if (!multiProbe) array(exact)
    else array(exact +: (0 until bits).map(i => exact.bitwiseXOR(lit(1L << i))): _*)
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket
    * (equi-join on bucket id - no cross join). Recall grows with fewer
    * bits / more probes; `bits` trades candidate-set size vs recall.
    * `multiProbe` additionally probes every Hamming-1 neighbor bucket
    * of the query's bucket (bits+1 probes total): a near neighbor that
    * landed just across one hyperplane is recovered without rebuilding
    * the index - the standard recall knob when re-hashing is expensive.
    * Only the (small, broadcast) query side fans out; the corpus is
    * still hashed exactly once.
    */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      dim: Int,
      bits: Int = 8,
      seed: Long = 42L,
      multiProbe: Boolean = false
  ): DataFrame = {
    val cb = vectors(OpsUtil.spread(corpus), corpusId, corpusVec)
      .withColumn("bucket", lshBucket(F.col("cv"), dim, bits, seed))
    val qb = broadcast(queries.select(
      F.col(queryId).as("query_id"),
      F.col(queryVec).as("qv"),
      norm(F.col(queryVec)).as("qn"),
      explode(lshProbes(F.col(queryVec), dim, bits, seed, multiProbe)).as("bucket")))
    val joined = cb
      .join(qb, Seq("bucket"))
      .filter(F.col("query_id") =!= F.col("neighbor_id"))
    // multi-probe only: a corpus vector can collide with several probes
    // of one query (single-probe pairs are unique - skip the shuffle)
    val cand =
      if (multiProbe) joined.dropDuplicates("query_id", "neighbor_id") else joined
    topKByCosine(cand, "query_id", k)
  }

  /** An IVF index: L2-normalized centroids (list id = array position)
    * plus the corpus assigned to inverted lists
    * (`neighbor_id, cv, cn, list_id`). Built once ([[ivfBuild]]),
    * optionally persisted ([[ivfWrite]]/[[ivfRead]] - the trie's
    * writeIndexedTable analog), queried many times ([[ivfQuery]])
    * without relaunching seeding/Lloyd jobs.
    */
  case class IvfIndex(centroids: Array[Array[Double]], lists: DataFrame)

  /** Build an IVF index: seed centroids from the first `nCentroids`
    * vectors by id, refine with `lloydIters` distributed k-means steps
    * (assign -> per-partition partial sums -> recenter; the sums shuffle
    * (nCentroids x dim) doubles, never corpus vectors), then assign every
    * corpus vector to its nearest centroid's inverted list. List sizes
    * adapt to the data distribution - the scale story vs LSH buckets.
    * (Distributed FP summation makes refined centroids deterministic
    * only up to reduction order - irrelevant at the recall level this
    * serves, same caveat as every distributed k-means.)
    */
  def ivfBuild(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      nCentroids: Int = 64,
      lloydIters: Int = 2
  ): IvfIndex = {
    val spark = corpus.sparkSession
    // deterministic centroid seed: first nCentroids vectors by id
    var centroids: Array[(Int, Array[Double])] = corpus
      .select(F.col(corpusId).cast("long").as("id"), F.col(corpusVec).as("v"))
      .orderBy("id")
      .limit(nCentroids)
      .collect()
      .zipWithIndex
      .map { case (r, i) =>
        val v = r.getAs[scala.collection.Seq[Number]]("v").map(_.doubleValue()).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        (i, v.map(_ / math.max(n, 1e-12)))
      }
    // Lloyd step as treeAggregate of per-partition partial sums: each
    // task accumulates (sum-vector, count) per centroid locally, the
    // driver combines nCentroids x dim doubles - NO shuffle of corpus
    // rows (genuine per-partition imperative logic, the one place RDD
    // beats the DataFrame formulation: posexplode+groupBy moved |corpus|
    // x dim rows through an exchange per iteration)
    if (lloydIters > 0) {
      import spark.implicits._
      val dim0 = centroids.headOption.map(_._2.length).getOrElse(0)
      val nC = centroids.length
      // persist: every iteration re-reads the corpus otherwise (scan +
      // spread's repartition, once per Lloyd step)
      val vecs = OpsUtil.spread(corpus.select(F.col(corpusVec)))
        .as[Seq[Float]].rdd
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      for (_ <- 0 until lloydIters) {
        val bcIter = spark.sparkContext.broadcast(centroids)
        val zero: (Array[Array[Double]], Array[Long]) =
          (Array.fill(nC)(new Array[Double](dim0)), new Array[Long](nC))
        val (sums, counts) = vecs.treeAggregate(zero)(
          seqOp = { case ((s, c), v) =>
            val cs = bcIter.value
            var best = 0; var bestD = Double.NegativeInfinity
            var ci = 0
            while (ci < cs.length) {
              val cv = cs(ci)._2
              var d = 0.0; var i = 0
              val n = math.min(v.length, cv.length)
              while (i < n) { d += v(i).toDouble * cv(i); i += 1 }
              if (d > bestD) { bestD = d; best = ci }
              ci += 1
            }
            val acc = s(best)
            var i = 0
            val n = math.min(v.length, dim0)
            while (i < n) { acc(i) += v(i); i += 1 }
            c(best) += 1
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var ci = 0
            while (ci < nC) {
              val a = s1(ci); val b = s2(ci)
              var i = 0
              while (i < dim0) { a(i) += b(i); i += 1 }
              c1(ci) += c2(ci)
              ci += 1
            }
            (s1, c1)
          })
        centroids = centroids.zipWithIndex.map { case ((cid, old), ci) =>
          if (counts(ci) > 0) {
            val mean = sums(ci).map(_ / counts(ci))
            val nrm = math.sqrt(mean.map(x => x * x).sum)
            (cid, mean.map(_ / math.max(nrm, 1e-12)))
          } else (cid, old) // empty cluster keeps its seed
        }
        bcIter.destroy() // per-iteration broadcast, not needed past here
      }
      vecs.unpersist(blocking = false)
    }
    // centroid assignment as a native codegen expression: the matrix
    // rides in the expression's reference array (shipped once per stage
    // with the task binary - same cost as the explicit broadcast of the
    // boxed-UDF formulation this replaces, but codegen'd and
    // allocation-free on the corpus-sized side). Index == cid by
    // construction (seeding and Lloyd both preserve position).
    val centMatrix = centroids.map(_._2)
    IvfIndex(centMatrix, ivfAssign(OpsUtil.spread(corpus), corpusId, corpusVec, centMatrix))
  }

  /** The inverted-lists table shape: each vector assigned to its
    * nearest centroid (codegen expression, matrix in the reference
    * array). Shared by [[ivfBuild]] and the streaming maintenance path
    * ([[graft.streaming.StreamOps.ivfMaintenance]]) so both produce
    * bit-identical assignments for a given centroid matrix.
    */
  def ivfAssign(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]]
  ): DataFrame =
    vectors(df, idCol, vecCol).withColumn("list_id",
      element_at(graft.functions.GraftFunctions.nearest_lists(F.col("cv"), centroids, 1), 1))

  /** Query an IVF index: the candidates are the `nProbe` lists nearest
    * to each query vector, ranked by [[topKByCosine]]. Pure plan
    * construction - launches NO jobs itself (pinned by OpsSpec), so a
    * built/read index amortizes over any number of query batches;
    * `nProbe` trades recall for candidate count without rebuilding.
    */
  def ivfQuery(
      index: IvfIndex,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nProbe: Int = 8
  ): DataFrame = {
    val qb = broadcast(queries.select(
      F.col(queryId).as("query_id"),
      F.col(queryVec).as("qv"),
      norm(F.col(queryVec)).as("qn"),
      explode(
        graft.functions.GraftFunctions.nearest_lists(F.col(queryVec), index.centroids, nProbe)
      ).as("list_id")))
    val cand = index.lists
      .join(qb, Seq("list_id"))
      .filter(F.col("query_id") =!= F.col("neighbor_id"))
    topKByCosine(cand, "query_id", k)
  }

  /** Persist an IVF index: centroids as one small parquet
    * (`cid, cv`), lists hive-partitioned on `list_id` via
    * Sinks.writePartitioned - so a query batch probing `nProbe` of
    * `nCentroids` lists prunes the rest at file listing, and a hot list
    * (skewed cluster) fans out over `filesPerValue` files instead of one
    * writer task absorbing it.
    */
  def ivfWrite(index: IvfIndex, path: String, filesPerValue: Int = 1): Unit = {
    val spark = index.lists.sparkSession
    import spark.implicits._
    index.centroids.zipWithIndex
      .map { case (cv, cid) => (cid, cv.toSeq) }.toSeq
      .toDF("cid", "cv")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
    graft.sources.Sinks.writePartitioned(
      index.lists, s"$path/lists", Seq("list_id"), filesPerValue)
  }

  /** Read a persisted IVF index back. The centroid matrix is k-sized
    * (collected to the driver, as at build time); the lists stay a lazy
    * partitioned scan, so [[ivfQuery]] on the result reads only probed
    * list directories.
    */
  def ivfRead(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("cid")
      .collect()
      .map(_.getAs[scala.collection.Seq[Double]]("cv").toArray)
    IvfIndex(cents, spark.read.parquet(s"$path/lists"))
  }

  /** One-shot IVF approximate top-k: build + query in one call (the
    * persisted lifecycle is ivfBuild -> ivfWrite / ivfRead -> ivfQuery).
    */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nCentroids: Int = 64,
      nProbe: Int = 8,
      lloydIters: Int = 2
  ): DataFrame =
    ivfQuery(
      ivfBuild(corpus, corpusId, corpusVec, nCentroids, lloydIters),
      queries, queryId, queryVec, k, nProbe)

  /** Product-quantization approximate top-k (ADC with exact re-rank) -
    * the memory-compression scale path of the ANN family: at 100 TB the
    * corpus's float vectors (dim x 4 bytes) don't fit hot storage, but
    * the PQ codes (`numSub` BYTES per vector - 8 bytes vs 256 here) do.
    *
    * Codebooks are deterministic (the reason this is oracle-replayable,
    * same stance as [[ivfTopK]]'s lloydIters = 0 contract): codeword c
    * of subspace m is the m-th slice of the c-th L2-NORMALIZED corpus
    * vector by id order. Encoding picks, per subspace, the codeword
    * maximizing `dot(x_m, cw) - ||cw||^2/2` (argmin squared L2 spelled
    * as an element-order dot, so any engine with a sequential dot
    * product replays it bit-for-bit; ties to the smaller code) - one
    * `pq_encode` codegen kernel call per row, ONE corpus pass.
    *
    * Query time: each query precomputes its `numSub x numCodes` ADC
    * lookup table (broadcast with the query batch); per corpus row the
    * approximate score is a FIXED-ORDER fold of `numSub` table lookups
    * - deterministic double summation, never an aggregation-order
    * dependent SUM. The top `rerank` candidates per query by
    * (adc desc, id) go to [[topKByCosine]], so the output is exact
    * similarity over an approximate candidate set - recall is
    * spec-measured vs brute force.
    *
    * Lifecycle: [[pqBuild]] -> [[pqWrite]] / [[pqRead]] -> [[pqQuery]];
    * [[pqTopK]] is the one-shot build+query composition.
    *
    * A built PQ index: codebooks + their half-squared-norms (driver
    * arrays, numSub x numCodes x sub doubles) and the encoded corpus -
    * `(neighbor_id, cv, cn, codes)`. The codes column (numSub ints;
    * numSub BYTES in a real code store) is the hot part; cv/cn ride
    * along for the exact re-rank.
    */
  case class PqIndex(
      codebooks: Array[Array[Array[Double]]],
      halfs: Array[Array[Double]],
      codes: DataFrame)

  /** Build a PQ index with deterministic seed codebooks (see [[pqTopK]]
    * for the full contract). ONE corpus pass: normalize, `pq_encode`
    * kernel, done - no iteration, no shuffle.
    */
  def pqBuild(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      numSub: Int = 8,
      numCodes: Int = 16
  ): PqIndex = {
    require(numSub >= 1 && numCodes >= 1, "need numSub/numCodes >= 1")
    // deterministic codebook seed: first numCodes vectors by id,
    // normalized in the driver with the same element-order arithmetic
    // the oracle's list_dot_product replays
    val seeds: Array[Array[Double]] = corpus
      .select(F.col(corpusId).cast("long").as("id"), F.col(corpusVec).as("v"))
      .orderBy("id").limit(numCodes).collect()
      .map { r =>
        val v = r.getAs[scala.collection.Seq[Number]]("v").map(_.doubleValue()).toArray
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / math.max(n, 1e-12))
      }
    val dim = seeds.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % numSub == 0, s"dim $dim must be a positive multiple of numSub $numSub")
    val sub = dim / numSub
    val codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(numSub)(m => seeds.map(_.slice(m * sub, (m + 1) * sub)))
    val halfs: Array[Array[Double]] = codebooks.map(_.map { cw =>
      var d = 0.0
      var i = 0
      while (i < cw.length) { d += cw(i) * cw(i); i += 1 }
      d / 2
    })
    PqIndex(codebooks, halfs,
      pqEncodeRows(OpsUtil.spread(corpus), corpusId, corpusVec, codebooks, halfs))
  }

  /** Encode rows against FROZEN codebooks into the codes-table schema
    * `(neighbor_id, cv, cn, codes)` - the per-row pure function shared
    * by [[pqBuild]] and the streaming maintenance path
    * (StreamOps.pqMaintenance), so maintained codes are bit-identical
    * to encoding the merged corpus once.
    */
  private[graft] def pqEncodeRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      codebooks: Array[Array[Array[Double]]],
      halfs: Array[Array[Double]]
  ): DataFrame =
    pqWithNorm(df, idCol, vecCol, "neighbor_id")
      .withColumn("codes", graft.functions.GraftFunctions.pq_encode(F.col("vn"), codebooks, halfs))
      .select(F.col("neighbor_id"), F.col("v").as("cv"), F.col("nrm").as("cn"), F.col("codes"))

  private def pqWithNorm(df: DataFrame, id: String, vec: String, idAs: String): DataFrame =
    df.select(F.col(id).as(idAs), F.col(vec).as("v"), norm(F.col(vec)).as("nrm"))
      .withColumn("vn", transform(F.col("v"), x => x / greatest(F.col("nrm"), lit(1e-12))))

  /** Query a built/persisted PQ index: per-query ADC lookup tables
    * (broadcast with the query batch), FIXED-order fold over subspaces,
    * the top `rerank` candidates to [[topKByCosine]]. Pure plan
    * construction - zero jobs until an action (spec-pinned), so a read
    * index serves query batches with no corpus re-encode.
    */
  def pqQuery(
      index: PqIndex,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      rerank: Int = 50
  ): DataFrame = {
    require(rerank >= k, s"rerank ($rerank) must be >= k ($k)")
    val numSub = index.codebooks.length
    val numCodes = index.codebooks(0).length
    val sub = index.codebooks(0)(0).length
    // per-query ADC lookup table, m-major (index m*numCodes + c)
    val lutEntries: Seq[Column] = for {
      m <- 0 until numSub
      c <- 0 until numCodes
    } yield dot(slice(F.col("vn"), m * sub + 1, sub),
      array(index.codebooks(m)(c).map(lit(_)): _*))
    val q = broadcast(pqWithNorm(queries, queryId, queryVec, "query_id")
      .select(F.col("query_id"), F.col("v").as("qv"), F.col("nrm").as("qn"),
        array(lutEntries: _*).as("lutarr")))
    // FIXED-ORDER fold over subspaces: deterministic double summation
    val adcCol = aggregate(sequence(lit(0), lit(numSub - 1)), lit(0.0),
      (acc, m) => acc + element_at(F.col("lutarr"),
        (m * numCodes + element_at(F.col("codes"), m + 1) + 1).cast(IntegerType)))
    val wAdc = Window.partitionBy("query_id").orderBy(F.col("adc").desc, F.col("neighbor_id").asc)
    val cand = index.codes
      .join(q, F.col("query_id") =!= F.col("neighbor_id"))
      .withColumn("adc", adcCol)
      .withColumn("rn", row_number().over(wAdc))
      .filter(F.col("rn") <= rerank)
    topKByCosine(cand, "query_id", k)
  }

  /** Persist a PQ index: codebooks (with halfs) as one small parquet,
    * the encoded corpus as another. The codebooks define the index
    * version - re-seeding is a rebuild, not maintenance.
    */
  def pqWrite(index: PqIndex, path: String): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    val flat = for {
      m <- index.codebooks.indices
      c <- index.codebooks(m).indices
    } yield (m, c, index.codebooks(m)(c).toSeq, index.halfs(m)(c))
    flat.toDF("m", "c", "cw", "half")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebooks")
    index.codes.write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Read a persisted PQ index back: codebooks collected to the driver
    * (numSub x numCodes x sub doubles - KBs), codes stay a lazy scan.
    */
  def pqRead(spark: org.apache.spark.sql.SparkSession, path: String): PqIndex = {
    val flat = spark.read.parquet(s"$path/codebooks")
      .orderBy("m", "c")
      .collect()
      .map(r => (r.getAs[Int]("m"), r.getAs[Int]("c"),
        r.getAs[scala.collection.Seq[Double]]("cw").toArray, r.getAs[Double]("half")))
    val numSub = flat.map(_._1).max + 1
    val codebooks = Array.tabulate(numSub)(m =>
      flat.filter(_._1 == m).sortBy(_._2).map(_._3))
    val halfs = Array.tabulate(numSub)(m =>
      flat.filter(_._1 == m).sortBy(_._2).map(_._4))
    PqIndex(codebooks, halfs, spark.read.parquet(s"$path/codes"))
  }

  def pqTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      numSub: Int = 8,
      numCodes: Int = 16,
      rerank: Int = 50
  ): DataFrame =
    pqQuery(pqBuild(corpus, corpusId, corpusVec, numSub, numCodes),
      queries, queryId, queryVec, k, rerank)

  /** All pairs with cosine >= threshold, LSH-bucketed (embedding near-dup
    * dedup). Exact cosine verified on bucket-collision candidates only.
    */
  def cosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 6,
      seed: Long = 42L
  ): DataFrame = {
    val b = OpsUtil.spread(df).select(
      F.col(idCol).as("id"),
      F.col(vecCol).as("v"),
      norm(F.col(vecCol)).as("nrm"),
      lshBucket(F.col(vecCol), dim, bits, seed).as("bucket"))
    b.as("a")
      .join(b.as("b").hint("shuffle_hash"),
        F.col("a.bucket") === F.col("b.bucket") && F.col("a.id") < F.col("b.id"))
      .withColumn("cosine_sim",
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")))
      .filter(F.col("cosine_sim") >= threshold)
      .select(F.col("a.id").as("id_a"), F.col("b.id").as("id_b"),
        round(F.col("cosine_sim"), 6).as("cosine_sim"))
  }

  /** Mutual-kNN graph over an embedding corpus: undirected edge (a, b)
    * iff b is among a's exact top-k cosine neighbors AND vice versa -
    * the standard sparse similarity graph for semantic clustering
    * (each node's degree <= k by construction, so downstream graph
    * algorithms - connected components, [[GraphOps.triangleCounts]] -
    * run on O(k*N) edges, never O(N^2)).
    *
    * Candidates here are the exact brute-force kNN ([[bruteTopK]]
    * corpus-vs-corpus); at larger N swap in [[lshTopK]] / [[ivfTopK]]
    * candidates - the mutual filter and everything downstream is
    * unchanged. The mutual filter is one self-join of the k*N kNN list
    * on the reversed pair - narrow keys, no vectors move.
    *
    * Output: (a, b) with a < b, each undirected edge once.
    */
  def mutualKnnEdges(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val knn = bruteTopK(corpus, idCol, vecCol, corpus, idCol, vecCol, k)
      .select(F.col("query_id").as("q"), F.col("neighbor_id").as("n"))
      .localCheckpoint() // both sides of the mutual self-join
    knn.as("f")
      .join(knn.as("r"),
        F.col("f.q") === F.col("r.n") && F.col("f.n") === F.col("r.q"))
      .filter(F.col("f.q") < F.col("f.n"))
      .select(F.col("f.q").as("a"), F.col("f.n").as("b"))
  }

  /** Symmetric int8 quantization of an embedding column - the standard
    * 4x storage/bandwidth cut before indexing or serving a vector
    * corpus. Per vector: scale = max|v| / 127, q_i = round-half-up of
    * v_i/scale clamped to [-127, 127] (zero vector -> all-zero codes,
    * scale 0).
    *
    * Per-row arithmetic only (transform/aggregate HOFs over the array) -
    * zero shuffles, scan-speed, and a pure function of the input, so a
    * second engine replays it exactly: rounding is spelled
    * floor(x + 0.5) (identical in any IEEE engine, no
    * HALF_UP-vs-HALF_EVEN ambiguity).
    *
    * Output: idCol, `scale` (double), `q` (array<int> codes).
    */
  /** Exact second-moment (Gram) and covariance matrix of an embedding
    * column - the input PCA / whitening / linear-probe pipelines need
    * from a vector corpus.
    *
    * One `treeAggregate` pass (the Lloyd-kernel discipline: partial
    * sums merge up a tree, the corpus never shuffles; the d*(d+3)/2+1
    * accumulator is driver-sized). Accumulation is EXACT: each
    * elementwise product of two floats is exact in double (24-bit
    * mantissas), each term is fixed to 18 decimal places the way the
    * SQL DECIMAL cast does it, and decimal addition is associative - so
    * the result is bit-identical under any partitioning/merge order and
    * replayable by a second engine (the oracle re-sums the same
    * decimals). The final divisions/rounding run as DataFrame
    * expressions over the driver-built sums so both engines spell the
    * identical double formula.
    *
    * Output: (i, j, gram = S2_ij/n, cov = gram - mean_i * mean_j) for
    * 1 <= i <= j <= dim, both rounded to 6dp.
    */
  def covarianceUpper(df: DataFrame, vecCol: String, dim: Int): DataFrame = {
    require(dim >= 1, s"dim must be positive, got $dim")
    import java.math.{BigDecimal => JBD, RoundingMode}
    val spark = df.sparkSession
    val nPairs = dim * (dim + 1) / 2
    def fix(d: Double): JBD = new JBD(d).setScale(18, RoundingMode.HALF_UP)
    // acc = [count, s1(dim), s2(nPairs)] - count rides along as a BigDecimal
    def zero() = Array.fill(1 + dim + nPairs)(JBD.ZERO)
    val sums = df.select(F.col(vecCol).cast(ArrayType(DoubleType))).rdd
      .treeAggregate(zero())(
        (acc, row) => {
          val v = row.getSeq[Double](0)
          if (v != null && v.length >= dim) {
            acc(0) = acc(0).add(JBD.ONE)
            var i = 0
            var idx = 1 + dim
            while (i < dim) {
              acc(1 + i) = acc(1 + i).add(fix(v(i)))
              var j = i
              while (j < dim) {
                acc(idx) = acc(idx).add(fix(v(i) * v(j)))
                idx += 1; j += 1
              }
              i += 1
            }
          }
          acc
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) = a(i).add(b(i)); i += 1 }; a })
    val n = sums(0).longValueExact()
    var idx = 1 + dim
    val rows = for (i <- 0 until dim; j <- i until dim) yield {
      val r = (i + 1, j + 1, BigDecimal(sums(idx)), BigDecimal(sums(1 + i)), BigDecimal(sums(1 + j)))
      idx += 1
      r
    }
    import spark.implicits._
    // + 0.0 folds IEEE negative zero to +0.0 (round() can yield -0.0,
    // whose text form would differ between engines)
    rows.toDF("i", "j", "s2", "s1i", "s1j")
      .select(F.col("i"), F.col("j"),
        (round(F.col("s2").cast(DoubleType) / n, 6) + lit(0.0)).as("gram"),
        (round(F.col("s2").cast(DoubleType) / n -
          (F.col("s1i").cast(DoubleType) / n) * (F.col("s1j").cast(DoubleType) / n), 6)
          + lit(0.0)).as("cov"))
  }

  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(F.col(idCol), F.col(vecCol).cast(ArrayType(DoubleType)).as("v"))
      .withColumn("scale", array_max(transform(F.col("v"), x => abs(x))) / lit(127.0))
      .withColumn("q", transform(F.col("v"), x =>
        when(F.col("scale") === 0.0, lit(0))
          .otherwise(greatest(lit(-127),
            least(lit(127), floor(x / F.col("scale") + lit(0.5)).cast(IntegerType))))))
      .drop("v")
}
