package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measured recall/throughput table for the ANN family - the evidence
  * behind the README's graph-ANN (HNSW) positioning: brute-force
  * cosine top-k as ground truth, then LSH / IVF / PQ at their shipped
  * defaults and at widened probe settings, each scored for
  * recall@10 and min-of-2 wall time over a query batch.
  *
  * The serving question a graph-ANN answers (microsecond per-query
  * latency on a memory-resident neighbor graph, traversed
  * sequentially) is different from the batch question this engine
  * answers (throughput of a QUERY SET against a partitioned corpus,
  * with pruning at the posting-list/file level). This tool quantifies
  * how much recall the batch family gives up at its pruning levels.
  *
  * Usage: runMain graft.tools.AnnRecallCheck <sfDir>
  */
object AnnRecallCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.Session.local()
    import graft.ops.SimilarityOps

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").cast("long").as("id"), col("embedding").as("v"))
      .localCheckpoint()
    val n = emb.count()
    val queries = emb.filter(col("id") % 20 === 0).localCheckpoint()
    val nq = queries.count()
    val dim = emb.select(size(col("v"))).head().getInt(0)
    println(s"corpus=$n queries=$nq dim=$dim k=10")

    val k = 10
    val truth = SimilarityOps.bruteTopK(emb, "id", "v", queries, "id", "v", k)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    val truthN = truth.count()

    def recallOf(result: DataFrame): Double = {
      val hit = result.select(col("query_id"), col("neighbor_id"))
        .join(truth, Seq("query_id", "neighbor_id")).count()
      hit.toDouble / truthN
    }
    def timed(f: => DataFrame): (DataFrame, Double) = {
      def once: Double = {
        val t0 = System.nanoTime(); f.count(); (System.nanoTime() - t0) / 1e9
      }
      once // warm
      val t = math.min(once, once)
      (f, t)
    }

    val (_, tBrute) = timed(
      SimilarityOps.bruteTopK(emb, "id", "v", queries, "id", "v", k))
    println(f"brute_force                  recall=1.000 time=$tBrute%6.2fs (ground truth)")

    val settings: Seq[(String, () => DataFrame)] = Seq(
      "lsh_8bit_single" -> (() =>
        SimilarityOps.lshTopK(emb, "id", "v", queries, "id", "v", k, dim, bits = 8)),
      "lsh_8bit_multiprobe" -> (() =>
        SimilarityOps.lshTopK(emb, "id", "v", queries, "id", "v", k, dim,
          bits = 8, multiProbe = true)),
      "ivf_64c_probe8" -> (() =>
        SimilarityOps.ivfTopK(emb, "id", "v", queries, "id", "v", k,
          nCentroids = 64, nProbe = 8)),
      "ivf_64c_probe16" -> (() =>
        SimilarityOps.ivfTopK(emb, "id", "v", queries, "id", "v", k,
          nCentroids = 64, nProbe = 16)),
      "pq_8x16_rerank50" -> (() =>
        SimilarityOps.pqTopK(emb, "id", "v", queries, "id", "v", k,
          numSub = 8, numCodes = 16, rerank = 50)),
      "pq_8x16_rerank200" -> (() =>
        SimilarityOps.pqTopK(emb, "id", "v", queries, "id", "v", k,
          numSub = 8, numCodes = 16, rerank = 200)),
      "ivf_64c_probe32" -> (() =>
        SimilarityOps.ivfTopK(emb, "id", "v", queries, "id", "v", k,
          nCentroids = 64, nProbe = 32)),
      "pq_16x16_rerank200" -> (() =>
        SimilarityOps.pqTopK(emb, "id", "v", queries, "id", "v", k,
          numSub = 16, numCodes = 16, rerank = 200)),
      "pq_16x16_rerank500" -> (() =>
        SimilarityOps.pqTopK(emb, "id", "v", queries, "id", "v", k,
          numSub = 16, numCodes = 16, rerank = 500)))
    settings.foreach { case (tag, build) =>
      val (res, t) = timed(build())
      val r = recallOf(res)
      println(f"$tag%-28s recall=$r%.3f time=$t%6.2fs")
    }
    spark.stop()
  }
}
