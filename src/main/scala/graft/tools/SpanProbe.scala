package graft.tools

import org.apache.spark.sql.functions._

/** Measure how closely STRIDED duplicate-span removal approximates
  * EXACT (every-position) substring-granularity dedup - the round-11
  * stretch probe behind `DedupOps.removeDuplicateSpans`'s `step`
  * parameter.
  *
  * Ground truth at window granularity is step=1: every `window`-char
  * substring of every document is checked against every other
  * document, so a character is ground-truth-duplicated iff SOME
  * cross-document `window`-char duplicate covers it (this is the
  * Lee-et-al suffix-granularity criterion restricted to matches of
  * length >= window). The strided run (step=k) only EMITS windows at
  * positions 1, 1+k, ... - and, crucially, only MATCHES against other
  * documents' strided windows, so two copies of the same span whose
  * positions differ by a non-multiple of k can miss each other
  * entirely. This probe quantifies both effects on real data:
  *
  *   - char recall: duplicated characters excised by step=k as a
  *     fraction of step=1's;
  *   - doc recall: documents flagged (>= 1 dup window) by step=k as a
  *     fraction of step=1's.
  *
  * Usage: runMain graft.tools.SpanProbe <sfDir> [window] [step]
  */
object SpanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val window = if (args.length > 1) args(1).toInt else 40
    val step = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local()
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text")).localCheckpoint()

    def measure(s: Int): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val cleaned = graft.ops.DedupOps
        .removeDuplicateSpans(docs, "doc_id", "text", window, s)
        .join(docs, "doc_id")
        .select(
          (length(col("text")) - length(col("clean_text"))).cast("long").as("removed"),
          when(col("n_dup_windows") > 0, 1L).otherwise(0L).as("flagged"))
        .agg(sum("removed"), sum("flagged")).head()
      val secs = (System.nanoTime() - t0) / 1e9
      (cleaned.getLong(0), cleaned.getLong(1), secs)
    }
    val (exactChars, exactDocs, exactSecs) = measure(1)
    val (strideChars, strideDocs, strideSecs) = measure(step)
    println(f"window=$window exact(step=1):   chars_removed=$exactChars%d docs_flagged=$exactDocs%d  ${exactSecs}%.1fs")
    println(f"window=$window strided(step=$step): chars_removed=$strideChars%d docs_flagged=$strideDocs%d  ${strideSecs}%.1fs")
    println(f"char_recall=${if (exactChars == 0) 1.0 else strideChars.toDouble / exactChars}%.4f " +
      f"doc_recall=${if (exactDocs == 0) 1.0 else strideDocs.toDouble / exactDocs}%.4f " +
      f"speedup=${exactSecs / strideSecs}%.1fx")
    spark.stop()
  }
}
