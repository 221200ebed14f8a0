package graft.tools

/** Regenerate the checked-in BPE merge table
  * (src/main/resources/graft/bpe_merges.txt): driver-side training
  * ([[graft.ops.TextOps.bpeTrainLocal]] - bit-equal to the distributed
  * [[graft.ops.TextOps.bpeTrain]], TextOpsSpec parity) over the corpus
  * UNIONED with the checked-in public-knowledge seed vocabulary
  * (graft/bpe_seed_vocab.txt: common English words + technical terms,
  * Zipf-weighted by list position). The union matters because a
  * synthetic test corpus can carry a vocabulary far too small to
  * support a realistic table - sf0.1 documents hold 31 distinct words,
  * which exhausts after ~89 merges - while a production tokenizer
  * table holds thousands of ranks; the seed vocabulary supplies the
  * realistic long tail, and the corpus's own words (at their true
  * frequencies) still dominate the early ranks. Output is the public
  * GPT-2 merges.txt format the codegen kernel and the DuckDB oracle
  * both consume.
  *
  * Usage: runMain graft.tools.BpeMergesTool <sfDir> <outFile> <numMerges>
  */
object BpeMergesTool {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile, numMerges) = (args(0), args(1), args(2).toInt)
    val spark = graft.Session.local()
    import spark.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select($"text")
    val seed = {
      val in = getClass.getResourceAsStream("/graft/bpe_seed_vocab.txt")
      require(in != null, "graft/bpe_seed_vocab.txt missing from classpath")
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }
    // Zipf weights: word i of the frequency-ordered seed list appears
    // ceil(W / (i + 1)) times, so early merges prefer the truly common
    // subwords the way a real trained table does
    val W = 5000
    val seedRows = seed.zipWithIndex.map { case (w, i) =>
      val n = math.max(1, W / (i + 1))
      (w + " ") * n
    }.toDF("text")
    val t0 = System.nanoTime()
    val merges = graft.ops.TextOps.bpeTrainLocal(
      docs.union(seedRows), "text", numMerges)
    val secs = (System.nanoTime() - t0) / 1e9
    val body = merges.map { case (_, l, r) => s"$l $r" }.mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"#version: 0.2\n$body\n")
    println(f"wrote ${merges.size} merges to $outFile in $secs%.1f s")
    spark.stop()
  }
}
