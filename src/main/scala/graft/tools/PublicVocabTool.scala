package graft.tools

/** Regenerate the checked-in GPT-2-convention byte-level merge table
  * (src/main/resources/graft/vocab.bpe): greedy BPE training under the
  * PUBLISHED conventions - the GPT-2 pre-tokenizer
  * (ExprKernels.gpt2UnitRegex), the bytes-to-unicode table
  * (ExprKernels.gpt2ByteEncoder, so ' ' trains as 'Ġ'), most-frequent
  * adjacent pair per round with a lexicographic tie-break - over the
  * corpus UNIONED with the Zipf-weighted public-knowledge seed
  * vocabulary (the BpeMergesTool recipe: the synthetic corpus's 31
  * distinct words alone would exhaust after ~100 merges). Output is
  * the vocab.bpe file format of the GPT-2 release (`#version: 0.2`
  * header, one "left right" merge per line in learned order), which
  * is what lets a user swap in a real published vocab.bpe unchanged.
  *
  * Usage: runMain graft.tools.PublicVocabTool <sfDir> <outFile> <numMerges>
  */
object PublicVocabTool {
  def main(args: Array[String]): Unit = {
    val (sfDir, outFile, numMerges) = (args(0), args(1), args(2).toInt)
    val spark = graft.Session.local()
    import spark.implicits._
    val corpus = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"text").as[String].collect().toSeq.filter(_ != null)
    val seed = {
      val in = getClass.getResourceAsStream("/graft/bpe_seed_vocab.txt")
      require(in != null, "graft/bpe_seed_vocab.txt missing from classpath")
      val src = scala.io.Source.fromInputStream(in, "UTF-8")
      try src.getLines().map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#")).toList
      finally src.close()
    }
    val W = 5000
    val seedRows = seed.zipWithIndex.map { case (w, i) =>
      (w + " ") * math.max(1, W / (i + 1))
    }
    val t0 = System.nanoTime()

    // unit frequencies under the GPT-2 pre-tokenizer + byte encoder
    val pat = java.util.regex.Pattern.compile(
      graft.functions.ExprKernels.gpt2UnitRegex,
      graft.functions.ExprKernels.gpt2UnitFlags)
    val enc = graft.functions.ExprKernels.gpt2ByteEncoder
    val unitFreq = new scala.collection.mutable.HashMap[String, Long]()
    for (text <- corpus ++ seedRows) {
      val m = pat.matcher(text)
      while (m.find()) {
        val bytes = m.group().getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sb = new java.lang.StringBuilder(bytes.length)
        var i = 0
        while (i < bytes.length) { sb.append(enc(bytes(i) & 0xFF)); i += 1 }
        val u = sb.toString
        unitFreq.update(u, unitFreq.getOrElse(u, 0L) + 1L)
      }
    }

    // greedy training: most-frequent adjacent pair per round, ties to
    // the lexicographically smallest (left, right) - deterministic
    var units: Vector[(Vector[String], Long)] =
      unitFreq.toVector.sortBy(_._1).map { case (u, n) =>
        (u.map(_.toString).toVector, n)
      }
    val merges = Vector.newBuilder[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairFreq = new scala.collection.mutable.HashMap[(String, String), Long]()
      for ((toks, n) <- units; i <- 0 until toks.size - 1) {
        val p = (toks(i), toks(i + 1))
        pairFreq.update(p, pairFreq.getOrElse(p, 0L) + n)
      }
      if (pairFreq.isEmpty) exhausted = true
      else {
        val (best, _) = pairFreq.toVector
          .minBy { case ((a, b), n) => (-n, a, b) }
        merges += best
        val fused = best._1 + best._2
        units = units.map { case (toks, n) =>
          if (toks.size < 2) (toks, n)
          else {
            val out = Vector.newBuilder[String]
            var i = 0
            while (i < toks.size) {
              if (i < toks.size - 1 && toks(i) == best._1 && toks(i + 1) == best._2) {
                out += fused; i += 2
              } else { out += toks(i); i += 1 }
            }
            (out.result(), n)
          }
        }
        round += 1
      }
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val body = merges.result().map { case (a, b) => s"$a $b" }.mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile),
      s"#version: 0.2\n$body\n")
    println(f"wrote $round merges to $outFile in $secs%.1f s")
    spark.stop()
  }
}
