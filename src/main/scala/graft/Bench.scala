package graft

/** Benchmark main: times every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line. A small warmup pass on sf0.001 runs first so the
  * timed numbers measure the queries, not session/JIT/codegen-compiler
  * startup.
  *
  * The timed action is a noop-sink WRITE, not `.count()`: count lets
  * Catalyst prune every column a projection-only query computes (a scan
  * of 5,000 docs through the langId classifier "ran" in 0.146s as a
  * count - a parquet metadata read - vs its ~seconds of honest work), so
  * counted walls for scan-shaped queries measure nothing. The `noop`
  * format consumes every row of every column and discards them, forcing
  * full evaluation with zero sink I/O cost. Bench totals from the
  * count() era (BENCH_r14 and earlier) are a different epoch - do not
  * compare across the action change.
  */
object Bench {
  /** Force full evaluation of a frame: every column of every row flows
    * to the noop sink, so column pruning cannot skip the measured work.
    */
  private def exhaust(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // optional arg: comma-separated query names for targeted timing runs;
    // the driver invokes with no args and times the full suite. Unknown
    // names are a hard error - a typo would otherwise bench zero queries
    // and print a healthy-looking summary
    if (args.nonEmpty) {
      val unknown = args(0).split(",").filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"unknown query name(s): ${unknown.mkString(", ")} - " +
          s"valid: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}")
    }
    val wanted = SparkEntry.queries.filter { case (name, _) =>
      args.isEmpty || args(0).split(",").contains(name)
    }
    val spark = Session.local()

    // warmup (untimed): run every query once at the smallest scale factor
    // so codegen compilation and JIT of each query's generated classes are
    // paid before timing starts
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      wanted.foreach { case (_, fn) =>
        try exhaust(fn(spark, warmDir))
        catch { case _: Throwable => () }
      }
      // drop warmup residue (broadcast blocks, checkpoint RDDs) so the
      // timed section doesn't run under artificial memory pressure
      spark.catalog.clearCache()
      System.gc()
      Thread.sleep(2000)
      System.gc()
    }

    // This machine carries ambient load (observed: the same unchanged
    // query timing 1.1s and 16s minutes apart, and whole runs inflating
    // ~3x under host contention), so the reported time per query is a
    // REPRODUCED minimum: adaptive sampling below keeps timing until the
    // best two readings agree within 15% (or 4 runs are spent), and the
    // best-two disagreement is persisted as the per-query "spread" -
    // the noise floor BenchDiff gates cross-run regression flags on.
    // paired A/B mode (SPARK_GRAFT_BENCH_AB=1): per query, FOUR timed
    // runs interleaved as A1 B1 A2 B2 - two independent passes through
    // identical code. |min(A) - min(B)| / min is the process's own
    // noise floor for that query, measured under the same ambient load
    // as the timings themselves. Cross-round artifact diffs have
    // repeatedly flagged 1.3-1.9x "regressions" that re-runs land
    // between (host jitter); gating a flag on delta > spread (see
    // graft.tools.BenchDiff) de-noises that adjudication. The default
    // mode also emits a spread (max/min - 1 of its runs) so every
    // bench_last.json carries a per-query noise estimate.
    // explicit opt-in only: "=0"/"=false" must select the default mode
    // (a wrapper exporting AB=0 expects adaptive sampling, not 4 passes)
    val abMode = sys.env.get("SPARK_GRAFT_BENCH_AB")
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))
    // isolation barrier between queries (round-16): the full 247-query
    // suite used to read 2-4x the isolated walls for the dedup family
    // (dedup_clusters 4.16s in-suite vs 2.08s isolated) because dead
    // localCheckpoint blocks from prior queries are only reclaimed
    // ASYNC by the ContextCleaner - it unpersists query N-1's blocks
    // while query N is being timed, and the backlog grows with the
    // suite. A 14-query subset shows no inflation; the residue
    // accumulates over the long run. So before each query: clear the
    // DataFrame cache, synchronously unpersist every leftover
    // persistent RDD (safe: no query holds frames across entries -
    // the only process-level caches are POJO stats/merge tables), and
    // GC so reference-queue cleanup (broadcasts) drains off the clock.
    def isolate(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      System.gc()
    }
    val results = wanted.toSeq.sortBy(_._1).map { case (name, fn) =>
      isolate()
      def timed(): (Double, Boolean) = {
        val t0 = System.nanoTime()
        val ok = try { exhaust(fn(spark, sfDir)); true } catch {
          // stderr, not stdout: the driver parses stdout as one JSON line
          case e: Throwable => System.err.println(s"[bench] $name failed: $e"); false
        }
        ((System.nanoTime() - t0) / 1e9, ok)
      }
      if (abMode) {
        val runs = (1 to 4).map(_ => timed()) // A1 B1 A2 B2
        val good = runs.filter(_._2).map(_._1).sorted
        if (runs.forall(_._2)) {
          val a = math.min(runs(0)._1, runs(2)._1)
          val b = math.min(runs(1)._1, runs(3)._1)
          (name, math.min(a, b), false, math.abs(a - b) / math.min(a, b))
        } else if (good.size >= 2) {
          // same contract as the default mode below: a transient failure
          // alongside two+ successes is "flaky", not "failed" - the
          // timing comes from the good runs, spread from their best two
          System.err.println(s"[bench] $name: A/B run failed; ${good.size} good runs kept")
          (name, good.head, true, good(1) / good.head - 1.0)
        } else (name, -1.0, false, 0.0)
      } else {
        // adaptive sampling: keep timing until the best two readings
        // agree within 15% - the min is then REPRODUCED, not a lucky
        // draw - or 4 runs are spent. On this host ambient load inflates
        // single readings 1.2-4x routinely (median best-two spread of a
        // fixed suite measured at ~65% under contention), so a min
        // confirmed by a second close reading is the only defensible
        // per-query time. Persisted spread = best-two disagreement, the
        // noise floor BenchDiff gates regression flags on.
        val runs = scala.collection.mutable.ArrayBuffer[(Double, Boolean)]()
        runs += timed(); runs += timed()
        def best2 = runs.filter(_._2).map(_._1).sorted.take(2).toSeq
        while (runs.size < 4 && runs.forall(_._2) && best2(1) > 1.15 * best2(0))
          runs += timed()
        // a throwing query must not masquerade as a fast success: report
        // it as -1 and list it under "failed". A probe failure AFTER two
        // successes must not vanish either - the query lands in "flaky"
        val firstTwoOk = runs.take(2).forall(_._2)
        val flaky = firstTwoOk && runs.exists(!_._2)
        if (flaky) System.err.println(s"[bench] $name: probe run failed after two successes")
        val good = runs.filter(_._2).map(_._1)
        val time = if (firstTwoOk) good.min else -1.0
        val spread =
          if (time > 0 && good.size >= 2) best2(1) / best2(0) - 1.0 else 0.0
        (name, time, flaky, spread)
      }
    }
    val qs = results.map { case (k, v, _, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // locale-independent number rendering (Double.toString), NOT the
    // f-interpolator: a comma-decimal default locale would corrupt the
    // JSON artifact
    val spreads = results.map { case (k, _, _, sp) =>
      s"\"" + k + "\":" + (math.rint(sp * 10000) / 10000).toString
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val flaky = results.collect { case (k, _, true, _) => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    // headline fields go LAST on the line: the driver's capture keeps the
    // tail of long output, and a 121-query map once pushed "total" off the
    // front of the stored artifact (JSON itself is order-independent, so
    // any parser reads both layouts identically)
    val json = s"""{"queries":$qs,"spread":$spreads,"failed":$failed,"flaky":$flaky,"ab":$abMode,"sf":"$sfDir","unit":"sec","metric":"total","value":$total}"""
    println(json)
    // belt and braces: the artifact also lands in-repo, self-contained,
    // so round grading never depends on how much stdout survived capture
    try {
      val out = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json"))
      java.nio.file.Files.write(out,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch {
      case e: Throwable => System.err.println(s"[bench] bench_last.json write failed: $e")
    }
    spark.stop()
    // a run with errored queries must not exit 0: any gate keyed on the
    // exit code would otherwise pass a broken suite (the JSON line above
    // is already printed, so the failure detail still reaches the driver)
    if (results.exists(_._2 < 0)) sys.exit(1)
  }
}
