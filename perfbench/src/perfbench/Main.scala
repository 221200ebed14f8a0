package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *      --cores <n> --work <dir> [--spans <file>]
  * }}}
  *
  * With `--trace 0` the timed runs are untraced and the last stdout
  * line reports the end-to-end metrics. With `--trace 1` untraced and
  * traced stretches of timed runs alternate, then the
  * traced-only probes and the single-thread kernel count run, and the
  * last line reports the per-layer metrics. Either way the outputs are
  * checked against the brute-force oracle outside the timed region.
  * Lines before the last start with `#` and describe the inputs, the
  * session settings and the check.
  */
object Main {
  private val setupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val workDir = new File(opt("work")).getAbsoluteFile
    require(Workload.names.contains(name), s"unknown workload '$name'")

    val canary0 = Jvm.canaryMs()
    val t0 = System.nanoTime()
    val spark = session(cores, workDir)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code = try {
      printConf(spark)
      val counters = new SparkCounters(spark)
      counters.register()
      val tracer = new Tracer(s"$name-seed$seed")
      val ctx = new Ctx(spark, seed, tracer, workDir)
      val wl = Workload(name, ctx)

      tracer.enabled = traced
      val setupTimes = (1 to setupReps).map { i =>
        val s0 = System.nanoTime()
        tracer.trace(s"setup-$i")(tracer.span("setup")(wl.setup()))
        (System.nanoTime() - s0) / 1e9
      }
      tracer.enabled = false
      val w0 = System.nanoTime()
      wl.warm()
      val warmS = (System.nanoTime() - w0) / 1e9
      val setupS = sessionS + Stats.median(setupTimes) + warmS
      println("# inputs " + Json.value(wl.inputProps + ("workload" -> name) + ("seed" -> seed)))
      println(f"# setup session_s=$sessionS%.3f reps_s=${setupTimes.map(x => f"$x%.3f").mkString(",")} warm_s=$warmS%.3f")

      val metrics: Seq[(String, Double, String)] =
        if (!traced) endToEnd(wl, seconds, setupS)
        else perLayer(wl, ctx, counters, seconds, canary0)

      if (!traced) println(f"# canary_ms before=$canary0%.3f after=${Jvm.canaryMs()}%.3f")
      val chk = wl.check()
      chk.notes.foreach(n => println(s"# mismatch $n"))
      println(s"# check attempted=${chk.attempted} failed=${chk.failed} fail_ratio=${
        if (chk.attempted > 0) chk.failed.toDouble / chk.attempted else 0.0}")
      // per-layer values computed by the check (row and cluster counts)
      // are read after it
      val all = if (!traced) metrics else {
        val lv = wl.layerValues()
        metrics.map { case (n, v, u) => (n, lv.getOrElse(n, v), u) }
      }
      opt.get("spans").foreach { f =>
        tracer.write(new File(f))
        println(s"# spans ${tracer.all.size} written to $f")
      }
      val correct = chk.failed == 0 && chk.attempted > 0
      println(Json.obj(Seq(
        "correct" -> correct,
        "attempted" -> chk.attempted,
        "failed" -> chk.failed,
        "metrics" -> all.map { case (n, v, u) => n -> Map("value" -> v, "unit" -> u) }.toMap)))
      if (correct) 0 else 1
    } finally spark.stop()
    System.exit(code)
  }

  /** Library defaults plus the host's cores, UTC, and scratch locations
    * inside the benchmark's work directory. The heap is set by the
    * launcher from the host's memory.
    */
  def session(cores: Int, workDir: File): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(workDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The full effective configuration: every Spark and SQL setting with
    * its value, defaults included, and the JVM's arguments.
    */
  private def printConf(spark: SparkSession): Unit = {
    // per-process values (ids, ports, start times) would differ between
    // any two runs; they are not settings
    val perProcess = Set("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
      "spark.driver.port", "spark.driver.host", "spark.executor.id", "spark.local.dir",
      "spark.sql.warehouse.dir")
    val defined = spark.sessionState.conf.getAllDefinedConfs.map(c => c._1 -> c._2).toMap
    val all = (defined ++ spark.conf.getAll ++ spark.sparkContext.getConf.getAll)
      .filter { case (k, _) => !perProcess(k) }.toSeq.sortBy(_._1)
    val text = Json.obj(all)
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes("UTF-8")).map("%02x".format(_)).mkString
    println(s"# conf_sha256 $digest")
    println(s"# conf $text")
    println("# jvm " + Json.value(
      scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala
        .filterNot(_.startsWith("--add-opens")).toList :+
        s"max_heap_mb=${Runtime.getRuntime.maxMemory >> 20}"))
  }

  private def endToEnd(wl: Workload, seconds: Double, setupS: Double): Seq[(String, Double, String)] = {
    val m0 = System.nanoTime()
    val runs = wl.measure(seconds)
    val wall = (System.nanoTime() - m0) / 1e9
    val calls = runs.flatMap(_.callMs)
    println(f"# measured runs=${runs.size} calls=${calls.size} wall_s=$wall%.3f")
    println(f"# latency call_ms_p99=${Stats.quantile(calls, 0.99)}%.4f")
    if (runs.size <= 100) println("# run_s " + runs.map(r => f"${r.seconds}%.3f").mkString(","))
    Seq(
      ("setup_s", setupS, "s"),
      ("run_s_p50", Stats.median(runs.map(_.seconds)), "s"),
      ("items_per_s", runs.map(_.items).sum / wall, "1/s"),
      ("call_ms_p50", Stats.median(calls), "ms"),
      ("heap_live_mb", Jvm.liveHeapMb(), "MB"))
  }

  private def perLayer(wl: Workload, ctx: Ctx, counters: SparkCounters, seconds: Double,
      canary0: Double): Seq[(String, Double, String)] = {
    // untraced and traced chunks alternate, so both see the same JIT
    // warm-up; Spark and GC counters are taken around the traced chunks
    val tracer = ctx.tracer
    val chunks = 8
    val plain = mutable.ArrayBuffer[Run]()
    val runs = mutable.ArrayBuffer[Run]()
    var d = Seq.fill(10)(0.0)
    var gcS, outsideS = 0.0
    for (c <- 0 until chunks) {
      val on = c % 2 == 1
      tracer.enabled = on
      val c0 = counters.snapshot()
      val gc0 = Jvm.gcSeconds()
      val ms0 = System.currentTimeMillis()
      val rs = wl.measure(seconds / chunks)
      val ms1 = System.currentTimeMillis()
      val c1 = counters.snapshot()
      if (on) {
        runs ++= rs
        d = d.zip(c1.values.zip(c0.values).map { case (a, b) => a - b }).map { case (x, y) => x + y }
        gcS += Jvm.gcSeconds() - gc0
        // no job ran: there was no Spark work to schedule
        if (c1.jobs > c0.jobs) outsideS += counters.outsideStageMs(ms0, ms1) / 1e3
      } else plain ++= rs
    }
    tracer.enabled = true
    val n = runs.size.toDouble
    tracer.trace("probes")(wl.probes())
    val kc = tracer.trace("kernel")(wl.kernel())
    val canary1 = Jvm.canaryMs()
    println(f"# traced runs=${runs.size} untraced runs=${plain.size}")

    // spans recorded inside the traced timed runs, and during set-up
    def inRuns(name: String) = tracer.named(name).filter(s => s.trace.contains("/run-") ||
      s.trace.contains("/session-")).map(_.seconds)
    def inSetup(name: String) = tracer.named(name).filter(_.trace.contains("/setup-")).map(_.seconds)
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def perQuery(x: Long) = kc.map(k => x.toDouble / k.queries)

    val mb = 1024.0 * 1024.0
    Seq(
      ("ptree.create_s", med(inSetup("ptree.create")), "s"),
      ("ptree.merge_s", 0.0, "s"),
      ("ptree.write_s", med(inRuns("ptree.write")), "s"),
      ("ptree.read_s", med(inRuns("ptree.read")), "s"),
      ("ptree.nodes", 0.0, "count"),
      ("ptree.chars", 0.0, "count"),
      ("ptree.nodes_per_word", 0.0, "ratio"),
      ("query.children_index_s", med(inSetup("query.children_index")), "s"),
      ("query.batch_s", 0.0, "s"),
      ("query.rank_s", 0.0, "s"),
      ("query.rows_out", 0.0, "count"),
      ("query.rows_kept_ratio", 0.0, "ratio"),
      ("query.join_s", med(inRuns("query.join")), "s"),
      ("query.prefix_ms_p50", med(inRuns("query.prefix")) * 1e3, "ms"),
      ("query.one_ms_p50", med(inRuns("query.one")) * 1e3, "ms"),
      ("kernel.nodes_per_query", kc.flatMap(k => perQuery(k.nodes)).getOrElse(0.0), "count"),
      ("kernel.cells_per_query", kc.flatMap(k => perQuery(k.cells)).getOrElse(0.0), "count"),
      ("kernel.brute_cells_per_query", kc.flatMap(k => perQuery(k.bruteCells)).getOrElse(0.0), "count"),
      ("kernel.cell_ratio", kc.map(k => k.cells.toDouble / k.bruteCells).getOrElse(0.0), "ratio"),
      ("kernel.hits_per_query", kc.flatMap(k => perQuery(k.hits)).getOrElse(0.0), "count"),
      ("kernel.us_per_query", kc.map(k => k.seconds * 1e6 / k.queries).getOrElse(0.0), "us"),
      ("dedup.pairs", 0.0, "count"),
      ("dedup.clusters", 0.0, "count"),
      ("graph.cc_s", 0.0, "s"),
      ("spark.jobs", d(0) / n, "count"),
      ("spark.stages", d(1) / n, "count"),
      ("spark.tasks", d(2) / n, "count"),
      ("spark.task_s", d(3) / n, "s"),
      ("spark.gc_s", d(4) / n, "s"),
      ("spark.plan_s", d(9) / n, "s"),
      ("spark.outside_stage_s", outsideS / n, "s"),
      ("spark.shuffle_write_mb", d(5) / mb / n, "MB"),
      ("spark.shuffle_read_mb", d(6) / mb / n, "MB"),
      ("spark.spill_mb", d(7) / mb / n, "MB"),
      ("spark.task_failures", d(8), "count"),
      ("jvm.gc_s", gcS / n, "s"),
      ("host.canary_ms", (canary0 + canary1) / 2, "ms"),
      ("trace.overhead_s", Stats.median(runs.map(_.seconds).toSeq) - Stats.median(plain.map(_.seconds).toSeq), "s"))
  }
}
