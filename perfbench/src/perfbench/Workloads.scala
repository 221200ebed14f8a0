package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ops.{DedupOps, GraphOps}
import graft.ptree.{Kernels, PTNode, PrefixTree, Query}

/** What the workloads share: the session, the seed, the tracer and a
  * scratch directory inside the benchmark's build directory.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer, val workDir: java.io.File) {
  def span[T](name: String)(f: => T): T = tracer.span(name)(f)

  /** Run a frame to the noop sink: every column of every row is computed. */
  def noop(df: Dataset[_]): Unit = df.write.format("noop").mode("overwrite").save()

  def path(name: String): String = new java.io.File(workDir, name).getAbsolutePath
}

/** One timed run: its wall time, the items it completed and the latency
  * of each call a user waits for in it.
  */
final case class Run(seconds: Double, items: Long, callMs: Seq[Double])

/** Outcome of the oracle check: answers compared, answers wrong. */
final case class Check(attempted: Long, failed: Long, notes: Seq[String])

/** Kernels.searchCounted totals over a workload's own queries. */
final case class KernelCounts(queries: Long, nodes: Long, cells: Long, bruteCells: Long,
    hits: Long, seconds: Double)

abstract class Workload(val ctx: Ctx) {
  import ctx.span

  /** Generate the inputs and build any index the timed runs read.
    * Called several times during set-up; the last call's state is kept.
    */
  def setup(): Unit

  /** One timed run. */
  def run(): Run

  /** Seconds of untimed runs before measuring: class loading, codegen
    * and the JIT's compilation of the driver-side code paths.
    */
  def warmSeconds: Double

  def warm(): Unit = measure(warmSeconds)

  /** Timed runs, back to back, until `seconds` have passed. */
  def measure(seconds: Double): Seq[Run] = {
    val out = mutable.ArrayBuffer[Run]()
    val end = System.nanoTime() + (seconds * 1e9).toLong
    while (out.isEmpty || System.nanoTime() < end) {
      val i = out.size
      out += ctx.tracer.trace(s"run-$i")(span("run")(run()))
    }
    out.toSeq
  }

  /** Traced-only calls that isolate one layer's share of a timed run. */
  def probes(): Unit = ()

  /** Per-layer values this workload knows beyond spans and counters. */
  def layerValues(): Map[String, Double] = Map.empty

  def kernel(): Option[KernelCounts] = None

  def check(): Check

  def inputProps: Map[String, Any]

  protected def timeRun(items: Long)(f: => Unit): Run = {
    val t0 = System.nanoTime()
    f
    val s = (System.nanoTime() - t0) / 1e9
    Run(s, items, Seq(s * 1e3))
  }

  protected def counts(rows: Seq[String]): Map[String, Long] =
    rows.groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }

  /** Run searchCounted over `queries` on one thread. */
  protected def kernelCounts(queries: Seq[String], maxDist: Int,
      index: Map[Long, Array[PTNode]], dict: Iterable[String]): KernelCounts = {
    val lookup: Long => Array[PTNode] = index.getOrElse(_, null)
    val dictCells = dict.iterator.map(w => Gen.cpLen(w) + 1L).sum
    var nodes, cells, brute, hits = 0L
    val t0 = System.nanoTime()
    span("kernel.search") {
      queries.foreach { q =>
        val (h, st) = Kernels.searchCounted(q, maxDist, lookup)
        nodes += st.nodes
        cells += st.cells
        hits += h.size
        brute += (Gen.cpLen(q) + 1L) * dictCells
      }
    }
    KernelCounts(queries.size, nodes, cells, brute, hits, (System.nanoTime() - t0) / 1e9)
  }

  /** Compare two answer sets; a difference is reported with its key. */
  protected def same[T](what: String, got: Iterable[T], want: Iterable[T],
      notes: mutable.ArrayBuffer[String]): Boolean = {
    val (g, w) = (got.toList.map(_.toString).sorted, want.toList.map(_.toString).sorted)
    if (g != w && notes.size < 5)
      notes += s"$what: got ${g.take(6).mkString(";")} want ${w.take(6).mkString(";")}"
    g == w
  }
}

object Workload {
  val names: Seq[String] = Seq("batch_topk", "serve_typing", "index_maintain", "dedup_names")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch_topk" => new BatchTopK(ctx)
    case "serve_typing" => new ServeTyping(ctx)
    case "index_maintain" => new IndexMaintain(ctx)
    case "dedup_names" => new DedupNames(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** Dictionary shape shared by the trie workloads. */
  final case class Dictionary(words: Array[String], rows: Seq[String], syl: Array[String])

  def dictionary(g: Gen, n: Int): Dictionary = {
    val syl = g.syllables(400)
    val words = g.words(n, syl, 2, 4)
    Dictionary(words, words.toSeq.flatMap(w => Seq.fill(g.multiplicity())(w)), syl)
  }

  /** Query lengths in code points, stratified: query `i` edits a word of
    * length `queryLength(i)`, so every seed draws the same length mix.
    */
  val queryLengths: Seq[Int] = 3 to 11
  def queryLength(i: Int): Int = queryLengths(i % queryLengths.size)

  /** Planted query mix: edits 0..maxDist are hits, more are misses; each
    * edit count is crossed with every query length.
    */
  def plantedEdits(i: Int, maxDist: Int): Int = (i / queryLengths.size) % (maxDist + 3)

  /** Query `i` of a stratified set drawn from `words`. */
  def query(g: Gen, words: Array[String], i: Int, maxDist: Int): String =
    g.edit(g.ofLength(words, queryLength(i)), plantedEdits(i, maxDist))
}

/** Thor-style batch: best-k fuzzy matches for a query set against a
  * dictionary trie built in set-up.
  */
final class BatchTopK(ctx: Ctx) extends Workload(ctx) {
  import ctx.{span, spark}
  import spark.implicits._

  val dictWords = 20000
  val nQueries = 900
  val maxDist = 2
  val k = 3

  var dict: Workload.Dictionary = _
  var queries: Seq[String] = _
  var queryDf: DataFrame = _
  var trie: Dataset[PTNode] = _
  var props: Map[String, Any] = Map.empty

  def setup(): Unit = {
    val g = new Gen(ctx.seed)
    dict = Workload.dictionary(g, dictWords)
    queries = (0 until nQueries).map(i => Workload.query(g, dict.words, i, maxDist))
    queryDf = queries.toDF("q")
    trie = span("ptree.create")(PrefixTree.create(dict.rows.toDF("word"), "word").localCheckpoint())
    span("query.stats")(Query.trieStats(trie))
    props = Gen.dictionaryProps(dict.words.toSeq) ++ Map(
      "corpus_rows" -> dict.rows.size,
      "queries" -> nQueries,
      "planted_edits" -> (0 until nQueries).groupBy(Workload.plantedEdits(_, maxDist))
        .toSeq.sortBy(_._1).map { case (e, xs) => s"$e:${xs.size}" }.mkString(" "),
      "max_dist" -> maxDist, "k" -> k)
  }

  def inputProps: Map[String, Any] = props

  def warmSeconds = 6.0

  def run(): Run = timeRun(nQueries) {
    span("query.topk")(ctx.noop(Query.fuzzyTopK(queryDf, "q", trie, maxDist, k)))
  }

  private val batchProbe, topkProbe, indexProbe = mutable.ArrayBuffer[Double]()

  override def probes(): Unit = for (_ <- 1 to 3) {
    def t(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    indexProbe += t(span("query.children_index")(Query.childrenIndex(trie)))
    batchProbe += t(span("query.batch")(ctx.noop(
      Query.queryBatch(queryDf.distinct(), "q", trie, maxDist))))
    topkProbe += t(span("query.topk")(ctx.noop(Query.fuzzyTopK(queryDf, "q", trie, maxDist, k))))
  }

  private var rowsOut, rowsThresholded = 0L

  override def layerValues(): Map[String, Double] = {
    val st = Query.trieStats(trie)
    Map(
      "ptree.nodes" -> st.nodes.toDouble, "ptree.chars" -> st.chars.toDouble,
      "ptree.nodes_per_word" -> st.nodes.toDouble / dict.words.length,
      "query.children_index_s" -> Stats.median(indexProbe.toSeq),
      "query.batch_s" -> Stats.median(batchProbe.toSeq),
      "query.rank_s" -> (Stats.median(topkProbe.toSeq) - Stats.median(batchProbe.toSeq)),
      "query.rows_out" -> rowsOut.toDouble,
      "query.rows_kept_ratio" -> rowsOut.toDouble / rowsThresholded)
  }

  override def kernel(): Option[KernelCounts] =
    Some(kernelCounts(queries.distinct, maxDist, Query.childrenIndex(trie), dict.words))

  def check(): Check = {
    val o = new Oracle.Dict(counts(dict.rows))
    val top = Query.fuzzyTopK(queryDf, "q", trie, maxDist, k).as[(String, String, Int, Int)]
      .collect().groupBy(_._1)
    val all = Query.queryBatch(queryDf.distinct(), "q", trie, maxDist)
      .as[(String, String, Int, Long)].collect().groupBy(_._1)
    rowsOut = top.values.map(_.length.toLong).sum
    rowsThresholded = all.values.map(_.length.toLong).sum
    val notes = mutable.ArrayBuffer[String]()
    val sample = queries.distinct.sorted.zipWithIndex.collect { case (q, i) if i % 6 == 0 => q }
    var failed = 0L
    sample.foreach { q =>
      val want = o.within(q, maxDist)
      if (!same(s"queryBatch($q)", all.getOrElse(q, Array()).map(r => (r._2, r._3, r._4)),
          want.map { case (w, d) => (w, d, o.counts(w)) }, notes)) failed += 1
      val wantTop = Oracle.topK(o, q, maxDist, k).zipWithIndex.map { case ((w, d), i) => (w, d, i + 1) }
      if (!same(s"fuzzyTopK($q)", top.getOrElse(q, Array()).map(r => (r._2, r._3, r._4)),
          wantTop, notes)) failed += 1
    }
    Check(2L * sample.size, failed, notes.toSeq)
  }
}

/** Roxie-style serving: simulated users type target strings one
  * keystroke at a time; every keystroke calls prefixOne and queryOne on
  * a children index built in set-up. A closed loop: each client sends
  * its next call when the previous one returns.
  */
final class ServeTyping(ctx: Ctx) extends Workload(ctx) {
  import ctx.{span, spark}
  import spark.implicits._

  val dictWords = 20000
  val nTargets = 4000
  val clients: Int = math.min(2, spark.sparkContext.defaultParallelism)
  val maxDist = 2

  var dict: Workload.Dictionary = _
  var targets: Array[String] = _
  var index: Map[Long, Array[PTNode]] = _
  var props: Map[String, Any] = Map.empty

  def setup(): Unit = {
    val g = new Gen(ctx.seed)
    dict = Workload.dictionary(g, dictWords)
    // most users type a dictionary word, some make one typo
    targets = Array.tabulate(nTargets)(i => g.ofLength(dict.words, 4 + i % 8))
      .map(w => if (g.chance(0.3)) g.edit(w, 1) else w)
    val trie = span("ptree.create")(PrefixTree.create(dict.rows.toDF("word"), "word").localCheckpoint())
    index = span("query.children_index")(Query.childrenIndex(trie))
    nodes = index.valuesIterator.map(_.length.toLong).sum
    chars = index.valuesIterator.flatMap(_.iterator).map(_.node.length.toLong).sum
    props = Gen.dictionaryProps(dict.words.toSeq) ++ Map(
      "corpus_rows" -> dict.rows.size, "targets" -> nTargets, "clients" -> clients,
      "target_typo_share" -> {
        val known = dict.words.toSet
        targets.count(t => !known(t)).toDouble / nTargets
      },
      "max_dist" -> maxDist)
  }

  private var nodes, chars = 0L

  def inputProps: Map[String, Any] = props

  private def prefixes(t: String): Seq[String] =
    (1 to Gen.cpLen(t)).map(i => t.substring(0, t.offsetByCodePoints(0, i)))

  /** Results kept for the oracle: (prefix, prefixOne answer, queryOne answer). */
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[(String, Long)], Seq[(String, Int)])]()

  private def session(target: String, keep: Boolean): Run = {
    val lat = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    prefixes(target).foreach { p =>
      val c0 = System.nanoTime()
      val (pre, fuzzy) = span("keystroke") {
        (span("query.prefix")(Query.prefixOne(p, index)), span("query.one")(Query.queryOne(p, index, maxDist)))
      }
      lat += (System.nanoTime() - c0) / 1e6
      if (keep) samples.add((p, pre, fuzzy))
    }
    Run((System.nanoTime() - t0) / 1e9, lat.size, lat.toSeq)
  }

  def run(): Run = session(targets(0), keep = false)

  def warmSeconds = 15.0

  override def warm(): Unit = { measure(warmSeconds); samples.clear() }

  override def measure(seconds: Double): Seq[Run] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Run]()
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var first = true
        while (first || System.nanoTime() < end) {
          first = false
          val i = next.getAndIncrement()
          out.add(ctx.tracer.trace(s"session-$i")(span("run")(
            session(targets(i % targets.length), keep = i % 25 == 0 && samples.size < 200))))
        }
      }, s"client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    scala.jdk.CollectionConverters.IterableHasAsScala(out).asScala.toSeq
  }

  override def layerValues(): Map[String, Double] = Map(
    "ptree.nodes" -> nodes.toDouble, "ptree.chars" -> chars.toDouble,
    "ptree.nodes_per_word" -> nodes.toDouble / dict.words.length)

  override def kernel(): Option[KernelCounts] =
    Some(kernelCounts(targets.take(200).toSeq.flatMap(prefixes), maxDist, index, dict.words))

  def check(): Check = {
    val o = new Oracle.Dict(counts(dict.rows))
    val notes = mutable.ArrayBuffer[String]()
    var n, failed = 0L
    samples.forEach { case (p, pre, fuzzy) =>
      n += 2
      if (!same(s"prefixOne($p)", pre, o.startingWith(p), notes)) failed += 1
      if (!same(s"queryOne($p)", fuzzy, o.within(p, maxDist), notes)) failed += 1
    }
    Check(n, failed, notes.toSeq)
  }
}

/** Index maintenance: from the same base image every time, read it,
  * merge a fixed delta, write the merged index, read it back and answer
  * a small query set in join mode.
  */
final class IndexMaintain(ctx: Ctx) extends Workload(ctx) {
  import ctx.{span, spark}
  import spark.implicits._

  val baseWords = 10000
  val deltaWords = 1000
  val nQueries = 50
  val maxDist = 2

  var base: Workload.Dictionary = _
  var delta: Seq[String] = _
  var deltaDf, queryDf: DataFrame = _
  var queries: Seq[String] = _
  var freshWords = 0
  val baseDir: String = ctx.path("base_image")
  val imageDir: String = ctx.path("image")
  var props: Map[String, Any] = Map.empty

  def setup(): Unit = {
    val g = new Gen(ctx.seed)
    base = Workload.dictionary(g, baseWords)
    val known = base.words.toSet
    // two thirds new words, one third repeats of indexed words
    val fresh = g.words(baseWords + deltaWords, base.syl, 2, 4).iterator.filterNot(known).take(deltaWords * 2 / 3).toSeq
    delta = fresh ++ Seq.fill(deltaWords - fresh.size)(base.words(g.int(base.words.length)))
    freshWords = fresh.size
    queries = (0 until nQueries).map(i => Workload.query(g, base.words, i, maxDist))
    deltaDf = delta.toDF("word")
    queryDf = queries.toDF("q")
    val trie = PrefixTree.create(base.rows.toDF("word"), "word")
    span("ptree.write")(PrefixTree.writeIndexed(trie, baseDir))
    props = Gen.dictionaryProps(base.words.toSeq) ++ Map(
      "corpus_rows" -> base.rows.size, "delta_words" -> deltaWords,
      "delta_new_words" -> fresh.size, "queries" -> nQueries,
      "planted_edits" -> (0 until nQueries).groupBy(Workload.plantedEdits(_, maxDist))
        .toSeq.sortBy(_._1).map { case (e, xs) => s"$e:${xs.size}" }.mkString(" "),
      "max_dist" -> maxDist)
  }

  def inputProps: Map[String, Any] = props

  /** One maintenance cycle; `answers` consumes the join-mode answers. */
  private def cycle(answers: DataFrame => Unit): Unit = {
    val b = span("ptree.read")(PrefixTree.read(spark, baseDir))
    val merged = span("ptree.merge")(PrefixTree.merge(b, deltaDf, "word"))
    span("ptree.write")(PrefixTree.writeIndexed(merged, imageDir))
    val back = span("ptree.read")(PrefixTree.read(spark, imageDir))
    span("query.join")(answers(Query.queryJoin(queryDf, "q", back, maxDist)))
  }

  def run(): Run = timeRun(deltaWords)(cycle(ctx.noop))

  def warmSeconds = 8.0

  private val mergeProbe = mutable.ArrayBuffer[Double]()

  override def probes(): Unit = for (_ <- 1 to 3) {
    val t0 = System.nanoTime()
    span("ptree.merge")(ctx.noop(PrefixTree.merge(PrefixTree.read(spark, baseDir), deltaDf, "word")))
    mergeProbe += (System.nanoTime() - t0) / 1e9
  }

  override def layerValues(): Map[String, Double] = {
    val st = Query.trieStats(PrefixTree.read(spark, imageDir))
    Map("ptree.nodes" -> st.nodes.toDouble, "ptree.chars" -> st.chars.toDouble,
      "ptree.nodes_per_word" -> st.nodes.toDouble / (base.words.length + freshWords),
      "ptree.merge_s" -> Stats.median(mergeProbe.toSeq))
  }

  /** Checks the image the last timed cycle wrote, and join-mode answers
    * over it.
    */
  def check(): Check = {
    val image = PrefixTree.read(spark, imageDir)
    val answers = Query.queryJoin(queryDf, "q", image, maxDist)
      .as[(String, String, Int, Long)].collect().groupBy(_._1)
    val want = counts(base.rows ++ delta)
    val got = image.filter(col("is_word"))
      .select("node", "n_occurrences").as[(String, Long)].collect()
    val notes = mutable.ArrayBuffer[String]()
    var failed = if (same("merged word set", got, want, notes)) 0L else 1L
    val o = new Oracle.Dict(want)
    queries.distinct.foreach { q =>
      if (!same(s"queryJoin($q)", answers.getOrElse(q, Array()).map(r => (r._2, r._3, r._4)),
          o.within(q, maxDist).map { case (w, d) => (w, d, want(w)) }, notes)) failed += 1
    }
    Check(1L + queries.distinct.size, failed, notes.toSeq)
  }
}

/** Fuzzy dedup of a name column with planted near-duplicate clusters. */
final class DedupNames(ctx: Ctx) extends Workload(ctx) {
  import ctx.{span, spark}
  import spark.implicits._

  // large enough that the trie search, not per-job overhead, takes most
  // of a call: smaller inputs keep speeding up for a minute as the JIT
  // compiles the driver-side planning code, so their medians wander
  val baseNames = 20000
  val maxDist = 1

  var rows: Seq[String] = _
  var df: DataFrame = _
  var props: Map[String, Any] = Map.empty

  def setup(): Unit = {
    val g = new Gen(ctx.seed)
    val syl = g.syllables(300)
    val first = g.words(400, syl, 1, 2)
    val last = g.words(baseNames, syl, 2, 3)
    val bases = last.map(l => first(g.int(first.length)) + " " + l).distinct
    // a cluster is a base name plus 0..3 one-edit variants
    val clusters = bases.map(b => b +: Seq.fill(if (g.chance(0.3)) 1 + g.int(3) else 0)(g.edit(b, 1)))
    val values = clusters.flatten
    // exact repeats and padded copies: the operator trims and dedups them
    rows = values.toSeq.flatMap { v =>
      if (g.chance(0.1)) Seq(v, v) else if (g.chance(0.05)) Seq(s" $v ") else Seq(v)
    }
    df = rows.toDF("name")
    props = Gen.dictionaryProps(values.distinct.toSeq) ++ Map(
      "rows" -> rows.size,
      "planted_cluster_sizes" -> clusters.groupBy(_.size).toSeq.sortBy(_._1)
        .map { case (s, cs) => s"$s:${cs.length}" }.mkString(" "),
      "max_dist" -> maxDist)
  }

  def inputProps: Map[String, Any] = props

  def warmSeconds = 15.0

  def run(): Run = timeRun(rows.size) {
    span("ops.fuzzy_dedup")(ctx.noop(DedupOps.fuzzyDedup(df, "name", maxDist)))
  }

  private def values: DataFrame =
    df.select(org.apache.spark.sql.functions.trim(col("name")).as("value"))
      .filter(col("value") =!= "").distinct().localCheckpoint()

  private val createProbe, batchProbe, ccProbe = mutable.ArrayBuffer[Double]()
  private var pairs = 0L

  override def probes(): Unit = for (_ <- 1 to 3) {
    def t(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val v = values
    createProbe += t(span("ptree.create")(ctx.noop(PrefixTree.create(v, "value"))))
    val trie = PrefixTree.create(v, "value").localCheckpoint()
    var edges: DataFrame = null
    batchProbe += t(span("query.batch") {
      edges = Query.queryBatch(v, "value", trie, maxDist)
        .filter(col("query_string") < col("node"))
        .select(col("query_string").as("a"), col("node").as("b")).localCheckpoint()
    })
    pairs = edges.count()
    ccProbe += t(span("graph.cc")(ctx.noop(GraphOps.connectedComponents(edges, "a", "b"))))
  }

  private var clusters = 0L
  private var stats: (Long, Long) = (0L, 0L)

  override def layerValues(): Map[String, Double] = Map(
    "ptree.create_s" -> Stats.median(createProbe.toSeq),
    "ptree.nodes" -> stats._1.toDouble, "ptree.chars" -> stats._2.toDouble,
    "ptree.nodes_per_word" -> stats._1.toDouble / rows.map(_.trim).distinct.size,
    "query.batch_s" -> Stats.median(batchProbe.toSeq),
    "graph.cc_s" -> Stats.median(ccProbe.toSeq),
    "dedup.pairs" -> pairs.toDouble, "dedup.clusters" -> clusters.toDouble)

  override def kernel(): Option[KernelCounts] = {
    val v = values
    val trie = PrefixTree.create(v, "value").localCheckpoint()
    val st = Query.trieStats(trie)
    stats = (st.nodes, st.chars)
    val words = v.as[String].collect().toSeq
    Some(kernelCounts(words, maxDist, Query.childrenIndex(trie), words))
  }

  def check(): Check = {
    val got = DedupOps.fuzzyDedup(df, "name", maxDist).as[(String, String)].collect()
    val distinct = rows.map(_.trim).filter(_.nonEmpty).distinct
    val want = Oracle.clusters(distinct, maxDist)
    clusters = got.groupBy(_._2).count(_._2.length > 1).toLong
    val notes = mutable.ArrayBuffer[String]()
    val gotMap = got.toMap
    var failed = 0L
    if (got.length != gotMap.size) { failed += 1; notes += s"${got.length - gotMap.size} repeated values" }
    distinct.foreach { v =>
      if (gotMap.get(v) != want.get(v)) {
        failed += 1
        if (notes.size < 5) notes += s"cluster($v): got ${gotMap.get(v)} want ${want.get(v)}"
      }
    }
    val extra = gotMap.keySet -- want.keySet
    if (extra.nonEmpty) { failed += extra.size; notes += s"unexpected values: ${extra.take(3)}" }
    Check(distinct.size.toLong, failed, notes.toSeq)
  }
}
