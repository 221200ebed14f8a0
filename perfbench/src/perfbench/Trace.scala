package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: `trace` groups the spans of one timed run (or
  * one set-up / probe step), `parent` is the enclosing span on the same
  * thread (0 at top level). Times are System.nanoTime.
  */
final case class Span(id: Int, parent: Int, trace: String, name: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans are recorded only while `enabled`;
  * when disabled, `span` is a plain call.
  */
final class Tracer(runId: String) {
  @volatile var enabled = false
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private val traceId = new ThreadLocal[String] { override def initialValue(): String = "" }

  /** Group the spans recorded by `f` on this thread under one trace id. */
  def trace[T](id: String)(f: => T): T = {
    val old = traceId.get
    traceId.set(s"$runId/$id")
    try f finally traceId.set(old)
  }

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        val s = Span(id, parent, traceId.get, name, t0, t1)
        spans.synchronized(spans += s)
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Self time of every span: its duration minus the part of it that
    * its child spans cover.
    */
  def selfTimes(): Map[Int, Double] = {
    val ss = all
    val byParent = ss.groupBy(_.parent)
    ss.map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.end - s.start - Stats.covered(kids, s.start, s.end)) / 1e9
    }.toMap
  }

  def selfSeconds(name: String): Seq[Double] = {
    val self = selfTimes()
    named(name).map(s => self(s.id))
  }

  def write(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val self = selfTimes()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end, "self_s" -> self(s.id))))
    } finally w.close()
  }
}

/** Spark runtime counters from a SparkListener and a
  * QueryExecutionListener that the benchmark registers. `snapshot`
  * drains the listener bus first, so every event of finished work is in.
  */
final class SparkCounters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskS: Double, gcS: Double,
      shuffleWriteB: Long, shuffleReadB: Long, spillB: Long, taskFailures: Long, planS: Double) {
    def values: Seq[Double] = Seq[Double](jobs.toDouble, stages.toDouble, tasks.toDouble, taskS, gcS,
      shuffleWriteB.toDouble, shuffleReadB.toDouble, spillB.toDouble, taskFailures.toDouble, planS)
  }

  private var jobs, stages, tasks, taskNs, gcMs, shW, shR, spill, failures = 0L
  private var planMs = 0L
  private val stageSpans = mutable.ArrayBuffer[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    val i = e.stageInfo
    for (a <- i.submissionTime; b <- i.completionTime) stageSpans += ((a, b))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (e.reason != org.apache.spark.Success) failures += 1
    val m = e.taskMetrics
    if (m != null) {
      taskNs += m.executorRunTime * 1000000L
      gcMs += m.jvmGCTime
      shW += m.shuffleWriteMetrics.bytesWritten
      shR += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    planMs += Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def snapshot(): Snap = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized(Snap(jobs, stages, tasks, taskNs / 1e9, gcMs / 1e3, shW, shR, spill, failures,
      planMs / 1e3))
  }

  /** Milliseconds of [from, to] (epoch ms) during which no stage ran. */
  def outsideStageMs(from: Long, to: Long): Long =
    (to - from) - Stats.covered(synchronized(stageSpans.toList), from, to)
}

object Jvm {
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum / 1e3

  /** Heap still live after full collections. */
  def liveHeapMb(): Double = {
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(100); i += 1 }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Fixed pure-JVM loop (integer hashing over a small array); its time
    * marks runs taken while the host was busy with other work.
    */
  def canaryMs(): Double = {
    val a = Array.tabulate(1 << 14)(i => i * 31)
    val times = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var h = 0L
      var r = 0
      while (r < 400) {
        var i = 0
        while (i < a.length) { h = h * 1099511628211L ^ a(i); a(i) = (h >>> 7).toInt; i += 1 }
        r += 1
      }
      if (h == 42) println("")
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(times)
  }
}
