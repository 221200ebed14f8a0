package graft.tools

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Dev measurement tool (guide §1: measure first): run one or more
  * SparkEntry queries to the noop sink and attribute wall time to jobs
  * and stages via a SparkListener - the local[..] stand-in for the Spark
  * UI's stage table (the UI is disabled in bench runs). Prints, per
  * query: total wall, job count, and the top stages by task-time with
  * their shuffle read/write volumes, so the expensive operator is
  * identified empirically instead of guessed.
  *
  * Usage: runMain graft.tools.StageProbe <sfDir> <query>[,<query>...]
  * Session: [[graft.Session]] (`SPARK_GRAFT_CPUS`, `SPARK_GRAFT_CONF` for
  * A/B overrides) - the same engine graft.Bench measures.
  */
object StageProbe {
  private final class Rec {
    var name = ""
    var taskTimeMs = 0L
    var tasks = 0
    var shufReadB = 0L
    var shufWriteB = 0L
    var inputB = 0L
    var wallMs = 0L
    var gcMs = 0L
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: StageProbe <sfDir> <q1>[,<q2>...] [reps]")
    val sfDir = args(0)
    val names = args(1).split(",").toSeq
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.Session.local()

    val stages = mutable.LinkedHashMap.empty[Int, Rec]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = synchronized {
        val si = sc.stageInfo
        val r = stages.getOrElseUpdate(si.stageId, new Rec)
        r.name = si.name
        r.tasks = si.numTasks
        r.wallMs = (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(0L)
        val m = si.taskMetrics
        if (m != null) {
          r.taskTimeMs = m.executorRunTime
          r.shufReadB = m.shuffleReadMetrics.totalBytesRead
          r.shufWriteB = m.shuffleWriteMetrics.bytesWritten
          r.inputB = m.inputMetrics.bytesRead
          r.gcMs = m.jvmGCTime
        }
      }
    }

    // warmup pass (codegen/JIT) on the smallest SF, mirroring Bench
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory) {
      names.foreach { n =>
        try SparkEntryAccess.run(spark, n, warmDir)
        catch { case _: Throwable => () }
      }
    }

    // optional in-process sampling profiler (SPARK_GRAFT_PROBE_SAMPLE=1):
    // every 10 ms, aggregate the top frames of executor task threads -
    // the attach-API-free answer to "where do 32 threads burn 10s of
    // task time on a 0.5s stage" (jstack/jcmd cannot attach in this
    // sandbox). Prints the top stacks at the end of each rep.
    val sampling = sys.env.get("SPARK_GRAFT_PROBE_SAMPLE").contains("1")
    val frameCounts = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    @volatile var samplerOn = false
    val sampler = new Thread(() => {
      while (true) {
        if (samplerOn) {
          val traces = Thread.getAllStackTraces
          traces.forEach { (t, st) =>
            if (t.getName.startsWith("Executor task launch") && st.nonEmpty) {
              val top = st.take(3).map(f => s"${f.getClassName}.${f.getMethodName}")
                .mkString(" <- ") + s" [${t.getState}]"
              frameCounts.merge(top, 1L, (a, b) => a + b)
            }
          }
        }
        Thread.sleep(10)
      }
    })
    sampler.setDaemon(true)
    if (sampling) sampler.start()

    for (n <- names; rep <- 1 to reps) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      stages.clear(); jobs = 0
      spark.sparkContext.addSparkListener(listener)
      frameCounts.clear(); samplerOn = sampling
      val t0 = System.nanoTime()
      SparkEntryAccess.run(spark, n, sfDir)
      val wall = (System.nanoTime() - t0) / 1e9
      samplerOn = false
      // give the listener bus a moment to drain late stage-completed events
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"%n=== $n (rep $rep): wall $wall%.3f s, $jobs jobs, ${stages.size} stages ===")
      val top = stages.toSeq.sortBy(-_._2.taskTimeMs).take(12)
      println(f"${"stageId"}%8s ${"taskTime"}%9s ${"gc"}%7s ${"wall"}%7s ${"tasks"}%6s ${"shufR"}%9s ${"shufW"}%9s ${"input"}%9s  name")
      for ((id, r) <- top)
        println(f"$id%8d ${r.taskTimeMs}%8dms ${r.gcMs}%5dms ${r.wallMs}%6dms ${r.tasks}%6d ${fmt(r.shufReadB)}%9s ${fmt(r.shufWriteB)}%9s ${fmt(r.inputB)}%9s  ${r.name.take(90)}")
      val totTask = stages.valuesIterator.map(_.taskTimeMs).sum
      val totWall = stages.valuesIterator.map(_.wallMs).sum
      val totGc = stages.valuesIterator.map(_.gcMs).sum
      println(f"total stage task-time ${totTask}ms (gc ${totGc}ms), sum stage wall ${totWall}ms (stages may overlap)")
      if (sampling) {
        println("top sampled executor-thread stacks (10ms ticks):")
        import scala.jdk.CollectionConverters._
        frameCounts.asScala.toSeq.sortBy(-_._2).take(14).foreach {
          case (frame, cnt) => println(f"  $cnt%5d  $frame")
        }
      }
    }
    spark.stop()
  }

  private def fmt(b: Long): String =
    if (b >= (1L << 20)) f"${b / 1048576.0}%.1fMB"
    else if (b >= 1024) f"${b / 1024.0}%.1fKB"
    else s"${b}B"
}

/** Indirection kept tiny so the probe never links against query internals. */
private object SparkEntryAccess {
  def run(spark: SparkSession, name: String, sfDir: String): Unit =
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
}
