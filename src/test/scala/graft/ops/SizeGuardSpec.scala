package graft.ops

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SizeGuardSpec extends SparkSpec {
  import spark.implicits._
  import SizeGuard.{DriverEdges, NodeBroadcast, Site, TrieIndex}

  test("each site's limits, inclusive at the boundary") {
    assert(DriverEdges == Site("graph.driver_edges", 1L << 21, 128L << 20))
    assert(NodeBroadcast == Site("graph.node_broadcast", 1L << 22, 128L << 20))
    assert(TrieIndex == Site("query.children_index", Long.MaxValue, 512L << 20))
    for (site <- Seq(DriverEdges, NodeBroadcast, TrieIndex)) {
      assert(SizeGuard.small(site, site.maxRows, site.maxBytes), site.name)
      assert(!SizeGuard.small(site, 0L, site.maxBytes + 1), site.name)
      if (site.maxRows < Long.MaxValue)
        assert(!SizeGuard.small(site, site.maxRows + 1, 0L), site.name)
    }
  }

  test("measure: one aggregate, the rows and bytes of count() + the per-call estimate") {
    // the estimate each guard computed before: a count() job, then an
    // aggregate of the id width (doubled) + carried width + 16 B per row
    def twoJobs(df: org.apache.spark.sql.DataFrame, idCol: String, carriedW: Double) = {
      val rows = df.count()
      val idW = 2.0 * df.agg(coalesce(avg(length(col(idCol).cast("string"))), lit(8.0)))
        .head().getDouble(0)
      (rows, (rows * (idW + (if (carriedW < 0) idW else carriedW) + 16)).toLong)
    }
    val strIds = Seq("a", "bb", "ccc", "déjà", null).toDF("id").localCheckpoint()
    val longIds = (1L to 1000L).toDF("id").localCheckpoint()
    val empty = Seq.empty[String].toDF("id").localCheckpoint()
    for (df <- Seq(strIds, longIds, empty); carriedW <- Seq(8.0, -1.0)) {
      val (old, oldJobs) = countJobs(twoJobs(df, "id", carriedW))
      val (got, jobs) = countJobs(SizeGuard.measure(df, "id", carriedW))
      assert(got == old, s"carriedW=$carriedW")
      // one aggregate action: under AQE its shuffle map stage is a job of
      // its own, so "one" reads as the jobs of a plain count aggregate
      val (_, oneAgg) = countJobs(df.agg(count(lit(1))).head())
      assert(jobs == oneAgg && oldJobs == 2 * oneAgg,
        s"measure ran $jobs jobs, one aggregate $oneAgg, count + estimate $oldJobs")
    }
    assert(SizeGuard.measure(empty, "id") == ((0L, 0L)))
  }

  test("forcing: either side of a site, nested, restored after an exception, this thread only") {
    val site = DriverEdges
    assert(SizeGuard.small(site, 0L, 0L))
    SizeGuard.forcing(site -> false) {
      assert(!SizeGuard.small(site, 0L, 0L))
      SizeGuard.forcing(site -> true, TrieIndex -> false) {
        assert(SizeGuard.small(site, Long.MaxValue, Long.MaxValue))
        assert(!SizeGuard.small(TrieIndex, 0L, 0L))
      }
      assert(!SizeGuard.small(site, 0L, 0L))
      assert(SizeGuard.small(TrieIndex, 0L, 0L))
      intercept[IllegalStateException] {
        SizeGuard.forcing(site -> true)(throw new IllegalStateException("boom"))
      }
      assert(!SizeGuard.small(site, 0L, 0L))
    }
    assert(SizeGuard.small(site, 0L, 0L) && !SizeGuard.small(site, site.maxRows + 1, 0L))
    // a thread started outside the scope keeps the measured decision
    val go = new java.util.concurrent.CountDownLatch(1)
    val seen = new java.util.concurrent.SynchronousQueue[java.lang.Boolean]
    val other = new Thread(() => { go.await(); seen.put(SizeGuard.small(site, 0L, 0L)) })
    other.start()
    SizeGuard.forcing(site -> false) {
      go.countDown()
      assert(seen.take().booleanValue)
    }
    other.join()
  }

  test("no operator takes a size parameter: every limit lives in SizeGuard") {
    // the spec forks with the project root as working directory
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found")
    val guard = Paths.get("src/main/scala/graft/ops/SizeGuard.scala")
    val knob = """\w*(Limit|ThresholdBytes)\s*:\s*Long\s*=""".r
    val files = Files.walk(root)
    val sources =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    val hits = sources.filter((f: Path) => f != guard).flatMap { f =>
      knob.findAllIn(Files.readString(f)).map(m => s"$f: $m")
    }
    assert(hits.isEmpty, s"size limits belong in SizeGuard: $hits")
  }
}
