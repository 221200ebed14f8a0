package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

class SessionSpec extends SparkSpec {

  test("graft.Session is the only place a SparkSession is built") {
    // the spec forks with the project root as working directory
    val roots = Seq("src/main/scala", "src/test/scala").map(Paths.get(_))
    roots.foreach(r => assert(Files.isDirectory(r), s"$r not found"))
    val builder = "SparkSession\\s*\\.\\s*builder".r
    val factory = Paths.get("src/main/scala/graft/Session.scala")
    val offenders = roots.flatMap { r =>
      val files = Files.walk(r)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.filter { (f: Path) =>
      f != factory && builder.findFirstIn(Files.readString(f)).isDefined
    }
    assert(offenders.isEmpty, s"build sessions through graft.Session: $offenders")
  }

  test("the shared session carries the documented defaults") {
    val conf = spark.sparkContext.getConf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    val at8 = Session.defaults(8).toMap
    assert(at8("spark.sql.shuffle.partitions") == "8")
    // AQE coalescing keeps one post-shuffle task per core. The 1 MB
    // minimum partition size would fold this small shuffle into one task
    // whatever the floor, so it is lowered to make the floor visible.
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b") {
      val agg = spark.range(0, 20000, 1, 8).groupBy(col("id") % 1000).count()
      assert(agg.rdd.getNumPartitions == 4)
    }
  }

  test("SPARK_GRAFT_CONF parsing: key=value pairs, malformed entries raise") {
    assert(Session.parseConf("") == Nil)
    assert(Session.parseConf(" a.b = 1 ;c=x=y;") == Seq("a.b" -> "1", "c" -> "x=y"))
    Seq("a=1;oops", "=1", "a=1;;=2").foreach { bad =>
      intercept[IllegalArgumentException](Session.parseConf(bad))
    }
  }
}
