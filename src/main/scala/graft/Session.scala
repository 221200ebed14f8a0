package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Every main (`Bench`,
  * `Verify`, `PlanCheck`, `tools.*`) and the test harness go through
  * [[local]], so a probe always runs the engine the bench measures.
  *
  * Environment:
  *   - `SPARK_GRAFT_CPUS`: cores of `local[cores]`; the host's processor
  *     count when unset.
  *   - `SPARK_GRAFT_CONF="k=v;k=v"`: conf overrides applied after the
  *     defaults below (A/B probes of any Spark setting). A non-empty
  *     entry that is not `key=value` is an error.
  */
object Session {

  def hostCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The deployment defaults at `cores`:
    *   - shuffle partitions = cores. AQE coalescing aims at one task per
    *     core with no setting of its own: under
    *     `coalescePartitions.parallelismFirst` (default true) its minimum
    *     partition count is the default parallelism, `cores` in
    *     `local[cores]` (a stage whose tasks would each read less than
    *     `minPartitionSize`, 1 MB, still coalesces below it);
    *   - `bypassMergeThreshold` = 1, i.e. always the sort shuffle writer
    *     (r18): the bypass-merge writer opens one file per reduce
    *     partition per map task, so every small shuffle at R = cores cost
    *     cores^2 file creations - the dedup sketch family's 32-core
    *     anti-scaling (dedup_jaccard stage task time 46.5 s -> 14.2 s).
    *     Every R > 200 shuffle takes the sort writer anyway, so
    *     cluster-scale plans are unchanged;
    *   - session time zone UTC and the UI off.
    */
  def defaults(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Parse a `SPARK_GRAFT_CONF` value: `;`-separated `key=value` pairs
    * (the value may itself contain `=`); empty entries are skipped.
    */
  def parseConf(spec: String): Seq[(String, String)] =
    spec.split(";").toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i > 0, s"SPARK_GRAFT_CONF entry '$kv' is not key=value")
      kv.substring(0, i).trim -> kv.substring(i + 1).trim
    }

  def local(cores: Int = hostCores): SparkSession = {
    val conf = defaults(cores) ++ parseConf(sys.env.getOrElse("SPARK_GRAFT_CONF", ""))
    val spark = conf
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
