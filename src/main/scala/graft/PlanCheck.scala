package graft

/** Dev tool: dump formatted physical plans for the contract queries so
  * scan pushdown / join strategy / codegen spans can be reviewed.
  * Usage: runMain graft.PlanCheck <sfDir> [queryName...]
  */
object PlanCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq
    val spark = Session.local(cores = 4)
    for (n <- names.sorted) {
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
