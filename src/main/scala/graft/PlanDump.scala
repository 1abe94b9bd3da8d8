package graft

/** Diagnostics main: print the formatted physical plan for named
  * registered queries (all of them with no args) — the `.explain` audit
  * loop. Usage: runMain graft.PlanDump [sfDir] [query ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.start(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          println(s"\n===== $name =====")
          try println(fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => println(s"ERROR: ${e.getMessage}") }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
