package graft

/** Diagnostics main ([[PlanDump]]'s sibling): execute named registered
  * queries and print the number of shuffle exchanges in the FINAL
  * adaptive plan — the number ShuffleBudgetSpec pins. Usage:
  * runMain graft.ShuffleCount [sfDir] [query ...]
  */
object ShuffleCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.start(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          try {
            val n = functions.PlanGuard.shuffles(fn(spark, sfDir))
            println(s"SHUFFLES $name=$n")
          } catch {
            case e: Throwable => println(s"SHUFFLES $name=ERROR ${e.getMessage}")
          }
        case None => println(s"unknown query: $name")
      }
    }
    spark.stop()
  }
}
