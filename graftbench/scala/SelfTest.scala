package graftbench

/** Checks of the harness's own logic that need no Spark session; run by
  * `python3 graftbench/selftest.py`. Exits non-zero on the first failure.
  */
object SelfTest {
  private var failures = 0

  private def check(what: String, ok: Boolean): Unit =
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") }

  private def throws(f: => Any): Boolean =
    try { f; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    // a job submitted from inside Iterate.checkpoint (the long form Spark
    // records: innermost frame first, Spark frames before the program's)
    val checkpointSite = Seq(
      "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)",
      "graft.functions.Iterate$.checkpoint(Iterate.scala:34)",
      "graft.functions.Iterate$.checkpoint(Iterate.scala:25)",
      "graft.operators.Analytics$.$anonfun$kcore$1(Analytics.scala:737)",
      "org.apache.spark.sql.Dataset.transform(Dataset.scala:2707)",
      "graftbench.RegistryOp.run(Workloads.scala:48)").mkString("\n")
    check("a checkpoint job is attributed to Iterate.scala",
      Attribution.innermostGraftFile(checkpointSite).contains("Iterate.scala"))
    check("the innermost program frame wins over its callers",
      Attribution.innermostGraftFile(checkpointSite.split('\n').drop(3).mkString("\n"))
        .contains("Analytics.scala"))
    check("frames printed with a module prefix are read",
      Attribution.innermostGraftFile("app//graft.functions.Ranks$.withGlobalRank(Ranks.scala:110)")
        .contains("Ranks.scala"))
    check("a stage-materialization thread's call site has no program frame",
      Attribution.innermostGraftFile(Seq(
        "org.apache.spark.sql.execution.SQLExecution$.$anonfun$withThreadLocalCaptured$2(SQLExecution.scala:329)",
        "java.base/java.util.concurrent.ThreadPoolExecutor.runWorker(ThreadPoolExecutor.java:1136)")
        .mkString("\n")).isEmpty)
    check("the harness's own frames are not program frames",
      Attribution.innermostGraftFile("graftbench.Main$.main(Main.scala:1)").isEmpty)

    check("SPARK_GRAFT_CONF keys and values are trimmed, blank entries skipped",
      Session.parseOverrides(" spark.a = 1 ;; spark.b=x=y ; ") ==
        Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    check("SPARK_GRAFT_CONF rejects an empty key", throws(Session.parseOverrides(" =1")))
    check("SPARK_GRAFT_CONF rejects an entry without '='",
      throws(Session.parseOverrides("spark.a")))
    check("the declared conf runs local[nproc] with nproc shuffle partitions",
      Session.conf(4).toMap.get("spark.master").contains("local[4]") &&
        Session.conf(4).toMap.get("spark.sql.shuffle.partitions").contains("4"))

    check("a staged write is keyed by its table",
      Tracer.tableName("file:/w/p1/wh/wh_fact_sales.staging/") == "wh_fact_sales")

    if (failures > 0) sys.exit(1)
    println("scala self-tests passed")
  }
}
