package graftbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs on: one declared conf table that
  * mirrors the session conf of `graft.Bench` (including the shuffle pair it
  * ships) at `local[cpus]` with shuffle partitions = cpus, plus the
  * directories that keep Spark's temporary files inside the benchmark's
  * work dir.
  */
object Session {

  def conf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"`: entries and their keys and values are
    * trimmed and blank entries skipped; an entry without `=` or with an
    * empty key is an error, not a silent no-op.
    */
  def parseOverrides(raw: String): Seq[(String, String)] =
    raw.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i >= 0, s"SPARK_GRAFT_CONF entry has no '=': '$kv'")
      val k = kv.substring(0, i).trim
      require(k.nonEmpty, s"SPARK_GRAFT_CONF entry has an empty key: '$kv'")
      k -> kv.substring(i + 1).trim
    }

  def start(cpus: Int, workDir: String): SparkSession = {
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseOverrides)
    val all = conf(cpus) ++ Seq(
      "spark.local.dir" -> s"$workDir/spark-local",
      "spark.sql.warehouse.dir" -> s"$workDir/spark-warehouse") ++ overrides
    val b = all.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
    val spark = b.withExtensions(new graft.GraftExtensions).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The session's SQL conf entries whose value differs from the built-in
    * default (or that have no registered default).
    */
  def nonDefaultSqlConf(spark: SparkSession): Seq[(String, String)] = {
    val defaults = new org.apache.spark.sql.internal.SQLConf
    spark.conf.getAll.toSeq.filter(_._1.startsWith("spark.sql.")).filter {
      case (k, v) => scala.util.Try(defaults.getConfString(k)).toOption != Some(v)
    }.sortBy(_._1)
  }
}
