package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built. Every main (Bench,
  * Verify, PlanDump, ShuffleCount, CurationProfile) and the test fixture
  * start from the same conf table, install [[GraftExtensions]] and apply
  * `SPARK_GRAFT_CONF`, so the verified, measured, dumped and tested plans
  * are the same plans; the core count is the only thing a caller picks.
  */
object GraftSession {

  /** The session conf at `local[cores]` (shuffle partitions = cores). */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    // Shuffle/partition adaptivity (r17, guide §2.2; measured on the
    // 15 heaviest queries: geomean 0.70× vs the r16 defaults, every
    // iterative operator 25-50% faster, no regression):
    //   - bypassMergeThreshold=1 disables the bypass-merge shuffle
    //     writer, whose M×R tiny file creates dominated per-round
    //     cost at local core counts (taskRunSum showed ~6 s of pure
    //     shuffle-WRITE time inside a 5 s pagerank). At scale R
    //     exceeds the 200 default and the sort writer runs anyway —
    //     this makes local execution match the at-scale path.
    //   - canChangeCachedPlanOutputPartitioning lets AQE coalesce
    //     persisted frames by BYTES instead of pinning them at full
    //     shuffle width (betweenness_sampled: 711 → 228 tasks) —
    //     partition counts now adapt to data volume in both
    //     directions, which is the r16 verdict's top item.
    "spark.shuffle.sort.bypassMergeThreshold" -> "1",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    // context-level (must precede getOrCreate): lets the cleaner delete
    // reliable checkpoint data once its RDD is GC'd, so a sweep with
    // SPARK_GRAFT_CHECKPOINT_DIR set (Verify) does not trade memory
    // exhaustion for disk exhaustion; harmless without a checkpoint dir
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  /** `SPARK_GRAFT_CONF="k=v;k2=v2"` entries as (key, value) pairs. Keys
    * and values are trimmed and empty entries skipped; an entry without
    * `=`, or with an empty key, fails loudly instead of being dropped.
    */
  def parseConf(raw: String): Seq[(String, String)] =
    raw.split(';').toSeq.map(_.trim).filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      require(i >= 0, s"SPARK_GRAFT_CONF entry has no '=': '$kv'")
      val k = kv.substring(0, i).trim
      require(k.nonEmpty, s"SPARK_GRAFT_CONF entry has an empty key: '$kv'")
      k -> kv.substring(i + 1).trim
    }

  /** The value of environment variable `name` as an integer, or an error
    * that names the variable (instead of a bare NumberFormatException).
    */
  def envInt(name: String, raw: String): Int =
    raw.trim.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"$name must be an integer, got '$raw'"))

  /** A `SPARK_GRAFT_CPUS` value as a core count: a positive integer. */
  def cores(raw: String): Int = {
    val n = envInt("SPARK_GRAFT_CPUS", raw)
    require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$raw'")
    n
  }

  /** `SPARK_GRAFT_CPUS` as a core count, else `default`. */
  def envCores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(cores)

  /** The graft session at `local[cores]`: [[conf]], then the
    * `SPARK_GRAFT_CONF` overrides (so a cluster deployment or a config
    * experiment can change any entry without touching the measured
    * defaults), then [[GraftExtensions]]. Log level WARN.
    */
  def start(cores: Int): SparkSession = {
    require(cores > 0, s"core count must be positive, got $cores")
    val overrides = sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(parseConf)
    val spark = (conf(cores) ++ overrides)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
