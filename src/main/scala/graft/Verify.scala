package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.start(GraftSession.envCores(4))
    // Big-SF sweeps: localCheckpoint keeps state in block-manager
    // memory, and once storage memory fills, evicted blocks are LOST
    // (the r16 sf10 sweep cascaded 342 failures that way). A reliable
    // checkpoint dir makes Iterate.checkpoint durable on disk instead —
    // the same switch a production cluster flips (HDFS/S3 dir). The
    // cleaner conf matters as much as the dir: without it Spark NEVER
    // deletes reliable checkpoint data during an application, so a
    // multi-hundred-query sweep would trade the memory exhaustion for
    // disk exhaustion; with it (set in GraftSession.conf — it is
    // context-level), each query's checkpoints are reclaimed once
    // their RDD references are GC'd between queries.
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_ONLY=a,b,c restricts the dump (dev loop); the oracle
    // json is restricted to match so check.py only compares the subset.
    val only = QueryDef.subsetFilter(SparkEntry.queries.keySet)
    // Single-file outputs are tidy at the driver's sf0.01, but
    // coalesce(1) COLLAPSES a narrow plan into one task — at sf10 the
    // whole query runs single-threaded behind it. Big-SF sweeps set
    // SPARK_GRAFT_NO_COALESCE=1; check.py globs *.parquet either way.
    val keepParts = sys.env.contains("SPARK_GRAFT_NO_COALESCE")
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val out = fn(spark, sfDir)
        (if (keepParts) out else out.coalesce(1)).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Operators persist() intermediate frames for their own multi-branch
      // plans; release them between queries so cached partitions don't
      // accumulate across the ~100-query session.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      // multiply-referenced CTEs get MATERIALIZED mechanically — the
      // fence is value-neutral and without it DuckDB's re-inlining is
      // multiplicative at big SFs (see OracleSql)
      .map { case (k, v) => s"${q(k)}: ${q(OracleSql.materializeCtes(v))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
