package graft

import graft.sources.Sinks
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema-drift guard for the events loader (the round-8 breakage class:
  * the lake regenerated `ts` as timestamp[us] where it had been
  * nanos-int64, and every downstream `ts div …` site threw
  * DATATYPE_MISMATCH). These tests pin the loader contract — `ts` is an
  * epoch-nanos BIGINT no matter which physical type the parquet carries —
  * by writing the SAME logical rows under each physical type and
  * asserting the normalized frames are identical. If someone removes the
  * normalization, the timestamp variants fail here before any operator
  * sees the drift.
  *
  * It also pins the parquet table reader every loader goes through
  * ([[Sinks.readParquet]]): its driver-side footer schema must equal
  * what `spark.read.parquet` infers, its fallbacks must behave exactly
  * like `spark.read.parquet`, and a table load must start no Spark job.
  */
class TablesSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_$name")
    d.toFile.deleteOnExit()
    d.toString
  }

  // One deterministic logical events table: epoch-nanos values chosen to
  // exercise sub-second digits (µs-representable, as every real drop is).
  private lazy val canonicalNanos: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 1672531200000000000L, 10L, "view", 1.5),     // 2023-01-01 00:00:00
    (2L, 1672531200123456000L, 10L, "click", 2.0),    // +123456 µs
    (3L, 1672617600000000000L, 11L, "purchase", 9.99) // +1 day
  )

  /** Write the canonical rows with `ts` in the given physical type, into
    * `<dir>/events.parquet`, so `Tables.events` reads it exactly like a
    * real SF directory.
    */
  private def writeEvents(dir: String, tsType: DataType): Unit = {
    import spark.implicits._
    val base = canonicalNanos
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val typed = tsType match {
      case LongType => base
      case TimestampType =>
        base.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // LTZ → NTZ cast reads the instant in the session tz (pinned UTC
        // by SparkSpec) — the same naive-UTC wall clock pyarrow's default
        // timestamp[us] carries.
        base.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case other => fail(s"unhandled fixture type $other")
    }
    typed.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def loadNormalized(dir: String): Seq[Row] =
    Tables.events(spark, dir)
      .orderBy("event_id")
      .collect()
      .toSeq

  test("events loader yields the identical epoch-nanos bigint frame from " +
      "bigint, timestamp, and timestamp_ntz physical types") {
    val dirs = Map[DataType, String](
      LongType -> tmp("ev_long"),
      TimestampType -> tmp("ev_ltz"),
      TimestampNTZType -> tmp("ev_ntz"))
    dirs.foreach { case (t, d) => writeEvents(d, t) }

    // Every variant must come back as BIGINT…
    dirs.foreach { case (t, d) =>
      val dt = Tables.events(spark, d).schema("ts").dataType
      assert(dt == LongType, s"physical $t loaded as $dt, expected BIGINT")
    }
    // …with byte-identical rows (column order included — Verify hashes
    // depend on it).
    val frames = dirs.map { case (t, d) => t -> loadNormalized(d) }
    val reference = frames(LongType)
    assert(reference.map(_.getLong(1)) == canonicalNanos.map(_._2))
    frames.foreach { case (t, rows) =>
      assert(rows == reference, s"physical $t normalized differently")
    }
  }

  test("normalizeEventTs rejects an unexpected ts type loudly") {
    import spark.implicits._
    val bad = Seq(("a", "2023-01-01")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeEventTs(bad))
    assert(e.getMessage.contains("unsupported"))
  }

  test("the shipped testdata events table satisfies the bigint contract") {
    val schema = Tables.events(spark, sfDir).schema
    assert(schema("ts").dataType == LongType)
  }

  /** The reader must take its footer fast path on `path` and agree with
    * `spark.read.parquet` there.
    */
  private def assertFooterParity(path: String): Unit = {
    val footer = Sinks.footerSchema(spark, path)
    assert(footer.isDefined, s"$path: expected the footer fast path")
    assert(Sinks.readParquet(spark, path).schema ==
      spark.read.parquet(path).schema, s"$path: reader schema differs")
  }

  test("readParquet's footer schema equals spark.read.parquet's on every " +
      "testdata table") {
    val tables = new java.io.File(sfDir).list().filter(_.endsWith(".parquet"))
    assert(tables.length == 10)
    tables.sorted.foreach(t => assertFooterParity(s"$sfDir/$t"))
  }

  test("readParquet's footer schema equals spark.read.parquet's on the " +
      "events.ts physical types, an upserted table and an appended table") {
    import spark.implicits._
    Seq(LongType, TimestampType, TimestampNTZType).foreach { t =>
      val d = tmp("parity_ev")
      writeEvents(d, t)
      assertFooterParity(s"$d/events.parquet")
    }
    val upserted = s"${tmp("parity_up")}/t"
    Sinks.upsertParquet(Seq((1, "a", 1.5)).toDF("k", "v", "x"), upserted, Seq("k"))
    Sinks.upsertParquet(Seq((2, "b", 2.5)).toDF("k", "v", "x"), upserted, Seq("k"))
    assertFooterParity(upserted)
    val appended = s"${tmp("parity_app")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(appended)
    Seq((2L, "b"), (3L, "c")).toDF("id", "s").repartition(2)
      .write.mode("append").parquet(appended)
    assert(new java.io.File(appended).list().count(_.endsWith(".parquet")) >= 3)
    assertFooterParity(appended)
  }

  test("readParquet falls back to spark.read.parquet: same schema or the " +
      "same exception class") {
    import spark.implicits._
    def same(path: String): Unit = {
      assert(Sinks.footerSchema(spark, path).isEmpty, s"$path: expected fallback")
      val expected = scala.util.Try(spark.read.parquet(path).schema)
      val got = scala.util.Try(Sinks.readParquet(spark, path).schema)
      (expected, got) match {
        case (scala.util.Success(e), scala.util.Success(g)) => assert(g == e, path)
        case (scala.util.Failure(e), scala.util.Failure(g)) =>
          assert(g.getClass == e.getClass, s"$path: ${g.getClass} vs ${e.getClass}")
        case other => fail(s"$path: $other")
      }
    }
    // two files whose schemas differ: only merging sees both
    val drift = s"${tmp("fb_merge")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(drift)
    Seq((2L, 2.5)).toDF("id", "x").write.mode("append").parquet(drift)
    val mergeKey = "spark.sql.parquet.mergeSchema"
    spark.conf.set(mergeKey, "true")
    try same(drift) finally spark.conf.unset(mergeKey)
    // a summary file that carries another schema wins Spark's inference
    val summarized = s"${tmp("fb_summary")}/t"
    Seq((1L, "a")).toDF("id", "s").write.parquet(summarized)
    val other = s"${tmp("fb_other")}/t"
    Seq((1, 2.5)).toDF("k", "x").coalesce(1).write.parquet(other)
    val otherFile = new java.io.File(other).listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(otherFile.toPath,
      java.nio.file.Paths.get(summarized, "_common_metadata"))
    same(summarized)
    // partition subdirectories add the partition column
    val partitioned = s"${tmp("fb_part")}/t"
    Seq((1L, "a"), (2L, "b")).toDF("id", "p").write.partitionBy("p").parquet(partitioned)
    same(partitioned)
    // no data file at all, a zero-length data file, a missing path, a glob
    val empty = tmp("fb_empty")
    new java.io.File(empty, "_SUCCESS").createNewFile()
    same(empty)
    val zero = tmp("fb_zero")
    new java.io.File(zero, "part-00000.parquet").createNewFile()
    same(zero)
    same(s"${tmp("fb_missing")}/nothing_here")
    same(s"$sfDir/nat*.parquet")
  }

  test("a Tables load starts no Spark job") {
    val (_, jobs) = jobsOf {
      Tables.lineitem(spark, sfDir).schema
      Tables.events(spark, sfDir).schema
      Tables.documents(spark, sfDir).schema
    }
    assert(jobs == 0, s"table loads started $jobs job(s)")
  }
}
