package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Schema-typed loaders for the driver-generated testdata tables.
  *
  * Every operator takes the scale-factor directory explicitly so the same
  * plan runs unchanged from sf0.001 smoke tests up to a 100 TB lake — the
  * parquet scans go through [[graft.sources.Sinks.readParquet]] (a plain
  * parquet relation whose schema is read from the footer on the driver,
  * so loading a table starts no Spark job), and partition pruning,
  * predicate pushdown and column pruning all apply (verify with
  * `.explain("formatted")`: PushedFilters / ReadSchema).
  */
object Tables {
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** The events table's `ts` column has shipped under THREE physical
    * parquet types across data drops: nanos-precision int64 (which
    * Spark's reader rejects as [PARQUET_TYPE_ILLEGAL] unless
    * `nanosAsLong` maps it to BIGINT), timestamp[us] (µs TIMESTAMP/
    * TIMESTAMP_NTZ), and a plain epoch-nanos BIGINT. Every downstream
    * operator states its event-time semantics on ONE contract — `ts` is
    * an epoch-nanos BIGINT — so this loader normalizes whatever the
    * files carry into that contract via [[normalizeEventTs]]: schema
    * drift in the lake lands here, in one place, instead of in ~10
    * `ts div …` arithmetic sites.
    *
    * The `spark.sql.legacy.parquet.nanosAsLong` conf is set at session
    * build time by every in-repo builder (Verify / Bench / SparkSpec /
    * PlanDump) — a loader should not unconditionally mutate
    * session-global conf as a side effect of planning. For sessions
    * built OUTSIDE this library (a user's spark-shell driving the
    * operators), a defensive set-if-unset keeps nanos-precision files
    * readable instead of failing with PARQUET_TYPE_ILLEGAL; it writes
    * the conf at most once per session. It is a no-op for µs/BIGINT
    * files — the conf only applies to NANOS-precision parquet columns.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureNanosReadable(spark)
    normalizeEventTs(load(spark, dir, "events"))
  }

  /** The defensive set-if-unset described above, shared with every other
    * entry point that touches the events parquet directly (the streaming
    * reader's schema probe fails the same way batch reads would).
    */
  private[graft] def ensureNanosReadable(spark: SparkSession): Unit = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    if (spark.conf.getOption(key).forall(_ != "true"))
      spark.conf.set(key, "true")
  }

  /** Normalize an events frame's `ts` to the repo-wide epoch-nanos
    * BIGINT contract, whatever type the parquet reader produced:
    *
    *   - `LongType` (nanos-int64 via nanosAsLong, or a true BIGINT
    *     column): already the contract — pass through untouched, so the
    *     historical layout keeps its zero-conversion scan.
    *   - `TimestampType` (µs, UTC-adjusted): `unix_micros * 1000`.
    *   - `TimestampNTZType` (µs, no zone — what pyarrow's default
    *     `timestamp[us]` becomes under Spark's NTZ inference): cast to
    *     TimestampType FIRST — `unix_micros` does not accept NTZ input
    *     — which interprets the wall-clock in the session time zone;
    *     the session tz is pinned UTC by every in-repo builder, so the
    *     naive values read as UTC, matching how DuckDB's `EPOCH_NS`
    *     treats the same naive column on the oracle side.
    *
    * The conversion is a codegen'd arithmetic projection on the scan —
    * no shuffle, no UDF — and `withColumn` on an existing column keeps
    * the ordinal position, so downstream `select`s and the Verify
    * column-order hash are unaffected. Works on streaming frames too
    * (schema inspection + projection only), so the file-stream readers
    * share this exact normalization. Fails loudly on any other type:
    * silently mis-scaled event times would corrupt every session/window
    * boundary downstream.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    val out = df.schema("ts").dataType match {
      case LongType => df
      case TimestampType =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case TimestampNTZType =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported parquet-loaded type $other — expected " +
            "BIGINT (epoch nanos), TIMESTAMP, or TIMESTAMP_NTZ; extend " +
            "Tables.normalizeEventTs for the new physical type")
    }
    require(out.schema("ts").dataType == LongType,
      s"events.ts normalization must yield BIGINT, got ${out.schema("ts").dataType}")
    out
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  private def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sinks.readParquet(spark, s"$dir/$name.parquet")

  /** Size-guarded broadcast hint for SF-PROPORTIONAL dimensions
    * (part / customer / supplier — tables that grow linearly with the
    * corpus, unlike the fixed 25-row nation / 5-row region dims).
    *
    * A hard `broadcast()` on such a table is right at every local SF but
    * becomes OOM fuel at 100 TB: part is ~10⁹ rows there, and a hard
    * hint FORCES Spark to build it as a broadcast relation regardless of
    * size. This helper applies the hint only while the optimizer's own
    * size estimate (post-filter, so selective dim filters count) stays
    * under `spark.sql.autoBroadcastJoinThreshold`; past that it returns
    * the plain frame and lets AQE pick the join strategy from RUNTIME
    * sizes — a sort-merge join instead of an executor OOM.
    *
    * Fixed-size dims keep their hard hints; this guard is only for the
    * dims whose row count rides the scale factor.
    */
  /** Broadcast hint for DERIVED STATE frames — per-node rank vectors and
    * keep-sets, per-chunk offset bases, candidate key sets: frames whose
    * row count is bounded by a DIMENSION of the data (nodes, chunks,
    * users), orders of magnitude under the corpus they join against.
    * Broadcasting them is what keeps the corpus/edge side shuffle-free,
    * and unlike [[dimHint]] the decision cannot ride the optimizer's
    * size estimate: state frames often sit on checkpointed RDDs or deep
    * aggregates where the estimate degenerates to "unknown/huge", which
    * would silently drop every broadcast. So the hint is CONF-driven:
    * default on, with `spark.graft.broadcastState=false` as the
    * documented escape once the bound is approached. The bound, made
    * explicit: a state row packs to ~32 B (key + one numeric +
    * UnsafeRow overhead) ⇒ ~3.2 GB of executor build memory at 10⁸
    * rows — the practical ceiling for default executors. The graphs and
    * chunk tables here sit at 10³-10⁶ rows at any local SF.
    */
  def stateHint(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get("spark.graft.broadcastState", "true").toBoolean)
      broadcast(df)
    else df

  def dimHint(df: DataFrame): DataFrame = {
    val raw = df.sparkSession.conf
      .get("spark.sql.autoBroadcastJoinThreshold", "10MB").trim
    val threshold =
      if (raw.startsWith("-")) -1L
      else org.apache.spark.network.util.JavaUtils.byteStringAsBytes(raw)
    if (threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      broadcast(df)
    else df
  }
}
