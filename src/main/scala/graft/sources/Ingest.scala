package graft.sources

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingestion paths beyond parquet (§2.A) — the reference's source format
  * is JSON-lines read row-by-row (utils.py load_dataset: json.loads per
  * line, skip/route bad rows). Spark-first that becomes `spark.read.json`
  * with an EXPLICIT schema (no inference pass over 100 TB) and PERMISSIVE
  * corrupt-record routing: malformed lines land in `_corrupt_record`
  * instead of failing the job, mirroring the reference's tolerant loader.
  */
object Ingest {

  /** Explicit documents schema. At scale an inferred schema costs a full
    * extra pass and can drift between batches — production JSONL ingest
    * always pins the schema.
    */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The same schema plus the corrupt-record routing column (for the
    * PERMISSIVE inspection path).
    */
  val documentsJsonSchema: StructType =
    documentsSchema.add(StructField("_corrupt_record", StringType))

  /** Inspection read: PERMISSIVE with malformed lines routed to
    * `_corrupt_record`. NOTE Spark disallows querying only the corrupt
    * column from a raw file scan — callers must cache the parsed frame
    * before filtering on it (see IngestSpec), which is why the bulk
    * ingest path below uses DROPMALFORMED instead.
    */
  def readDocumentsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(documentsJsonSchema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** Staging dir for round-trip ingests: unique per PROCESS and per
    * CALL (pid + nonce), so concurrent runs — across JVMs or within one
    * — never overwrite each other's staging mid-read
    * (SaveMode.Overwrite deletes the target first), and two data dirs
    * whose sanitized names collide cannot alias.
    */
  private val stagingNonce = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Staging paths created this JVM — deleted recursively at exit.
    * Deletion can't happen any earlier: the returned DataFrames read the
    * staged files LAZILY, so the data must outlive the query. Without
    * the hook every Verify/Bench sweep leaves full table copies (events
    * is the largest) orphaned in tmpdir until the disk fills.
    */
  private val stagedPaths = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  sys.addShutdownHook {
    stagedPaths.forEach { p =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(new java.io.File(p))
    }
  }

  private def stagingDir(kind: String, dir: String): String = {
    val p = new java.io.File(
      sys.props("java.io.tmpdir"),
      s"graft_${kind}_${java.lang.ProcessHandle.current().pid()}_" +
        s"${stagingNonce.incrementAndGet()}_" +
        dir.replaceAll("[^A-Za-z0-9.]", "_")).getAbsolutePath
    stagedPaths.add(p)
    p
  }

  /** Round-trip ingest: stage the documents table as JSONL through the
    * sink, read it back through the schema'd JSONL source, keep only
    * clean rows (DROPMALFORMED — single streamed pass, no cache; the
    * routing variant above is for corpus triage). Hash-checked against
    * the parquet path — proving the JSONL write→read cycle is lossless
    * for every column. NOTE the staging write runs eagerly when the
    * DataFrame is built — ingest is I/O by nature.
    */
  def ingestJsonl(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("jsonl", dir)
    Sinks.writeJsonLines(Tables.documents(spark, dir), stage)
    spark.read
      .schema(documentsSchema)
      .option("mode", "DROPMALFORMED")
      .json(stage)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  val ingestJsonlOracle: String = """
    SELECT doc_id, text, lang, source, n_chars FROM documents"""

  /** CSV round-trip ingest: the interchange-format twin of
    * [[ingestJsonl]] — headered CSV staged through the sink, read back
    * with the pinned schema (no inference pass) and DROPMALFORMED.
    * multiLine=true is REQUIRED for losslessness: the writer quotes
    * embedded newlines, but the default line-splitting reader would
    * shear a quoted multi-line field into malformed fragments that
    * DROPMALFORMED silently discards. The cost is per-file (not
    * per-split) parallelism — which is why JSONL, whose records are
    * newline-free by construction, is the preferred bulk format and CSV
    * is the interchange path.
    */
  def ingestCsv(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("csv", dir)
    Sinks.writeCsv(Tables.documents(spark, dir), stage)
    spark.read
      .schema(documentsSchema)
      .option("header", "true")
      .option("multiLine", "true")
      .option("mode", "DROPMALFORMED")
      .csv(stage)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  val ingestCsvOracle: String = """
    SELECT doc_id, text, lang, source, n_chars FROM documents"""

  /** ORC round-trip ingest: the columnar-interchange twin of
    * [[ingestJsonl]] — Spark bundles native ORC, the other columnar
    * format a lakehouse ingests from. Schema rides in the file (no
    * pinned-schema read needed); losslessness for every column is
    * hash-checked against the parquet path.
    */
  def ingestOrc(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("orc", dir)
    Tables.documents(spark, dir)
      .write.mode("overwrite").orc(stage)
    spark.read.orc(stage)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  }

  val ingestOrcOracle: String = """
    SELECT doc_id, text, lang, source, n_chars FROM documents"""

  /** Partitioned-lake layout: events written `partitionBy(event_type)`
    * (the lakehouse layout the reference's date-partitioned log sink
    * gestures at), then read back with a partition filter — the filter
    * prunes DIRECTORIES, so a 100 TB lake scans only the selected
    * partition's files (PartitionFilters in the plan; asserted in
    * IngestSpec). The query aggregates the pruned read; the oracle runs
    * the same filter+aggregate on the unpartitioned table.
    */
  def partitionedLake(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("lake", dir)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(stage)
    Sinks.readParquet(spark, stage)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n_purchases"),
        graft.functions.Exact.dsum(col("value")).as("total_value"))
  }

  val partitionedLakeOracle: String = s"""
    SELECT user_id, COUNT(*) AS n_purchases,
      ${graft.functions.Exact.sqlDsum("value")} AS total_value
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY 1"""

  /** Bucketed co-located join — the second lake-layout lever next to
    * [[partitionedLake]]'s directory partitioning: both fact tables land
    * bucketed AND sorted by the join key (`bucketBy(8, key).sortBy(key)`
    * via `saveAsTable` — Spark's bucketing rides the catalog, not the
    * directory tree), so the subsequent join reads bucket i against
    * bucket i directly. At 100 TB this is THE repeated-join lever: the
    * lineitem⋈orders shuffle — the single biggest data movement in every
    * TPC-H-shaped query — is paid ONCE at landing time and never again;
    * every later join on the bucket key is exchange-free on both sides
    * (PlanSpec pins zero exchanges under disabled-broadcast), and the
    * sortBy makes it a merge join with no sort step either.
    */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("bucketed", dir)
    def land(name: String, df: DataFrame, key: String): String = {
      val table = s"graft_bkt_$name"
      spark.sql(s"DROP TABLE IF EXISTS $table")
      df.write.mode("overwrite")
        .bucketBy(8, key).sortBy(key)
        .option("path", s"$stage/$name")
        .format("parquet").saveAsTable(table)
      table
    }
    val l = land("lineitem",
      Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice")),
      "l_orderkey")
    val o = land("orders",
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderpriority")),
      "o_orderkey")
    spark.table(l)
      .join(spark.table(o), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        graft.functions.Exact.dsum(col("l_extendedprice")).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  val bucketedJoinOracle: String = s"""
    SELECT o_orderpriority,
      ${graft.functions.Exact.sqlDsum("l_extendedprice")} AS revenue,
      COUNT(*) AS n_lines
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1"""

  /** Bits per z-order dimension (two 8-bit dims → 16-bit z values). */
  private[graft] val ZBits = 8

  /** Morton/z-value: interleave the low [[ZBits]] bits of x (even
    * positions) and y (odd positions) — pure integer shifts, identical
    * on any engine.
    */
  private[graft] def zValue(x: Column, y: Column): Column =
    (0 until ZBits).map { i =>
      shiftright(x, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)

  private def sqlZValue(x: String, y: String): String =
    (0 until ZBits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")

  /** Z-order clustered lake layout — the multi-dimensional data-skipping
    * lever (Delta's OPTIMIZE ZORDER analog): events land range-
    * partitioned AND sorted by the Morton interleave of (user bucket,
    * day-of-epoch bucket), so every file/row-group covers a small
    * rectangle of the (user, day) plane and a predicate on EITHER
    * dimension — not just a lexicographic prefix — skips most of the
    * lake via parquet min/max stats. Single-column sorts only help the
    * leading column; the interleave is what makes BOTH selective.
    * IngestSpec pins the mechanism (disjoint per-file z ranges); the
    * query here then answers a (user-band × day-band) box probe off the
    * clustered layout, hash-checked against the unclustered table —
    * layout must never change results.
    *
    * Scale: `repartitionByRange` samples the z distribution (one range
    * shuffle — the pay-once landing cost, same budget as bucketed_join)
    * and the within-partition sort is linear-ish; no stage is ever
    * all-pairs. At 100 TB the partition count derives from the session's
    * shuffle width, not a literal.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val stage = stagingDir("zorder", dir)
    // Partition count rides the session's shuffle width — at cluster
    // scale that is the landing parallelism; never a literal (each range
    // partition is one z-contiguous file).
    val nParts = spark.sessionState.conf.numShufflePartitions
    val ub = pmod(col("user_id"), lit(1L << ZBits))
    val db = pmod(expr("ts div 86400000000000"), lit(1L << ZBits))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        ub.as("user_bucket"), db.as("day_bucket"),
        zValue(ub, db).as("z"))
      .repartitionByRange(nParts, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(stage)
    Sinks.readParquet(spark, stage)
      .filter(col("user_bucket") < 64 && col("day_bucket").between(16, 31))
      .groupBy(col("user_bucket"))
      .agg(
        count(lit(1)).as("n_events"),
        graft.functions.Exact.dsum(col("value")).as("total_value"),
        min(col("z")).as("z_min"),
        max(col("z")).as("z_max"))
  }

  val zorderLayoutOracle: String = {
    val ub = s"(user_id % ${1L << ZBits})"
    val db = s"((EPOCH_NS(ts) // 86400000000000) % ${1L << ZBits})"
    s"""
    SELECT $ub AS user_bucket,
      COUNT(*) AS n_events,
      ${graft.functions.Exact.sqlDsum("value")} AS total_value,
      MIN(${sqlZValue(ub, db)}) AS z_min,
      MAX(${sqlZValue(ub, db)}) AS z_max
    FROM events
    WHERE $ub < 64 AND $db BETWEEN 16 AND 31
    GROUP BY 1"""
  }

  /** Lake snapshot diff — the CDC primitive behind incremental
    * re-curation: classify every key as added / removed / changed
    * between two table versions via a key-partitioned FULL OUTER join
    * comparing row content hashes. At 100 TB both snapshots
    * co-partition on the unique key — one shuffle each, no skew — and
    * the md5 row digest makes "changed" a single string compare instead
    * of a column-by-column walk. The two versions are REAL retained
    * snapshots of a [[SnapshotTable]] (committed per call, read back by
    * id); v2's content is derived deterministically from v1 (drop
    * `id%17=3`, revise `id%17=5`, insert re-keyed copies of `id%17=7`)
    * — declared test semantics exercising all three change classes. In
    * production the ids are any two retained snapshots of a live table.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val v1src = Tables.documents(spark, dir).select(col("doc_id"), col("text"), col("source"))
    val v2src = v1src.filter(col("doc_id") % 17 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 17 === 5, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")).as("text"),
        col("source"))
      .unionByName(v1src.filter(col("doc_id") % 17 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("source")))
    // The two versions are LANDED as real retained snapshots of a
    // SnapshotTable (r15 verdict directive 5: diff two snapshots a
    // reader can time-travel to, not a derived frame) and read back by
    // id — the diff below runs on what the commit protocol actually
    // stored. The scratch table is rebuilt per call (idempotent,
    // dir-keyed so concurrent SFs don't collide). Placement: the
    // session's reliable checkpoint dir when one is set — that's the
    // CLUSTER-SHARED store (HDFS/S3); a java.io.tmpdir path on a
    // multi-node deployment would scatter executor-written parts
    // across node-local disks and read back partial snapshots — with
    // the driver-local tmpdir as the local-mode fallback.
    val scratchBase = spark.sparkContext.getCheckpointDir
      .getOrElse(sys.props("java.io.tmpdir"))
    val scratch = s"$scratchBase/graft_snapdiff_" +
      java.lang.Integer.toHexString(dir.hashCode)
    val fs = new org.apache.hadoop.fs.Path(scratch)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(scratch), true)
    val id1 = SnapshotTable.commit(v1src, scratch, "w1")
    val id2 = SnapshotTable.commit(v2src, scratch, "w1")
    val v1 = SnapshotTable.readSnapshot(spark, scratch, id1)
    val v2 = SnapshotTable.readSnapshot(spark, scratch, id2)
    // per-field hashes with explicit null flags, then one hash over the
    // fixed-length parts: a raw delimiter join (md5(text || '|' ||
    // source)) aliases distinct rows whenever the data contains the
    // delimiter (text 'a|b'/source 'c' vs 'a'/'b|c'), and silently
    // skips NULL fields — both real hazards on real snapshots
    def fieldDigest(c: org.apache.spark.sql.Column) =
      concat(when(c.isNull, lit("n")).otherwise(lit("v")),
        md5(coalesce(c, lit(""))))
    def digest(df: DataFrame, h: String) =
      df.select(col("doc_id"),
        md5(concat(fieldDigest(col("text")), fieldDigest(col("source")))).as(h))
    digest(v1, "h1").join(digest(v2, "h2"), Seq("doc_id"), "full_outer")
      .filter(col("h1").isNull || col("h2").isNull || col("h1") =!= col("h2"))
      .select(col("doc_id"),
        when(col("h1").isNull, lit("added"))
          .when(col("h2").isNull, lit("removed"))
          .otherwise(lit("changed")).as("change_type"))
  }

  val snapshotDiffOracle: String = """
    WITH v1 AS (SELECT doc_id, text, source FROM documents),
    v2 AS (
      SELECT doc_id,
        CASE WHEN doc_id % 17 = 5 THEN text || ' [rev2]' ELSE text END AS text,
        source
      FROM v1 WHERE doc_id % 17 <> 3
      UNION ALL
      SELECT doc_id + 1000000, text, source FROM v1 WHERE doc_id % 17 = 7),
    h1 AS (SELECT doc_id, MD5(
      CASE WHEN text IS NULL THEN 'n' ELSE 'v' END || MD5(COALESCE(text, ''))
      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END
      || MD5(COALESCE(source, ''))) AS h FROM v1),
    h2 AS (SELECT doc_id, MD5(
      CASE WHEN text IS NULL THEN 'n' ELSE 'v' END || MD5(COALESCE(text, ''))
      || CASE WHEN source IS NULL THEN 'n' ELSE 'v' END
      || MD5(COALESCE(source, ''))) AS h FROM v2)
    SELECT COALESCE(h1.doc_id, h2.doc_id) AS doc_id,
      CASE WHEN h1.h IS NULL THEN 'added'
           WHEN h2.h IS NULL THEN 'removed'
           ELSE 'changed' END AS change_type
    FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id
    WHERE h1.h IS NULL OR h2.h IS NULL OR h1.h <> h2.h"""

  /** CDC changelog collapse — the Debezium-style ingestion primitive
    * ([[snapshotDiff]] DERIVES a changelog from two snapshots; this
    * APPLIES one): the events stream read as an ordered change log
    * (LSN = event_id, key = user_id, op I/U/D from the event type —
    * signup inserts, error tombstones, activity updates), collapsed to
    * the current table state by LATEST-LSN-WINS with delete tombstones
    * removing their key. Out-of-order tolerant by construction: the
    * winner is an associative struct-max over (lsn, op, payload), so
    * arrival order, shuffle order, and partial/merge order are all
    * irrelevant — the exact property a distributed CDC apply needs
    * (a "last writer" picked by processing order would be
    * nondeterministic). Scale: ONE key-partitioned map-side-combinable
    * aggregate; no window, no sort — per-key state is one struct
    * regardless of changelog depth. The reference's DB-sync analog is
    * the per-row Postgres upsert loop (utils/databases.py); this is
    * the set-based form a lake applies per micro-batch.
    */
  def cdcApply(spark: SparkSession, dir: String): DataFrame =
    cdcCollapse(Tables.events(spark, dir))
      .filter(col("last_op") =!= "D")
      .select(col("user_id"), col("last_op"), col("value_cents"),
        col("last_lsn"), col("n_changes"))

  /** The changelog-collapse fold behind [[cdcApply]], over any events
    * frame — shared with the streaming twin
    * ([[graft.streaming.EventStreams.cdcToTable]]), whose per-batch
    * state merge is THIS fold's associativity made load-bearing.
    * Tombstones are RETAINED (last_op = 'D') so a caller holding
    * partial data can still merge later slices correctly; [[cdcApply]]
    * drops them at the end where the log is known complete.
    */
  def cdcCollapse(events: DataFrame): DataFrame =
    events.select(
        col("event_id").as("lsn"), col("user_id"),
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_changes"),
        max(struct(col("lsn"), col("op"), col("cents"))).as("last"))
      .select(col("user_id"), col("last.lsn").as("last_lsn"),
        col("last.op").as("last_op"), col("last.cents").as("value_cents"),
        col("n_changes"))

  val cdcApplyOracle: String = """
    WITH log AS (
      SELECT event_id AS lsn, user_id,
        CASE WHEN event_type = 'signup' THEN 'I'
             WHEN event_type = 'error' THEN 'D'
             ELSE 'U' END AS op,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events),
    latest AS (
      SELECT user_id, lsn, op, cents,
        COUNT(*) OVER (PARTITION BY user_id) AS n_changes,
        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY lsn DESC) AS rn
      FROM log)
    SELECT user_id, op AS last_op, cents AS value_cents, lsn AS last_lsn,
      n_changes
    FROM latest WHERE rn = 1 AND op <> 'D'"""

  /** CDC → SCD2 history build — the companion the warehouse keeps
    * NEXT TO [[cdcApply]]'s current table: every change event becomes
    * a validity window ([event ts, next event ts) per key, the last
    * window open and flagged current unless the key's final op is a
    * tombstone — a delete CLOSES history rather than extending it).
    * This is how a changelog becomes a point-in-time-queryable
    * dimension ([[graft.operators.Relational]] scd2_point_in_time is
    * the consumer shape; [[graft.operators.Quality]] scd2_conformance
    * the DQ gate — by construction this builder can produce neither
    * overlaps nor gaps, since consecutive windows share their
    * boundary). Timestamps stay integer epoch-micros end to end (the
    * repo's timestamp-portability rule). Scale: ONE key-partitioned
    * lead window over the changelog — per-key state is a sort within
    * the key's partition, no global sort, no join.
    */
  def cdcHistoryScd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("lsn"))
    Tables.events(spark, dir).select(
        col("event_id").as("lsn"), col("user_id"),
        when(col("event_type") === "signup", lit("I"))
          .when(col("event_type") === "error", lit("D"))
          .otherwise(lit("U")).as("op"),
        expr("ts div 1000").as("ts_us"),
        expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("cents"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current",
        col("valid_to_us").isNull && col("op") =!= "D")
      .select(col("user_id"), col("lsn"), col("op"),
        col("cents").as("value_cents"),
        col("ts_us").as("valid_from_us"), col("valid_to_us"),
        col("is_current"))
  }

  val cdcHistoryScd2Oracle: String = """
    SELECT user_id, lsn, op, cents AS value_cents,
      ts_us AS valid_from_us,
      LEAD(ts_us, 1) OVER (PARTITION BY user_id ORDER BY lsn)
        AS valid_to_us,
      (LEAD(ts_us, 1) OVER (PARTITION BY user_id ORDER BY lsn) IS NULL
        AND op <> 'D') AS is_current
    FROM (
      SELECT event_id AS lsn, user_id,
        CASE WHEN event_type = 'signup' THEN 'I'
             WHEN event_type = 'error' THEN 'D'
             ELSE 'U' END AS op,
        EPOCH_NS(ts) // 1000 AS ts_us,
        CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events)"""

  def defs: Map[String, QueryDef] = Map(
    "cdc_history_scd2" ->
      QueryDef.sql(cdcHistoryScd2, cdcHistoryScd2Oracle),
    "cdc_apply" -> QueryDef.sql(cdcApply, cdcApplyOracle),
    "snapshot_diff" -> QueryDef.sql(snapshotDiff, snapshotDiffOracle),
    "zorder_layout" -> QueryDef.sql(zorderLayout, zorderLayoutOracle),
    "ingest_jsonl" -> QueryDef.sql(ingestJsonl, ingestJsonlOracle),
    "ingest_csv" -> QueryDef.sql(ingestCsv, ingestCsvOracle),
    "ingest_orc" -> QueryDef.sql(ingestOrc, ingestOrcOracle),
    "partitioned_lake" -> QueryDef.sql(partitionedLake, partitionedLakeOracle),
    "bucketed_join" -> QueryDef.sql(bucketedJoin, bucketedJoinOracle)
  )
}
