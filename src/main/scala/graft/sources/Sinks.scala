package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Sink surface (§2 sources/sinks): the reference lands its results in
  * Postgres (populate_DWH.py, per-row INSERTs) and Neo4j (databases.py,
  * per-batch Cypher CREATE). Spark-first, both become bulk writers:
  * partitioned columnar output for the lakehouse path, JDBC batch writes
  * for the warehouse path, and the graph lands as plain edge/node tables
  * (collab_pairs / graph_degree outputs) that any graph store can bulk
  * load.
  */
object Sinks {

  /** Partitioned parquet — the lake path. Partition columns become
    * directories, so downstream reads prune partitions for free.
    */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partitionCols: _*).parquet(path)

  /** CSV with header — interchange path. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** JSON-lines — the reference's staging format (arxiv_preprocessed
    * parts, utils.py:177 to_json(orient='records', lines=True)).
    */
  def writeJsonLines(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  /** Warehouse path — bulk JDBC append, replacing the reference's
    * row-at-a-time PostgresOperator INSERTs (populate_DWH.py:60). Not
    * exercised in tests (no database in the container); the call shape is
    * the standard Spark JDBC batch writer.
    */
  def writeJdbc(df: DataFrame, url: String, table: String,
      props: java.util.Properties): Unit =
    df.write.mode(SaveMode.Append).jdbc(url, table, props)

  /** graft's one parquet table reader — every parquet table read in the
    * library goes through here.
    *
    * `spark.read.parquet` infers the schema by launching a one-task
    * Spark job that reads one footer (`ParquetUtils.inferSchema` →
    * `mergeSchemasInParallel`): a fixed scheduling cost paid on every
    * table load, dominant at interactive scale. This reader reads that
    * same footer on the driver instead ([[footerSchema]]) and hands the
    * schema to `spark.read.schema(s).parquet(path)`, which starts no
    * job. Wherever the inference is not a one-footer read — schema
    * merging on, summary files, partition/bucket subdirectories, no
    * non-empty data file, a missing path or glob, an unreadable footer —
    * it falls back to plain `spark.read.parquet`, so Spark's own
    * behaviour and errors stay unchanged there.
    */
  def readParquet(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** The schema `spark.read.parquet(path)` infers when schema merging is
    * off — derived exactly like Spark's `ParquetFileFormat
    * .readSchemaFromFooter` from the first data file in path order (the
    * file Spark's inference touches): the Spark row-metadata schema if
    * the file carries one, else the footer's parquet schema through a
    * `ParquetToSparkSchemaConverter` built from the session conf the
    * way `mergeSchemasInParallel` builds it (binary-as-string, INT96,
    * NTZ inference, nanosAsLong, unknown-type annotations). `None` for
    * every layout where Spark's inference reads anything else.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet.{
      ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    // the names Spark's file listing skips (HadoopFSUtils
    // .shouldFilterOutPathName); summary files are listed but fall back
    def hidden(name: String): Boolean =
      (name.startsWith("_") && !name.contains("=")) ||
        name.startsWith(".") || name.endsWith("._COPYING_")
    def summary(name: String): Boolean =
      name.startsWith("_metadata") || name.startsWith("_common_metadata")
    if (conf.isParquetSchemaMergingEnabled) return None
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    // a missing path — or a glob, which lists as missing — falls back
    val listed: Seq[FileStatus] =
      try root.getFileSystem(hadoopConf).listStatus(root).toSeq
      catch { case _: java.io.FileNotFoundException => return None }
    val (dirs, files) = listed.filterNot(s => hidden(s.getPath.getName))
      .partition(_.isDirectory)
    if (dirs.nonEmpty || listed.exists(s => summary(s.getPath.getName)))
      return None
    files.sortBy(_.getPath.toString).headOption.filter(_.getLen > 0)
      .flatMap { first =>
        // an unreadable footer or an unconvertible schema (nanos without
        // nanosAsLong) falls back too: Spark then raises (or, under
        // ignoreCorruptFiles, skips) it the way it always has
        scala.util.Try(ParquetFileFormat.readSchemaFromFooter(
          new Footer(first.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(first, hadoopConf),
            ParquetMetadataConverter.SKIP_ROW_GROUPS)),
          new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = conf.isParquetBinaryAsString,
            assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
            inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
            nanosAsLong = conf.legacyParquetNanosAsLong,
            respectUnknownTypeAnnotation =
              conf.parquetReaderRespectUnknownTypeAnnotation))).toOption
      }
  }

  /** Overwrite `path` with `df` and return the row count written,
    * observed on the write job itself (`Dataset.observe`): no second
    * job re-reads the table to count it.
    */
  def writeParquet(df: DataFrame, path: String): Long = {
    import org.apache.spark.sql.functions.{count, lit}
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(path)
    obs.get("rows").asInstanceOf[Long]
  }

  /** Read a swap-managed table if it exists, RECOVERING an interrupted
    * swap first. Any reader that probes existence of a table the swap
    * writers maintain must go through this: between commitSwap's two
    * renames the only full copy sits at `<path>.old` with the target
    * missing, and a bare `fs.exists(path)` there reads as "no table" —
    * a consumer would then rebuild from scratch and the next mutation
    * would clobber the accumulated state.
    */
  def readParquetIfExists(spark: SparkSession, path: String)
      : Option[DataFrame] = {
    recoverSwap(spark, path)
    val (fs, target) = fsFor(spark, path)
    if (fs.exists(target)) Some(readParquet(spark, path)) else None
  }

  /** Atomic full-table REPLACE with the same staging-swap + recovery
    * discipline as [[upsertParquet]] — for writers that have already
    * merged the complete next state (e.g. an additive fold over the
    * whole table) and need exactly "swap this in", not a key-merge.
    */
  def replaceParquet(df: DataFrame, path: String): Unit = {
    recoverSwap(df.sparkSession, path)
    commitSwap(df, path): Unit
  }

  /** Idempotent MERGE into a parquet table — the lake-path analog of the
    * reference's Cypher `MERGE` (create_collaboration_graph.cql:3) and
    * the re-runnable warehouse stages (databases.py:342-389 re-inserts
    * duplicate rows on a stage re-run; this never does).
    *
    * Semantics per key: incoming row replaces the existing row
    * (matched → update), new keys insert, unmatched existing rows are
    * kept. Incoming duplicates on the key collapse deterministically
    * (arbitrary-but-stable max over the row's struct) so the target's
    * primary key is preserved no matter what the source ships. Re-running
    * the same batch is a no-op by construction: every incoming row
    * already equals its target row.
    *
    * Scale shape: one shuffle — an anti join of target against the
    * (usually much smaller) batch on the key, which AQE broadcasts when
    * the batch is small; the union is shuffle-free. The rewrite is
    * staged: the merged frame lands in `<path>.staging`, then a
    * filesystem rename swaps it in — readers never observe a
    * half-written table, and Spark's cannot-overwrite-a-path-being-read
    * restriction never triggers. (A format with transactional MERGE —
    * Delta/Iceberg — replaces this whole method with one call; plain
    * parquet is what this container has.)
    *
    * Returns the committed table's row count, observed on the staged
    * write — callers never re-read the table to count it.
    */
  def upsertParquet(df: DataFrame, path: String, keys: Seq[String]): Long = {
    import org.apache.spark.sql.functions.{col, max, struct}
    val spark = df.sparkSession
    val nonKey = df.columns.filterNot(keys.contains)
    val batch =
      if (nonKey.isEmpty) df.distinct()
      else df
        .groupBy(keys.map(col): _*)
        .agg(max(struct(nonKey.map(col): _*)).as("_r"))
        .select(keys.map(col) ++ nonKey.map(c => col(s"_r.$c").as(c)): _*)
    recoverSwap(spark, path)
    val (fs, target) = fsFor(spark, path)
    val merged =
      if (fs.exists(target))
        readParquet(spark, path).join(batch, keys, "left_anti")
          .unionByName(batch)
      else batch
    commitSwap(merged, path)
  }

  /** The table path on its OWN filesystem — local disk here, HDFS/S3 on
    * a cluster. Existence probes and the commit renames must hit the
    * same store Spark's writers do; `java.io.File` would silently probe
    * the driver's local disk against a remote defaultFS.
    */
  private def fsFor(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Recover from a commitSwap interrupted between its two renames: that
    * crash window leaves the ONLY full copy at `<path>.old` with the
    * target missing, and without recovery the next upsert would treat
    * the table as empty, merge nothing, and delete the survivor — a
    * silent loss of the whole table. Every mutator calls this first:
    * `.old` without a live target is restored by rename; `.old` beside
    * a live target is garbage from a crash after the second rename and
    * is deleted.
    */
  private def recoverSwap(spark: SparkSession, path: String): Unit = {
    val (fs, target) = fsFor(spark, path)
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    if (fs.exists(old)) {
      if (!fs.exists(target)) {
        if (!fs.rename(old, target))
          throw new java.io.IOException(
            s"cannot recover interrupted swap: $old -> $target")
      } else fs.delete(old, true): Unit
    }
  }

  /** Stage `merged` beside `path`, then swap it in with filesystem
    * renames: the old table vanishes only after the new one is fully on
    * disk, readers never observe a half-written table, and Spark's
    * cannot-overwrite-a-path-being-read restriction never triggers. (On
    * HDFS this is the same rename-commit pattern FileOutputCommitter v1
    * uses; the crash window between the two renames is covered by
    * [[recoverSwap]] on the next mutation.) Returns the committed row
    * count, observed on the staged write.
    */
  private def commitSwap(merged: DataFrame, path: String): Long = {
    val spark = merged.sparkSession
    val (fs, target) = fsFor(spark, path)
    val staging = new org.apache.hadoop.fs.Path(path + ".staging")
    val rows = writeParquet(merged, path + ".staging")
    val old = new org.apache.hadoop.fs.Path(path + ".old")
    fs.delete(old, true)
    if (fs.exists(target) && !fs.rename(target, old))
      throw new java.io.IOException(s"cannot stage out old table at $path")
    if (!fs.rename(staging, target))
      throw new java.io.IOException(s"cannot commit staged table at $staging")
    fs.delete(old, true)
    rows
  }

  /** SCD2 MERGE into a parquet dimension — the versioned twin of
    * [[upsertParquet]] (which overwrites matched rows, losing history).
    * This is the writer behind the reference's `is_current`/`valid_*`
    * dims (check_DWH.py:26-33 dim_author_affiliation,
    * :102-109 dim_pub_version) and the batch `scd2_merge` operator's
    * semantics applied AT THE SINK:
    *
    *  - a key whose tracked attributes CHANGED closes its current
    *    version (`valid_to = batchTs`, `is_current = false`) and inserts
    *    a new current version valid from `batchTs`;
    *  - an UNCHANGED row is a no-op — re-running the same batch never
    *    creates phantom versions (null-safe struct comparison, so
    *    null attrs compare stably);
    *  - a NEW key inserts as current; closed history is never touched.
    *
    * `df` carries keys + attributes only; the writer owns the
    * bookkeeping columns. Scale shape: one anti/inner join of the batch
    * against the CURRENT slice on the key (AQE broadcasts the batch when
    * small) — closed history rows stream through untouched; the rewrite
    * is the same staged commitSwap as upsertParquet. (Format-native MERGE
    * — Delta/Iceberg — replaces the rewrite with a row-level commit.)
    */
  def upsertScd2(df: DataFrame, path: String, keys: Seq[String],
      batchTs: String): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, struct}
    val spark = df.sparkSession
    val attrs = df.columns.filterNot(keys.contains)
    require(attrs.nonEmpty, "SCD2 needs at least one tracked attribute")
    // Collapse in-batch duplicate keys deterministically (see upsertParquet).
    val batch = df
      .groupBy(keys.map(col): _*)
      .agg(max(struct(attrs.map(col): _*)).as("_r"))
      .select(keys.map(col) ++ attrs.map(c => col(s"_r.$c").as(c)): _*)
    val openEnd = "9999-12-31 00:00:00"
    val fresh = batch.select(
      (keys ++ attrs).map(col) :+
        lit(batchTs).as("valid_from") :+
        lit(openEnd).as("valid_to") :+
        lit(true).as("is_current"): _*)
    recoverSwap(spark, path)
    val (tfs, tpath) = fsFor(spark, path)
    if (!tfs.exists(tpath)) { commitSwap(fresh, path); return }

    val target = readParquet(spark, path)
    val current = target.filter(col("is_current"))
    val history = target.filter(!col("is_current"))
    val batchKeyed = batch.select(
      keys.map(col) :+ struct(attrs.map(col): _*).as("_new"): _*)
    // Null-safe attr comparison: <=> makes (null, null) equal, so rows
    // with null attributes don't churn a version every run.
    val joined = current
      .join(batchKeyed, keys, "left")
      .withColumn("_changed",
        col("_new").isNotNull && !(struct(attrs.map(col): _*) <=> col("_new")))
    val untouchedCurrent = joined.filter(!col("_changed"))
      .select(current.columns.map(col): _*)
    val closed = joined.filter(col("_changed"))
      .select(current.columns.map(col): _*)
      .withColumn("valid_to", lit(batchTs))
      .withColumn("is_current", lit(false))
    val newKeys = batch.join(current, keys, "left_anti")
    val changedKeys = joined.filter(col("_changed")).select(keys.map(col): _*)
    val newVersions = fresh
      .join(changedKeys.unionByName(newKeys.select(keys.map(col): _*)),
        keys, "left_semi")
    commitSwap(
      history.unionByName(untouchedCurrent).unionByName(closed)
        .unionByName(newVersions),
      path): Unit
  }

  /** Small-file compaction — the lake-maintenance pass every streaming /
    * incremental sink needs ([[upsertParquet]] rewrites and
    * micro-batch appends both fragment over time; a scan of a
    * million 100 KB files spends more time opening footers than reading
    * data). Rewrites the table into `ceil(bytes / targetBytes)` files
    * via `coalesce` — a shuffle-FREE merge of read partitions (falls
    * back to `repartition` only if the table needs to grow files, which
    * real compaction never does) — then commits with the same staged
    * atomic swap as the upsert writers. Returns the output file count.
    */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L << 20): Int = {
    recoverSwap(spark, path)
    val (fs, hPath) = fsFor(spark, path)
    val bytes = fs.getContentSummary(hPath).getLength
    val parts = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = readParquet(spark, path)
    val merged =
      // <= : the equal-partitions case is a shuffle-free rewrite too —
      // repartition would hash every row for the same file count
      if (parts <= df.rdd.getNumPartitions) df.coalesce(parts)
      else df.repartition(parts)
    commitSwap(merged, path): Unit
    parts
  }

  /** Idempotent warehouse upsert — the JDBC MERGE the reference's
    * populate_DWH.py lacks (its PostgresOperator re-runs duplicate
    * rows). The statement is `INSERT ... ON CONFLICT (keys) DO UPDATE`
    * (ANSI MERGE's Postgres spelling, matching the reference's target
    * DB); execution is the standard per-partition batch shape: one
    * connection per partition, addBatch/executeBatch every `batchSize`
    * rows — the same transport Spark's own JdbcUtils.savePartition uses,
    * with the INSERT swapped for the upsert. No driver ships in this
    * container, so the transport takes the connection factory as an
    * argument; the statement builder is pure and spec-checked.
    */
  def upsertStatement(table: String, columns: Seq[String], keys: Seq[String]): String = {
    require(keys.nonEmpty && keys.forall(columns.contains), s"keys $keys ⊄ columns")
    val nonKey = columns.filterNot(keys.contains)
    val updates =
      if (nonKey.isEmpty) "NOTHING"
      else "UPDATE SET " + nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"INSERT INTO $table (${columns.mkString(", ")}) " +
      s"VALUES (${columns.map(_ => "?").mkString(", ")}) " +
      s"ON CONFLICT (${keys.mkString(", ")}) DO $updates"
  }

  def upsertJdbc(df: DataFrame, table: String, keys: Seq[String],
      connect: () => java.sql.Connection, batchSize: Int = 1000): Unit = {
    val columns = df.columns.toSeq
    val sql = upsertStatement(table, columns, keys)
    df.foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      val conn = connect()
      try {
        val st = conn.prepareStatement(sql)
        var n = 0
        rows.foreach { row =>
          var i = 0
          while (i < columns.length) {
            st.setObject(i + 1, row.get(i)); i += 1
          }
          st.addBatch(); n += 1
          if (n % batchSize == 0) st.executeBatch(): Unit
        }
        if (n % batchSize != 0) st.executeBatch(): Unit
      } finally conn.close()
    }
  }
}
