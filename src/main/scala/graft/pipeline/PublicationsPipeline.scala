package graft.pipeline

import graft.Tables
import graft.functions.{Exact, Parallel}
import graft.operators.{Analytics, Cleaning, Dwh}
import graft.sources.{GraphSink, Sinks}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end pipeline runner — the Spark analog of the reference's six
  * Airflow DAG stages (`/root/reference/src/airflow/dags/..._stage_N.py`):
  *
  * | reference stage | here |
  * | 1 download/ingest          | ingest: raw parquet → staging        |
  * | 2 clean_and_validate       | clean: dropna→normalize→dedup tokens→
  * |                            |   category map→surrogate ids         |
  * | 3/5 enrich (CrossRef/S2)   | enrich: left-outer metadata join     |
  * | 4/6 load DWH + Neo4j       | dwh: fact + dims; graph: collab pairs|
  * | check_DWH                  | marts: trends/topics/degree rollups  |
  *
  * Each stage persists its output (the Airflow staging-area handoff) and
  * the next stage reads the STAGED data — so any stage can be re-run or
  * backfilled independently, and a failure resumes from the last staged
  * output rather than the source. Stages are themselves pure
  * DataFrame→DataFrame functions, so the whole DAG also composes lazily
  * (one Catalyst plan) when staging isn't wanted.
  */
object PublicationsPipeline {

  /** Stage-1 fetch analog (download_dataset_stage_1.py:29-46: Kaggle
    * download → unzip → delete archive → trigger stage 2): fetch a
    * dataset archive from a URI into the landing area, unpack it, drop
    * the archive, and return the unpacked file for ingest.
    *
    * Transport: only `file:`/plain-path URIs are implemented — the
    * container has zero egress, so the HTTP/Kaggle transport is a
    * declared swap-in (same stub discipline as
    * [[graft.sources.ApiEnrich]]), while everything the reference DAG
    * actually sequences — land the archive, unpack, delete the archive,
    * hand off to ingest — is real and spec-covered. The archive codec
    * is gzip (JDK-native): unpack streams, never buffers the dataset
    * in memory, so a 100 GB arxiv-snapshot analog streams through the
    * same code path.
    */
  def fetchAndUnpack(uri: String, landingDir: String): java.nio.file.Path = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    require(!uri.contains("://") || uri.startsWith("file:"),
      s"only file: transport is implemented (zero-egress container); got $uri")
    val src = Paths.get(uri.stripPrefix("file:"))
    val landing = Files.createDirectories(Paths.get(landingDir))
    // "download": land the archive byte-for-byte in the staging area.
    val archive = landing.resolve(src.getFileName.toString)
    Files.copy(src, archive, StandardCopyOption.REPLACE_EXISTING)
    // "unzip": stream-decompress next to the archive.
    val out = landing.resolve(archive.getFileName.toString.stripSuffix(".gz"))
    val in = new java.util.zip.GZIPInputStream(Files.newInputStream(archive))
    try Files.copy(in, out, StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    // "delete_zip_file": the archive never outlives its extraction.
    Files.delete(archive)
    out
  }

  /** Stage 2 analog: the full cleaning recipe composed into one
    * projection over documents (each rule is the registered operator's
    * expression — see operators.Cleaning for the per-op contract).
    */
  def clean(docs: DataFrame): DataFrame =
    docs
      .filter(
        nullif(col("source"), lit("src0")).isNotNull
          || nullif(col("lang"), lit("en")).isNotNull)
      .select(
        col("doc_id"),
        md5(concat_ws("|", col("doc_id").cast("string"), col("source")))
          .as("surrogate_id"),
        trim(regexp_replace(col("text"), "\\s+", " ")).as("text"),
        array_join(array_sort(array_distinct(split(col("text"), " "))), " ")
          .as("unique_tokens"),
        coalesce(col("lang"), lit("Unknown")).as("lang"),
        col("source"),
        col("n_chars"))

  /** Stage 3/5 analog: enrichment against the "external" metadata set. */
  def enrich(spark: SparkSession, dir: String): DataFrame =
    Dwh.enrichJoin(spark, dir)

  /** Full run: stage outputs land under outDir/stageN_* as parquet; each
    * stage reads its upstream's STAGED output. Returns row counts per
    * staged table (the pipeline's run manifest), each observed on its
    * stage's write.
    */
  def runAll(spark: SparkSession, dataDir: String, outDir: String,
      fetchUri: Option[String] = None): Map[String, Long] = {
    val manifest = scala.collection.mutable.LinkedHashMap[String, Long]()
    def stage(name: String, df: DataFrame): DataFrame = {
      val path = s"$outDir/$name"
      manifest += name -> Sinks.writeParquet(df, path)
      Sinks.readParquet(spark, path)
    }

    // Stage 1: ingest raw sources into the staging area. With a
    // fetchUri, the documents source arrives through the stage-1 fetch
    // analog (download → unpack → delete archive) and ingests from the
    // landed JSONL instead of the pre-landed parquet.
    val docsSource = fetchUri match {
      case Some(uri) =>
        spark.read.json(
          fetchAndUnpack(uri, s"$outDir/stage0_landing").toString)
      case None => Tables.documents(spark, dataDir)
    }
    val rawDocs = stage("stage1_documents", docsSource)
    stage("stage1_orders", Tables.orders(spark, dataDir))

    // Stage 2: clean + validate (reads stage 1 output, like the
    // reference's arxiv_preprocessed_part_N handoff).
    val cleaned = stage("stage2_cleaned_documents", clean(rawDocs))

    // Stage 3: enrichment join (external metadata analog).
    stage("stage3_enriched_orders", enrich(spark, dataDir))

    // Stage 4: DWH fact + dimension build, incl. the many-to-many
    // author bridge and the references edge dim (check_DWH.py schema).
    stage("stage4_fact_sales", Dwh.factSales(spark, dataDir))
    stage("stage4_dim_customer", Dwh.dimCustomer(spark, dataDir))
    stage("stage4_bridge_author", Dwh.bridgeAuthor(spark, dataDir))
    stage("stage4_dim_references", Dwh.dimReferences(spark, dataDir))

    // Stage 5/6: graph + analytical marts (the Neo4j views).
    stage("stage5_collab_graph", Analytics.collabPairs(spark, dataDir))
    stage("stage6_trends", Analytics.trendsOverTime(spark, dataDir))
    stage("stage6_topic_popularity", Analytics.topicPopularity(spark, dataDir))
    stage("stage6_graph_degree", Analytics.graphDegree(spark, dataDir))
    stage("stage6_author_specialization", Analytics.authorSpecialization(spark, dataDir))
    stage("stage6_institution_collab", Analytics.institutionCollab(spark, dataDir))

    // check_DWH analog: referential sanity between fact and dim.
    val fact = Sinks.readParquet(spark, s"$outDir/stage4_fact_sales")
    val dim = Sinks.readParquet(spark, s"$outDir/stage4_dim_customer")
    val orphans = fact.join(dim, fact("customer_key") === dim("customer_key"), "left_anti")
    manifest += "check_orphan_fact_rows" -> orphans.count()

    manifest.toMap
  }

  /** [[runAll]] under the scheduler-semantics layer ([[Orchestrator]]):
    * the same staged stages expressed as a task DAG with the reference
    * DAGs' contract — `retries = 1` per task
    * (download_dataset_stage_1.py:13), `>>` edges mirroring the
    * stage 1 → 2 → 3 → 4 → marts chain of TriggerDagRunOperator
    * handoffs, staged-parquet RESUME (`resume = true` skips any stage
    * whose output directory already exists — Airflow's state database,
    * derived from the data), and the referential check as an ALL_DONE
    * closer: the operator wants the orphan count even when a mart task
    * failed. Returns the run report (per-task state + attempts) and
    * the manifest of staged row counts.
    */
  /** The collaboration-graph load units — the
    * create_collaboration_graph.cql semantics as replay-idempotent
    * MERGE statements: supplier nodes keyed on supp_id (name SET from
    * the payload) and COLLABORATED_WITH edges carrying the
    * pre-aggregated collab_count. One definition shared by the DAG's
    * load stage and its replay ([[runAllDag]]'s stage7 stages the
    * payloads; [[GraphSink.applyLoad]] + a bolt transport drives them).
    */
  def collabGraphUnits: Seq[GraphSink.LoadUnit] = Seq(
    GraphSink.LoadUnit("suppliers",
      GraphSink.nodeMergeStatement("Supplier", "supp_id", Seq("name"))),
    GraphSink.LoadUnit("collab_edges",
      GraphSink.edgeMergeStatement("Supplier", "supp_id", "Supplier",
        "supp_id", "COLLABORATED_WITH", "supp_a", "supp_b",
        Seq("collab_count"))))

  def runAllDag(spark: SparkSession, dataDir: String, outDir: String,
      resume: Boolean = false,
      onRetry: (String, Int) => Unit = (_, _) => ())
      : (Orchestrator.RunReport, Map[String, Long]) = {
    import Orchestrator._
    val manifest = scala.collection.concurrent.TrieMap[String, Long]()
    def exists(name: String): Boolean =
      new java.io.File(s"$outDir/$name/_SUCCESS").exists()
    def staged(name: String, upstream: Seq[String], rule: TriggerRule =
        AllSuccess)(df: => DataFrame): TaskDef =
      TaskDef(name, upstream, retries = 1, rule = rule,
        skipIf = () => resume && exists(name)) { () =>
        manifest += name -> Sinks.writeParquet(df, s"$outDir/$name")
      }
    val tasks = Seq(
      staged("stage1_documents", Nil)(Tables.documents(spark, dataDir)),
      staged("stage1_orders", Nil)(Tables.orders(spark, dataDir)),
      staged("stage2_cleaned_documents", Seq("stage1_documents"))(
        clean(Sinks.readParquet(spark, s"$outDir/stage1_documents"))),
      staged("stage3_enriched_orders",
        Seq("stage2_cleaned_documents", "stage1_orders"))(
        enrich(spark, dataDir)),
      staged("stage4_fact_sales", Seq("stage3_enriched_orders"))(
        Dwh.factSales(spark, dataDir)),
      staged("stage4_dim_customer", Seq("stage3_enriched_orders"))(
        Dwh.dimCustomer(spark, dataDir)),
      staged("stage4_bridge_author", Seq("stage3_enriched_orders"))(
        Dwh.bridgeAuthor(spark, dataDir)),
      staged("stage4_dim_references", Seq("stage3_enriched_orders"))(
        Dwh.dimReferences(spark, dataDir)),
      staged("stage5_collab_graph", Seq("stage4_bridge_author"))(
        Analytics.collabPairs(spark, dataDir)),
      staged("stage6_trends", Seq("stage4_fact_sales"))(
        Analytics.trendsOverTime(spark, dataDir)),
      staged("stage6_topic_popularity", Seq("stage4_fact_sales"))(
        Analytics.topicPopularity(spark, dataDir)),
      staged("stage6_graph_degree", Seq("stage5_collab_graph"))(
        Analytics.graphDegree(spark, dataDir)),
      staged("stage6_author_specialization", Seq("stage4_bridge_author"))(
        Analytics.authorSpecialization(spark, dataDir)),
      staged("stage6_institution_collab", Seq("stage5_collab_graph"))(
        Analytics.institutionCollab(spark, dataDir)),
      // Stage 7: the Neo4j load itself (databases.py:185-416 batched
      // UNWIND inserts) — stage GraphSink payload batches for the
      // collaboration graph from the STAGED stage-5 mart. The bolt
      // transport is the declared swap-in; the staged batches plus
      // statements.cypher are the complete, replayable load artifact.
      TaskDef("stage7_graph_load", Seq("stage5_collab_graph"), retries = 1,
        skipIf = () => resume && exists("stage7_graph_load")) { () =>
        val edges = Sinks.readParquet(spark, s"$outDir/stage5_collab_graph")
        val nodes = Tables.supplier(spark, dataDir)
          .select(col("s_suppkey").cast("long").as("supp_id"),
            col("s_name").as("name"))
        GraphSink.stageLoad(s"$outDir/stage7_graph_load",
          Seq("Supplier" -> "supp_id"),
          collabGraphUnits.zip(Seq(nodes, edges)))
        // _SUCCESS marker so resume treats the staging like any other
        // staged stage (the payload dirs carry their own markers)
        java.nio.file.Files.writeString(java.nio.file.Paths.get(
          s"$outDir/stage7_graph_load/_SUCCESS"), "")
        manifest += "stage7_graph_load" -> (nodes.count() + edges.count())
      },
      TaskDef("check_orphan_fact_rows",
        Seq("stage4_fact_sales", "stage4_dim_customer"),
        retries = 1, rule = AllDone) { () =>
        val fact = Sinks.readParquet(spark, s"$outDir/stage4_fact_sales")
        val dim = Sinks.readParquet(spark, s"$outDir/stage4_dim_customer")
        manifest += "check_orphan_fact_rows" -> fact.join(dim,
          fact("customer_key") === dim("customer_key"), "left_anti").count()
      })
    val report = Orchestrator.run(tasks, onRetry)
    // Resumed stages never ran their body (no write, so no observed
    // count), but their staged data IS the state — fill their manifest
    // counts by reading the staging area so the resumed run's manifest
    // matches a fresh run's.
    report.states.foreach {
      case (name, Orchestrator.Resumed) if exists(name) =>
        manifest += name -> (if (name == "stage7_graph_load")
          // JSONL staging, not parquet: count the staged payload lines
          spark.read.textFile(s"$outDir/$name/suppliers",
            s"$outDir/$name/collab_edges").count()
        else Sinks.readParquet(spark, s"$outDir/$name").count())
      case _ => ()
    }
    (report, manifest.toMap)
  }

  /** Incremental warehouse landing — MERGE semantics instead of
    * overwrite, matching the reference's re-runnable loaders
    * (create_collaboration_graph.cql:3 `MERGE (a)-[:COLLABORATED]-(b)`;
    * the Postgres stages re-run without a dedup guard). Each table
    * upserts on its primary key via [[Sinks.upsertParquet]], so:
    *   - a re-run of the same batch is a no-op (idempotent resume),
    *   - a backfill batch updates matched keys and inserts new ones
    *     without touching the rest of the table — the overwrite path
    *     above would clobber everything not in the batch.
    * `batchFilter` scopes the run to a slice (the Airflow backfill
    * window analog); identity = full refresh. Each table's count is the
    * one its upsert observed on the committed write.
    *
    * The tables upsert concurrently through [[Parallel.all]], one thunk
    * per table, like the reference's independent DWH loads
    * (populate_DWH.py). No table reads another's output, and each
    * upsert's staging and swap touch only its own path, so the landed
    * tables are the ones sequential upserts would land; the overlap
    * only fills the task slots a lone table's short stage jobs leave
    * idle.
    */
  def upsertWarehouse(spark: SparkSession, dataDir: String, outDir: String,
      batchFilter: DataFrame => DataFrame = identity): Map[String, Long] = {
    val tables = warehouseTables(spark, dataDir)
    val counts = Parallel.all(spark)(tables.map { case (name, source, keys) =>
      () => Sinks.upsertParquet(batchFilter(source()), s"$outDir/$name", keys)
    })
    tables.map(_._1).zip(counts).toMap
  }

  /** The incremental warehouse's tables: name, source frame builder and
    * upsert keys.
    */
  private[graft] def warehouseTables(spark: SparkSession, dataDir: String)
      : Seq[(String, () => DataFrame, Seq[String])] = Seq(
    ("wh_dim_customer", () => Dwh.dimCustomer(spark, dataDir), Seq("customer_key")),
    ("wh_dim_publisher", () => Dwh.dimPublisher(spark, dataDir), Seq("pub_id")),
    ("wh_fact_sales", () => Dwh.factSales(spark, dataDir),
      Seq("order_key", "line_number")),
    ("wh_collab_edges", () => Analytics.collabPairs(spark, dataDir),
      Seq("supp_a", "supp_b")))
}
