package graft

import graft.pipeline.PublicationsPipeline
import java.nio.file.Files

/** Drives the full six-stage pipeline end-to-end on sf0.001 with real
  * staged parquet handoffs.
  */
class PipelineSpec extends SparkSpec {

  test("runAll stages every output and the DWH check passes") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    val manifest = PublicationsPipeline.runAll(spark, sfDir, out)

    val expectedStages = Seq(
      "stage1_documents", "stage1_orders", "stage2_cleaned_documents",
      "stage3_enriched_orders", "stage4_fact_sales", "stage4_dim_customer",
      "stage4_bridge_author", "stage4_dim_references",
      "stage5_collab_graph", "stage6_trends", "stage6_topic_popularity",
      "stage6_graph_degree", "stage6_author_specialization",
      "stage6_institution_collab")
    expectedStages.foreach { s =>
      assert(manifest.contains(s), s"missing stage $s")
      assert(manifest(s) > 0, s"stage $s is empty")
      assert(new java.io.File(s"$out/$s").isDirectory, s"stage $s not staged")
    }
    // cleaning drops the rows whose identifiers are all null
    assert(manifest("stage2_cleaned_documents") <= manifest("stage1_documents"))
    // every fact row must resolve its customer dimension
    assert(manifest("check_orphan_fact_rows") == 0)
  }

  test("stage-1 fetch analog: archive lands, unpacks, is deleted; pipeline ingests the landing") {
    import java.nio.file.Paths
    // A tiny "remote" dataset: 20 documents as gzipped JSONL (the
    // arxiv-snapshot shape; transport is file: per the declared stub).
    val tmp = Files.createTempDirectory("graft_fetch")
    val rows = Tables.documents(spark, sfDir).limit(20).toJSON.collect()
    val gz = tmp.resolve("arxiv_docs.jsonl.gz")
    val os = new java.util.zip.GZIPOutputStream(Files.newOutputStream(gz))
    try os.write(rows.mkString("\n").getBytes("UTF-8")) finally os.close()

    val out = Files.createTempDirectory("graft_fetch_out").toString
    val m = PublicationsPipeline.runAll(spark, sfDir, out, Some(gz.toString))
    // ingest read the fetched landing, not the parquet source
    assert(m("stage1_documents") == 20, s"fetched ingest wrong count: $m")
    // unpacked file staged; archive deleted after extraction
    assert(Paths.get(s"$out/stage0_landing/arxiv_docs.jsonl").toFile.exists,
      "unpacked landing file missing")
    assert(!Paths.get(s"$out/stage0_landing/arxiv_docs.jsonl.gz").toFile.exists,
      "archive survived extraction")
    // downstream stages resume from the STAGED fetch output
    assert(m("stage2_cleaned_documents") > 0
      && m("stage2_cleaned_documents") <= 20, s"stage 2 not fed by fetch: $m")
  }

  test("stage 2 is resumable from staged output alone") {
    val out = Files.createTempDirectory("graft_pipeline").toString
    Tables.documents(spark, sfDir).write.parquet(s"$out/stage1_documents")
    val staged = spark.read.parquet(s"$out/stage1_documents")
    val cleaned = PublicationsPipeline.clean(staged)
    assert(cleaned.count() > 0)
    assert(cleaned.columns.contains("surrogate_id"))
  }

  test("curation pipeline: staged stages, monotone filtering, reconciliation checks pass") {
    import graft.pipeline.CurationPipeline
    val out = Files.createTempDirectory("graft_curation").toString
    val m = CurationPipeline.runAll(spark, sfDir, out)

    val stages = Seq("stage0_documents", "stage1_quality", "stage2_exact_dedup",
      "stage3_near_dedup", "stage3b_substring_scrub", "stage4_decontaminated",
      "stage5_selected", "stage6_mixed", "stage7_packed")
    stages.foreach { s =>
      assert(m.contains(s) && m(s) > 0, s"stage $s missing or empty: $m")
      assert(new java.io.File(s"$out/$s").isDirectory, s"stage $s not staged")
    }
    // every stage up to the mix filters — counts can only shrink
    val order = stages.take(8).map(m)
    assert(order.zip(order.tail).forall { case (a, b) => b <= a },
      s"stage counts grew: $m")
    // the scrub stage erases duplicated spans but keeps the schema: the
    // staged table reads back with the documents columns, text rewritten
    val scrubbed = spark.read.parquet(s"$out/stage3b_substring_scrub")
    assert(scrubbed.columns.toSeq ==
      Seq("doc_id", "text", "lang", "source", "n_chars"))
    assert(scrubbed.filter(
      org.apache.spark.sql.functions.expr("length(text) != n_chars")).count() == 0)
    assert(m("check_packed_rows_match") == 0, "packing dropped or invented docs")
    assert(m("check_token_reconciliation") == 0, "packed token stream lost tokens")
    // stage 8: the exemplar pool exists, is center-budget bounded, and
    // every exemplar survived the full filter chain
    assert(m.contains("stage8_exemplars") && m("stage8_exemplars") >= 1
      && m("stage8_exemplars") <= 8, s"exemplar pool out of bounds: $m")
    assert(m("check_exemplars_in_corpus") == 0,
      "an exemplar was drawn from a filtered-out document")
    val ex = spark.read.parquet(s"$out/stage8_exemplars")
    assert(ex.columns.toSeq == Seq("sel_round", "vec_id", "label", "d2"))
  }

  test("curation pack stage is resumable from staged output alone") {
    import graft.pipeline.CurationPipeline
    val out = Files.createTempDirectory("graft_curation").toString
    CurationPipeline.runAll(spark, sfDir, out)
    // Re-running the LAST stage from its staged upstream (no earlier
    // stage recomputed) reproduces the staged stage-7 rows exactly —
    // deterministic decisions make resume bit-stable.
    val mixed = spark.read.parquet(s"$out/stage6_mixed")
    val repacked = operators.Sampling.sequencePackDf(mixed)
    val staged = spark.read.parquet(s"$out/stage7_packed")
    assert(repacked.exceptAll(staged).isEmpty && staged.exceptAll(repacked).isEmpty,
      "pack-stage resume diverged from the staged output")
  }

  test("curation DSIR stage: sample_importance composes with mix_rebalance") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, sfDir)
    val selected = docs.join(
      operators.Sampling.sampleImportanceDf(docs).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    val nSel = selected.count()
    assert(nSel > 0 && nSel < docs.count(),
      "DSIR selection must keep a non-empty strict subset")
    // The downstream mix stage consumes the selected slice directly —
    // its hash-mod decisions are doc_id-keyed, so composition yields a
    // subset of the selected ids with every kept source represented.
    val mixed = docs.join(
      operators.Sampling.mixRebalanceDf(spark, selected).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    assert(mixed.count() > 0, "rebalance over the selected slice is empty")
    assert(mixed.select("doc_id").exceptAll(selected.select("doc_id")).isEmpty,
      "mix stage emitted ids outside the selected slice")
  }

  test("materialized LSH index: probe-from-disk equals probe-from-recompute") {
    import graft.pipeline.CurationPipeline
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_lshidx").toString
    val docs = Tables.documents(spark, sfDir)
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val batch = docs.filter(col("doc_id") % 10 === 7)
    CurationPipeline.materializeLshIndex(spark, corpus, s"$out/lsh_index")
    val fromDisk = CurationPipeline
      .probeLshIndex(spark, s"$out/lsh_index", corpus, batch)
    // dedup_incremental IS the probe-from-recompute path over the same
    // 90/10 split — the materialized variant must agree exactly.
    val recompute = operators.Dedup.dedupIncremental(spark, sfDir)
    assert(fromDisk.exceptAll(recompute).isEmpty
      && recompute.exceptAll(fromDisk).isEmpty,
      "disk-probed index diverged from recompute")
  }

  test("materialized ANN index: disk probe equals ann_refine and prunes partitions") {
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_annidx").toString
    val e = Tables.embeddings(spark, sfDir)
    sources.AnnIndex.materialize(e, s"$out/ann_index")
    val queries = e.filter(col("vec_id") < 10)
    val fromDisk = sources.AnnIndex.probe(spark, s"$out/ann_index", queries, 5)
    // ann_refine IS the probe-from-recompute path: same multi-probe set,
    // same re-rank, same k — the on-disk index must agree exactly.
    val recompute = operators.Similarity.annRefine(spark, sfDir)
    assert(fromDisk.exceptAll(recompute).isEmpty
      && recompute.exceptAll(fromDisk).isEmpty,
      "disk-probed ANN index diverged from ann_refine")
    // The scan must read ONLY probed bucket partitions — partition
    // pruning is the point of the bucket-partitioned layout. Walk the
    // executed plan (through AQE query stages — the plan STRING
    // truncates before the leaves) and inspect the index scan's
    // partitionFilters directly.
    fromDisk.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val indexScan = scans(fromDisk.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("ann_index")))
    assert(indexScan.nonEmpty, "no FileSourceScan over the index found")
    assert(indexScan.forall(s => s.partitionFilters.exists(
        _.references.exists(_.name == "bucket"))),
      s"index scan carries no bucket partition filter: " +
        indexScan.map(_.partitionFilters).mkString("; "))
  }

  test("materialized CMS sketch: heavy-hitter probe from disk equals probe-from-recompute") {
    val out = Files.createTempDirectory("graft_cms").toString
    val cms = operators.EventOps.eventUserCms(spark, sfDir)
    sources.SketchStore.writeCms(spark, cms, s"$out/user_cms")
    val fromDisk = operators.EventOps.heavyHittersWithCms(spark, sfDir,
      sources.SketchStore.readCms(spark, s"$out/user_cms"))
    val recompute = operators.EventOps.heavyHitters(spark, sfDir)
    assert(fromDisk.exceptAll(recompute).isEmpty
      && recompute.exceptAll(fromDisk).isEmpty,
      "disk-probed CMS diverged from recompute")
  }

  test("materialized bloom sketch: decontamination probe from disk equals probe-from-recompute") {
    val out = Files.createTempDirectory("graft_bloom").toString
    sources.SketchStore.writeBloom(spark,
      operators.Dedup.benchBloom(spark, sfDir), s"$out/bench_bloom")
    val fromDisk = operators.Dedup.decontaminateBloomWithFilter(spark, sfDir,
      sources.SketchStore.readBloom(spark, s"$out/bench_bloom"))
    val recompute = operators.Dedup.decontaminateBloom(spark, sfDir)
    assert(fromDisk.exceptAll(recompute).isEmpty
      && recompute.exceptAll(fromDisk).isEmpty,
      "disk-probed bloom diverged from recompute")
  }

  test("upsertWarehouse: re-run is a no-op, backfill slice merges without clobbering") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("graft_wh").toString
    // The concurrent landing must land what one-table-at-a-time upserts
    // of the same frames land: after every run, each table equals, row
    // for row, its sequential twin in a second directory.
    val seqOut = Files.createTempDirectory("graft_wh_seq").toString
    val tables = PublicationsPipeline.warehouseTables(spark, sfDir)
    def landed(filter: DataFrame => DataFrame = identity): Map[String, Long] = {
      val counts = PublicationsPipeline.upsertWarehouse(spark, sfDir, out, filter)
      val seqCounts = tables.map { case (name, source, keys) =>
        name -> sources.Sinks.upsertParquet(filter(source()), s"$seqOut/$name", keys)
      }.toMap
      assert(counts == seqCounts, s"concurrent $counts vs sequential $seqCounts")
      tables.foreach { case (name, _, _) =>
        val a = sources.Sinks.readParquet(spark, s"$out/$name")
        val b = sources.Sinks.readParquet(spark, s"$seqOut/$name")
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$name: concurrent landing differs from sequential upserts")
      }
      counts
    }
    val full = landed()
    assert(full.values.forall(_ > 0), s"empty warehouse table in $full")

    // Re-running the identical load must not grow any table (the
    // reference's Postgres loader would double every row here).
    val rerun = landed()
    assert(rerun == full, s"re-run changed counts: $full -> $rerun")

    // A backfill batch restricted to a key slice only merges that slice;
    // every row outside the slice survives untouched.
    val slice = landed(df => if (df.columns.contains("customer_key"))
      df.filter(col("customer_key") % 10 === 0) else df.limit(5))
    assert(slice == full, s"backfill slice changed counts: $full -> $slice")
  }

  test("orchestrator: bounded retries, deterministic order, run report") {
    import graft.pipeline.Orchestrator
    import graft.pipeline.Orchestrator._
    var attempts = 0
    var retriedAt = Seq.empty[Int]
    val report = Orchestrator.run(Seq(
      TaskDef("a")(() => ()),
      TaskDef("b_flaky", Seq("a"), retries = 2) { () =>
        attempts += 1
        if (attempts < 3) sys.error(s"transient #$attempts")
      },
      TaskDef("c", Seq("b_flaky"))(() => ())),
      onRetry = (_, n) => retriedAt :+= n)
    assert(report.allSucceeded, s"states: ${report.states}")
    assert(report.states("b_flaky") == Succeeded(3),
      "two retries then success must record attempts = 3")
    assert(retriedAt == Seq(1, 2), "backoff hook fires per failed attempt")
    assert(report.order == Seq("a", "b_flaky", "c"), "deterministic order")
  }

  test("orchestrator: ALL_SUCCESS skips downstream of a failure, " +
      "ALL_DONE closer still runs") {
    import graft.pipeline.Orchestrator
    import graft.pipeline.Orchestrator._
    var closerRan = false
    val report = Orchestrator.run(Seq(
      TaskDef("a")(() => ()),
      TaskDef("b_fails", Seq("a"), retries = 1)(() => sys.error("boom")),
      TaskDef("c_skipped", Seq("b_fails"))(() =>
        fail("ALL_SUCCESS task must not run after an upstream failure")),
      TaskDef("d_closer", Seq("b_fails", "a"), rule = AllDone) { () =>
        closerRan = true
      }))
    assert(report.states("b_fails") == Failed(2, "boom"),
      "retries = 1 means exactly two attempts")
    assert(report.states("c_skipped") == UpstreamFailed)
    assert(closerRan && report.states("d_closer") == Succeeded(1),
      "ALL_DONE runs regardless of upstream outcome")
    assert(report.failed == Seq("b_fails"))
  }

  test("orchestrator: cycles and unknown upstreams are declaration errors") {
    import graft.pipeline.Orchestrator
    import graft.pipeline.Orchestrator._
    intercept[IllegalArgumentException] {
      Orchestrator.run(Seq(
        TaskDef("a", Seq("b"))(() => ()), TaskDef("b", Seq("a"))(() => ())))
    }
    intercept[IllegalArgumentException] {
      Orchestrator.run(Seq(TaskDef("a", Seq("ghost"))(() => ())))
    }
  }

  test("runAllDag: staged DAG run matches runAll's manifest and resumes") {
    val out = Files.createTempDirectory("graft_dag").toString
    val (report, manifest) = PublicationsPipeline.runAllDag(spark, sfDir, out)
    assert(report.allSucceeded, s"states: ${report.states}")
    // same staged truths as the sequential runner
    val plain = PublicationsPipeline.runAll(spark, sfDir,
      Files.createTempDirectory("graft_dag_ref").toString)
    Seq("stage1_documents", "stage2_cleaned_documents", "stage4_fact_sales",
      "stage5_collab_graph", "check_orphan_fact_rows").foreach { k =>
      assert(manifest(k) == plain(k), s"$k: dag=${manifest(k)} seq=${plain(k)}")
    }
    // resume: a second run skips every staged task (Airflow state derived
    // from the data); only the cheap ALL_DONE check re-executes
    val (resumed, _) = PublicationsPipeline.runAllDag(spark, sfDir, out,
      resume = true)
    import graft.pipeline.Orchestrator.{Resumed, Succeeded}
    resumed.states.foreach { case (name, st) =>
      if (name == "check_orphan_fact_rows") assert(st == Succeeded(1))
      else assert(st == Resumed, s"$name should resume from staging, was $st")
    }
  }

  test("runAllDag stage7: GraphSink payloads replay the collaboration " +
      "graph, identically across a resumed DAG") {
    val out = Files.createTempDirectory("graft_dag_graph").toString
    val (report, manifest) = PublicationsPipeline.runAllDag(spark, sfDir, out)
    assert(report.allSucceeded, s"states: ${report.states}")
    assert(new java.io.File(s"$out/stage7_graph_load/statements.cypher").isFile,
      "the staged load must carry its statement manifest")
    def replay(): Seq[(String, Seq[String])] = {
      val calls = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
      graft.sources.GraphSink.applyLoad(s"$out/stage7_graph_load",
        PublicationsPipeline.collabGraphUnits,
        (stmt, batch) => calls += ((stmt, batch)))
      calls.toSeq
    }
    val first = replay()
    // every staged row reaches the transport exactly once, and the
    // manifest count is that same total
    val nEdges = spark.read.parquet(s"$out/stage5_collab_graph").count()
    val nNodes = Tables.supplier(spark, sfDir).count()
    assert(first.map(_._2.size.toLong).sum == nNodes + nEdges,
      s"transport rows ${first.map(_._2.size).sum} != $nNodes + $nEdges")
    assert(manifest("stage7_graph_load") == nNodes + nEdges)
    // MERGE statements only (replay-idempotent load), endpoints before edges
    assert(first.forall { case (stmt, _) => stmt.contains("MERGE") })
    val firstEdge = first.indexWhere(_._1.contains("COLLABORATED_WITH"))
    val lastNode = first.lastIndexWhere(_._1.contains("MERGE (n:Supplier"))
    assert(lastNode >= 0 && firstEdge > lastNode,
      "edges must not replay before their endpoint nodes")
    // a RESUMED DAG leaves the staging intact, recounts it into the
    // manifest, and replays batch-identically
    val (resumed, manifest2) =
      PublicationsPipeline.runAllDag(spark, sfDir, out, resume = true)
    assert(resumed.states("stage7_graph_load") ==
      graft.pipeline.Orchestrator.Resumed)
    assert(manifest2("stage7_graph_load") == nNodes + nEdges,
      "resumed manifest must recount the staged payload lines")
    assert(replay() == first, "replay after resume must be batch-identical")
  }

  // ---- Scheduler: the clock-injected schedule/catchup surface ----

  test("scheduler: catchup=true materializes every closed interval in " +
      "logical order with Airflow backfill flags") {
    import graft.pipeline.Scheduler
    val runs = Scheduler.dueRuns(startDay = 10, intervalDays = 1,
      nowDay = 15, catchup = true)
    assert(runs.map(_.logicalDay) == Seq(10L, 11L, 12L, 13L, 14L))
    runs.foreach { r =>
      assert(r.intervalStartDay == r.logicalDay)
      assert(r.intervalEndDay == r.logicalDay + 1)
    }
    // the interval containing `now` is OPEN and never runs
    assert(!runs.exists(_.logicalDay == 15L))
    // all but the latest closed interval are catch-up work
    assert(runs.map(_.backfill) == Seq(true, true, true, true, false))
  }

  test("scheduler: catchup=false runs only the latest closed interval; " +
      "multi-day intervals align to the start grid") {
    import graft.pipeline.Scheduler
    val latest = Scheduler.dueRuns(10, 1, 15, catchup = false)
    assert(latest.map(_.logicalDay) == Seq(14L))
    assert(!latest.head.backfill)
    // weekly grid from day 0 at now=20: [0,7) and [7,14) closed,
    // [14,21) still open
    val weekly = Scheduler.dueRuns(0, 7, 20, catchup = true)
    assert(weekly.map(r => (r.logicalDay, r.intervalEndDay, r.backfill))
      == Seq((0L, 7L, true), (7L, 14L, false)))
    // nothing closed yet -> nothing due
    assert(Scheduler.dueRuns(10, 7, 16, catchup = true).isEmpty)
  }

  test("scheduler: ticks are ledger-idempotent, failed runs stay " +
      "ledgered, and younger runs still execute") {
    import graft.pipeline.{Orchestrator, Scheduler}
    val executed = scala.collection.mutable.ArrayBuffer[Long]()
    def tasksFor(r: Scheduler.ScheduledRun): Seq[Orchestrator.TaskDef] =
      Seq(Orchestrator.TaskDef(name = "load", retries = 0)(() => {
        executed += r.logicalDay
        if (r.logicalDay == 11L) sys.error("transient lake outage")
      }))
    val (rep1, led1) = Scheduler.tick(10, 1, 13, catchup = true,
      Set.empty, tasksFor)
    assert(rep1.map(_._1.logicalDay) == Seq(10L, 11L, 12L))
    assert(executed.toSeq == Seq(10L, 11L, 12L),
      "a failed run must not stop younger runs")
    assert(!rep1(1)._2.allSucceeded && rep1(2)._2.allSucceeded)
    assert(led1 == Set(10L, 11L, 12L),
      "failed runs are ledgered -- recovery is explicit, never a " +
        "silent re-create")
    // same clock again: nothing due
    val (rep2, led2) = Scheduler.tick(10, 1, 13, catchup = true,
      led1, tasksFor)
    assert(rep2.isEmpty && led2 == led1)
    // clock advances: only the newly closed interval runs
    val (rep3, _) = Scheduler.tick(10, 1, 15, catchup = true,
      led1, tasksFor)
    assert(rep3.map(_._1.logicalDay) == Seq(13L, 14L))
  }

  test("schedule_backfill_plan: the registered plan agrees with " +
      "Scheduler.dueRuns over the same lake horizon") {
    import graft.pipeline.Scheduler
    val plan = operators.Scheduling.scheduleBackfillPlan(spark, sfDir)
      .collect().sortBy(_.getAs[Long]("run_seq"))
    assert(plan.nonEmpty)
    val dayIds = Tables.events(spark, sfDir)
      .select(org.apache.spark.sql.functions
        .expr("ts div 86400000000000").as("d"))
      .distinct().collect().map(_.getLong(0))
    val (dmin, dmax) = (dayIds.min, dayIds.max)
    val due = Scheduler.dueRuns(dmin, 1, dmax, catchup = true)
    assert(plan.length == due.length)
    val fmt = java.time.format.DateTimeFormatter.ISO_LOCAL_DATE
    plan.zip(due).zipWithIndex.foreach { case ((row, run), i) =>
      val d = java.time.LocalDate
        .parse(row.getAs[String]("logical_date"), fmt).toEpochDay
      assert(d == run.logicalDay)
      assert(java.time.LocalDate
        .parse(row.getAs[String]("interval_end"), fmt).toEpochDay
        == run.intervalEndDay)
      assert(row.getAs[Long]("run_seq") == i + 1)
      // the plan's deploy-anchor flag is independent of the Scheduler's
      // per-tick flag; recompute it from the horizon
      assert(row.getAs[Boolean]("is_backfill")
        == (run.intervalEndDay <= dmax - 7))
    }
    // observed volumes: every day with events reports its exact count,
    // calendar gaps report zero (the grid is generated, not observed)
    val byDay = Tables.events(spark, sfDir)
      .groupBy(org.apache.spark.sql.functions
        .expr("ts div 86400000000000").as("d"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    plan.foreach { row =>
      val d = java.time.LocalDate
        .parse(row.getAs[String]("logical_date"), fmt).toEpochDay
      assert(row.getAs[Long]("n_events") == byDay.getOrElse(d, 0L))
    }
  }
}
