package graft

import org.apache.spark.sql.SparkSession

/** Driver benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints one JSON line. Queries run in sorted key
  * order (stable run-to-run), timed individually via count().
  *
  * Noise control (this box is shared, and three rounds of driver benches
  * have contained 10-27x phantom "regressions" that never reproduced on
  * an idle box):
  *   - every query runs TWICE and reports the MIN — a contention spike
  *     must hit the same query in both passes to survive into the JSON;
  *   - entries whose min-of-two lands under 1 s run a THIRD time and
  *     report the MEDIAN of the three (sub-second protocol): at the
  *     box's measured probe floor, min-of-two still let one spiked
  *     pass fabricate 2-3× deltas on 0.2-0.5 s entries;
  *   - a fixed calibration probe (pure-CPU aggregate over spark.range,
  *     no I/O, constant work) runs before/between/after the two passes
  *     AND every 32 measured entries; the full probe timeline is
  *     published as "calibration". Spread within one array flags a
  *     contention WINDOW; the array's median COMPARED ACROSS ROUNDS
  *     flags a uniformly slow box (the r12 +22% "drift": probes at
  *     ~0.26 s vs other rounds' 0.15-0.19 s on identical work —
  *     low-spread but slow, which three probes could not distinguish
  *     from a healthy box).
  * Pass structure is two full sweeps (A B C ... A B C ...), not
  * back-to-back repeats, so pass 2 never reuses pass 1's OS page cache
  * residue more than the driver's own sequential runs would.
  *
  * SPARK_GRAFT_RESTART_EVERY=N enables session-restart mode (rebuild +
  * rewarm the SparkSession every N measured entries) — the drift-
  * isolation protocol for separating session-state inflation from real
  * plan regressions as the registry grows; its artifact defaults to
  * BENCH_RESTART_LATEST.json so the full-map lineage stays one
  * protocol.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.envCores(32)
    def newSession(): SparkSession = {
      val s = GraftSession.start(cpus)
      // Warm the JVM/codegen/file-source paths once so the first
      // measured query doesn't absorb session startup cost.
      Tables.lineitem(s, sfDir).limit(10).count()
      s.range(1000).selectExpr("sum(id)").count()
      s
    }
    var spark = newSession()

    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(200L * 1000 * 1000)
        .selectExpr("sum(id * 3 % 7)").count()
      (System.nanoTime() - t0) / 1e9
    }
    // Warm the probe itself: every prior round's cal0 ran 1.5-1.8× above
    // cal1/cal2 purely from first-execution JIT of this exact plan,
    // which made the calibration array read as contention on idle boxes.
    // One discarded run makes the three PUBLISHED probes comparable.
    calibrate()

    // SESSION-RESTART MODE (drift isolation): r13's pin experiment
    // (BENCH_R11SUBSET_r13.json + DRIFT_PIN_r13.md) measured the r12
    // "+22% diffuse drift" as mostly BOX SPEED (see the dense-
    // calibration note below) with only ~4% attributable to sweep
    // length (the 277 shared queries total 277.9 s as their own sweep
    // vs 289.0 s inside the 331-entry sweep). SPARK_GRAFT_RESTART_EVERY=N
    // remains available to bound the session-state term directly:
    // it tears the session down and rebuilds+rewarms it every N
    // measured entries, so a sweep's timings stop depending on how
    // many queries ran before them as the registry grows.
    // getOrCreate() reuses the stopped session's SparkContext only if
    // still alive — stop() kills it, so each restart is a genuinely
    // fresh context. Restart cost lands between queries, never inside
    // one.
    val restartEvery = sys.env.get("SPARK_GRAFT_RESTART_EVERY")
      .map(GraftSession.envInt("SPARK_GRAFT_RESTART_EVERY", _)).filter(_ > 0)
    var sinceRestart = 0
    def maybeRestart(): Unit = restartEvery.foreach { n =>
      if (sinceRestart >= n) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        spark = newSession()
        calibrate() // discarded JIT warm-up, same as the sweep prologue
        sinceRestart = 0
      }
    }

    // DENSE CALIBRATION (r13 drift pin): the r12 "+22% diffuse drift"
    // turned out to be BOX SPEED, not plans or session state — the
    // r12-end sweep's three probes sat uniformly at ~0.26 s where every
    // other round's best was 0.15-0.19 s (same constant work), i.e. a
    // low-spread array can still mean a uniformly slow box, and three
    // probes cannot show it. A probe now runs every CalEvery measured
    // entries (~0.2-0.4 s each, ~20 per full sweep), so the published
    // "calibration" array carries a box-speed TIMELINE: readers compare
    // per-query ratios against the probe median ratio before calling a
    // regression real (tools/bench_regress.py does this mechanically).
    val CalEvery = 32
    val cals = scala.collection.mutable.ArrayBuffer[Double]()
    var sinceCal = 0
    def maybeCalibrate(): Unit = {
      sinceCal += 1
      if (sinceCal >= CalEvery) { cals += calibrate(); sinceCal = 0 }
    }

    // A query that throws must not masquerade as a fast success: failures
    // are recorded as -1 in the queries map AND listed in "errors".
    // SPARK_GRAFT_ONLY=a,b,c restricts the run (dev loop: time one query);
    // the bench-only streaming entries are addressable there too.
    val extraNames = Set("stream_bench_window_agg", "stream_bench_dedup",
      "stream_bench_funnel", "stream_bench_debounce",
      "stream_bench_histogram", "stream_bench_heavyhitters",
      "stream_bench_novelty", "stream_bench_dauwords", "stream_bench_bounce",
      "stream_bench_cdc", "stream_bench_drift",
      "stream_bench_attribution_outer",
      "curation_pipeline_e2e", "stream_curation_e2e",
      "ann_index_probe_e2e")
    val only = QueryDef.subsetFilter(SparkEntry.queries.keySet ++ extraNames)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // WARMED-JIT PROTOCOL for the codegen-heavy HOF-fold family (r15
    // verdict weak item): the tokenizer dp folds compile into large
    // generated methods whose first execution pays C2 compilation that
    // can dominate a ~0.5-1 s entry — the whole untouched BPE family
    // moved 1.6-2.1× together in the r15 close sweep with zero code
    // changes, and isolated re-measure reproduced it both directions
    // (JIT state, not plans). These entries get ONE discarded execution
    // immediately before each timed one, so the published number always
    // measures warm generated code. Scope is the fold family only: a
    // blanket warmup would double the full sweep's wall time.
    val hofFoldFamily = Set("bpe_encode", "bpe_merges",
      "bpe_compression_curve", "unigram_train", "unigram_encode",
      "wordpiece_encode", "tokenizer_compare")
    // One measured entry: restart if due, an optional discarded warm-up
    // run, then the timed run. A failure is recorded, not rethrown.
    def measure(name: String, warm: Boolean = false)(run: => Unit)
        : (String, Double, Option[String]) = {
      maybeRestart()
      if (warm) {
        try run catch { case _: Throwable => }
        spark.catalog.clearCache()
      }
      val t0 = System.nanoTime()
      val err = try { run; None } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          Some(name)
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      // Release per-operator persisted frames between queries (cache
      // accumulation would skew later queries' memory headroom).
      spark.catalog.clearCache()
      sinceRestart += 1
      maybeCalibrate()
      (name, if (err.isEmpty) elapsed else -1.0, err)
    }
    def sweep(subset: Option[Set[String]] = None)
        : Seq[(String, Double, Option[String])] = selected
      .filter { case (name, _) => subset.forall(_.contains(name)) }
      .map { case (name, fn) =>
        measure(name, hofFoldFamily(name))(fn(spark, sfDir).count())
      }

    // After draining, the memory-sink temp view is dropped: clearCache()
    // does not release memory-sink tables, so without the drop every
    // complete-mode result would stay pinned in the driver for the rest
    // of the run.
    def drain(q: org.apache.spark.sql.streaming.StreamingQuery, view: String): Unit = {
      try q.processAllAvailable() finally q.stop()
      spark.catalog.dropTempView(view)
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
      finally walk.close()
    }

    // Extra timed entries beyond SparkEntry.queries: streaming jobs
    // (batch parity is spec-proven in StreamingSpec; timed so a
    // regression in the streaming path shows up in BENCH_r0N) and the
    // end-to-end curation pipeline (the headline "curate the whole
    // corpus" number: quality → dedup → decontaminate → mix → pack
    // with real staged parquet handoffs). Each entry is a thunk run to
    // completion; uniq disambiguates per-invocation names (memory
    // sinks are session-global tables).
    import streaming.EventStreams
    def events = EventStreams.eventsStream(spark, sfDir)
    def typedEvents = {
      val sp = spark
      import sp.implicits._
      events.as[EventStreams.Event]
    }
    // (name, stream, output mode): each runs into a memory sink, drained.
    val memorySinkStreams
        : Seq[(String, () => org.apache.spark.sql.Dataset[_], String)] = Seq(
      ("stream_bench_window_agg", () => EventStreams.windowedAgg(events),
        "complete"),
      ("stream_bench_histogram", () => EventStreams.histogramSketch(events),
        "complete"),
      ("stream_bench_novelty", () => EventStreams.noveltyStream(typedEvents),
        "complete"),
      ("stream_bench_heavyhitters",
        () => EventStreams.heavyHittersStream(typedEvents), "update"),
      ("stream_bench_dauwords", () => EventStreams.dauWordsStream(events),
        "complete"),
      ("stream_bench_bounce",
        () => EventStreams.bounceRateStream(typedEvents), "complete"),
      ("stream_bench_dedup", () => EventStreams.dedupedStream(events),
        "append"),
      ("stream_bench_funnel", () => EventStreams.funnelStream(typedEvents),
        "update"),
      ("stream_bench_debounce", () => EventStreams.debounced(typedEvents),
        "append"),
      ("stream_bench_attribution_outer",
        () => EventStreams.attributionOuter(events), "append"))
    val extraEntries: Seq[(String, String => Unit)] = memorySinkStreams.map {
      case (name, stream, mode) => name -> ((uniq: String) => drain(
        stream().writeStream.format("memory").queryName(uniq)
          .outputMode(mode).start(), uniq))
    } ++ Seq(
      ("stream_bench_cdc", { (_: String) =>
        val out = java.nio.file.Files.createTempDirectory("graft_bench_cdc")
        val q = EventStreams.cdcToTable(typedEvents,
          out.resolve("state").toString)
        try q.processAllAvailable()
        finally { q.stop(); rmTree(out) }
      }),
      ("stream_bench_drift", { (_: String) =>
        val out = java.nio.file.Files.createTempDirectory("graft_bench_drift")
        val ref = Map("click" -> 200000L, "signup" -> 200000L,
          "error" -> 200000L, "view" -> 200000L, "purchase" -> 200000L)
        val q = EventStreams.driftToTable(typedEvents, ref,
          out.resolve("days").toString)
        try q.processAllAvailable()
        finally { q.stop(); rmTree(out) }
      }),
      ("curation_pipeline_e2e", { (_: String) =>
        val out = java.nio.file.Files.createTempDirectory("graft_bench_curation")
        try { pipeline.CurationPipeline.runAll(spark, sfDir, out.toString); () }
        finally rmTree(out)
      }),
      // Rolling ingestion: two micro-batches, the second probing the
      // standing corpus/index/hash state the first one built.
      ("stream_curation_e2e", { (_: String) =>
        import org.apache.spark.sql.functions.col
        val out = java.nio.file.Files.createTempDirectory("graft_bench_streamcur")
        try {
          val docs = Tables.documents(spark, sfDir)
          streaming.StreamingCuration.ingestBatch(spark,
            docs.filter(col("doc_id") % 2 === 0),
            s"$out/corpus", s"$out/index")
          streaming.StreamingCuration.ingestBatch(spark,
            docs.filter(col("doc_id") % 2 === 1),
            s"$out/corpus", s"$out/index")
          ()
        } finally rmTree(out)
      }),
      // The ANN serving shape end to end: land the bucket-partitioned
      // index once, then probe it FROM DISK with the standard query
      // batch (partition-pruned read + exact re-rank) — the number a
      // retrieval service watches.
      ("ann_index_probe_e2e", { (_: String) =>
        import org.apache.spark.sql.functions.col
        val out = java.nio.file.Files.createTempDirectory("graft_bench_annidx")
        try {
          val e = Tables.embeddings(spark, sfDir)
          sources.AnnIndex.materialize(e, s"$out/index")
          sources.AnnIndex.probe(spark, s"$out/index",
            e.filter(col("vec_id") < 10), 5).count()
          ()
        } finally rmTree(out)
      })).filter { case (name, _) => only.forall(_.contains(name)) }
    var extraRun = 0
    def extraSweep(): Seq[(String, Double, Option[String])] =
      extraEntries.map { case (n, r) =>
        extraRun += 1
        measure(n)(r(s"${n}_$extraRun"))
      }

    val cal0 = calibrate()
    cals += cal0
    val pass1 = sweep() ++ extraSweep()
    cals += calibrate()
    val pass2 = sweep() ++ extraSweep()
    cals += calibrate()

    // SUB-SECOND PROTOCOL (r14 verdict): at the measured probe floor
    // (p90/p10 ≈ 1.9-2.3 on this shared box) min-of-two still produced
    // false 2-3× deltas on 0.2-0.5 s entries every sweep (r14:
    // enrich_join, ingest_orc/csv/jsonl — none of whose code changed).
    // Registry entries whose min-of-two lands under 1 s get a THIRD
    // measurement and report the MEDIAN of the three: a single spiked
    // pass can no longer move the reported number in either direction,
    // while a real regression (all three passes slow) still shows at
    // full size. Multi-second entries keep min-of-two — their spike-to-
    // signal ratio is small and a third pass would add minutes of sweep.
    val fastNames = pass1.zip(pass2).collect {
      case ((n, t1, e1), (_, t2, e2))
          if e1.isEmpty && e2.isEmpty && math.min(t1, t2) < 1.0 => n
    }.toSet
    val pass3 = if (fastNames.isEmpty) Nil else sweep(Some(fastNames))
    if (pass3.nonEmpty) cals += calibrate()
    val third = pass3.map(r => r._1 -> r).toMap

    val results = pass1.zip(pass2).map { case ((name, t1, e1), (_, t2, e2)) =>
      val best = (if (e1.isEmpty) Seq(t1) else Nil) ++ (if (e2.isEmpty) Seq(t2) else Nil)
      third.get(name) match {
        case Some((_, t3, None)) if best.size == 2 =>
          (name, Seq(t1, t2, t3).sorted.apply(1), None)
        case _ =>
          (name, if (best.isEmpty) -1.0 else best.min,
            if (best.isEmpty) e1.orElse(e2) else None)
      }
    }
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = results.flatMap(_._3).map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).filter(_ >= 0).sum
    val cal = cals.mkString("[", ",", "]")
    // The per-query map comes FIRST so the driver's tail-truncated
    // capture keeps the summary fields (total/errors/calibration) even
    // when the ~280-entry map overflows the window, and the full line
    // is ALSO written to a stable repo path so round-over-round
    // per-query regressions stay diffable from artifacts alone.
    val restartField =
      restartEvery.map(n => s""","restart_every":$n""").getOrElse("")
    // the artifact this run actually writes (also interpolated into the
    // JSON's full_map pointer — a subset/restart run must not point a
    // tail-truncated capture at BENCH_FULL_LATEST.json, which does not
    // contain this run's map)
    val defaultName =
      if (only.isDefined) "BENCH_SUBSET_LATEST.json"
      else if (restartEvery.isDefined) "BENCH_RESTART_LATEST.json"
      else "BENCH_FULL_LATEST.json"
    // field order is load-bearing for the ROUND artifact: the driver
    // captures a bounded TAIL of this line, so the big queries map goes
    // first and every self-describing field — including the pointer to
    // the committed full map — goes last, where a tail capture keeps it
    // (r13 verdict: BENCH_r13.json held only a 2000-char tail and lost
    // the map; the pointer makes any truncated capture self-contained)
    val json = s"""{"queries":$qs,"metric":"total","value":$total,"unit":"sec","errors":$errs,"calibration":$cal$restartField,"full_map":"$defaultName","sf":"$sfDir"}"""
    println(json)
    // default path anchors to the repo ROOT (nearest ancestor holding
    // build.sbt), not the bare cwd — a runMain launched from a subdir
    // or a forked-JVM working dir would otherwise scatter the artifact;
    // SPARK_GRAFT_BENCH_OUT overrides for CI captures
    def repoRoot(p: java.nio.file.Path): java.nio.file.Path =
      if (java.nio.file.Files.exists(p.resolve("build.sbt"))) p
      else Option(p.getParent).map(repoRoot).getOrElse(
        java.nio.file.Paths.get("").toAbsolutePath)
    // a SPARK_GRAFT_ONLY subset run must never clobber the FULL map
    // (the regression gate's round-over-round comparand) — subset
    // timings land in a sibling scratch file instead; restart-mode
    // sweeps are a different measurement protocol, so they default to
    // their own artifact and stay out of the full-map lineage too
    // (defaultName computed above, before the JSON, so full_map and the
    // written file always agree)
    val fullPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .map(java.nio.file.Paths.get(_))
      // even an EXPLICIT out-path must not let a subset run — or a
      // session-restart-mode sweep, a different measurement protocol —
      // overwrite the full map: redirect to the protocol's own artifact
      // beside the requested target and say so, so the regression
      // gate's comparand stays continuous-full-sweep-only
      .map { p =>
        val divert =
          if (only.isDefined) Some("BENCH_SUBSET_LATEST.json" ->
            "SPARK_GRAFT_ONLY subset run")
          else if (restartEvery.isDefined) Some(
            "BENCH_RESTART_LATEST.json" -> "session-restart-mode sweep")
          else None
        divert match {
          case Some((name, why))
              if p.getFileName.toString == "BENCH_FULL_LATEST.json" =>
            val redirected = Option(p.getParent).map(_.resolve(name))
              .getOrElse(java.nio.file.Paths.get(name))
            System.err.println(
              s"[bench] $why redirected from $p to $redirected " +
                "(the full map is the regression-gate comparand)")
            redirected
          case _ => p
        }
      }
      .getOrElse(repoRoot(java.nio.file.Paths.get("").toAbsolutePath)
        .resolve(defaultName))
    try java.nio.file.Files.writeString(fullPath, json + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $fullPath: $e")
    }
    spark.stop()
  }
}
