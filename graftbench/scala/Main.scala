package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set up, run the setup pass (the
  * warm-up, which also leaves every op's output for the oracle check) and
  * one more warm pass, then closed-loop passes from a single client thread
  * until `--seconds` have elapsed. With `--trace 1` half of the measured
  * passes run with the tracer attached; the others are the untraced
  * reference for its overhead.
  * Writes everything measured to `--out` as JSON for `run.py`.
  */
object Main {

  final case class Sample(pass: Int, op: String, seconds: Double, eager: Double,
      startMs: Long, endMs: Long, out: Option[Output], error: Option[String])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val (dataDir, workDir) = (opt("data"), opt("work"))
    val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")

    // Set-up, repeated: start a session and register every input table.
    // The first cycle also pays JVM class loading; run.py reports the median.
    var spark: SparkSession = null
    val sessionS = Seq.fill(3) {
      if (spark != null) Session.stop(spark)
      val t0 = System.nanoTime()
      spark = Session.start(cpus, workDir)
      tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
      (System.nanoTime() - t0) / 1e9
    }
    val workload = Workloads(opt("workload"), dataDir, workDir, seed)
    val samples = mutable.ArrayBuffer[Sample]()
    val problems = mutable.ArrayBuffer[String]()
    val passes = mutable.ArrayBuffer[(Int, Double, Boolean)]()
    val state = mutable.ArrayBuffer[(Int, Long, Long)]()
    val tracer = new Tracer(spark)

    /** Runs one pass (traced ops only when `traced`), then checks the
      * workload's state; returns the pass's wall time.
      */
    def runPass(pass: Int, expectedDir: Option[String], traced: Boolean): Double = {
      if (traced) tracer.attach()
      val t0 = System.nanoTime()
      val outs = workload.ops(pass).map { op =>
        val sc = spark.sparkContext
        sc.setLocalProperty(Tracer.OpKey, s"$pass:${op.name}")
        val s0 = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val res = try Right(op.run(spark, expectedDir)) catch {
          case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val secs = (System.nanoTime() - n0) / 1e9
        samples += Sample(pass, op.name, secs, res.map(_.eagerSeconds).getOrElse(0.0), s0,
          System.currentTimeMillis(), res.toOption, res.left.toOption)
        sc.setLocalProperty(Tracer.OpKey, null)
        sc.setLocalProperty(Tracer.PhaseKey, null)
        spark.catalog.clearCache()
        op -> res
      }
      val wall = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.detach()
      val ok = outs.collect { case (op, Right(o)) => op -> o }
      if (ok.size == outs.size)
        try problems ++= workload.endPass(spark, ok).map(p => s"pass $pass: $p")
        catch { case e: Throwable => problems += s"pass $pass: state check failed: $e" }
      val (files, bytes) = workload.stateFiles()
      state += ((pass, files, bytes))
      wall
    }

    def progress(what: String): Unit =
      System.err.println(s"[graftbench] ${java.time.Instant.now()} $what")
    progress(s"set up: ${sessionS.mkString(", ")} s")
    // Set-up ends with two unmeasured passes: the cold setup pass, then one
    // warm pass, because the JIT is still compiling through the first warm
    // pass and its time varies most from run to run.
    val w0 = System.nanoTime()
    runPass(0, Some(s"$workDir/expected"), traced = false)
    runPass(1, None, traced = false)
    val warmupS = (System.nanoTime() - w0) / 1e9
    progress(s"setup passes: $warmupS s")

    // At least two passes, so every run measures the same number of passes
    // while a pass takes longer than half the window. Traced runs measure
    // twice as long, in traced/untraced/untraced/traced blocks, so that JIT
    // warming through the run cancels out of the traced-vs-untraced
    // comparison.
    val m0 = System.nanoTime()
    val (window, minPasses) = if (trace) (2 * seconds, 4) else (seconds, 2)
    var pass = 1
    while (((System.nanoTime() - m0) / 1e9 < window || pass - 1 < minPasses) &&
        pass + 1 < workload.maxPasses) {
      pass += 1
      val traced = trace && (pass - 2) % 4 % 3 == 0
      passes += ((pass, runPass(pass, None, traced), traced))
    }

    progress(s"measured ${passes.size} passes")
    val layers = if (trace) Layers(tracer, samples.toSeq, passes.toSeq, state.toSeq, cpus)
      else Nil
    val fields = Seq(
      "workload" -> Json.str(workload.name),
      "seed" -> seed.toString,
      "cpus" -> cpus.toString,
      "conf" -> Json.obj(Session.nonDefaultSqlConf(spark).map { case (k, v) => k -> Json.str(v) }),
      "session_s" -> Json.arr(sessionS.map(Json.num)),
      "warmup_s" -> Json.num(warmupS),
      "passes" -> Json.arr(passes.toSeq.map { case (p, w, t) =>
        Json.obj(Seq("pass" -> p.toString, "seconds" -> Json.num(w), "traced" -> t.toString))
      }),
      "ops" -> Json.arr(samples.toSeq.map { s =>
        Json.obj(Seq("pass" -> s.pass.toString, "name" -> Json.str(s.op),
          "seconds" -> Json.num(s.seconds), "eager_s" -> Json.num(s.eager),
          "rows" -> s.out.map(_.rows.toString).getOrElse("null"),
          "hash" -> s.out.map(_.hash.toString).getOrElse("null"),
          "manifest" -> Json.obj(s.out.toSeq.flatMap(_.manifest.toSeq.sorted)
            .map { case (k, v) => k -> v.toString }),
          "error" -> s.error.map(Json.str).getOrElse("null")))
      }),
      "problems" -> Json.arr(problems.toSeq.map(Json.str)),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> (if (!trace) "null" else tracer.spansJson(samples.toSeq
        .filter(s => passes.exists(p => p._1 == s.pass && p._3))
        .map(s => (s"${s.pass}:${s.op}", s.startMs, s.endMs))))
    ) ++ workload.checkFields
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), Json.obj(fields))
    progress("result written")
    workload match {
      case w: IncrementalWorkload => w.cleanup()
      case _ =>
    }
    Session.stop(spark)
  }
}

/** Per-layer numbers from the traced passes, each averaged per pass. */
object Layers {
  /** This JVM's peak resident set so far (Linux `VmHWM`), or 0 elsewhere. */
  def peakRssMb: Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }.getOrElse(0.0)

  def apply(t: Tracer, samples: Seq[Main.Sample], passes: Seq[(Int, Double, Boolean)],
      state: Seq[(Int, Long, Long)], cpus: Int): Seq[(String, Double)] = {
    val tracedPasses = passes.filter(_._3).map(_._1).toSet
    val n = tracedPasses.size.max(1).toDouble
    val ops = samples.filter(s => tracedPasses(s.pass))
    val tracedWall = passes.filter(_._3).map(_._2).sum
    val jobs = t.jobs.values.toSeq
    val stages = t.stages.values.toSeq
    def jobSeconds(js: Seq[t.Job]): Double =
      js.filter(_.end >= 0).map(j => j.end - j.start).sum / 1000.0
    def site(file: String) = jobs.filter(j => t.site(j).contains(file))
    val mb = 1024.0 * 1024.0
    // op self time: op wall not covered by any of its jobs
    val driverOnly = ops.map { s =>
      val spans = jobs.filter(_.op == s"${s.pass}:${s.op}").filter(_.end >= 0)
        .map(j => (j.start.max(s.startMs), j.end.min(s.endMs))).filter(x => x._2 > x._1)
        .sortBy(_._1)
      val covered = spans.foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - a.max(reach), b)
      }._1
      math.max(0.0, s.seconds - covered / 1000.0)
    }.sum
    val writes = t.queries.flatMap(q => q.write.map(_ -> q.durationNs / 1e9))
    val stageS = writes.groupMapReduce(_._1)(_._2)(_ + _)
    val tracedState = state.filter(x => tracedPasses(x._1))
    val stateBytes = tracedState.map(_._3).sum.toDouble
    val written = stages.map(_.output).sum.toDouble
    // bytes a traced pass wrote over the bytes it added to its state tables
    val stateAt = state.map(x => x._1 -> x._3).toMap
    val grown = tracedPasses.toSeq.map(p => stateAt(p) - stateAt.getOrElse(p - 1, 0L)).sum
    val tasks = stages.map(_.tasks).sum.toDouble
    def meanOf(prefix: String) = {
      val xs = ops.filter(_.op.startsWith(prefix)).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    Seq(
      "trace.run_s" -> tracedWall / n,
      "operators.eager_s" -> ops.map(_.eager).sum / n,
      "operators.eager_jobs" -> jobs.count(_.phase == "fn") / n,
      "iterate.checkpoint_jobs" -> site("Iterate.scala").size / n,
      "iterate.checkpoint_s" -> jobSeconds(site("Iterate.scala")) / n,
      "ranks.jobs" -> site("Ranks.scala").size / n,
      "ranks.s" -> jobSeconds(site("Ranks.scala")) / n,
      "sinks.upsert_s" -> meanOf("upsert_"),
      "ingest.batch_s" -> meanOf("ingest_"),
      "sinks.write_amp" -> (if (grown > 0) written / grown else 0.0),
      "sinks.table_files" -> tracedState.map(_._2).sum / n,
      "sinks.table_mb" -> stateBytes / mb / n,
      "spark.planning_s" -> t.queries.map(_.planningMs).sum / 1000.0 / n,
      "spark.graft_rules_s" -> t.queries.map(_.graftRulesNs).sum / 1e9 / n,
      "spark.jobs" -> jobs.size / n,
      "spark.stages" -> stages.size / n,
      "spark.tasks" -> tasks / n,
      "spark.tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks / stages.size),
      "spark.scheduler_delay_s" -> stages.map(_.schedMs).sum / 1000.0 / n,
      "spark.driver_only_s" -> driverOnly / n,
      "spark.executor_run_s" -> stages.map(_.runMs).sum / 1000.0 / n,
      "spark.executor_cpu_s" -> stages.map(_.cpuNs).sum / 1e9 / n,
      "spark.executor_busy_frac" ->
        (if (tracedWall > 0) stages.map(_.runMs).sum / 1000.0 / (tracedWall * cpus) else 0.0),
      "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0 / n,
      "spark.shuffle_write_mb" -> stages.map(_.shuffleWrite).sum / mb / n,
      "spark.shuffle_read_mb" -> stages.map(_.shuffleRead).sum / mb / n,
      "spark.spill_mb" -> stages.map(_.spill).sum / mb / n,
      "spark.input_mb" -> stages.map(_.input).sum / mb / n,
      "spark.output_mb" -> written / mb / n,
      "jvm.peak_rss_mb" -> peakRssMb
    ) ++ stageS.toSeq.sorted.map { case (k, v) => s"pipeline.stage_s.$k" -> v / n }
  }
}
