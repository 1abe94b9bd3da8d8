package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Which program layer a job belongs to, read from its recorded call site. */
object Attribution {

  private val Frame = """^\s*(?:at\s+)?(?:\S*/)?(graft\.[\w$.]+)\(([^:)]+)""".r.unanchored

  /** The source file of the innermost `graft.*` frame of a call site (the
    * long form Spark records per job, innermost frame first), or None when
    * no program frame is on it. `graftbench.*` frames never match.
    */
  def innermostGraftFile(callSite: String): Option[String] =
    callSite.split('\n').iterator.collectFirst { case Frame(_, file) => file }
}

/** Spans and counters recorded from outside the program: an op span (set
  * by the runner), the jobs started under it (tagged through the local
  * property [[Tracer.OpKey]]), their stages and tasks, and the planning
  * and write statistics of each finished query.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  final case class Job(op: String, phase: String, ownSite: Option[String],
      execution: Option[Long], start: Long, var end: Long = -1L)
  final class StageStats(val job: Int) {
    var submitted = -1L; var completed = -1L
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var schedMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var input = 0L; var output = 0L
  }
  final case class Query(planningMs: Long, graftRulesNs: Long, write: Option[String],
      durationNs: Long)

  val jobs = mutable.LinkedHashMap[Int, Job]()
  private val executionSite = mutable.Map[Long, Option[String]]()
  private val stageJob = mutable.Map[Int, Int]()
  val stages = mutable.LinkedHashMap[Int, StageStats]()
  val queries = mutable.ArrayBuffer[Query]()

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Drain the listener bus, then detach: every event of the traced work
    * has been delivered when this returns.
    */
  def detach(): Unit = {
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    props.flatMap(p => Option(p.getProperty(OpKey))).foreach { op =>
      val site = if (e.stageInfos.isEmpty) None
        else Attribution.innermostGraftFile(e.stageInfos.maxBy(_.stageId).details)
      val execution = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong)
      jobs(e.jobId) = Job(op, props.map(_.getProperty(PhaseKey, "")).getOrElse(""),
        site, execution, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  /** A job's program site: its own call site's, else (a job AQE submits
    * from its stage-materialization threads carries no program frame) the
    * call site of the SQL execution it runs for.
    */
  def site(j: Job): Option[String] = synchronized {
    j.ownSite.orElse(j.execution.flatMap(executionSite.get).flatten)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      executionSite(s.executionId) = Attribution.innermostGraftFile(s.details)
    }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  private def stage(id: Int): Option[StageStats] =
    stageJob.get(id).map(j => stages.getOrElseUpdate(id, new StageStats(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stage(e.stageInfo.stageId).foreach { s =>
      s.submitted = e.stageInfo.submissionTime.getOrElse(-1L)
      s.completed = e.stageInfo.completionTime.getOrElse(-1L)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.taskMetrics != null) stage(e.stageId).foreach { s =>
      val m = e.taskMetrics
      val info = e.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      // the scheduler-delay formula of Spark's UI: task wall time not
      // spent running, deserializing, serializing or fetching the result
      s.schedMs += math.max(0L, (info.finishTime - info.launchTime) - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      s.input += m.inputMetrics.bytesRead
      s.output += m.outputMetrics.bytesWritten
    }
  }

  /** The recorded spans, op → job → stage, as JSON. */
  def spansJson(ops: Seq[(String, Long, Long)]): String = synchronized {
    Json.obj(Seq(
      "ops" -> Json.arr(ops.map { case (op, a, b) =>
        Json.obj(Seq("op" -> Json.str(op), "start" -> a.toString, "end" -> b.toString)) }),
      "jobs" -> Json.arr(jobs.toSeq.map { case (id, j) =>
        Json.obj(Seq("job" -> id.toString, "op" -> Json.str(j.op), "phase" -> Json.str(j.phase),
          "site" -> site(j).map(Json.str).getOrElse("null"), "start" -> j.start.toString,
          "end" -> j.end.toString)) }),
      "stages" -> Json.arr(stages.toSeq.map { case (id, s) =>
        Json.obj(Seq("stage" -> id.toString, "job" -> s.job.toString,
          "start" -> s.submitted.toString, "end" -> s.completed.toString,
          "tasks" -> s.tasks.toString, "run_ms" -> s.runMs.toString)) })))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    val rules = qe.tracker.rules.collect {
      case (name, r) if name.startsWith("graft.") => r.totalTimeNs
    }.sum
    val write = Seq(qe.logical, qe.commandExecuted).iterator.flatMap(_.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => tableName(c.outputPath.toString)
    }).nextOption()
    synchronized {
      queries += Query(phases.map(_.durationMs).sum, rules, write, durationNs)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

object Tracer {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  /** A staged write's table: the output directory's name without the
    * writers' staging suffix.
    */
  def tableName(path: String): String =
    path.stripSuffix("/").split('/').last.stripSuffix(".staging")
}
