package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession fixture for all specs: the same
  * [[GraftSession]] the mains run, at 4 cores.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sfDir = "/root/testdata/sf0.001"

  /** Runs `f` with graft's `size(array_intersect)` rewrite excluded from
    * the optimizer: the built-in form the rewrite is checked against.
    */
  def withoutIntersectRewrite[A](f: => A): A = {
    spark.conf.set("spark.sql.optimizer.excludedRules",
      "graft.RewriteIntersectCount")
    try f finally spark.conf.unset("spark.sql.optimizer.excludedRules")
  }

  /** Runs `f` and counts the Spark jobs it started: a listener records
    * every job's description, and sentinel jobs before and after `f`
    * bracket the ones `f` started (listener delivery is asynchronous
    * but ordered).
    */
  def jobsOf[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    def sentinel(name: String): Unit = {
      sc.setJobDescription(name)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      sentinel("jobs_of_start")
      val out = f
      sentinel("jobs_of_end")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.contains("jobs_of_end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      val seen = jobs.toArray.toSeq.map(_.toString)
      val (from, to) = (seen.indexOf("jobs_of_start"), seen.indexOf("jobs_of_end"))
      assert(from >= 0 && to > from, s"sentinel jobs not observed: $seen")
      (out, to - from - 1)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.start(4)
}
