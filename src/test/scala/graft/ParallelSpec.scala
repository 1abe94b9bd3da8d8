package graft

import graft.functions.Parallel
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import scala.jdk.CollectionConverters._

/** `Parallel.all`: thunks really overlap, results keep input order, a
  * failure surfaces unwrapped only after every sibling finished, and
  * jobs started inside a thunk carry the caller's local properties.
  * Every test starts at most three pool threads.
  */
class ParallelSpec extends SparkSpec {

  test("thunks run at the same time") {
    // each thunk waits for the other to arrive: a pool that ran them one
    // after another would time out both awaits
    val latch = new CountDownLatch(2)
    val arrive = () => { latch.countDown(); latch.await(30, TimeUnit.SECONDS) }
    assert(Parallel.all(spark)(Seq(arrive, arrive)) == Seq(true, true))
  }

  test("results come back in input order") {
    val sleeps = Seq(150L, 0L, 75L)
    val out = Parallel.all(spark)(sleeps.zipWithIndex.map { case (ms, i) =>
      () => { Thread.sleep(ms); i }
    })
    assert(out == Seq(0, 1, 2))
    assert(Parallel.all(spark)(Seq.empty[() => Int]).isEmpty)
  }

  test("the first failure in input order surfaces unwrapped, after every sibling") {
    val slowDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Parallel.all(spark)(Seq[() => Int](
        () => { Thread.sleep(100); throw new IllegalStateException("first by input") },
        () => { Thread.sleep(300); slowDone.set(true); 1 },
        () => throw new IllegalArgumentException("first by time")))
    }
    assert(slowDone.get, "the failure surfaced before the slow sibling finished")
    assert(e.getMessage == "first by input")
    val suppressed = e.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed)
    assert(suppressed.head.isInstanceOf[IllegalArgumentException])
    assert(suppressed.head.getMessage == "first by time")
  }

  test("jobs started inside a thunk carry the caller's local properties") {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
        seen.add(prop("spark.job.description") -> prop("graft.parallel.tag"))
      }
    }
    val sc = spark.sparkContext
    // listener delivery is asynchronous but ordered: once a sentinel job
    // is seen, every job started before it has been seen too
    def drain(sentinel: String): Unit = {
      sc.setJobDescription(sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
      def observed = seen.asScala.exists(_._1 == sentinel)
      while (!observed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(observed, s"sentinel job $sentinel never observed")
    }
    sc.addSparkListener(listener)
    try {
      drain("parallel_spec_open")
      seen.clear()
      sc.setJobDescription("parallel_spec")
      sc.setLocalProperty("graft.parallel.tag", "caller")
      val counts = try {
        // a shuffle, so AQE submits stage jobs from its own threads too
        val query = () => spark.range(0, 1000, 1, 4)
          .groupBy((col("id") % 7).as("k")).count().collect().length
        Parallel.all(spark)(Seq(query, query))
      } finally {
        sc.setJobDescription(null)
        sc.setLocalProperty("graft.parallel.tag", null)
      }
      assert(counts == Seq(7, 7))
      drain("parallel_spec_close")
      val thunkJobs = seen.asScala.toSeq.filterNot(_._1 == "parallel_spec_close")
      assert(thunkJobs.size >= 2, s"expected a job per thunk, saw $thunkJobs")
      assert(thunkJobs.forall(_ == ("parallel_spec" -> "caller")), thunkJobs)
    } finally sc.removeSparkListener(listener)
  }
}
