package graft

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
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.start(4)
}
