package graft

import org.scalatest.funsuite.AnyFunSuite

/** `SPARK_GRAFT_CONF` parsing: trimmed keys and values, loud failures. */
class BenchSpec extends AnyFunSuite {

  test("parseConf trims keys and values and skips empty entries") {
    assert(Bench.parseConf(" spark.a = 1 ;; spark.b=x=y ; ") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(Bench.parseConf("spark.c=") == Seq("spark.c" -> ""))
    assert(Bench.parseConf("") == Nil)
  }

  test("parseConf rejects an entry without '=' or with an empty key") {
    val noEq = intercept[IllegalArgumentException](
      Bench.parseConf("spark.a=1;spark.b"))
    assert(noEq.getMessage.contains("no '='"))
    val noKey = intercept[IllegalArgumentException](Bench.parseConf(" =1"))
    assert(noKey.getMessage.contains("empty key"))
  }
}
