package graft

import scala.jdk.CollectionConverters._

/** The one session builder: `SPARK_GRAFT_CONF` and `SPARK_GRAFT_CPUS`
  * parsing with loud failures, and the guard that the test fixture runs
  * the same session as the mains and that nothing else builds one.
  */
class GraftSessionSpec extends SparkSpec {

  test("parseConf trims keys and values and skips empty entries") {
    assert(GraftSession.parseConf(" spark.a = 1 ;; spark.b=x=y ; ") ==
      Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(GraftSession.parseConf("spark.c=") == Seq("spark.c" -> ""))
    assert(GraftSession.parseConf("") == Nil)
  }

  test("parseConf rejects an entry without '=' or with an empty key") {
    val noEq = intercept[IllegalArgumentException](
      GraftSession.parseConf("spark.a=1;spark.b"))
    assert(noEq.getMessage.contains("no '='"))
    val noKey = intercept[IllegalArgumentException](
      GraftSession.parseConf(" =1"))
    assert(noKey.getMessage.contains("empty key"))
  }

  test("a core count that is not a positive integer fails naming the variable") {
    // pure parsing: no session is built for a bad value
    assert(GraftSession.cores(" 8 ") == 8)
    for (bad <- Seq("abc", "0", "-2", "", "4.5")) {
      val e = intercept[IllegalArgumentException](GraftSession.cores(bad))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      GraftSession.envInt("SPARK_GRAFT_RESTART_EVERY", "ten"))
    assert(e.getMessage.contains("SPARK_GRAFT_RESTART_EVERY"), e.getMessage)
  }

  test("the test session runs the GraftSession conf and extensions") {
    // a new session off the shared context: the conf the fixture was
    // built with, unaffected by runtime sets in other specs
    val s = spark.newSession()
    val overrides =
      sys.env.get("SPARK_GRAFT_CONF").toSeq.flatMap(GraftSession.parseConf)
    val expected = (GraftSession.conf(4) ++ overrides).toMap
      .filter(_._1.startsWith("spark.sql."))
    // static SQL conf (the warehouse dir Spark qualifies at startup)
    // is deployment, not plan, conf
    import org.apache.spark.sql.internal.SQLConf
    val defaults = new SQLConf
    val actual = s.conf.getAll.filter { case (k, v) =>
      k.startsWith("spark.sql.") && (expected.contains(k) ||
        !SQLConf.isStaticConfigKey(k) &&
          scala.util.Try(defaults.getConfString(k)).toOption != Some(v))
    }
    assert(actual == expected)
    assert(s.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("graft_dot")),
      "GraftExtensions not installed on the test session")
  }

  test("no source file but GraftSession.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder"
    val files = Seq("src/main", "src/test").flatMap { d =>
      val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(d))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.exists(_.endsWith("GraftSession.scala")))
    val builders = files.filter(p =>
      !p.endsWith("GraftSession.scala") &&
        java.nio.file.Files.readString(p).contains(needle))
    assert(builders.isEmpty, s"session builders outside GraftSession: " +
      builders.mkString(", "))
  }
}
