package graft

import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.functions._

/** Native codegen expressions must be bit-identical to the interpreted
  * Column-fold formulations they replaced (which are what the DuckDB
  * oracles mirror).
  */
class ExpressionSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sfDir)

  test("Hash24Array ≡ transform(md5∘conv) fold") {
    val d = docs.select(
      TextOps.hashes(TextOps.words(col("text"))).as("fast"),
      TextOps.hashesFold(TextOps.words(col("text"))).as("ref"))
    assert(d.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("ShingleHash24 set ≡ hash24 of shingles3 set") {
    val d = docs.select(
      array_sort(TextOps.shingleHash24(col("text"))).as("fast"),
      array_sort(array_distinct(
        TextOps.hashesFold(TextOps.shingles3(TextOps.words(col("text")))))).as("ref"))
    assert(d.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("SortedShingles3 ≡ array_sort ∘ shingles3") {
    val d = docs.select(
      TextOps.sortedShingles3(col("text")).as("fast"),
      array_sort(TextOps.shingles3(TextOps.words(col("text")))).as("ref"))
    assert(d.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("MinHashSig ≡ 12 array_min(transform) folds") {
    val base = docs.select(TextOps.shingleHash24(col("text")).as("hs"))
    val sig = base.select((col("hs") +: TextOps.Perms.zipWithIndex.map {
      case ((a, b), i) => TextOps.minhash(col("hs"), a, b).as(s"ref$i")
    }): _*).withColumn("sig", TextOps.minhashSig(col("hs")))
    val bad = TextOps.Perms.indices.map(i =>
      sig.filter(element_at(col("sig"), i + 1) =!= col(s"ref$i")).count()).sum
    assert(bad == 0)
  }

  test("SortedCommonCount ≡ size(array_intersect) on sorted distinct arrays") {
    val pairs = docs.select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .crossJoin(docs.select(col("doc_id").as("doc_b"),
        TextOps.sortedShingles3(col("text")).as("shb")))
      .filter(col("doc_id") < col("doc_b")).limit(500)
    val d = pairs.select(
      TextOps.sortedCommonCount(col("sh"), col("shb")).as("fast"),
      size(array_intersect(col("sh"), col("shb"))).cast("long").as("ref"))
    withoutIntersectRewrite {
      assert(d.filter(col("fast") =!= col("ref")).count() == 0)
    }
  }

  test("FloatDot ≡ aggregate(zip_with) fold, bit-identical") {
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.select(col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b"))).limit(1000)
    val d = pairs.select(
      VectorOps.dot(col("a"), col("b")).as("fast"),
      VectorOps.dotFold(col("a"), col("b")).as("ref"))
    assert(d.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("CosineSim ≡ dot/(norm·norm) composition, bit-identical") {
    val e = Tables.embeddings(spark, sfDir)
    val pairs = e.select(col("embedding").as("a"))
      .crossJoin(e.select(col("embedding").as("b"))).limit(1000)
    val d = pairs.select(
      VectorOps.cosine(col("a"), col("b")).as("fast"),
      VectorOps.cosineComposed(col("a"), col("b")).as("ref"))
    withoutIntersectRewrite {
      assert(d.filter(col("fast") =!= col("ref")).count() == 0)
    }
  }

  test("FloatDot/CosineSim null semantics: length mismatch and null elements → NULL") {
    val d = spark.sql(
      """SELECT
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS a2,
        |  array(CAST(3.0 AS FLOAT)) AS b1,
        |  array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS an
        |""".stripMargin)
    val r = d.select(
      VectorOps.dot(col("a2"), col("b1")).as("mismatch"),
      VectorOps.dot(col("a2"), col("an")).as("nullelem"),
      VectorOps.cosine(col("a2"), col("b1")).as("cmismatch")).first()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("CharClassCounts ≡ five-regex formulation on the corpus and edge literals") {
    val fused = operators.TextAnalysis.charClassStats(spark, sfDir)
    val ref = operators.TextAnalysis.charClassStatsRegex(spark, sfDir)
    assert(fused.exceptAll(ref).count() == 0 && ref.exceptAll(fused).count() == 0)
    // targeted edge cases: tabs/newlines/vertical tab (the Java-regex \s
    // set), unicode (multi-byte → other, code-point length), empty string
    import spark.implicits._
    val lits = Seq("", "aA0 \t\n\f\r", "naïve café — ünïcode",
      "MiXeD 123 ok?!").toDF("text")
    val cc = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.CharClassCounts(
        org.apache.spark.sql.GraftBridge.expression(col("text"))))
    def cnt(pat: String) = regexp_count(col("text"), lit(pat)).cast("bigint")
    val both = lits.select(
      cc.as("fast"),
      array(length(col("text")).cast("bigint"), cnt("[a-z]"), cnt("[A-Z]"),
        cnt("[0-9]"), cnt("\\s")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("StopwordStats ≡ interpreted filter/array_contains formulation") {
    val fast = graft.operators.TextAnalysis.stopwordFilter(spark, sfDir)
    val ref = graft.operators.TextAnalysis.stopwordFilterFold(spark, sfDir)
    assert(fast.exceptAll(ref).count() == 0 && ref.exceptAll(fast).count() == 0)
  }

  test("BloomMightContain ≡ bloom.mightContainString, no false negatives") {
    import org.apache.spark.sql.{GraftBridge, graft => gx}
    val sh = docs.select(explode(TextOps.sortedShingles3(col("text"))).as("s"))
    val bloom = sh.filter(length(col("s")) % 2 === 0).stat.bloomFilter("s", 2000L, 0.01)
    val probe = GraftBridge.column(
      gx.BloomMightContain(GraftBridge.expression(col("s")), bloom))
    // Reference: the sketch's own driver-side probe on the same strings.
    val rows = sh.limit(2000).collect().map(_.getString(0))
    val expected = rows.map(s => s -> bloom.mightContainString(s)).toMap
    val got = sh.limit(2000).select(col("s"), probe.as("p")).collect()
      .map(r => r.getString(0) -> r.getBoolean(1))
    got.foreach { case (s, p) => assert(p == expected(s), s"probe mismatch on '$s'") }
    // Every inserted element must probe true (bloom has no false negatives).
    val inserted = sh.filter(length(col("s")) % 2 === 0)
      .select(probe.as("p")).filter(!col("p")).count()
    assert(inserted == 0)
  }

  test("CmsEstimate matches the driver-side probe and never under-estimates") {
    import org.apache.spark.sql.{GraftBridge, graft => gx}
    val ev = Tables.events(spark, sfDir).select(col("user_id"))
    val cms = ev.stat.countMinSketch("user_id", 0.0001, 0.99, 42)
    val probe = GraftBridge.column(
      gx.CmsEstimate(GraftBridge.expression(col("user_id")), cms))
    val rows = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"), probe.as("est")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (k, n, est) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(est == cms.estimateCount(k), s"codegen vs driver probe mismatch for key $k")
      // The CMS one-sided error bound: collisions only inflate counts.
      assert(est >= n, s"CMS under-estimated key $k: $est < $n")
    }
  }

  test("hash60 equals parsing the first 15 md5 hex chars (bit layout pinned)") {
    for (s <- Seq("the quick brown fox", "", "a b c", "κείμενο")) {
      val u = org.apache.spark.unsafe.types.UTF8String.fromString(s)
      val md5hex = java.security.MessageDigest.getInstance("MD5")
        .digest(u.getBytes).map("%02x".format(_)).mkString
      assert(org.apache.spark.sql.graft.GraftHashUtil.hash60(u)
        === java.lang.Long.parseLong(md5hex.take(15), 16),
        s"hash60 bit layout drifted for input '$s'")
    }
  }

  test("SQL functions registered via GraftExtensions work end-to-end") {
    val r = spark.sql(
      "SELECT graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)), " +
        "array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d").first().getDouble(0)
    assert(r == 11.0)
    val sh = spark.sql("SELECT graft_simhash16(array(CAST(7 AS BIGINT))) AS s")
      .first().getLong(0)
    assert(sh == 7L)
    val sh64 = spark.sql("SELECT graft_simhash64(array(CAST(7 AS BIGINT))) AS s")
      .first().getLong(0)
    assert(sh64 == 7L)
  }
}
