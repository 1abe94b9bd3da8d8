package graft

import graft.functions.Ranks
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Direct equivalence pins for the two-level rank helper: every form
  * must be BIT-IDENTICAL to the single-window construction it replaces
  * (the operators' oracle checks prove this end-to-end; these specs
  * prove it at the helper boundary, on data with heavy ties, so a
  * future edit to the cell machinery cannot drift an edge case that
  * the current operator inputs happen not to exercise).
  */
class RanksSpec extends SparkSpec {

  // orders cents: heavy-tailed, with ties at common price points
  private def base = Tables.orders(spark, sfDir)
    .select(col("o_orderkey").as("k"),
      floor(col("o_totalprice")).cast("bigint").as("v"))

  test("withGlobalRank equals the single-window row_number") {
    val df = base
    val want = df.withColumn("r",
      row_number().over(Window.orderBy(col("v").asc, col("k").asc)).cast("long"))
    val bounds = df.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
    val got = Ranks.withGlobalRank(df.crossJoin(broadcast(bounds)), "r",
      expr("((v - __lo) * 1024) div (__hi - __lo + 1)"),
      Seq(col("v").asc, col("k").asc)).select(col("k"), col("v"), col("r"))
    assert(got.exceptAll(want.select("k", "v", "r")).isEmpty
      && want.select("k", "v", "r").exceptAll(got).isEmpty,
      "two-level rank diverged from the global window")
  }

  test("rank is invariant to cell granularity (coarse vs fine buckets)") {
    val df = base
    def ranks(cells: Long) = {
      val bounds = df.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
      Ranks.withGlobalRank(df.crossJoin(broadcast(bounds)), "r",
        expr(s"((v - __lo) * $cells) div (__hi - __lo + 1)"),
        Seq(col("v").asc, col("k").asc)).select(col("k"), col("r"))
    }
    val coarse = ranks(8)
    val fine = ranks(4096)
    assert(coarse.exceptAll(fine).isEmpty && fine.exceptAll(coarse).isEmpty,
      "cell choice changed the rank — the monotone-cell contract is broken")
  }

  test("withNtile equals ntile(k) including the n < k edge") {
    for (k <- Seq(3L, 10L, 64L)) {
      val df = base
      val want = df.withColumn("t",
        ntile(k.toInt).over(Window.orderBy(col("v").asc, col("k").asc))
          .cast("long"))
      val bounds = df.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"),
        count(lit(1)).as("__n"))
      val ranked = Ranks.withGlobalRank(df.crossJoin(broadcast(bounds)), "r",
        expr("((v - __lo) * 256) div (__hi - __lo + 1)"),
        Seq(col("v").asc, col("k").asc))
      val got = Ranks.withNtile(ranked, "t", "r", "__n", k)
        .select(col("k"), col("t"))
      assert(got.exceptAll(want.select("k", "t")).isEmpty
        && want.select("k", "t").exceptAll(got).isEmpty,
        s"ntile($k) reconstruction diverged")
    }
    // n < k: every row its own tile
    import spark.implicits._
    val tiny = Seq((1L, 5L), (2L, 5L), (3L, 7L)).toDF("k", "v")
      .crossJoin(broadcast(Seq(Tuple1(3L)).toDF("__n")))
    val ranked = Ranks.withGlobalRank(tiny, "r", col("v"),
      Seq(col("v").asc, col("k").asc))
    val t = Ranks.withNtile(ranked, "t", "r", "__n", 64L)
      .select(col("k"), col("t")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(t == Map(1L -> 1L, 2L -> 2L, 3L -> 3L),
      s"n < k must give each row its own tile: $t")
  }

  test("withExclusivePrefix equals the exclusive window prefix sums") {
    // gini's exact shape: distinct value cells with counts
    val cells = base.groupBy(col("v")).agg(count(lit(1)).as("nc"))
    val w = Window.orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = cells
      .withColumn("p1", coalesce(sum(col("nc")).over(w), lit(0L)))
      .withColumn("p2", coalesce(sum(col("nc") * col("v")).over(w), lit(0L)))
      .select(col("v"), col("p1"), col("p2"))
    val bounds = cells.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
    val got = Ranks.withExclusivePrefix(
        cells.crossJoin(broadcast(bounds)),
        expr("((v - __lo) * 512) div (__hi - __lo + 1)"),
        Seq(col("v").asc),
        Seq(col("nc") -> "p1", (col("nc") * col("v")) -> "p2"))
      .select(col("v"), col("p1"), col("p2"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "two-level exclusive prefix diverged from the window form")
  }

  test("withExclusivePrefixMax equals the exclusive window running max") {
    // row-level (not cell-aggregated) input, heavy ties on v, so the
    // within-cell frame, the cross-cell carry, and the NULL-first-row
    // edge are all exercised; prefix-max of k and of k*7 both checked.
    val df = base
    val w = Window.orderBy(col("v").asc, col("k").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = df
      .withColumn("m1", max(col("k")).over(w))
      .withColumn("m2", max(col("k") % 97).over(w))
      .select(col("k"), col("m1"), col("m2"))
    val bounds = df.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
    val got = Ranks.withExclusivePrefixMax(
        df.crossJoin(broadcast(bounds)),
        expr("((v - __lo) * 512) div (__hi - __lo + 1)"),
        Seq(col("v").asc, col("k").asc),
        Seq(col("k") -> "m1", (col("k") % 97) -> "m2"))
      .select(col("k"), col("m1"), col("m2"))
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "two-level exclusive prefix max diverged from the window form")
    // the global first row must be NULL, not a sentinel
    val nFirstNull = got.filter(col("m1").isNull).count()
    assert(nFirstNull == 1L, s"expected exactly one NULL prefix max row, got $nFirstNull")
  }

  test("withBucketedExclusivePrefix(+Max) equal the explicit span-cell forms, " +
      "ascending and descending") {
    // distinct-value histogram, the wrappers' declared input shape
    val cells = base.groupBy(col("v")).agg(count(lit(1)).as("nc"))
    val bounds = cells.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
    val wantAsc = Ranks.withExclusivePrefix(
        cells.crossJoin(broadcast(bounds)),
        expr("((v - __lo) * 512) div (__hi - __lo + 1)"),
        Seq(col("v").asc), Seq(col("nc") -> "p"))
      .select(col("v"), col("p"))
    val gotAsc = Ranks.withBucketedExclusivePrefix(
        cells, col("v"), ascending = true, 512, Seq(col("nc") -> "p"))
      .select(col("v"), col("p"))
    assert(gotAsc.exceptAll(wantAsc).isEmpty && wantAsc.exceptAll(gotAsc).isEmpty,
      "bucketed asc wrapper diverged from the explicit form")
    val wantDesc = Ranks.withExclusivePrefix(
        cells.crossJoin(broadcast(bounds)),
        expr("((__hi - v) * 512) div (__hi - __lo + 1)"),
        Seq(col("v").desc), Seq(col("nc") -> "p"))
      .select(col("v"), col("p"))
    val gotDesc = Ranks.withBucketedExclusivePrefix(
        cells, col("v"), ascending = false, 512, Seq(col("nc") -> "p"))
      .select(col("v"), col("p"))
    assert(gotDesc.exceptAll(wantDesc).isEmpty && wantDesc.exceptAll(gotDesc).isEmpty,
      "bucketed desc wrapper diverged from the explicit form")
    val wantMax = Ranks.withExclusivePrefixMax(
        cells.crossJoin(broadcast(bounds)),
        expr("((v - __lo) * 512) div (__hi - __lo + 1)"),
        Seq(col("v").asc), Seq(col("nc") -> "m"))
      .select(col("v"), col("m"))
    val gotMax = Ranks.withBucketedExclusivePrefixMax(
        cells, col("v"), ascending = true, 512, Seq(col("nc") -> "m"))
      .select(col("v"), col("m"))
    assert(gotMax.exceptAll(wantMax).isEmpty && wantMax.exceptAll(gotMax).isEmpty,
      "bucketed max wrapper diverged from the explicit form")
  }

  test("empty sums/maxes and empty order are rejected loudly") {
    val df = base
    val eSums = intercept[IllegalArgumentException] {
      Ranks.withExclusivePrefix(df, col("v"), Seq(col("v").asc), Nil)
    }
    assert(eSums.getMessage.contains("at least one"))
    val eMax = intercept[IllegalArgumentException] {
      Ranks.withExclusivePrefixMax(df, col("v"), Seq(col("v").asc), Nil)
    }
    assert(eMax.getMessage.contains("at least one"))
    val eOrd = intercept[IllegalArgumentException] {
      Ranks.withGlobalRank(df, "r", col("v"), Nil)
    }
    assert(eOrd.getMessage.contains("order"))
  }

  test("spark.graft.maxRankCells fails an over-wide cell count loud") {
    spark.conf.set("spark.graft.maxRankCells", "8")
    try {
      // bucketed forms: the bucket count is known at plan time, so the
      // cap is a static require — no job ever launches
      val eStatic = intercept[IllegalArgumentException] {
        Ranks.withBucketedExclusivePrefix(base, col("v"),
          ascending = true, 9, Seq(col("k") -> "p"))
      }
      assert(eStatic.getMessage.contains("maxRankCells"), eStatic.getMessage)
      // hand-built cells: cardinality is data-dependent, so the cap is
      // a plan-embedded assert on the triangular pair count — the job
      // fails loud instead of silently grinding O(cells^2)
      val wide = spark.range(100).select(col("id").as("k"), col("id").as("v"))
      val eRun = intercept[Exception] {
        Ranks.withExclusivePrefix(wide, col("v"), Seq(col("v").asc),
          Seq(col("k") -> "p")).count()
      }
      assert(eRun.getMessage.contains("maxRankCells"), eRun.getMessage)
      val eRank = intercept[Exception] {
        Ranks.withGlobalRank(wide, "r", col("v"), Seq(col("v").asc)).count()
      }
      assert(eRank.getMessage.contains("maxRankCells"), eRank.getMessage)
      // at-the-cap cell counts stay fine (8 cells, cap 8)
      val ok = Ranks.withExclusivePrefix(
        spark.range(64).select(col("id").as("k"), (col("id") / 8).cast("bigint").as("c")),
        col("c"), Seq(col("c").asc, col("k").asc), Seq(lit(1L) -> "p"))
      assert(ok.count() === 64)
    } finally spark.conf.unset("spark.graft.maxRankCells")
  }

  test("spark.graft.maxRankCells must be an integer >= 1, read in one place") {
    assert(Ranks.cellCap(spark) === 4096)
    try {
      spark.conf.set("spark.graft.maxRankCells", "16")
      assert(Ranks.cellCap(spark) === 16)
      for (bad <- Seq("abc", "4.5", "0", "-3", "")) {
        spark.conf.set("spark.graft.maxRankCells", bad)
        val e = intercept[IllegalArgumentException](Ranks.cellCap(spark))
        assert(e.getMessage.contains("spark.graft.maxRankCells"), e.getMessage)
        // the operators that dispatch on the cap fail the same way
        Seq[() => Any](() => operators.StatTests.spearmanCorr(spark, sfDir),
            () => operators.Retrieval.quantileNormalize(spark, sfDir)).foreach { op =>
          val eOp = intercept[IllegalArgumentException](op())
          assert(eOp.getMessage.contains("spark.graft.maxRankCells"), eOp.getMessage)
        }
      }
    } finally spark.conf.unset("spark.graft.maxRankCells")
  }

  test("production Ranks call sites pass the monotone-cell validation") {
    // run representative operators (sum asc, max asc, desc bases, rank
    // cells) with the debug validation ON — a mis-derived bucket formula
    // at any site fails HERE, not as a wrong rank in production
    spark.conf.set("spark.graft.validateRankCells", "true")
    try {
      Seq(
        "gini_concentration" -> operators.StatTests.giniConcentration(spark, sfDir),
        "skyline_2d" -> operators.RelationalExt.skyline2d(spark, sfDir),
        "curriculum_order" -> operators.Sampling.curriculumOrder(spark, sfDir),
        "quantile_normalize" -> operators.Retrieval.quantileNormalize(spark, sfDir),
        "rfm_segmentation" -> operators.EventOps.rfmSegmentation(spark, sfDir)
      ).foreach { case (name, df) =>
        assert(df.count() > 0, s"$name under validation")
      }
    } finally spark.conf.unset("spark.graft.validateRankCells")
  }

  test("spark.graft.validateRankCells catches a non-monotone cell") {
    spark.conf.set("spark.graft.validateRankCells", "true")
    try {
      // monotone cell under the conf: must pass untroubled
      val bounds = base.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
      Ranks.withGlobalRank(base.crossJoin(broadcast(bounds)), "r",
        expr("((v - __lo) * 64) div (__hi - __lo + 1)"),
        Seq(col("v").asc, col("k").asc)).count()
      // v % 7 interleaves order-key ranges across cells — the exact
      // silent-wrong-answer contract breach the conf exists to catch
      val e = intercept[IllegalArgumentException] {
        Ranks.withGlobalRank(base, "r", col("v") % 7,
          Seq(col("v").asc, col("k").asc)).count()
      }
      assert(e.getMessage.contains("not monotone"), e.getMessage)
      // descending order direction is validated too
      val eDesc = intercept[IllegalArgumentException] {
        Ranks.withExclusivePrefix(base, col("v") % 7,
          Seq(col("v").desc, col("k").desc), Seq(col("k") -> "p")).count()
      }
      assert(eDesc.getMessage.contains("not monotone"), eDesc.getMessage)
    } finally spark.conf.unset("spark.graft.validateRankCells")
  }
}
