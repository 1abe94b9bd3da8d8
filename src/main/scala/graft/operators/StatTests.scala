package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution statistics (§2.D adjunct): exact two-sample tests and
  * concentration/allocation measures — the inferential layer over the
  * profiling operators (drift_tvd's binned distances get the exact-EDF
  * KS companion; rfm's quintiles get the Gini concentration scalar;
  * sample_stratified's equal rates get the variance-optimal Neyman
  * design). All three follow the repo's exactness discipline: integer
  * cross-multiplication instead of comparing float CDFs, IEEE sqrt as
  * the only transcendental.
  */
object StatTests {

  /** Exact two-sample Kolmogorov-Smirnov statistic between the two
    * largest sources' document-length distributions — the
    * distribution-equality test behind "did this source drift?", with
    * NO binning error (drift_tvd is the binned/mergeable form; this is
    * the exact EDF form): D = max |F1 − F2| over the pooled support,
    * computed as max |cdf1·n2 − cdf2·n1| in BIGINT cross-multiplication
    * (never a float CDF comparison), reported with the critical-value
    * decision D² · n1·n2 ≷ c²·(n1+n2) for c = 1.36 (α = 0.05), c² =
    * 1.8496 ×10⁴. The decision products are evaluated in DOUBLE —
    * d_cross can reach n1·n2, so the former all-BIGINT d² ·10⁴ wrapped
    * past d_cross ≈ 3e7; IEEE multiply/compare is deterministic and
    * identical in both engines (exact while each product ≤ 2⁵³, and
    * identically-rounded beyond). d_ppm keeps BIGINT via the gini
    * treatment: multiply-first while n1·n2 ≤ 9e12 (exact), divide the
    * denominator by 1e6 first past that (≤1 ppm bias, no overflow to
    * n1·n2 ≈ 9.2e18).
    *
    * Scale: one aggregate to the (source, value) support cells, two
    * cumulative windows over support-cardinality rows. The corpus
    * never sorts — only its distinct value cells do.
    */
  def ksStatistic(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val top2 = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("source").asc).limit(2)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("source").asc)))
    val tagged = docs.join(broadcast(top2), Seq("source"))
      .select(col("rank"), col("n_chars"))
    // checkpointed: Ranks reads its input three times (main branch,
    // histogram, triangular join — the documented contract), and this
    // cell frame's lineage re-scans documents AND re-derives top2 on
    // every read; materializing the length-support-bounded cells once
    // cuts the corpus cost to a single scan.
    val cells = graft.functions.Iterate.checkpoint(
      tagged.groupBy(col("n_chars"))
        .agg(sum(when(col("rank") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("rank") === 2, 1L).otherwise(0L)).as("c2")),
      Some("rank over the 2-row post-LIMIT top-2 source frame"))
    // The CDF window is DOMAIN-bounded, not corpus-bounded: its input
    // is one row per distinct n_chars ≤ max document length at ANY
    // corpus size, so a single bounded window over the checkpointed
    // cells beats the two-level Ranks machinery (r11 ran the bucketed
    // prefix here for uniformity; its ~8 extra metadata stages doubled
    // local wall time for zero scale benefit on a support-bounded
    // frame — PlanSpec's allowlist documents the bound).
    val wLen = Window.orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = cells
      .withColumn("cdf1", sum(col("c1")).over(wLen))
      .withColumn("cdf2", sum(col("c2")).over(wLen))
    val totals = cdf.agg(max(col("cdf1")).as("n1"), max(col("cdf2")).as("n2"))
    cdf.crossJoin(broadcast(totals))
      .select(col("n_chars"), col("n1"), col("n2"),
        abs(col("cdf1") * col("n2") - col("cdf2") * col("n1")).as("dx"))
      .groupBy(col("n1"), col("n2"))
      .agg(max(col("dx")).as("d_cross"))
      .select(col("n1"), col("n2"), col("d_cross"),
        when(col("n1") * col("n2") <= lit(9000000000000L),
          expr("(d_cross * 1000000) div (n1 * n2)"))
          .otherwise(expr("d_cross div ((n1 * n2) div 1000000)"))
          .as("d_ppm"),
        // reject iff D² · n1·n2 > c²·(n1+n2): (d_cross)² > 1.8496·n1·n2
        // ·(n1+n2) ×1e4 — in DOUBLE (BIGINT wraps past d_cross ≈ 3e7)
        (col("d_cross").cast("double") * col("d_cross").cast("double")
          * lit(10000.0) >
          lit(18496.0) * col("n1").cast("double") * col("n2").cast("double")
            * (col("n1") + col("n2")).cast("double"))
          .as("reject_h0_5pct"))
  }

  val ksStatisticOracle: String = """
    WITH top2 AS (
      SELECT source, n, ROW_NUMBER() OVER (ORDER BY n DESC, source ASC) AS rank
      FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
      ORDER BY n DESC, source ASC LIMIT 2),
    tagged AS (
      SELECT t.rank, d.n_chars FROM documents d JOIN top2 t ON d.source = t.source),
    cells AS (
      SELECT n_chars,
        CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN rank = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM tagged GROUP BY 1),
    cdf AS (
      SELECT n_chars,
        CAST(SUM(c1) OVER (ORDER BY n_chars ASC ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cdf1,
        CAST(SUM(c2) OVER (ORDER BY n_chars ASC ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cdf2
      FROM cells),
    t AS (SELECT MAX(cdf1) AS n1, MAX(cdf2) AS n2 FROM cdf),
    d AS (
      SELECT n1, n2, MAX(ABS(cdf1 * n2 - cdf2 * n1)) AS d_cross
      FROM cdf CROSS JOIN t
      GROUP BY n1, n2)
    SELECT n1, n2, d_cross,
      CASE WHEN n1 * n2 <= 9000000000000
        THEN (d_cross * 1000000) // (n1 * n2)
        ELSE d_cross // ((n1 * n2) // 1000000) END AS d_ppm,
      (CAST(d_cross AS DOUBLE) * CAST(d_cross AS DOUBLE) * 10000.0
        > 18496.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
          * CAST(n1 + n2 AS DOUBLE)) AS reject_h0_5pct
    FROM d"""

  /** Quantile–quantile comparison of the two largest sources' length
    * distributions at the 5..95 percent grid — the WHERE companion to
    * [[ksStatistic]]/[[mannWhitneyAuc]] (KS says the distributions
    * differ and MW says which is larger on average; the QQ table says
    * at WHICH quantiles the gap lives — tail-only vs body-wide is the
    * difference between trimming a source and reweighting it).
    * Quantiles are NEAREST-RANK (q(p) = min value with CDF ≥
    * ⌈p·n/100⌉), so every reported value is an actual n_chars from the
    * data and both engines agree exactly — no interpolation, no float.
    * The ceil is (p·n + 99) div 100 on positive integers (identical
    * truncation both engines). Scale: the same checkpointed
    * length-support cells as KS (one corpus scan); the 19-row percent
    * grid joins against ≤max-doc-length CDF cells — metadata-scale —
    * and the quantile pick is a conditional MIN fold, not a sort.
    */
  def qqCompare(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val top2 = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("source").asc).limit(2)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("source").asc)))
    val cells = graft.functions.Iterate.checkpoint(
      docs.join(broadcast(top2), Seq("source"))
        .groupBy(col("n_chars"))
        .agg(sum(when(col("rank") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("rank") === 2, 1L).otherwise(0L)).as("c2")),
      Some("rank over the 2-row post-LIMIT top-2 source frame"))
    // same DOMAIN-bounded CDF window as ksStatistic (PlanSpec allowlist)
    val wLen = Window.orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cdf = cells
      .withColumn("cdf1", sum(col("c1")).over(wLen))
      .withColumn("cdf2", sum(col("c2")).over(wLen))
    val totals = cdf.agg(max(col("cdf1")).as("n1"), max(col("cdf2")).as("n2"))
    val pct = totals.select(col("n1"), col("n2"),
      explode(sequence(lit(1L), lit(19L))).as("i"))
      .select((col("i") * 5L).as("p"),
        expr("(i * 5 * n1 + 99) div 100").as("t1"),
        expr("(i * 5 * n2 + 99) div 100").as("t2"))
    cdf.crossJoin(broadcast(pct))
      .groupBy(col("p"))
      .agg(min(when(col("cdf1") >= col("t1"), col("n_chars"))).as("q1_chars"),
        min(when(col("cdf2") >= col("t2"), col("n_chars"))).as("q2_chars"))
      .withColumn("qq_gap", col("q1_chars") - col("q2_chars"))
  }

  val qqCompareOracle: String = """
    WITH top2 AS (
      SELECT source, n, ROW_NUMBER() OVER (ORDER BY n DESC, source ASC) AS rank
      FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
      ORDER BY n DESC, source ASC LIMIT 2),
    cells AS (
      SELECT n_chars,
        CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN rank = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM documents d JOIN top2 t ON d.source = t.source
      GROUP BY 1),
    cdf AS (
      SELECT n_chars,
        CAST(SUM(c1) OVER (ORDER BY n_chars ASC ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cdf1,
        CAST(SUM(c2) OVER (ORDER BY n_chars ASC ROWS UNBOUNDED PRECEDING)
          AS BIGINT) AS cdf2
      FROM cells),
    t AS (SELECT MAX(cdf1) AS n1, MAX(cdf2) AS n2 FROM cdf),
    pct AS (
      SELECT i * 5 AS p,
        (i * 5 * n1 + 99) // 100 AS t1,
        (i * 5 * n2 + 99) // 100 AS t2
      FROM (SELECT UNNEST(RANGE(1, 20)) AS i) CROSS JOIN t)
    SELECT p,
      MIN(CASE WHEN cdf1 >= t1 THEN n_chars END) AS q1_chars,
      MIN(CASE WHEN cdf2 >= t2 THEN n_chars END) AS q2_chars,
      MIN(CASE WHEN cdf1 >= t1 THEN n_chars END)
        - MIN(CASE WHEN cdf2 >= t2 THEN n_chars END) AS qq_gap
    FROM cdf CROSS JOIN pct
    GROUP BY p"""

  /** Gini concentration of customer revenue — the one-number inequality
    * audit behind "do a few whales carry the corpus?" (rfm_segmentation
    * locates them; this measures how much they dominate). Computed from
    * the exact-cents per-customer totals via the grouped mean-difference
    * identity over VALUE CELLS: Σᵢⱼ nᵢnⱼ|xᵢ−xⱼ| = 2·Σᵢ nᵢxᵢ·N₍<ᵢ₎ −
    * 2·Σᵢ nᵢ·S₍<ᵢ₎ with prefix windows over the sorted cells —
    * all-BIGINT, G_ppm = num·1e6 ÷ (2·N·Total). The corpus never
    * globally sorts — and since cent-exact lifetime spends are
    * near-unique (distinct cells approach CUSTOMER cardinality at 1e8
    * users), even the cell prefix avoids an unpartitioned window:
    * [[graft.functions.Ranks.withBucketedExclusivePrefix]] buckets the cells
    * into 1024 value ranges from the broadcast [min, max] span and
    * runs both running sums partitioned by bucket. BIGINT headroom:
    * nᵢxᵢ·N < 9.2e18 holds to ~1e8 customers at 1e6-cent spends;
    * beyond that the fold (not the data) moves to DECIMAL(38).
    */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = {
    val spend = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
        .as("cents"))
    // checkpointed: the value cells' lineage is the full per-customer
    // spend aggregate over orders — without materialization Ranks'
    // documented triple read re-scans orders three times.
    // ACCEPTED COST (r12 WARN, confirmed r13): the write moved the
    // sf0.1 bench ~0.5 -> ~0.8-1.0 s box-normalized. The ks/compaction
    // bounded-window treatment does NOT apply here: those cells are
    // domain-bounded, while cent-exact lifetime spends approach
    // customer cardinality (the Scaladoc's 1e8 argument), so the
    // bucketed prefix over a materialized frame is the form that
    // survives scale; the extra ~0.4 s is the price of not re-scanning
    // orders three times at 100 TB.
    val cells = graft.functions.Iterate.checkpoint(
      spend.groupBy(col("cents")).agg(count(lit(1)).as("nc")))
    val folded = graft.functions.Ranks.withBucketedExclusivePrefix(
        cells, col("cents"), ascending = true, 1024,
        Seq(col("nc") -> "n_before",
          (col("nc") * col("cents")) -> "s_before"))
      .agg(sum(col("nc")).as("n_customers"),
        sum(col("nc") * col("cents")).as("total_cents"),
        sum(col("nc") * col("cents") * col("n_before")
          - col("nc") * col("s_before")).as("half_mean_diff"))
    // G = hmd ÷ (N·Total); multiply-then-divide overflows BIGINT at
    // corpus scale (hmd·1e6 ~ 1e20), so divide the DENOMINATOR by 1e6
    // first — identical truncation both engines, ≤1 ppm bias, no
    // overflow until hmd itself passes 9.2e18 (~1e10 customers)
    folded.select(col("n_customers"), col("total_cents"),
      when(expr("(n_customers * total_cents) div 1000000") === 0, lit(0L))
        .otherwise(expr(
          "half_mean_diff div ((n_customers * total_cents) div 1000000)"))
        .as("gini_ppm"))
  }

  val giniConcentrationOracle: String = """
    WITH spend AS (
      SELECT o_custkey,
        CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS cents
      FROM orders GROUP BY 1),
    cells AS (SELECT cents, COUNT(*) AS nc FROM spend GROUP BY 1),
    pre AS (
      SELECT cents, nc,
        COALESCE(CAST(SUM(nc) OVER (ORDER BY cents ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          AS n_before,
        COALESCE(CAST(SUM(nc * cents) OVER (ORDER BY cents ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          AS s_before
      FROM cells),
    f AS (
      SELECT CAST(SUM(nc) AS BIGINT) AS n_customers,
        CAST(SUM(nc * cents) AS BIGINT) AS total_cents,
        CAST(SUM(nc * cents * n_before - nc * s_before) AS BIGINT)
          AS half_mean_diff
      FROM pre)
    SELECT n_customers, total_cents,
      CASE WHEN (n_customers * total_cents) // 1000000 = 0 THEN 0
        ELSE half_mean_diff // ((n_customers * total_cents) // 1000000) END
        AS gini_ppm
    FROM f"""

  private val NeymanBudget = 1000L

  /** Neyman-optimal stratified allocation of a fixed sample budget over
    * the event-type strata — the survey-design answer to "where do my
    * 1000 QA samples go?": n_h ∝ N_h·σ_h (big AND volatile strata get
    * more), versus proportional allocation's N_h-only rule
    * (sample_stratified's equal-rate shape). σ from exact integer cents
    * moments (σ_scaled = sqrt(n·Σx² − (Σx)²) — IEEE sqrt, portable),
    * weights cross-multiplied to integer allocation by largest-remainder
    * so the budget is hit EXACTLY (floor allocations + ranked remainders
    * — deterministic, ties to the smaller stratum name). One
    * map-side-combinable moment pass; everything after runs on
    * |strata| rows.
    */
  def neymanAllocation(spark: SparkSession, dir: String): DataFrame = {
    val moments = Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100 + lit(0.5)).cast("bigint").as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_h"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sx2"))
      // N_h·σ_h with σ in the n-scaled form sqrt(n·Σx²−(Σx)²)/n ⇒
      // weight = sqrt(n·Σx²−(Σx)²) exactly; the per-row IEEE sqrt is
      // then FIXED-POINTED (×100 → BIGINT) so every cross-row quantity
      // (total weight, allocations, remainders) is integer — a Σ of raw
      // double weights would be aggregation-order-dependent.
      // The n·Σx² product rides DECIMAL(38,0) (spearman's discipline):
      // at sf10 a 2M-row stratum of squared cents puts n_h·sx2 ≈ 2e20
      // past BIGINT — the r16 decade sweep caught the overflow at
      // exactly one decade past the sf1 audit's ~2e18. Both engines
      // convert the integer difference to double in ONE correctly-
      // rounded step (decimal(38,0) / HUGEINT), so sqrt sees the same
      // value.
      .withColumn("wfx",
        floor(sqrt((col("n_h").cast("decimal(38,0)")
            * col("sx2").cast("decimal(38,0)")
            - col("sx").cast("decimal(38,0)") * col("sx").cast("decimal(38,0)"))
          .cast("double")) * lit(100.0) + lit(0.5)).cast("bigint"))
    val tot = moments.agg(sum(col("wfx")).as("wt"))
    val alloc = moments.crossJoin(broadcast(tot))
      .withColumn("floor_n", expr(s"(wfx * $NeymanBudget) div wt"))
      .withColumn("rem", expr(s"(wfx * $NeymanBudget) % wt"))
    val short = alloc.agg((lit(NeymanBudget) - sum(col("floor_n"))).as("short"))
    alloc.crossJoin(broadcast(short))
      .withColumn("rrank", row_number().over(
        Window.orderBy(col("rem").desc, col("event_type").asc)).cast("long"))
      .select(col("event_type"), col("n_h"),
        col("wfx").as("sigma_scaled_x100"),
        (col("floor_n") + when(col("rrank") <= col("short"), 1L).otherwise(0L))
          .as("n_alloc"))
  }

  val neymanAllocationOracle: String = s"""
    WITH m AS (
      SELECT event_type, COUNT(*) AS n_h,
        CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx,
        CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
          * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sx2
      FROM events GROUP BY 1),
    wts AS (
      SELECT event_type, n_h,
        CAST(FLOOR(SQRT(CAST(CAST(n_h AS HUGEINT) * sx2
          - CAST(sx AS HUGEINT) * sx AS DOUBLE)) * 100.0 + 0.5)
          AS BIGINT) AS wfx
      FROM m),
    t AS (SELECT CAST(SUM(wfx) AS BIGINT) AS wt FROM wts),
    alloc AS (
      SELECT event_type, n_h, wfx,
        (wfx * $NeymanBudget) // wt AS floor_n,
        (wfx * $NeymanBudget) % wt AS rem
      FROM wts CROSS JOIN t),
    s AS (SELECT $NeymanBudget - CAST(SUM(floor_n) AS BIGINT) AS short FROM alloc)
    SELECT event_type, n_h, wfx AS sigma_scaled_x100,
      floor_n + CASE WHEN CAST(ROW_NUMBER() OVER (ORDER BY rem DESC,
        event_type ASC) AS BIGINT) <= short THEN 1 ELSE 0 END AS n_alloc
    FROM alloc CROSS JOIN s"""

  /** Mann-Whitney U between the two largest sources' length
    * distributions, reported as the AUC effect size (U ÷ n1·n2 = the
    * probability a random source-1 doc is longer than a random source-2
    * doc — the ranking-quality number ML readers know): [[ksStatistic]]
    * answers "are they different?", this answers "by how much, in which
    * direction". Tie-averaged ranks stay INTEGER by working in DOUBLED
    * rank units (avg rank over a tie cell = cum_before + (c+1)/2, so
    * 2·avgrank = 2·cum_before + c + 1 exactly); U follows from the
    * doubled rank sum, AUC_ppm by integer floor division. Same
    * support-cell shape as KS: one aggregate + one cumulative window,
    * the corpus never sorts.
    */
  def mannWhitneyAuc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val top2 = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("source").asc).limit(2)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("source").asc)))
    // checkpointed for the same reason as ksStatistic's cells: Ranks'
    // triple read would otherwise re-scan documents (and re-derive
    // top2) three times over.
    val cells = graft.functions.Iterate.checkpoint(
      docs.join(broadcast(top2), Seq("source"))
        .groupBy(col("n_chars"))
        .agg(sum(when(col("rank") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("rank") === 2, 1L).otherwise(0L)).as("c2"))
        .withColumn("c", col("c1") + col("c2")),
      Some("rank over the 2-row post-LIMIT top-2 source frame"))
    // same domain-bounded shape as ksStatistic's CDF: the exclusive
    // cumulative runs over ≤ max-doc-length support cells at any corpus
    // size, so a single bounded window over the checkpointed cells is
    // the scalable plan (PlanSpec's allowlist documents the bound)
    val wLen = Window.orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("cum_before", coalesce(sum(col("c")).over(wLen), lit(0L)))
      // doubled tie-averaged rank for every member of this cell
      .withColumn("r2", lit(2L) * col("cum_before") + col("c") + 1L)
    val agg = ranked.agg(
      sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
      sum(col("c1") * col("r2")).as("r1_x2"))
    agg.select(col("n1"), col("n2"),
      // U1 = R1 − n1(n1+1)/2; doubled: U1·2 = R1·2 − n1·(n1+1)
      (col("r1_x2") - col("n1") * (col("n1") + 1)).as("u1_x2"))
      .withColumn("u2_x2", expr("2 * n1 * n2 - u1_x2"))
      .withColumn("auc_ppm", expr("(u1_x2 * 500000) div (n1 * n2)"))
      .select(col("n1"), col("n2"), col("u1_x2"), col("u2_x2"), col("auc_ppm"))
  }

  val mannWhitneyAucOracle: String = """
    WITH top2 AS (
      SELECT source, n, ROW_NUMBER() OVER (ORDER BY n DESC, source ASC) AS rank
      FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
      ORDER BY n DESC, source ASC LIMIT 2),
    cells AS (
      SELECT n_chars,
        CAST(SUM(CASE WHEN rank = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        CAST(SUM(CASE WHEN rank = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM documents d JOIN top2 t ON d.source = t.source
      GROUP BY 1),
    ranked AS (
      SELECT c1, c2,
        2 * COALESCE(CAST(SUM(c1 + c2) OVER (ORDER BY n_chars ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          + (c1 + c2) + 1 AS r2
      FROM cells),
    a AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        CAST(SUM(c1 * r2) AS BIGINT) AS r1_x2
      FROM ranked)
    SELECT n1, n2,
      r1_x2 - n1 * (n1 + 1) AS u1_x2,
      2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS u2_x2,
      ((r1_x2 - n1 * (n1 + 1)) * 500000) // (n1 * n2) AS auc_ppm
    FROM a"""

  /** Chi-square test of independence for nation × market segment — the
    * categorical-association audit (is segment mix uniform across
    * nations, or does the dimensional model hide a correlation?): the
    * statistic Σ (o·N − r·c)² ÷ (N·r·c) is computed with INTEGER
    * cross-multiplied numerators and each cell's term fixed-pointed
    * (×1e4 → BIGINT) before the cross-row sum — the neyman treatment:
    * only per-cell arithmetic touches doubles, every Σ is integer.
    * Output is the scaled statistic, the degrees of freedom, and the
    * decision against the df-appropriate 5% critical value (a literal,
    * like the Benford expectation table). One aggregate to the
    * (nation, segment) contingency cells; margins broadcast back.
    */
  def chiSquareIndependence(spark: SparkSession, dir: String): DataFrame = {
    val cellsDf = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("o"))
    val rowM = cellsDf.groupBy(col("nationkey")).agg(sum(col("o")).as("r"))
    val colM = cellsDf.groupBy(col("seg")).agg(sum(col("o")).as("cm"))
    val n = cellsDf.agg(sum(col("o")).as("nn"))
    val terms = cellsDf
      .join(Tables.stateHint(rowM), Seq("nationkey"))
      .join(Tables.stateHint(colM), Seq("seg"))
      .crossJoin(broadcast(n))
      .withColumn("num", col("o") * col("nn") - col("r") * col("cm"))
      .withColumn("term_fx",
        floor(col("num").cast("double") * col("num").cast("double")
          / (col("nn").cast("double") * col("r").cast("double")
            * col("cm").cast("double")) * lit(1.0e4)).cast("bigint"))
    terms.agg(
        sum(col("term_fx")).as("chi2_x10000"),
        count(lit(1)).as("n_cells"),
        countDistinct(col("nationkey")).as("n_rows_dim"),
        countDistinct(col("seg")).as("n_cols_dim"),
        max(col("nn")).as("nn"))
      .select(col("chi2_x10000"),
        ((col("n_rows_dim") - 1) * (col("n_cols_dim") - 1)).as("dof"),
        // 5% critical value for df = 96 (25×5 grid) = 119.871, ×1e4;
        // emitted as data so the decision recomputes under any grid
        (col("chi2_x10000") > lit(1198710L)).as("reject_independence_5pct"),
        // Cramér's V effect size: sqrt(χ² / (N·min(r−1, c−1))), from the
        // already-fixed-point statistic — one IEEE sqrt of a
        // deterministic ratio
        floor(sqrt(col("chi2_x10000").cast("double") / lit(1.0e4)
          / (col("nn").cast("double")
            * least(col("n_rows_dim") - 1, col("n_cols_dim") - 1).cast("double")))
          * lit(1.0e4) + lit(0.5)).cast("bigint").as("cramers_v_x10000"))
  }

  /** Per-cell ADJUSTED standardized residuals for the same nation ×
    * market-segment contingency grid as [[chiSquareIndependence]] —
    * the WHICH companion to its one-number verdict (χ² says the grid
    * is dependent; the residual table says which cells carry it, the
    * thing an analyst actually acts on): rᵢⱼ = (O−E) / √(E·(1−r/N)·
    * (1−c/N)) is asymptotically N(0,1) under independence, so cells
    * past ±1.959964 are the 5% drivers. All margins exact BIGINT; each
    * residual is a fixed-order double expression on its own cell row
    * (no cross-row float fold anywhere), reported half-up ×1e4.
    * Degenerate margins (a row or column that IS the whole table, E =
    * 0 impossible here since cells exist only where O > 0 but guarded
    * anyway) report NULL. Scale: the grid is |nations|×|segments| —
    * metadata — after one corpus-scale aggregate; margins ride
    * state-hinted joins like chi²'s.
    */
  def chi2Residuals(spark: SparkSession, dir: String): DataFrame = {
    val cellsDf = Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"),
        col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("o"))
    val rowM = cellsDf.groupBy(col("nationkey")).agg(sum(col("o")).as("r"))
    val colM = cellsDf.groupBy(col("seg")).agg(sum(col("o")).as("cm"))
    val n = cellsDf.agg(sum(col("o")).as("nn"))
    def d(name: String) = col(name).cast("double")
    val e = d("r") * d("cm") / d("nn")
    val den = sqrt(e * (lit(1.0) - d("r") / d("nn"))
      * (lit(1.0) - d("cm") / d("nn")))
    val resid = (d("o") - e) / den
    cellsDf
      .join(Tables.stateHint(rowM), Seq("nationkey"))
      .join(Tables.stateHint(colM), Seq("seg"))
      .crossJoin(broadcast(n))
      .select(col("nationkey"), col("seg"), col("o"),
        floor(e * lit(100.0) + lit(0.5)).cast("bigint").as("expected_x100"),
        when(col("r") < col("nn") && col("cm") < col("nn"),
          floor(resid * lit(1.0e4) + lit(0.5)).cast("bigint"))
          .as("adj_resid_x1e4"),
        when(col("r") < col("nn") && col("cm") < col("nn"),
          when(resid > lit(1.959964) || resid < lit(-1.959964), 1L)
            .otherwise(0L))
          .as("driver_5pct"))
  }

  val chi2ResidualsOracle: String = """
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS seg,
        COUNT(*) AS o
      FROM customer GROUP BY 1, 2),
    rm AS (SELECT nationkey, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    cm AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS cmv FROM cells GROUP BY 1),
    nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
    f AS (
      SELECT c.nationkey, c.seg, c.o, rm.r, cm.cmv, nn.nn,
        CAST(r AS DOUBLE) * CAST(cmv AS DOUBLE) / CAST(nn AS DOUBLE) AS e
      FROM cells c JOIN rm ON c.nationkey = rm.nationkey
      JOIN cm ON c.seg = cm.seg CROSS JOIN nn),
    g AS (
      SELECT nationkey, seg, o, r, cmv, nn, e,
        (CAST(o AS DOUBLE) - e)
          / SQRT(e * (1.0 - CAST(r AS DOUBLE) / CAST(nn AS DOUBLE))
            * (1.0 - CAST(cmv AS DOUBLE) / CAST(nn AS DOUBLE))) AS resid
      FROM f)
    SELECT nationkey, seg, o,
      CAST(FLOOR(e * 100.0 + 0.5) AS BIGINT) AS expected_x100,
      CASE WHEN r < nn AND cmv < nn
        THEN CAST(FLOOR(resid * 1.0e4 + 0.5) AS BIGINT) END AS adj_resid_x1e4,
      CASE WHEN r < nn AND cmv < nn
        THEN CASE WHEN resid > 1.959964 OR resid < -1.959964
          THEN 1 ELSE 0 END END AS driver_5pct
    FROM g"""

  val chiSquareIndependenceOracle: String = """
    WITH cells AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment AS seg,
        COUNT(*) AS o
      FROM customer GROUP BY 1, 2),
    rm AS (SELECT nationkey, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY 1),
    cm AS (SELECT seg, CAST(SUM(o) AS BIGINT) AS cmv FROM cells GROUP BY 1),
    nn AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM cells),
    terms AS (
      SELECT CAST(FLOOR(
        CAST(o * nn - r * cmv AS DOUBLE) * CAST(o * nn - r * cmv AS DOUBLE)
        / (CAST(nn AS DOUBLE) * CAST(r AS DOUBLE) * CAST(cmv AS DOUBLE))
        * 1.0e4) AS BIGINT) AS term_fx,
        c.nationkey, c.seg, nn.nn AS nnv
      FROM cells c JOIN rm ON c.nationkey = rm.nationkey
      JOIN cm ON c.seg = cm.seg CROSS JOIN nn)
    SELECT CAST(SUM(term_fx) AS BIGINT) AS chi2_x10000,
      (COUNT(DISTINCT nationkey) - 1) * (COUNT(DISTINCT seg) - 1) AS dof,
      (CAST(SUM(term_fx) AS BIGINT) > 1198710) AS reject_independence_5pct,
      CAST(FLOOR(SQRT(CAST(CAST(SUM(term_fx) AS BIGINT) AS DOUBLE) / 1.0e4
        / (CAST(MAX(nnv) AS DOUBLE)
          * CAST(LEAST(COUNT(DISTINCT nationkey) - 1,
            COUNT(DISTINCT seg) - 1) AS DOUBLE)))
        * 1.0e4 + 0.5) AS BIGINT) AS cramers_v_x10000
    FROM terms"""

  /** Spearman rank correlation between order value and order width
    * (lineitem count) — the monotone-association audit that survives
    * the heavy-tailed money distribution Pearson chokes on (do bigger
    * baskets actually cost more, RANK-wise?). Ranks are row_number with
    * the orderkey tiebreak — a total order, so both engines rank
    * identically with no tie-averaging — computed WITHOUT a global
    * window: each rank is the exact two-level cell form
    * ([[graft.functions.Ranks.withGlobalRank]]) — value cells from the
    * broadcast [min, max] span (1024 range buckets, monotone by
    * construction) for the money axis, the width value itself for the
    * ≤7-value width axis — so the corpus rank-parallelizes while both
    * engines still agree rank-for-rank.
    *
    * ρ = 1 − 6Σd²/(n³−n): Σd² is an exact BIGINT fold (exact to
    * n ≈ 3.0e6, since Σd² ≤ (n³−n)/3 — past that the fold itself moves
    * to DECIMAL(38), the gini headroom discipline); the ppm uses a
    * DOUBLE quotient (floor'd — IEEE ops, identical both engines) with
    * the n³−n denominator formed in BIGINT while it fits (n ≤ 2.09e6)
    * and in DOUBLE past that — all-double is still engine-deterministic,
    * and the former ÷1e6-first integer fallback silently WRAPPED
    * (6·Σd² ≈ n³ > 2⁶³ right where the branch engaged). Degenerate
    * n < 2 reports NULL (ρ undefined), never a fake 0.
    *
    * Degradation contract (the SURVEY row's declared "bucketed rfm-cell
    * approximation past that", now real instead of fail-loud): when the
    * session's rank-cell budget `spark.graft.maxRankCells` sits below
    * the exact path's [[SpearmanValueCells]] value cells — the proxy
    * for "this corpus cannot afford the exact rank at the configured
    * budget" — the query dispatches to the bucketed midrank form
    * ([[spearmanCorrBucketed]]'s core at the budget's bucket count)
    * instead of dying at [[graft.functions.Ranks]]' capPairs assert.
    * The fallback keeps the (n, sum_d2, rho_ppm) schema but reports
    * `sum_d2` NULL: under midrank ties ρ is the Pearson-on-midranks
    * form and the 6Σd²/(n³−n) decomposition no longer holds, so a
    * "Σd²" would be a fabricated number. R15OpsSpec pins both the
    * engagement (cap 256 → no throw, NULL sum_d2, ρ equal to the
    * 256-bucket core) and the default path's exactness.
    */
  def spearmanCorr(spark: SparkSession, dir: String): DataFrame = {
    val cap = graft.functions.Ranks.cellCap(spark)
    if (cap < SpearmanValueCells)
      return spearmanBucketedCore(spark, dir, cap)
        .select(col("n"), lit(null).cast("bigint").as("sum_d2"),
          col("rho_ppm"))
    val joined = spearmanBase(spark, dir)
    val bounds = joined.agg(min(col("cents")).as("__cmin"),
      max(col("cents")).as("__cmax"))
    val ranksV = graft.functions.Ranks.withGlobalRank(
        joined.select(col("l_orderkey"), col("cents"))
          .crossJoin(broadcast(bounds)), "r_value",
        expr(s"((cents - __cmin) * $SpearmanValueCells) " +
          "div (__cmax - __cmin + 1)"),
        Seq(col("cents").asc, col("l_orderkey").asc))
      .select(col("l_orderkey"), col("r_value"))
    val ranksW = graft.functions.Ranks.withGlobalRank(
        joined.select(col("l_orderkey"), col("n_lines")), "r_width",
        col("n_lines"),
        Seq(col("n_lines").asc, col("l_orderkey").asc))
      .select(col("l_orderkey"), col("r_width"))
    val ranked = ranksV.join(ranksW, Seq("l_orderkey"))
    ranked.agg(count(lit(1)).as("n"),
        sum((col("r_value") - col("r_width")) * (col("r_value") - col("r_width")))
          .as("sum_d2"))
      .select(col("n"), col("sum_d2"),
        when(col("n") < 2, lit(null).cast("bigint"))
          .when(col("n") <= 2000000L, lit(1000000L) - expr(
            "cast(floor((cast(6 as double) * cast(sum_d2 as double) " +
              "* cast(1000000 as double)) / cast(n * (n * n - 1) as double)) " +
              "as bigint)"))
          .otherwise(lit(1000000L) - expr(
            "cast(floor((cast(6 as double) * cast(sum_d2 as double)) " +
              "/ (cast(n as double) * cast(n as double) * cast(n as double) " +
              "- cast(n as double)) * cast(1000000 as double)) as bigint)"))
          .as("rho_ppm"))
  }

  val spearmanCorrOracle: String = """
    WITH width AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderkey AS k,
        CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents, w.n_lines
      FROM orders o JOIN width w ON o.o_orderkey = w.l_orderkey),
    ranked AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY cents ASC, k ASC) AS BIGINT)
          AS r_value,
        CAST(ROW_NUMBER() OVER (ORDER BY n_lines ASC, k ASC) AS BIGINT)
          AS r_width
      FROM j),
    f AS (
      SELECT COUNT(*) AS n,
        CAST(SUM((r_value - r_width) * (r_value - r_width)) AS BIGINT) AS sum_d2
      FROM ranked)
    SELECT n, sum_d2,
      CASE WHEN n < 2 THEN NULL
        WHEN n <= 2000000 THEN 1000000
          - CAST(FLOOR((CAST(6 AS DOUBLE) * CAST(sum_d2 AS DOUBLE)
              * CAST(1000000 AS DOUBLE))
            / CAST(n * (n * n - 1) AS DOUBLE)) AS BIGINT)
        ELSE 1000000
          - CAST(FLOOR((CAST(6 AS DOUBLE) * CAST(sum_d2 AS DOUBLE))
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
              - CAST(n AS DOUBLE)) * CAST(1000000 AS DOUBLE)) AS BIGINT) END
        AS rho_ppm
    FROM f"""

  /** The exact path's value-axis cell count — also the dispatch
    * threshold for the bucketed fallback (see [[spearmanCorr]] doc).
    */
  private[graft] val SpearmanValueCells = 1024

  /** The (orderkey, cents, n_lines) base both Spearman forms rank over,
    * checkpointed ONCE (three longs per order — the hilbert curve-key
    * treatment): each consumer reads it for a histogram plus a window
    * or joint aggregate, and re-deriving it would re-run the lineitem
    * width aggregate per consumer — a doubled corpus scan at 100 TB.
    */
  private def spearmanBase(spark: SparkSession, dir: String): DataFrame = {
    val width = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    graft.functions.Iterate.checkpoint(
      Tables.orders(spark, dir)
        .select(col("o_orderkey").as("l_orderkey"),
          floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint").as("cents"))
        .join(width, Seq("l_orderkey")))
  }

  /** Bucketed-midrank Spearman core shared by [[spearmanCorrBucketed]]
    * (at the standard 1024 value buckets) and [[spearmanCorr]]'s
    * past-the-cap fallback (at the configured budget). Semantics: every
    * row takes its bucket's MIDRANK (the tie-averaged rank all members
    * of the bucket share) and ρ is Pearson over the midranks — the
    * standard tie-aware Spearman form, which at one-row-per-bucket
    * degenerates to the exact statistic. Midranks are held in half-units
    * (2·R = 2·base + count + 1, always an integer) so the whole pipeline
    * stays integral until the single terminal DOUBLE ratio.
    *
    * Scale shape — the reason this form survives any corpus size: the
    * corpus is read ONCE into the (value-bucket × width) JOINT histogram
    * (≤ buckets·7 cells, map-side partial aggregate, metadata-scale
    * shuffle); the per-axis histograms, midranks (triangular exclusive
    * prefix — the [[graft.functions.Ranks]] discipline, no unpartitioned
    * window) and all five moment sums then ride that bounded frame.
    * There is NO row-level rank join and NO corpus sort anywhere —
    * where the exact path pays two partitioned corpus sorts, this pays
    * one groupBy. Moments accumulate in DECIMAL(38,0)/HUGEINT
    * (c·x·y ≤ 4n³ and n·Sxy ≤ 4n⁴ — exact to n ≈ 2.2e9, the gini
    * headroom discipline), and the only roundings are the terminal
    * DECIMAL→DOUBLE casts + IEEE sqrt/divide, identical in both
    * engines (the corpus_divergence parity precedent).
    */
  private def spearmanBucketedCore(
      spark: SparkSession, dir: String, buckets: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    require(buckets >= 1, s"spearmanBucketedCore: buckets=$buckets")
    val joined = spearmanBase(spark, dir)
    val bounds = joined.agg(min(col("cents")).as("__cmin"),
      max(col("cents")).as("__cmax"))
    // the ONE corpus pass: joint (value-bucket, width) histogram —
    // checkpointed because three consumers (two axis histograms + the
    // moment aggregate) would otherwise re-run the corpus groupBy each
    val joint = graft.functions.Iterate.checkpoint(
      joined.crossJoin(broadcast(bounds))
        .withColumn("vb",
          expr(s"((cents - __cmin) * $buckets) div (__cmax - __cmin + 1)"))
        .groupBy(col("vb"), col("n_lines").as("wb"))
        .agg(count(lit(1)).as("c")))
    // per-axis histograms and 2×-midranks via the triangular exclusive
    // prefix (bounded: ≤ buckets² metadata pairs; no WindowExec with an
    // empty partition spec)
    def midranks(hist: DataFrame, k: String, cnt: String, out: String) = {
      val lower = hist.select(col(k).as("__lo_k"), col(cnt).as("__lo_c"))
      hist.join(lower, col("__lo_k") < col(k), "left")
        .groupBy(col(k), col(cnt))
        .agg(coalesce(sum(col("__lo_c")), lit(0L)).as("__base"))
        .select(col(k),
          (lit(2L) * col("__base") + col(cnt) + lit(1L)).as(out))
    }
    val hv = joint.groupBy(col("vb")).agg(sum(col("c")).as("cv"))
    val hw = joint.groupBy(col("wb")).agg(sum(col("c")).as("cw"))
    val mv = midranks(hv, "vb", "cv", "x2")
    val mw = midranks(hw, "wb", "cw", "y2")
    val cells = hv.agg(count(lit(1)).as("value_cells"))
      .crossJoin(hw.agg(count(lit(1)).as("width_cells")))
    val m = joint
      .join(broadcast(mv), Seq("vb")).join(broadcast(mw), Seq("wb"))
      .agg(sum(col("c")).as("n"),
        sum(dec(col("c")) * dec(col("x2"))).as("sx"),
        sum(dec(col("c")) * dec(col("y2"))).as("sy"),
        sum(dec(col("c")) * dec(col("x2")) * dec(col("x2"))).as("sxx"),
        sum(dec(col("c")) * dec(col("y2")) * dec(col("y2"))).as("syy"),
        sum(dec(col("c")) * dec(col("x2")) * dec(col("y2"))).as("sxy"))
    m.crossJoin(broadcast(cells))
      .withColumn("num", dec(col("n")) * col("sxy") - col("sx") * col("sy"))
      .withColumn("dx", dec(col("n")) * col("sxx") - col("sx") * col("sx"))
      .withColumn("dy", dec(col("n")) * col("syy") - col("sy") * col("sy"))
      .select(col("n"), col("value_cells"), col("width_cells"),
        when(col("n") < 2 || col("dx") <= 0 || col("dy") <= 0,
            lit(null).cast("bigint"))
          .otherwise(floor(col("num").cast("double")
            / sqrt(col("dx").cast("double"))
            / sqrt(col("dy").cast("double"))
            * lit(1000000.0)).cast("bigint"))
          .as("rho_ppm"))
  }

  /** Spearman via bucketed MIDRANKS — the registered face of the scale
    * fallback [[spearmanCorr]] degrades to past its rank-cell budget
    * (SURVEY §2 spearman row's "bucketed rfm-cell approximation past
    * that", previously a declared-but-unregistered claim). 1024 value
    * buckets from the broadcast [min, max] span × the natural ≤7-value
    * width axis; see [[spearmanBucketedCore]] for the semantics and the
    * one-corpus-pass shape. Reports the population (n), the realized
    * cell counts on both axes (the approximation's resolution — a user
    * reads value_cells ≪ 1024 as "the span is quantized, ρ is coarse"),
    * and ρ in ppm. A degenerate axis (all orders one width) reports
    * NULL, never a fake 0 — the [[spearmanCorr]] convention.
    */
  def spearmanCorrBucketed(spark: SparkSession, dir: String): DataFrame =
    spearmanBucketedCore(spark, dir, SpearmanValueCells)

  val spearmanCorrBucketedOracle: String = s"""
    WITH width AS (
      SELECT l_orderkey, COUNT(*) AS n_lines FROM lineitem GROUP BY 1),
    j AS MATERIALIZED (
      SELECT o.o_orderkey AS k,
        CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents, w.n_lines
      FROM orders o JOIN width w ON o.o_orderkey = w.l_orderkey),
    b AS (SELECT MIN(cents) AS cmin, MAX(cents) AS cmax FROM j),
    joint AS MATERIALIZED (
      SELECT ((cents - cmin) * $SpearmanValueCells) // (cmax - cmin + 1)
          AS vb,
        n_lines AS wb, COUNT(*) AS c
      FROM j CROSS JOIN b GROUP BY 1, 2),
    hv AS MATERIALIZED (
      SELECT vb, CAST(SUM(c) AS BIGINT) AS cv FROM joint GROUP BY 1),
    hw AS MATERIALIZED (
      SELECT wb, CAST(SUM(c) AS BIGINT) AS cw FROM joint GROUP BY 1),
    mv AS (
      SELECT vb, 2 * COALESCE(SUM(cv) OVER (ORDER BY vb
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cv + 1
        AS x2
      FROM hv),
    mw AS (
      SELECT wb, 2 * COALESCE(SUM(cw) OVER (ORDER BY wb
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + cw + 1
        AS y2
      FROM hw),
    m AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
        SUM(CAST(c AS HUGEINT) * CAST(x2 AS HUGEINT)) AS sx,
        SUM(CAST(c AS HUGEINT) * CAST(y2 AS HUGEINT)) AS sy,
        SUM(CAST(c AS HUGEINT) * CAST(x2 AS HUGEINT) * CAST(x2 AS HUGEINT))
          AS sxx,
        SUM(CAST(c AS HUGEINT) * CAST(y2 AS HUGEINT) * CAST(y2 AS HUGEINT))
          AS syy,
        SUM(CAST(c AS HUGEINT) * CAST(x2 AS HUGEINT) * CAST(y2 AS HUGEINT))
          AS sxy
      FROM joint JOIN mv USING (vb) JOIN mw USING (wb)),
    cells AS (
      SELECT (SELECT COUNT(*) FROM hv) AS value_cells,
        (SELECT COUNT(*) FROM hw) AS width_cells),
    f AS (
      SELECT n, value_cells, width_cells,
        CAST(n AS HUGEINT) * sxy - sx * sy AS num,
        CAST(n AS HUGEINT) * sxx - sx * sx AS dx,
        CAST(n AS HUGEINT) * syy - sy * sy AS dy
      FROM m CROSS JOIN cells)
    SELECT n, value_cells, width_cells,
      CASE WHEN n < 2 OR dx <= 0 OR dy <= 0 THEN NULL
        ELSE CAST(FLOOR(CAST(num AS DOUBLE) / SQRT(CAST(dx AS DOUBLE))
          / SQRT(CAST(dy AS DOUBLE)) * 1000000.0) AS BIGINT) END
        AS rho_ppm
    FROM f"""

  /** Kendall's τ-b between order value and order priority — the
    * tie-robust ordinal-association companion to [[spearmanCorr]]
    * (Spearman needs a total order and breaks ties by key; priority is
    * a 5-level ordinal where almost EVERY pair ties on one axis, which
    * is exactly the regime τ-b's tie-corrected denominator is for).
    * Concordance is counted WITHOUT the O(n²) pair join: per
    * (cents, priority-class) histogram cells, a pair is concordant iff
    * one doc has strictly smaller cents AND strictly smaller priority,
    * so C = Σ_cells Σ_k n_k · Σ_{k'<k} p_k' where p_k' is the
    * exclusive cents-prefix count of class k' — five integer prefix
    * sums riding [[graft.functions.Ranks.withBucketedExclusivePrefix]]
    * (1024 span buckets, never an unpartitioned window). D mirrors with
    * k' > k; ties are closed-form from cell and class totals. All
    * counts BIGINT-exact (C ≤ N²/2: exact to N ≈ 4.2e9, past that the
    * fold moves to DECIMAL(38) — the gini headroom discipline); τ-b
    * itself is the one double expression 2(C−D)·1e6 ÷ (√(2n0−2Tx) ·
    * √(2n0−2Ty)), IEEE-identical in both engines, NULL when an axis is
    * fully tied. The corpus never sorts — only its distinct-cents
    * histogram does, bucket-partitioned.
    */
  def kendallTauB(spark: SparkSession, dir: String): DataFrame = {
    val ks = 1 to 5
    val base = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint")
        .as("cents"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("prio"))
    // checkpointed: Ranks reads its input three times (documented
    // contract) and the cells' lineage is a full orders scan
    val cells = graft.functions.Iterate.checkpoint(
      base.groupBy(col("cents"))
        .agg(sum(when(col("prio") === ks.head, 1L).otherwise(0L)).as("n1"),
          ks.tail.map(k =>
            sum(when(col("prio") === k, 1L).otherwise(0L)).as(s"n$k")): _*))
    val prefixed = graft.functions.Ranks.withBucketedExclusivePrefix(
      cells, col("cents"), ascending = true, 1024,
      ks.map(k => col(s"n$k") -> s"p$k"))
    def below(k: Int) = (1 until k).map(j => col(s"p$j"))
      .foldLeft(lit(0L).cast("bigint"))(_ + _)
    def above(k: Int) = ((k + 1) to 5).map(j => col(s"p$j"))
      .foldLeft(lit(0L).cast("bigint"))(_ + _)
    val conc = ks.map(k => col(s"n$k") * below(k)).reduce(_ + _)
    val disc = ks.map(k => col(s"n$k") * above(k)).reduce(_ + _)
    val nc = ks.map(k => col(s"n$k")).reduce(_ + _)
    val aggCols =
      Seq(sum(conc).as("n_concordant"), sum(disc).as("n_discordant"),
        sum(nc * (nc - 1)).as("tied_x_x2")) ++
        ks.map(k => sum(col(s"n$k")).as(s"t$k"))
    val a = prefixed.agg(sum(nc).as("n"), aggCols: _*)
    val tiedY = ks.map(k => col(s"t$k") * (col(s"t$k") - 1)).reduce(_ + _)
    a.withColumn("tied_y_x2", tiedY)
      .withColumn("ax2", col("n") * (col("n") - 1) - col("tied_x_x2"))
      .withColumn("bx2", col("n") * (col("n") - 1) - col("tied_y_x2"))
      .select(col("n"), col("n_concordant"), col("n_discordant"),
        col("tied_x_x2"), col("tied_y_x2"),
        when(col("ax2") === 0 || col("bx2") === 0, lit(null).cast("bigint"))
          .otherwise(floor(
            lit(2.0) * (col("n_concordant") - col("n_discordant")).cast("double")
              * lit(1000000.0)
              / (sqrt(col("ax2").cast("double")) * sqrt(col("bx2").cast("double"))))
            .cast("bigint"))
          .as("tau_b_ppm"))
  }

  val kendallTauBOracle: String = {
    val ks = 1 to 5
    val nCols = ks.map(k =>
      s"CAST(SUM(CASE WHEN prio = $k THEN 1 ELSE 0 END) AS BIGINT) AS n$k")
      .mkString(",\n        ")
    val pCols = ks.map(k =>
      s"COALESCE(CAST(SUM(n$k) OVER w AS BIGINT), 0) AS p$k")
      .mkString(",\n        ")
    val ncSql = ks.map(k => s"n$k").mkString(" + ")
    val concSql = ks.map(k =>
      s"n$k * (${(1 until k).map(j => s"p$j").padTo(1, "0").mkString(" + ")})")
      .mkString(" + ")
    val discSql = ks.map(k =>
      s"n$k * (${((k + 1) to 5).map(j => s"p$j").padTo(1, "0").mkString(" + ")})")
      .mkString(" + ")
    val tCols = ks.map(k => s"CAST(SUM(n$k) AS BIGINT) AS t$k")
      .mkString(",\n        ")
    val tiedY = ks.map(k => s"t$k * (t$k - 1)").mkString(" + ")
    s"""
    WITH base AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        CAST(SUBSTRING(o_orderpriority, 1, 1) AS INTEGER) AS prio
      FROM orders),
    cells AS (
      SELECT cents,
        $nCols
      FROM base GROUP BY 1),
    pre AS (
      SELECT cents, n1, n2, n3, n4, n5,
        $pCols
      FROM cells
      WINDOW w AS (ORDER BY cents ASC
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    a AS (
      SELECT CAST(SUM($ncSql) AS BIGINT) AS n,
        CAST(SUM($concSql) AS BIGINT) AS n_concordant,
        CAST(SUM($discSql) AS BIGINT) AS n_discordant,
        CAST(SUM(($ncSql) * (($ncSql) - 1)) AS BIGINT) AS tied_x_x2,
        $tCols
      FROM pre),
    b AS (
      SELECT n, n_concordant, n_discordant, tied_x_x2,
        $tiedY AS tied_y_x2,
        n * (n - 1) - tied_x_x2 AS ax2,
        n * (n - 1) - ($tiedY) AS bx2
      FROM a)
    SELECT n, n_concordant, n_discordant, tied_x_x2, tied_y_x2,
      CASE WHEN ax2 = 0 OR bx2 = 0 THEN NULL
        ELSE CAST(FLOOR(
          2.0 * CAST(n_concordant - n_discordant AS DOUBLE) * 1000000.0
          / (SQRT(CAST(ax2 AS DOUBLE)) * SQRT(CAST(bx2 AS DOUBLE))))
          AS BIGINT) END AS tau_b_ppm
    FROM b"""
  }

  /** χ²(df) 5% critical values ×1e6 for df = 1..20 — the standard
    * published table as literals (the Benford/chi-square treatment: a
    * runtime quantile function would not be cross-engine-identical).
    */
  private[operators] val Chi2Crit5PctX1e6: Seq[Long] = Seq(
    3841459L, 5991465L, 7814728L, 9487729L, 11070498L,
    12591587L, 14067140L, 15507313L, 16918978L, 18307038L,
    19675138L, 21026070L, 22362032L, 23684791L, 24995790L,
    26296228L, 27587112L, 28869299L, 30143527L, 31410433L)

  /** Kruskal-Wallis H across ALL sources' document-length distributions
    * — the k-sample extension of [[mannWhitneyAuc]] (MW answers "do the
    * top TWO sources differ?"; this answers "does ANY source differ?"
    * before anyone runs k² pairwise tests). Same support-cell shape as
    * KS/MW: tie-averaged ranks stay integer in DOUBLED units (r2 =
    * 2·cum_before + c + 1 per distinct-length cell), per-source doubled
    * rank sums are exact BIGINT folds, and H = 3/(N(N+1))·ΣR2ᵢ²/nᵢ −
    * 3(N+1) is assembled from PER-SOURCE fixed-pointed terms (each
    * term ×1e6 floor'd to BIGINT before the cross-source sum — the
    * neyman/chi² discipline; ≤k µ-units of floor bias, documented).
    * The tie correction 1 − Σ(t³−t)/(N³−N) reports its numerator
    * exactly (BIGINT — exact while the largest tie cell stays ≤ 2e6
    * docs; past that the fold moves to DECIMAL(38)) and divides in
    * DOUBLE. The 5% decision reads the literal χ² table at df = k−1
    * (NULL past df = 20). The corpus never sorts — the one cumulative
    * window runs over ≤max-doc-length distinct-length cells (PlanSpec
    * allowlist, the ks_statistic bound).
    */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // checkpointed: both the rank frame and the tie/total fold read the
    // cells, and their lineage is a full documents scan
    val cellsTot = graft.functions.Iterate.checkpoint(
      docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c")))
    val wLen = Window.orderBy(col("n_chars").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = cellsTot
      .withColumn("cum_before", coalesce(sum(col("c")).over(wLen), lit(0L)))
      .withColumn("r2", lit(2L) * col("cum_before") + col("c") + 1L)
      .select(col("n_chars"), col("r2"))
    val perSrc = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("ci"))
      .join(Tables.stateHint(r2), Seq("n_chars"))
      .groupBy(col("source"))
      .agg(sum(col("ci")).as("n_i"), sum(col("ci") * col("r2")).as("r2_i"))
    val totals = cellsTot.agg(sum(col("c")).as("n_total"),
      sum(col("c") * (col("c") * col("c") - 1)).as("tie_num"))
    val terms = perSrc.crossJoin(broadcast(totals))
      .withColumn("term_fx", floor(
        lit(3.0) * col("r2_i").cast("double") * col("r2_i").cast("double")
          * lit(1.0e6)
          / (col("n_i").cast("double") * col("n_total").cast("double")
            * (col("n_total") + 1).cast("double"))).cast("bigint"))
    val folded = terms.agg(max(col("n_total")).as("n_total"),
      count(lit(1)).as("k_groups"), sum(col("term_fx")).as("sum_term_fx"),
      max(col("tie_num")).as("tie_num"))
      .withColumn("h_x1e6",
        col("sum_term_fx") - lit(3000000L) * (col("n_total") + 1))
    val nd = col("n_total").cast("double")
    val denomA = nd * nd * nd - nd
    val denomB = denomA - col("tie_num").cast("double")
    val crit = Chi2Crit5PctX1e6.zipWithIndex.foldLeft(
      lit(null).cast("bigint")) { case (acc, (v, i)) =>
      when(col("k_groups") - 1 === (i + 1), lit(v)).otherwise(acc)
    }
    folded.select(col("n_total"), col("k_groups"), col("h_x1e6"),
      col("tie_num"),
      when(col("tie_num").cast("double") === denomA,
        lit(null).cast("bigint"))
        .otherwise(floor(col("h_x1e6").cast("double") * denomA / denomB)
          .cast("bigint"))
        .as("h_corrected_x1e6"),
      when(crit.isNull, lit(null).cast("boolean"))
        .when(col("tie_num").cast("double") === denomA,
          lit(null).cast("boolean"))
        .otherwise(floor(col("h_x1e6").cast("double") * denomA / denomB)
          .cast("bigint") > crit)
        .as("reject_h0_5pct"))
  }

  val kruskalWallisOracle: String = {
    val critCase = Chi2Crit5PctX1e6.zipWithIndex
      .map { case (v, i) => s"WHEN k_groups - 1 = ${i + 1} THEN $v" }
      .mkString("\n        ")
    s"""
    WITH cells AS (
      SELECT n_chars, COUNT(*) AS c FROM documents GROUP BY 1),
    r2f AS (
      SELECT n_chars,
        2 * COALESCE(CAST(SUM(c) OVER (ORDER BY n_chars ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
          + c + 1 AS r2
      FROM cells),
    persrc AS (
      SELECT source, CAST(SUM(ci) AS BIGINT) AS n_i,
        CAST(SUM(ci * r2) AS BIGINT) AS r2_i
      FROM (SELECT source, n_chars, COUNT(*) AS ci
            FROM documents GROUP BY 1, 2) s
      JOIN r2f USING (n_chars)
      GROUP BY 1),
    tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_total,
        CAST(SUM(c * (c * c - 1)) AS BIGINT) AS tie_num
      FROM cells),
    terms AS (
      SELECT CAST(FLOOR(
          3.0 * CAST(r2_i AS DOUBLE) * CAST(r2_i AS DOUBLE) * 1.0e6
          / (CAST(n_i AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total + 1 AS DOUBLE))) AS BIGINT) AS term_fx,
        n_total, tie_num
      FROM persrc CROSS JOIN tot),
    f AS (
      SELECT MAX(n_total) AS n_total, COUNT(*) AS k_groups,
        CAST(SUM(term_fx) AS BIGINT) - 3000000 * (MAX(n_total) + 1)
          AS h_x1e6,
        MAX(tie_num) AS tie_num
      FROM terms)
    SELECT n_total, k_groups, h_x1e6, tie_num,
      CASE WHEN CAST(tie_num AS DOUBLE) =
          CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE) THEN NULL
        ELSE CAST(FLOOR(CAST(h_x1e6 AS DOUBLE)
          * (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))
          / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)
            - CAST(tie_num AS DOUBLE))) AS BIGINT) END
        AS h_corrected_x1e6,
      CASE WHEN CAST(tie_num AS DOUBLE) =
          CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE) THEN NULL
        ELSE CASE
        $critCase
        ELSE NULL END <
          CAST(FLOOR(CAST(h_x1e6 AS DOUBLE)
          * (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE))
          / (CAST(n_total AS DOUBLE) * CAST(n_total AS DOUBLE)
            * CAST(n_total AS DOUBLE) - CAST(n_total AS DOUBLE)
            - CAST(tie_num AS DOUBLE))) AS BIGINT) END
        AS reject_h0_5pct
    FROM f"""
  }

  private val NsPerDay = 86400L * 1000 * 1000 * 1000

  /** Cochran–Armitage trend test: does the purchase share TREND across
    * the week (ordinal day-of-week scores 1..7), rather than merely
    * vary ([[chiSquareIndependence]]'s question)? The one-df trend
    * decomposition is the right test when the grouping is ORDERED —
    * it concentrates the power a plain χ² smears over k−1 df. Weekday
    * from the dow_seasonality integer epoch arithmetic ((epoch_day+4)
    * mod 7 — no calendar functions, engines cannot disagree on
    * locale). All five inner sums are exact BIGINT (Σw·r ≤ 7N, Σw²·n
    * ≤ 49N); the trend numerator N·Σwr − R·Σwn is BIGINT-exact to
    * N ≈ 1.1e9 (7N² < 2⁶³ — past that the fold moves to DECIMAL(38),
    * the gini discipline); Z² itself is one fixed-order DOUBLE
    * expression over those integers (exact casts, identical rounding
    * both engines), floor-fixed-pointed ×1e6, decided against the
    * df=1 entry of the literal χ² table. One map-side-combinable
    * aggregate to 7 cells; everything after is a single row.
    */
  def cochranArmitage(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.events(spark, dir).select(
      (((expr(s"ts div $NsPerDay") + 4) % 7) + 1).as("w"),
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("s"))
    val g = base.groupBy(col("w"))
      .agg(count(lit(1)).as("n_i"), sum(col("s")).as("r_i"))
    val f = g.agg(sum(col("n_i")).as("nn"), sum(col("r_i")).as("rr"),
      sum(col("w") * col("r_i")).as("swr"),
      sum(col("w") * col("n_i")).as("swn"),
      sum(col("w") * col("w") * col("n_i")).as("sw2n"))
    val numD = (col("nn") * col("swr") - col("rr") * col("swn")).cast("double")
    val varD = col("nn").cast("double") * col("sw2n").cast("double") -
      col("swn").cast("double") * col("swn").cast("double")
    val z2x = floor(col("nn").cast("double") * numD * numD
      / (col("rr").cast("double") * (col("nn") - col("rr")).cast("double")
        * varD) * lit(1.0e6)).cast("bigint")
    f.select(col("nn").as("n_total"), col("rr").as("n_success"),
      (col("nn") * col("swr") - col("rr") * col("swn")).as("trend_num"),
      when(col("rr") === 0 || col("rr") === col("nn") || varD === 0.0,
        lit(null).cast("bigint")).otherwise(z2x).as("z2_x1e6"),
      when(col("rr") === 0 || col("rr") === col("nn") || varD === 0.0,
        lit(null).cast("boolean"))
        .otherwise(z2x > lit(Chi2Crit5PctX1e6.head))
        .as("reject_h0_5pct"))
  }

  val cochranArmitageOracle: String = s"""
    WITH base AS (
      SELECT ((EPOCH_NS(ts) // $NsPerDay + 4) % 7) + 1 AS w,
        CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS s
      FROM events),
    g AS (
      SELECT w, COUNT(*) AS n_i, CAST(SUM(s) AS BIGINT) AS r_i
      FROM base GROUP BY 1),
    f AS (
      SELECT CAST(SUM(n_i) AS BIGINT) AS nn, CAST(SUM(r_i) AS BIGINT) AS rr,
        CAST(SUM(w * r_i) AS BIGINT) AS swr,
        CAST(SUM(w * n_i) AS BIGINT) AS swn,
        CAST(SUM(w * w * n_i) AS BIGINT) AS sw2n
      FROM g),
    z AS (
      SELECT nn, rr, nn * swr - rr * swn AS trend_num,
        CAST(nn AS DOUBLE) * CAST(sw2n AS DOUBLE)
          - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE) AS var_d,
        CAST(FLOOR(CAST(nn AS DOUBLE)
          * CAST(nn * swr - rr * swn AS DOUBLE)
          * CAST(nn * swr - rr * swn AS DOUBLE)
          / (CAST(rr AS DOUBLE) * CAST(nn - rr AS DOUBLE)
            * (CAST(nn AS DOUBLE) * CAST(sw2n AS DOUBLE)
              - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)))
          * 1.0e6) AS BIGINT) AS z2x
      FROM f)
    SELECT nn AS n_total, rr AS n_success, trend_num,
      CASE WHEN rr = 0 OR rr = nn OR var_d = 0.0 THEN NULL
        ELSE z2x END AS z2_x1e6,
      CASE WHEN rr = 0 OR rr = nn OR var_d = 0.0 THEN NULL
        ELSE z2x > ${Chi2Crit5PctX1e6.head} END AS reject_h0_5pct
    FROM z"""

  /** Mann–Kendall trend test over the daily event-count series — the
    * significance companion to theilsen_trend (Theil–Sen answers "what
    * slope?"; MK answers "is there a monotone trend at all?", with no
    * distributional assumption and the same outlier robustness): S =
    * Σ sign(n_j − n_i) over all day pairs, the tie-corrected variance
    * Var(S) = [N(N−1)(2N+5) − Σt(t−1)(2t+5)]/18, and the
    * continuity-corrected Z = (S∓1)/√Var — S, N, and both variance
    * numerators exact BIGINT (days ≤ 1e5 keeps N(N−1)(2N+5) < 1e16),
    * Z one fixed-order double expression (IEEE sqrt/divide), decided
    * two-sided against the literal 1.959964. The pair expansion runs
    * on the CALENDAR-bounded daily aggregate (the theilsen_trend
    * discipline — the corpus itself never pairs), checkpointed because
    * both pair sides and the tie census read it.
    */
  def mannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = graft.functions.Iterate.checkpoint(
      Tables.events(spark, dir)
        .select(expr(s"ts div $NsPerDay").as("day_ord"))
        .groupBy(col("day_ord")).agg(count(lit(1)).as("n")))
    val pairs = daily.as("a")
      .join(broadcast(daily.as("b")), col("a.day_ord") < col("b.day_ord"))
      .select(when(col("b.n") > col("a.n"), 1L)
        .when(col("b.n") < col("a.n"), -1L).otherwise(0L).as("sgn"))
    val sAgg = pairs.agg(sum(col("sgn")).as("s_stat"))
    val ties = daily.groupBy(col("n")).agg(count(lit(1)).as("t"))
      .agg(sum(col("t") * (col("t") - 1) * (lit(2L) * col("t") + 5))
        .as("tie_num"), sum(col("t")).as("n_days"))
    val f = sAgg.crossJoin(broadcast(ties))
      .withColumn("var_num",
        col("n_days") * (col("n_days") - 1) * (lit(2L) * col("n_days") + 5)
          - col("tie_num"))
    val zD = (when(col("s_stat") > 0, (col("s_stat") - 1).cast("double"))
      .when(col("s_stat") < 0, (col("s_stat") + 1).cast("double"))
      .otherwise(lit(0.0))) / sqrt(col("var_num").cast("double") / lit(18.0))
    f.select(col("n_days"), col("s_stat"), col("tie_num"),
      when(col("var_num") === 0, lit(null).cast("bigint"))
        .otherwise(floor(zD * lit(1.0e6)).cast("bigint")).as("z_x1e6"),
      when(col("var_num") === 0, lit(null).cast("boolean"))
        .otherwise(zD > lit(1.959964) || zD < lit(-1.959964))
        .as("reject_h0_5pct"))
  }

  val mannKendallOracle: String = {
    val zSql = """(CASE WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE)
          WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE)
          ELSE 0.0 END / SQRT(CAST(var_num AS DOUBLE) / 18.0))"""
    s"""
    WITH daily AS (
      SELECT EPOCH_NS(ts) // $NsPerDay AS day_ord, COUNT(*) AS n
      FROM events GROUP BY 1),
    p AS (
      SELECT CASE WHEN b.n > a.n THEN 1 WHEN b.n < a.n THEN -1 ELSE 0 END
        AS sgn
      FROM daily a JOIN daily b ON a.day_ord < b.day_ord),
    s AS (SELECT CAST(SUM(sgn) AS BIGINT) AS s_stat FROM p),
    t AS (
      SELECT CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_num,
        CAST(SUM(t) AS BIGINT) AS n_days
      FROM (SELECT n, COUNT(*) AS t FROM daily GROUP BY 1)),
    f AS (
      SELECT s_stat, tie_num, n_days,
        n_days * (n_days - 1) * (2 * n_days + 5) - tie_num AS var_num
      FROM s CROSS JOIN t)
    SELECT n_days, s_stat, tie_num,
      CASE WHEN var_num = 0 THEN NULL
        ELSE CAST(FLOOR($zSql * 1.0e6) AS BIGINT) END AS z_x1e6,
      CASE WHEN var_num = 0 THEN NULL
        ELSE $zSql > 1.959964 OR $zSql < -1.959964 END AS reject_h0_5pct
    FROM f"""
  }

  /** Welch's unequal-variance t-test between the two largest sources'
    * document lengths — the parametric companion to [[mannWhitneyAuc]]
    * over the SAME two groups (MW compares whole distributions
    * rank-wise; Welch asks specifically whether the MEANS differ, and
    * does not assume equal variances — the realistic case for corpus
    * sources, where a web crawl and a books dump never share a length
    * variance). Everything reduces to six exact per-source moments in
    * ONE aggregate over the broadcast-gated top-2 subset: n BIGINT,
    * Σx BIGINT, Σx² DECIMAL(38,0) (HUGEINT in the oracle — the
    * [[Retrieval.olsTrend]] headroom treatment, since Σlen² passes 2⁶³
    * long before 100 TB). Means, Welch variances, t and the
    * Welch–Satterthwaite df are then fixed-order DOUBLE expressions
    * over those exact integers on a one-row frame (each IEEE op is
    * correctly rounded, so both engines produce the identical bits);
    * t and df are reported floor'd ×1e6, means as half-up centi-chars.
    * The 5% decision is two-sided against the literal z 1.959964,
    * valid as the t→z limit — gated on df ≥ 30 and reported NULL below
    * it (never a silently-wrong small-sample call). Degenerate frames
    * (a single qualifying source, n < 2, or zero pooled variance)
    * report NULL stats rather than fake zeros.
    */
  def welchTtest(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val docs = Tables.documents(spark, dir)
    val top2 = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("source").asc).limit(2)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("n").desc, col("source").asc)))
    val m = docs
      .join(broadcast(top2.select(col("source"), col("rank"))), Seq("source"))
      .groupBy(col("rank"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"),
        sum(dec(col("n_chars")) * dec(col("n_chars"))).as("q"))
    val p = m.agg(
      max(when(col("rank") === 1, col("n"))).as("n1"),
      max(when(col("rank") === 2, col("n"))).as("n2"),
      max(when(col("rank") === 1, col("s"))).as("s1"),
      max(when(col("rank") === 2, col("s"))).as("s2"),
      max(when(col("rank") === 1, col("q"))).as("q1"),
      max(when(col("rank") === 2, col("q"))).as("q2"))
    def d(name: String) = col(name).cast("double")
    val ok = col("n1").isNotNull && col("n2").isNotNull &&
      col("n1") > 1 && col("n2") > 1
    val m1 = d("s1") / d("n1")
    val m2 = d("s2") / d("n2")
    val v1 = (d("q1") - d("s1") * d("s1") / d("n1")) /
      (col("n1") - 1).cast("double")
    val v2 = (d("q2") - d("s2") * d("s2") / d("n2")) /
      (col("n2") - 1).cast("double")
    val a = v1 / d("n1")
    val b = v2 / d("n2")
    val t = (m1 - m2) / sqrt(a + b)
    val dfDen = a * a / (col("n1") - 1).cast("double") +
      b * b / (col("n2") - 1).cast("double")
    val df = (a + b) * (a + b) / dfDen
    p.select(col("n1"), col("n2"),
      when(ok, floor(m1 * lit(100.0) + lit(0.5)).cast("bigint"))
        .as("mean1_x100"),
      when(ok, floor(m2 * lit(100.0) + lit(0.5)).cast("bigint"))
        .as("mean2_x100"),
      when(ok && a + b > 0.0, floor(t * lit(1.0e6)).cast("bigint"))
        .as("t_x1e6"),
      when(ok && dfDen > 0.0, floor(df * lit(1.0e6)).cast("bigint"))
        .as("df_x1e6"),
      // BIGINT 1/0, NULL when the z-limit gate fails: a boolean here
      // would be all-NULL at small SFs, and a NULL bool round-trips as
      // None (Spark) vs NaN (DuckDB) in the driver's pandas compare —
      // the int path degrades to float64 NaN identically on both sides
      when(ok && a + b > 0.0 && dfDen > 0.0 && df >= 30.0,
        when(t > lit(1.959964) || t < lit(-1.959964), 1L).otherwise(0L))
        .otherwise(lit(null).cast("bigint"))
        .as("reject_h0_5pct"))
  }

  val welchTtestOracle: String = """
    WITH top2 AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY n DESC, source ASC) AS rank
      FROM (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1)
      ORDER BY n DESC, source ASC LIMIT 2),
    m AS (
      SELECT rank, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s,
        SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS q
      FROM documents d JOIN top2 t ON d.source = t.source GROUP BY 1),
    p AS (
      SELECT MAX(CASE WHEN rank = 1 THEN n END) AS n1,
        MAX(CASE WHEN rank = 2 THEN n END) AS n2,
        MAX(CASE WHEN rank = 1 THEN s END) AS s1,
        MAX(CASE WHEN rank = 2 THEN s END) AS s2,
        MAX(CASE WHEN rank = 1 THEN q END) AS q1,
        MAX(CASE WHEN rank = 2 THEN q END) AS q2
      FROM m),
    e AS (
      SELECT n1, n2,
        n1 IS NOT NULL AND n2 IS NOT NULL AND n1 > 1 AND n2 > 1 AS ok,
        CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
        CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) AS m2,
        (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
          / CAST(n1 AS DOUBLE)) / CAST(n1 - 1 AS DOUBLE)
          / CAST(n1 AS DOUBLE) AS a,
        (CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)
          / CAST(n2 AS DOUBLE)) / CAST(n2 - 1 AS DOUBLE)
          / CAST(n2 AS DOUBLE) AS b
      FROM p),
    f AS (
      SELECT n1, n2, ok, m1, m2, a, b,
        (m1 - m2) / SQRT(a + b) AS t,
        a * a / CAST(n1 - 1 AS DOUBLE) + b * b / CAST(n2 - 1 AS DOUBLE)
          AS dfden,
        (a + b) * (a + b)
          / (a * a / CAST(n1 - 1 AS DOUBLE) + b * b / CAST(n2 - 1 AS DOUBLE))
          AS df
      FROM e)
    SELECT n1, n2,
      CASE WHEN ok THEN CAST(FLOOR(m1 * 100.0 + 0.5) AS BIGINT) END
        AS mean1_x100,
      CASE WHEN ok THEN CAST(FLOOR(m2 * 100.0 + 0.5) AS BIGINT) END
        AS mean2_x100,
      CASE WHEN ok AND a + b > 0.0
        THEN CAST(FLOOR(t * 1.0e6) AS BIGINT) END AS t_x1e6,
      CASE WHEN ok AND dfden > 0.0
        THEN CAST(FLOOR(df * 1.0e6) AS BIGINT) END AS df_x1e6,
      CASE WHEN ok AND a + b > 0.0 AND dfden > 0.0 AND df >= 30.0
        THEN CASE WHEN t > 1.959964 OR t < -1.959964 THEN 1 ELSE 0 END
        END AS reject_h0_5pct
    FROM f"""

  /** One-way ANOVA F across ALL sources' document lengths — the
    * parametric companion to [[kruskalWallis]] (KW asks "does any
    * source's length DISTRIBUTION differ, rank-wise?"; this asks
    * "does any source's MEAN length differ?", and adds η² — the share
    * of length variance explained by source, the effect-size number a
    * mix designer actually reads). Per-source moments are exact in one
    * aggregate (n BIGINT, Σx BIGINT, Σx² DECIMAL(38,0)/HUGEINT); the
    * between/within sums of squares are assembled from PER-SOURCE
    * fixed-pointed µ-unit terms (floor(1e6·Sᵢ²/nᵢ) and floor(1e6·Σx²ᵢ)
    * as BIGINT before the cross-source sum — the [[kruskalWallis]]
    * discipline, ≤k µ-units of floor bias, so the fold is
    * order-independent and shuffle-width-invariant), and F / η² are
    * fixed-order doubles over those integers. The 5% decision uses the
    * F(df₁,∞) = χ²(df₁)/df₁ limit against the literal table — gated on
    * n−k ≥ 1000 residual df and NULL below it or past df₁ = 20; the
    * comparison (k−1)·f_x1e6 > crit differs from the unfloored product
    * by < k−1 µ, documented. Zero within-variance frames report NULL.
    */
  def anovaOneway(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val docs = Tables.documents(spark, dir)
    val grp = docs.groupBy(col("source"))
      .agg(count(lit(1)).as("n_i"), sum(col("n_chars")).as("s_i"),
        sum(dec(col("n_chars")) * dec(col("n_chars"))).as("q_i"))
    val terms = grp.select(
      col("n_i"),
      floor(lit(1.0e6) * col("s_i").cast("double") * col("s_i").cast("double")
        / col("n_i").cast("double")).cast("bigint").as("term_fx"),
      floor(lit(1.0e6) * col("q_i").cast("double")).cast("bigint").as("q_fx"),
      dec(col("s_i")).as("s_dec"))
    val f = terms.agg(count(lit(1)).as("k_groups"),
      sum(col("n_i")).as("n_total"), sum(col("s_dec")).as("s_all"),
      sum(col("term_fx")).as("sum_term_fx"), sum(col("q_fx")).as("sum_q_fx"))
      .withColumn("gfx", floor(lit(1.0e6)
        * col("s_all").cast("double") * col("s_all").cast("double")
        / col("n_total").cast("double")).cast("bigint"))
      .withColumn("ssb_fx", col("sum_term_fx") - col("gfx"))
      .withColumn("ssw_fx", col("sum_q_fx") - col("sum_term_fx"))
    val ok = col("k_groups") > 1 && col("n_total") > col("k_groups") &&
      col("ssw_fx") > 0
    val fStat = col("ssb_fx").cast("double") /
      (col("k_groups") - 1).cast("double") /
      (col("ssw_fx").cast("double") /
        (col("n_total") - col("k_groups")).cast("double"))
    val crit = Chi2Crit5PctX1e6.zipWithIndex.foldLeft(
      lit(null).cast("bigint")) { case (acc, (v, i)) =>
      when(col("k_groups") - 1 === (i + 1), lit(v)).otherwise(acc)
    }
    f.select(col("n_total"), col("k_groups"), col("ssb_fx"), col("ssw_fx"),
      when(ok, floor(fStat * lit(1.0e6)).cast("bigint")).as("f_x1e6"),
      when(ok && col("ssb_fx") + col("ssw_fx") > 0,
        floor(col("ssb_fx").cast("double") * lit(1.0e6)
          / (col("ssb_fx") + col("ssw_fx")).cast("double")).cast("bigint"))
        .as("eta2_ppm"),
      // BIGINT 1/0/NULL for the same pandas NULL-repr reason as
      // [[welchTtest]]'s decision column
      when(ok && crit.isNotNull &&
        col("n_total") - col("k_groups") >= 1000,
        when((col("k_groups") - 1)
          * floor(fStat * lit(1.0e6)).cast("bigint") > crit, 1L)
          .otherwise(0L))
        .otherwise(lit(null).cast("bigint"))
        .as("reject_h0_5pct"))
  }

  val anovaOnewayOracle: String = {
    val critCase = Chi2Crit5PctX1e6.zipWithIndex
      .map { case (v, i) => s"WHEN k_groups - 1 = ${i + 1} THEN $v" }
      .mkString("\n        ")
    s"""
    WITH grp AS (
      SELECT source, COUNT(*) AS n_i, CAST(SUM(n_chars) AS BIGINT) AS s_i,
        SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS q_i
      FROM documents GROUP BY 1),
    terms AS (
      SELECT n_i,
        CAST(FLOOR(1.0e6 * CAST(s_i AS DOUBLE) * CAST(s_i AS DOUBLE)
          / CAST(n_i AS DOUBLE)) AS BIGINT) AS term_fx,
        CAST(FLOOR(1.0e6 * CAST(q_i AS DOUBLE)) AS BIGINT) AS q_fx,
        CAST(s_i AS HUGEINT) AS s_dec
      FROM grp),
    f AS (
      SELECT COUNT(*) AS k_groups, CAST(SUM(n_i) AS BIGINT) AS n_total,
        SUM(s_dec) AS s_all,
        CAST(SUM(term_fx) AS BIGINT) AS sum_term_fx,
        CAST(SUM(q_fx) AS BIGINT) AS sum_q_fx
      FROM terms),
    g AS (
      SELECT k_groups, n_total, sum_term_fx, sum_q_fx,
        sum_term_fx - CAST(FLOOR(1.0e6
          * CAST(s_all AS DOUBLE) * CAST(s_all AS DOUBLE)
          / CAST(n_total AS DOUBLE)) AS BIGINT) AS ssb_fx,
        sum_q_fx - sum_term_fx AS ssw_fx
      FROM f),
    h AS (
      SELECT n_total, k_groups, ssb_fx, ssw_fx,
        k_groups > 1 AND n_total > k_groups AND ssw_fx > 0 AS ok,
        CAST(ssb_fx AS DOUBLE) / CAST(k_groups - 1 AS DOUBLE)
          / (CAST(ssw_fx AS DOUBLE) / CAST(n_total - k_groups AS DOUBLE))
          AS fstat
      FROM g)
    SELECT n_total, k_groups, ssb_fx, ssw_fx,
      CASE WHEN ok THEN CAST(FLOOR(fstat * 1.0e6) AS BIGINT) END AS f_x1e6,
      CASE WHEN ok AND ssb_fx + ssw_fx > 0
        THEN CAST(FLOOR(CAST(ssb_fx AS DOUBLE) * 1.0e6
          / CAST(ssb_fx + ssw_fx AS DOUBLE)) AS BIGINT) END AS eta2_ppm,
      CASE WHEN ok AND n_total - k_groups >= 1000 AND (CASE
        $critCase
        ELSE NULL END) IS NOT NULL
        THEN CASE WHEN (k_groups - 1) * CAST(FLOOR(fstat * 1.0e6) AS BIGINT)
          > (CASE
        $critCase
        ELSE NULL END) THEN 1 ELSE 0 END END AS reject_h0_5pct
    FROM h"""
  }

  /** Poisson(1) inverse-CDF thresholds in 2²⁴ units (floor of the
    * cumulative mass at k = 0..6) — a uniform 24-bit hash draw below
    * threshold k maps to bootstrap weight k; draws past the last
    * threshold cap at 7 (P < 10⁻⁴ per row, identical truncation both
    * engines so exactness is unaffected).
    */
  private val PoissonThresholds = Seq(6171992L, 12343985L, 15429982L,
    16458647L, 16715813L, 16767247L, 16775819L)
  private val BootB = 64
  /** One md5 is 128 bits = five independent 24-bit windows (hex chars
    * 1-6, 7-12, 13-18, 19-24, 25-30), so the B Poisson draws per row
    * cost ⌈B/5⌉ md5s, not B — the dominant bootstrap cost, cut 5×.
    */
  private val DrawsPerMd5 = 5
  private val BootGroups = (BootB + DrawsPerMd5 - 1) / DrawsPerMd5
  /** Nearest-rank 90% CI positions, derived from B (⌈0.05·B⌉ / ⌈0.95·B⌉)
    * and interpolated into query and oracle alike so changing B cannot
    * silently leave the ranks stale.
    */
  private val CiLoRank = math.ceil(0.05 * BootB).toInt
  private val CiHiRank = math.ceil(0.95 * BootB).toInt

  /** The ×B Poisson(1)-weight explode shared by both bootstrap
    * operators: explode the md5 GROUP index g = 1..⌈B/5⌉, digest once
    * per group into the five 24-bit windows' weights (the compiled
    * [[org.apache.spark.sql.graft.Md5PoissonWindows]] — direct byte
    * slicing, no hex-string allocation, no base-16 conv scans), then
    * posexplode into resample ids b = (g-1)·5 + p + 1, dropping the
    * tail past B. Window p = 0 of group g = 1 is hex chars 1-6 of
    * md5(key:1) — identical to the r12 per-b draw for b = 1, which the
    * driver-side md5 recount spec pins. Adds columns b (resample id)
    * and w (Poisson weight) to every input row.
    */
  private def poissonDraws(df: DataFrame, key: Column): DataFrame = {
    val weights = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.Md5PoissonWindows(
        org.apache.spark.sql.GraftBridge.expression(
          concat(key, lit(":"), col("g").cast("string"))),
        PoissonThresholds, DrawsPerMd5))
    df.select(col("*"), explode(sequence(lit(1), lit(BootGroups))).as("g"))
      .select(col("*"), posexplode(weights).as(Seq("p", "w")))
      .withColumn("b", (col("g") - 1) * DrawsPerMd5 + col("p") + 1)
      .filter(col("b") <= BootB)
      .drop("g", "p")
  }


  /** Distributed bootstrap CI of the mean order value — the POISSON
    * bootstrap (Hanley & MacGibbon 2006; the form used at cluster scale
    * because classical resampling needs global coordinated draws while
    * Poisson(1) weights are a pure per-row function): each of B = 64
    * resamples weights every order by an independent deterministic
    * Poisson(1) draw (inverse CDF over a 24-bit salt-keyed hash — the
    * repo's seedless-determinism idiom, so reruns and both engines
    * agree bit-for-bit), each resample's mean is exact integer
    * millicents, and the 90% CI is nearest-rank over the B resample
    * means at the derived positions [[CiLoRank]]/[[CiHiRank]]
    * (⌈0.05·B⌉ / ⌈0.95·B⌉). The inferential companion to
    * [[welchTtest]]: that tests a difference given normality, this
    * prices the uncertainty of the mean itself with no distributional
    * assumption. Scale: the corpus is scanned once into a ×B narrow
    * (b, weight, cents) explode via [[poissonDraws]] — ⌈B/5⌉ md5s per
    * row, five 24-bit windows each — whose per-b partial aggregation
    * collapses map-side to B rows; the only window ranks the constant
    * B-row resample frame.
    */
  /** The per-resample weighted moments behind [[bootstrapMeanCi]] —
    * public so the spec can reconcile one resample's Poisson weights
    * against a driver-side md5 recount.
    */
  def bootstrapResampleMeans(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    poissonDraws(o, col("o_orderkey").cast("string"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_w"), sum(col("w") * col("cents")).as("s_w"))
      .withColumn("mean_millicents", expr("(s_w * 1000) div n_w"))
  }

  def bootstrapMeanCi(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey"),
      expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
    val perB = bootstrapResampleMeans(spark, dir)
    val ranked = graft.functions.Iterate.checkpoint(
      perB.withColumn("rk", row_number().over(
        Window.orderBy(col("mean_millicents").asc, col("b").asc))),
      Some(s"rank over the constant B=$BootB bootstrap resample frame"))
    val ci = ranked.agg(
      max(when(col("rk") === CiLoRank, col("mean_millicents")))
        .as("ci_lo_millicents"),
      max(when(col("rk") === CiHiRank, col("mean_millicents")))
        .as("ci_hi_millicents"),
      count(lit(1)).as("n_resamples"))
    o.agg(count(lit(1)).as("n_orders"),
        expr("(CAST(SUM(cents) AS BIGINT) * 1000) div COUNT(*)")
          .as("mean_millicents"))
      .crossJoin(broadcast(ci))
  }

  val bootstrapMeanCiOracle: String = {
    val ladder = PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""
    WITH o AS (
      SELECT o_orderkey,
        CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders),
    grp AS (
      SELECT o.cents, g.g,
        MD5(CAST(o.o_orderkey AS VARCHAR) || ':' || CAST(g.g AS VARCHAR)) AS h
      FROM o CROSS JOIN (SELECT UNNEST(RANGE(1, ${BootGroups + 1})) AS g) g),
    rs AS (
      SELECT (g - 1) * $DrawsPerMd5 + p.p + 1 AS b, cents,
        CAST('0x' || SUBSTR(h, p.p * 6 + 1, 6) AS BIGINT) AS u
      FROM grp CROSS JOIN (SELECT UNNEST(RANGE(0, $DrawsPerMd5)) AS p) p
      WHERE (g - 1) * $DrawsPerMd5 + p.p + 1 <= $BootB),
    per AS (
      SELECT b, CAST(SUM(w) AS BIGINT) AS n_w,
        CAST(SUM(w * cents) AS BIGINT) AS s_w
      FROM (SELECT b, cents, $ladder AS w FROM rs)
      GROUP BY 1),
    rk AS (
      SELECT (s_w * 1000) // n_w AS mean_millicents,
        ROW_NUMBER() OVER (ORDER BY (s_w * 1000) // n_w ASC, b ASC) AS rk
      FROM per),
    ci AS (
      SELECT MAX(CASE WHEN rk = $CiLoRank THEN mean_millicents END)
          AS ci_lo_millicents,
        MAX(CASE WHEN rk = $CiHiRank THEN mean_millicents END)
          AS ci_hi_millicents,
        COUNT(*) AS n_resamples
      FROM rk)
    SELECT COUNT(*) AS n_orders,
      (CAST(SUM(cents) AS BIGINT) * 1000) // COUNT(*) AS mean_millicents,
      ci.ci_lo_millicents, ci.ci_hi_millicents, ci.n_resamples
    FROM o CROSS JOIN ci
    GROUP BY 3, 4, 5"""
  }

  /** Poisson-bootstrap 90% CI of the mean-difference on EXACTLY the
    * contrast [[welchTtest]] tests (top-2 sources' document lengths) —
    * the assumption-free twin: Welch assumes approximate normality of
    * the means; the bootstrap prices the same difference from the data
    * alone, and reading the two side by side is the standard
    * robustness check before acting on a significance call. Same
    * machinery as [[bootstrapMeanCi]] ([[poissonDraws]]' B = 64
    * deterministic salt-keyed Poisson(1) weights at ⌈B/5⌉ md5s per doc
    * — a DISTINCT salt, so the two audits' draws are independent),
    * per-resample side means in exact integer milli-chars,
    * nearest-rank CI over the B differences at the derived
    * [[CiLoRank]]/[[CiHiRank]] positions. Scale: one ×B narrow explode
    * of the two sources' docs, collapsing map-side to 2B rows; the
    * only window ranks the constant B-row frame.
    */
  def bootstrapDiffCi(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val top2 = graft.functions.Iterate.checkpoint(
      docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("source").asc).limit(2)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n").desc, col("source").asc))),
      Some("rank over the post-LIMIT 2-row top-source frame"))
    val sides = docs.join(broadcast(top2.select(col("source"), col("rank"))),
      Seq("source"))
    val perB = poissonDraws(
        sides.select(col("doc_id"), col("rank"), col("n_chars")),
        concat(lit("bsd|"), col("doc_id").cast("string")))
      .groupBy(col("b"))
      .agg(
        sum(when(col("rank") === 1, col("w")).otherwise(0L)).as("nw1"),
        sum(when(col("rank") === 1, col("w") * col("n_chars")))
          .as("sw1"),
        sum(when(col("rank") === 2, col("w")).otherwise(0L)).as("nw2"),
        sum(when(col("rank") === 2, col("w") * col("n_chars")))
          .as("sw2"))
      .withColumn("diff_milli",
        expr("(sw1 * 1000) div nw1 - (sw2 * 1000) div nw2"))
    val ranked = graft.functions.Iterate.checkpoint(
      perB.withColumn("rk", row_number().over(
        Window.orderBy(col("diff_milli").asc, col("b").asc))),
      Some(s"rank over the constant B=$BootB bootstrap resample frame"))
    val ci = ranked.agg(
      max(when(col("rk") === CiLoRank, col("diff_milli")))
        .as("ci_lo_millichars"),
      max(when(col("rk") === CiHiRank, col("diff_milli")))
        .as("ci_hi_millichars"),
      count(lit(1)).as("n_resamples"))
    sides.groupBy(col("rank"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("s"))
      .agg(
        max(when(col("rank") === 1, col("n"))).as("n_docs_a"),
        max(when(col("rank") === 2, col("n"))).as("n_docs_b"),
        (max(when(col("rank") === 1, expr("(s * 1000) div n"))) -
          max(when(col("rank") === 2, expr("(s * 1000) div n"))))
          .as("diff_millichars"))
      .crossJoin(broadcast(ci))
  }

  val bootstrapDiffCiOracle: String = {
    val ladder = PoissonThresholds.zipWithIndex
      .map { case (t, k) => s"WHEN u < $t THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")
    s"""
    WITH top2 AS (
      SELECT source, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source ASC)
        AS rank
      FROM documents GROUP BY source
      ORDER BY COUNT(*) DESC, source ASC LIMIT 2),
    sides AS (
      SELECT d.doc_id, t.rank, d.n_chars
      FROM documents d JOIN top2 t ON d.source = t.source),
    grp AS (
      SELECT s.rank, s.n_chars, g.g,
        MD5('bsd|' || CAST(s.doc_id AS VARCHAR) || ':'
          || CAST(g.g AS VARCHAR)) AS h
      FROM sides s
        CROSS JOIN (SELECT UNNEST(RANGE(1, ${BootGroups + 1})) AS g) g),
    rs AS (
      SELECT (g - 1) * $DrawsPerMd5 + p.p + 1 AS b, rank, n_chars,
        CAST('0x' || SUBSTR(h, p.p * 6 + 1, 6) AS BIGINT) AS u
      FROM grp CROSS JOIN (SELECT UNNEST(RANGE(0, $DrawsPerMd5)) AS p) p
      WHERE (g - 1) * $DrawsPerMd5 + p.p + 1 <= $BootB),
    per AS (
      SELECT b,
        CAST(SUM(CASE WHEN rank = 1 THEN w ELSE 0 END) AS BIGINT) AS nw1,
        CAST(SUM(CASE WHEN rank = 1 THEN w * n_chars END) AS BIGINT) AS sw1,
        CAST(SUM(CASE WHEN rank = 2 THEN w ELSE 0 END) AS BIGINT) AS nw2,
        CAST(SUM(CASE WHEN rank = 2 THEN w * n_chars END) AS BIGINT) AS sw2
      FROM (SELECT b, rank, n_chars, $ladder AS w FROM rs)
      GROUP BY 1),
    rk AS (
      SELECT (sw1 * 1000) // nw1 - (sw2 * 1000) // nw2 AS diff_milli,
        ROW_NUMBER() OVER (ORDER BY
          (sw1 * 1000) // nw1 - (sw2 * 1000) // nw2 ASC, b ASC) AS rk
      FROM per),
    ci AS (
      SELECT MAX(CASE WHEN rk = $CiLoRank THEN diff_milli END)
          AS ci_lo_millichars,
        MAX(CASE WHEN rk = $CiHiRank THEN diff_milli END)
          AS ci_hi_millichars,
        COUNT(*) AS n_resamples
      FROM rk),
    pt AS (
      SELECT
        MAX(CASE WHEN rank = 1 THEN n END) AS n_docs_a,
        MAX(CASE WHEN rank = 2 THEN n END) AS n_docs_b,
        MAX(CASE WHEN rank = 1 THEN (s * 1000) // n END)
          - MAX(CASE WHEN rank = 2 THEN (s * 1000) // n END)
          AS diff_millichars
      FROM (
        SELECT rank, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
        FROM sides GROUP BY 1))
    SELECT pt.n_docs_a, pt.n_docs_b, pt.diff_millichars,
      ci.ci_lo_millichars, ci.ci_hi_millichars, ci.n_resamples
    FROM pt CROSS JOIN ci"""
  }

  def defs: Map[String, QueryDef] = Map(
    "bootstrap_diff_ci" ->
      QueryDef.sql(bootstrapDiffCi, bootstrapDiffCiOracle),
    "bootstrap_mean_ci" ->
      QueryDef.sql(bootstrapMeanCi, bootstrapMeanCiOracle),
    "spearman_corr" -> QueryDef.sql(spearmanCorr, spearmanCorrOracle),
    "spearman_corr_bucketed" ->
      QueryDef.sql(spearmanCorrBucketed, spearmanCorrBucketedOracle),
    "welch_ttest" -> QueryDef.sql(welchTtest, welchTtestOracle),
    "anova_oneway" -> QueryDef.sql(anovaOneway, anovaOnewayOracle),
    "kendall_tau_b" -> QueryDef.sql(kendallTauB, kendallTauBOracle),
    "kruskal_wallis" -> QueryDef.sql(kruskalWallis, kruskalWallisOracle),
    "cochran_armitage" -> QueryDef.sql(cochranArmitage, cochranArmitageOracle),
    "mann_kendall" -> QueryDef.sql(mannKendall, mannKendallOracle),
    "mann_whitney_auc" -> QueryDef.sql(mannWhitneyAuc, mannWhitneyAucOracle),
    "chi_square_independence" ->
      QueryDef.sql(chiSquareIndependence, chiSquareIndependenceOracle),
    "chi2_residuals" -> QueryDef.sql(chi2Residuals, chi2ResidualsOracle),
    "ks_statistic" -> QueryDef.sql(ksStatistic, ksStatisticOracle),
    "qq_compare" -> QueryDef.sql(qqCompare, qqCompareOracle),
    "gini_concentration" -> QueryDef.sql(giniConcentration, giniConcentrationOracle),
    "neyman_allocation" -> QueryDef.sql(neymanAllocation, neymanAllocationOracle)
  )
}
