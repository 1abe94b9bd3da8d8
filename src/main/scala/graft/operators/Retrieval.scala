package graft.operators

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-grade ranking and cross-source distribution calibration
  * over the documents corpus (§2.E adjunct), plus robust trend
  * estimation over the sales series — the query-side complement of the
  * curation operators: the same index statistics that drive
  * decontamination (df, dl) power search-style scoring.
  */
object Retrieval {

  private val QueryTerms = Seq("spark", "hash", "merge")
  private val K1 = 1.2
  private val B = 0.75

  /** BM25 top-k retrieval for a fixed query over the documents corpus
    * (Robertson-Spärck Jones, the ranking function behind Lucene/ES) —
    * with the RATIONAL idf variant (N − df + 0.5)/(df + 0.5), no
    * logarithm: the [[TextAnalysis.tfidfTopTerms]] linear-idf treatment
    * (libm log differs across engines in last bits; a rational idf is
    * division-only and portable). All inputs exact integers (tf, df, dl,
    * N); avgdl is one double division of two exact sums.
    *
    * Per-term partial scores are summed in FIXED order (one conditional
    * aggregate per query term, added left-to-right) — never a float SUM
    * across rows, whose order the shuffle would randomize.
    *
    * Scale: the corpus is tokenized ONCE (per-doc tf columns are
    * conditional counts inside the dl aggregate, not a per-term row
    * explosion); the (N, Σdl, df_t) stats row broadcasts back; top-20
    * is a TakeOrdered (per-partition heads, never a global sort).
    */
  /** The BM25-scored hit frame shared by [[bm25Topk]] and [[ndcgEval]]:
    * (doc_id, tf_<term>..., score) for every doc matching ≥1 query
    * term, score rounded to 1e-6 (the cross-engine float discipline).
    * ONE tokenize pass: per-doc row carries dl + one tf column per
    * query term (a 3-term query is 3 conditional counts, not a
    * per-term row explosion). The frame is CHECKPOINTED because both
    * the stats fold and the scoring projection consume it — without
    * materialization each consumer re-runs the tokenize scan (PlanSpec
    * pins this).
    */
  /** One term's BM25 partial score over the scored frame's
    * (tf_t, dl, n_docs, sum_dl, df_t) columns — shared by the full-query
    * scorer and [[mapEval]]'s truncated-query re-scoring so the two
    * cannot desync on the formula.
    */
  private def bm25Partial(t: String): Column = {
    val idf = (col("n_docs").cast("double") - col(s"df_$t").cast("double") + lit(0.5)) /
      (col(s"df_$t").cast("double") + lit(0.5))
    when(col(s"tf_$t") > 0,
      idf * (col(s"tf_$t").cast("double") * lit(K1 + 1.0))
        / (col(s"tf_$t").cast("double")
          + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl").cast("double")
            / (col("sum_dl").cast("double") / col("n_docs").cast("double")))))
      .otherwise(lit(0.0))
  }

  private def bm25ScoredDf(spark: SparkSession, dir: String): DataFrame = {
    val perDoc = graft.functions.Iterate.checkpoint(
      Tables.documents(spark, dir)
        .select(col("doc_id"),
          explode(split(col("text"), "\\s+")).as("term"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("dl"),
          QueryTerms.map(t =>
            sum(when(col("term") === t, 1L).otherwise(0L)).as(s"tf_$t")): _*))
    val statCols = sum(col("dl")).as("sum_dl") +:
      QueryTerms.map(t =>
        sum(when(col(s"tf_$t") > 0, 1L).otherwise(0L)).as(s"df_$t"))
    val stats = perDoc.agg(count(lit(1)).as("n_docs"), statCols: _*)
    perDoc.crossJoin(broadcast(stats))
      .withColumn("score",
        QueryTerms.map(bm25Partial).reduceLeft(_ + _))
      .filter(col("score") > 0.0)
      .withColumn("score",
        floor(col("score") * lit(1.0e6) + lit(0.5)).cast("double") / lit(1.0e6))
  }

  def bm25Topk(spark: SparkSession, dir: String): DataFrame =
    bm25ScoredDf(spark, dir)
      .select(col("doc_id"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(20)

  val bm25TopkOracle: String = {
    val tfCols = QueryTerms.map(t =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(",\n        ")
    val dfCols = QueryTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n        ")
    def partial(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN
        ((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)
          / (CAST(df_$t AS DOUBLE) + 0.5))
        * (CAST(tf_$t AS DOUBLE) * ${K1 + 1.0})
        / (CAST(tf_$t AS DOUBLE)
          + $K1 * ((1.0 - $B) + $B * CAST(dl AS DOUBLE)
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        ELSE CAST(0.0 AS DOUBLE) END"""
    s"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS dl,
        $tfCols
      FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        $dfCols
      FROM perdoc),
    scored AS (
      SELECT doc_id,
        ${QueryTerms.map(partial).mkString("\n        + ")} AS score
      FROM perdoc CROSS JOIN stats)
    SELECT doc_id,
      CAST(FLOOR(score * 1.0e6 + 0.5) AS DOUBLE) / 1.0e6 AS score
    FROM scored WHERE score > 0.0
    ORDER BY score DESC, doc_id ASC LIMIT 20"""
  }

  /** NDCG@k cutoff. */
  private val NdcgK = 10

  /** 1/log2(r+1) discount weights for ranks 1..k — TEN literal doubles,
    * not a runtime log call: `log`/`pow` are not correctly-rounded
    * across engines (the repo's 1-ulp oracle-drift lesson), but a rank
    * cutoff makes the discount table FINITE, and Scala's shortest
    * round-trip Double.toString parses back to the identical double in
    * both engines. Interpolated into query AND oracle from this one
    * sequence so they cannot desync.
    */
  private val DcgW: Seq[Double] =
    (1 to NdcgK).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Ranking-quality evaluation of the engine's own BM25 ranking —
    * NDCG@10 against a deterministic GRADED relevance label (rel = how
    * many distinct query terms the document contains, gain 2^rel − 1:
    * 1/3/7): the eval harness every retrieval stack ships next to its
    * ranker, with the label rule playing the human judgment. One row:
    * graded-corpus composition, DCG@10, ideal DCG@10 (best 10 gains
    * the whole corpus could order), and NDCG in exact ppm.
    *
    * FP discipline: gains are INTEGER and land in per-rank columns via
    * order-independent one-hot sums; both DCG folds are EXPLICIT
    * left-associated 10-term expressions over the literal discount
    * table (never a SUM over rows — cross-row double summation order
    * is engine/partition dependent); the ideal gains derive from the
    * three broadcast rel counts by integer CASE. Every intermediate
    * double is therefore bit-identical across engines.
    *
    * Scale: rides [[bm25ScoredDf]]'s one tokenize pass (checkpointed);
    * the eval itself folds a ≤k-row TakeOrdered frame and three
    * broadcast counts — metadata-scale at any SF. The top-k rank is a
    * post-LIMIT ≤10-row window (PlanSpec allowlist).
    */
  def ndcgEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.functions.Iterate.checkpoint(
      bm25ScoredDf(spark, dir).withColumn("rel",
        QueryTerms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
          .reduceLeft(_ + _)))
    val relCounts = scored.agg(
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n_rel3"),
      sum(when(col("rel") === 2, 1L).otherwise(0L)).as("n_rel2"),
      sum(when(col("rel") === 1, 1L).otherwise(0L)).as("n_rel1"))
    val top = scored
      .orderBy(col("score").desc, col("doc_id").asc).limit(NdcgK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
      .withColumn("gain", when(col("rel") === 3, 7L)
        .when(col("rel") === 2, 3L).otherwise(1L))
    val gRow = top.agg(
      sum(when(col("rank") === 1, col("gain")).otherwise(0L)).as("g_1"),
      (2 to NdcgK).map(r =>
        sum(when(col("rank") === r, col("gain")).otherwise(0L)).as(s"g_$r")): _*)
    val dcg = (1 to NdcgK)
      .map(r => col(s"g_$r").cast("double") * lit(DcgW(r - 1)))
      .reduceLeft(_ + _)
    def idealGain(r: Int) =
      when(lit(r.toLong) <= col("n_rel3"), 7L)
        .when(lit(r.toLong) <= col("n_rel3") + col("n_rel2"), 3L)
        .when(lit(r.toLong) <= col("n_rel3") + col("n_rel2") + col("n_rel1"), 1L)
        .otherwise(0L)
    val idcg = (1 to NdcgK)
      .map(r => idealGain(r).cast("double") * lit(DcgW(r - 1)))
      .reduceLeft(_ + _)
    gRow.crossJoin(broadcast(relCounts))
      .withColumn("dcg", dcg)
      .withColumn("idcg", idcg)
      .select(col("n_rel1"), col("n_rel2"), col("n_rel3"),
        floor(col("dcg") * lit(1.0e6) + lit(0.5)).cast("bigint").as("dcg_x1e6"),
        floor(col("idcg") * lit(1.0e6) + lit(0.5)).cast("bigint").as("idcg_x1e6"),
        when(col("idcg") > 0.0,
          floor(col("dcg") / col("idcg") * lit(1.0e6)).cast("bigint"))
          .as("ndcg_ppm"))
  }

  lazy val ndcgEvalOracle: String = {
    // rebuilt from the same generators as bm25TopkOracle (tf/df/partial
    // are interpolated from QueryTerms/K1/B so the two cannot desync),
    // with the scored CTE additionally carrying the graded rel label
    val tfCols = QueryTerms.map(t =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(",\n        ")
    val dfCols = QueryTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n        ")
    def partial(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN
        ((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)
          / (CAST(df_$t AS DOUBLE) + 0.5))
        * (CAST(tf_$t AS DOUBLE) * ${K1 + 1.0})
        / (CAST(tf_$t AS DOUBLE)
          + $K1 * ((1.0 - $B) + $B * CAST(dl AS DOUBLE)
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        ELSE CAST(0.0 AS DOUBLE) END"""
    val base = s"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS dl,
        $tfCols
      FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        $dfCols
      FROM perdoc),
    scored_rel AS (
      SELECT doc_id,
        ${QueryTerms.map(partial).mkString("\n        + ")} AS score,
        ${QueryTerms.map(t => s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")} AS rel
      FROM perdoc CROSS JOIN stats),"""
    val gCols = (1 to NdcgK).map(r =>
      s"CAST(SUM(CASE WHEN rank = $r THEN gain ELSE 0 END) AS BIGINT) AS g_$r")
      .mkString(",\n        ")
    val dcgSql = (1 to NdcgK)
      .map(r => s"CAST(g_$r AS DOUBLE) * ${DcgW(r - 1)}").mkString("\n        + ")
    val idcgSql = (1 to NdcgK).map(r =>
      s"""CAST(CASE WHEN $r <= n_rel3 THEN 7
           WHEN $r <= n_rel3 + n_rel2 THEN 3
           WHEN $r <= n_rel3 + n_rel2 + n_rel1 THEN 1
           ELSE 0 END AS DOUBLE) * ${DcgW(r - 1)}""").mkString("\n        + ")
    s"""$base
    kept AS (
      SELECT doc_id,
        CAST(FLOOR(score * 1.0e6 + 0.5) AS DOUBLE) / 1.0e6 AS score, rel
      FROM scored_rel WHERE score > 0.0),
    rc AS (
      SELECT CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel3,
        CAST(SUM(CASE WHEN rel = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel2,
        CAST(SUM(CASE WHEN rel = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel1
      FROM kept),
    top AS (
      SELECT CASE WHEN rel = 3 THEN 7 WHEN rel = 2 THEN 3 ELSE 1 END AS gain,
        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM kept ORDER BY score DESC, doc_id ASC LIMIT $NdcgK),
    g AS (
      SELECT $gCols
      FROM top),
    d AS (
      SELECT n_rel1, n_rel2, n_rel3,
        $dcgSql AS dcg,
        $idcgSql AS idcg
      FROM g CROSS JOIN rc)
    SELECT n_rel1, n_rel2, n_rel3,
      CAST(FLOOR(dcg * 1.0e6 + 0.5) AS BIGINT) AS dcg_x1e6,
      CAST(FLOOR(idcg * 1.0e6 + 0.5) AS BIGINT) AS idcg_x1e6,
      CASE WHEN idcg > 0.0
        THEN CAST(FLOOR(dcg / idcg * 1.0e6) AS BIGINT) END AS ndcg_ppm
    FROM d"""
  }

  /** Quantile normalization of per-source document-length distributions
    * onto the GLOBAL distribution — the cross-source calibration step a
    * mixing pipeline applies before length-based quality cuts (a 90th-
    * percentile "long" doc from a short-doc source must not be judged by
    * another source's absolute scale; genomics' between-array
    * normalization applied to corpus curation). Each doc maps to the
    * global value at its within-source percent rank (nearest-rank,
    * row_number total order with doc_id tiebreak — identical rank
    * semantics in both engines; singleton sources pin pr = 0.5).
    *
    * Scale: the per-source rank window partitions by source; the GLOBAL
    * rank is the exact two-level cell form
    * ([[graft.functions.Ranks.withGlobalRank]], cells = 1024 length
    * ranges from the broadcast [min, max] span — bounded regardless of
    * how many distinct lengths the corpus carries) — no single-reducer
    * window anywhere, and the total count rides the plan as a broadcast
    * one-row aggregate instead of an eager `docs.count()` job.
    */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    // Degradation contract (the spearmanCorr discipline — the last
    // withGlobalRank rider without a registered fallback, r14 verdict
    // item 3): when the session's rank-cell budget sits below the exact
    // path's 1024 global value cells, dispatch to the bucketed
    // histogram-CDF form instead of dying at Ranks' capPairs assert.
    // The fallback keeps the exact schema (norm_bucket dropped).
    val cap = graft.functions.Ranks.cellCap(spark)
    if (cap < QuantileNormalizeCells) {
      // Loud, because the registered quantile_normalize oracle is the
      // EXACT SQL: a correctness gate run under a lowered cap would fail
      // the hash compare with no hint that this (contractual) fallback,
      // not a bug, produced the drift. The bucket count is floored at
      // QuantileNormalizeMinBuckets — a cap between 1 and ~|sources|
      // would degenerate every doc to near-identical norm_chars with no
      // signal that the calibration is meaningless.
      val buckets = math.max(cap, QuantileNormalizeMinBuckets)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"quantile_normalize: rank-cell budget $cap < exact path's " +
          s"$QuantileNormalizeCells cells — dispatching to the bucketed " +
          s"approximate form ($buckets buckets); results will NOT match " +
          "the exact-rank oracle")
      return quantileNormalizeBucketedCore(spark, dir, buckets)
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_chars"))
    }
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val tot = docs.agg(count(lit(1)).as("__n_total"))
    val src = docs
      .withColumn("r", row_number().over(Window.partitionBy(col("source"))
        .orderBy(col("n_chars").asc, col("doc_id").asc)))
      .withColumn("n_s", count(lit(1)).over(Window.partitionBy(col("source"))))
      .withColumn("pr",
        when(col("n_s") === 1, lit(0.5))
          .otherwise((col("r") - 1).cast("double") / (col("n_s") - 1).cast("double")))
      .crossJoin(broadcast(tot))
      .withColumn("g_target",
        (floor(col("pr") * (col("__n_total") - 1).cast("double") + lit(0.5))
          + lit(1L)).cast("bigint"))
    val span = docs.agg(min(col("n_chars")).as("__gmin"),
      max(col("n_chars")).as("__gmax"))
    val global = graft.functions.Ranks.withGlobalRank(
        docs.select(col("n_chars").as("g_chars"), col("doc_id").as("g_tie"))
          .crossJoin(broadcast(span)),
        "gr", expr("((g_chars - __gmin) * 1024) div (__gmax - __gmin + 1)"),
        Seq(col("g_chars").asc, col("g_tie").asc))
      .select(col("gr"), col("g_chars"))
    src.join(global, col("g_target") === col("gr"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("g_chars").as("norm_chars"))
  }

  val quantileNormalizeOracle: String = """
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    n AS (SELECT COUNT(*) AS n FROM d),
    src AS (
      SELECT doc_id, source, n_chars,
        ROW_NUMBER() OVER (PARTITION BY source
          ORDER BY n_chars ASC, doc_id ASC) AS r,
        COUNT(*) OVER (PARTITION BY source) AS n_s
      FROM d),
    tgt AS (
      SELECT doc_id, source, n_chars,
        CAST(FLOOR(
          (CASE WHEN n_s = 1 THEN CAST(0.5 AS DOUBLE)
            ELSE CAST(r - 1 AS DOUBLE) / CAST(n_s - 1 AS DOUBLE) END)
          * CAST(n.n - 1 AS DOUBLE) + 0.5) + 1 AS BIGINT) AS g_target
      FROM src CROSS JOIN n),
    global AS (
      SELECT n_chars AS g_chars,
        CAST(ROW_NUMBER() OVER (ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS gr
      FROM d)
    SELECT t.doc_id, t.source, t.n_chars, g.g_chars AS norm_chars
    FROM tgt t JOIN global g ON t.g_target = g.gr"""

  /** The exact path's global value-cell count — also the dispatch
    * threshold for the bucketed fallback (see [[quantileNormalize]]).
    */
  private[graft] val QuantileNormalizeCells = 1024

  /** Floor for the fallback's bucket count: below ~16 buckets the
    * histogram CDF has fewer cells than typical source counts and every
    * doc collapses to a handful of norm_chars values — a meaningless
    * calibration that would LOOK like a result. The fallback clamps up
    * to this rather than honoring a degenerate cap verbatim.
    */
  private[graft] val QuantileNormalizeMinBuckets = 16

  /** Bucketed histogram-CDF core shared by [[quantileNormalizeBucketed]]
    * (at the standard 1024 buckets) and [[quantileNormalize]]'s
    * past-the-cap fallback (at the configured budget). Semantics:
    * [[quantileNormalize]]'s contract with both rank lookups replaced
    * by their bucketed forms — each doc takes its (source, bucket)
    * MIDRANK as its within-source rank (tie-averaged over the bucket,
    * half-unit integers, the spearmanCorrBucketed discipline), and the
    * global inverse CDF resolves the target rank to the containing
    * global bucket's SMALLEST observed value (a real corpus value, like
    * the exact path — never an interpolated synthetic length).
    * Degenerates toward the exact map as buckets approach the distinct
    * value count, up to midrank-vs-row_number tie splitting.
    *
    * Scale shape — why this form survives any corpus size where the
    * exact path fail-louds at the Ranks cell cap: ONE corpus aggregate
    * into the (source × ≤buckets) cell grid (map-side combinable);
    * midranks ride source-partitioned windows over that bounded grid
    * (never an unpartitioned window — the global prefix is a
    * triangular self-join over ≤buckets metadata rows); the doc-level
    * pass joins the broadcast cell grid on (source, bucket) and the
    * broadcast ≤buckets-row inverse-CDF table on a range predicate —
    * each doc probes ≤buckets cells, no corpus sort, no row-level rank
    * join anywhere. All ranks/counts BIGINT; the percent rank is the
    * one double expression, IEEE-identical in both engines.
    */
  private def quantileNormalizeBucketedCore(
      spark: SparkSession, dir: String, buckets: Int): DataFrame = {
    require(buckets >= 1, s"quantileNormalizeBucketedCore: buckets=$buckets")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val span = docs.agg(min(col("n_chars")).as("__gmin"),
      max(col("n_chars")).as("__gmax"))
    def binned = docs.crossJoin(broadcast(span))
      .withColumn("vb",
        expr(s"((n_chars - __gmin) * $buckets) div (__gmax - __gmin + 1)"))
    // the ONE corpus aggregate: (source, bucket) cells with the bucket's
    // observed minimum (the inverse CDF's value representative)
    val cells = graft.functions.Iterate.checkpoint(
      binned.groupBy(col("source"), col("vb"))
        .agg(count(lit(1)).as("c"), min(col("n_chars")).as("vmin")),
      Some("(source, bucket) length cells — bounded by sources × buckets"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("vb").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val srcCells = cells
      .withColumn("__base", coalesce(sum(col("c")).over(bySrc), lit(0L)))
      .withColumn("n_s",
        sum(col("c")).over(Window.partitionBy(col("source"))))
      .select(col("source"), col("vb"),
        (lit(2L) * col("__base") + col("c") + lit(1L)).as("mid2"),
        col("n_s"))
    // global histogram + exclusive prefix: ≤buckets rows, triangular join
    val ghist = cells.groupBy(col("vb").as("g_vb"))
      .agg(sum(col("c")).as("cg"), min(col("vmin")).as("gvmin"))
    val glow = ghist.select(col("g_vb").as("__lo_vb"), col("cg").as("__lo_c"))
    val gpre = ghist.join(glow, col("__lo_vb") < col("g_vb"), "left")
      .groupBy(col("g_vb"), col("cg"), col("gvmin"))
      .agg(coalesce(sum(col("__lo_c")), lit(0L)).as("gbase"))
    val tot = docs.agg(count(lit(1)).as("__n_total"))
    binned
      .join(broadcast(srcCells), Seq("source", "vb"))
      .crossJoin(broadcast(tot))
      .withColumn("pr",
        when(col("n_s") === 1, lit(0.5))
          .otherwise((col("mid2") - 2).cast("double")
            / (lit(2L) * (col("n_s") - 1)).cast("double")))
      .withColumn("g_target",
        (floor(col("pr") * (col("__n_total") - 1).cast("double") + lit(0.5))
          + lit(1L)).cast("bigint"))
      .join(broadcast(gpre),
        col("gbase") < col("g_target")
          && col("g_target") <= col("gbase") + col("cg"))
      .select(col("doc_id"), col("source"), col("n_chars"),
        col("gvmin").as("norm_chars"), col("g_vb").cast("bigint")
          .as("norm_bucket"))
  }

  /** Quantile normalization via bucketed midranks + histogram inverse
    * CDF — the registered face of the scale fallback
    * [[quantileNormalize]] degrades to past its rank-cell budget (the
    * last of the r14 verdict's three withGlobalRank riders to get one:
    * spearman_corr_bucketed landed first, kendall_tau_b was already
    * prefix-bucketed). 1024 global-span buckets; see
    * [[quantileNormalizeBucketedCore]] for semantics and the
    * one-corpus-aggregate shape. Reports each doc's normalized length
    * (the containing global bucket's smallest observed value) plus the
    * bucket id — a user reads coarse `norm_bucket` granularity as "the
    * span is quantized, the calibration is coarse".
    */
  def quantileNormalizeBucketed(spark: SparkSession, dir: String): DataFrame =
    quantileNormalizeBucketedCore(spark, dir, QuantileNormalizeCells)

  val quantileNormalizeBucketedOracle: String = s"""
    WITH d AS (SELECT doc_id, source, n_chars FROM documents),
    span AS (SELECT MIN(n_chars) AS gmin, MAX(n_chars) AS gmax FROM d),
    binned AS MATERIALIZED (
      SELECT doc_id, source, n_chars,
        ((n_chars - gmin) * $QuantileNormalizeCells) // (gmax - gmin + 1)
          AS vb
      FROM d CROSS JOIN span),
    cells AS MATERIALIZED (
      SELECT source, vb, CAST(COUNT(*) AS BIGINT) AS c,
        MIN(n_chars) AS vmin
      FROM binned GROUP BY 1, 2),
    srccells AS (
      SELECT source, vb,
        2 * COALESCE(SUM(c) OVER (PARTITION BY source ORDER BY vb ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + c + 1
          AS mid2,
        SUM(c) OVER (PARTITION BY source) AS n_s
      FROM cells),
    ghist AS MATERIALIZED (
      SELECT vb AS g_vb, CAST(SUM(c) AS BIGINT) AS cg, MIN(vmin) AS gvmin
      FROM cells GROUP BY 1),
    gpre AS (
      SELECT g_vb, cg, gvmin,
        COALESCE(SUM(cg) OVER (ORDER BY g_vb ASC
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gbase
      FROM ghist),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM d),
    tgt AS (
      SELECT b.doc_id, b.source, b.n_chars,
        CAST(FLOOR(
          (CASE WHEN s.n_s = 1 THEN CAST(0.5 AS DOUBLE)
            ELSE CAST(s.mid2 - 2 AS DOUBLE)
              / CAST(2 * (s.n_s - 1) AS DOUBLE) END)
          * CAST(n.n_total - 1 AS DOUBLE) + 0.5) + 1 AS BIGINT) AS g_target
      FROM binned b JOIN srccells s ON b.source = s.source AND b.vb = s.vb
      CROSS JOIN n)
    SELECT t.doc_id, t.source, t.n_chars, g.gvmin AS norm_chars,
      CAST(g.g_vb AS BIGINT) AS norm_bucket
    FROM tgt t
    JOIN gpre g ON g.gbase < t.g_target AND t.g_target <= g.gbase + g.cg"""

  /** Theil–Sen robust trend per nation over the monthly revenue series —
    * the median of pairwise slopes (up to 29% outlier breakdown vs OLS's
    * zero; the trend audit trends_over_time's raw sums feed): monthly
    * exact-cents totals, all C(n,2) pairwise slopes per nation, LOWER
    * median by row_number over the (slope, m1, m2) total order — no
    * interpolation, so no engine-specific median semantics. Slopes are
    * single divisions of exact integers.
    *
    * Scale: the pair expansion runs on the MONTHLY aggregate (per-nation
    * C(#months, 2) ≈ 3.5k rows for a 7-year series — metadata-scale at
    * any corpus size); the corpus shuffles once into the monthly grid.
    */
  /** Exact-cents monthly revenue per nation — the trend family's shared
    * series ([[theilsenTrend]] fits its robust slope, [[olsTrend]] the
    * classical LS line, over the SAME frame so the two fits are
    * comparable point-for-point).
    */
  private def monthlyRevenue(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(broadcast(Tables.customer(spark, dir)
        .select(col("c_custkey").as("o_custkey"), col("c_nationkey"))
        .transform(Tables.dimHint)), Seq("o_custkey"))
      .groupBy(col("c_nationkey").cast("long").as("nationkey"),
        (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
          .cast("long").as("mon"))
      .agg(sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("bigint"))
        .as("cents"))

  def theilsenTrend(spark: SparkSession, dir: String): DataFrame = {
    val monthly = monthlyRevenue(spark, dir)
    val a = monthly.select(col("nationkey"), col("mon").as("m1"), col("cents").as("c1"))
    val b = monthly.select(col("nationkey"), col("mon").as("m2"), col("cents").as("c2"))
    val slopes = a.join(b, Seq("nationkey")).filter(col("m1") < col("m2"))
      .withColumn("slope",
        (col("c2") - col("c1")).cast("double") / (col("m2") - col("m1")).cast("double"))
    val w = Window.partitionBy(col("nationkey"))
      .orderBy(col("slope").asc, col("m1").asc, col("m2").asc)
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("n_pairs", count(lit(1)).over(Window.partitionBy(col("nationkey"))))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("nationkey"), col("n_pairs"),
        (floor(col("slope") * lit(1.0e4) + lit(0.5)).cast("double") / lit(1.0e4))
          .as("median_slope_cents"))
  }

  /** Classical least-squares trend per nation over the shared monthly
    * revenue series — the parametric companion to [[theilsenTrend]]
    * (Theil–Sen is the robust fit; OLS adds the intercept and R², the
    * goodness number that says whether a linear story holds at all —
    * reading both catches the case where outlier months drag OLS off
    * the Theil–Sen line). All five moments are EXACT: x-moments BIGINT
    * (month ordinals are small), y-moments DECIMAL(38,0) (HUGEINT in
    * the oracle — Σcents² passes 2⁶³ long before 100 TB, the
    * corpus_divergence headroom treatment); slope/intercept/R² are
    * fixed-order DOUBLE expressions over those exact integers (a cast
    * of the same integer rounds identically in both engines), slope
    * rounded to 1e-4 like theilsen, intercept to whole cents, R² in
    * floor'd ppm. Degenerate frames report NULL (single month ⇒ no
    * slope; constant revenue ⇒ no R²), never a fake 0. One
    * broadcast-dim join + one months-scale aggregate; nothing after
    * touches more than |nations| rows.
    */
  def olsTrend(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def dec(c: Column) = c.cast(DecimalType(38, 0))
    val m = monthlyRevenue(spark, dir)
      .groupBy(col("nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(col("mon")).as("sx"),
        sum(col("mon") * col("mon")).as("sx2"),
        sum(dec(col("cents"))).as("sy"),
        sum(dec(col("mon")) * dec(col("cents"))).as("sxy"),
        sum(dec(col("cents")) * dec(col("cents"))).as("sy2"))
    val denx = (col("n") * col("sx2") - col("sx") * col("sx")).cast("double")
    val deny = (dec(col("n")) * col("sy2") - col("sy") * col("sy"))
      .cast("double")
    val num = (dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy"))
      .cast("double")
    val slope = num / denx
    val intercept = (col("sy").cast("double") - slope * col("sx").cast("double")) /
      col("n").cast("double")
    val r2 = num * num / (denx * deny)
    m.select(col("nationkey"), col("n").as("n_months"),
      when(col("n") < 2, lit(null).cast("double"))
        .otherwise(floor(slope * lit(1.0e4) + lit(0.5)).cast("double")
          / lit(1.0e4))
        .as("slope_cents"),
      when(col("n") < 2, lit(null).cast("bigint"))
        .otherwise(floor(intercept + lit(0.5)).cast("bigint"))
        .as("intercept_cents"),
      when(col("n") < 2 || deny === 0.0, lit(null).cast("bigint"))
        .otherwise(floor(r2 * lit(1.0e6)).cast("bigint"))
        .as("r2_ppm"))
  }

  val olsTrendOracle: String = """
    WITH monthly AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) * 12
          + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS mon,
        CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
          AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    m AS (
      SELECT nationkey, COUNT(*) AS n,
        CAST(SUM(mon) AS BIGINT) AS sx,
        CAST(SUM(mon * mon) AS BIGINT) AS sx2,
        SUM(CAST(cents AS HUGEINT)) AS sy,
        SUM(CAST(mon AS HUGEINT) * CAST(cents AS HUGEINT)) AS sxy,
        SUM(CAST(cents AS HUGEINT) * CAST(cents AS HUGEINT)) AS sy2
      FROM monthly GROUP BY 1),
    f AS (
      SELECT nationkey, n,
        CAST(n * sx2 - sx * sx AS DOUBLE) AS denx,
        CAST(CAST(n AS HUGEINT) * sy2 - sy * sy AS DOUBLE) AS deny,
        CAST(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS DOUBLE)
          AS num,
        CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
      FROM m)
    SELECT nationkey, n AS n_months,
      CASE WHEN n < 2 THEN NULL
        ELSE CAST(FLOOR((num / denx) * 1.0e4 + 0.5) AS DOUBLE) / 1.0e4 END
        AS slope_cents,
      CASE WHEN n < 2 THEN NULL
        ELSE CAST(FLOOR((syd - (num / denx) * sxd) / CAST(n AS DOUBLE) + 0.5)
          AS BIGINT) END AS intercept_cents,
      CASE WHEN n < 2 OR deny = 0.0 THEN NULL
        ELSE CAST(FLOOR(num * num / (denx * deny) * 1.0e6) AS BIGINT) END
        AS r2_ppm
    FROM f"""

  val theilsenTrendOracle: String = """
    WITH monthly AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        CAST(EXTRACT(YEAR FROM o_orderdate) * 12
          + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT) AS mon,
        CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2),
    slopes AS (
      SELECT a.nationkey,
        CAST(b.cents - a.cents AS DOUBLE) / CAST(b.mon - a.mon AS DOUBLE) AS slope,
        a.mon AS m1, b.mon AS m2
      FROM monthly a JOIN monthly b
        ON a.nationkey = b.nationkey AND a.mon < b.mon),
    ranked AS (
      SELECT nationkey, slope,
        ROW_NUMBER() OVER (PARTITION BY nationkey
          ORDER BY slope ASC, m1 ASC, m2 ASC) AS rn,
        COUNT(*) OVER (PARTITION BY nationkey) AS n_pairs
      FROM slopes)
    SELECT nationkey, n_pairs,
      CAST(FLOOR(slope * 1.0e4 + 0.5) AS DOUBLE) / 1.0e4 AS median_slope_cents
    FROM ranked WHERE rn = (n_pairs + 1) // 2"""

  /** Reciprocal-rank fusion of the LEXICAL and SEMANTIC rankings — the
    * hybrid-search combiner (Cormack et al. 2009, the Elasticsearch/
    * Vespa default): [[bm25Topk]]'s 20 lexical hits fused with the 20
    * nearest embedding neighbors of the query doc (vec 0; vec_id =
    * doc_id is the embedded-corpus contract) by
    * rrf = Σ 1e6 ÷ (60 + rank) — integer floor division per list, two
    * terms added in fixed order, so the fused score is exact BIGINT ppm.
    * Absent ranks report the −1 sentinel and contribute 0.
    *
    * Scale: both input rankings are top-k frames (≤ 20 rows each); the
    * fusion is a full-outer join of two 20-row frames — free at any
    * corpus size, the whole cost is the two underlying retrievals.
    */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame = {
    val lex = bm25Topk(spark, dir)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
          .cast("long").as("rank_lex"))
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val sem = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        graft.functions.VectorOps.cosine(col("qe"), col("embedding")).as("cos"))
      .orderBy(col("cos").desc, col("doc_id").asc).limit(20)
      .select(col("doc_id"),
        row_number().over(Window.orderBy(col("cos").desc, col("doc_id").asc))
          .cast("long").as("rank_sem"))
    lex.join(sem, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_lex"), lit(-1L)).as("rank_lex"),
        coalesce(col("rank_sem"), lit(-1L)).as("rank_sem"),
        (when(col("rank_lex").isNotNull, expr("1000000 div (60 + rank_lex)"))
          .otherwise(0L)
          + when(col("rank_sem").isNotNull, expr("1000000 div (60 + rank_sem)"))
            .otherwise(0L)).as("rrf_ppm"))
      .orderBy(col("rrf_ppm").desc, col("doc_id").asc)
  }

  val rrfFusionOracle: String = s"""
    WITH lexbase AS MATERIALIZED ($bm25TopkOracle),
    lex AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
        AS BIGINT) AS rank_lex
      FROM lexbase),
    q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
    sembase AS (
      SELECT vec_id AS doc_id,
        ${graft.functions.VectorOps.sqlCosine("q.qe", "e.embedding")} AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
      ORDER BY cos DESC, doc_id ASC LIMIT 20),
    sem AS (
      SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC)
        AS BIGINT) AS rank_sem
      FROM sembase)
    SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
      COALESCE(rank_lex, -1) AS rank_lex,
      COALESCE(rank_sem, -1) AS rank_sem,
      (CASE WHEN rank_lex IS NOT NULL THEN 1000000 // (60 + rank_lex) ELSE 0 END
        + CASE WHEN rank_sem IS NOT NULL THEN 1000000 // (60 + rank_sem) ELSE 0 END)
        AS rrf_ppm
    FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
    ORDER BY rrf_ppm DESC, doc_id ASC"""

  /** Contrastive pair mining over the embedding corpus — the triplet
    * builder for metric-learning / retrieval fine-tuning (hard-negative
    * mining à la SBERT/DPR): for each query vector (vec_id < 10), the
    * nearest SAME-label neighbor (the positive) and the nearest
    * DIFFERENT-label neighbor (the hard negative), with the margin in
    * exact ppm of cosine. Selection is two row_number ranks over the
    * (query, same-label?) split with id tiebreaks — no struct-argmax,
    * so the oracle mirrors exactly.
    *
    * Scale: brute-force over the corpus for the bounded query set (the
    * ann_topk baseline shape — broadcast queries, one corpus scan); the
    * production path swaps the scan for AnnIndex bucket probes.
    */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("embedding").as("qe"))
    val scored = broadcast(q)
      .join(e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
        col("embedding").as("ce")), col("query_id") =!= col("cand_id"))
      .select(col("query_id"), col("cand_id"),
        (col("q_label") === col("c_label")).as("same"),
        graft.functions.VectorOps.cosine(col("qe"), col("ce")).as("cos"))
    val w = Window.partitionBy(col("query_id"), col("same"))
      .orderBy(col("cos").desc, col("cand_id").asc)
    val best = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    best.groupBy(col("query_id"))
      .agg(
        max(when(col("same"), col("cand_id"))).as("pos_id"),
        max(when(col("same"), col("cos"))).as("pos_cos"),
        max(when(!col("same"), col("cand_id"))).as("neg_id"),
        max(when(!col("same"), col("cos"))).as("neg_cos"))
      .select(col("query_id"), col("pos_id"),
        (floor(col("pos_cos") * lit(1.0e6) + lit(0.5)).cast("double") / lit(1.0e6))
          .as("pos_cos"),
        col("neg_id"),
        (floor(col("neg_cos") * lit(1.0e6) + lit(0.5)).cast("double") / lit(1.0e6))
          .as("neg_cos"),
        floor((col("pos_cos") - col("neg_cos")) * lit(1.0e6) + lit(0.5))
          .cast("bigint").as("margin_ppm"))
  }

  val contrastivePairsOracle: String = s"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label, embedding AS qe
      FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS cand_id,
        (q.q_label = e.label) AS same,
        ${graft.functions.VectorOps.sqlCosine("q.qe", "e.embedding")} AS cos
      FROM q JOIN embeddings e ON q.query_id <> e.vec_id),
    best AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id, same
          ORDER BY cos DESC, cand_id ASC) AS rn
        FROM scored) WHERE rn = 1)
    SELECT query_id,
      MAX(CASE WHEN same THEN cand_id END) AS pos_id,
      CAST(FLOOR(MAX(CASE WHEN same THEN cos END) * 1.0e6 + 0.5) AS DOUBLE)
        / 1.0e6 AS pos_cos,
      MAX(CASE WHEN NOT same THEN cand_id END) AS neg_id,
      CAST(FLOOR(MAX(CASE WHEN NOT same THEN cos END) * 1.0e6 + 0.5) AS DOUBLE)
        / 1.0e6 AS neg_cos,
      CAST(FLOOR((MAX(CASE WHEN same THEN cos END)
        - MAX(CASE WHEN NOT same THEN cos END)) * 1.0e6 + 0.5) AS BIGINT)
        AS margin_ppm
    FROM best GROUP BY 1"""

  private val SnippetWin = 8

  /** Best-window snippet extraction for the BM25 hits — the result-page
    * presentation step: for each of [[bm25Topk]]'s 20 documents, the
    * 8-token window containing the most query-term occurrences
    * (earliest window on ties), materialized as text. Pure per-row
    * ARRAY arithmetic — token hit flags, windowed sums via slice-fold,
    * first-argmax via array_position — identical higher-order
    * expressions in both engines, no UDF.
    *
    * Scale: the candidate set is the top-k frame, so the text scan is a
    * 20-row broadcast-semi probe of the documents table; the window
    * sweep is O(tokens·8) per hit document only.
    */
  def snippetExtract(spark: SparkSession, dir: String): DataFrame = {
    val hits = bm25Topk(spark, dir).select(col("doc_id"))
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    Tables.documents(spark, dir)
      .join(broadcast(hits), Seq("doc_id"), "left_semi")
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("hits", expr(
        s"transform(toks, t -> CASE WHEN t IN ($inList) THEN 1 ELSE 0 END)"))
      .withColumn("scores", expr(
        s"""transform(sequence(0, greatest(size(toks) - $SnippetWin, 0)),
           |  s -> aggregate(slice(hits, s + 1, $SnippetWin), 0, (a, x) -> a + x))"""
          .stripMargin))
      .withColumn("best_hits", expr("array_max(scores)"))
      .withColumn("best_start",
        expr("cast(array_position(scores, array_max(scores)) - 1 as bigint)"))
      .select(col("doc_id"),
        col("best_start"),
        col("best_hits").cast("long").as("window_hits"),
        expr(s"concat_ws(' ', slice(toks, cast(best_start as int) + 1, $SnippetWin))")
          .as("snippet"))
  }

  val snippetExtractOracle: String = {
    val inList = QueryTerms.map(t => s"'$t'").mkString(", ")
    s"""
    WITH hits20 AS MATERIALIZED ($bm25TopkOracle),
    base AS (
      SELECT d.doc_id, STRING_SPLIT_REGEX(d.text, '\\s+') AS toks
      FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM hits20)),
    flagged AS (
      SELECT doc_id, toks,
        LIST_TRANSFORM(toks, t -> CASE WHEN t IN ($inList) THEN 1 ELSE 0 END)
          AS hits
      FROM base),
    scored AS (
      SELECT doc_id, toks,
        LIST_TRANSFORM(RANGE(0, GREATEST(LEN(toks) - $SnippetWin, 0) + 1),
          s -> LIST_REDUCE(LIST_PREPEND(0, hits[s + 1 : s + $SnippetWin]),
            (a, x) -> a + x)) AS scores
      FROM flagged)
    SELECT doc_id,
      CAST(LIST_POSITION(scores, LIST_REDUCE(scores, (a, x) -> GREATEST(a, x)))
        - 1 AS BIGINT) AS best_start,
      CAST(LIST_REDUCE(scores, (a, x) -> GREATEST(a, x)) AS BIGINT) AS window_hits,
      ARRAY_TO_STRING(toks[
        CAST(LIST_POSITION(scores, LIST_REDUCE(scores, (a, x) -> GREATEST(a, x)))
          AS INT) :
        CAST(LIST_POSITION(scores, LIST_REDUCE(scores, (a, x) -> GREATEST(a, x)))
          + $SnippetWin - 1 AS INT)], ' ') AS snippet
    FROM scored"""
  }

  /** Precision/recall/MRR@10 of the engine's own BM25 ranking — the
    * set-metric companion [[ndcgEval]] ships next to (NDCG grades the
    * ORDER of what ranked; P/R@k grade what made the cut at all, and
    * RR@k how fast the first good hit arrives — the triple every
    * retrieval eval harness reports together). Relevant = rel ≥ 2
    * (document contains ≥2 distinct query terms — the same graded
    * label rule as NDCG, binarized at the grade a human skimmer would
    * accept). ALL-INTEGER: hit counts are conditional sums, P@10 =
    * hits·1e5, R@10 = hits·1e6 div max(n_relevant, 1), RR = 1e6 div
    * first-relevant-rank (0 when no relevant doc makes the top 10) —
    * no float accumulates anywhere.
    *
    * Scale: rides [[bm25ScoredDf]]'s one tokenize pass (checkpointed);
    * the relevant-total is a broadcast one-row aggregate; the top-k
    * rank is a post-LIMIT ≤10-row window (PlanSpec allowlist).
    */
  def retrievalEvalPk(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.functions.Iterate.checkpoint(
      bm25ScoredDf(spark, dir).withColumn("rel",
        QueryTerms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
          .reduceLeft(_ + _)))
    val relTot = scored.agg(
      sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("n_relevant"))
    val top = scored
      .orderBy(col("score").desc, col("doc_id").asc).limit(NdcgK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)))
    val hits = top.agg(
      sum(when(col("rel") >= 2, 1L).otherwise(0L)).as("hits_at_10"),
      min(when(col("rel") >= 2, col("rank"))).as("first_rel_rank"))
    hits.crossJoin(broadcast(relTot)).select(
      col("n_relevant"), col("hits_at_10"),
      (col("hits_at_10") * lit(100000L)).as("p_at_10_ppm"),
      expr("(hits_at_10 * 1000000) div greatest(n_relevant, 1)")
        .as("r_at_10_ppm"),
      coalesce(expr("1000000 div cast(first_rel_rank as bigint)"), lit(0L))
        .as("rr_ppm"))
  }

  /** The truncated query [[mapEval]] ranks by — the first two of the
    * three [[QueryTerms]], playing the under-specified query a real
    * user types while relevance still demands the FULL information
    * need.
    */
  private val EvalQueryTerms = QueryTerms.take(2)

  /** Average Precision@10 of a truncated-query BM25 ranking against the
    * full information need — the order-sensitive companion to
    * [[retrievalEvalPk]] (P@10 is blind to WHERE in the top-10 the
    * relevant docs sit; AP integrates precision at every relevant rank
    * — the single number TREC-style evaluations aggregate into MAP).
    * The ranker sees only [[EvalQueryTerms]] (the first two query
    * terms — an under-specified query), while a doc is relevant only
    * when it carries ALL THREE [[QueryTerms]]: scoring the engine's
    * full-query ranking against a term-presence label is vacuously
    * AP = 1 (BM25 puts all-terms docs on top by construction); the
    * truncated query is the realistic setup where the ranker must
    * surface fully-relevant docs from partial evidence, and AP < 1
    * measures how well tf/idf/length evidence on two terms predicts
    * the third. Re-scoring reuses the SAME checkpointed tf/df frame
    * and [[bm25Partial]] formula — one tokenize pass, no desync. AP
    * stays EXACT-INTEGER end to end: P@r = hits_≤r/r are rationals
    * with denominators 1..10, so the fold Σ [rel_r]·P@r runs in
    * lcm(1..10) = 2520 units — per-rank one-hot BIGINT columns h_r,
    * cumulative hits as literal prefix sums, ap_num_x2520 =
    * Σ h_r·cum_r·(2520/r); the ppm report divides by 2520·min(R,10)
    * with integer floor division (NULL when R = 0 — no relevant docs
    * means AP is undefined, not zero). Scale: the eval folds a ≤10-row
    * TakeOrdered frame plus one broadcast count.
    */
  def mapEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.functions.Iterate.checkpoint(
      bm25ScoredDf(spark, dir)
        .withColumn("rel",
          QueryTerms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
            .reduceLeft(_ + _))
        .withColumn("score2",
          EvalQueryTerms.map(bm25Partial).reduceLeft(_ + _))
        .filter(col("score2") > 0.0)
        .withColumn("score2",
          floor(col("score2") * lit(1.0e6) + lit(0.5)).cast("double")
            / lit(1.0e6)))
    val relTot = scored.agg(
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n_relevant"))
    val top = scored
      .orderBy(col("score2").desc, col("doc_id").asc).limit(NdcgK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score2").desc, col("doc_id").asc)))
    val hRow = top.agg(
      sum(when(col("rank") === 1 && col("rel") === 3, 1L).otherwise(0L))
        .as("h_1"),
      (2 to NdcgK).map(r =>
        sum(when(col("rank") === r && col("rel") === 3, 1L).otherwise(0L))
          .as(s"h_$r")): _*)
    def cum(r: Int) = (1 to r).map(i => col(s"h_$i")).reduceLeft(_ + _)
    val apNum = (1 to NdcgK)
      .map(r => col(s"h_$r") * cum(r) * lit((2520 / r).toLong))
      .reduceLeft(_ + _)
    hRow.crossJoin(broadcast(relTot))
      .withColumn("ap_num_x2520", apNum)
      .select(col("n_relevant"), cum(NdcgK).as("hits_at_10"),
        col("ap_num_x2520"),
        when(col("n_relevant") > 0,
          expr(s"(ap_num_x2520 * 1000000) div (2520 * least(n_relevant, $NdcgK))"))
          .as("ap_at_10_ppm"))
  }

  lazy val mapEvalOracle: String = {
    val tfCols = QueryTerms.map(t =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(",\n        ")
    val dfCols = QueryTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n        ")
    def partial(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN
        ((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)
          / (CAST(df_$t AS DOUBLE) + 0.5))
        * (CAST(tf_$t AS DOUBLE) * ${K1 + 1.0})
        / (CAST(tf_$t AS DOUBLE)
          + $K1 * ((1.0 - $B) + $B * CAST(dl AS DOUBLE)
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        ELSE CAST(0.0 AS DOUBLE) END"""
    val hCols = (1 to NdcgK).map(r =>
      s"CAST(SUM(CASE WHEN rank = $r AND rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h_$r")
      .mkString(",\n        ")
    def cumSql(r: Int) = (1 to r).map(i => s"h_$i").mkString(" + ")
    val apNumSql = (1 to NdcgK)
      .map(r => s"h_$r * (${cumSql(r)}) * ${2520 / r}").mkString("\n        + ")
    s"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS dl,
        $tfCols
      FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        $dfCols
      FROM perdoc),
    scored_rel AS (
      SELECT doc_id,
        ${QueryTerms.map(partial).mkString("\n        + ")} AS score,
        ${EvalQueryTerms.map(partial).mkString("\n        + ")} AS score2,
        ${QueryTerms.map(t => s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")} AS rel
      FROM perdoc CROSS JOIN stats),
    kept AS (
      SELECT doc_id,
        CAST(FLOOR(score2 * 1.0e6 + 0.5) AS DOUBLE) / 1.0e6 AS score2, rel
      FROM scored_rel WHERE score > 0.0 AND score2 > 0.0),
    rt AS (
      SELECT CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_relevant FROM kept),
    top AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY score2 DESC, doc_id ASC) AS rank
      FROM kept ORDER BY score2 DESC, doc_id ASC LIMIT $NdcgK),
    h AS (
      SELECT $hCols
      FROM top)
    SELECT n_relevant, ${cumSql(NdcgK)} AS hits_at_10,
      CAST($apNumSql AS BIGINT) AS ap_num_x2520,
      CASE WHEN n_relevant > 0 THEN
        CAST(($apNumSql) * 1000000 // (2520 * LEAST(n_relevant, $NdcgK))
          AS BIGINT) END AS ap_at_10_ppm
    FROM h CROSS JOIN rt"""
  }

  lazy val retrievalEvalPkOracle: String = {
    // same tf/df/partial generators as ndcgEvalOracle — interpolated
    // from QueryTerms/K1/B so ranking and eval cannot desync
    val tfCols = QueryTerms.map(t =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(",\n        ")
    val dfCols = QueryTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n        ")
    def partial(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN
        ((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)
          / (CAST(df_$t AS DOUBLE) + 0.5))
        * (CAST(tf_$t AS DOUBLE) * ${K1 + 1.0})
        / (CAST(tf_$t AS DOUBLE)
          + $K1 * ((1.0 - $B) + $B * CAST(dl AS DOUBLE)
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        ELSE CAST(0.0 AS DOUBLE) END"""
    s"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS dl,
        $tfCols
      FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        $dfCols
      FROM perdoc),
    scored_rel AS (
      SELECT doc_id,
        ${QueryTerms.map(partial).mkString("\n        + ")} AS score,
        ${QueryTerms.map(t => s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")} AS rel
      FROM perdoc CROSS JOIN stats),
    kept AS (
      SELECT doc_id,
        CAST(FLOOR(score * 1.0e6 + 0.5) AS DOUBLE) / 1.0e6 AS score, rel
      FROM scored_rel WHERE score > 0.0),
    rt AS (
      SELECT CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_relevant
      FROM kept),
    top AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
      FROM kept ORDER BY score DESC, doc_id ASC LIMIT $NdcgK),
    h AS (
      SELECT CAST(SUM(CASE WHEN rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          AS hits_at_10,
        MIN(CASE WHEN rel >= 2 THEN rank END) AS first_rel_rank
      FROM top)
    SELECT n_relevant, hits_at_10,
      CAST(hits_at_10 * 100000 AS BIGINT) AS p_at_10_ppm,
      CAST((hits_at_10 * 1000000) // GREATEST(n_relevant, 1) AS BIGINT)
        AS r_at_10_ppm,
      CAST(COALESCE(1000000 // first_rel_rank, 0) AS BIGINT) AS rr_ppm
    FROM h CROSS JOIN rt"""
  }

  def defs: Map[String, QueryDef] = Map(
    "snippet_extract" -> QueryDef.sql(snippetExtract, snippetExtractOracle),
    "rrf_fusion" -> QueryDef.sql(rrfFusion, rrfFusionOracle),
    "contrastive_pairs" -> QueryDef.sql(contrastivePairs, contrastivePairsOracle),
    "bm25_topk" -> QueryDef.sql(bm25Topk, bm25TopkOracle),
    "ndcg_eval" -> QueryDef.sql(ndcgEval, ndcgEvalOracle),
    "retrieval_eval_pk" -> QueryDef.sql(retrievalEvalPk, retrievalEvalPkOracle),
    "quantile_normalize" -> QueryDef.sql(quantileNormalize, quantileNormalizeOracle),
    "quantile_normalize_bucketed" -> QueryDef.sql(quantileNormalizeBucketed,
      quantileNormalizeBucketedOracle),
    "theilsen_trend" -> QueryDef.sql(theilsenTrend, theilsenTrendOracle),
    "ols_trend" -> QueryDef.sql(olsTrend, olsTrendOracle),
    "map_eval" -> QueryDef.sql(mapEval, mapEvalOracle),
    "mrr_eval" -> QueryDef.sql(mrrEval, mrrEvalOracle)
  )

  /** Mean reciprocal rank of the eval ranking — the third leg of the
    * battery (ndcg grades the whole list, AP the relevant mass, MRR the
    * TIME-TO-FIRST-ANSWER — the metric a "find me one good passage" RAG
    * consumer actually feels). Same frames and guards as [[mapEval]]:
    * 2-term eval ranking, 3-term relevance oracle, rel = 3 counts as
    * relevant; rr is exact ×2520 integer arithmetic (2520 = lcm(1..10),
    * so 2520/r is integral at every rank) with the first-hit flag
    * h_r · [cum(r) = 1] — no window beyond the constant K-row frame.
    */
  def mrrEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = graft.functions.Iterate.checkpoint(
      bm25ScoredDf(spark, dir)
        .withColumn("rel",
          QueryTerms.map(t => when(col(s"tf_$t") > 0, 1L).otherwise(0L))
            .reduceLeft(_ + _))
        .withColumn("score2",
          EvalQueryTerms.map(bm25Partial).reduceLeft(_ + _))
        .filter(col("score2") > 0.0)
        .withColumn("score2",
          floor(col("score2") * lit(1.0e6) + lit(0.5)).cast("double")
            / lit(1.0e6)))
    val relTot = scored.agg(
      sum(when(col("rel") === 3, 1L).otherwise(0L)).as("n_relevant"))
    val top = scored
      .orderBy(col("score2").desc, col("doc_id").asc).limit(NdcgK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score2").desc, col("doc_id").asc)))
    val hRow = top.agg(
      sum(when(col("rank") === 1 && col("rel") === 3, 1L).otherwise(0L))
        .as("h_1"),
      (2 to NdcgK).map(r =>
        sum(when(col("rank") === r && col("rel") === 3, 1L).otherwise(0L))
          .as(s"h_$r")): _*)
    def cum(r: Int) = (1 to r).map(i => col(s"h_$i")).reduceLeft(_ + _)
    val rrNum = (1 to NdcgK)
      .map(r => when(col(s"h_$r") === 1 && cum(r) === 1,
        lit((2520 / r).toLong)).otherwise(0L))
      .reduceLeft(_ + _)
    val firstRank = (1 to NdcgK)
      .map(r => when(col(s"h_$r") === 1 && cum(r) === 1, lit(r.toLong)))
      .reduceLeft((a, b) => coalesce(a, b))
    hRow.crossJoin(broadcast(relTot))
      .select(col("n_relevant"),
        firstRank.as("first_rel_rank"),
        rrNum.as("rr_x2520"))
      .withColumn("mrr_ppm",
        when(col("n_relevant") > 0, expr("(rr_x2520 * 1000000) div 2520")))
  }

  lazy val mrrEvalOracle: String = {
    val tfCols = QueryTerms.map(t =>
      s"SUM(CASE WHEN term = '$t' THEN 1 ELSE 0 END) AS tf_$t").mkString(",\n        ")
    val dfCols = QueryTerms.map(t =>
      s"CAST(SUM(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_$t")
      .mkString(",\n        ")
    def partial(t: String) =
      s"""CASE WHEN tf_$t > 0 THEN
        ((CAST(n_docs AS DOUBLE) - CAST(df_$t AS DOUBLE) + 0.5)
          / (CAST(df_$t AS DOUBLE) + 0.5))
        * (CAST(tf_$t AS DOUBLE) * ${K1 + 1.0})
        / (CAST(tf_$t AS DOUBLE)
          + $K1 * ((1.0 - $B) + $B * CAST(dl AS DOUBLE)
            / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))
        ELSE CAST(0.0 AS DOUBLE) END"""
    val hCols = (1 to NdcgK).map(r =>
      s"CAST(SUM(CASE WHEN rank = $r AND rel = 3 THEN 1 ELSE 0 END) AS BIGINT) AS h_$r")
      .mkString(",\n        ")
    def cumSql(r: Int) = (1 to r).map(i => s"h_$i").mkString(" + ")
    val rrSql = (1 to NdcgK)
      .map(r => s"(CASE WHEN h_$r = 1 AND ${cumSql(r)} = 1 "
        + s"THEN ${2520 / r} ELSE 0 END)")
      .mkString("\n        + ")
    val firstSql = "COALESCE(" + (1 to NdcgK)
      .map(r => s"(CASE WHEN h_$r = 1 AND ${cumSql(r)} = 1 "
        + s"THEN CAST($r AS BIGINT) END)")
      .mkString(", ") + ")"
    s"""
    WITH terms AS (
      SELECT doc_id, UNNEST(STRING_SPLIT_REGEX(text, '\\s+')) AS term
      FROM documents),
    perdoc AS (
      SELECT doc_id, COUNT(*) AS dl,
        $tfCols
      FROM terms GROUP BY 1),
    stats AS (
      SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl,
        $dfCols
      FROM perdoc),
    scored_rel AS (
      SELECT doc_id,
        ${QueryTerms.map(partial).mkString("\n        + ")} AS score,
        ${EvalQueryTerms.map(partial).mkString("\n        + ")} AS score2,
        ${QueryTerms.map(t => s"(CASE WHEN tf_$t > 0 THEN 1 ELSE 0 END)")
          .mkString(" + ")} AS rel
      FROM perdoc CROSS JOIN stats),
    kept AS (
      SELECT doc_id,
        CAST(FLOOR(score2 * 1.0e6 + 0.5) AS DOUBLE) / 1.0e6 AS score2, rel
      FROM scored_rel WHERE score > 0.0 AND score2 > 0.0),
    rt AS (
      SELECT CAST(SUM(CASE WHEN rel = 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_relevant FROM kept),
    top AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY score2 DESC, doc_id ASC) AS rank
      FROM kept ORDER BY score2 DESC, doc_id ASC LIMIT $NdcgK),
    h AS (
      SELECT $hCols
      FROM top)
    SELECT n_relevant,
      $firstSql AS first_rel_rank,
      CAST($rrSql AS BIGINT) AS rr_x2520,
      CASE WHEN n_relevant > 0 THEN
        CAST(CAST($rrSql AS BIGINT) * 1000000 // 2520 AS BIGINT) END
        AS mrr_ppm
    FROM h CROSS JOIN rt"""
  }
}
