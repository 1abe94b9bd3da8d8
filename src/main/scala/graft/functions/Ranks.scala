package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranks WITHOUT a single-partition window.
  *
  * `row_number() OVER (ORDER BY ...)` and `ntile(k) OVER (ORDER BY ...)`
  * serialize the whole input through ONE WindowExec task — correct and
  * cheap at sf0.1, a 100×-scale killer at corpus size (Spark logs
  * `WindowExec: No Partition Defined` for exactly this reason). The
  * two-level replacement used here keeps the rank EXACT (bit-identical
  * to the one-window oracle) while the corpus-scale work stays
  * partitioned:
  *
  *   1. a caller-supplied integer CELL that is monotone non-decreasing
  *      along the global sort order (a value prefix, a range bucket from
  *      broadcast min/max — anything whose boundaries respect the order);
  *   2. a per-cell histogram (bounded, dimension-scale) whose exclusive
  *      prefix folds give each cell its serial BASE — computed via a
  *      triangular join over the histogram rather than a window, so even
  *      the metadata pass carries no unpartitioned WindowExec;
  *   3. a within-cell window PARTITIONED by cell.
  *
  * global result = base ⊕ local fold, identical to the global window
  * because partition boundaries cannot change a prefix fold of an
  * associative operation. Parallelism scales with the data (a hot cell
  * bounds one partition; callers choose cells wide enough to stay
  * dimension-scale and narrow enough to spread the corpus — ≤ ~4k cells
  * keeps the triangular histogram join under 16M metadata pairs while
  * giving 4k-way rank parallelism).
  *
  * The family: [[withGlobalRank]] (row_number), [[withExclusivePrefix]]
  * / [[withExclusivePrefixMax]] (running SUM / MAX — any associative
  * fold decomposes the same way, and both share one private core),
  * [[withNtile]] (arithmetic NTILE from a rank), and the `withBucketed*`
  * wrappers that derive the cell from a broadcast [min, max] span probe
  * so call sites never hand-spell the monotonicity-critical bucket
  * formula. `spark.graft.validateRankCells = true` adds an eager debug
  * check of the monotone-cell contract; a NULL cell always fails loud
  * (it would otherwise silently drop its row at the bases join).
  *
  * The ≤4k-cell discipline is ENFORCED, not advisory: the triangular
  * histogram join is O(cells²) metadata pairs, so a hand-built cell
  * with corpus-proportional cardinality would silently turn the
  * metadata pass into the bottleneck. `spark.graft.maxRankCells`
  * (default 4096) caps it — statically for the `withBucketed*` forms
  * (the bucket count is known at plan time) and via a plan-embedded
  * assert on the triangular pair count for hand-built cells, which
  * fails the job loud the moment the histogram exceeds the cap.
  *
  * Evaluation contract: each helper reads its input up to three times —
  * the main branch, the cell histogram, and the histogram's triangular
  * self-join — so callers pass CHEAP frames (aggregated cells) or
  * checkpoint expensive lineages first, as gini/ccnet/repurchase do.
  *
  * The same trick powers curriculum_order / sequence_pack (Sampling
  * .scala); this is the shared, reusable form. Reference analog: the
  * course pipelines rank in pandas on one node
  * (utils/utils.py transform helpers); at Spark scale the rank itself
  * must distribute.
  */
object Ranks {

  /** The enforced ceiling on cell cardinality (see object doc): the
    * session's `spark.graft.maxRankCells`, default 4096. A value that is
    * not an integer, or is below 1, fails naming the key.
    */
  private[graft] def cellCap(spark: SparkSession): Int = {
    val raw = spark.conf.get("spark.graft.maxRankCells", "4096")
    raw.trim.toIntOption.filter(_ >= 1).getOrElse(throw new IllegalArgumentException(
      s"spark.graft.maxRankCells must be an integer >= 1, got '$raw'"))
  }

  /** Plan-embedded cap check for HAND-BUILT cells: the per-cell row
    * count of the triangular left join is max(1, #strictly-lower
    * cells), so its maximum over cells is exactly n_cells − 1 — a cap
    * on that count IS a cap on the histogram cardinality, checked with
    * zero extra jobs and zero extra input reads (the count rides the
    * bases aggregate the join produces anyway).
    */
  private def capPairs(bases: DataFrame, pairCol: String, helper: String,
      cap: Int): DataFrame =
    bases.filter(assert_true(col(pairCol) <= lit(cap.toLong - 1L),
        lit(s"Ranks.$helper: cell histogram exceeds " +
          s"spark.graft.maxRankCells=$cap — the triangular metadata join " +
          "is O(cells^2); widen the cells (or raise the conf) so the " +
          "histogram stays dimension-scale")).isNull)
      .drop(pairCol)

  /** Tag the integer cell and make NULL cells LOUD: a NULL join key
    * never matches, so a NULL-celled row would silently vanish from the
    * ranked output at the bases equi-join — the one failure mode worse
    * than a wrong rank.
    */
  private def tagCell(df: DataFrame, cellCol: String, cell: Column,
      helper: String): DataFrame =
    df.withColumn(cellCol, cell.cast("bigint"))
      .filter(assert_true(col(cellCol).isNotNull,
        lit(s"Ranks.$helper: cell expression evaluated to NULL — the row " +
          "would silently drop from the ranked output")).isNull)

  /** Adds BIGINT column `out` = exact `row_number() OVER (ORDER BY
    * order...)` (1-based). `cell` MUST be an integer expression monotone
    * non-decreasing in the global `order` (cell boundaries respect the
    * sort), and `order` must be a total order (callers tie-break on a
    * key) — both engines then agree rank-for-rank.
    */
  def withGlobalRank(df: DataFrame, out: String, cell: Column,
      order: Seq[Column]): DataFrame = {
    require(order.nonEmpty, "Ranks.withGlobalRank: order must be non-empty")
    val tagged = tagCell(df, "__gr_cell", cell, "withGlobalRank")
    validateMonotoneCells(tagged, "__gr_cell", order, "withGlobalRank")
    val hist = tagged.groupBy(col("__gr_cell")).agg(count(lit(1)).as("__gr_c"))
    // exclusive prefix over the bounded histogram, as a triangular join
    // (≤ cells² metadata pairs, broadcast nested-loop) — no WindowExec
    // with an empty partition spec anywhere in the plan
    val lower = hist.select(col("__gr_cell").as("__gr_cell_lo"),
      col("__gr_c").as("__gr_c_lo"))
    val bases = capPairs(hist
      .join(lower, col("__gr_cell_lo") < col("__gr_cell"), "left")
      .groupBy(col("__gr_cell"))
      .agg(coalesce(sum(col("__gr_c_lo")), lit(0L)).as("__gr_base"),
        count(lit(1)).as("__gr_np")),
      "__gr_np", "withGlobalRank", cellCap(df.sparkSession))
    val wCell = Window.partitionBy(col("__gr_cell")).orderBy(order: _*)
    tagged
      .withColumn("__gr_rn", row_number().over(wCell).cast("long"))
      .join(graft.Tables.stateHint(bases), Seq("__gr_cell"))
      .withColumn(out, col("__gr_base") + col("__gr_rn"))
      .drop("__gr_cell", "__gr_rn", "__gr_base")
  }

  /** The shared two-level exclusive fold behind the prefix SUM and MAX
    * forms: per-cell totals via `aggFn`, cross-cell bases via `baseFold`
    * over the triangular metadata join, a cell-PARTITIONED exclusive
    * window of `aggFn`, and `combine(base, window)` per item. The two
    * public variants differ ONLY in those three functions — one audited
    * copy of the monotonicity-critical scaffolding.
    */
  private def exclusiveFold(df: DataFrame, cell: Column, order: Seq[Column],
      items: Seq[(Column, String)], helper: String,
      aggFn: Column => Column,
      baseFold: Column => Column,
      combine: (Column, Column) => Column): DataFrame = {
    require(items.nonEmpty,
      s"Ranks.$helper: must carry at least one (expr, name)")
    require(order.nonEmpty, s"Ranks.$helper: order must be non-empty")
    val tagged = tagCell(df, "__xf_cell", cell, helper)
    validateMonotoneCells(tagged, "__xf_cell", order, helper)
    val hist = tagged.groupBy(col("__xf_cell"))
      .agg(aggFn(items.head._1).as("__xf_t0"),
        items.tail.zipWithIndex.map { case ((e, _), i) =>
          aggFn(e).as(s"__xf_t${i + 1}") }: _*)
    val lower = hist.select(col("__xf_cell").as("__xf_cell_lo") +:
      items.indices.map(i => col(s"__xf_t$i").as(s"__xf_lo$i")): _*)
    val bases = capPairs(hist
      .join(lower, col("__xf_cell_lo") < col("__xf_cell"), "left")
      .groupBy(col("__xf_cell"))
      .agg(baseFold(col("__xf_lo0")).as("__xf_b0"),
        items.indices.tail.map(i =>
          baseFold(col(s"__xf_lo$i")).as(s"__xf_b$i"))
          :+ count(lit(1)).as("__xf_np"): _*),
      "__xf_np", helper, cellCap(df.sparkSession))
    val wCell = Window.partitionBy(col("__xf_cell")).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val joined = tagged.join(graft.Tables.stateHint(bases), Seq("__xf_cell"))
    val out = items.zipWithIndex.foldLeft(joined) {
      case (d, ((e, name), i)) =>
        d.withColumn(name, combine(col(s"__xf_b$i"), aggFn(e).over(wCell)))
    }
    out.drop("__xf_cell" +: items.indices.map(i => s"__xf_b$i"): _*)
  }

  /** Adds exclusive-prefix-sum columns over a total order WITHOUT an
    * unpartitioned window — the [[withGlobalRank]] shape applied to
    * running sums. For each `(expr, name)` in `sums` the output gains
    * `name` = Σ expr over all rows STRICTLY before the current one in
    * the global order (0 for the first row). Same contract as the rank
    * helper: `cell` integer and monotone non-decreasing along `order`,
    * `order` a total order.
    */
  def withExclusivePrefix(df: DataFrame, cell: Column, order: Seq[Column],
      sums: Seq[(Column, String)]): DataFrame =
    exclusiveFold(df, cell, order, sums, "withExclusivePrefix",
      sum(_), c => coalesce(sum(c), lit(0L)),
      (base, win) => base + coalesce(win, lit(0L)))

  /** Adds exclusive-prefix-MAX columns over a total order WITHOUT an
    * unpartitioned window — [[withExclusivePrefix]] with the associative
    * fold swapped from `+` to `max`. For each `(expr, name)` in `maxes`
    * the output gains `name` = MAX expr over all rows STRICTLY before
    * the current one in the global order — NULL (not a sentinel) for
    * the first row, exactly like `max(e) OVER (... ROWS UNBOUNDED
    * PRECEDING TO 1 PRECEDING)`; greatest() skips NULLs, so carry-NULL
    * (no lower cell) and frame-NULL (first row of its cell) combine
    * exactly like the single-window max over a possibly-empty frame.
    * This is the skyline/frontier primitive (skyline_2d's "best
    * strictly-cheaper size" test).
    */
  def withExclusivePrefixMax(df: DataFrame, cell: Column, order: Seq[Column],
      maxes: Seq[(Column, String)]): DataFrame =
    exclusiveFold(df, cell, order, maxes, "withExclusivePrefixMax",
      max(_), max(_), (base, win) => greatest(base, win))

  /** Shared span-probe bucketing behind the `withBucketed*` forms: tags
    * the BIGINT value, probes its broadcastable [min, max] span over
    * `df` itself, and derives the range-bucket cell — inverted for
    * descending orders so the cell stays monotone ALONG the order. The
    * monotonicity-critical formula lives HERE, once, instead of being
    * re-spelled at every call site (where a hand-copied desc inversion
    * or an off-by-one denominator would silently mis-rank). The cell is
    * computed WIDTH-FIRST — `(v − lo) div (span div buckets + 1)` — so
    * the offset is never multiplied: the multiply-first spelling
    * `((v − lo) · buckets) div (span + 1)` wraps past 2^63 for spans
    * over ~2^51 (hash-derived keys), silently breaking monotonicity.
    */
  private def spanBucketed(df: DataFrame, value: Column, ascending: Boolean,
      buckets: Int): (DataFrame, Column, Seq[Column]) = {
    require(buckets > 0, s"Ranks: buckets must be positive, got $buckets")
    val cap = cellCap(df.sparkSession)
    require(buckets <= cap,
      s"Ranks: buckets=$buckets exceeds spark.graft.maxRankCells=$cap — " +
        "the triangular metadata join is O(cells^2); keep the bucket " +
        "count dimension-scale (or raise the conf)")
    val tagged0 = df.withColumn("__sb_v", value.cast("bigint"))
    val span = tagged0.agg(min(col("__sb_v")).as("__sb_lo"),
      max(col("__sb_v")).as("__sb_hi"))
    val tagged = tagged0.crossJoin(broadcast(span))
    val width = s"((__sb_hi - __sb_lo) div $buckets + 1)"
    val cell =
      if (ascending) expr(s"(__sb_v - __sb_lo) div $width")
      else expr(s"(__sb_hi - __sb_v) div $width")
    (tagged,
      cell,
      Seq(if (ascending) col("__sb_v").asc else col("__sb_v").desc))
  }

  private val SpanCols = Seq("__sb_v", "__sb_lo", "__sb_hi")

  /** [[withExclusivePrefix]] over an integer `value` whose distinct
    * support spans an arbitrary range (spend cents, price cells, score
    * cells): cells come from `buckets` equal range slices of the
    * broadcast [min, max] span, ordered by `value` alone (callers pass
    * frames where `value` is distinct per row — a histogram key).
    * `ascending = false` runs the prefix best-first down the value
    * order (curriculum bases).
    */
  def withBucketedExclusivePrefix(df: DataFrame, value: Column,
      ascending: Boolean, buckets: Int,
      sums: Seq[(Column, String)]): DataFrame = {
    val (tagged, cell, order) = spanBucketed(df, value, ascending, buckets)
    withExclusivePrefix(tagged, cell, order, sums).drop(SpanCols: _*)
  }

  /** [[withExclusivePrefixMax]] with the same span-bucketed cells. */
  def withBucketedExclusivePrefixMax(df: DataFrame, value: Column,
      ascending: Boolean, buckets: Int,
      maxes: Seq[(Column, String)]): DataFrame = {
    val (tagged, cell, order) = spanBucketed(df, value, ascending, buckets)
    withExclusivePrefixMax(tagged, cell, order, maxes).drop(SpanCols: _*)
  }

  /** Debug-mode contract check (opt-in: `spark.graft.validateRankCells`
    * = true): the helpers silently produce wrong answers if the
    * caller's cell is NOT monotone along the order, so under the conf
    * each call eagerly verifies that adjacent cells' order-key ranges
    * do not overlap (pairwise-adjacent suffices by transitivity of
    * `max(cell i) ≤ min(cell i+1)`). Uniform-direction orders validate
    * on the full order tuple; MIXED directions (user_concentration's
    * `n desc, user_id asc`) fall back to the longest UNIFORM-DIRECTION
    * PREFIX of the tuple — sound whenever the cell is a function of
    * those prefix keys (every such call site derives its cell from the
    * leading key), and the failure message names the unchecked suffix
    * so a pass never reads as full-tuple coverage. Boundary ties stay
    * allowed. The
    * metadata frame here is the bounded cell histogram, so the debug
    * window is dimension-scale. Costs one extra aggregate per call —
    * debug only.
    */
  private def validateMonotoneCells(tagged: DataFrame, cellCol: String,
      order: Seq[Column], helper: String): Unit = {
    val spark = tagged.sparkSession
    if (!spark.conf.get("spark.graft.validateRankCells", "false").toBoolean) return
    import org.apache.spark.sql.GraftBridge
    import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
    val sos = order.map(c => GraftBridge.catalystExpression(c) match {
      case s: SortOrder => s
      case e => SortOrder(e, Ascending)
    })
    val checked = sos.takeWhile(_.direction == sos.head.direction)
    val key = struct(checked.map(s => GraftBridge.column(s.child)): _*)
    val ranges = tagged.groupBy(col(cellCol))
      .agg(min(key).as("__vr_lo"), max(key).as("__vr_hi"))
    val wAdj = Window.orderBy(col(cellCol).asc)
    val bad =
      if (checked.head.direction == Ascending)
        ranges.withColumn("__vr_prev", lag(col("__vr_hi"), 1).over(wAdj))
          .filter(col("__vr_prev").isNotNull && col("__vr_prev") > col("__vr_lo"))
      else
        ranges.withColumn("__vr_prev", lag(col("__vr_lo"), 1).over(wAdj))
          .filter(col("__vr_prev").isNotNull && col("__vr_prev") < col("__vr_hi"))
    val n = bad.count()
    val scope = if (checked.size == sos.size) "" else
      s" (mixed-direction order: only the leading ${checked.size} " +
        s"uniform-direction key(s) of ${sos.size} were validated — a cell " +
        "derived from a later key is outside this check's coverage)"
    require(n == 0, s"Ranks.$helper: cell is not monotone along the order — " +
      s"$n adjacent cell pair(s) have overlapping order-key ranges; " +
      s"ranks/prefixes computed from this cell would be wrong$scope")
  }

  /** Adds BIGINT column `out` = exact `NTILE(k) OVER (ORDER BY ...)`
    * reconstructed ARITHMETICALLY from an exact global rank (`rankCol`,
    * 1-based, from [[withGlobalRank]]) and the total row count
    * (`totalCol`, broadcast onto every row): with base = n div k and
    * rem = n mod k, SQL NTILE gives the first `rem` tiles base+1 rows
    * and the rest base — a pure integer formula both engines agree on,
    * including the n < k edge (base = 0 ⇒ every row its own tile; the
    * base-0 division sits in the untaken CASE branch).
    */
  def withNtile(df: DataFrame, out: String, rankCol: String,
      totalCol: String, k: Long): DataFrame =
    df.withColumn(out, expr(
      s"""CASE WHEN $rankCol <= ($totalCol % $k) * ($totalCol div $k + 1)
         THEN ($rankCol - 1) div ($totalCol div $k + 1) + 1
         ELSE ($totalCol % $k)
           + ($rankCol - ($totalCol % $k) * ($totalCol div $k + 1) - 1)
             div ($totalCol div $k) + 1 END"""))
}
