package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Window => LogicalWindow}

/** Pre-materialization plan invariants.
  *
  * PlanSpec pins "no unpartitioned Window" over every REGISTERED
  * query's optimized plan, but that scan sees plans AFTER
  * checkpoint/persist boundaries: a `row_number() OVER (ORDER BY ...)`
  * inside an eagerly materialized sub-stage (k-means seeds, PQ seed
  * codebooks, the interleave source index) is invisible to it — the
  * registry sees only the materialized result. This guard closes that
  * blind spot at the only places a boundary can be introduced in graft
  * code: [[Iterate.checkpoint]] and [[PlanGuard.persist]] scan the
  * frame's optimized plan BEFORE materializing it and fail loud on any
  * Window with an empty partition spec, unless the call site declares
  * the window's input provably bounded via `allowWindow` (a short
  * justification string, greppable next to the window it excuses —
  * the same discipline as PlanSpec's registry allowlist).
  *
  * Cost: one logical-plan traversal per call — the optimizer runs at
  * materialization anyway, so the guard adds no jobs and no scans.
  * Reference analog: the course pipelines materialize pandas frames
  * freely (utils/utils.py); at Spark scale a materialization boundary
  * is exactly where a single-reducer sort can hide from plan audits.
  *
  * It also holds the plan statistics that specs and diagnostics share:
  * [[finalPlan]] and the exchange-counting rule [[shuffles]].
  */
object PlanGuard {

  /** The FINAL section of `df`'s executed plan: AdaptiveSparkPlan prints
    * "== Final Plan ==" followed by "== Initial Plan ==" — reading only
    * the final section keeps every exchange from being double-counted.
    * Call it after `df` has executed, or AQE has no final plan yet.
    */
  def finalPlan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)

  /** Executes `df` and returns the number of shuffle exchanges in its
    * [[finalPlan]] — the number ShuffleBudgetSpec pins and
    * graft.ShuffleCount prints. It counts EVERY shuffle exchange (hash,
    * range, single-partition, AND round-robin repartitions) — only
    * broadcast and reused exchanges are not data shuffles.
    */
  def shuffles(df: DataFrame): Int = {
    df.collect()
    finalPlan(df).linesIterator.count(l =>
      l.contains("Exchange")
        && !l.contains("BroadcastExchange") && !l.contains("ReusedExchange"))
  }

  /** The unpartitioned Window nodes in `df`'s optimized plan, rendered
    * as their window-expression name lists (for the failure message).
    */
  def unpartitionedWindows(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: LogicalWindow if w.partitionSpec.isEmpty =>
        w.windowExpressions.map(_.name).mkString(",")
    }

  /** Fails loud if `df` contains an unpartitioned Window the call site
    * did not declare bounded. A declaration excuses exactly ONE window
    * node — every current declared site has exactly one, and a blanket
    * pass would reopen the blind spot at that site the moment a later
    * edit slips a second, corpus-scale window into the same lineage.
    */
  def assertNoUnpartitionedWindow(df: DataFrame, site: String,
      allowWindow: Option[String]): Unit = {
    val allowed = if (allowWindow.isDefined) 1 else 0
    lazy val ws = unpartitionedWindows(df)
    require(allowWindow.isDefined || ws.isEmpty,
      s"$site: pre-materialization plan contains ${ws.size} unpartitioned " +
        s"Window node(s) [${ws.mkString("; ")}] — a single-reducer sort " +
        "hidden behind a checkpoint/persist boundary, invisible to the " +
        "registry-wide PlanSpec scan. Route it through graft.functions." +
        "Ranks, or declare the window's input provably bounded with " +
        "allowWindow = Some(\"<why it cannot grow with the data>\")")
    require(ws.size <= allowed,
      s"$site: the allowWindow declaration covers ONE unpartitioned " +
        s"Window, but the plan contains ${ws.size} [${ws.mkString("; ")}] " +
        s"— declared: '${allowWindow.getOrElse("")}'; the extra window is " +
        "undeclared and may be a single-reducer sort at scale")
  }

  /** `df.persist()` with the pre-materialization window scan — use this
    * instead of a bare `.persist()` in graft operators so lazily cached
    * sub-stages stay inside the no-unpartitioned-window invariant.
    */
  def persist(df: DataFrame, allowWindow: Option[String] = None): DataFrame = {
    assertNoUnpartitionedWindow(df, "PlanGuard.persist", allowWindow)
    df.persist()
  }
}
