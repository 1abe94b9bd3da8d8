package graft

import org.apache.spark.sql.functions._

/** The injected optimizer rule must fire (plan shows CommonCount) and be
  * value-exact vs the unoptimized form; bucketed tables must join
  * without an exchange.
  */
class RuleSpec extends SparkSpec {

  test("RewriteIntersectCount rewrites size(array_intersect) and preserves values") {
    // Literal inputs constant-fold to a LocalRelation before optimizer
    // rules run, so exercise the rule over a real file-backed plan.
    def query() =
      Tables.documents(spark, sfDir)
        .select(col("doc_id"),
          size(array_intersect(
            split(col("text"), " "),
            split(lit("the fast key order sort"), " "))).as("n"))
    val plain = withoutIntersectRewrite {
      val df = query()
      assert(!df.queryExecution.optimizedPlan.toString.contains("commoncount"))
      df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    }
    val rewritten = {
      val df = query()
      assert(df.queryExecution.optimizedPlan.toString.contains("commoncount"),
        s"rule did not fire:\n${df.queryExecution.optimizedPlan}")
      df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    }
    assert(plain == rewritten)
    assert(rewritten.exists(_._2 > 0))
  }

  test("bucketed tables join without a shuffle exchange") {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      spark.sql("DROP TABLE IF EXISTS g_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS g_cust_bkt")
      Tables.orders(spark, sfDir).write
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("g_orders_bkt")
      Tables.customer(spark, sfDir).write
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("g_cust_bkt")
      val joined = spark.table("g_orders_bkt")
        .join(spark.table("g_cust_bkt"),
          col("o_custkey") === col("c_custkey"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS g_orders_bkt")
      spark.sql("DROP TABLE IF EXISTS g_cust_bkt")
    }
  }
}
