package graftbench

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** What one op call produced: the row count and an order-insensitive row
  * hash of its output (or, for pipeline ops, of its manifest), and the
  * part of its wall time spent before the final action.
  */
final case class Output(rows: Long, hash: Long, eagerSeconds: Double,
    manifest: Map[String, Long] = Map.empty)

/** One timed call into graft's public entry points. */
trait Op {
  def name: String
  /** `expectedDir` is set on the setup pass only: the op then also leaves
    * its output where the oracle check reads it.
    */
  def run(spark: SparkSession, expectedDir: Option[String]): Output
}

trait Workload {
  def name: String
  /** The ops of pass `pass` (0 = the setup pass), in the seeded order. */
  def ops(pass: Int): Seq[Op]
  /** How many passes the workload has inputs for (setup pass included). */
  def maxPasses: Int = Int.MaxValue
  /** Checks the program's state after a pass; returns what is wrong. */
  def endPass(spark: SparkSession, outs: Seq[(Op, Output)]): Seq[String] = Nil
  /** Parquet files in the workload's state tables, and their bytes. */
  def stateFiles(): (Long, Long) = (0L, 0L)
  /** Oracle SQL and extra facts the checker needs, as JSON fields. */
  def checkFields: Seq[(String, String)] = Nil
}

/** A registry entry of `graft.SparkEntry`: the `QueryDef.fn` call, then
  * the full result materialized into Spark's `noop` sink (a parquet dir on
  * the setup pass), with the row count and row hash observed on that same
  * job — so the time covers every column, not only what a `count()` keeps.
  */
final class RegistryOp(val name: String, dataDir: String) extends Op {
  private val fn = graft.SparkEntry.queries(name)

  def run(spark: SparkSession, expectedDir: Option[String]): Output = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.PhaseKey, "fn")
    val t0 = System.nanoTime()
    val df = fn(spark, dataDir)
    val eager = (System.nanoTime() - t0) / 1e9
    sc.setLocalProperty(Tracer.PhaseKey, "action")
    val obs = Observation()
    val observed = df.observe(obs, count(lit(1)).as("rows"), RowHash.of(df).as("hash"))
    expectedDir match {
      case Some(dir) => observed.write.mode("overwrite").parquet(s"$dir/$name")
      case None => observed.write.format("noop").mode("overwrite").save()
    }
    val m = obs.get
    Output(m("rows").asInstanceOf[Long],
      Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L), eager)
  }
}

object RowHash {
  /** Sum of the low 32 bits of each row's xxhash64: order-insensitive,
    * sensitive to duplicates, and free of overflow below 2^31 rows.
    */
  def of(df: DataFrame): Column = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    coalesce(sum(xxhash64(cols.toIndexedSeq: _*).bitwiseAND(lit(0xffffffffL))), lit(0L))
  }

  /** A manifest's hash: stable over its sorted entries. */
  def of(manifest: Map[String, Long]): Long =
    scala.util.hashing.MurmurHash3.stringHash(
      manifest.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(";")).toLong
}

/** Seeded permutations: the same seed and pass give the same order. */
object Order {
  def shuffle[A](xs: Seq[A], seed: Long, pass: Int): Seq[A] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(xs)
}

/** Read-only registry entries, every pass in a fresh seeded order. */
final class RegistryWorkload(val name: String, names: Seq[String], dataDir: String,
    seed: Long) extends Workload {
  private val all = names.map(n => new RegistryOp(n, dataDir))
  def ops(pass: Int): Seq[Op] = Order.shuffle(all, seed, pass)

  override def checkFields: Seq[(String, String)] = {
    val registry = graft.SparkEntry.oracleSql
    Seq("oracle_sql" -> Json.obj(names.flatMap(n =>
      registry.get(n).map(sql => n -> Json.str(graft.OracleSql.materializeCtes(sql))))))
  }
}

/** Reads beside writes on growing state: the corpus and the warehouse
  * start empty and are never reset. Every pass curates the next seeded
  * document batch into the corpus with `StreamingCuration.ingestBatch`,
  * then lands the next seeded warehouse slice with
  * `PublicationsPipeline.upsertWarehouse` — so each pass reads what the
  * passes before it wrote.
  */
final class IncrementalWorkload(dataDir: String, stateDir: String, seed: Long,
    val parts: Int) extends Workload {
  val name = "incremental_merge"

  /** The salt of both splits: row r goes to part pmod(key * mult + salt, parts). */
  val mult: Long = 7L + 2L * (seed % 50)
  val salt: Long = seed % 997
  private val batchOrder = Order.shuffle(0 until parts, seed, -1)
  private val sliceOrder = Order.shuffle(0 until parts, seed, -2)
  /** Each warehouse table's upsert keys, the first of which slices it. */
  val tableKeys = Seq("wh_dim_customer" -> Seq("customer_key"),
    "wh_dim_publisher" -> Seq("pub_id"), "wh_fact_sales" -> Seq("order_key", "line_number"),
    "wh_collab_edges" -> Seq("supp_a", "supp_b"))
  /** Slice keys in lookup order: the fact table also has customer_key. */
  private val sliceKeyOrder = Seq("order_key", "supp_a", "customer_key", "pub_id")
  private val oracleOf = Map("wh_dim_customer" -> "dwh_dim_customer",
    "wh_dim_publisher" -> "dwh_dim_publisher", "wh_fact_sales" -> "dwh_fact_sales",
    "wh_collab_edges" -> "collab_pairs")

  private def part(key: Column, isString: Boolean): Column =
    pmod((if (isString) ascii(key) else key).cast("long") * lit(mult) + lit(salt),
      lit(parts.toLong))

  private final class Ingest(b: Int) extends Op {
    val name = s"ingest_b$b"
    def run(spark: SparkSession, expectedDir: Option[String]): Output = {
      val docs = graft.Tables.documents(spark, dataDir)
      val n = graft.streaming.StreamingCuration.ingestBatch(spark,
        docs.filter(part(col("doc_id"), isString = false) === b),
        s"$stateDir/corpus", s"$stateDir/index")
      Output(n, n, 0.0)
    }
  }

  private final class Upsert(s: Int) extends Op {
    val name = s"upsert_s$s"
    def run(spark: SparkSession, expectedDir: Option[String]): Output = {
      val m = graft.pipeline.PublicationsPipeline.upsertWarehouse(spark, dataDir,
        s"$stateDir/wh", (df: DataFrame) => {
          val key = sliceKeyOrder.find(df.columns.contains).get
          df.filter(part(col(key), df.schema(key).dataType == StringType) === s)
        })
      Output(m.values.sum, RowHash.of(m), 0.0, m)
    }
  }

  /** Pass p takes the p-th batch and slice; there are `parts` of each. */
  def ops(pass: Int): Seq[Op] =
    Seq(new Ingest(batchOrder(pass)), new Upsert(sliceOrder(pass)))

  override def maxPasses: Int = parts

  override def endPass(spark: SparkSession, outs: Seq[(Op, Output)]): Seq[String] = {
    val corpus = spark.read.parquet(s"$stateDir/corpus")
    val r = corpus.agg(count(lit(1)), countDistinct(col("doc_id")),
      countDistinct(md5(col("text")))).head()
    appended += outs.collect { case (_: Ingest, o) => o.rows }.sum
    Seq(
      Option.when(r.getLong(0) != appended)(
        s"corpus holds ${r.getLong(0)} rows but the batches appended $appended"),
      Option.when(r.getLong(1) != r.getLong(0))("corpus doc_id is not unique"),
      Option.when(r.getLong(2) != r.getLong(0))("corpus holds exact-duplicate texts")
    ).flatten
  }
  private var appended = 0L

  override def stateFiles(): (Long, Long) = Files.parquetStats(stateDir)

  override def checkFields: Seq[(String, String)] = {
    val registry = graft.SparkEntry.oracleSql
    Seq(
      "mult" -> mult.toString, "salt" -> salt.toString, "parts" -> parts.toString,
      "slice_order" -> sliceOrder.mkString("[", ",", "]"),
      "slice_tables" -> Json.obj(tableKeys.map { case (t, keys) =>
        t -> Json.obj(Seq("keys" -> Json.arr(keys.map(Json.str)),
          "sql" -> Json.str(graft.OracleSql.materializeCtes(registry(oracleOf(t))))))
      }))
  }

  def cleanup(): Unit = Files.rm(stateDir)
}

object Workloads {
  /** TPC-H, cleaning, DWH, analytics marts and rank statistics (the Gini
    * concentration goes through `functions.Ranks`): the paper's query
    * surface, read-only.
    */
  val analystMix = Seq(
    "q1_agg", "q3_shipping", "q6_forecast", "q12_priority_class", "clean_text_normalize",
    "dwh_fact_sales", "enrich_join", "topic_popularity", "mann_whitney_auc",
    "gini_concentration")

  def apply(name: String, dataDir: String, workDir: String, seed: Long): Workload =
    name match {
      case "analyst_mix" => new RegistryWorkload(name, analystMix, dataDir, seed)
      case "incremental_merge" =>
        new IncrementalWorkload(dataDir, s"$workDir/state", seed, parts = 16)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
}

object Files {
  import java.nio.file.{Files => F, Path, Paths}
  import scala.jdk.CollectionConverters._

  def rm(dir: String): Unit = {
    val p = Paths.get(dir)
    if (F.exists(p)) {
      val walk = F.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(F.deleteIfExists(_))
      finally walk.close()
    }
  }

  /** Parquet part files under `dir` and their total bytes. */
  def parquetStats(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!F.exists(p)) (0L, 0L)
    else {
      val walk = F.walk(p)
      try {
        val parts = walk.iterator().asScala
          .filter((f: Path) => F.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
          .map(F.size(_)).toSeq
        (parts.size.toLong, parts.sum)
      } finally walk.close()
    }
  }
}

/** Minimal JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}
