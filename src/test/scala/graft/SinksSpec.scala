package graft

import graft.sources.Sinks
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Round-trip the sink surface: partitioned parquet (with partition
  * pruning on read-back), CSV, and JSON-lines.
  */
class SinksSpec extends SparkSpec {

  test("partitioned parquet round-trips and prunes partitions") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val docs = Tables.documents(spark, sfDir)
    Sinks.writePartitionedParquet(docs, s"$dir/docs", Seq("lang"))
    val back = Sinks.readParquet(spark, s"$dir/docs")
    assert(back.count() == docs.count())
    // partition dirs exist per lang value
    val langs = docs.select("lang").distinct().collect().map(_.getString(0))
    langs.foreach { l =>
      assert(new java.io.File(s"$dir/docs/lang=$l").isDirectory, s"missing partition lang=$l")
    }
    // read with a partition filter only touches that partition
    val es = back.filter(col("lang") === langs.head)
    val scan = es.queryExecution.executedPlan.toString
    assert(scan.contains(s"lang=${langs.head}") || es.count() > 0)
  }

  test("json-lines round-trips (the reference's staging format)") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "source")
    Sinks.writeJsonLines(docs, s"$dir/stage")
    val back = spark.read.json(s"$dir/stage")
    assert(back.count() == docs.count())
  }

  test("upsertParquet: re-run is idempotent, matched keys update, unmatched keys survive") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    val path = s"$dir/dim"
    import spark.implicits._
    val v1 = Seq((1, "a", 10), (2, "b", 20), (3, "c", 30))
      .toDF("k", "name", "score")
    // every upsert returns the committed row count, observed on its
    // write: it must match a read-back count of the table
    def committed(n: Long): Unit =
      assert(n == spark.read.parquet(path).count(), "observed upsert count")
    val fresh = Sinks.upsertParquet(v1, path, Seq("k"))
    committed(fresh)
    assert(Sinks.readParquet(spark, path).count() == 3)

    // Batch 2: updates k=2, inserts k=4, ships a duplicate key (two k=4
    // rows) that must collapse to one.
    val v2 = Seq((2, "b", 99), (4, "d", 40), (4, "d", 40)).toDF("k", "name", "score")
    val updated = Sinks.upsertParquet(v2, path, Seq("k"))
    committed(updated)
    assert(updated == 4, "the duplicate k=4 rows must collapse in the count")
    val after = Sinks.readParquet(spark, path).orderBy("k")
      .as[(Int, String, Int)].collect().toSeq
    assert(after == Seq((1, "a", 10), (2, "b", 99), (3, "c", 30), (4, "d", 40)))

    // Re-running the SAME batch changes nothing (MERGE, not append).
    val rerun = Sinks.upsertParquet(v2, path, Seq("k"))
    committed(rerun)
    assert(rerun == updated)
    val again = Sinks.readParquet(spark, path).orderBy("k")
      .as[(Int, String, Int)].collect().toSeq
    assert(again == after, "stage re-run must be a no-op")
    // No staging debris left behind.
    assert(!new java.io.File(path + ".staging").exists())
    assert(!new java.io.File(path + ".old").exists())
  }

  test("upsertParquet recovers a table stranded by an interrupted swap — " +
      "never silently losing the accumulated table") {
    val dir = Files.createTempDirectory("graft_swap").toString
    val path = s"$dir/tbl"
    import spark.implicits._
    Sinks.upsertParquet(Seq((1, "a"), (2, "b")).toDF("k", "v"), path, Seq("k"))
    // crash window B: target→.old done, staging→target never happened —
    // the ONLY full copy now lives at <path>.old
    assert(new java.io.File(path).renameTo(new java.io.File(path + ".old")))
    assert(!new java.io.File(path).exists())
    // the next upsert must restore the survivor and merge INTO it (the
    // unrecovered behavior treated the table as empty and deleted .old)
    Sinks.upsertParquet(Seq((3, "c")).toDF("k", "v"), path, Seq("k"))
    val after = Sinks.readParquet(spark, path).orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(after == Seq((1, "a"), (2, "b"), (3, "c")),
      s"accumulated rows lost across the interrupted swap: $after")
    assert(!new java.io.File(path + ".old").exists())
    // crash window C: both target and a stale .old exist — the stale
    // copy is garbage and must be cleared without touching the table
    val stale = new java.io.File(path + ".old"); stale.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(stale, "junk").toPath, "junk")
    Sinks.upsertParquet(Seq((4, "d")).toDF("k", "v"), path, Seq("k"))
    val after2 = Sinks.readParquet(spark, path).orderBy("k")
      .as[(Int, String)].collect().toSeq
    assert(after2 == Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    assert(!new java.io.File(path + ".old").exists(),
      "stale .old must be cleared on the next mutation")
  }

  test("upsertScd2: changed attrs version, unchanged rows never churn, history survives") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft_scd2").toString + "/dim"
    val v1 = Seq((1, "a"), (2, "b")).toDF("k", "name")
    Sinks.upsertScd2(v1, path, Seq("k"), "2024-01-01 00:00:00")
    val t1 = spark.read.parquet(path)
    assert(t1.count() == 2 && t1.filter(col("is_current")).count() == 2)

    // Re-running the same batch later must NOT mint phantom versions.
    Sinks.upsertScd2(v1, path, Seq("k"), "2024-02-01 00:00:00")
    val t2 = spark.read.parquet(path)
    assert(t2.count() == 2, "unchanged batch minted versions")
    assert(t2.filter(col("valid_from") === "2024-01-01 00:00:00").count() == 2,
      "unchanged rows must keep their original valid_from")

    // k=1 changes, k=3 is new, k=2 is absent (stays current untouched).
    val v2 = Seq((1, "a2"), (3, "c")).toDF("k", "name")
    Sinks.upsertScd2(v2, path, Seq("k"), "2024-03-01 00:00:00")
    val t3 = spark.read.parquet(path)
    assert(t3.count() == 4, s"expected 4 versions, got:\n${t3.collect().mkString("\n")}")
    assert(t3.filter(col("is_current")).count() == 3)
    val k1 = t3.filter(col("k") === 1)
      .orderBy("valid_from")
      .select("name", "valid_to", "is_current")
      .as[(String, String, Boolean)].collect().toSeq
    assert(k1 == Seq(
      ("a", "2024-03-01 00:00:00", false),
      ("a2", "9999-12-31 00:00:00", true)), s"k=1 history wrong: $k1")
  }

  test("compact: merges small files shuffle-free, data identical") {
    import org.apache.spark.sql.functions.col
    val path = Files.createTempDirectory("graft_compact").toString + "/t"
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    docs.repartition(24).write.parquet(path)
    def dataFiles = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(dataFiles >= 20, s"fixture should be fragmented, got $dataFiles files")

    val parts = Sinks.compact(spark, path, targetBytes = 1L << 30)
    assert(parts == 1)
    assert(dataFiles == 1, s"expected 1 compacted file, got $dataFiles")
    val back = spark.read.parquet(path)
    assert(back.exceptAll(docs).count() == 0 && docs.exceptAll(back).count() == 0,
      "compaction must not change the data")
    // Compacting an already-compact table is a cheap no-op shape. (Fresh
    // read afterwards: a pre-swap DataFrame holds the OLD file listing —
    // the documented plain-parquet caveat of swap-based rewrites.)
    assert(Sinks.compact(spark, path, targetBytes = 1L << 30) == 1)
    assert(spark.read.parquet(path).count() == docs.count())
  }

  test("upsertStatement: Postgres MERGE spelling with EXCLUDED updates") {
    val sql = Sinks.upsertStatement("dim_publisher",
      Seq("pub_id", "publisher_name", "n"), Seq("pub_id"))
    assert(sql == "INSERT INTO dim_publisher (pub_id, publisher_name, n) " +
      "VALUES (?, ?, ?) ON CONFLICT (pub_id) DO " +
      "UPDATE SET publisher_name = EXCLUDED.publisher_name, n = EXCLUDED.n")
    // Key-only table degrades to DO NOTHING (pure MERGE-on-insert).
    val keyOnly = Sinks.upsertStatement("bridge", Seq("a", "b"), Seq("a", "b"))
    assert(keyOnly.endsWith("ON CONFLICT (a, b) DO NOTHING"))
    intercept[IllegalArgumentException] {
      Sinks.upsertStatement("t", Seq("a"), Seq("missing"))
    }
  }

  test("upsertJdbc: per-partition batched upserts reach the connection") {
    // No JDBC driver ships in this container; a recording stub connection
    // proves the transport shape — one connection per partition, every
    // row lands exactly once through the ON CONFLICT statement.
    import spark.implicits._
    val df = Seq((1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e"))
      .toDF("k", "v").repartition(2)
    JdbcStub.reset()
    Sinks.upsertJdbc(df, "t", Seq("k"), () => JdbcStub.connection(), batchSize = 2)
    assert(JdbcStub.connections.get() == 2, "one connection per partition")
    assert(JdbcStub.rows.size() == 5, s"all rows batched: ${JdbcStub.rows}")
    val seen = (0 until JdbcStub.rows.size()).map(JdbcStub.rows.get).toSet
    assert(seen == Set("1|a", "2|b", "3|c", "4|d", "5|e"))
    assert(JdbcStub.sql.get().startsWith("INSERT INTO t (k, v)"))
  }

  test("csv round-trips with header") {
    val dir = Files.createTempDirectory("graft_sink").toString
    val dim = operators.Dwh.dimCustomer(spark, sfDir)
    Sinks.writeCsv(dim, s"$dir/dim")
    val back = spark.read.option("header", "true").csv(s"$dir/dim")
    assert(back.count() == dim.count())
    assert(back.columns.sorted.sameElements(dim.columns.sorted))
  }

  test("graph sink: statement shapes match the reference load idioms") {
    import graft.sources.GraphSink
    val node = GraphSink.nodeMergeStatement("Supplier", "supp_id",
      Seq("name", "nation"))
    assert(node.startsWith("UNWIND $batch AS row"))
    assert(node.contains("MERGE (n:Supplier {supp_id: row.supp_id})")
      && node.contains("SET n.name = row.name, n.nation = row.nation"),
      s"node statement malformed:\n$node")
    val edge = GraphSink.edgeMergeStatement("Supplier", "supp_id",
      "Supplier", "supp_id", "COLLABORATED_WITH", "supp_a", "supp_b",
      Seq("collab_count"))
    assert(edge.contains("MERGE (a)-[r:COLLABORATED_WITH]->(b)")
      && edge.contains("SET r.collab_count = row.collab_count")
      && !edge.contains("ON MATCH"),
      s"default edge statement must SET payload props (replay-idempotent)," +
        s" not count:\n$edge")
    val counting = GraphSink.edgeCountingStatement("Supplier", "supp_id",
      "Supplier", "supp_id", "COLLABORATED_WITH", "supp_a", "supp_b")
    assert(counting.contains("ON CREATE SET r.count = 1")
      && counting.contains("ON MATCH SET r.count = r.count + 1"),
      s"counting variant must carry the cql MERGE counter idiom:\n$counting")
    assert(GraphSink.indexStatement("Supplier", "supp_id")
      .contains("IF NOT EXISTS"))
    intercept[IllegalArgumentException] {
      GraphSink.nodeMergeStatement("Bad Label;", "id", Nil)
    }
  }

  test("graph sink: staged load batches are bounded, complete, and " +
      "replay through the transport in order") {
    import graft.sources.GraphSink
    import graft.sources.GraphSink.LoadUnit
    val out = java.nio.file.Files.createTempDirectory("graft_graph").toString
    val nodes = Tables.supplier(spark, sfDir)
      .select(col("s_suppkey").as("supp_id"), col("s_name").as("name"))
    val edges = operators.Analytics.collabPairs(spark, sfDir)
      .select(col("supp_a"), col("supp_b"), col("collab_count"))
    val units = Seq(
      LoadUnit("suppliers",
        GraphSink.nodeMergeStatement("Supplier", "supp_id", Seq("name")))
        -> nodes,
      LoadUnit("collab_edges",
        GraphSink.edgeMergeStatement("Supplier", "supp_id", "Supplier",
          "supp_id", "COLLABORATED_WITH", "supp_a", "supp_b",
          Seq("collab_count"))) -> edges)
    val statements = GraphSink.stageLoad(out,
      Seq("Supplier" -> "supp_id"), units, batchSize = 500)
    // indexes precede load statements (databases.py creates them first)
    assert(statements.head.startsWith("CREATE INDEX"))
    assert(new java.io.File(s"$out/statements.cypher").isFile)

    val calls = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int)]
    var totalRows = 0L
    val applied = GraphSink.applyLoad(out, units.map(_._1), {
      (stmt, batch) =>
        calls += ((stmt, batch.size)); totalRows += batch.size
    })
    // the reference's 500-row batch unit is a hard per-call bound
    assert(calls.forall(_._2 <= 500), "a batch exceeded batchSize")
    // every staged row reaches the transport exactly once
    assert(totalRows == nodes.count() + edges.count(),
      s"transport saw $totalRows rows")
    assert(applied.values.sum == calls.size.toLong)
    // node batches replay before edge batches (manifest order: MATCH
    // needs its endpoints loaded)
    val firstEdgeCall = calls.indexWhere(_._1.contains("COLLABORATED_WITH"))
    val lastNodeCall = calls.lastIndexWhere(_._1.contains("MERGE (n:Supplier"))
    assert(lastNodeCall < firstEdgeCall,
      "edges must not replay before their endpoint nodes")
  }

  test("graph sink: an empty or re-compressed staging fails loud, " +
      "never a silent 0-batch load") {
    import graft.sources.GraphSink
    import graft.sources.GraphSink.LoadUnit
    val out = java.nio.file.Files.createTempDirectory("graft_graph_empty").toString
    val unit = LoadUnit("ghosts",
      GraphSink.nodeMergeStatement("Ghost", "id", Nil))
    // a staged dir with no .json payload files (codec suffix) — the
    // filter must not silently skip it
    val dir = new java.io.File(out, "ghosts"); dir.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-0000.json.gz").toPath, "not-json")
    val eGz = intercept[IllegalArgumentException] {
      GraphSink.applyLoad(out, Seq(unit), (_, _) => ())
    }
    assert(eGz.getMessage.contains("no .json payload files")
      && eGz.getMessage.contains("part-0000.json.gz"), eGz.getMessage)
    // a staging whose only payload file is EMPTY (zero rows written)
    java.nio.file.Files.delete(new java.io.File(dir, "part-0000.json.gz").toPath)
    java.nio.file.Files.writeString(
      new java.io.File(dir, "part-0000.json").toPath, "")
    val eEmpty = intercept[IllegalArgumentException] {
      GraphSink.applyLoad(out, Seq(unit), (_, _) => ())
    }
    assert(eEmpty.getMessage.contains("0 batches"), eEmpty.getMessage)
    // and writeBatches itself pins compression off, so a configured
    // codec cannot produce the .gz staging in the first place
    val ok = java.nio.file.Files.createTempDirectory("graft_graph_codec").toString
    GraphSink.writeBatches(
      Tables.region(spark, sfDir).select(col("r_regionkey").as("id")),
      ok, "regions")
    val names = new java.io.File(ok, "regions").listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(names.nonEmpty && names.forall(_.endsWith(".json")),
      s"staged files not plain .json: ${names.mkString(", ")}")
  }

  test("graph sink: a unit that legitimately stages zero rows is a " +
      "declared no-op, not an unreplayable load") {
    import graft.sources.GraphSink
    import graft.sources.GraphSink.LoadUnit
    val out = java.nio.file.Files.createTempDirectory("graft_graph_noop").toString
    val emptyMart = Tables.region(spark, sfDir)
      .select(col("r_regionkey").as("id")).filter(col("id") < 0)
    // an UNDECLARED zero-row staging is a bug and fails AT STAGING TIME
    // — the intent, not the outcome, decides (a marker stamped on every
    // empty would silently absorb a broken join key)
    val eUndeclared = intercept[IllegalArgumentException] {
      GraphSink.writeBatches(emptyMart, out, "ghosts")
    }
    assert(eUndeclared.getMessage.contains("expectEmpty"),
      eUndeclared.getMessage)
    // a mart the caller KNOWS may filter to nothing declares it — the
    // advice case: staged marker, 0-batch no-op load, replayable
    GraphSink.writeBatches(emptyMart, out, "ghosts", expectEmpty = true)
    val unit = LoadUnit("ghosts", GraphSink.nodeMergeStatement("Ghost", "id", Nil))
    var calls = 0
    val applied = GraphSink.applyLoad(out, Seq(unit), (_, _) => calls += 1)
    assert(applied == Map("ghosts" -> 0L) && calls == 0,
      s"declared-empty unit must no-op: applied=$applied calls=$calls")
    assert(new java.io.File(s"$out/ghosts", "_EMPTY").isFile)
    // declaring expectEmpty on a NONEMPTY mart stamps no marker and
    // loads normally — the declaration widens, never weakens
    GraphSink.writeBatches(
      Tables.region(spark, sfDir).select(col("r_regionkey").as("id")),
      out, "real", expectEmpty = true)
    assert(!new java.io.File(s"$out/real", "_EMPTY").exists())
  }
}
