package graft

import graft.streaming.StreamingCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Incremental (streaming) curation: micro-batches dedup against the
  * STANDING corpus + materialized band index, survivors append, and
  * replayed batches are absorbed by the content-hash check.
  */
case class StreamDoc(doc_id: Long, text: String, lang: String,
    source: String, n_chars: Long)

class StreamingCurationSpec extends SparkSpec {

  /** Jobs one ingest of the job-ceiling test's fixed batch may start:
    * 32 with the batch evaluated once and banded once. Evaluating steps
    * 1–3 again for each consumer of the batch runs 37.
    */
  private val JobCeiling = 32

  private def docRows() = {
    val docs = Tables.documents(spark, sfDir)
    val passing = docs.join(
      operators.TextAnalysis.gopherRulesDf(docs)
        .filter(col("pass")).select(col("doc_id")),
      Seq("doc_id"), "left_semi")
    passing.orderBy(col("doc_id")).limit(40).collect().map(r =>
      StreamDoc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"),
        r.getAs[Long]("n_chars")))
  }

  /** The side tables are what the corpus derives: the index is
    * `Dedup.lshBandsDf(corpus)` and the hashes are `md5(text)` of the
    * corpus, each as a multiset (counts plus `exceptAll` both ways).
    */
  private def assertSideTables(corpusPath: String, indexPath: String): Unit = {
    val corpus = spark.read.parquet(corpusPath)
    def same(name: String, got: DataFrame, want: DataFrame): Unit = {
      assert(got.count() === want.count(), s"$name row count")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
        s"$name differs from what the corpus derives")
    }
    same("index", spark.read.parquet(indexPath).select("doc_id", "band_key"),
      operators.Dedup.lshBandsDf(corpus).select("doc_id", "band_key"))
    same("hashes", spark.read.parquet(corpusPath + "_hashes"),
      corpus.select(md5(col("text")).as("content_hash")))
  }

  test("streaming curation: standing-corpus dedup, index probe, replay absorption") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_streamcur").toString
    val corpusPath = s"$out/corpus"
    val indexPath = s"$out/index"
    val rows = docRows()
    val batch1 = rows.take(30)
    val rest = rows.drop(30)

    val n1 = StreamingCuration.ingestBatch(spark, batch1.toSeq.toDF(),
      corpusPath, indexPath)
    assert(n1 > 0, "first batch must land survivors")
    val corpus1 = spark.read.parquet(corpusPath)
    assert(corpus1.count() == n1)
    // index covers exactly the corpus
    assert(spark.read.parquet(indexPath).select("doc_id").distinct().count()
      == corpus1.select("doc_id").distinct().count())
    assertSideTables(corpusPath, indexPath)

    // Pick a genuinely-new doc: from the held-out rows, one that is
    // neither an exact copy nor a MinHash near-dup of anything already
    // ingested (natural near-dups exist in the synthetic corpus — the
    // spec must not trip over one).
    val all40 = rows.toSeq.toDF()
    val pairedIds = operators.Dedup.minhashPairsDf(all40)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    val corpusTexts = corpus1.select("text").collect().map(_.getString(0)).toSet
    val novel = rest.filter(d => !pairedIds.contains(d.doc_id)
      && !corpusTexts.contains(d.text))
    assert(novel.length >= 2, "need two held-out fresh docs")
    val fresh = novel(0)

    val survivor = corpus1.orderBy(col("doc_id")).collect()
    // batch 2: an exact dup of a survivor (new id, same text), a near
    // dup (survivor text + a short tail — shingle overlap stays far
    // above the 0.5 verify threshold), and the genuinely-new doc.
    val nearBase = survivor(1)
    val batch2 = Seq(
      StreamDoc(90001L, survivor(0).getAs[String]("text"), "en", "srcX", 0L),
      StreamDoc(90002L, nearBase.getAs[String]("text") + " tail tweak words",
        "en", "srcX", 0L),
      fresh)
    // Drive batch 2 through the OVER-CAP fallback (cap 0 forces the
    // distributed semi-join pruning) — the hot-band-key code path must
    // reach the same verdicts as the steady-state isin path, which the
    // replay below exercises at the default cap.
    spark.conf.set("spark.graft.candidateIdCap", "0")
    val n2 =
      try StreamingCuration.ingestBatch(spark, batch2.toDF(),
        corpusPath, indexPath)
      finally spark.conf.unset("spark.graft.candidateIdCap")
    val corpus2 = spark.read.parquet(corpusPath)
    assert(n2 == 1, s"only the fresh doc should survive batch 2, got $n2")
    val ids = corpus2.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.contains(fresh.doc_id) && !ids.contains(90001L)
      && !ids.contains(90002L),
      "exact/near dup leaked into the corpus or the fresh doc was dropped")
    assertSideTables(corpusPath, indexPath)

    // Replay: the same batch re-ingested is absorbed entirely (every
    // doc either already appended or already rejected against the same
    // standing state) — content-level idempotence without a MERGE sink.
    val n3 = StreamingCuration.ingestBatch(spark, batch2.toDF(),
      corpusPath, indexPath)
    assert(n3 == 0, s"replayed batch appended $n3 docs")
    assert(spark.read.parquet(corpusPath).count() == corpus2.count())
    assertSideTables(corpusPath, indexPath)

    // batch 4: an IN-BATCH near-dup pair of a second novel doc — the
    // higher id loses to the within-batch MinHash pass before the index
    // probe, so it lands in no table
    val keeper = novel(1)
    val loser = StreamDoc(90003L, keeper.text + " tail tweak words", "en",
      "srcX", 0L)
    val batch4 = Seq(keeper, loser).toDF()
    assert(operators.Dedup.minhashPairsDf(batch4).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      === Seq((keeper.doc_id, 90003L)), "batch 4 must hold one near-dup pair")
    assert(operators.TextAnalysis.gopherRulesDf(batch4).filter(col("pass"))
      .count() === 2L, "both batch-4 docs must pass the quality gate")
    val n4 = StreamingCuration.ingestBatch(spark, batch4, corpusPath, indexPath)
    assert(n4 == 1, s"only the pair's keeper should survive batch 4, got $n4")
    val corpus4 = spark.read.parquet(corpusPath)
    assert(corpus4.columns.toSeq === batch4.columns.toSeq,
      "the corpus schema must stay the batch's schema")
    assert(corpus4.filter(col("doc_id") === keeper.doc_id).count() === 1L)
    assert(corpus4.filter(col("doc_id") === 90003L).isEmpty,
      "in-batch near-dup loser landed in the corpus")
    assert(spark.read.parquet(indexPath).filter(col("doc_id") === 90003L).isEmpty,
      "in-batch near-dup loser landed in the index")
    assert(spark.read.parquet(corpusPath + "_hashes")
      .filter(col("content_hash") === md5(lit(loser.text))).isEmpty,
      "in-batch near-dup loser landed in the hashes")
    assertSideTables(corpusPath, indexPath)
  }

  test("streaming curation: one ingest of a fixed batch onto a standing " +
      "corpus stays under its job ceiling") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_streamcur_jobs").toString
    val corpusPath = s"$out/corpus"
    val indexPath = s"$out/index"
    val rows = docRows()
    StreamingCuration.ingestBatch(spark, rows.take(20).toSeq.toDF(),
      corpusPath, indexPath)
    // ten new docs, an exact copy and a near copy of a corpus doc: every
    // stage runs, the index probe collects candidates and verifies them
    val base = spark.read.parquet(corpusPath).orderBy(col("doc_id"))
      .select("text").head(2).map(_.getString(0))
    val batch = (rows.slice(20, 30).toSeq ++ Seq(
      StreamDoc(92001L, base(0), "en", "srcJ", 0L),
      StreamDoc(92002L, base(1) + " tail tweak words", "en", "srcJ", 0L))).toDF()
    val (n, jobs) = jobsOf(StreamingCuration.ingestBatch(spark, batch,
      corpusPath, indexPath))
    assert(n > 0 && n <= 10, s"survivors: $n")
    assert(jobs <= JobCeiling, s"one ingest ran $jobs jobs (ceiling $JobCeiling)")
  }

  test("spark.graft.candidateIdCap must be an integer in [0, Int.MaxValue), " +
      "read before any job") {
    import spark.implicits._
    val key = "spark.graft.candidateIdCap"
    assert(StreamingCuration.candidateIdCap(spark) === 10000)
    val out = Files.createTempDirectory("graft_streamcur_cap").toString
    val batch = docRows().take(5).toSeq.toDF()
    try {
      for ((ok, want) <- Seq("0" -> 0, " 7 " -> 7,
          "2147483646" -> (Int.MaxValue - 1))) {
        spark.conf.set(key, ok)
        assert(StreamingCuration.candidateIdCap(spark) === want)
      }
      for (bad <- Seq("-1", "2147483647", "9999999999", "abc", "4.5", "")) {
        spark.conf.set(key, bad)
        val e = intercept[IllegalArgumentException](
          StreamingCuration.candidateIdCap(spark))
        assert(e.getMessage.contains(key), e.getMessage)
        val (eIngest, jobs) = jobsOf(intercept[IllegalArgumentException](
          StreamingCuration.ingestBatch(spark, batch, s"$out/corpus",
            s"$out/index")))
        assert(eIngest.getMessage.contains(key), eIngest.getMessage)
        assert(jobs === 0, s"cap '$bad' failed only after $jobs job(s)")
      }
    } finally spark.conf.unset(key)
    assert(!new java.io.File(s"$out/corpus").exists(),
      "a rejected cap must leave no table behind")
  }

  test("streaming curation: semantic probe — survivors checked against " +
      "the standing ANN index per micro-batch, batch ≡ stream parity") {
    val out = Files.createTempDirectory("graft_streamsem").toString
    val corpusPath = s"$out/corpus"
    val indexPath = s"$out/index"
    val annPath = corpusPath + "_annindex"
    // embedded documents: the gopher-passing docs joined to their
    // embeddings (vec_id = doc_id — the embedded-subset convention)
    val docs = Tables.documents(spark, sfDir)
    val embedded = docs.join(
        operators.TextAnalysis.gopherRulesDf(docs)
          .filter(col("pass")).select(col("doc_id")), Seq("doc_id"), "left_semi")
      .join(Tables.embeddings(spark, sfDir)
        .select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"), col("embedding"))
      .orderBy(col("doc_id")).limit(40)
    val schema = embedded.schema
    val rows = embedded.collect()
    def toDf(rs: Seq[org.apache.spark.sql.Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rs), schema)
    val b1 = rows.take(30); val rest = rows.drop(30)

    val n1 = StreamingCuration.ingestBatch(spark, toDf(b1.toSeq),
      corpusPath, indexPath)
    assert(n1 > 0)
    // index maintenance: every (embedded) survivor is probe-able
    val corpus1 = spark.read.parquet(corpusPath)
    assert(spark.read.parquet(annPath).select("vec_id").distinct().count()
      === corpus1.count())

    // two held-out texts that are neither exact nor MinHash near-dups
    // of anything ingested (the docRows-test discipline)
    val pairedIds = operators.Dedup.minhashPairsDf(toDf(rows.toSeq))
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct().collect().map(_.getLong(0)).toSet
    val corpusTexts = corpus1.select("text").collect().map(_.getString(0)).toSet
    val freshTexts = rest.filter(r => !pairedIds.contains(r.getLong(0))
      && !corpusTexts.contains(r.getString(1)))
    assert(freshTexts.length >= 2, "need two held-out fresh texts")

    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val survEmb = corpus1.select("embedding").collect()
      .map(_.getSeq[Float](0))
    // a SEMANTIC dup: fresh text, embedding copied from a survivor
    // (cosine 1.0 — passes every lexical stage, only 4b can catch it)
    val dupEmb = survEmb.head
    // a semantically NOVEL doc: held-out embedding far from every
    // survivor (margin under the 0.3 floor)
    val novelEmb = rest.map(_.getSeq[Float](5))
      .find(e => survEmb.forall(s => cos(e, s) < 0.25))
    assert(novelEmb.isDefined,
      "no held-out embedding under 0.25 cosine vs all survivors")
    import org.apache.spark.sql.Row
    val b2 = Seq(
      Row(91001L, freshTexts(0).getString(1), "en", "srcY", 0L, dupEmb),
      Row(91002L, freshTexts(1).getString(1), "en", "srcY", 0L,
        novelEmb.get))

    // batch ≡ stream PARITY, probed on the PRE-batch index snapshot:
    // the batch-side AnnIndex.probe contract (R15OpsSpec pins it equal
    // to recompute) must name exactly the docs the stream drops
    val expectedDrops = sources.AnnIndex.probe(spark, annPath,
        toDf(b2).select(col("doc_id").as("vec_id"), col("embedding")), 1)
      .filter(col("cosine") >= 0.3)
      .select("query_id").collect().map(_.getLong(0)).toSet
    assert(expectedDrops === Set(91001L))

    val n2 = StreamingCuration.ingestBatch(spark, toDf(b2),
      corpusPath, indexPath)
    assert(n2 === 1L, s"only the semantically novel doc survives, got $n2")
    val ids2 = spark.read.parquet(corpusPath)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids2.contains(91002L) && !ids2.contains(91001L))
    // the survivor's embedding joined the index for the NEXT batch
    assert(spark.read.parquet(annPath)
      .filter(col("vec_id") === 91002L).count() === 1L)
    // ALL side tables kept pace across batches (regression pin: the
    // live corpus append used to evict the survivor cache — any plan
    // reading a written path is invalidated — so batch-2+ hash/ann
    // appends re-evaluated against the updated tables, deduped the
    // batch against itself, and wrote EMPTY; the survivor frame is
    // checkpointed lineage-free now)
    val nLive = spark.read.parquet(corpusPath).count()
    assert(spark.read.parquet(corpusPath + "_hashes").count() === nLive)
    assert(spark.read.parquet(indexPath)
      .select("doc_id").distinct().count() === nLive)
    assert(spark.read.parquet(annPath).count() === nLive)

    // flag parity: a batch WITHOUT the embedding column rides the
    // unembedded pipeline untouched — no probe, no index append
    val annCount = spark.read.parquet(annPath).count()
    val b3 = Seq(StreamDoc(91003L, freshTexts(0).getString(1) + " zq extra",
      "en", "srcZ", 0L))
    import spark.implicits._
    val n3 = StreamingCuration.ingestBatch(spark, b3.toDF(),
      corpusPath, indexPath)
    assert(spark.read.parquet(annPath).count() === annCount,
      "an unembedded batch must not touch the ANN index")
    assert(n3 <= 1L)
  }

  test("streaming curation: candidate pruning is a distributed semi-join, never a driver-collected IN list") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_streamcur_p").toString
    val corpusPath = s"$out/corpus"
    docRows().take(10).toSeq.toDF()
      .write.mode("overwrite").parquet(corpusPath)
    val candIds = spark.read.parquet(corpusPath)
      .select(col("doc_id")).limit(5)
    val plan = StreamingCuration
      .candidateDocs(spark, corpusPath, candIds)
      .queryExecution.optimizedPlan
    // The pruning must survive as a JOIN in the optimized plan…
    val semiJoins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
    }
    assert(semiJoins.nonEmpty, s"no LeftSemi join in the candidate plan:\n$plan")
    // …and no candidate id may appear as a literal predicate — the
    // signature a collect()+isin rewrite would leave behind.
    val inLists = plan.collect { case n => n.expressions }.flatten.flatMap(_.collect {
      case i: org.apache.spark.sql.catalyst.expressions.In => i
      case i: org.apache.spark.sql.catalyst.expressions.InSet => i
    })
    assert(inLists.isEmpty,
      s"candidate ids were materialized into a literal IN list: $inLists")
  }

  test("streaming curation: a missing probe table degrades to the remaining checks, never a failed batch") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_streamcur_d").toString
    val corpusPath = s"$out/corpus"
    val indexPath = s"$out/index"
    val rows = docRows()
    StreamingCuration.ingestBatch(spark, rows.take(20).toSeq.toDF(),
      corpusPath, indexPath)
    val corpus1 = spark.read.parquet(corpusPath)
    val survivorText = corpus1.orderBy(col("doc_id")).first().getAs[String]("text")

    // Simulate the crash window: corpus + index landed, hashes did not.
    def rm(p: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
    rm(java.nio.file.Paths.get(s"${out}/corpus_hashes"))

    // An exact dup must STILL be rejected: it shares every band key with
    // its original, so the index probe verifies it at jaccard 1.0 — the
    // two probe tables back each other up for exact duplicates.
    val n = StreamingCuration.ingestBatch(spark,
      Seq(StreamDoc(91001L, survivorText, "en", "srcX", 0L)).toDF(),
      corpusPath, indexPath)
    assert(n == 0, s"exact dup slipped past the degraded-mode index probe ($n)")
    assert(spark.read.parquet(corpusPath).filter(col("doc_id") === 91001L)
      .isEmpty, "dup row landed in the corpus")
  }

  test("streaming curation: a crash between the three appends converges on " +
      "replay to the exact non-crashed state") {
    import spark.implicits._
    val rows = docRows()
    val b1 = rows.take(15).toSeq
    val b2 = rows.slice(15, 30).toSeq
    val b3 = rows.slice(30, 40).toSeq

    // reference run: same batches, no crashes
    val ref = Files.createTempDirectory("graft_ledger_ref").toString
    val refN = Seq(0L -> b1, 1L -> b2, 2L -> b3).map { case (id, b) =>
      id -> StreamingCuration.ingestBatch(spark, b.toDF(),
        s"$ref/corpus", s"$ref/index", Some(id))
    }.toMap

    // crashed run: batch 1 killed after the corpus publish (index +
    // hashes stranded in staging), batch 2 killed after the index
    // publish — both windows of the former at-least-once residue
    val out = Files.createTempDirectory("graft_ledger").toString
    val corpusPath = s"$out/corpus"
    val indexPath = s"$out/index"
    def ingest(id: Long, b: Seq[StreamDoc]): Long =
      StreamingCuration.ingestBatch(spark, b.toDF(), corpusPath, indexPath,
        Some(id))
    val n0 = ingest(0L, b1)
    assert(n0 > 0)
    Seq("after-corpus-publish" -> (1L, b2), "after-index-publish" -> (2L, b3))
      .foreach { case (fp, (id, b)) =>
        spark.conf.set("spark.graft.failpoint", fp)
        val e = intercept[RuntimeException] { ingest(id, b) }
        assert(e.getMessage.contains(fp), e.getMessage)
        spark.conf.unset("spark.graft.failpoint")
        // the kill landed INSIDE the append sequence: staged but not
        // committed — exactly the window that used to re-append
        // (replay must RESUME the drain, not recompute)
        val ledger = new java.io.File(s"${corpusPath}_ledger")
        assert(ledger.listFiles().exists(_.getName == s"staged-b$id"))
        assert(!ledger.listFiles().exists(_.getName == s"committed-b$id"))
        val nReplay = ingest(id, b)
        assert(nReplay == refN(id),
          s"replay of killed batch $id returned $nReplay, expected ${refN(id)}")
      }

    // converged state ≡ the non-crashed reference run, table by table
    def rows3(base: String) = (
      spark.read.parquet(s"$base/corpus").select("doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq,
      spark.read.parquet(s"$base/index").select("band_key", "doc_id")
        .collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq,
      spark.read.parquet(s"${base}/corpus_hashes").select("content_hash")
        .collect().map(_.getString(0)).sorted.toSeq)
    assert(rows3(out) == rows3(ref),
      "crashed-and-replayed run diverged from the non-crashed run")

    // a replay of a COMMITTED batch short-circuits on the ledger,
    // returns the recorded survivor count, and changes nothing
    val before = rows3(out)
    assert(ingest(2L, b3) == refN(2L), "committed replay must return the " +
      "recorded survivor count")
    assert(rows3(out) == before, "committed replay mutated a table")

    // ledger hygiene: staged markers are pruned once their batch
    // commits (only committed markers persist, bounded by retention)
    val ledger = new java.io.File(s"${corpusPath}_ledger").listFiles()
      .map(_.getName).filterNot(_.endsWith(".tmp")).sorted
    assert(ledger.count(_.startsWith("staged-")) == 0,
      s"stale staged markers survive commit: ${ledger.mkString(", ")}")
    assert(ledger.count(_.startsWith("committed-")) == 3)

    // a replay whose committed marker was PRUNED (outside anything
    // Structured Streaming actually does) recomputes and falls through
    // to the CONTENT-level hash absorption: nothing re-appends
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"${corpusPath}_ledger", "committed-b2"))
    assert(ingest(2L, b3) == 0L,
      "pruned-ledger replay must be absorbed at the content level")
    assert(rows3(out) == before, "pruned-ledger replay mutated a table")
  }

  test("streaming curation: the foreachBatch wiring drives batches end to end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("graft_streamcur_q").toString
    val rows = docRows()
    val input = MemoryStream[StreamDoc]
    input.addData(rows.take(10).toSeq: _*)
    val q = StreamingCuration.start(spark, input.toDF(),
      s"$out/corpus", s"$out/index")
    try q.processAllAvailable() finally q.stop()
    assert(spark.read.parquet(s"$out/corpus").count() > 0)
    assert(spark.read.parquet(s"$out/index").count() > 0)
  }
}
