package graft.streaming

import graft.functions.TextOps
import graft.operators.{Dedup, TextAnalysis}
import graft.pipeline.CurationPipeline
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental corpus ingestion — the streaming twin of
  * [[graft.pipeline.CurationPipeline]]'s batch front half: documents
  * arrive continuously, each micro-batch is quality-gated and deduped
  * against the STANDING corpus, and the survivors append to the corpus
  * table, the LSH band index, and a narrow content-hash table — so all
  * three are current for the very next batch. This is the rolling shape
  * a 100 TB training-data lake actually runs, and per-batch cost NEVER
  * scales with the corpus:
  *
  *   - exact dedup probes the content-HASH table (one 32-char column —
  *     not a re-hash of the corpus text);
  *   - near dedup first narrows to candidate indexed docs via the band
  *     index (collisions only), then reads the corpus doc_id-PRUNED to
  *     those candidates for the shingle verify;
  *   - the corpus text itself is read only for verify candidates.
  *
  * Stages per micro-batch (all decisions deterministic):
  *   1. within-batch exact dedup (min-id per content hash);
  *   2. quality gate (gopher rules — same predicate as the batch
  *      pipeline's stage 1);
  *   3. exact dedup vs the corpus: anti-join on the content-hash table;
  *   4. near dedup: the batch left by steps 1–3 is checkpointed once
  *      with its verify shingles and banded once; within-batch MinHash
  *      pair losers drop first (from those bands and shingles), then
  *      survivors probe the on-disk band index
  *      ([[CurationPipeline.probeLshIndex]] over the candidate-pruned
  *      corpus slice) with those bands minus the losers' rows;
  *   4b. SEMANTIC dedup (embedded corpora only — batches carrying an
  *      `embedding` column): survivors probe the standing
  *      [[graft.sources.AnnIndex]] lake table per micro-batch and drop
  *      at the engine's shared cosine floor; corpora without
  *      embeddings skip the stage entirely;
  *   5. append survivors' rows, band keys, content hashes — and, for
  *      embedded corpora, their bucket-partitioned ANN index rows.
  *
  * Replay safety — two independent layers:
  *
  *   - CONTENT level: foreachBatch is at-least-once, and a replayed
  *     batch re-enters stage 3, where every previously-appended doc
  *     hash-matches and drops out — full-batch replays are absorbed
  *     even with no batch identity at all (spec-proven; this is the
  *     whole story for direct [[ingestBatch]] callers).
  *   - BATCH level (closes the former crash-window residue): when a
  *     batch id is supplied (the [[start]] wiring always does), the
  *     three appends run through a per-batch LEDGER. Survivor rows,
  *     band keys, and content hashes are first STAGED to a
  *     batch-scoped pending dir (recompute-safe: overwrite mode), a
  *     `staged` marker records the batch, and only then are the staged
  *     part files PUBLISHED by per-file rename into the live tables,
  *     followed by a `committed` marker. A crash anywhere resolves on
  *     replay: before `staged` → recompute from scratch (live tables
  *     untouched); between `staged` and `committed` — the exact
  *     corpus-landed-hashes-missing window that used to re-append —
  *     → the drain RESUMES from the surviving staged files (each file
  *     moves at most once, so the live tables end with exactly one
  *     copy; the batch is never recomputed once staged, so no
  *     second-generation files can land beside published ones); after
  *     `committed` → the batch is skipped outright and returns its
  *     recorded survivor count. (An ACID table format replaces the
  *     ledger with one transactional append; the semantics match.)
  */
object StreamingCuration {

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Whether `path` holds at least one parquet part file (one hive
    * partition level deep — the ann index's bucket=N layout). A merely
    * EXISTING dir is not enough to probe: reading an empty dir fails
    * schema inference, and an all-null-embedding batch can legally
    * stage zero ann rows.
    */
  private def hasParquet(spark: SparkSession, path: String): Boolean = {
    val (fs, p) = fsFor(spark, path)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      (s.isFile && s.getPath.getName.startsWith("part-"))
        || (s.isDirectory && s.getPath.getName.contains("=")
          && fs.listStatus(s.getPath).exists(f =>
            f.isFile && f.getPath.getName.startsWith("part-"))))
  }

  /** The narrow exact-dedup probe table that rides along with the
    * corpus: one `content_hash` column, appended batch-by-batch.
    */
  private def hashesPath(corpusPath: String): String = corpusPath + "_hashes"

  /** The SEMANTIC probe table that rides along with the corpus when
    * batches carry an `embedding` column: the
    * [[graft.sources.AnnIndex]] lake layout (parquet partitioned by
    * hyperplane bucket), appended batch-by-batch like the band index.
    */
  private def annIndexPath(corpusPath: String): String =
    corpusPath + "_annindex"

  /** The near-duplicate cosine floor shared with the batch-side
    * semantic family (`semdedup_incremental` / `dedup_embedding` /
    * `decontaminate_semantic` — one literal across the engine).
    */
  private val SemTau = graft.operators.Similarity.SemDecontamThreshold

  /** Batch-ledger layout (see the replay-safety note above): markers in
    * `<corpus>_ledger/`, staged outputs in `<corpus>_pending/b<id>/`.
    */
  private def ledgerDir(corpusPath: String): String = corpusPath + "_ledger"
  private def pendingDir(corpusPath: String, batchId: Long): String =
    s"${corpusPath}_pending/b$batchId"

  private def fsFor(spark: SparkSession, path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Write marker `name` with content `n` — temp-file + rename so a
    * half-written marker is never taken for a real one.
    */
  private def writeMarker(spark: SparkSession, corpusPath: String,
      name: String, n: Long): Unit = {
    val (fs, dir) = fsFor(spark, ledgerDir(corpusPath))
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, name + ".tmp")
    val fin = new org.apache.hadoop.fs.Path(dir, name)
    val out = fs.create(tmp, true)
    try out.writeBytes(n.toString) finally out.close()
    fs.delete(fin, false)
    if (!fs.rename(tmp, fin))
      throw new java.io.IOException(s"cannot commit ledger marker $fin")
  }

  private def readMarker(spark: SparkSession, corpusPath: String,
      name: String): Option[Long] = {
    val (fs, dir) = fsFor(spark, ledgerDir(corpusPath))
    val p = new org.apache.hadoop.fs.Path(dir, name)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        Some(buf.readLine().trim.toLong)
      } finally in.close()
    }
  }

  /** Spec-only crash injection: set `spark.graft.failpoint` to a window
    * name to kill the publish sequence at that exact point.
    */
  private def failpoint(spark: SparkSession, name: String): Unit =
    if (spark.conf.get("spark.graft.failpoint", "") == name)
      throw new RuntimeException(s"injected crash at failpoint '$name'")

  /** Publish one staged table by PER-FILE rename into the live dir,
    * batch-prefixing the names so batches never collide. Rename is
    * atomic per file and each staged file moves at most once, so a
    * resumed drain (src gone → skip; src present → move) converges to
    * exactly one live copy of every staged file.
    */
  private def publishDir(spark: SparkSession, src: String, dst: String,
      batchId: Long): Unit = {
    val (fs, srcP) = fsFor(spark, src)
    if (!fs.exists(srcP)) return
    val entries = fs.listStatus(srcP).filter(s =>
      (s.isFile && s.getPath.getName.startsWith("part-"))
        || (s.isDirectory && s.getPath.getName.contains("=")))
    // nothing to move → leave the live dir UNTOUCHED: an mkdirs here
    // would create an empty live table that exists() then treats as a
    // probe-able parquet dir (read fails on schema inference)
    if (entries.isEmpty) return
    val (_, dstP) = fsFor(spark, dst)
    fs.mkdirs(dstP)
    entries.iterator.foreach { s =>
      if (s.isFile && s.getPath.getName.startsWith("part-")) {
        val to = new org.apache.hadoop.fs.Path(dstP,
          s"b$batchId-${s.getPath.getName}")
        if (fs.exists(to)) fs.delete(s.getPath, false): Unit
        else if (!fs.rename(s.getPath, to))
          throw new java.io.IOException(s"cannot publish ${s.getPath} -> $to")
      } else if (s.isDirectory && s.getPath.getName.contains("=")) {
        // one level of hive partition dirs (the ann index's bucket=N
        // layout): publish each partition's files into the SAME
        // partition under the live dir, preserving the layout the
        // probe's static partition filter prunes on
        publishDir(spark, s.getPath.toString,
          new org.apache.hadoop.fs.Path(dstP, s.getPath.getName).toString,
          batchId)
      }
    }
  }

  /** How many committed markers the ledger retains behind the newest
    * one. foreachBatch only ever replays the most recent uncommitted
    * epochs, so old markers are dead weight — at one batch a minute an
    * unbounded ledger is half a million files a year in one directory.
    * A replay arriving for a PRUNED id (outside anything Structured
    * Streaming actually does) recomputes the batch and falls through to
    * the CONTENT-level hash absorption — the layer-1 safety net — so
    * retention bounds the ledger without opening a correctness hole.
    */
  private val LedgerRetain = 64L

  /** Drain all three staged tables into the live ones, commit the
    * ledger marker, clean up (including the now-redundant staged marker
    * and any committed markers past the retention window). Safe to call
    * again after a crash at any point — see [[publishDir]].
    */
  private def publishStaged(spark: SparkSession, corpusPath: String,
      indexPath: String, batchId: Long, n: Long): Unit = {
    val pend = pendingDir(corpusPath, batchId)
    publishDir(spark, s"$pend/corpus", corpusPath, batchId)
    failpoint(spark, "after-corpus-publish")
    publishDir(spark, s"$pend/index", indexPath, batchId)
    failpoint(spark, "after-index-publish")
    publishDir(spark, s"$pend/hashes", hashesPath(corpusPath), batchId)
    failpoint(spark, "after-hashes-publish")
    publishDir(spark, s"$pend/annindex", annIndexPath(corpusPath), batchId)
    writeMarker(spark, corpusPath, s"committed-b$batchId", n)
    val (fs, pendP) = fsFor(spark, pend)
    fs.delete(pendP, true)
    pruneLedger(spark, corpusPath, batchId)
  }

  /** Drop the staged marker of the just-committed batch and any
    * markers `LedgerRetain`+ batches behind it.
    */
  private def pruneLedger(spark: SparkSession, corpusPath: String,
      batchId: Long): Unit = {
    val (fs, dir) = fsFor(spark, ledgerDir(corpusPath))
    val Marker = "(staged|committed)-b([0-9]+)".r
    fs.listStatus(dir).foreach { s =>
      s.getPath.getName match {
        case Marker(kind, id)
            if id.toLong + (if (kind == "staged") 0L else LedgerRetain)
              <= batchId =>
          fs.delete(s.getPath, false): Unit
        case _ => ()
      }
    }
  }

  /** Max candidate ids the near-dup probe may materialize on the driver
    * for the isin fast path. Under the cap, a literal id filter reaches
    * the corpus parquet scan as a pushed-down predicate — the cheapest
    * possible pruned read, and 10⁴ longs is ~80 KB of driver memory.
    * OVER the cap (one hot band key — a boilerplate template shared
    * corpus-wide — makes the candidate set corpus-proportional), the
    * probe falls back to [[candidateDocs]]' distributed semi-join, so
    * the hot-key case costs a join, never a driver OOM or a
    * megaliteral IN predicate. Tunable per workload via
    * `spark.graft.candidateIdCap`, default 10000: an integer with
    * 0 ≤ cap < Int.MaxValue (0 forces the semi-join path). Anything
    * else fails naming the key — a negative cap would collect no
    * candidates and silently skip the verify.
    */
  private[graft] def candidateIdCap(spark: SparkSession): Int = {
    val raw = spark.conf.get("spark.graft.candidateIdCap", "10000")
    raw.trim.toIntOption.filter(c => c >= 0 && c < Int.MaxValue)
      .getOrElse(throw new IllegalArgumentException(
        s"spark.graft.candidateIdCap must be an integer in [0, ${Int.MaxValue}), got '$raw'"))
  }

  /** Corpus slice holding the candidate indexed docs' text — a
    * DISTRIBUTED doc_id semi-join, the over-the-cap fallback exposed as
    * its own seam so the spec can pin the plan shape: past the cap the
    * candidate ids must never round-trip through the driver (no
    * collect → isin literal list). AQE picks the join strategy from
    * the runtime candidate count.
    */
  private[graft] def candidateDocs(spark: SparkSession,
      corpusPath: String, candIds: DataFrame): DataFrame =
    Sinks.readParquet(spark, corpusPath)
      .join(candIds, Seq("doc_id"), "left_semi")

  /** Curate ONE batch of documents against the standing corpus + index
    * at `corpusPath` / `indexPath` (created on first use). Returns the
    * number of surviving (appended) documents — the per-batch manifest
    * line. This batch-id-less form relies on CONTENT-level replay
    * absorption only (see the object doc); the streaming wiring calls
    * the ledgered overload.
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      corpusPath: String, indexPath: String): Long =
    ingestBatch(spark, batch, corpusPath, indexPath, None)

  /** [[ingestBatch]] with a stable batch identity: the three appends
    * run through the per-batch stage→publish→commit ledger, so a crash
    * BETWEEN appends is absorbed on replay (batch-level exactly-once —
    * the object doc's replay-safety note).
    */
  def ingestBatch(spark: SparkSession, batch: DataFrame,
      corpusPath: String, indexPath: String, batchId: Option[Long]): Long = {
    // validated before any work, so a bad value fails with no job run
    val cap = candidateIdCap(spark)
    val replayed: Option[Long] = batchId.flatMap { id =>
      readMarker(spark, corpusPath, s"committed-b$id").map { n =>
        // fully applied before (replay of a committed batch, or a crash
        // after commit but before pending cleanup): skip outright
        val (fs, pendP) = fsFor(spark, pendingDir(corpusPath, id))
        fs.delete(pendP, true)
        n
      }.orElse(readMarker(spark, corpusPath, s"staged-b$id").map { n =>
        // crashed between appends — the exact window that used to
        // re-append on replay: RESUME the drain from the surviving
        // staged files; never recompute a staged batch (a recompute
        // could land second-generation files beside published ones)
        publishStaged(spark, corpusPath, indexPath, id, n)
        n
      })
    }
    if (replayed.isDefined) return replayed.get
    // 1. within-batch exact dedup: keep the min-id copy per hash.
    val keepers = Dedup.dedupExactDf(batch)
      .select(col("keeper_doc_id").as("doc_id"))
    val exact = batch.join(keepers, Seq("doc_id"), "left_semi")

    // 2. quality gate — identical predicate to the batch pipeline.
    val passing = TextAnalysis.gopherRulesDf(exact)
      .filter(col("pass")).select(col("doc_id"))
    val quality = exact.join(passing, Seq("doc_id"), "left_semi")

    // Each probe table gates independently: after a crash inside the
    // step-5 append sequence a later table may be missing while an
    // earlier one landed — a missing table simply skips its check (the
    // at-least-once residue documented above), it never fails the batch.
    val hasHashes = exists(spark, hashesPath(corpusPath))
    val hasIndex = exists(spark, indexPath) && exists(spark, corpusPath)

    // 3. exact dedup vs the standing corpus — against the HASH table,
    // never a re-hash of the corpus text. A replayed batch's docs all
    // match here and drop: content-level idempotence.
    val fresh =
      if (!hasHashes) quality
      else
        quality.withColumn("content_hash", md5(col("text")))
          .join(Sinks.readParquet(spark, hashesPath(corpusPath)),
            Seq("content_hash"), "left_anti")
          .drop("content_hash")

    // 4. near dedup: within-batch pair losers first (lower id
    // dominates, the batch pipeline's stage-3 rule), then the standing
    // index probe. The verify step needs candidate INDEXED docs' text;
    // candidates come from band-key collisions only (index ⋈
    // broadcast(batchKeys) — the batch's distinct band keys are the
    // broadcast side, bounded by batch size), and the corpus read is
    // doc_id-PRUNED to them two ways by collision count: a SMALL
    // candidate set (≤ [[candidateIdCap]], the steady-state case) is
    // collected ONCE and pushed into the corpus scan as a literal id
    // predicate — one job, predicate-pushdown read; a LARGE one (a hot
    // band key making candidates corpus-proportional) is NEVER
    // materialized on the driver and prunes via [[candidateDocs]]'
    // distributed semi-join instead — AQE picks the join strategy from
    // runtime sizes. Slower in the hot case, never a driver OOM.
    //
    // The batch is evaluated, shingled and banded ONCE: `freshSh`
    // checkpoints steps 1–3 with the verify shingles riding along as
    // helper columns, `freshBands` checkpoints its one banding, and every
    // later frame derives from those two. Banding is per row, so the
    // clean batch's bands are the batch's bands anti-joined with the
    // losers — the key-collision probe, the index probe and the step-5
    // index append all read that one frame.
    val freshSh = graft.functions.Iterate.checkpoint(fresh
      .withColumn("__ic_sh", TextOps.sortedShingles3(col("text")))
      .withColumn("__ic_sz", size(col("__ic_sh"))))
    val freshBands = graft.functions.Iterate.checkpoint(Dedup.lshBandsDf(freshSh))
    val batchLosers = graft.functions.Iterate.checkpoint(Dedup
      .minhashPairsFrom(freshBands, freshSh.select(col("doc_id"),
        col("__ic_sh").as("sh"), col("__ic_sz").as("sz")))
      .select(col("doc_b").as("doc_id")).distinct())
    val batchClean = freshSh.drop("__ic_sh", "__ic_sz")
      .join(batchLosers, Seq("doc_id"), "left_anti")
      .transform(graft.functions.PlanGuard.persist(_))
    // lazy: a batch with no index to probe and no survivor never reads it
    lazy val cleanBands = graft.functions.Iterate.checkpoint(
      freshBands.join(batchLosers, Seq("doc_id"), "left_anti"))
    val survivors =
      if (!hasIndex) batchClean
      else {
        val batchKeys = cleanBands.select(col("band_key")).distinct()
        val candIdFrame = Sinks.readParquet(spark, indexPath)
          .join(broadcast(batchKeys), Seq("band_key"))
          .select(col("doc_id")).distinct()
        // One bounded job: ≤ cap+1 ids ever reach the driver. Empty →
        // skip the verify pipeline entirely (collision-free batch, the
        // common case once the corpus stabilizes).
        val capped = candIdFrame.limit(cap + 1).collect().map(_.getLong(0))
        if (capped.isEmpty) batchClean
        else {
          val candDocs =
            if (capped.length <= cap)
              Sinks.readParquet(spark, corpusPath)
                .filter(col("doc_id").isin(capped.toSeq: _*))
            else candidateDocs(spark, corpusPath, candIdFrame)
          val nearDups = CurationPipeline
            .probeLshIndex(spark, indexPath, candDocs, batchClean,
              Some(cleanBands))
            .select(col("new_doc").as("doc_id")).distinct()
          batchClean.join(nearDups, Seq("doc_id"), "left_anti")
        }
      }

    // 4b. SEMANTIC dedup — the embedding-layer twin of step 4, engaged
    // only when the batch carries an `embedding` column (corpora
    // without embeddings skip it entirely — the missing-probe-table
    // degradation rule): near-dup survivors probe the standing
    // [[graft.sources.AnnIndex]] lake table (multi-probe + exact
    // cosine, the batch-side semdedup_incremental contract) and drop
    // at the shared [[SemTau]] floor. NULL-embedding rows pass (no
    // evidence is not a verdict). The probe reads only the probed
    // bucket partitions — per-batch cost independent of index size,
    // exactly like the band-index probe above.
    val hasEmb = batch.columns.contains("embedding")
    val hasAnn = hasEmb && hasParquet(spark, annIndexPath(corpusPath))
    val semSurvivors =
      if (!hasAnn) survivors
      else {
        val q = survivors.filter(col("embedding").isNotNull)
          .select(col("doc_id").as("vec_id"), col("embedding"))
        val semDups = graft.sources.AnnIndex
          .probe(spark, annIndexPath(corpusPath), q, 1)
          .filter(col("cosine") >= SemTau)
          .select(col("query_id").as("doc_id")).distinct()
        survivors.join(semDups, Seq("doc_id"), "left_anti")
      }

    // 5. append survivors' rows, band keys, content hashes — and, for
    // embedded corpora, the survivors' ANN index rows — so all side
    // tables are current for the next micro-batch.
    //
    // CHECKPOINT, not persist: the survivor lineage READS the live
    // tables (hash anti-join, index probe, corpus verify slice), and
    // Spark invalidates any cached plan that reads a path the moment
    // that path is written — so in the direct (batch-id-less) branch
    // the FIRST live append would evict a mere persist and every later
    // side-table append would re-evaluate the batch against the
    // already-updated tables and dedup it against ITSELF (observed:
    // batch-2+ hash/ann appends wrote empty; the band index absorbed
    // replays and masked it). The eager checkpoint materializes the
    // rows with NO lineage, so nothing here can be invalidated.
    val out = graft.functions.Iterate.checkpoint(semSurvivors)
    val n = out.count()
    // survivors ⊆ batchClean, so their band rows are a semi-join of
    // the already-banded frame — never a second banding pass
    def survivorBands = cleanBands
      .join(out.select(col("doc_id")), Seq("doc_id"), "left_semi")
    def survivorHashes = out.select(md5(col("text")).as("content_hash"))
    def survivorAnn = out.filter(col("embedding").isNotNull)
      .select(col("doc_id").as("vec_id"), col("embedding"))
    try batchId match {
      case None =>
        // Sequential on purpose, and hashes last: with no batch ledger,
        // replay safety is content-level only — a replayed doc drops at
        // stage 3 because its content hash landed, which is sound only
        // if a landed hash implies its corpus and index rows landed too.
        // Concurrent appends (graft.functions.Parallel) could land a
        // hash and then fail the corpus append, and the replay would
        // drop a doc that is in no table.
        if (n > 0) {
          out.write.mode("append").parquet(corpusPath)
          survivorBands.write.mode("append").parquet(indexPath)
          survivorHashes.write.mode("append").parquet(hashesPath(corpusPath))
          if (hasEmb)
            graft.sources.AnnIndex.append(survivorAnn,
              annIndexPath(corpusPath))
        }
      case Some(id) =>
        // stage → mark staged → publish → mark committed (crash at any
        // point resolves on replay; see the object doc)
        val pend = pendingDir(corpusPath, id)
        if (n > 0) {
          out.write.mode("overwrite").parquet(s"$pend/corpus")
          survivorBands.write.mode("overwrite").parquet(s"$pend/index")
          survivorHashes.write.mode("overwrite").parquet(s"$pend/hashes")
          if (hasEmb)
            graft.sources.AnnIndex.materialize(survivorAnn,
              s"$pend/annindex")
        }
        writeMarker(spark, corpusPath, s"staged-b$id", n)
        publishStaged(spark, corpusPath, indexPath, id, n)
    } finally {
      batchClean.unpersist()
    }
    n
  }

  /** Wire [[ingestBatch]] behind a streaming documents source: each
    * micro-batch curates and appends through the per-batch ledger —
    * foreachBatch's epoch id is stable across replays, which is exactly
    * the identity the batch-level exactly-once protocol needs.
    */
  def start(spark: SparkSession, docs: DataFrame,
      corpusPath: String, indexPath: String): StreamingQuery =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        ingestBatch(spark, batch, corpusPath, indexPath, Some(batchId)); ()
      }
      .start()
}
