package graft.pipeline

import graft.Tables
import graft.operators.{Coreset, Dedup, Sampling, TextAnalysis}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation pipeline — the LLM-data analog of
  * [[PublicationsPipeline]]'s six Airflow stages, chaining the
  * registered curation operators over STAGED parquet handoffs:
  *
  * | stage | operator core | decision |
  * | 1 quality      | TextAnalysis.gopherRulesDf   | keep `pass` docs      |
  * | 2 exact dedup  | Dedup.dedupExactDf           | keep min-id per hash  |
  * | 3 near dedup   | Dedup.minhashPairsDf         | drop id dominated by a lower-id near-dup |
  * | 3b scrub       | Dedup.dedupSubstringDf       | erase corpus-duplicated spans, rewrite text |
  * | 4 decontam     | Dedup.decontaminateDf        | drop benchmark-overlapping docs |
  * | 5 select       | Sampling.sampleImportanceDf  | DSIR: keep target-leaning docs to a token budget |
  * | 6 mix          | Sampling.mixRebalanceDf      | hash-mod downsample to target mix |
  * | 7 pack         | Sampling.sequencePackDf      | assign packed sequences |
  * | 8 exemplars    | Coreset.kcenterCoresetDf     | k-center eval/review pool from surviving embeddings |
  *
  * Every stage writes parquet and the next stage reads the STAGED
  * output, so any stage re-runs/backfills independently and a failure
  * resumes from the last staged table, exactly like
  * [[PublicationsPipeline.runAll]]. Each decision is deterministic
  * (hash-mod sampling, min-id survivorship), so a resumed run emits
  * bit-identical stages.
  *
  * Manifest counts (and the token-reconciliation sums) ride `observe()`
  * metrics collected DURING each stage's write job — a count() re-scan
  * per staged table would double the pipeline's read volume. The
  * reconciliation sums are coalesced to 0, so a corpus that filters to
  * empty yields a comparable manifest instead of a crash.
  *
  * Stage 3 drops any document dominated by a LOWER-id near-duplicate
  * (the semdedup min-anchor rule, applied to MinHash pairs). That is
  * deliberately the pairwise rule, not connected components: the
  * pipeline's contract is "no surviving pair is near-identical", and
  * the pairwise anti-join needs no iteration. The transitive variant
  * is the registered dedup_components/dedup_apply pair.
  */
object CurationPipeline {

  /** Benchmark = the first [[BenchDocs]] doc_ids (mirrors the registered
    * decontaminate operator's held-out split).
    */
  private val BenchDocs = 5

  def runAll(spark: SparkSession, dataDir: String, outDir: String): Map[String, Long] = {
    val manifest = scala.collection.mutable.LinkedHashMap[String, Long]()
    // The row count (plus any stage-specific sums) is observed on the
    // write job itself; the staged read-back stays lazy for the next
    // stage. Sums coalesce to 0 so an empty stage yields metrics, not
    // nulls (ADVICE r7: an all-filtered corpus must produce a manifest
    // with failing checks, never an NPE).
    def stageWith(name: String, df: DataFrame,
        extras: Seq[(String, org.apache.spark.sql.Column)])
        : (DataFrame, Map[String, Any]) = {
      val path = s"$outDir/$name"
      val obs = org.apache.spark.sql.Observation(s"graft_$name")
      val cols = count(lit(1)).cast("long").as("rows") +:
        extras.map { case (n, c) => coalesce(c, lit(0L)).as(n) }
      val t0 = System.nanoTime()
      df.observe(obs, cols.head, cols.tail: _*)
        .write.mode("overwrite").parquet(path)
      val metrics = obs.get
      manifest += name -> metrics("rows").asInstanceOf[Long]
      // Per-stage wall time in the manifest (suffixed keys, so the
      // stage-count consumers above stay untouched): the pipeline's own
      // profile, read straight off a production run's manifest instead
      // of re-deriving it from scheduler logs.
      manifest += s"${name}_millis" -> (System.nanoTime() - t0) / 1000000L
      (Sinks.readParquet(spark, path), metrics)
    }
    def stage(name: String, df: DataFrame): DataFrame =
      stageWith(name, df, Nil)._1

    // Stage 0: land the raw corpus in the staging area.
    val raw = stage("stage0_documents", Tables.documents(spark, dataDir))

    // Stage 1: quality gate — gopher rules, keep passing docs.
    val passing = TextAnalysis.gopherRulesDf(raw)
      .filter(col("pass")).select(col("doc_id"))
    val quality = stage("stage1_quality",
      raw.join(passing, Seq("doc_id"), "left_semi"))

    // Stage 2: exact dedup — keep the canonical (min-id) copy per
    // content hash.
    val keepers = Dedup.dedupExactDf(quality)
      .select(col("keeper_doc_id").as("doc_id"))
    val exact = stage("stage2_exact_dedup",
      quality.join(keepers, Seq("doc_id"), "left_semi"))

    // Stage 3: near dedup — drop any doc dominated by a lower-id
    // MinHash near-duplicate (pair losers are the higher ids).
    val losers = Dedup.minhashPairsDf(exact)
      .select(col("doc_b").as("doc_id")).distinct()
    val near = stage("stage3_near_dedup",
      exact.join(losers, Seq("doc_id"), "left_anti"))

    // Stage 3b: substring scrub — erase every corpus-duplicated
    // 8-token span INSIDE the surviving documents (Lee et al.'s pass:
    // document-level dedup keeps one copy of a duplicated doc, this
    // strips the boilerplate fragments riding inside otherwise-unique
    // ones). Text is rewritten, n_chars re-derived, and documents
    // scrubbed to nothing are dropped — the same fate the quality gate
    // gives empty text.
    val scrub = Dedup.dedupSubstringDf(near)
      .filter(length(col("text_clean")) > 0)
      .select(col("doc_id"), col("text_clean"))
    val scrubbed = stage("stage3b_substring_scrub",
      near.drop("text", "n_chars").join(scrub, Seq("doc_id"))
        .select(col("doc_id"), col("text_clean").as("text"), col("lang"),
          col("source"), length(col("text_clean")).cast("bigint").as("n_chars")))

    // Stage 4: decontamination — drop docs sharing >= 3 shingles with
    // the held-out benchmark slice (and the benchmark docs themselves:
    // they are eval data, never training data).
    val corpus = scrubbed.filter(col("doc_id") >= BenchDocs)
    val contaminated = Dedup.decontaminateDf(corpus,
      raw.filter(col("doc_id") < BenchDocs)).select(col("doc_id"))
    val clean = stage("stage4_decontaminated",
      corpus.join(contaminated, Seq("doc_id"), "left_anti"))

    // Stage 5: DSIR selection — keep documents whose vocabulary leans
    // toward the target source, hash-mod resampled to the declared
    // token budget (weights derive from the SURVIVING corpus).
    val selected = stage("stage5_selected",
      clean.join(Sampling.sampleImportanceDf(clean).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))

    // Stage 6: mixture rebalance — hash-mod downsample each source
    // toward the declared target mix (counts observed POST-filtering).
    val (mixed, mixedM) = stageWith("stage6_mixed",
      selected.join(Sampling.mixRebalanceDf(spark, selected).select(col("doc_id")),
        Seq("doc_id"), "left_semi"),
      Seq("tokens" -> sum(size(split(col("text"), "\\s+")).cast("bigint"))))

    // Stage 7: sequence packing — the trainer-facing manifest.
    val (_, packedM) = stageWith("stage7_packed", Sampling.sequencePackDf(mixed),
      Seq("tokens" -> sum(col("n_tokens"))))

    // Reconciliation: packing assigns every surviving doc exactly once,
    // and the packed token stream must account for every token — both
    // sides read from the observed write metrics, zero extra scans.
    manifest += "check_packed_rows_match" ->
      (if (manifest("stage7_packed") == manifest("stage6_mixed")) 0L else 1L)
    manifest += "check_token_reconciliation" ->
      (if (mixedM("tokens") == packedM("tokens")) 0L else 1L)

    // Stage 8: eval exemplar pool — greedy k-center over the embeddings
    // of the SURVIVING corpus (vec_id = doc_id, the embedded-subset
    // contract): the maximally-spread few-shot / human-review pool, so
    // reviewers see the corpus's diversity rather than its densest
    // cluster. The k-center traversal's per-round driver state is one
    // row; its reconciliation check pins that every exemplar is a
    // surviving document (an exemplar from a dropped doc would mean the
    // pool was drawn before a filter — ordering bug).
    val survivors = mixed.select(col("doc_id").as("vec_id"))
    val embSurviving = Tables.embeddings(spark, dataDir)
      .join(survivors, Seq("vec_id"), "left_semi")
    val exemplars = stage("stage8_exemplars",
      Coreset.kcenterCoresetDf(embSurviving))
    manifest += "check_exemplars_in_corpus" ->
      exemplars.join(survivors.withColumnRenamed("vec_id", "j_id"),
        col("vec_id") === col("j_id"), "left_anti").count()

    manifest.toMap
  }

  /** The "index is a table" production shape for the MinHash-LSH band
    * index: build once from the indexed slice of the corpus and write it
    * through the given path (the [[Dedup.dedupIncremental]] rolling-mode
    * index, materialized). Later batches probe the table FROM DISK —
    * per-batch cost never re-pays the corpus scan.
    */
  def materializeLshIndex(spark: SparkSession, documents: DataFrame,
      path: String): Unit =
    Dedup.lshBandsDf(documents).write.mode("overwrite").parquet(path)

  /** Probe a new batch of documents against a materialized band index:
    * returns verified (indexed_doc, new_doc, jaccard) near-dup links,
    * the same verify contract as the registered dedup operators.
    * `corpusDocs` supplies the indexed docs' shingles for the verify
    * step (candidate ids only — the join is against the tiny candidate
    * set, never the whole corpus).
    */
  def probeLshIndex(spark: SparkSession, indexPath: String,
      corpusDocs: DataFrame, batch: DataFrame,
      precomputedBands: Option[DataFrame] = None): DataFrame = {
    import graft.functions.TextOps
    val index = Sinks.readParquet(spark, indexPath)
      .select(col("doc_id").as("indexed_doc"), col("band_key"))
    // callers that already banded the batch (the rolling ingestion bands
    // once per micro-batch) pass the frame in; re-banding here would
    // re-run the shingle+minhash expressions over the full batch text
    val batchBands = precomputedBands.getOrElse(Dedup.lshBandsDf(batch))
      .select(col("doc_id").as("new_doc"), col("band_key"))
    val cand = index.join(broadcast(batchBands), Seq("band_key"))
      .select(col("indexed_doc"), col("new_doc")).distinct()
    def shingles(df: DataFrame) = df
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))
    cand
      .join(shingles(corpusDocs).select(col("doc_id").as("indexed_doc"),
        col("sh").as("sha"), col("sz").as("sza")), Seq("indexed_doc"))
      .join(shingles(batch).select(col("doc_id").as("new_doc"),
        col("sh").as("shb"), col("sz").as("szb")), Seq("new_doc"))
      .withColumn("common", TextOps.sortedCommonCount(col("sha"), col("shb")))
      .select(col("indexed_doc"), col("new_doc"),
        (col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }
}
