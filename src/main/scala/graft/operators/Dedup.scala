package graft.operators

import graft.{QueryDef, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication family for a training-data pipeline (§2.E): exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: nothing here is O(n²). Exact dedup is a hash groupBy.
  * MinHash signatures are per-row Column folds (no explode of the corpus);
  * LSH banding emits 6 small (band, key) rows per doc and pairs are
  * generated only within buckets. n-gram Jaccard uses blocking (same
  * source + close length) so the candidate set stays linear-ish. SimHash
  * buckets by fingerprint prefix. At 100 TB the bucket joins shuffle only
  * (key, doc_id, signature) tuples — never the documents themselves.
  */
object Dedup {

  /** Exact dedup: group by content hash, keep the minimum doc_id as the
    * canonical representative (deterministic survivorship).
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    dedupExactDf(Tables.documents(spark, dir))

  /** [[dedupExact]] over an arbitrary documents frame (staged-data form). */
  def dedupExactDf(documents: DataFrame): DataFrame =
    documents
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(
        min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  val dedupExactOracle: String = """
    SELECT MD5(text) AS content_hash,
      MIN(doc_id) AS keeper_doc_id,
      COUNT(*) AS n_copies
    FROM documents GROUP BY 1"""

  /** SQL twin of the shingled-document prep (the live Spark path is the
    * compiled sortedShingles3/shingleHash24 expressions — fixes to the
    * shingling go in GraftShingleUtil, and this mirror must follow).
    */
  private val sqlShingled =
    s"""SELECT doc_id, source, n_chars,
      ${TextOps.sqlShingles3("STRING_SPLIT_REGEX(text, '\\s+')")} AS sh
    FROM documents"""

  /** n-gram (3-shingle) Jaccard near-dup pairs with blocking: candidates
    * share a source and have |Δn_chars| ≤ 32 (length blocking — a cheap
    * LSH on document size). Pairs at jaccard ≥ 0.5 are near-duplicates.
    * A block census guards the quadratic-within-block expansion: any
    * (source, length-bucket) block over `spark.graft.jaccardBlockRows`
    * docs fails the job loud (assert_true in the plan) rather than
    * silently exploding — this operator is the blocked ground-truth
    * AUDIT; [[dedupMinhashLsh]] is the production-scale path.
    */
  /** The shared shingled-corpus projection: (doc_id, source, n_chars,
    * sorted 3-shingles, shingle count). Computed ONCE and persisted by
    * callers that feed several branches from it — [[ngramJaccard]]'s
    * blocked pair join reads it from both sides, and
    * [[minhashRecallAudit]] additionally reuses the SAME materialization
    * for the LSH branch's verify step (r16 deferred item: the audit used
    * to shingle the corpus twice, once per branch).
    */
  private[graft] def shingledDocs(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), col("source"), col("n_chars"),
        TextOps.sortedShingles3(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardFrom(spark, graft.functions.PlanGuard.persist(
      shingledDocs(Tables.documents(spark, dir))))

  /** [[ngramJaccard]] over an already-persisted [[shingledDocs]] frame —
    * the audit passes its shared materialization in.
    */
  private[graft] def ngramJaccardFrom(
      spark: SparkSession, shingled: DataFrame): DataFrame = {
    // Blocked pair join with a COMPILED sorted-merge intersection count:
    // shingle sets are sorted once per doc (cached — both join sides read
    // the same materialization), then each candidate pair costs one O(n)
    // merge in generated code. |A∪B| = |A|+|B|−common, so jaccard matches
    // the set-based oracle exactly. (An inverted-index variant was tried
    // and rejected: the corpus' heavy shingle co-occurrence made the
    // per-shingle pair expansion far larger than the blocked pair set.)
    //
    // The length block is IN the join key, not a post-join filter: `source`
    // alone is low-cardinality, so joining on it makes each source block a
    // near-cartesian expansion (quadratic per source — fatal at 100 TB and
    // one straggler task per source). Bucketing n_chars by 33 and exploding
    // the left side to adjacent buckets is a superset of |Δn_chars| ≤ 32,
    // so the exact filter keeps identical results while the candidate count
    // stays linear-ish in docs-per-(source, length-band).
    val s = shingled.withColumn("bucket", floor(col("n_chars") / 33))
    val a = s.select(col("doc_id").as("doc_a"), col("source"),
        col("n_chars").as("ca"), col("sh").as("sha"), col("sz").as("sza"),
        explode(array(col("bucket") - 1, col("bucket"), col("bucket") + 1))
          .as("bucket"))
    // Pathological-block guard: the pair join is quadratic WITHIN a
    // (source, length-bucket) block — fine for this operator's declared
    // blocked-ground-truth audit role only while blocks stay small. The
    // block census rides the plan (metadata-scale rows, broadcast back)
    // and assert_true fails the job LOUD when any block exceeds
    // spark.graft.jaccardBlockRows (default 10k docs ⇒ ≤ ~3e8 candidate
    // pairs with its two neighbor buckets), instead of silently
    // expanding a quadratic block; dedup_minhash_lsh is the scale path.
    val maxBlockRows =
      spark.conf.get("spark.graft.jaccardBlockRows", "10000").toLong
    val blkCounts = s.groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("blk_n"))
    val b = s.select(col("doc_id").as("doc_b"), col("source"),
        col("n_chars").as("cb"), col("sh").as("shb"), col("sz").as("szb"),
        col("bucket"))
      .join(Tables.stateHint(blkCounts), Seq("source", "bucket"))
      .filter(assert_true(col("blk_n") <= maxBlockRows,
        concat(lit("ngram_jaccard: a (source, length-bucket) block has "),
          col("blk_n"),
          lit(s" rows > spark.graft.jaccardBlockRows=$maxBlockRows — " +
            "quadratic block; use dedup_minhash_lsh at this scale"))).isNull)
      .drop("blk_n")
    a.join(b, Seq("source", "bucket"))
      .filter(col("doc_a") < col("doc_b") && abs(col("ca") - col("cb")) <= 32)
      .withColumn("common", TextOps.sortedCommonCount(col("sha"), col("shb")))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** MinHash-LSH recall audit — the dedup-family eval loop (the
    * ann_recall_audit twin): how much of the EXACT Jaccard ≥ 0.5 pair
    * set ([[ngramJaccard]]'s blocked ground truth) does the banded LSH
    * pipeline ([[dedupMinhashLsh]]) recover? One summary row with
    * all-integer recall ppm — the measured point on the OR-amplified
    * banding curve that decides whether 6×r=2 bands are enough before a
    * 100 TB dedup run commits to them. Pure composition of two
    * hash-verified operators; the audit join is pair-set-sized.
    */
  def minhashRecallAudit(spark: SparkSession, dir: String): DataFrame = {
    // ONE shingle materialization for both branches (guide §1.2 — don't
    // compute twice): the ground-truth blocked join and the LSH branch's
    // verify step read the same persisted [[shingledDocs]] frame; only
    // the minhash-signature pass still reads raw text.
    val docs = Tables.documents(spark, dir)
    val shingled = graft.functions.PlanGuard.persist(shingledDocs(docs))
    val truth = ngramJaccardFrom(spark, shingled)
      .select(col("doc_a"), col("doc_b"))
    val lsh = minhashPairsWithShingles(docs, shingled)
      .select(col("doc_a"), col("doc_b"), lit(true).as("hit"))
    val lshN = lsh.agg(count(lit(1)).as("n_lsh"))
    truth.join(lsh, Seq("doc_a", "doc_b"), "left")
      .agg(count(lit(1)).as("n_truth"), count(col("hit")).as("n_hits"))
      .crossJoin(broadcast(lshN))
      .select(col("n_truth"), col("n_hits"), col("n_lsh"),
        expr("(n_hits * 1000000) div greatest(n_truth, 1)").as("recall_ppm"))
  }

  lazy val minhashRecallAuditOracle: String = s"""
    WITH truth AS (SELECT doc_a, doc_b FROM ($ngramJaccardOracle) t),
    lsh AS MATERIALIZED (
      SELECT doc_a, doc_b FROM ($dedupMinhashLshOracle) l)
    SELECT COUNT(*) AS n_truth,
      CAST(COUNT(l.doc_a) AS BIGINT) AS n_hits,
      (SELECT COUNT(*) FROM lsh) AS n_lsh,
      (CAST(COUNT(l.doc_a) AS BIGINT) * 1000000) // GREATEST(COUNT(*), 1)
        AS recall_ppm
    FROM truth t
    LEFT JOIN lsh l ON t.doc_a = l.doc_a AND t.doc_b = l.doc_b"""
    // n_lsh as a SCALAR subquery, not a grouped cross join: the former
    // GROUP BY ln.n_lsh emitted ZERO rows on an empty truth set while
    // the Spark global aggregate emits its one summary row — a
    // divergence only visible on a corpus with no exact-jaccard pairs
    // (caught by the r15 generated-data validation run)

  val ngramJaccardOracle: String = s"""
    WITH s AS ($sqlShingled)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      ${TextOps.sqlJaccard("a.sh", "b.sh")} AS jaccard
    FROM s a JOIN s b
      ON a.source = b.source AND a.doc_id < b.doc_id
      AND ABS(a.n_chars - b.n_chars) <= 32
    WHERE ${TextOps.sqlJaccard("a.sh", "b.sh")} >= 0.5"""

  /** The Jaccard cuts [[dedupThresholdSweep]] tabulates — one literal
    * sequence interpolated into query AND oracle so they cannot desync
    * (shortest round-trip Double strings parse identically in both
    * engines). 0.5 is [[ngramJaccard]]'s own floor.
    */
  private val SweepThresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.8, 0.9)

  /** Threshold-sensitivity table for the near-dup cut — pair volume and
    * docs-touched at each candidate Jaccard threshold, from ONE pass
    * over [[ngramJaccard]]'s exact blocked pair set: the tuning table a
    * team reads before committing a 100 TB dedup run to a threshold
    * (how many more docs does 0.7 drop than 0.8? is the curve flat or
    * a cliff?). Thresholds are literal doubles compared against the
    * already-hash-verified exact jaccard (one IEEE division) — the
    * same doubles in both engines, so the cut is deterministic.
    *
    * Scale: rides the blocked, census-guarded audit pair set (the
    * quadratic-block guard is IN ngramJaccard's plan); the pair frame
    * is checkpointed because both the pair census and the docs-touched
    * census consume it; everything downstream is |pairs|·5 narrow rows
    * into two map-side-combinable aggregates.
    */
  def dedupThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val pairs = graft.functions.Iterate.checkpoint(ngramJaccard(spark, dir))
    val tagged = pairs.select(col("doc_a"), col("doc_b"),
        explode(array(SweepThresholds.map(lit(_)): _*)).as("threshold"),
        col("jaccard"))
      .filter(col("jaccard") >= col("threshold"))
    val nPairs = tagged.groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = tagged
      .select(col("threshold"), explode(array(col("doc_a"), col("doc_b"))).as("d"))
      .groupBy(col("threshold"))
      .agg(countDistinct(col("d")).as("n_docs_touched"))
    nPairs.join(nDocs, Seq("threshold"))
      .select(col("threshold"), col("n_pairs"), col("n_docs_touched"))
  }

  lazy val dedupThresholdSweepOracle: String = s"""
    WITH p AS ($ngramJaccardOracle),
    thr AS (SELECT UNNEST([${SweepThresholds.mkString(", ")}]) AS threshold),
    t AS (
      SELECT threshold, doc_a, doc_b
      FROM p, thr WHERE p.jaccard >= thr.threshold),
    np AS (SELECT threshold, COUNT(*) AS n_pairs FROM t GROUP BY 1),
    nd AS (
      SELECT threshold, COUNT(DISTINCT d) AS n_docs_touched
      FROM (SELECT threshold, UNNEST([doc_a, doc_b]) AS d FROM t)
      GROUP BY 1)
    SELECT np.threshold, np.n_pairs, nd.n_docs_touched
    FROM np JOIN nd USING (threshold)"""

  /** MinHash + LSH near-dup detection, the full pipeline:
    * 12 minhashes per doc (per-row fold, no corpus explode) → 6 bands of
    * r=2 → band-bucket self-join for candidates → exact Jaccard verify at
    * ≥ 0.5. Output: verified near-dup pairs found via LSH.
    */
  /** The LSH index: (doc_id, band_key) rows, 6 per doc — the shared
    * front half of [[dedupMinhashLsh]] (full self-dedup) and
    * [[dedupIncremental]] (batch-probes-index).
    *
    * Fused compiled pipeline: text → distinct shingle hashes → full
    * 12-permutation signature, one projection, no interpreted lambdas.
    * Identical signature values to the per-perm fold formulation.
    * Buckets carry only (doc_id, band_key): candidate joins shuffle
    * ids, never shingle payloads. Shingles are re-joined only for the
    * (small) verified candidate set. Null signatures (docs under 3
    * words) are dropped BEFORE banding: concat_ws would otherwise
    * collapse every short doc into the same 6 degenerate band keys — a
    * quadratic self-join whose pairs all die at the verify filter
    * anyway (empty shingle sets have NULL jaccard on both engines).
    */
  private def lshBands(spark: SparkSession, dir: String): DataFrame =
    lshBandsDf(Tables.documents(spark, dir))

  /** The LSH band index over an arbitrary documents frame — also the
    * table a materialized index run writes to disk (see
    * CurationPipeline: the index-is-a-table production shape).
    */
  private[graft] def lshBandsDf(documents: DataFrame): DataFrame = {
    val withSig = TextOps.Perms.indices.foldLeft(
      documents
        .select(col("doc_id"),
          TextOps.minhashSig(TextOps.shingleHash24(col("text"))).as("sig"))) {
      case (df, i) => df.withColumn(s"mh$i", element_at(col("sig"), i + 1))
    }
    withSig.filter(col("sig").isNotNull).select(
      col("doc_id"),
      explode(array((0 until 6).map(bnd =>
        concat_ws(":", lit(bnd.toString),
          col(s"mh${2 * bnd}").cast("string"),
          col(s"mh${2 * bnd + 1}").cast("string"))): _*))
        .as("band_key"))
  }

  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsDf(Tables.documents(spark, dir))

  /** [[dedupMinhashLsh]] over an arbitrary documents frame (staged-data
    * form; same band→candidate→verify shape).
    */
  private[graft] def minhashPairsDf(documents: DataFrame): DataFrame =
    // eager checkpoint, NOT persist: the verify frame is read twice
    // inside this one plan, but a persist() here would outlive the call
    // — CurationPipeline stage 3 builds a fresh pairs frame per run, and
    // CacheManager holds persisted plans by strong reference until an
    // explicit unpersist. Checkpoint blocks are GC-freed once the
    // returned frame is unreachable. (The rolling ingestion bands its
    // checkpointed batch itself and calls [[minhashPairsFrom]].)
    minhashPairsWithShingles(documents,
      graft.functions.Iterate.checkpoint(documents
        .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
        .withColumn("sz", size(col("sh")))))

  /** [[minhashPairsDf]] with the verify-step shingles supplied by the
    * caller (an already-materialized (doc_id, sh, sz, ...) frame) — the
    * recall audit shares [[ngramJaccard]]'s persisted [[shingledDocs]]
    * here instead of shingling the corpus a second time.
    */
  private def minhashPairsWithShingles(
      documents: DataFrame, shingles: DataFrame): DataFrame =
    minhashPairsFrom(graft.functions.Iterate.checkpoint(lshBandsDf(documents)),
      shingles)

  /** The band self-join and Jaccard verify behind [[minhashPairsDf]],
    * over already-computed `(doc_id, band_key)` bands and
    * `(doc_id, sh, sz, ...)` shingles. `bands` is read twice, so callers
    * pass a materialized frame (StreamingCuration.ingestBatch passes the
    * micro-batch's one banding).
    */
  private[graft] def minhashPairsFrom(
      bands: DataFrame, shingles: DataFrame): DataFrame = {
    val cand = bands.as("a")
      .join(bands.as("b"), col("a.band_key") === col("b.band_key")
        && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val docs = shingles.select(col("doc_id"), col("sh"), col("sz"))
    cand
      .join(docs.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("sz").as("sza")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("sh").as("shb"),
        col("sz").as("szb")), Seq("doc_b"))
      .withColumn("common", TextOps.sortedCommonCount(col("sha"), col("shb")))
      .select(col("doc_a"), col("doc_b"),
        (col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Shared oracle CTE text for the LSH index — SQL twin of [[lshBands]]
    * (relations: `s(doc_id, source, n_chars, sh)`,
    * `bands(doc_id, band_key)`).
    */
  private val sqlLshCtes: String = {
    val sigCols = TextOps.Perms.zipWithIndex.map { case ((a, b), i) =>
      s"${TextOps.sqlMinhash("hs", a, b)} AS mh$i"
    }.mkString(",\n        ")
    val bandKeys = (0 until 6).map(bnd =>
      s"CONCAT($bnd, ':', mh${2 * bnd}, ':', mh${2 * bnd + 1})").mkString(", ")
    s"""WITH s AS ($sqlShingled),
    sig AS (
      SELECT doc_id, sh,
        $sigCols
      FROM (SELECT doc_id, sh, ${TextOps.sqlHashes("sh")} AS hs FROM s)),
    bands AS (
      SELECT doc_id, UNNEST([$bandKeys]) AS band_key FROM sig)"""
  }

  val dedupMinhashLshOracle: String = s"""
    $sqlLshCtes,
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, ${TextOps.sqlJaccard("sa.sh", "sb.sh")} AS jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = doc_a
    JOIN s sb ON sb.doc_id = doc_b
    WHERE ${TextOps.sqlJaccard("sa.sh", "sb.sh")} >= 0.5"""

  /** LSH band-quality audit — [[dedupMinhashLsh]]'s planning report and
    * the banding twin of ivf_cell_stats: per band, the bucket count,
    * the candidate-pair volume the band would generate (Σ sz·(sz−1)/2,
    * computed FROM BUCKET SIZES — no pair is ever materialized), the
    * hottest bucket, and how many docs collide at all. This is the
    * audit that prices a verify pass and catches a hot band key (one
    * boilerplate template putting 10⁶ docs in one bucket turns the
    * candidate join quadratic) before a dedup run does.
    *
    * Scale: two narrow aggregates — (band, band_key) sizes, then a
    * 6-row rollup; nothing wider than the band index ever moves.
    */
  def lshBandStats(spark: SparkSession, dir: String): DataFrame = {
    val buckets = lshBands(spark, dir)
      .select(split(col("band_key"), ":").getItem(0).cast("int").as("band"),
        col("band_key"))
      .groupBy(col("band"), col("band_key")).agg(count(lit(1)).as("sz"))
    buckets.groupBy(col("band")).agg(
      sum(col("sz")).as("n_docs"),
      count(lit(1)).as("n_buckets"),
      sum(expr("sz * (sz - 1) div 2")).as("n_cand_pairs"),
      max(col("sz")).as("max_bucket"),
      sum(when(col("sz") >= 2, col("sz")).otherwise(lit(0L)))
        .as("n_colliding_docs"))
  }

  val lshBandStatsOracle: String = s"""
    $sqlLshCtes,
    buckets AS (
      SELECT CAST(STRING_SPLIT(band_key, ':')[1] AS INT) AS band,
        band_key, COUNT(*) AS sz
      FROM bands GROUP BY 1, 2)
    SELECT band,
      CAST(SUM(sz) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS n_buckets,
      CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS n_cand_pairs,
      CAST(MAX(sz) AS BIGINT) AS max_bucket,
      CAST(SUM(CASE WHEN sz >= 2 THEN sz ELSE 0 END) AS BIGINT)
        AS n_colliding_docs
    FROM buckets GROUP BY 1"""

  /** Incremental near-dup dedup — the operational mode at 100 TB: the
    * corpus is already indexed (its (doc_id, band_key) rows are a
    * materialized table in production; recomputed here from the same
    * pipeline), and each arriving BATCH probes that index instead of
    * re-deduping the world. Batch membership is a deterministic hash
    * slice (doc_id % 10 = 7 ≈ 10% of docs) so the query is
    * SF-independent and oracle-mirrorable.
    *
    * Scale shape: the batch's band keys BROADCAST to the index scan —
    * the corpus-side index is filtered map-side and never shuffles; only
    * candidate (indexed_doc, new_doc) id pairs and the candidate docs'
    * shingle arrays move. Per-batch cost is O(batch × bucket hit rate),
    * independent of corpus size. In-batch duplicates are the NEXT
    * index build's problem (exactly how a rolling dedup service works).
    */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val bands = lshBands(spark, dir).transform(graft.functions.PlanGuard.persist(_))
    val index = bands.filter(col("doc_id") % 10 =!= 7)
      .select(col("doc_id").as("indexed_doc"), col("band_key"))
    val batch = bands.filter(col("doc_id") % 10 === 7)
      .select(col("doc_id").as("new_doc"), col("band_key"))
    val cand = index.join(broadcast(batch), Seq("band_key"))
      .select(col("indexed_doc"), col("new_doc")).distinct()
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))
    cand
      .join(docs.select(col("doc_id").as("indexed_doc"), col("sh").as("sha"),
        col("sz").as("sza")), Seq("indexed_doc"))
      .join(docs.select(col("doc_id").as("new_doc"), col("sh").as("shb"),
        col("sz").as("szb")), Seq("new_doc"))
      .withColumn("common", TextOps.sortedCommonCount(col("sha"), col("shb")))
      .select(col("indexed_doc"), col("new_doc"),
        (col("common").cast("double") /
          (col("sza") + col("szb") - col("common")).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  val dedupIncrementalOracle: String = s"""
    $sqlLshCtes,
    cand AS (
      SELECT DISTINCT ia.doc_id AS indexed_doc, nb.doc_id AS new_doc
      FROM bands ia JOIN bands nb
        ON ia.band_key = nb.band_key
        AND ia.doc_id % 10 <> 7 AND nb.doc_id % 10 = 7)
    SELECT indexed_doc, new_doc,
      ${TextOps.sqlJaccard("sa.sh", "sb.sh")} AS jaccard
    FROM cand
    JOIN s sa ON sa.doc_id = indexed_doc
    JOIN s sb ON sb.doc_id = new_doc
    WHERE ${TextOps.sqlJaccard("sa.sh", "sb.sh")} >= 0.5"""

  /** SimHash bands: [[SimBands]] × [[SimBandBits]] covers the 64-bit
    * fingerprint; ≤ [[SimMaxHamming]] differing bits can touch at most
    * [[SimMaxHamming]] bands, so every qualifying pair shares at least
    * one intact band (pigeonhole) — banded candidate generation has
    * recall 1.0, it is not an approximation.
    */
  private val SimBands = 4
  private val SimBandBits = 16
  private val SimMaxHamming = 3

  /** SimHash near-dup detection. 64-bit SimHash from per-shingle 60-bit
    * hashes: each bit is the sign of Σ±1 over shingles; candidate pairs
    * come from a [[SimBands]]×[[SimBandBits]] band equi-join (same
    * multi-band probing as dedup_embedding), verified by Hamming
    * distance ≤ [[SimMaxHamming]]. By the pigeonhole bound above the
    * banding loses nothing, so the oracle is the BRUTE-FORCE Hamming
    * join — hash-matching it proves the recall argument, not just the
    * arithmetic. Scale: bucket population is ~n/2^16 per band key (and
    * shrinks as corpora diversify), vs the old top-byte scheme's fixed
    * 256 buckets whose within-bucket pair join went quadratic. Oracle-
    * checked: the bit pipeline is pure integer arithmetic, mirrored in
    * SQL as per-bit Σ±1 sums (UNNEST × bit index) recomposed with
    * shifts.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame = {
    // Fused compiled pipeline: text → distinct shingle hashes → 64-bit
    // SimHash, one projection (64 interpreted aggregate() folds → one
    // compiled loop; see org.apache.spark.sql.graft.SimHash64).
    val withFp = Tables.documents(spark, dir)
      .select(col("doc_id"),
        TextOps.simhash64(TextOps.shingleHash60(col("text"))).as("simhash"))
      .transform(graft.functions.PlanGuard.persist(_))
    val bandCols = (0 until SimBands).map { i =>
      struct(lit(i).as("band_id"),
        expr(s"(simhash >> ${i * SimBandBits}) & 65535").as("band_key"))
    }
    val banded = withFp
      .select(col("doc_id"), col("simhash"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id"), col("simhash"),
        col("b.band_id").as("band_id"), col("b.band_key").as("band_key"))
    val a = banded.select(col("doc_id").as("doc_a"),
      col("simhash").as("fa"), col("band_id"), col("band_key"))
    val b = banded.select(col("doc_id").as("doc_b"),
      col("simhash").as("fb"), col("band_id"), col("band_key"))
    a.join(b, Seq("band_id", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      // a close pair can share several bands — dedup before the verify
      // (fa/fb are functions of the ids, so they ride the distinct)
      .select(col("doc_a"), col("doc_b"), col("fa"), col("fb")).distinct()
      .withColumn("hamming", bit_count(expr("fa ^ fb")))
      .filter(col("hamming") <= SimMaxHamming)
      .select(col("doc_a"), col("doc_b"), col("fa").as("simhash_a"),
        col("fb").as("simhash_b"), col("hamming"))
  }

  val dedupSimhashOracle: String = s"""
    WITH s AS ($sqlShingled),
    hashed AS (SELECT doc_id, ${TextOps.sqlHashes60("sh")} AS hs FROM s),
    el AS (SELECT doc_id, UNNEST(hs) AS h FROM hashed),
    bits AS (
      SELECT doc_id, j,
        SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS c
      FROM el CROSS JOIN (SELECT UNNEST(RANGE(64)) AS j) js
      GROUP BY 1, 2),
    sig AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT)
          AS simhash
      FROM bits GROUP BY 1)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      a.simhash AS simhash_a, b.simhash AS simhash_b,
      BIT_COUNT(XOR(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= $SimMaxHamming"""

  /** Transitive near-dup clustering: connected components over the
    * MinHash-LSH pair graph, canonical survivor = min doc_id per
    * component — the step that turns pairwise similarity into an actual
    * dedup decision (A~B, B~C ⇒ keep one of {A,B,C}).
    *
    * Spark side: iterative min-label propagation — each round joins
    * labels across edges and takes the min (distributed; rounds ≤ graph
    * diameter, which for near-dup clusters is tiny). Oracle: transitive
    * closure via WITH RECURSIVE. Both yield min-reachable-id exactly.
    */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame = {
    // The pair graph is tiny relative to the corpus (near-dup clusters),
    // so: materialize it ONCE (localCheckpoint truncates the LSH lineage
    // — otherwise every iteration's plan re-embeds the whole LSH
    // pipeline and planning cost grows per round), shrink to a fraction
    // of session width (Iterate.statePartitions — full-width shuffles on
    // the small pair graph are scheduler overhead locally, yet the count
    // still scales with the cluster), and checkpoint each round's labels
    // to keep the lineage constant-depth.
    val pairs = dedupMinhashLsh(spark, dir)
      .select(col("doc_a"), col("doc_b"))
      .repartition(graft.functions.Iterate.statePartitions(spark))
      .transform(graft.functions.Iterate.checkpoint)
    if (spark.conf.get("spark.graft.ccAlgorithm", "minlabel") == "star")
      starComponents(spark, pairs)
    else minLabelComponents(spark, pairs)
  }

  /** Min-label propagation over a (doc_a, doc_b) pair frame — exact
    * min-reachable-id labels in O(eccentricity) rounds, two jobs per
    * round (the label checkpoint + the convergence join-count). Right
    * for near-dup graphs, whose clusters have tiny diameter; for
    * web-scale template CHAINS (diameter past the round cap) it
    * dispatches to [[starComponents]] — the degradation contract
    * (result-identical, not approximate: both forms yield exactly
    * min-reachable-id) instead of the old fail-loud, with the cap
    * conf-escaped via `spark.graft.ccMaxRounds`.
    */
  private[graft] def minLabelComponents(
      spark: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .transform(graft.functions.Iterate.checkpoint)
    var labels = edges.select(col("doc_a").as("node")).distinct()
      .withColumn("label", col("node"))
      .transform(graft.functions.Iterate.checkpoint)
    var changed = 1L
    var rounds = 0
    // Default 16, not the old 50: near-dup cluster diameters are tiny
    // (a chain of 16 mutually-similar hops is already exotic), and
    // every round past convergence-failure is WASTED work once the
    // star dispatch below recomputes from scratch — the budget is the
    // price of trying the cheap algorithm first, so keep it small.
    val maxRounds = spark.conf.get("spark.graft.ccMaxRounds", "16").toInt
    while (changed > 0 && rounds < maxRounds) {
      val viaNeighbor = edges
        .join(labels, col("doc_b") === col("node"))
        .select(col("doc_a").as("node"), col("label"))
      val next = labels.select(col("node"), col("label"))
        .unionByName(viaNeighbor)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .transform(graft.functions.Iterate.checkpoint)
      changed = next.join(labels.withColumnRenamed("label", "old"), Seq("node"))
        .filter(col("label") =!= col("old")).count()
      labels = next
      rounds += 1
    }
    if (changed != 0) {
      // Past-cap dispatch (r15 verdict directive 2): the graph's
      // eccentricity exceeds the round budget — O(diameter) propagation
      // is the wrong algorithm for this graph, not a reason to die.
      // Loud, because the cost model changes (per-round work shifts
      // from label joins to star re-orientations).
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connected components did not converge in $maxRounds min-label " +
          "rounds — dispatching to the alternating large-star/small-star " +
          "form (O(log n) rounds, identical labels)")
      return starComponents(spark, pairs)
    }
    labels.select(
      col("node").as("doc_id"),
      col("label").as("component"),
      (col("node") === col("label")).as("is_canonical"))
  }

  /** Alternating large-star / small-star connected components (Kiveris
    * et al. 2014, "Connected Components in MapReduce and Beyond") over a
    * (doc_a, doc_b) pair frame — the web-scale form: label-for-label
    * identical to [[minLabelComponents]] (both converge to
    * min-reachable-id per component) but in O(log² n) rounds worst case
    * (O(log n) observed; the paper proves O(log n) for its two-phase
    * variant), so a 100 TB dup graph with million-hop template chains
    * finishes in ~dozens of rounds where min-label propagation would
    * need a round per hop.
    *
    * Each round is two edge re-orientations:
    *   - large-star: every node attaches its LARGER neighbors to the
    *     minimum of its closed neighborhood;
    *   - small-star: edges orient (larger → smaller); every node
    *     re-points its smaller neighbors (and itself) at that minimum.
    * Both are one map-side-combinable min-aggregate plus one join on the
    * state frame — no corpus access, no unpartitioned anything.
    *
    * The convergence check RIDES THE ROUND'S OWN MATERIALIZATION
    * (r15 verdict: no per-round driver count()): an `observe()` metric
    * pair (edge count + order-independent bit_xor of xxhash64(u, v))
    * is collected by the same job that checkpoints the round's edge
    * set; the loop stops when two consecutive rounds publish identical
    * signatures (a fixed point of a deterministic transform; collision
    * probability 2⁻⁶⁴). The 60-round cap is a fail-loud backstop ≈
    * log₂(any feasible node count), not a tuning knob.
    */
  private[graft] def starComponents(
      spark: SparkSession, pairs: DataFrame): DataFrame = {
    val ck = (df: DataFrame) => graft.functions.Iterate.checkpoint(df)
    val nodes = ck(pairs.select(col("doc_a").as("node"))
      .unionByName(pairs.select(col("doc_b").as("node"))).distinct())

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      sym.join(m, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      val or = e
        .select(greatest(col("u"), col("v")).as("u"),
          least(col("u"), col("v")).as("v"))
        .filter(col("u") =!= col("v"))
      val m = or.groupBy(col("u")).agg(min(col("v")).as("m"))
      val j = or.join(m, Seq("u"))
      j.filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(j.select(col("u"), col("m").as("v")))
        .distinct()
    }

    var edges = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .filter(col("u") =!= col("v"))
    var prev: Option[(Long, Long)] = None
    var converged = false
    var rounds = 0
    val maxRounds = 60
    while (!converged && rounds < maxRounds) {
      val obs = new org.apache.spark.sql.Observation()
      val next = ck(smallStar(largeStar(edges))
        .observe(obs, count(lit(1)).as("n"),
          coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("sig")))
      // the checkpoint above IS the round's action (Dataset.checkpoint
      // runs under withAction, which publishes observed metrics), so the
      // future is already complete; the bounded wait + direct-agg
      // fallback only fire if a Spark version stops publishing metrics
      // for the checkpoint action — never a hang, never a silent skip
      val metrics =
        try scala.concurrent.Await
          .result(obs.future, scala.concurrent.duration.Duration(30, "s"))
          .getValuesMap[Any](Seq("n", "sig"))
        catch {
          case _: java.util.concurrent.TimeoutException =>
            next.agg(count(lit(1)).as("n"),
              coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("sig"))
              .head().getValuesMap[Any](Seq("n", "sig"))
        }
      val sigNow = (metrics("n").asInstanceOf[Long],
        metrics("sig").asInstanceOf[Long])
      converged = prev.contains(sigNow)
      prev = Some(sigNow)
      edges = next
      rounds += 1
    }
    require(converged,
      s"large-star/small-star did not converge in $maxRounds rounds — " +
        "impossible for any feasible graph (the bound is logarithmic); " +
        "this indicates a non-deterministic edge source")
    val parents = edges.groupBy(col("u").as("node")).agg(min(col("v")).as("label"))
    nodes.join(parents, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("label"), col("node")).as("component"),
        (coalesce(col("label"), col("node")) === col("node")).as("is_canonical"))
  }

  val dedupComponentsOracle: String = s"""
    WITH RECURSIVE pairs AS ($dedupMinhashLshOracle),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs),
    reach(src, dst) AS (
      SELECT a, a FROM edges
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a)
    SELECT src AS doc_id, MIN(dst) AS component,
      (src = MIN(dst)) AS is_canonical
    FROM reach GROUP BY src"""

  /** Near-dup cluster-size histogram — the dedup family's yield report:
    * for each cluster size, how many transitive near-dup clusters exist
    * and how many documents they hold. Size 2 = simple pairs; a fat
    * tail here means template families (one source stamping hundreds of
    * near-copies) and predicts exactly how many docs dedup_apply will
    * drop (n_docs − n_clusters summed over rows). Two tiny aggregates
    * over [[dedupComponents]]'s (doc, component) output.
    */
  def dupClusterSizes(spark: SparkSession, dir: String): DataFrame =
    dedupComponents(spark, dir)
      .groupBy(col("component")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))

  val dupClusterSizesOracle: String = s"""
    WITH comp AS ($dedupComponentsOracle),
    sizes AS (
      SELECT component, COUNT(*) AS cluster_size FROM comp GROUP BY 1)
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
      CAST(COUNT(*) AS BIGINT) AS n_clusters,
      CAST(SUM(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1"""

  /** Quality-aware cluster representatives — the Dolma/RefinedWeb
    * refinement of [[dedupApply]]'s min-id rule: per transitive near-dup
    * cluster keep the HIGHEST-QUALITY member (quality_score desc, lower
    * doc_id on ties), so dedup stops discarding the best-written copy
    * of a template family just because it has a higher id. One row per
    * cluster: the keeper, its score, and the cluster size.
    *
    * Scale shape: the component map is near-dup-cluster-scale (a tiny
    * fraction of the corpus), so it BROADCASTS onto the documents scan
    * and only cluster MEMBERS pay the quality-regex projection — the
    * argmax is then a struct-max aggregate over cluster-scale rows
    * (no window, deterministic tie-break via (quality, −doc_id)
    * lexicographic struct order). Reference analog: the course pipeline
    * drops pandas duplicates positionally (utils/utils.py drop rules);
    * a curation engine must pick WHICH copy survives.
    */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val comp = dedupComponents(spark, dir)
      .select(col("doc_id"), col("component"))
    val members = Tables.documents(spark, dir)
      .join(broadcast(comp), Seq("doc_id"))
    TextAnalysis.qualityScoreDf(members)
      .join(broadcast(comp), Seq("doc_id"))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("quality_score").as("q"), (-col("doc_id")).as("nid")))
          .as("best"))
      .select(col("component"), col("n_members"),
        (-col("best.nid")).as("keeper_doc_id"),
        col("best.q").as("keeper_quality"))
  }

  lazy val dedupKeepBestOracle: String = s"""
    WITH comp AS ($dedupComponentsOracle),
    q AS (SELECT doc_id, quality_score
          FROM (${TextAnalysis.qualityScoreOracle}) qq),
    j AS (SELECT c.component, c.doc_id, q.quality_score
          FROM comp c JOIN q USING (doc_id))
    SELECT component, n_members, keeper_doc_id, keeper_quality FROM (
      SELECT component, doc_id AS keeper_doc_id,
        quality_score AS keeper_quality,
        CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members,
        ROW_NUMBER() OVER (PARTITION BY component
          ORDER BY quality_score DESC, doc_id ASC) AS rn
      FROM j) WHERE rn = 1"""

  /** Mixture-shift audit of the dedup pass: per source, doc counts and
    * exact-ppm corpus shares BEFORE vs AFTER [[dedupApply]]'s drop, and
    * the signed shift. Dedup is not mixture-neutral — template-heavy
    * sources (mirrors, generated pages) lose disproportionately, so a
    * mix tuned pre-dedup silently trains on a different distribution;
    * this is the one-table check that catches it (and the number
    * [[graft.operators.Sampling]] mix_rebalance should be re-run on).
    *
    * Scale shape: the loser set is near-dup-cluster-scale and
    * BROADCASTS onto one documents scan (source column + a null-check
    * — no corpus shuffle); the |sources|-row result is checkpointed and
    * the totals fold over it. Shares stay BIGINT via the overflow-safe
    * ppm treatment; shift is exact integer ppm.
    */
  def dedupMixShift(spark: SparkSession, dir: String): DataFrame = {
    val losers = dedupComponents(spark, dir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"), lit(1L).as("lost"))
    val per = graft.functions.Iterate.checkpoint(
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"))
        .join(broadcast(losers), Seq("doc_id"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_before"),
          sum(when(col("lost").isNull, 1L).otherwise(0L)).as("n_after")))
    val tot = per.agg(sum(col("n_before")).as("t_before"),
      sum(col("n_after")).as("t_after"))
    def ppm(n: String, t: String): Column =
      when(col(t) <= lit(9000000000000L), expr(s"($n * 1000000) div $t"))
        .otherwise(expr(s"$n div ($t div 1000000)"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_before"), col("n_after"),
        ppm("n_before", "t_before").as("share_before_ppm"),
        ppm("n_after", "t_after").as("share_after_ppm"),
        (ppm("n_after", "t_after") - ppm("n_before", "t_before"))
          .as("shift_ppm"))
  }

  lazy val dedupMixShiftOracle: String = s"""
    WITH comp AS ($dedupComponentsOracle),
    losers AS (SELECT doc_id FROM comp WHERE NOT is_canonical),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_before,
        CAST(SUM(CASE WHEN l.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_after
      FROM documents d LEFT JOIN losers l ON d.doc_id = l.doc_id
      GROUP BY 1),
    tot AS (SELECT CAST(SUM(n_before) AS BIGINT) AS t_before,
                   CAST(SUM(n_after) AS BIGINT) AS t_after FROM per)
    SELECT source, n_before, n_after, share_before_ppm, share_after_ppm,
      share_after_ppm - share_before_ppm AS shift_ppm
    FROM (
      SELECT source, n_before, n_after,
        CASE WHEN t_before <= 9000000000000
          THEN (n_before * 1000000) // t_before
          ELSE n_before // (t_before // 1000000) END AS share_before_ppm,
        CASE WHEN t_after <= 9000000000000
          THEN (n_after * 1000000) // t_after
          ELSE n_after // (t_after // 1000000) END AS share_after_ppm
      FROM per CROSS JOIN tot)"""

  /** Dedup applied: the surviving corpus after near-dup clustering —
    * every cluster keeps only its canonical (min-id) document, plus all
    * unclustered documents untouched. This is the step that turns pair
    * detection into an output corpus a training run reads. One anti-join
    * against the (tiny) set of non-canonical ids.
    */
  def dedupApply(spark: SparkSession, dir: String): DataFrame = {
    val losers = dedupComponents(spark, dir)
      .filter(!col("is_canonical"))
      .select(col("doc_id"))
    Tables.documents(spark, dir)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
  }

  lazy val dedupApplyOracle: String = s"""
    WITH comp AS ($dedupComponentsOracle)
    SELECT doc_id, source, lang, n_chars
    FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM comp
      WHERE comp.doc_id = d.doc_id AND NOT comp.is_canonical)"""

  /** Benchmark decontamination: flag training documents sharing any
    * 3-shingle with a held-out benchmark set (here: docs 0-4 play the
    * benchmark) — the contamination check every LLM data pipeline runs.
    * Exact formulation: benchmark shingles are tiny → broadcast semi
    * join against the exploded corpus; count of overlapping shingles
    * per contaminated doc.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    // Both branches (benchmark + corpus) read the same shingled frame.
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .transform(graft.functions.PlanGuard.persist(_))
    decontaminateDf(
      docs.filter(col("doc_id") >= 5),
      docs.filter(col("doc_id") < 5))
  }

  /** Contamination flags for an arbitrary (pre-shingled or raw) corpus
    * frame against an arbitrary benchmark frame — the staged-data form.
    * Frames may carry either a `sh` shingle column or raw `text`.
    */
  private[graft] def decontaminateDf(corpus: DataFrame, bench: DataFrame): DataFrame = {
    def shingled(df: DataFrame): DataFrame =
      if (df.columns.contains("sh")) df
      else df.select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
    val benchShingles = shingled(bench)
      .select(explode(col("sh")).as("shingle")).distinct()
    shingled(corpus)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlaps"))
      .filter(col("n_overlaps") >= 3)
  }

  val decontaminateOracle: String = s"""
    WITH s AS ($sqlShingled),
    bench AS (
      SELECT DISTINCT UNNEST(sh) AS shingle FROM s WHERE doc_id < 5),
    corpus AS (
      SELECT doc_id, UNNEST(sh) AS shingle FROM s WHERE doc_id >= 5)
    SELECT doc_id, COUNT(*) AS n_overlaps
    FROM corpus JOIN bench USING (shingle)
    GROUP BY 1
    HAVING COUNT(*) >= 3"""

  /** Contamination AUDIT — the report every eval-integrity review wants
    * alongside the [[decontaminate]] filter: per BENCHMARK document, how
    * exposed is it in the training corpus? Emits, for every benchmark
    * doc (zero-hit docs included — "this eval item is clean" is the
    * point of the report): `n_candidates` corpus docs sharing ≥1
    * 3-shingle, `n_contaminated` sharing ≥3 (the decontaminate
    * threshold), and `max_shared` with any single corpus doc.
    *
    * Scale: same shape as [[decontaminate]] transposed — the benchmark
    * shingle set is tiny and broadcasts; the corpus explodes its
    * shingles once and map-side joins. The per-(bench, corpus-doc)
    * aggregation is bounded by actually-overlapping pairs (the join
    * output), never |bench|×|corpus|; the final rollup is |bench|-sized.
    */
  def contaminationReport(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .transform(graft.functions.PlanGuard.persist(_))
    val bench = docs.filter(col("doc_id") < 5)
    val benchSh = bench
      .select(col("doc_id").as("bench_id"), explode(col("sh")).as("shingle"))
    val pairs = docs.filter(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col("bench_id"), col("doc_id"))
      .agg(count(lit(1)).as("shared"))
    val perBench = pairs.groupBy(col("bench_id"))
      .agg(
        count(lit(1)).as("hits"),
        count(when(col("shared") >= 3, 1)).as("contaminated"),
        max(col("shared")).as("mx"))
    bench.select(col("doc_id").as("bench_id"))
      .join(perBench, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("hits"), lit(0L)).as("n_candidates"),
        coalesce(col("contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("mx"), lit(0L)).as("max_shared"))
  }

  val contaminationReportOracle: String = s"""
    WITH s AS ($sqlShingled),
    bsh AS (SELECT doc_id AS bench_id, UNNEST(sh) AS shingle
            FROM s WHERE doc_id < 5),
    csh AS (SELECT doc_id, UNNEST(sh) AS shingle FROM s WHERE doc_id >= 5),
    pairs AS (
      SELECT bench_id, doc_id, COUNT(*) AS shared
      FROM csh JOIN bsh USING (shingle)
      GROUP BY 1, 2),
    per_bench AS (
      SELECT bench_id, COUNT(*) AS hits,
        COUNT(*) FILTER (WHERE shared >= 3) AS contaminated,
        MAX(shared) AS mx
      FROM pairs GROUP BY 1)
    SELECT b.doc_id AS bench_id,
      COALESCE(hits, 0) AS n_candidates,
      COALESCE(contaminated, 0) AS n_contaminated,
      COALESCE(mx, 0) AS max_shared
    FROM (SELECT doc_id FROM s WHERE doc_id < 5) b
    LEFT JOIN per_bench ON b.doc_id = per_bench.bench_id"""

  /** Bloom-filter decontamination — the 100 TB path, in two stages:
    *
    *  1. PROBE (the pass that touches the whole corpus): the benchmark
    *     shingle set compresses to a few KB of bloom bits riding the
    *     task binary to every executor; each shingle probes locally via
    *     the codegen [[org.apache.spark.sql.graft.BloomMightContain]]
    *     expression — no shuffle, no UDF. Bloom errors are false
    *     positives ONLY, so a doc's probable-overlap count ≥ its true
    *     count: every truly contaminated doc survives the candidate cut.
    *  2. RECHECK (tiny candidate set): candidates' shingles join the
    *     exact benchmark set to trim the false positives — so the
    *     output is deterministic and hash-checks against the SAME exact
    *     oracle as [[decontaminate]], while the corpus-wide pass stays
    *     sketch-cheap.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateBloomWithFilter(spark, dir, benchBloom(spark, dir))

  /** The benchmark shingle bloom — built inline by [[decontaminateBloom]],
    * or once by an index run and persisted through
    * [[graft.sources.SketchStore]] (probe-from-disk ≡ probe-from-
    * recompute, PipelineSpec-pinned).
    */
  private[graft] def benchBloom(spark: SparkSession, dir: String)
      : org.apache.spark.util.sketch.BloomFilter =
    Tables.documents(spark, dir).filter(col("doc_id") < 5)
      .select(explode(TextOps.sortedShingles3(col("text"))).as("shingle"))
      .stat.bloomFilter("shingle", 2000L, 0.01)

  /** [[decontaminateBloom]] against a PRE-BUILT bloom (possibly read
    * from disk) — the probe never depends on where the sketch came from.
    */
  private[graft] def decontaminateBloomWithFilter(spark: SparkSession, dir: String,
      bloom: org.apache.spark.util.sketch.BloomFilter): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .transform(graft.functions.PlanGuard.persist(_))
    val mightContain = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.BloomMightContain(
        org.apache.spark.sql.GraftBridge.expression(col("shingle")), bloom))
    val candidates = docs.filter(col("doc_id") >= 5)
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .filter(mightContain)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_probable_overlaps"))
      .filter(col("n_probable_overlaps") >= 3)
      .select(col("doc_id"))
    val benchShingles = docs.filter(col("doc_id") < 5)
      .select(explode(col("sh")).as("shingle")).distinct()
    docs.filter(col("doc_id") >= 5)
      .join(broadcast(candidates), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), explode(col("sh")).as("shingle"))
      .join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_overlaps"))
      .filter(col("n_overlaps") >= 3)
  }

  /** Line-granularity for [[dedupLines]]: the lake text carries no
    * newlines, so the "line" unit is a fixed 8-word window (the same
    * windowing family as doc_chunk, stride = width ⇒ no overlap).
    */
  private val LineWords = 8

  /** A line is corpus boilerplate when it appears in at least this many
    * DISTINCT documents (headers, navigation, license blurbs — the
    * CCNet/RefinedWeb line-dedup signature).
    */
  private val BoilerplateDocFreq = 2

  /** Corpus-level boilerplate line removal (the line-dedup pass crawl
    * pipelines run before document-level dedup): split each document
    * into [[LineWords]]-word lines, count each line's document frequency
    * across the corpus, drop lines shared by ≥ [[BoilerplateDocFreq]]
    * distinct documents, and reassemble the surviving text in original
    * order. Documents reduced to nothing survive with empty text — the
    * caller's length filter (gopher_rules) is the right place to drop
    * them.
    *
    * Scale: the explode is linear in words; the document-frequency
    * aggregate and the join back key on md5(line) — the shuffle carries
    * a fixed 32-char digest instead of arbitrary-width line text. No
    * all-pairs step anywhere, and reassembly is a per-document sort of
    * its own lines only.
    */
  def dedupLines(spark: SparkSession, dir: String): DataFrame = {
    val w = split(col("text"), "\\s+")
    val lines = Tables.documents(spark, dir)
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(LineWords))).as("start"))
      .select(
        col("doc_id"),
        // integer `div`, matching the oracle's `//` — a float division
        // here is exact only while start stays under 2^53
        expr(s"start div $LineWords").cast("bigint").as("line_no"),
        array_join(slice(col("w"), col("start") + 1, lit(LineWords)), " ").as("line"))
      .withColumn("line_h", md5(col("line")))
    val boiler = lines
      .groupBy(col("line_h"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
      .filter(col("doc_freq") >= BoilerplateDocFreq)
      .select(col("line_h"), lit(true).as("is_boiler"))
    lines.join(boiler, Seq("line_h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_lines"),
        count(col("is_boiler")).as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull, struct(col("line_no"), col("line"))))),
            s => s.getField("line")),
          " ").as("text_clean"))
  }

  /** Sentence-level boilerplate scrub — [[dedupLines]]' natural-boundary
    * twin (CCNet-style paragraph/sentence dedup): a SENTENCE repeated
    * across ≥ [[BoilerplateDocFreq]] distinct docs is boilerplate
    * (cookie banners, license footers), removed everywhere and the doc
    * reassembled from survivors in order. Fixed 8-word windows
    * (dedup_lines) catch shifted copies; natural sentences catch exact
    * template fragments regardless of length — a pipeline runs both.
    * Same scale shape: narrow (doc, sentence-hash) rows shuffle once
    * for the doc-frequency aggregate; the boiler set joins back on the
    * hash (corpus-derived, not hinted — a legit shuffle join at 100 TB).
    */
  def dedupSentences(spark: SparkSession, dir: String): DataFrame = {
    val sents = TextAnalysis.sentenceSplit(spark, dir)
      .select(col("doc_id"), col("sent_idx"), col("sentence"),
        md5(col("sentence")).as("sent_h"))
    val boiler = sents
      .groupBy(col("sent_h"))
      .agg(countDistinct(col("doc_id")).as("doc_freq"))
      .filter(col("doc_freq") >= BoilerplateDocFreq)
      .select(col("sent_h"), lit(true).as("is_boiler"))
    sents.join(boiler, Seq("sent_h"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_sents"),
        count(col("is_boiler")).as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("is_boiler").isNull, struct(col("sent_idx"), col("sentence"))))),
            s => s.getField("sentence")),
          " ").as("text_clean"))
  }

  val dedupSentencesOracle: String = s"""
    WITH sents AS (
      SELECT doc_id, CAST(i AS BIGINT) AS sent_idx, sents[i] AS sentence
      FROM (
        SELECT doc_id, sents, UNNEST(RANGE(1, LEN(sents) + 1)) AS i
        FROM (
          SELECT doc_id,
            LIST_FILTER(
              LIST_TRANSFORM(STRING_SPLIT_REGEX(text, '[.!?]+'), s -> TRIM(s)),
              s -> s != '') AS sents
          FROM documents))),
    boiler AS (
      SELECT MD5(sentence) AS sent_h FROM sents
      GROUP BY MD5(sentence) HAVING COUNT(DISTINCT doc_id) >= $BoilerplateDocFreq)
    SELECT s.doc_id,
      COUNT(*) AS n_sents,
      CAST(COUNT(b.sent_h) AS BIGINT) AS n_boiler,
      COALESCE(STRING_AGG(CASE WHEN b.sent_h IS NULL THEN s.sentence END, ' '
        ORDER BY s.sent_idx), '') AS text_clean
    FROM sents s LEFT JOIN boiler b ON MD5(s.sentence) = b.sent_h
    GROUP BY s.doc_id"""

  val dedupLinesOracle: String = s"""
    WITH lines AS (
      SELECT doc_id,
        CAST(start // $LineWords AS BIGINT) AS line_no,
        ARRAY_TO_STRING(w[start + 1 : start + $LineWords], ' ') AS line
      FROM (
        SELECT doc_id, w, UNNEST(RANGE(0, LEN(w), $LineWords)) AS start
        FROM (SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS w FROM documents))),
    boiler AS (
      SELECT MD5(line) AS line_h FROM lines
      GROUP BY MD5(line) HAVING COUNT(DISTINCT doc_id) >= $BoilerplateDocFreq)
    SELECT l.doc_id,
      COUNT(*) AS n_lines,
      CAST(COUNT(b.line_h) AS BIGINT) AS n_boiler,
      COALESCE(STRING_AGG(CASE WHEN b.line_h IS NULL THEN l.line END, ' '
        ORDER BY l.line_no), '') AS text_clean
    FROM lines l LEFT JOIN boiler b ON MD5(l.line) = b.line_h
    GROUP BY l.doc_id"""

  /** Cross-source contamination matrix: shingle-set overlap between every
    * pair of sources — the corpus-curation view of "how much does source
    * A duplicate source B" (drives source selection / down-weighting).
    *
    * Scale: the join key is the SHINGLE, and each shingle contributes at
    * most C(|sources|, 2) pairs — sources are few (tens), so candidates
    * grow linearly with distinct shingles, never quadratically with
    * docs. Source sizes broadcast onto the pair counts.
    */
  def crossSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = Tables.documents(spark, dir)
      .select(col("source"), explode(TextOps.sortedShingles3(col("text"))).as("shingle"))
      .distinct()
      .transform(graft.functions.PlanGuard.persist(_))
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    sh.as("a").join(sh.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("common"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("n").as("n_a"))),
        Seq("source_a"))
      .join(broadcast(sizes.select(col("source").as("source_b"), col("n").as("n_b"))),
        Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("common"),
        (col("common").cast("double")
          / (col("n_a") + col("n_b") - col("common")).cast("double"))
          .as("jaccard"))
  }

  val crossSourceOverlapOracle: String = s"""
    WITH s AS ($sqlShingled),
    sh AS (SELECT DISTINCT source, UNNEST(sh) AS shingle FROM s),
    sizes AS (SELECT source, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS common
      FROM sh a JOIN sh b
        ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, common,
      CAST(common AS DOUBLE) / CAST(sa.n + sb.n - common AS DOUBLE) AS jaccard
    FROM pairs
    JOIN sizes sa ON pairs.source_a = sa.source
    JOIN sizes sb ON pairs.source_b = sb.source"""

  /** Near-containment detection: pairs where the SMALLER document's
    * shingle set is ≥ 4/5 inside the larger's — the asymmetric near-dup
    * case Jaccard-based LSH structurally misses (a short doc quoted
    * whole inside a long one has low Jaccard but containment ≈ 1).
    * Threshold t = 4/5 so the decision `5·common ≥ 4·|A|` is
    * ALL-INTEGER (the derived-rate discipline); the reported containment
    * is one deterministic double division.
    *
    * Scale: candidates come from PREFIX FILTERING (the All-Pairs /
    * PPJoin family, Bayardo et al. 2007): if |A∩B| ≥ t·|A| then A can
    * miss B on at most ⌊|A|/5⌋ shingles, so any ⌊|A|/5⌋+1 shingles of A
    * must hit B — the probe side explodes only each doc's ⌊sz/5⌋+1
    * RAREST shingles (global document-frequency ascending, the order
    * that minimizes index fan-out), never the full corpus against
    * itself. The filter is LOSSLESS by the pigeonhole above, so the
    * oracle is the full inverted-index join — same rows, independently
    * derived. Verification joins shingle arrays only for surviving
    * candidates and counts intersections with the compiled sorted-merge.
    */
  def ngramContainment(spark: SparkSession, dir: String): DataFrame =
    ngramContainmentDf(Tables.documents(spark, dir))

  /** [[ngramContainment]] over an arbitrary documents frame (staged-data
    * form).
    */
  private[graft] def ngramContainmentDf(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = documents
      .select(col("doc_id"), TextOps.sortedShingles3(col("text")).as("sh"))
      .withColumn("sz", size(col("sh")))
      .filter(col("sz") > 0)
      .transform(graft.functions.PlanGuard.persist(_))
    val docFreq = s.select(explode(col("sh")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val byRarity = Window.partitionBy(col("doc_a"))
      .orderBy(col("df").asc, col("shingle").asc)
    val prefix = s
      .select(col("doc_id").as("doc_a"), col("sz").as("sza"),
        explode(col("sh")).as("shingle"))
      .join(docFreq, Seq("shingle"))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= expr("sza div 5") + 1)
      .select(col("doc_a"), col("sza"), col("shingle"))
    val index = s.select(col("doc_id").as("doc_b"), col("sz").as("szb"),
      explode(col("sh")).as("shingle"))
    val cand = prefix.join(index, Seq("shingle"))
      .filter(col("sza") < col("szb")
        || (col("sza") === col("szb") && col("doc_a") < col("doc_b")))
      .select(col("doc_a"), col("doc_b")).distinct()
    cand
      .join(s.select(col("doc_id").as("doc_a"), col("sh").as("sha"),
        col("sz").as("sza")), Seq("doc_a"))
      .join(s.select(col("doc_id").as("doc_b"), col("sh").as("shb")), Seq("doc_b"))
      .withColumn("common", TextOps.sortedCommonCount(col("sha"), col("shb"))
        .cast("bigint"))
      .filter(col("common") * 5 >= col("sza") * 4)
      .select(col("doc_a"), col("doc_b"), col("common"),
        (col("common").cast("double") / col("sza").cast("double"))
          .as("containment"))
  }

  val ngramContainmentOracle: String = s"""
    WITH s AS ($sqlShingled),
    t AS (SELECT doc_id, sh, LEN(sh) AS sz FROM s WHERE LEN(sh) > 0),
    e AS (SELECT doc_id, sz, UNNEST(sh) AS shingle FROM t),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sz AS sza,
        COUNT(*) AS common
      FROM e a JOIN e b ON a.shingle = b.shingle
        AND (a.sz < b.sz OR (a.sz = b.sz AND a.doc_id < b.doc_id))
      GROUP BY 1, 2, 3)
    SELECT doc_a, doc_b, CAST(common AS BIGINT) AS common,
      CAST(common AS DOUBLE) / CAST(sza AS DOUBLE) AS containment
    FROM pairs WHERE 5 * common >= 4 * sza"""

  /** Span width (in tokens) for duplicated-substring removal. The
    * published pass (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") removes ≥50-token substrings appearing
    * twice anywhere in the corpus; the lake's documents run 10-99 tokens
    * so the threshold scales down to 8 — the MECHANISM (find every
    * duplicated fixed-width span, erase the covered tokens, reassemble)
    * is the paper's, expressed through fixed-width grams instead of its
    * suffix array.
    */
  private val SpanTokens = 8

  /** Exact duplicated-substring removal (the within-document twin of
    * [[dedupExact]]'s whole-document pass): every [[SpanTokens]]-token
    * gram occurring ≥2 times ANYWHERE in the corpus (cross-document or
    * within-document) marks its token span; covered tokens are erased
    * and the survivors reassembled in order. Unlike document-level
    * dedup, this removes the boilerplate fragments that ride inside
    * otherwise-unique documents — the pass Lee et al. showed removes
    * ~3% of tokens from C4 verbatim.
    *
    * Scale: the suffix array the paper builds is replaced by three
    * narrow shuffles, none carrying document text: gram rows are
    * (doc_id, start, md5-digest) — the duplicate-gram aggregate and the
    * occurrence join key on the fixed 32-char digest (the dedupLines
    * discipline), and the per-doc start-list aggregate keys on doc_id.
    * The only corpus-text move is the final doc_id join of the start
    * lists back onto the documents scan, and the start-list side rides
    * [[Tables.dimHint]] — it holds ONLY documents containing a
    * duplicated span, so while duplication is sparse it broadcasts and
    * the text never shuffles at all; past the threshold AQE gets the
    * plain join. Gram collisions under md5 are ~n²/2¹²⁸ — absent in
    * practice, and the oracle shares the digest so parity holds
    * regardless.
    */
  def dedupSubstring(spark: SparkSession, dir: String): DataFrame =
    dedupSubstringDf(Tables.documents(spark, dir))

  /** [[dedupSubstring]] over an arbitrary documents frame (staged-data
    * form — the curation pipeline's substring-scrub stage).
    */
  private[graft] def dedupSubstringDf(documents: DataFrame): DataFrame = {
    val k = SpanTokens
    val docs = documents
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val grams = docs
      .select(col("doc_id"), col("w"),
        explode(
          when(size(col("w")) >= k, sequence(lit(1), size(col("w")) - (k - 1)))
            .otherwise(array().cast("array<int>"))).as("s"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("w"), col("s"), lit(k)), " ")).as("gram_h"))
    val dup = grams.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("n_occ"))
      .filter(col("n_occ") >= 2)
      .select(col("gram_h"))
    val dupStarts = grams.join(dup, Seq("gram_h"))
      .groupBy(col("doc_id"))
      .agg(collect_list(col("s")).as("dup_starts"))
    val ds = coalesce(col("dup_starts"), array().cast("array<int>"))
    val covered: Column => Column = i =>
      exists(ds, s => s <= i && i < s + k)
    val positions = sequence(lit(1), size(col("w")))
    docs.join(Tables.dimHint(dupStarts), Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(col("w")).cast("bigint").as("n_tokens"),
        size(filter(positions, covered)).cast("bigint").as("n_dup_tokens"),
        array_join(
          transform(filter(positions, i => !covered(i)),
            i => element_at(col("w"), i)),
          " ").as("text_clean"))
  }

  val dedupSubstringOracle: String = s"""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS w FROM documents),
    g AS (
      SELECT doc_id, s,
        MD5(ARRAY_TO_STRING(w[s : s + ${SpanTokens - 1}], ' ')) AS gram_h
      FROM (SELECT doc_id, w,
              UNNEST(RANGE(1, GREATEST(LEN(w) - ${SpanTokens - 2}, 1))) AS s
            FROM w)),
    dup AS (SELECT gram_h FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
    ds AS (
      SELECT doc_id, LIST(s) AS dup_starts
      FROM g JOIN dup USING (gram_h) GROUP BY 1)
    SELECT w.doc_id,
      CAST(LEN(w.w) AS BIGINT) AS n_tokens,
      CAST(LEN(LIST_FILTER(RANGE(1, LEN(w.w) + 1), i ->
        LEN(LIST_FILTER(COALESCE(ds.dup_starts, []), s ->
          s <= i AND i < s + $SpanTokens)) > 0)) AS BIGINT) AS n_dup_tokens,
      COALESCE(ARRAY_TO_STRING(LIST_TRANSFORM(
        LIST_FILTER(RANGE(1, LEN(w.w) + 1), i ->
          LEN(LIST_FILTER(COALESCE(ds.dup_starts, []), s ->
            s <= i AND i < s + $SpanTokens)) = 0),
        i -> w.w[i]), ' '), '') AS text_clean
    FROM w LEFT JOIN ds USING (doc_id)"""

  /** Rows reported by [[dupSpanReport]]. */
  private val SpanReportK = 20

  /** The corpus-boilerplate report — [[dedupSubstring]]'s diagnostic
    * twin: the [[SpanReportK]] most-duplicated [[SpanTokens]]-token
    * spans, with total occurrences, distinct documents touched, and the
    * span text itself. dedup_substring answers "erase the duplicated
    * spans"; this answers the curation question that comes FIRST —
    * "what IS the boilerplate, and how much of the corpus does it
    * ride in?" (cookie banners, license headers, template footers all
    * surface here before anyone commits to a scrub threshold).
    *
    * Scale: the aggregate keys on the 32-char gram digest (never the
    * text); the span text is recovered AFTER the top-k cut by joining
    * the ≤[[SpanReportK]] winning (doc, start) locations — a broadcast
    * probe — back onto the documents scan, so full text never shuffles
    * and the top-k is a TakeOrdered bounded heap, not a global sort.
    * Deterministic: ties break on the digest; the example location is
    * the lexicographic min (doc_id, start).
    */
  def dupSpanReport(spark: SparkSession, dir: String): DataFrame =
    dupSpanReportDf(Tables.documents(spark, dir))

  private[graft] def dupSpanReportDf(documents: DataFrame): DataFrame = {
    val k = SpanTokens
    val docs = documents.select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val grams = docs
      .select(col("doc_id"), col("w"),
        explode(
          when(size(col("w")) >= k, sequence(lit(1), size(col("w")) - (k - 1)))
            .otherwise(array().cast("array<int>"))).as("s"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("w"), col("s"), lit(k)), " ")).as("gram_h"))
    val top = grams.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("s"))).as("loc"))
      .filter(col("n_occ") >= 2)
      .orderBy(col("n_occ").desc, col("gram_h").asc)
      .limit(SpanReportK)
      .select(col("gram_h"), col("n_occ"), col("n_docs"),
        col("loc.doc_id").as("doc_id"), col("loc.s").as("s"))
    Tables.dimHint(top).join(docs, Seq("doc_id"))
      .select(
        array_join(slice(col("w"), col("s"), lit(k)), " ").as("span"),
        col("gram_h"), col("n_occ"), col("n_docs"))
  }

  val dupSpanReportOracle: String = s"""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS w FROM documents),
    g AS (
      SELECT doc_id, s,
        MD5(ARRAY_TO_STRING(w[s : s + ${SpanTokens - 1}], ' ')) AS gram_h
      FROM (SELECT doc_id, w,
              UNNEST(RANGE(1, GREATEST(LEN(w) - ${SpanTokens - 2}, 1))) AS s
            FROM w)),
    agg AS (
      SELECT gram_h, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
    loc AS (
      SELECT gram_h, doc_id, s FROM (
        SELECT gram_h, doc_id, s,
          ROW_NUMBER() OVER (PARTITION BY gram_h ORDER BY doc_id, s) AS rn
        FROM g) WHERE rn = 1),
    top AS (
      SELECT a.gram_h, a.n_occ, a.n_docs, l.doc_id, l.s
      FROM agg a JOIN loc l USING (gram_h)
      ORDER BY a.n_occ DESC, a.gram_h ASC LIMIT $SpanReportK)
    SELECT ARRAY_TO_STRING(w.w[t.s : t.s + ${SpanTokens - 1}], ' ') AS span,
      t.gram_h, CAST(t.n_occ AS BIGINT) AS n_occ,
      CAST(t.n_docs AS BIGINT) AS n_docs
    FROM top t JOIN w ON w.doc_id = t.doc_id"""

  /** Per-document longest duplicated span — the suffix-array-free
    * answer to "how LONG is the worst verbatim duplication in each
    * document": duplicated [[SpanTokens]]-gram start positions chain
    * into maximal runs by the gaps-and-islands rule (consecutive
    * starts ⇒ `start − row_number()` is constant), and a run of
    * consecutive starts covers `(maxStart − minStart) + SpanTokens`
    * tokens — so an island IS a maximal duplicated substring, found
    * without building the Lee-et-al suffix array. dedup_substring
    * erases; dup_span_report names the corpus-wide boilerplate; this
    * gives the per-document SEVERITY distribution (a doc whose longest
    * island spans most of its tokens is a template, not an original
    * with boilerplate).
    *
    * Scale: everything before the final join moves (doc_id, start,
    * digest) rows only; the islands window shares the doc_id
    * partitioning with the per-doc fold; docs without duplication
    * arrive via the left join with zeros.
    */
  def longestDupSpan(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = SpanTokens
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
    val grams = docs
      .select(col("doc_id"),
        explode(
          when(size(col("w")) >= k, sequence(lit(1), size(col("w")) - (k - 1)))
            .otherwise(array().cast("array<int>"))).as("s"),
        col("w"))
      .select(col("doc_id"), col("s"),
        md5(array_join(slice(col("w"), col("s"), lit(k)), " ")).as("gram_h"))
    val dup = grams.groupBy(col("gram_h"))
      .agg(count(lit(1)).as("n_occ")).filter(col("n_occ") >= 2)
      .select(col("gram_h"))
    val islands = grams.join(dup, Seq("gram_h"))
      .withColumn("isl",
        col("s") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("s"))))
      .groupBy(col("doc_id"), col("isl"))
      .agg((max(col("s")) - min(col("s")) + lit(k)).cast("long").as("span"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_islands"), max(col("span")).as("longest_span"))
    docs.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(Tables.dimHint(islands), Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_islands"), lit(0L)).as("n_islands"),
        coalesce(col("longest_span"), lit(0L)).as("longest_span"))
  }

  val longestDupSpanOracle: String = s"""
    WITH w AS (
      SELECT doc_id, STRING_SPLIT_REGEX(text, '\\s+') AS w FROM documents),
    g AS (
      SELECT doc_id, s,
        MD5(ARRAY_TO_STRING(w[s : s + ${SpanTokens - 1}], ' ')) AS gram_h
      FROM (SELECT doc_id, w,
              UNNEST(RANGE(1, GREATEST(LEN(w) - ${SpanTokens - 2}, 1))) AS s
            FROM w)),
    dup AS (SELECT gram_h FROM g GROUP BY 1 HAVING COUNT(*) >= 2),
    isl AS (
      SELECT doc_id, s,
        s - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s) AS isl_id
      FROM g JOIN dup USING (gram_h)),
    spans AS (
      SELECT doc_id, isl_id,
        CAST(MAX(s) - MIN(s) + $SpanTokens AS BIGINT) AS span
      FROM isl GROUP BY 1, 2),
    per AS (
      SELECT doc_id, COUNT(*) AS n_islands, MAX(span) AS longest_span
      FROM spans GROUP BY 1)
    SELECT w.doc_id, CAST(LEN(w.w) AS BIGINT) AS n_tokens,
      COALESCE(p.n_islands, 0) AS n_islands,
      COALESCE(p.longest_span, 0) AS longest_span
    FROM w LEFT JOIN per p USING (doc_id)"""

  /** Content-defined chunking dedup — the STORAGE-layer dedup measure
    * (rsync/LBFS/backup-system lineage) beside the document-level
    * scrubs: each doc splits at content-anchored boundaries (a word
    * whose 24-bit hash ≡ 0 mod 4 ends a chunk — boundaries move WITH
    * the content, so a shared run of words produces the same chunks
    * regardless of where it sits in its document, which is exactly what
    * fixed-size blocks cannot do), and the corpus-wide chunk store is
    * priced: total vs distinct chunks, total vs distinct word mass, and
    * the storage savings in exact ppm. The modulus is small because
    * this corpus's documents are short; production uses 2⁶–2¹¹ (KB-scale
    * chunks) with the same plan. Scale: chunking is a per-row
    * projection over the native [[TextOps.hashes]] pass (scan speed,
    * corpus text exploded exactly once into chunks); the only shuffle
    * is the chunk-keyed count (map-side combinable), folded to one
    * summary row.
    */
  /** The content-defined chunk list of a word array — public so the
    * spec can prove the anchoring property (an insertion far from a
    * chunk does not change it) on crafted documents.
    *
    * Shape matters here, twice over. The first cut indexed a `bounds`
    * expression from INSIDE a transform lambda — ProjectCollapse inlines
    * a once-referenced alias into the lambda body, where it re-evaluates
    * PER ITERATION: O(words² · chunks) hashing per row, 70× wall at
    * sf0.1. The second cut (a single left fold building the chunk list
    * in its accumulator) dodged that but copied the immutable `done`
    * array at every boundary — O(chunks² · chunk_bytes) per row, 8.3×
    * on AmplificationSpec's 4× length axis (r13 verdict finding 2).
    *
    * This form is linear: boundary positions come from a zip_with whose
    * lambda touches only its own variables (the hash array is a HOF
    * CHILD, evaluated once per row), `bounds` is materialized as its own
    * column and referenced only as HOF children of the cutting zip_with,
    * and the lambda body touches `w` only as a row attribute — `w` is
    * multi-referenced in the bounds projection and `cc_bounds` is
    * multi-referenced here, so CollapseProject cannot inline either
    * definition into the lambda. Each slice copies its own chunk exactly
    * once: O(words) per row. A boundary word (hash ≡ 0 mod 4) ends its
    * chunk inclusively; the final bound size(w) flushes the trailing
    * partial chunk; empty-string chunks (empty doc, or a trailing
    * boundary word duplicating the final bound) are filtered, matching
    * both the fold-based predecessor and the DuckDB oracle.
    *
    * Do NOT `explode` this array column — use [[contentChunkRows]] for
    * that: the explode's inferred generator filter gets the alias chain
    * substituted into it by predicate pushdown, landing the words split
    * inside the cutting lambda (see contentChunkRows' Scaladoc). The
    * array form exists for per-document chunk-list consumers (the
    * anchoring-property spec).
    */
  def contentChunks(df: DataFrame, wordsCol: String): DataFrame = {
    val w = col(wordsCol)
    val nChunks = size(col("cc_bounds")) - 1
    df.withColumn("cc_bounds", chunkBounds(w))
      .withColumn("chunks",
        filter(
          zip_with(
            slice(col("cc_bounds"), lit(1), nChunks),
            slice(col("cc_bounds"), lit(2), nChunks),
            (a, b) => concat_ws(" ", slice(w, a + 1, b - a))),
          s => s =!= ""))
      .drop("cc_bounds")
  }

  /** 0-based boundary positions [0, b₁, …, size(w)] of the
    * content-defined chunking of a word array. For empty w,
    * sequence(1, 0) descends to [1, 0] while hashes(w) is []; zip_with
    * null-pads the short side, the `when` yields null on a null hash,
    * and the isNotNull filter drops both phantom marks.
    */
  private def chunkBounds(w: Column): Column = {
    val marks = zip_with(TextOps.hashes(w), sequence(lit(1), size(w)),
      (h, i) => when(h % 4 === 0, i))
    concat(array(lit(0)), filter(marks, m => m.isNotNull), array(size(w)))
  }

  /** Exploded form of [[contentChunks]] — one output row per NON-EMPTY
    * chunk, as a `chunk` string column beside df's other columns. This
    * is the form the corpus-scale operators consume, and the only one
    * that is safe to EXPLODE: with the array form, the explode's
    * inferred generator filter (`size(chunks) > 0`, InferFiltersFromGenerate)
    * is pushed through the projection chain by alias SUBSTITUTION — no
    * CollapseProject cheapness guard applies to predicate pushdown — which
    * lands the words split INSIDE the per-chunk cutting lambda:
    * O(chunks · words) per row, 8.9× on AmplificationSpec's length axis.
    * Here the (start, end) pairs explode FIRST (every lambda in the
    * bounds expression touches only its own variables) and the chunk
    * string is cut at TOP LEVEL per exploded row; `w` below the Generate
    * node is a plain attribute that alias substitution cannot cross, so
    * no optimizer rewrite can put the split inside a per-iteration
    * position. Each slice copies its own chunk exactly once: O(words)
    * per document end to end.
    */
  def contentChunkRows(df: DataFrame, wordsCol: String): DataFrame = {
    val w = col(wordsCol)
    val nChunks = size(col("cc_bounds")) - 1
    df.withColumn("cc_bounds", chunkBounds(w))
      .select(col("*"), explode(
        zip_with(
          slice(col("cc_bounds"), lit(1), nChunks),
          slice(col("cc_bounds"), lit(2), nChunks),
          (a, b) => struct(a.as("s"), b.as("e")))).as("cc_se"))
      .withColumn("chunk", concat_ws(" ",
        slice(w, col("cc_se.s") + 1, col("cc_se.e") - col("cc_se.s"))))
      .filter(col("chunk") =!= "")
      .drop("cc_bounds", "cc_se")
  }

  def contentChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val perChunk = contentChunkRows(
        Tables.documents(spark, dir)
          .select(col("doc_id"), TextOps.words(col("text")).as("w")), "w")
      .select(col("chunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("reps"))
      .withColumn("wlen", size(split(col("chunk"), " ")).cast("bigint"))
    perChunk.agg(
        sum(col("reps")).as("n_chunks"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(col("reps") * col("wlen")).as("chunk_words_total"),
        sum(col("wlen")).as("chunk_words_distinct"))
      .withColumn("savings_ppm", expr(
        "((chunk_words_total - chunk_words_distinct) * 1000000) " +
          "div chunk_words_total"))
  }

  val contentChunkDedupOracle: String = """
    WITH d AS (
      SELECT doc_id, STRING_SPLIT_REGEX(text, '\s+') AS w FROM documents),
    h AS (
      SELECT doc_id, w,
        LIST_TRANSFORM(w, x -> CAST('0x' || SUBSTR(MD5(x), 1, 6) AS BIGINT))
          AS hs
      FROM d),
    b AS (
      SELECT doc_id, w,
        LIST_PREPEND(0, LIST_FILTER(RANGE(1, LEN(w) + 1),
          i -> hs[i] % 4 = 0) || [LEN(w)]) AS bounds
      FROM h),
    c AS (
      SELECT UNNEST(LIST_FILTER(LIST_TRANSFORM(RANGE(1, LEN(bounds)),
        j -> ARRAY_TO_STRING(w[bounds[j] + 1 : bounds[j + 1]], ' ')),
        s -> s <> '')) AS chunk
      FROM b),
    per AS (
      SELECT chunk, COUNT(*) AS reps,
        CAST(LEN(STRING_SPLIT(chunk, ' ')) AS BIGINT) AS wlen
      FROM c GROUP BY 1)
    SELECT CAST(SUM(reps) AS BIGINT) AS n_chunks,
      COUNT(*) AS n_distinct_chunks,
      CAST(SUM(reps * wlen) AS BIGINT) AS chunk_words_total,
      CAST(SUM(wlen) AS BIGINT) AS chunk_words_distinct,
      ((CAST(SUM(reps * wlen) AS BIGINT) - CAST(SUM(wlen) AS BIGINT))
        * 1000000) // CAST(SUM(reps * wlen) AS BIGINT) AS savings_ppm
    FROM per"""

  /** Cross-source chunk-sharing matrix — the PROVENANCE view on top of
    * [[contentChunkDedup]]'s corpus totals: for every source pair, how
    * many distinct content-defined chunks they share and the Jaccard
    * overlap of their chunk sets in exact ppm — "who syndicates whom",
    * the audit that finds boilerplate FLOWS between sources where the
    * corpus-level savings number only says boilerplate exists
    * ([[crossSourceOverlap]] is the document-shingle analog; chunks
    * catch shared runs documents don't fully contain). Scale: distinct
    * (source, chunk) pairs once (chunk-keyed, map-side), a chunk-keyed
    * self-join whose fan-out is bounded by \|sources\|² per chunk —
    * the output domain — and two \|sources\|-row broadcast join-backs.
    */
  def chunkSharingMatrix(spark: SparkSession, dir: String): DataFrame = {
    val chunks = graft.functions.PlanGuard.persist(
      contentChunkRows(
        Tables.documents(spark, dir)
          .select(col("source"), TextOps.words(col("text")).as("w")), "w")
        .select(col("source"), col("chunk"))
        .distinct())
    val counts = chunks.groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"))
    chunks.select(col("source").as("source_a"), col("chunk"))
      .join(chunks.select(col("source").as("source_b"), col("chunk")),
        Seq("chunk"))
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
      .join(broadcast(counts.select(col("source").as("source_a"),
        col("n_chunks").as("n_a"))), Seq("source_a"))
      .join(broadcast(counts.select(col("source").as("source_b"),
        col("n_chunks").as("n_b"))), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("(n_shared * 1000000) div (n_a + n_b - n_shared)")
          .as("jaccard_ppm"))
  }

  val chunkSharingMatrixOracle: String = """
    WITH d AS (
      SELECT source, STRING_SPLIT_REGEX(text, '\s+') AS w FROM documents),
    h AS (
      SELECT source, w,
        LIST_TRANSFORM(w, x -> CAST('0x' || SUBSTR(MD5(x), 1, 6) AS BIGINT))
          AS hs
      FROM d),
    b AS (
      SELECT source, w,
        LIST_PREPEND(0, LIST_FILTER(RANGE(1, LEN(w) + 1),
          i -> hs[i] % 4 = 0) || [LEN(w)]) AS bounds
      FROM h),
    c AS (
      SELECT DISTINCT source,
        UNNEST(LIST_FILTER(LIST_TRANSFORM(RANGE(1, LEN(bounds)),
          j -> ARRAY_TO_STRING(w[bounds[j] + 1 : bounds[j + 1]], ' ')),
          s -> s <> '')) AS chunk
      FROM b),
    counts AS (SELECT source, COUNT(*) AS n_chunks FROM c GROUP BY 1),
    shared AS (
      SELECT x.source AS source_a, y.source AS source_b,
        COUNT(*) AS n_shared
      FROM c x JOIN c y ON x.chunk = y.chunk AND x.source < y.source
      GROUP BY 1, 2)
    SELECT s.source_a, s.source_b,
      ca.n_chunks AS n_a, cb.n_chunks AS n_b, s.n_shared,
      (s.n_shared * 1000000) // (ca.n_chunks + cb.n_chunks - s.n_shared)
        AS jaccard_ppm
    FROM shared s
    JOIN counts ca ON ca.source = s.source_a
    JOIN counts cb ON cb.source = s.source_b"""

  def defs: Map[String, QueryDef] = Map(
    "chunk_sharing_matrix" ->
      QueryDef.sql(chunkSharingMatrix, chunkSharingMatrixOracle),
    "content_chunk_dedup" ->
      QueryDef.sql(contentChunkDedup, contentChunkDedupOracle),
    "longest_dup_span" -> QueryDef.sql(longestDupSpan, longestDupSpanOracle),
    "cross_source_overlap" -> QueryDef.sql(crossSourceOverlap, crossSourceOverlapOracle),
    "dedup_substring" -> QueryDef.sql(dedupSubstring, dedupSubstringOracle),
    "dup_span_report" -> QueryDef.sql(dupSpanReport, dupSpanReportOracle),
    "ngram_containment" -> QueryDef.sql(ngramContainment, ngramContainmentOracle),
    "decontaminate" -> QueryDef.sql(decontaminate, decontaminateOracle),
    "contamination_report" ->
      QueryDef.sql(contaminationReport, contaminationReportOracle),
    // Hash-checked against the exact oracle: the bloom pass only
    // prefilters (false positives trimmed by the exact recheck), so the
    // final rows are deterministic and identical to `decontaminate`'s.
    "decontaminate_bloom" -> QueryDef.sql(decontaminateBloom, decontaminateOracle),
    "dedup_components" -> QueryDef.sql(dedupComponents, dedupComponentsOracle),
    // the star form is registered as its own oracle-checked face (same
    // min-reachable-id contract, same oracle) so the scale path is
    // continuously verified, not just spec-compared to min-label
    "dedup_components_star" -> QueryDef.sql(
      (spark, dir) => starComponents(spark,
        dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
          .repartition(graft.functions.Iterate.statePartitions(spark))
          .transform(graft.functions.Iterate.checkpoint)),
      dedupComponentsOracle),
    "dedup_keep_best" -> QueryDef.sql(dedupKeepBest, dedupKeepBestOracle),
    "dedup_mix_shift" -> QueryDef.sql(dedupMixShift, dedupMixShiftOracle),
    "dup_cluster_sizes" -> QueryDef.sql(dupClusterSizes, dupClusterSizesOracle),
    "dedup_incremental" -> QueryDef.sql(dedupIncremental, dedupIncrementalOracle),
    "dedup_exact" -> QueryDef.sql(dedupExact, dedupExactOracle),
    "ngram_jaccard" -> QueryDef.sql(ngramJaccard, ngramJaccardOracle),
    "dedup_threshold_sweep" ->
      QueryDef.sql(dedupThresholdSweep, dedupThresholdSweepOracle),
    "dedup_minhash_lsh" -> QueryDef.sql(dedupMinhashLsh, dedupMinhashLshOracle),
    "minhash_recall_audit" -> QueryDef.sql(minhashRecallAudit, minhashRecallAuditOracle),
    "lsh_band_stats" -> QueryDef.sql(lshBandStats, lshBandStatsOracle),
    "dedup_simhash" -> QueryDef.sql(dedupSimhash, dedupSimhashOracle),
    "dedup_lines" -> QueryDef.sql(dedupLines, dedupLinesOracle),
    "dedup_sentences" -> QueryDef.sql(dedupSentences, dedupSentencesOracle),
    "dedup_apply" -> QueryDef.sql(dedupApply, dedupApplyOracle)
  )
}
