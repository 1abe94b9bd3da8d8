package graft.sources

import graft.functions.VectorOps
import graft.operators.Similarity
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ANN index as a lake table — the embedding-side member of the
  * index-is-a-table family (minhash band index:
  * `CurationPipeline.materializeLshIndex`; CMS/bloom: [[SketchStore]]).
  *
  * The corpus pays the hyperplane bucketing ONCE; the index lands as
  * parquet PARTITIONED BY bucket, so a probe batch reads only the
  * partitions its probe set names — the on-disk analog of ann_lsh's
  * in-memory bucket fan-out, and the shape a 100 TB retrieval service
  * actually runs (index maintained by the pipeline, queried by jobs
  * that never touch the raw corpus). Probing uses ann_refine's
  * multi-probe discipline (own bucket ∪ Hamming-1 flips) with exact
  * cosine re-rank, so disk-probe results are spec-pinned identical to
  * the in-memory operator.
  */
object AnnIndex {

  /** Bucket every vector and write the index partitioned by bucket.
    * One corpus pass, scan-speed (the bucket expression is a codegen'd
    * fold over the vector); ~2^6 partitions at the current plane count.
    */
  def materialize(embeddings: DataFrame, path: String): Unit =
    write(embeddings, path, "overwrite")

  /** Append a batch to an existing index (the rolling-corpus mode —
    * [[graft.streaming.StreamingCuration]]'s per-micro-batch index
    * maintenance); creates the index if absent. Same layout as
    * [[materialize]], so probes are indifferent to how rows arrived.
    */
  def append(embeddings: DataFrame, path: String): Unit =
    write(embeddings, path, "append")

  private def write(embeddings: DataFrame, path: String, mode: String): Unit =
    embeddings
      .withColumn("bucket", Similarity.bucketColumn(col("embedding")))
      .write.partitionBy("bucket").mode(mode).parquet(path)

  /** Probe a query batch against the on-disk index: top-k by exact
    * cosine over the multi-probe candidate union, self-matches
    * excluded — the same contract as the registered ann_refine.
    *
    * The probe-bucket set is collected driver-side (≤ 7·|batch| longs —
    * a probe batch is small by definition) and pushed into the scan as
    * a STATIC partition filter: Spark prunes non-probed bucket
    * directories at planning time, so the job reads
    * ~(planes+1)/2^planes of the index regardless of index size.
    */
  def probe(spark: SparkSession, indexPath: String, queries: DataFrame,
      k: Int): DataFrame = {
    val probes = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        explode(Similarity.probeBucketsOf(
          Similarity.bucketColumn(col("embedding")))).as("bucket"))
    // int literals: the partition directory values read back as INT
    // (partition-type inference); matching literal types keeps the IN
    // predicate directly evaluable on partition values — no cast in the
    // way of pruning. Bucket ids are < 2^planes, far inside int range.
    val probedBuckets = probes.select(col("bucket")).distinct()
      .collect().map(_.getLong(0).toInt)
    val cand = Sinks.readParquet(spark, indexPath)
      .filter(col("bucket").isin(probedBuckets: _*))
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("bucket").cast("long").as("bucket"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    broadcast(probes).join(cand, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        VectorOps.cosine(col("qe"), col("ce")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }
}
