package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.util.sketch.{BloomFilter, CountMinSketch}
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** Sketches as TABLES — the production shape for every probe-style
  * operator here (heavy_hitters' CMS, decontaminate_bloom's bloom
  * bits, dedup_incremental's LSH bands): build the sketch ONCE from
  * the corpus, persist it, and let every later run probe from disk
  * instead of re-paying the corpus scan. The LSH band index is already
  * a plain DataFrame (CurationPipeline.materializeLshIndex writes it
  * directly); this store handles the driver-side sketch objects, which
  * serialize through their own stable wire formats
  * (`CountMinSketch.writeTo` / `BloomFilter.writeTo`) wrapped in a
  * one-row parquet table — same storage, lineage and permissions story
  * as every other table in the lake, no side-channel files.
  */
object SketchStore {

  private def write(spark: SparkSession, path: String, kind: String,
      bytes: Array[Byte]): Unit = {
    import spark.implicits._
    Seq((kind, bytes)).toDF("kind", "sketch")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def read(spark: SparkSession, path: String, kind: String): Array[Byte] = {
    val row = Sinks.readParquet(spark, path).collect()(0)
    require(row.getAs[String]("kind") == kind,
      s"sketch at $path is a ${row.getAs[String]("kind")}, expected $kind")
    row.getAs[Array[Byte]]("sketch")
  }

  def writeCms(spark: SparkSession, cms: CountMinSketch, path: String): Unit = {
    val out = new ByteArrayOutputStream()
    cms.writeTo(out)
    write(spark, path, "count_min_sketch", out.toByteArray)
  }

  def readCms(spark: SparkSession, path: String): CountMinSketch =
    CountMinSketch.readFrom(new ByteArrayInputStream(
      read(spark, path, "count_min_sketch")))

  def writeBloom(spark: SparkSession, bloom: BloomFilter, path: String): Unit = {
    val out = new ByteArrayOutputStream()
    bloom.writeTo(out)
    write(spark, path, "bloom_filter", out.toByteArray)
  }

  def readBloom(spark: SparkSession, path: String): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(
      read(spark, path, "bloom_filter")))
}
