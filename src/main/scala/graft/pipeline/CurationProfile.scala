package graft.pipeline

/** Diagnostic main: run the curation pipeline once against
  * SPARK_GRAFT_SF_DIR and print the manifest — stage row counts,
  * reconciliation checks, and the per-stage wall-time split — as one
  * JSON line. The ops-facing view of [[CurationPipeline.runAll]]'s
  * manifest (the bench entry times the pipeline but discards it).
  */
object CurationProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.GraftSession.start(graft.GraftSession.envCores(32))
    val out = java.nio.file.Files.createTempDirectory("graft_curation_profile")
    val m = CurationPipeline.runAll(spark, sfDir, out.toString)
    println(m.map { case (k, v) => s""""$k":$v""" }
      .mkString("{\"profile\":\"curation\",", ",", s""","sf":"$sfDir"}"""))
    spark.stop()
  }
}
