package graft.pipelines

import graft.sources.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Nanopore run-tree registration (register-nanopore.py): parse the
  * directory structure into (run, kind, file) rows (S12), drop
  * facility-blacklisted kinds (P5), and slice the sha256 manifest per
  * folder (S9/A8).
  */
object NanoporePipeline {
  /** Log kinds the reference drops before registration
    * (register-nanopore.py:120-132 blacklist shape). */
  val KindBlacklist: Seq[String] = Seq("other_reports", "intermediate")

  /** Run tree → measurement rows: run / kind (fast5_pass, fastq_fail, …)
    * / file, blacklist applied. */
  def measurements(spark: SparkSession, runDir: String): DataFrame =
    Files.pathSegments(Files.binaryScan(spark, runDir), runDir,
        Seq("run", "kind", "member"))
      .filter(col("kind").isNotNull && !col("kind").isin(KindBlacklist: _*))
      .select("run", "kind", "member", "path", "length")

  /** A8: manifest entries under a folder prefix, grouped per folder —
    * the per-dataset checksum slice (register-nanopore.py:210-222). */
  def manifestSlices(manifest: DataFrame, prefix: String): DataFrame =
    manifest
      .filter(col("relpath").startsWith(prefix))
      .groupBy(element_at(split(col("relpath"), "/"), 1).as("folder"))
      .agg(sort_array(collect_list(struct(col("relpath"), col("sha256")))).as("entries"),
        count(lit(1)).as("n_files"))
}
