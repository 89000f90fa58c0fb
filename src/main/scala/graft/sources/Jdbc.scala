package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** S13: external relational sources over JDBC (the reference's
  * "path-info-db" data source, reporting-plugins/query-files/script.py:1-8).
  *
  * Thin on purpose: `spark.read.jdbc` already pushes filters and prunes
  * columns into the remote database, and `partitionColumn`/bounds split
  * the read across executors — the two things that matter at scale.
  */
object Jdbc {
  /** Read one table (or `"(subquery) alias"`). Filters composed on the
    * returned frame are pushed down to the database by the JDBC source. */
  def readTable(spark: SparkSession, url: String, table: String,
                props: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, props)
}
