package graft.core

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Typed catalog entities (SURVEY §1.1/§1.6): the five openBIS entity
  * kinds the reference manipulates, as case classes so pipelines can use
  * `Dataset[T]` where type safety helps (catalog rows have fixed shape;
  * payload-side frames stay DataFrames because their schema is dynamic).
  */
case class SampleRow(code: String, space: String, sampleType: String,
                     experiment: String, props: Map[String, String])
case class ExperimentRow(id: String, project: String, expType: String,
                         props: Map[String, String])
case class DataSetRow(code: String, dsType: String, sample: String,
                      path: String, props: Map[String, String])
case class EdgeRow(child: String, parent: String)
case class FileRow(datasetCode: String, relpath: String, sizeBytes: Long,
                   sha256: Option[String])

/** Identifier templating (SURVEY §2.8 F9): the `'/'+space+'/'+project+…`
  * string builds scattered through every reference script, as column
  * expressions. */
object Identifiers {
  /** `/SPACE/CODE` sample identifiers. */
  def sampleId(space: Column, code: Column): Column =
    format_string("/%s/%s", space, code)
}
