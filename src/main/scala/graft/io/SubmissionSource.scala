package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.hadoop.fs.{FileSystem, Path}

/** Submission-directory source: one CSV per sheet under a prefix (local
  * path or any Hadoop FS URI — s3a in production). Mirrors
  * populate_data_tables / get_submission_metadata
  * (File_Submission_Object.py:47-94).
  */
object SubmissionSource {

  final case class SubmissionMeta(
      cbcName: String,
      declaredParticipants: Option[Long],
      declaredBiospecimens: Option[Long])

  /** Load every `*.csv` under `dir` as a sheet keyed by file name. */
  def load(spark: SparkSession, dir: String): Map[String, DataFrame] = {
    val path = new Path(dir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Map.empty
    fs.listStatus(path).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".csv"))
      .map(s => s.getPath.getName -> SheetReader.read(spark, s.getPath.toString))
      .toMap
  }

  /** submission.csv metadata (FSO:73-94): the CBC name is the SECOND header
    * cell; declared participant/biospecimen counts sit at rows [1][1] and
    * [2][1] of the body. Row_Index is the line number, so body rows 0-2
    * are `Row_Index <= 4`: one filtered scan, sorted on the driver (a
    * global sort would run a sample, a shuffle and a collect job).
    */
  def metadata(submission: DataFrame): Option[SubmissionMeta] = {
    val cols = submission.columns.filterNot(_ == "Row_Index")
    if (cols.length < 2) return None
    val rows = submission.filter(col("Row_Index") <= 4L).collect()
      .sortBy(_.getAs[Long]("Row_Index"))
    def cell(rowIdx: Int): Option[Long] =
      if (rows.length > rowIdx) scala.util.Try(rows(rowIdx).getString(1).trim.toLong).toOption
      else None
    Some(SubmissionMeta(cols(1), cell(1), cell(2)))
  }

  /** check_submission_quality (nci-seronet-data-validator.py:179-194):
    * gate reasons in reference order; None = proceed.
    */
  def qualityGate(
      sheets: Map[String, DataFrame],
      columnErrorCount: Int,
      cbcKnown: Boolean): Option[String] =
    if (!sheets.contains("submission.csv"))
      Some("Submission File was not included in the list of files to validate")
    else if (columnErrorCount > 0)
      Some(s"Errors were found in $columnErrorCount column names, unable to Validate Submission")
    else if (!cbcKnown) {
      val name = sheets("submission.csv").columns.lift(1).getOrElse("")
      Some(s"The Submitted CBC name: ${name}does NOT exist in the Database")
    } else None
}
