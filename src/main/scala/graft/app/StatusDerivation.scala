package graft.app

import graft.core.{ColumnError, ExecMode}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Jobs-table status rollup (update_jobs_tables,
  * File_Submission_Object.py:439-478): one status per submitted file plus a
  * batch status shared by all files of the submission.
  *
  * Driver-side by design — the inputs are one aggregated count per
  * (sheet, severity), collected from a single pass over the error dataset
  * (the reference re-queries the whole error table per sheet per status).
  */
object StatusDerivation {

  final case class FileStatus(sheet: String, status: String, batchStatus: String)

  /** Severity counts per sheet from the distributed error table — the one
    * collect() this module needs. On `SubmissionRunner.validate`'s pinned
    * result it runs no rule pipeline, and a small stamped source runs
    * without code generation ([[graft.core.ExecMode]]).
    */
  def severityCounts(errors: DataFrame): Map[(String, String), Long] =
    ExecMode.scoped(errors.sparkSession, ExecMode.sourceBytes(errors)) {
      errors.groupBy("CSV_Sheet_Name", "Message_Type").count()
        .collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
    }

  /** Row-error mode (error_string != "Column_Error"). */
  def derive(sheets: Seq[String], counts: Map[(String, String), Long]): Seq[FileStatus] =
    rollup(sheets, sheets.map { s =>
      if (counts.getOrElse((s, "Error"), 0L) > 0) "FILE_PROCESSED_ERRORS_FOUND"
      else if (counts.getOrElse((s, "Warning"), 0L) > 0) "FILE_PROCESSED_WARNINGS_FOUND"
      else "FILE_PROCESSED_SUCCESS"
    })

  /** Column-error mode (error_string == "Column_Error"): statuses come from
    * the column-error table, warnings still from the row-error counts.
    */
  def deriveColumnMode(sheets: Seq[String], columnErrors: Seq[ColumnError],
      rowCounts: Map[(String, String), Long]): Seq[FileStatus] = {
    val colErrSheets = columnErrors.filter(_.Message_Type == "Error")
      .map(_.CSV_Sheet_Name).toSet
    rollup(sheets, sheets.map { s =>
      if (colErrSheets.contains(s)) "FILE_NOT_PROCESSED_COLUMN_ERRORS_FOUND"
      else if (rowCounts.getOrElse((s, "Warning"), 0L) > 0) "FILE_PROCESSED_WARNINGS_FOUND"
      else "FILE_NOT_PROCESSED"
    })
  }

  /** Batch precedence (FSO:471-478): errors > warnings > column errors >
    * success; every file carries the same batch status.
    */
  private def rollup(sheets: Seq[String], statuses: Seq[String]): Seq[FileStatus] = {
    val batch =
      if (statuses.contains("FILE_PROCESSED_ERRORS_FOUND")) "FILE_VALIDATION_FAILURE"
      else if (statuses.contains("FILE_PROCESSED_WARNINGS_FOUND")) "FILE_VALIDATION_SUCCESS_WARNINGS"
      else if (statuses.contains("FILE_NOT_PROCESSED_COLUMN_ERRORS_FOUND")) "FILE_NOT_VALIDATED_COLUMN_ERRORS"
      else "FILE_VALIDATION_SUCCESS"
    sheets.zip(statuses).map { case (s, st) => FileStatus(s, st, batch) }
  }
}
