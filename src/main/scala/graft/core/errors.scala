package graft.core

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The engine's error-accumulator schema, mirroring the reference's
  * `Error_list` (File_Submission_Object.py:21). Rules *return* datasets of
  * these instead of appending row-by-row (reference defect §2.9-8: O(n²)
  * `DataFrame.append` loop) — set-based evaluation is the Spark-native form.
  *
  * Row_Index is the CSV line number (pandas position + 2: 1-based + header,
  * File_Submission_Object.py:159). Sentinels: -3 duplicate-ID, -5 declared
  * count mismatch, -10 cross-sheet participant.
  */
final case class ValidationError(
    Message_Type: String,
    CSV_Sheet_Name: String,
    Row_Index: Long,
    Column_Name: String,
    Column_Value: String,
    Error_Message: String)

/** Schema-conformance errors (File_Submission_Object.py:19-20). */
final case class ColumnError(
    Message_Type: String,
    CSV_Sheet_Name: String,
    Column_Name: String,
    Error_Message: String)

object ValidationError {
  val columns: Seq[String] = Seq(
    "Message_Type", "CSV_Sheet_Name", "Row_Index",
    "Column_Name", "Column_Value", "Error_Message")

  /** The error table as the rules emit it: `columns` plus `rule_seq`, the
    * submission-wide emission order the first-wins dedup keys on.
    */
  val schema: StructType = StructType(columns.map(c =>
    StructField(c, if (c == "Row_Index") LongType else StringType)) :+
    StructField("rule_seq", LongType))

  /** An error table with no rows. */
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  val DupIdRowIndex: Long = -3L
  val CountMismatchRowIndex: Long = -5L
  val CrossSheetRowIndex: Long = -10L
}
