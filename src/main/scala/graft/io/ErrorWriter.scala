package graft.io

import graft.core.{ExecMode, ValidationError}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Error-report sink: one `<sheet>_Errors.csv` per distinct sheet name,
  * sorted by Row_Index (write_error_file, File_Submission_Object.py:417-430;
  * the `uni_name in [...]` comparison at :425 is always False — defect
  * §2.9-6 — so every file sorts by Row_Index; replicated).
  *
  * Layout: `outDir/<name with .csv replaced by _Errors.csv>/` holds exactly
  * one header-carrying `part-*` file (`.csv.gz` with `gzip`), rows in
  * Row_Index order, plus `_SUCCESS`. A report of the same name from an
  * earlier run is replaced; other files in `outDir` are left alone.
  *
  * Jobs: the same number however many sheets there are — four for an
  * already pinned frame (`SubmissionRunner.validate`'s result), else five
  * plus one per shuffle stage of the incoming plan:
  *  - the pin runs the incoming frame (a lazy error plan) once: one job
  *    and its plan's shuffle stages; a frame that is already a
  *    materialized checkpoint is used as it is;
  *  - one `groupBy(CSV_Sheet_Name).count()` yields both the sheet list
  *    and the returned counts (a write's task stats carry per-task row
  *    totals only, not per-directory ones): a shuffle and a collect;
  *  - one write: a shuffle and the write job. It hash partitions on a
  *    copy of the sheet name into one partition per sheet, sorts each
  *    partition by (sheet, Row_Index) and `partitionBy`s the copy, so
  *    every sheet lands in exactly one task and one file, as under
  *    `coalesce(1)`.
  *
  * Staging: the write goes to `outDir/_staging-<uuid>/`. Only once it has
  * committed is each `sheet=<escaped name>/` directory moved to its report
  * name and given a `_SUCCESS` marker; the staging directory is deleted in
  * every case. A failing job therefore leaves the reports of an earlier
  * run as they were and throws with the job's failure in its cause chain.
  * On a local or HDFS path the move is a rename; on s3a a rename is a copy
  * of every object followed by a delete, so the move costs one copy of the
  * reports.
  *
  * Execution mode: a frame stamped with a small source size is written
  * without code generation ([[graft.core.ExecMode]]).
  */
object ErrorWriter {

  /** The partition column: a copy of `CSV_Sheet_Name`, so the written
    * files keep every report column. */
  private val SheetCopy = "sheet"

  def write(errors: DataFrame, outDir: String,
      gzip: Boolean = false): Seq[(String, Long)] =
    ExecMode.scoped(errors.sparkSession, ExecMode.sourceBytes(errors)) {
      // error sets are rule output, far smaller than the submission, so a
      // lineage-free pin is cheap; without it the count and the write would
      // each re-run the whole pipeline
      writePinned(if (isPinned(errors)) errors else errors.localCheckpoint(),
        outDir, gzip)
    }

  /** Whether `df` is a materialized checkpoint: reading it runs no plan. */
  private def isPinned(df: DataFrame): Boolean = df.queryExecution.analyzed match {
    case r: LogicalRDD => r.rdd.isCheckpointed
    case _ => false
  }

  private def writePinned(pinned: DataFrame, outDir: String,
      gzip: Boolean): Seq[(String, Long)] = {
    val counts = pinned.groupBy("CSV_Sheet_Name").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toIndexedSeq
    if (counts.isEmpty) return Seq.empty

    val out = new Path(outDir)
    val fs = out.getFileSystem(pinned.sparkSession.sessionState.newHadoopConf())
    val staging = new Path(out, s"_staging-${java.util.UUID.randomUUID()}")
    try {
      val writer = pinned
        .select(ValidationError.columns.map(col) :+ col("CSV_Sheet_Name").as(SheetCopy): _*)
        .repartition(counts.size, col(SheetCopy))
        .sortWithinPartitions(SheetCopy, "Row_Index")
        .write.partitionBy(SheetCopy)
        .option("header", "true")
      (if (gzip) writer.option("compression", "gzip") else writer)
        .csv(staging.toString)
      counts.map { case (name, n) =>
        val fileName = name.replace(".csv", "_Errors.csv")
        // a string path, as Spark builds it: a ':' in the file name must
        // not read as a URI scheme
        val report = new Path(s"$outDir/$fileName")
        val staged = new Path(staging,
          ExternalCatalogUtils.getPartitionPathString(SheetCopy, name))
        fs.delete(report, true)
        if (!fs.rename(staged, report))
          throw new java.io.IOException(s"could not move $staged to $report")
        fs.create(new Path(report, "_SUCCESS")).close()
        (fileName, n)
      }
    } finally fs.delete(staging, true)
  }
}
