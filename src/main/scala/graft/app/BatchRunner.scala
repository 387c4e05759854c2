package graft.app

import graft.io.{ErrorWriter, SubmissionSource}
import org.apache.spark.sql.SparkSession
import java.time.LocalDate

/** Multi-submission orchestration — the reference's lambda_handler outer
  * loop (nci-seronet-data-validator.py:69-115): validate each submission
  * independently, isolate failures (one bad submission must not stop the
  * batch — reference :109-111), collect per-submission outcomes.
  */
object BatchRunner {

  sealed trait Outcome { def submission: String }
  final case class Rejected(submission: String, reason: String) extends Outcome
  final case class Failed(submission: String, error: String) extends Outcome
  /** `sourceBytes` and `interpreted` say how the rule pass ran (see
    * `SubmissionRunner.Result`). */
  final case class Validated(
      submission: String,
      errorFiles: Seq[(String, Long)],
      statuses: Seq[StatusDerivation.FileStatus],
      summary: SummaryFormatter.Summary,
      sourceBytes: Option[Long],
      interpreted: Boolean) extends Outcome

  /** One submission, the flow both entry points share: load the sheets,
    * refuse the submission at the quality gate, read its declared counts
    * from `submission.csv`, validate, write the error reports into
    * `outDir`, and derive the statuses and the summary (stamped `stamp`).
    * Throws what the steps throw; [[run]] isolates it per submission.
    */
  def submission(spark: SparkSession, dir: String, name: String, outDir: String,
      cbcId: Int, asOf: LocalDate, stamp: String): Outcome = {
    val sheets = SubmissionSource.load(spark, dir)
    if (sheets.isEmpty) Rejected(name, "no sheets found")
    else SubmissionSource.qualityGate(sheets, 0, cbcKnown = true) match {
      case Some(reason) => Rejected(name, reason)
      case None =>
        val meta = sheets.get("submission.csv").flatMap(SubmissionSource.metadata)
        val result = SubmissionRunner.validate(spark, sheets,
          SubmissionRunner.Config(cbcId = cbcId, asOf = asOf,
            declaredParticipants = meta.flatMap(_.declaredParticipants),
            declaredBiospecimens = meta.flatMap(_.declaredBiospecimens)))
        val files = ErrorWriter.write(result.errors, outDir)
        val counts = StatusDerivation.severityCounts(result.errors)
        val names = sheets.keys.toSeq.sorted
        Validated(name, files, StatusDerivation.derive(names, counts),
          SummaryFormatter.format(name, "0", cbcId.toString, names, counts, stamp),
          result.sourceBytes, result.interpreted)
    }
  }

  def run(spark: SparkSession, submissionDirs: Seq[String], outBase: String,
      cbcId: Int, asOf: LocalDate): Seq[Outcome] =
    submissionDirs.map { dir =>
      val name = dir.replaceAll("/+$", "").split('/').last
      try submission(spark, dir, name, s"$outBase/$name", cbcId, asOf, asOf.toString)
      catch {
        // per-submission isolation: record and continue the batch
        case e: Exception => Failed(name, e.getMessage)
      }
    }
}
