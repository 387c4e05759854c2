package graft.app

import graft.core.{ColumnError, ExecMode, ValidationError}
import graft.dispatch.{CrossSheet, MergeTables, SheetCatalog}
import graft.rules.RuleEvaluator
import graft.types.CellType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** Submission-level orchestration — the Spark port of the reference's
  * lambda_handler inner loop (nci-seronet-data-validator.py:69-115):
  * column-name conformance, context merges, per-sheet rule evaluation,
  * cross-sheet matrices, declared-count reconciliation, final dedup.
  *
  * Each sheet's evaluation is ONE DataFrame plan (scan -> broadcast
  * joins -> single-pass rule explode). `validate` is eager: it runs the
  * whole rule pipeline and returns the error set pinned, so the writer
  * and the status rollup read it without re-running anything. Its jobs:
  *  - `CrossSheet.crossSheetBiospecimen` numbers its scoped rows with
  *    `.rdd.zipWithIndex`, which executes the biospecimen matrix at
  *    construction;
  *  - with declared counts, the unioned error set is pinned with
  *    `localCheckpoint` (the whole rule pipeline runs here), and each
  *    declared-count reconciliation `count()`s its passing IDs;
  *  - the deduplicated error set is pinned with `localCheckpoint`: the
  *    rule pipeline (or, with declared counts, the reconciliation and the
  *    dedup shuffle over the first pin) runs here.
  * On a dirty SeroNet-shaped submission with declared counts that is 58
  * jobs (10 for the matrix, 24 for the first pin, 22 for the two counts,
  * 2 for the final pin). Drivers `collect()` only scalars (declared
  * counts, summary pivot).
  *
  * Execution mode: when every sheet carries a source-size stamp (sheets
  * read by [[graft.io.SheetReader]]) and their sum is small, the whole of
  * `validate` runs without code generation ([[graft.core.ExecMode]]); the
  * returned error set carries the same stamp, so `ErrorWriter.write` and
  * `StatusDerivation.severityCounts` pick the same mode.
  */
object SubmissionRunner {

  final case class Config(
      cbcId: Int,
      asOf: LocalDate,
      declaredParticipants: Option[Long] = None,
      declaredBiospecimens: Option[Long] = None,
      expectedColumns: Map[String, Seq[String]] = Map.empty,
      // default (None): the bundled public CMS ICD-10-CM catalog (~94k
      // codes) via IcdCatalog.existsFn(spark), a lookup in the code set
      // each JVM loads once from the jar (no broadcast) — a reference
      // user gets working check_icd10 out of the box; inject a custom
      // membership fn to override
      icdExists: Option[Column => Column] = None,
      contextFallback: String => Option[DataFrame] = _ => None)

  /** `errors` is pinned: reading it runs no rule pipeline. `sourceBytes`
    * is the sheets' summed source-size stamp (`None` if any sheet has
    * none) and `interpreted` whether validation ran without code
    * generation. */
  final case class Result(
      errors: DataFrame,
      columnErrors: Seq[ColumnError],
      partListSheets: Seq[String],
      bioListSheets: Seq[String],
      sourceBytes: Option[Long],
      interpreted: Boolean)

  /** Sheets never rule-checked (nci-seronet-data-validator.py:85). */
  val skippedSheets: Set[String] = Set("submission.csv", "shipping_manifest.csv")

  def validate(spark: SparkSession, sheets: Map[String, DataFrame],
      cfg: Config): Result = {
    val bytes = ExecMode.sourceBytes(sheets.values)
    ExecMode.scoped(spark, bytes)(run(spark, sheets, cfg, bytes))
  }

  private def run(spark: SparkSession, sheets: Map[String, DataFrame],
      cfg: Config, bytes: Option[Long]): Result = {
    // check_col_names (File_Submission_Object.py:55-72): driver-side set diff
    val columnErrors = sheets.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      if (skippedSheets.contains(name)) Nil
      else cfg.expectedColumns.get(name).toSeq.flatMap { expected =>
        val have = df.columns.filterNot(_ == "Row_Index")
        val unexpected = have.filterNot(expected.contains).map(c =>
          ColumnError("Error", name, c, "Column Found in CSV is not Expected"))
        val missing = expected.filterNot(have.contains).map(c =>
          ColumnError("Error", name, c, "This Column is Expected and is missing from CSV File"))
        unexpected ++ missing
      }
    }

    var seqBase = 0L
    val perSheet = Seq.newBuilder[DataFrame]
    var partList = Seq.empty[String]
    var bioList = Seq.empty[String]

    // reference iterates Data_Object_Table in insertion order; we pin
    // alphabetical order (deterministic under any map implementation)
    val icdExists = cfg.icdExists.getOrElse(graft.io.IcdCatalog.existsFn(spark))
    sheets.toSeq.sortBy(_._1).foreach { case (name, df) =>
      if (!skippedSheets.contains(name)) {
        val (merged, dropList) = MergeTables.merge(name, df, sheets, cfg.contextFallback)
        val plan = SheetCatalog.plan(name, merged.columns.filterNot(_ == "Row_Index").toSeq,
          dropList, cfg.cbcId, cfg.asOf, icdExists)
        perSheet += RuleEvaluator.evaluate(name, merged, plan.rowRules, seqBase)
        seqBase += plan.rowRules.size
        plan.dupIdColumns.foreach { c =>
          perSheet += RuleEvaluator.dupIds(name, merged, c, seqBase)
          seqBase += 1
        }
        if (plan.contributesPartList) partList :+= name
        if (plan.contributesBioList) bioList :+= name
      }
    }

    val slices: String => Option[DataFrame] =
      n => MergeTables.slice(sheets, n, cfg.contextFallback)

    CrossSheet.allPartIds(slices).foreach { m =>
      perSheet += CrossSheet.crossSheetParticipant(m, cfg.cbcId, seqBase)
      seqBase += 10
    }
    CrossSheet.allBioIds(slices).foreach { m =>
      perSheet += CrossSheet.crossSheetBiospecimen(m, cfg.cbcId, seqBase)
      seqBase += 50
    }

    val sheetErrors = perSheet.result()
    val unionedLazy = sheetErrors.reduceOption(_ unionByName _)
      .getOrElse(ValidationError.empty(spark))
    // each reconciliation call .count()s a plan embedding the WHOLE
    // rule pipeline, and the final pin executes it once more —
    // materialize the (small) error set once instead of paying the
    // full scan->parse->rule-explode cost up to three times. Only when
    // a reconciliation will actually run; otherwise the final pin is
    // the pipeline's only run.
    val unioned =
      if (cfg.declaredParticipants.isDefined || cfg.declaredBiospecimens.isDefined)
        unionedLazy.localCheckpoint()
      else unionedLazy

    val withRecon = {
      var acc = unioned
      cfg.declaredParticipants.foreach { n =>
        acc = acc.unionByName(CrossSheet.passingIdReconciliation(
          "Research_Participant_ID", partList, sheets, unioned, n, seqBase))
      }
      cfg.declaredBiospecimens.foreach { n =>
        acc = acc.unionByName(CrossSheet.passingIdReconciliation(
          "Biospecimen_ID", bioList, sheets, unioned, n, seqBase + 1))
      }
      acc
    }

    val deduped = RuleEvaluator.dedupFirst(withRecon).drop("rule_seq")
    val errors = bytes.fold(deduped)(ExecMode.stamp(deduped, _)).localCheckpoint()
    Result(errors, columnErrors, partList, bioList, bytes, ExecMode.interpreted(bytes))
  }

  /** Slack-summary pivot (A2: pd.crosstab, nci-seronet-data-validator.py:227):
    * errors-by-(sheet x message-type) with zero fill.
    */
  def summaryPivot(errors: DataFrame): DataFrame =
    errors.groupBy("CSV_Sheet_Name")
      .pivot("Message_Type", Seq("Error", "Warning"))
      .count()
      .na.fill(0, Seq("Error", "Warning"))
      .orderBy("CSV_Sheet_Name")
}
