package graft.dispatch

import graft.core.ValidationError
import graft.rules.RuleEvaluator
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-sheet referential checks (File_Submission_Object.py:106-127,
  * 335-415; Validation_Rules.py:37-44).
  *
  * Mechanism: chained full-outer joins build an ID "presence matrix"; a
  * sheet's presence for an ID is proxied by the null-ness of one of its
  * non-key merge columns, and null-pattern predicates classify each
  * presence combination into an error message.
  *
  * Scale note: the matrices join on the ID key — at 100 TB these are
  * shuffle joins on a single well-distributed key; each slice is projected
  * to 2-3 columns before the join so only key material shuffles.
  */
object CrossSheet {

  /** get_all_part_ids (FSO:106-115): prior ⟗ demo ⟗ bio ⟗ confirm on
    * Research_Participant_ID.
    */
  def allPartIds(slices: String => Option[DataFrame]): Option[DataFrame] =
    chainOuter("Research_Participant_ID", Seq(
      "prior_clinical_test.csv", "demographic.csv",
      "biospecimen.csv", "confirmatory_clinical_test.csv"), slices)

  /** get_all_bio_ids (FSO:116-127): bio ⟗ aliquot ⟗ equipment ⟗ reagent ⟗
    * consumable on Biospecimen_ID.
    */
  def allBioIds(slices: String => Option[DataFrame]): Option[DataFrame] =
    chainOuter("Biospecimen_ID", Seq(
      "biospecimen.csv", "aliquot.csv", "equipment.csv",
      "reagent.csv", "consumable.csv"), slices)

  private def chainOuter(key: String, names: Seq[String],
      slices: String => Option[DataFrame]): Option[DataFrame] = {
    val dfs = names.flatMap(n => slices(n))
    if (dfs.size != names.size) None // reference KeyErrors when a slice is absent
    else Some(dfs.reduce((a, b) => a.join(b, Seq(key), "outer")))
  }

  /** get_cross_sheet_Participant_ID (FSO:378-396 + emitter :335-339): the 6
    * presence patterns over (prior, demo, bio) proxied by
    * SARS_CoV_2_PCR_Test_Result / Age / Biospecimen_ID null-ness.
    * confirmatory is in the matrix but never classified (no proxy).
    * Scope: >=1 null across the row, and well-formed `^<cbc>_[0-9]{6}$` IDs.
    * Emitted at Row_Index -10 into sheet Cross_Participant_ID.csv.
    */
  def crossSheetParticipant(matrix: DataFrame, cbcId: Int, seqBase: Long): DataFrame = {
    val key = "Research_Participant_ID"
    val anyNull = matrix.columns.filter(_ != key)
      .map(c => col(c).isNull).reduce(_ || _)
    val scoped = matrix
      .filter(anyNull)
      .filter(col(key).rlike("^" + cbcId + "[_]{1}[0-9]{6}$"))
    val prior = col("SARS_CoV_2_PCR_Test_Result").isNotNull
    val demo = col("Age").isNotNull
    val bio = col("Biospecimen_ID").isNotNull
    val patterns: Seq[(Column, String)] = Seq(
      (prior && !demo && !bio,
        "ID is found in Prior_Clinical_Test, but is missing from Demographic and Biospecimen"),
      (!prior && demo && !bio,
        "ID is found in Demographic, but is missing from Prior_Clinical_Test and Biospecimen"),
      (!prior && !demo && bio,
        "ID is found in Biospecimen, but is missing from Prior_Clinical_Test and Demographic"),
      (prior && demo && !bio,
        "ID is found in Prior_Clinical_Test and Demographic but is missing from Biospecimen"),
      (prior && !demo && bio,
        "ID is found in Prior_Clinical_Test and Biospecimen but is missing from Demographic"),
      (!prior && demo && bio,
        "ID is found in Demographic and Biospecimen but is missing from Prior_Clinical_Test"))
    val structs = patterns.zipWithIndex.map { case ((p, msg), i) =>
      when(p, errStruct("Cross_Participant_ID.csv",
        lit(ValidationError.CrossSheetRowIndex), key,
        col(key), lit(msg), seqBase + i))
    }
    RuleEvaluator.explodeFired(scoped, structs).select("e.*")
  }

  /** get_cross_sheet_Biospecimen_ID (FSO:368-377) + write_cross_bio_errors
    * (FSO:341-355). Presence proxies: biospecimen -> Biospecimen_Type; each
    * child -> its own non-key column. Aliquot must exist iff bio exists;
    * PBMC-only children (equipment/reagent/consumable) add Biospecimen_Type
    * conditions. Scope: >=1 null and `^<cbc>_[0-9]{6}_[0-9]{3}$` IDs.
    *
    * Row identity divergence (documented): the reference assigns these
    * errors Row_Index = (position in the merged frame) + 2, a pandas
    * join-order artifact. We assign a deterministic sequential index in
    * Biospecimen_ID order — stable under any partitioning — via sorted
    * zipWithIndex rather than an UNPARTITIONED window (which would gather
    * every row into one partition; the scoped set is small today but the
    * operator must not carry that cliff).
    */
  def crossSheetBiospecimen(matrix: DataFrame, cbcId: Int, seqBase: Long): DataFrame = {
    val key = "Biospecimen_ID"
    val anyNull = matrix.columns.filter(_ != key)
      .map(c => col(c).isNull).reduce(_ || _)
    val sorted = matrix
      .filter(anyNull)
      .filter(col(key).rlike("^" + cbcId + "[_]{1}[0-9]{6}[_]{1}[0-9]{3}$"))
      .orderBy(key)
    val scoped = {
      // range-partitioned sort + zipWithIndex = global rank, distributed
      val schema = sorted.schema.add("Row_Index", org.apache.spark.sql.types.LongType)
      val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 2L))
      }
      sorted.sparkSession.createDataFrame(rdd, schema)
    }
    val bioPresent = col("Biospecimen_Type").isNotNull
    val children: Seq[(String, String)] = Seq(
      "Aliquot_ID" -> "Aliquot.csv",
      "Equipment_ID" -> "Equipment.csv",
      "Reagent_Name" -> "Reagent.csv",
      "Consumable_Name" -> "Consumable.csv")
    val structs = children.zipWithIndex.flatMap { case ((proxy, sheetLabel), ci) =>
      val childPresent = col(proxy).isNotNull
      val base = seqBase + ci * 10
      val missingFromBio = when(!bioPresent && childPresent,
        errStruct("Cross_Biospecimen_ID.csv", col("Row_Index"), key, col(key),
          lit(s"ID is found in $sheetLabel, however ID is missing from Biospecimen.csv"),
          base))
      if (proxy == "Aliquot_ID") {
        val missingFromChild = when(bioPresent && !childPresent,
          errStruct("Cross_Biospecimen_ID.csv", col("Row_Index"), key, col(key),
            lit(s"ID is found in Biospecimen.csv, however is missing from $sheetLabel"),
            base + 1))
        Seq(missingFromBio, missingFromChild)
      } else {
        val notPbmc = when(col("Biospecimen_Type") =!= "PBMC" && bioPresent && childPresent,
          errStruct("Cross_Biospecimen_ID.csv", col("Row_Index"), key, col(key),
            lit(s"ID is found in $sheetLabel, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC"),
            base + 1))
        val pbmcMissing = when(col("Biospecimen_Type") === "PBMC" && bioPresent && !childPresent,
          errStruct("Cross_Biospecimen_ID.csv", col("Row_Index"), key, col(key),
            lit(s"ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from $sheetLabel"),
            base + 2))
        Seq(missingFromBio, notPbmc, pbmcMissing)
      }
    }
    RuleEvaluator.explodeFired(scoped, structs).select("e.*")
  }

  private def errStruct(sheet: String, rowIndex: Column, colName: String,
      value: Column, msg: Column, seq: Long): Column =
    struct(
      lit("Error").as("Message_Type"),
      lit(sheet).as("CSV_Sheet_Name"),
      rowIndex.as("Row_Index"),
      lit(colName).as("Column_Name"),
      value.as("Column_Value"),
      msg.as("Error_Message"),
      lit(seq).as("rule_seq"))

  /** get_passing_part_ids (FSO:397-415): distinct IDs across owning sheets
    * minus errored IDs, reconciled against the declared count from
    * submission.csv. Emits one error at Row_Index -5 on mismatch.
    * (The reference crashes here on the mismatch path via an attribute typo,
    * defect §2.9-4; we implement the intended behavior.)
    */
  def passingIdReconciliation(
      checkField: String,
      owningSheets: Seq[String],
      sheets: Map[String, DataFrame],
      errors: DataFrame,
      declaredCount: Long,
      seqBase: Long): DataFrame = {
    val spark = errors.sparkSession
    // per-sheet (sheet ids ANTI-JOIN that sheet's errored values). The
    // sheet side is RENDERED through the cell typing before comparing:
    // errors carry Column_Value in rendered form ("123456" -> "123456.0"
    // for a number-shaped cell), and the reference compares CONVERTED
    // cells on both sides (get_passing_part_ids works on the converted
    // Data_Table), so a raw-string sheet side would let every errored
    // number/date-shaped ID slip through the anti-join and count as
    // passing — and would count "5" and "5.0" as two distinct IDs.
    val perSheet = owningSheets.flatMap { s =>
      sheets.get(s).filter(_.columns.contains(checkField)).map { df =>
        val errIds = errors.filter(col("CSV_Sheet_Name") === s &&
          col("Column_Name") === checkField && col("Row_Index") >= 0)
          .select(col("Column_Value").as("id"))
        graft.types.CellType.memoColumns(df.select(col(checkField)), Seq(checkField))
          .select(graft.types.CellType.renderM(checkField).as("id"))
          .join(errIds, Seq("id"), "left_anti")
      }
    }
    val passCount =
      if (perSheet.isEmpty) 0L
      else perSheet.reduce(_ union _).distinct().count()
    val (colLabel, noun) =
      if (checkField == "Research_Participant_ID") ("submit_Participant_IDs", "Participat")
      else ("submit_Biospecimen_IDs", "Biospecimen")
    val rows =
      if (declaredCount != passCount)
        Seq(org.apache.spark.sql.Row("Error", "submission.csv",
          ValidationError.CountMismatchRowIndex, colLabel,
          declaredCount.toString,
          s"After validation only $passCount $noun IDS are valid", seqBase))
      else Seq.empty
    spark.createDataFrame(spark.sparkContext.parallelize(rows),
      ValidationError.schema)
  }
}
