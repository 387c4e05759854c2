package graft.rules

import graft.core.ValidationError
import graft.types.CellType
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Python-literal list values, because the reference renders rule parameters
  * into error messages with `str(list)` — `['Positive', 'Negative']`, `[0]`,
  * `1000000000.0` — and membership tests run against *converted* cells
  * (a numeric cell equals a numeric literal; a string cell equals a string
  * literal; never across).
  */
sealed trait PyVal {
  def render: String
  /** Membership test against the *converted* cell of column `name`
    * (memo-backed: [[RuleEvaluator]] projects the parse once per column).
    */
  def matches(name: String): Column
}
final case class PyS(s: String) extends PyVal {
  def render: String = s"'$s'"
  def matches(name: String): Column = CellType.isStringM(name) && col(name) === s
}
final case class PyI(i: Long) extends PyVal {
  def render: String = i.toString
  def matches(name: String): Column = {
    val n = CellType.asNumberM(name)
    n.isNotNull && n === i.toDouble
  }
}
final case class PyF(d: Double) extends PyVal {
  def render: String =
    if (d == math.floor(d) && !d.isInfinite) BigDecimal(d).toBigInt.toString + ".0"
    else d.toString
  def matches(name: String): Column = {
    val n = CellType.asNumberM(name)
    n.isNotNull && n === d
  }
}
object PyVal {
  def list(vs: Seq[PyVal]): String = vs.map(_.render).mkString("[", ", ", "]")
}

/** Dependency gate (`check_for_dependancy` / `check_multi_rule`,
  * File_Submission_Object.py:528-543): restricts the rows a rule sees and
  * contributes a prefix to the error message.
  */
sealed trait Gate {
  def predicate: Column
  def errorStr: String
  /** Columns this gate reads (for graceful skip when absent). */
  def inputs: Seq[String]
  /** Columns whose CellType memos the gate's predicate references. */
  def memoInputs: Seq[String] = inputs
}
case object NoGate extends Gate {
  val predicate: Column = lit(true)
  val errorStr: String = ""
  val inputs: Seq[String] = Nil
}
final case class IsANumberGate(colName: String) extends Gate {
  def predicate: Column = CellType.isNumberM(colName)
  def errorStr: String = colName + " is a Number "
  def inputs: Seq[String] = Seq(colName)
}
final case class IsADateGate(colName: String) extends Gate {
  def predicate: Column = CellType.isDateTimeM(colName)
  def errorStr: String = colName + " is a Date "
  def inputs: Seq[String] = Seq(colName)
}
final case class InValuesGate(colName: String, values: Seq[PyVal]) extends Gate {
  def predicate: Column = values.map(_.matches(colName)).reduce(_ || _)
  def errorStr: String = colName + " is in " + PyVal.list(values)
  def inputs: Seq[String] = Seq(colName)
}

/** One compiled per-row rule. `predicate` true => emit an error row for that
  * cell. `keepBlank=false` reproduces `sort_and_drop`'s default dropping of
  * blank-valued error rows (File_Submission_Object.py:152-156); only the
  * missing-value checks keep blanks.
  */
final case class CompiledRule(
    column: String,
    predicate: Column,
    severity: Column,
    message: Column,
    keepBlank: Boolean,
    inputs: Seq[String],
    memoInputs: Seq[String] = Nil)

/** Required-ness of a column for the missing-value check
  * (`get_missing_values`, File_Submission_Object.py:314-333).
  */
sealed trait Required
case object ReqYes extends Required
case object ReqNo extends Required
case object ReqSarsPositive extends Required
case object ReqSarsNegative extends Required

/** Rule constructors. Each mirrors one reference primitive (SURVEY §2.8)
  * but compiles to a *single* emission per cell: the reference appends
  * multiple error rows and then dedups on (Row_Index, Column_Name,
  * Column_Value) keeping the first, so only the first-applicable message
  * survives — we encode that priority directly with when/otherwise.
  *
  * Error-message strings replicate the reference byte-for-byte, including
  * its typos ("interger", "requred", "databse", "Participat") — they are
  * observable output.
  */
object Checks {

  private val sarsCol = "SARS_CoV_2_PCR_Test_Result"

  /** check_in_list (File_Submission_Object.py:194-208). */
  def inList(column: String, gate: Gate, values: Seq[PyVal]): CompiledRule = {
    val msg = gate match {
      case NoGate => "Unexpected Value.  Value must be one of the following: " + PyVal.list(values)
      case g => g.errorStr + ".  Value must be one of the following: " + PyVal.list(values)
    }
    val pass = values.map(_.matches(column)).reduce(_ || _) || col(column) === ""
    CompiledRule(column, gate.predicate && !pass, lit("Error"), lit(msg),
      keepBlank = false, inputs = column +: gate.inputs,
      memoInputs = column +: gate.memoInputs)
  }

  /** check_if_number (File_Submission_Object.py:245-269). Priority of the
    * reference's appends under first-wins dedup: int-ness, then not-number,
    * then too-low, then too-high — all with the same message text per
    * num_type, so one rule suffices. For "int" the reference overwrites the
    * message (losing the dependency prefix); replicated.
    */
  def number(column: String, gate: Gate, naAllowed: Boolean,
      lo: PyVal, hi: PyVal, numType: String): CompiledRule = {
    val loD = pyNumValue(lo); val hiD = pyNumValue(hi)
    val baseMsg = gate match {
      case NoGate => s"Value must be a number between ${lo.render} and ${hi.render}"
      case g => g.errorStr + s".  Value must be a number between ${lo.render} and ${hi.render}"
    }
    val msg =
      if (numType == "int")
        s"Value must be an interger between ${lo.render} and ${hi.render}, decimal values are not allowed"
      else baseMsg
    val c = col(column)
    val n = CellType.asNumberM(column)
    val blankOk = if (naAllowed) c === "" || c === "N/A" else c === ""
    val notNumber = n.isNull && !blankOk
    val intViolation = if (numType == "int") n.isNotNull && n =!= floor(n) else lit(false)
    val rangeViolation = n.isNotNull && (n < loD || n > hiD)
    CompiledRule(column, gate.predicate && (notNumber || intViolation || rangeViolation),
      lit("Error"), lit(msg), keepBlank = false, inputs = column +: gate.inputs,
      memoInputs = column +: gate.memoInputs)
  }

  private def pyNumValue(v: PyVal): Double = v match {
    case PyI(i) => i.toDouble
    case PyF(d) => d
    case PyS(s) => s.toDouble
  }

  /** check_date (File_Submission_Object.py:210-243). Returns the type rule
    * and, for time_check == "Date", the early/late range rules (range checks
    * never run for "Time" columns — reference :230). Expiration/Calibration
    * columns turn the too-early case into a Warning.
    */
  def date(column: String, gate: Gate, naAllowed: Boolean, timeCheck: String,
      lo: java.time.LocalDate, hi: java.time.LocalDate): Seq[CompiledRule] = {
    val c = col(column)
    val isDt = CellType.isDateTimeM(column)
    val blankOk = if (naAllowed) c === "" || c === "N/A" else c === ""
    val typeMsg0 =
      if (timeCheck == "Date") "Value must be a Valid Date MM/DD/YYYY"
      else "Value must be a Valid Time HH:MM:SS"
    val typeMsg = if (naAllowed) typeMsg0 + " Or N/A" else typeMsg0
    val typeRule = CompiledRule(column, gate.predicate && !isDt && !blankOk,
      lit("Error"), lit(typeMsg), keepBlank = false, inputs = column +: gate.inputs,
      memoInputs = column +: gate.memoInputs)
    if (timeCheck != "Date") Seq(typeRule)
    else {
      val d = CellType.asDateM(column)
      val loLit = lit(java.sql.Date.valueOf(lo))
      val hiLit = lit(java.sql.Date.valueOf(hi))
      val rangeMsg = s"Date is valid however must be between $lo and $hi"
      val (earlySev, earlyMsg) =
        if (column.contains("Expiration_Date"))
          ("Warning", "Expiration Date has already passed, check to make sure date is correct")
        else if (column.contains("Calibration_Due_Date"))
          ("Warning", "Calibration Date has already passed, check to make sure date is correct")
        else ("Error", rangeMsg)
      val early = CompiledRule(column, gate.predicate && isDt && d < loLit,
        lit(earlySev), lit(earlyMsg), keepBlank = false,
        inputs = column +: gate.inputs, memoInputs = column +: gate.memoInputs)
      val late = CompiledRule(column, gate.predicate && isDt && d > hiLit,
        lit("Error"), lit(rangeMsg), keepBlank = false,
        inputs = column +: gate.inputs, memoInputs = column +: gate.memoInputs)
      Seq(typeRule, early, late)
    }
  }

  /** check_if_string (File_Submission_Object.py:288-301): a *converted* cell
    * errors iff it is a number or a datetime ('' and 'N/A' are strings, so
    * the na_allowed variant is behaviorally identical — replicated).
    */
  def isString(column: String, gate: Gate): CompiledRule = {
    val msg = gate match {
      case NoGate => "Value must be a string and NOT N/A"
      case g => g.errorStr + ".  Value must be a string and NOT N/A"
    }
    CompiledRule(column,
      gate.predicate && (CellType.isNumberM(column) || CellType.isDateTimeM(column)),
      lit("Error"), lit(msg), keepBlank = false, inputs = column +: gate.inputs,
      memoInputs = column +: gate.memoInputs)
  }

  /** check_icd10 (File_Submission_Object.py:303-309). `existsFn` tests code
    * membership (caller supplies the catalog — broadcast set or join).
    */
  def icd10(column: String, existsFn: Column => Column): CompiledRule = {
    val c = col(column)
    val bad = CellType.isNumberM(column) || CellType.isDateTimeM(column) ||
      (CellType.isStringM(column) && !(existsFn(c) || c === "N/A"))
    CompiledRule(column, bad, lit("Error"),
      lit("Invalid or unknown ICD10 code, Value must be Valid ICD10 code or N/A"),
      keepBlank = false, inputs = Seq(column), memoInputs = Seq(column))
  }

  /** check_id_field (File_Submission_Object.py:166-180): bad format wins
    * over wrong-CBC under first-wins dedup; blanks are dropped.
    */
  def idField(column: String, patternSuffix: String, cbcId: Int,
      patternError: String): CompiledRule = {
    val c = col(column)
    val genericOk = c.rlike("^[0-9]{2}" + patternSuffix)
    val cbcOk = c.rlike("^" + cbcId.toString + patternSuffix)
    val cbcMsg =
      if (cbcId == 0) "ID is Valid however submission file is missing, unable to validate CBC code"
      else s"ID is Valid however has wrong CBC code. Expecting CBC Code ($cbcId)"
    CompiledRule(column, c =!= "" && (!genericOk || !cbcOk),
      lit("Error"),
      when(!genericOk, lit("ID is Not Valid Format, Expecting " + patternError))
        .otherwise(lit(cbcMsg)),
      keepBlank = false, inputs = Seq(column))
  }

  /** check_assay_special (File_Submission_Object.py:162-165): a null in the
    * looked-up column after the context join => ID not found.
    */
  def assaySpecial(column: String, lookupCol: String): CompiledRule =
    CompiledRule(column, col(lookupCol).isNull, lit("Error"),
      lit(column + " is not found in the table of valid " + column +
        "s in databse or submitted file"),
      keepBlank = false, inputs = Seq(column, lookupCol))

  /** check_if_substr (File_Submission_Object.py:189-192). Dead code in the
    * reference's dispatch (impossible conjunctions, SURVEY §2.9) — provided
    * for library users; the catalog does not wire it.
    */
  def substrOf(column: String, innerCol: String, outerCol: String): CompiledRule =
    CompiledRule(column, !col(outerCol).contains(col(innerCol)), lit("Error"),
      lit(innerCol + " is not a substring of " + outerCol +
        ".  Data is not Valid, please check data"),
      keepBlank = false, inputs = Seq(column, innerCol, outerCol))

  /** compare_total_to_live (File_Submission_Object.py:271-277). */
  def totalVsLive(totalCol: String): CompiledRule = {
    val liveCol = totalCol.replace("Total_Cells", "Live_Cells")
    val t = CellType.asNumberM(totalCol)
    val l = CellType.asNumberM(liveCol)
    CompiledRule(totalCol, t.isNotNull && l.isNotNull && l > t, lit("Error"),
      lit("Live Cell Count must be less than Total Cell Count"),
      keepBlank = false, inputs = Seq(totalCol, liveCol),
      memoInputs = Seq(totalCol, liveCol))
  }

  /** compare_viability (File_Submission_Object.py:278-286). Python round()
    * is banker's rounding => bround (HALF_EVEN), not round (HALF_UP).
    * (A float fast path guarded by a near-half test measured SLOWER than
    * plain bround here — CaseWhen branches forgo subexpression elimination.)
    */
  def viability(viabilityCol: String): CompiledRule = {
    val liveCol = viabilityCol.replace("Viability", "Live_Cells")
    val totalCol = viabilityCol.replace("Viability", "Total_Cells")
    val v = CellType.asNumberM(viabilityCol)
    val l = CellType.asNumberM(liveCol)
    val t = CellType.asNumberM(totalCol)
    CompiledRule(viabilityCol,
      v.isNotNull && l.isNotNull && t.isNotNull && bround(l / t * 100, 1) =!= v,
      lit("Error"),
      lit("Viability Count must be equal to (Live_Count / Total_Count) * 100"),
      keepBlank = false, inputs = Seq(viabilityCol, liveCol, totalCol),
      memoInputs = Seq(viabilityCol, liveCol, totalCol))
  }

  /** get_missing_values (File_Submission_Object.py:314-333). Emission order
    * for the SARS-conditional variants is negative-rows first (matches
    * add_warning_msg). Rows whose SARS value is neither 'Positive' nor
    * 'Negative' emit nothing.
    */
  def missing(column: String, required: Required): Seq[CompiledRule] = {
    val c = col(column)
    val isBlank = c === ""
    val warnMsg = "Missing Values where found, this is a warning.  Please recheck data"
    required match {
      case ReqYes => Seq(CompiledRule(column, isBlank, lit("Error"),
        lit("Missing Values are not allowed for this column.  Please recheck data"),
        keepBlank = true, inputs = Seq(column)))
      case ReqNo => Seq(CompiledRule(column, isBlank, lit("Warning"),
        lit(warnMsg), keepBlank = true, inputs = Seq(column)))
      case ReqSarsPositive =>
        val neg = CompiledRule(column, isBlank && col(sarsCol) === "Negative",
          lit("Warning"), lit(warnMsg), keepBlank = true, inputs = Seq(column, sarsCol))
        val pos = CompiledRule(column, isBlank && col(sarsCol) === "Positive",
          lit("Error"),
          lit("This column is requred for Sars Positive Patients, missing values are not allowed.  Please recheck data"),
          keepBlank = true, inputs = Seq(column, sarsCol))
        Seq(neg, pos)
      case ReqSarsNegative =>
        val neg = CompiledRule(column, isBlank && col(sarsCol) === "Negative",
          lit("Error"),
          lit("This column is requred for Sars Negative Patients, missing values are not allowed.  Please recheck data"),
          keepBlank = true, inputs = Seq(column, sarsCol))
        val pos = CompiledRule(column, isBlank && col(sarsCol) === "Positive",
          lit("Warning"), lit(warnMsg), keepBlank = true, inputs = Seq(column, sarsCol))
        Seq(neg, pos)
    }
  }
}

/** Evaluates a sheet's compiled rules in a SINGLE scan: one candidate error
  * struct per rule per row, explode, nulls dropped. At 100 TB this is the
  * difference between O(rules) scans and one — all predicates ride the same
  * whole-stage-codegen pipeline, and parquet/CSV column pruning sees exactly
  * the union of referenced columns.
  */
object RuleEvaluator {

  /** Per-row rules for one sheet. `seqBase` orders this sheet's emissions
    * within the submission-wide dedup (reference processes sheets serially).
    * Requires a `Row_Index` column (SheetReader provides it).
    */
  def evaluate(sheetName: String, sheet: DataFrame, rules: Seq[CompiledRule],
      seqBase: Long = 0L): DataFrame = {
    val present = sheet.columns.toSet
    val usable = rules.filter(_.inputs.forall(present.contains))
    if (usable.isEmpty)
      return ValidationError.empty(sheet.sparkSession)
    // project each referenced column's CellType parse ONCE ("parse once,
    // branch many"): every rule column needs its memos for the rendered
    // Column_Value, plus whatever the predicates declare. CollapseProject
    // keeps these in their own projections because they're non-cheap and
    // multiply referenced.
    val memoNames = (usable.map(_.column) ++ usable.flatMap(_.memoInputs)).distinct
    // spread BEFORE the memo projection: on a low-split source (single
    // parquet row-group) the parse cascade would otherwise run serially
    // inside the scan stage; no-op when the scan already parallelizes
    val prepared = CellType.memoColumns(spread(sheet, col("Row_Index")), memoNames)
    def emitOf(r: CompiledRule): Column =
      if (r.keepBlank) r.predicate
      else r.predicate && col(r.column) =!= ""
    // each struct carries the rule's cell as (raw, num, ts) column
    // references; Row_Index rides beside the generator and Column_Value is
    // rendered ONCE after the explode — one render tree per sheet, not one
    // per rule
    def structOf(r: CompiledRule, i: Int): Column = struct(
      r.severity.as("Message_Type"),
      lit(r.column).as("Column_Name"),
      r.message.as("Error_Message"),
      lit(seqBase + i).as("rule_seq"),
      col(r.column).as("raw"),
      col(CellType.memoNum(r.column)).as("num"),
      col(CellType.memoTs(r.column)).as("ts"))
    // NOTE: a filter+project form for single-rule sheets measured SLOWER:
    // PushDownPredicate substitutes the memo expressions into the pushed
    // filter, re-parsing every referenced cell. The generator form keeps
    // the memos in one projection that every branch shares.
    val structs = usable.zipWithIndex.map { case (r, i) =>
      when(emitOf(r), structOf(r, i))
    }
    explodeFired(prepared, structs, col("Row_Index").cast("long").as("Row_Index"))
      .select(
        col("e.Message_Type"),
        lit(sheetName).as("CSV_Sheet_Name"),
        col("Row_Index"),
        col("e.Column_Name"),
        CellType.renderMemo(col("e.raw"), col("e.num"), col("e.ts"))
          .as("Column_Value"),
        col("e.Error_Message"),
        col("e.rule_seq"))
  }

  /** `Spread.byKey`, except for a sheet read by [[graft.io.SheetReader]]
    * (it carries a source-size stamp): a submission sheet is validated
    * without a keyed shuffle. Spreading merged sheets of 1 MiB or more
    * cost about 5% more CPU at 20k participants (4 seeds, wall time
    * within noise) and gained nothing at 40k (SCALE.md "Sheet ingest"). */
  private def spread(sheet: DataFrame, key: Column): DataFrame =
    if (graft.core.ExecMode.sourceBytes(sheet).isDefined) sheet
    else graft.operators.Spread.byKey(sheet, key)

  /** One row `e` per non-null struct of `structs` (a rule or pattern that
    * fired, `when(cond, struct)`), beside the `keep` columns. Explodes the
    * plain array, THEN drops the nulls: `array_compact` is a lambda
    * function with no generated code, and it would keep the Generate out
    * of whole-stage codegen.
    */
  def explodeFired(df: DataFrame, structs: Seq[Column], keep: Column*): DataFrame =
    df.select(keep :+ explode(array(structs: _*)).as("e"): _*)
      .filter(col("e").isNotNull)

  /** check_for_dup_ids (File_Submission_Object.py:181-188): value_counts on
    * the converted value, count > 1 => one error at Row_Index -3. BLANK
    * values never emit: any later same-column rule's `sort_and_drop`
    * (keep_blank=False default, File_Submission_Object.py:152-157)
    * sweeps Column_Value=='' rows for that column off the WHOLE
    * Error_list, and every ID column carries such rules — so the
    * reference's net output has no blank dup-ID row.
    */
  def dupIds(sheetName: String, sheet: DataFrame, column: String,
      seqBase: Long): DataFrame = {
    // blank exclusion runs on the RAW cell before the aggregate: only a
    // raw '' renders to '' (numbers render as floats, dates as
    // timestamps, strings as-is), and a post-aggregate predicate on the
    // rendered KEY would be pushed below the groupBy by Catalyst,
    // re-evaluating the whole render tree once more per input row
    val ids = spread(sheet, col(column))
      .filter(col(column) =!= "")
      .select(col(column))
    CellType.memoColumns(ids, Seq(column))
      .groupBy(CellType.renderM(column).as("Column_Value"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(
        lit("Error").as("Message_Type"),
        lit(sheetName).as("CSV_Sheet_Name"),
        lit(ValidationError.DupIdRowIndex).as("Row_Index"),
        lit(column).as("Column_Name"),
        col("Column_Value"),
        concat(lit("Id is repeated "), col("n").cast("string"),
          lit(" times, Multiple repeats are not allowed")).as("Error_Message"),
        lit(seqBase).as("rule_seq"))
  }

  /** sort_and_drop's dedup (File_Submission_Object.py:153): keep the FIRST
    * emission per (Row_Index, Column_Name, Column_Value) across the whole
    * submission — the key deliberately excludes sheet and severity, exactly
    * like the reference (an error in one sheet can suppress the same triple
    * in another).
    *
    * Implemented as min_by over the emission sequence: a hash aggregate
    * (map-side partial + one shuffle) instead of the window form's
    * shuffle + per-partition sort — measurably faster on wide error sets.
    * rule_seq ties can only occur between rows whose entire struct is
    * identical (one emission per rule per row), so the pick is total.
    */
  def dedupFirst(errors: DataFrame): DataFrame = {
    val all = struct(errors.columns.toIndexedSeq.map(col): _*)
    errors.groupBy("Row_Index", "Column_Name", "Column_Value")
      .agg(min_by(all, col("rule_seq")).as("e"))
      .select("e.*")
  }
}
