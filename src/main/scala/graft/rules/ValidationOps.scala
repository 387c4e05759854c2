package graft.rules

import graft.{Q, Tables}
import graft.dispatch.CrossSheet
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.time.LocalDate

/** Oracle-gated demonstrations of the validation-rule engine (SURVEY §2.8)
  * over the harness parquet tables: each query adapts a table into the
  * engine's sheet shape (all-string columns + Row_Index), runs REAL
  * [[Checks]] / [[RuleEvaluator]] / [[CrossSheet]] code, and the DuckDB
  * oracle re-expresses the rule's semantics independently in SQL.
  *
  * The CellType predicates translate as:
  *   isNumber(v)   = NOT regexp_matches(v,'^[^_].*_') AND TRY_CAST(v AS DOUBLE) IS NOT NULL
  *   isDateTime(v) = NOT isNumber(v) AND any(try_strptime(v, fmt) for fmt in cascade)
  *   isString(v)   = neither
  */
object ValidationOps {

  // the ONE error schema, shared with ErrorWriter — not a private copy
  // that could silently drift
  private val errCols = graft.core.ValidationError.columns

  /** Spread the RAW table before sheet construction: the harness tables are
    * single-row-group parquet (one scan split), so without this every
    * construction expression (casts, bround, date_format) runs serially in
    * the scan stage. Spreading the raw columns also shuffles fewer bytes
    * than spreading constructed strings would. No-op on well-split sources.
    */
  private def spreadRaw(df: DataFrame, key: String): DataFrame =
    graft.operators.Spread.byKey(df, col(key))

  /** Adapt the events table into a sheet: Row_Index = event_id + 2. */
  private def eventsSheet(s: SparkSession, d: String)(cols: (String, Column)*): DataFrame =
    spreadRaw(Tables.events(s, d), "event_id").select(
      cols.map { case (n, c) => c.as(n) } :+
        (col("event_id") + 2).cast("long").as("Row_Index"): _*)

  private def evalRules(sheetName: String, sheet: DataFrame,
      rules: Seq[CompiledRule]): DataFrame =
    RuleEvaluator.dedupFirst(RuleEvaluator.evaluate(sheetName, sheet, rules))
      .select(errCols.head, errCols.tail: _*)

  def qs: Seq[Q] = Seq(

    // ---- get_missing_values with SARS-conditional severity ----
    Q("q20_rule_missing_conditional",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Is_Symptomatic" -> when(col("event_id") % 7 === 0, "").otherwise(lit("Yes")),
          "SARS_CoV_2_PCR_Test_Result" ->
            when(col("event_id") % 3 === 0, "Positive")
              .when(col("event_id") % 3 === 1, "Negative").otherwise(lit("Unknown")))
        evalRules("events.csv", sheet, Checks.missing("Is_Symptomatic", ReqSarsPositive))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT event_id + 2 AS Row_Index,
             |  CASE WHEN event_id % 7 = 0 THEN '' ELSE 'Yes' END AS val,
             |  CASE WHEN event_id % 3 = 0 THEN 'Positive'
             |       WHEN event_id % 3 = 1 THEN 'Negative' ELSE 'Unknown' END AS sars
             |  FROM events)
             |SELECT CASE WHEN sars = 'Positive' THEN 'Error' ELSE 'Warning' END AS Message_Type,
             |  'events.csv' AS CSV_Sheet_Name, Row_Index, 'Is_Symptomatic' AS Column_Name,
             |  '' AS Column_Value,
             |  CASE WHEN sars = 'Positive'
             |    THEN 'This column is requred for Sars Positive Patients, missing values are not allowed.  Please recheck data'
             |    ELSE 'Missing Values where found, this is a warning.  Please recheck data'
             |  END AS Error_Message
             |FROM sheet WHERE val = '' AND sars IN ('Positive','Negative')
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 get_missing_values: conditional requiredness + severity"),

    // ---- check_in_list, ungated ----
    Q("q21_rule_in_list",
      (s, d) => {
        val sheet = eventsSheet(s, d)("Event_Type" -> col("event_type"))
        evalRules("events.csv", sheet, Seq(Checks.inList("Event_Type", NoGate,
          Seq(PyS("click"), PyS("view"), PyS("signup"), PyS("purchase")))))
          .orderBy("Row_Index")
      },
      Some("""SELECT 'Error' AS Message_Type, 'events.csv' AS CSV_Sheet_Name,
             |  event_id + 2 AS Row_Index, 'Event_Type' AS Column_Name,
             |  event_type AS Column_Value,
             |  'Unexpected Value.  Value must be one of the following: [''click'', ''view'', ''signup'', ''purchase'']' AS Error_Message
             |FROM events
             |WHERE event_type NOT IN ('click','view','signup','purchase') AND event_type <> ''
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_in_list: enum membership with '' escape"),

    // ---- check_in_list with dependency gates (check_multi_rule) ----
    Q("q22_rule_in_list_gated",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Unit" -> when(col("event_id") % 4 === 0, "Day")
            .when(col("event_id") % 4 === 1, "Month")
            .when(col("event_id") % 4 === 2, "Bad").otherwise(lit("N/A")),
          "Duration" -> when(col("event_id") % 3 === 0,
            col("event_id").cast("string")).otherwise(lit("N/A")))
        evalRules("events.csv", sheet, Seq(
          Checks.inList("Unit", IsANumberGate("Duration"),
            Seq(PyS("Day"), PyS("Month"), PyS("Year"))),
          Checks.inList("Unit", InValuesGate("Duration", Seq(PyS("N/A"))), Seq(PyS("N/A")))))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT event_id + 2 AS Row_Index,
             |  CASE WHEN event_id % 4 = 0 THEN 'Day' WHEN event_id % 4 = 1 THEN 'Month'
             |       WHEN event_id % 4 = 2 THEN 'Bad' ELSE 'N/A' END AS unit,
             |  CASE WHEN event_id % 3 = 0 THEN CAST(event_id AS VARCHAR) ELSE 'N/A' END AS dur
             |  FROM events)
             |SELECT 'Error' AS Message_Type, 'events.csv' AS CSV_Sheet_Name, Row_Index,
             |  'Unit' AS Column_Name, unit AS Column_Value,
             |  CASE WHEN TRY_CAST(dur AS DOUBLE) IS NOT NULL
             |    THEN 'Duration is a Number .  Value must be one of the following: [''Day'', ''Month'', ''Year'']'
             |    ELSE 'Duration is in [''N/A''].  Value must be one of the following: [''N/A'']'
             |  END AS Error_Message
             |FROM sheet
             |WHERE unit <> '' AND (
             |  (TRY_CAST(dur AS DOUBLE) IS NOT NULL AND unit NOT IN ('Day','Month','Year'))
             |  OR (dur = 'N/A' AND unit <> 'N/A'))
             |ORDER BY Row_Index""".stripMargin),
      "§2.2 P8 dependency gates: Is-A-Number and in-values"),

    // ---- check_if_number int: type + int-ness + range, one message ----
    Q("q23_rule_number_range",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Age" -> when(col("event_id") % 5 === 0, "25")
            .when(col("event_id") % 5 === 1, "250")
            .when(col("event_id") % 5 === 2, "2.5")
            .when(col("event_id") % 5 === 3, "abc").otherwise(lit("")))
        evalRules("events.csv", sheet, Seq(Checks.number("Age", NoGate,
          naAllowed = false, PyI(1), PyI(200), "int")))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT event_id + 2 AS Row_Index,
             |  CASE WHEN event_id % 5 = 0 THEN '25' WHEN event_id % 5 = 1 THEN '250'
             |       WHEN event_id % 5 = 2 THEN '2.5' WHEN event_id % 5 = 3 THEN 'abc'
             |       ELSE '' END AS v
             |  FROM events)
             |SELECT 'Error' AS Message_Type, 'events.csv' AS CSV_Sheet_Name, Row_Index,
             |  'Age' AS Column_Name,
             |  CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
             |       THEN CAST(TRY_CAST(v AS DOUBLE) AS VARCHAR) ELSE v END AS Column_Value,
             |  'Value must be an interger between 1 and 200, decimal values are not allowed' AS Error_Message
             |FROM sheet
             |WHERE v <> '' AND (TRY_CAST(v AS DOUBLE) IS NULL
             |  OR TRY_CAST(v AS DOUBLE) <> floor(TRY_CAST(v AS DOUBLE))
             |  OR TRY_CAST(v AS DOUBLE) < 1 OR TRY_CAST(v AS DOUBLE) > 200)
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_if_number int: type/integer-ness/range cascade"),

    // ---- check_date: range errors over real dates ----
    Q("q24_rule_date_range",
      (s, d) => {
        val sheet = spreadRaw(Tables.orders(s, d), "o_orderkey").select(
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("Date_of_Visit"),
          col("o_orderkey").cast("long").as("Row_Index"))
        evalRules("orders.csv", sheet, Checks.date("Date_of_Visit", NoGate,
          naAllowed = false, "Date",
          LocalDate.of(1995, 1, 1), LocalDate.of(1996, 6, 30)))
          .orderBy("Row_Index")
      },
      Some("""SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
             |  o_orderkey AS Row_Index, 'Date_of_Visit' AS Column_Name,
             |  strftime(o_orderdate, '%Y-%m-%d 00:00:00') AS Column_Value,
             |  'Date is valid however must be between 1995-01-01 and 1996-06-30' AS Error_Message
             |FROM orders
             |WHERE CAST(o_orderdate AS DATE) < DATE '1995-01-01'
             |   OR CAST(o_orderdate AS DATE) > DATE '1996-06-30'
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_date: date-range validation with date literals"),

    // ---- check_id_field: format error beats wrong-CBC ----
    Q("q25_rule_id_pattern",
      (s, d) => {
        val base = format_string("%02d_%06d", col("c_nationkey"), col("c_custkey"))
        val sheet = spreadRaw(Tables.customer(s, d), "c_custkey").select(
          when(col("c_custkey") % 10 === 0, concat(lit("BAD"), base))
            .otherwise(base).as("Research_Participant_ID"),
          col("c_custkey").cast("long").as("Row_Index"))
        evalRules("customer.csv", sheet, Seq(Checks.idField(
          "Research_Participant_ID", "[_]{1}[0-9]{6}$", 14, "XX_XXXXXX")))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT c_custkey AS Row_Index,
             |  CASE WHEN c_custkey % 10 = 0 THEN 'BAD' ELSE '' END ||
             |    printf('%02d_%06d', c_nationkey, c_custkey) AS id
             |  FROM customer)
             |SELECT 'Error' AS Message_Type, 'customer.csv' AS CSV_Sheet_Name, Row_Index,
             |  'Research_Participant_ID' AS Column_Name, id AS Column_Value,
             |  CASE WHEN NOT regexp_matches(id, '^[0-9]{2}[_]{1}[0-9]{6}$')
             |    THEN 'ID is Not Valid Format, Expecting XX_XXXXXX'
             |    ELSE 'ID is Valid however has wrong CBC code. Expecting CBC Code (14)'
             |  END AS Error_Message
             |FROM sheet
             |WHERE id <> '' AND (NOT regexp_matches(id, '^[0-9]{2}[_]{1}[0-9]{6}$')
             |  OR NOT regexp_matches(id, '^14[_]{1}[0-9]{6}$'))
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_id_field: F1 anchored regex, priority under first-wins dedup"),

    // ---- CellType trichotomy over a mixed synthesized column ----
    Q("q26_celltype_trichotomy",
      (s, d) => {
        import graft.types.CellType
        val v = when(col("event_id") % 6 === 0,
            floor(col("value") * 100).cast("long").cast("string"))
          .when(col("event_id") % 6 === 1,
            concat(lit("2024-"), lpad((col("event_id") % 12 + 1).cast("string"), 2, "0"), lit("-15")))
          .when(col("event_id") % 6 === 2, col("event_type"))
          .when(col("event_id") % 6 === 3,
            concat(col("event_id").cast("string"), lit("_"), col("user_id").cast("string")))
          .when(col("event_id") % 6 === 4, lit("03:30:00"))
          .otherwise(lit(""))
        Tables.events(s, d).select(v.as("v"))
          .select(when(CellType.isNumber(col("v")), "number")
            .when(CellType.isDateTime(col("v")), "datetime")
            .otherwise("string").as("celltype"))
          .groupBy("celltype").agg(count(lit(1)).as("n"))
          .orderBy("celltype")
      },
      Some("""WITH sheet AS (SELECT
             |  CASE WHEN event_id % 6 = 0 THEN CAST(CAST(floor(value*100) AS BIGINT) AS VARCHAR)
             |       WHEN event_id % 6 = 1 THEN '2024-' || lpad(CAST(event_id % 12 + 1 AS VARCHAR), 2, '0') || '-15'
             |       WHEN event_id % 6 = 2 THEN event_type
             |       WHEN event_id % 6 = 3 THEN CAST(event_id AS VARCHAR) || '_' || CAST(user_id AS VARCHAR)
             |       WHEN event_id % 6 = 4 THEN '03:30:00'
             |       ELSE '' END AS v
             |  FROM events),
             |typed AS (SELECT
             |  CASE WHEN NOT regexp_matches(v, '^[^_].*_') AND TRY_CAST(v AS DOUBLE) IS NOT NULL
             |       THEN 'number'
             |       WHEN COALESCE(try_strptime(v, '%Y-%-m-%-d %-H:%-M:%-S'),
             |                     try_strptime(v, '%-m/%-d/%Y'), try_strptime(v, '%Y-%-m-%-d'),
             |                     try_strptime(v, '%-H:%-M:%-S')) IS NOT NULL
             |       THEN 'datetime' ELSE 'string' END AS celltype
             |  FROM sheet)
             |SELECT celltype, COUNT(*) AS n FROM typed
             |GROUP BY celltype ORDER BY celltype""".stripMargin),
      "§1.2 F10 per-cell dynamic typing: number/date/string trichotomy with '_' guard"),

    // ---- dateutil-permissive forms: month names + 2-digit-year pivot.
    // Synthesizes every new cascade family from o_orderkey ("Jan 5, 1987",
    // "5 January 1987", "5-Jan-87", "January 5 1987", "6/5/87", junk) and
    // hash-compares classification AND rendering (min/max per group pins
    // the 19xx/20xx pivot values) against a DuckDB mirror that re-derives
    // the same parse from components — month-token map, ordinal-free
    // regexes identical to CellType's, year pivot 00-75 -> 20xx. ----
    Q("q89_date_permissive",
      (s, d) => {
        import graft.types.CellType
        val k = col("o_orderkey")
        val mon3 = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
        val monFull = Seq("January", "February", "March", "April", "May",
          "June", "July", "August", "September", "October", "November",
          "December")
        val idx = (k % 12 + 1).cast("int")
        val m3 = element_at(array(mon3.map(lit): _*), idx)
        val mf = element_at(array(monFull.map(lit): _*), idx)
        val day = (k % 28 + 1).cast("string")
        val y4 = (k % 120 + 1950).cast("string")
        val yy = lpad((k % 100).cast("string"), 2, "0")
        val m = (k % 12 + 1).cast("string")
        val variant = (k % 6).cast("int")
        val v = when(variant === 0, concat(m3, lit(" "), day, lit(", "), y4))
          .when(variant === 1, concat(day, lit(" "), mf, lit(" "), y4))
          .when(variant === 2, concat(day, lit("-"), m3, lit("-"), yy))
          .when(variant === 3, concat(mf, lit(" "), day, lit(" "), y4))
          .when(variant === 4, concat(m, lit("/"), day, lit("/"), yy))
          .otherwise(concat(lit("foo "), day, lit(" bar")))
        // memoized typing ("parse once, branch many"): classify and render
        // share ONE cascade evaluation per cell instead of re-parsing per
        // output column (measured 2.75s -> ~1s at sf0.1)
        // spread BEFORE synthesizing: the cascade is the most expression-
        // heavy projection in the engine, and the raw orders scan may be
        // a handful of splits (sf1: 5 files -> ~7 tasks on 32 threads)
        val sheet = CellType.memoColumns(
          spreadRaw(Tables.orders(s, d), "o_orderkey")
            .select(variant.as("variant"), v.as("v")), Seq("v"))
        sheet.select(col("variant"),
            when(CellType.isNumberM("v"), "number")
              .when(CellType.isDateTimeM("v"), "datetime")
              .otherwise("string").as("celltype"),
            CellType.renderM("v").as("r"))
          .groupBy("variant", "celltype")
          .agg(count(lit(1)).as("n"), min("r").as("r_min"), max("r").as("r_max"))
          .orderBy("variant", "celltype")
      },
      Some("""WITH parts AS (SELECT
             |    CAST(o_orderkey % 6 AS INT) AS variant,
             |    CAST(o_orderkey % 28 + 1 AS VARCHAR) AS d,
             |    CAST(o_orderkey % 120 + 1950 AS VARCHAR) AS y4,
             |    lpad(CAST(o_orderkey % 100 AS VARCHAR), 2, '0') AS yy,
             |    CAST(o_orderkey % 12 + 1 AS VARCHAR) AS m,
             |    ['Jan','Feb','Mar','Apr','May','Jun','Jul','Aug','Sep','Oct','Nov','Dec'][CAST(o_orderkey % 12 + 1 AS INT)] AS m3,
             |    ['January','February','March','April','May','June','July','August','September','October','November','December'][CAST(o_orderkey % 12 + 1 AS INT)] AS mf
             |  FROM orders),
             |sheet AS (SELECT variant,
             |    CASE variant WHEN 0 THEN m3 || ' ' || d || ', ' || y4
             |      WHEN 1 THEN d || ' ' || mf || ' ' || y4
             |      WHEN 2 THEN d || '-' || m3 || '-' || yy
             |      WHEN 3 THEN mf || ' ' || d || ' ' || y4
             |      WHEN 4 THEN m || '/' || d || '/' || yy
             |      ELSE 'foo ' || d || ' bar' END AS v
             |  FROM parts),
             |comp AS (SELECT variant, v, lower(trim(v)) AS lv FROM sheet),
             |ext AS (SELECT variant, v,
             |    regexp_extract(v, '^([0-9]{1,2})/([0-9]{1,2})/([0-9]{2})$', 1) AS n_m,
             |    regexp_extract(v, '^([0-9]{1,2})/([0-9]{1,2})/([0-9]{2})$', 2) AS n_d,
             |    regexp_extract(v, '^([0-9]{1,2})/([0-9]{1,2})/([0-9]{2})$', 3) AS n_y,
             |    regexp_extract(lv, '^([a-z]{3,9})\.?\s+([0-9]{1,2})(?:st|nd|rd|th)?,?\s+([0-9]{2}|[0-9]{4})$', 1) AS a_tok,
             |    regexp_extract(lv, '^([a-z]{3,9})\.?\s+([0-9]{1,2})(?:st|nd|rd|th)?,?\s+([0-9]{2}|[0-9]{4})$', 2) AS a_d,
             |    regexp_extract(lv, '^([a-z]{3,9})\.?\s+([0-9]{1,2})(?:st|nd|rd|th)?,?\s+([0-9]{2}|[0-9]{4})$', 3) AS a_y,
             |    regexp_extract(lv, '^([0-9]{1,2})(?:st|nd|rd|th)?[-\s]+([a-z]{3,9})\.?[-\s,]+([0-9]{2}|[0-9]{4})$', 1) AS b_d,
             |    regexp_extract(lv, '^([0-9]{1,2})(?:st|nd|rd|th)?[-\s]+([a-z]{3,9})\.?[-\s,]+([0-9]{2}|[0-9]{4})$', 2) AS b_tok,
             |    regexp_extract(lv, '^([0-9]{1,2})(?:st|nd|rd|th)?[-\s]+([a-z]{3,9})\.?[-\s,]+([0-9]{2}|[0-9]{4})$', 3) AS b_y
             |  FROM comp),
             |months(tok, mm) AS (VALUES
             |  ('jan',1),('january',1),('feb',2),('february',2),('mar',3),('march',3),
             |  ('apr',4),('april',4),('may',5),('jun',6),('june',6),('jul',7),('july',7),
             |  ('aug',8),('august',8),('sep',9),('september',9),('oct',10),('october',10),
             |  ('nov',11),('november',11),('dec',12),('december',12)),
             |joined AS (SELECT e.*, ma.mm AS a_mm, mb.mm AS b_mm
             |  FROM ext e LEFT JOIN months ma ON ma.tok = e.a_tok
             |  LEFT JOIN months mb ON mb.tok = e.b_tok),
             |parsed AS (SELECT variant, v, COALESCE(
             |    CASE WHEN n_y <> '' THEN try_strptime(
             |      CAST(CASE WHEN CAST(n_y AS INT) <= 75 THEN 2000 + CAST(n_y AS INT)
             |                ELSE 1900 + CAST(n_y AS INT) END AS VARCHAR)
             |      || '-' || n_m || '-' || n_d, '%Y-%-m-%-d') END,
             |    CASE WHEN a_tok <> '' AND a_mm IS NOT NULL THEN try_strptime(
             |      CAST(CASE WHEN length(a_y) = 2 THEN
             |            (CASE WHEN CAST(a_y AS INT) <= 75 THEN 2000 + CAST(a_y AS INT)
             |                  ELSE 1900 + CAST(a_y AS INT) END)
             |            ELSE CAST(a_y AS INT) END AS VARCHAR)
             |      || '-' || CAST(a_mm AS VARCHAR) || '-' || a_d, '%Y-%-m-%-d') END,
             |    CASE WHEN b_tok <> '' AND b_mm IS NOT NULL THEN try_strptime(
             |      CAST(CASE WHEN length(b_y) = 2 THEN
             |            (CASE WHEN CAST(b_y AS INT) <= 75 THEN 2000 + CAST(b_y AS INT)
             |                  ELSE 1900 + CAST(b_y AS INT) END)
             |            ELSE CAST(b_y AS INT) END AS VARCHAR)
             |      || '-' || CAST(b_mm AS VARCHAR) || '-' || b_d, '%Y-%-m-%-d') END
             |  ) AS ts FROM joined),
             |typed AS (SELECT variant,
             |    CASE WHEN NOT regexp_matches(v, '^[^_].*_') AND TRY_CAST(v AS DOUBLE) IS NOT NULL
             |         THEN 'number'
             |         WHEN ts IS NOT NULL THEN 'datetime' ELSE 'string' END AS celltype,
             |    CASE WHEN NOT regexp_matches(v, '^[^_].*_') AND TRY_CAST(v AS DOUBLE) IS NOT NULL
             |         THEN CAST(TRY_CAST(v AS DOUBLE) AS VARCHAR)
             |         WHEN ts IS NOT NULL THEN strftime(ts, '%Y-%m-%d %H:%M:%S')
             |         ELSE v END AS r
             |  FROM parsed)
             |SELECT variant, celltype, COUNT(*) AS n,
             |  MIN(r) AS r_min, MAX(r) AS r_max
             |FROM typed GROUP BY variant, celltype
             |ORDER BY variant, celltype""".stripMargin),
      "§1.2 dateutil permissiveness: month-name dates, ordinals, 2-digit-year pivot"),

    // ---- compare_total_to_live cross-column check ----
    Q("q27_rule_total_live",
      (s, d) => {
        val sheet = spreadRaw(Tables.lineitem(s, d), "l_orderkey").select(
          col("l_quantity").cast("string").as("Total_Cells_Hemocytometer_Count"),
          (col("l_quantity") + when(col("l_linenumber") % 3 === 0, 1).otherwise(-1))
            .cast("string").as("Live_Cells_Hemocytometer_Count"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("Row_Index"))
        evalRules("biospecimen.csv", sheet,
          Seq(Checks.totalVsLive("Total_Cells_Hemocytometer_Count")))
          .orderBy("Row_Index")
      },
      Some("""SELECT DISTINCT 'Error' AS Message_Type, 'biospecimen.csv' AS CSV_Sheet_Name,
             |  l_orderkey * 10 + l_linenumber AS Row_Index,
             |  'Total_Cells_Hemocytometer_Count' AS Column_Name,
             |  CAST(l_quantity AS VARCHAR) AS Column_Value,
             |  'Live Cell Count must be less than Total Cell Count' AS Error_Message
             |FROM lineitem WHERE l_linenumber % 3 = 0
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 compare_total_to_live: F7 cross-column inequality"),

    // ---- check_for_dup_ids through the engine ----
    Q("q28_rule_dup_ids",
      (s, d) => {
        val sheet = spreadRaw(Tables.orders(s, d), "o_orderkey").select(
          col("o_custkey").cast("string").as("Research_Participant_ID"),
          col("o_orderkey").cast("long").as("Row_Index"))
        RuleEvaluator.dupIds("orders.csv", sheet, "Research_Participant_ID", 0)
          .drop("rule_seq")
          .select(errCols.head, errCols.tail: _*)
          .orderBy("Column_Value")
      },
      Some("""SELECT 'Error' AS Message_Type, 'orders.csv' AS CSV_Sheet_Name,
             |  -3 AS Row_Index, 'Research_Participant_ID' AS Column_Name,
             |  CAST(CAST(o_custkey AS DOUBLE) AS VARCHAR) AS Column_Value,
             |  'Id is repeated ' || CAST(COUNT(*) AS VARCHAR) ||
             |    ' times, Multiple repeats are not allowed' AS Error_Message
             |FROM orders GROUP BY o_custkey HAVING COUNT(*) > 1
             |ORDER BY Column_Value""".stripMargin),
      "§2.8 check_for_dup_ids: A1 value_counts at sentinel Row_Index -3"),

    // ---- cross-sheet participant presence patterns ----
    Q("q29_cross_sheet_participant",
      (s, d) => {
        val c = Tables.customer(s, d)
        val pid = format_string("14_%06d", col("c_custkey"))
        val prior = c.filter(col("c_custkey") % 2 === 0)
          .select(pid.as("Research_Participant_ID"),
            lit("Positive").as("SARS_CoV_2_PCR_Test_Result"))
        val demo = c.filter(col("c_custkey") % 3 === 0)
          .select(pid.as("Research_Participant_ID"), lit("30").as("Age"))
        val bio = c.filter(col("c_custkey") % 5 === 0)
          .select(pid.as("Research_Participant_ID"),
            concat(pid, lit("_001")).as("Biospecimen_ID"),
            lit("PBMC").as("Biospecimen_Type"))
        val confirm = c.filter(col("c_custkey") % 7 === 0)
          .select(pid.as("Research_Participant_ID"), lit("14_001").as("Assay_ID"))
        val matrix = prior
          .join(demo, Seq("Research_Participant_ID"), "outer")
          .join(bio, Seq("Research_Participant_ID"), "outer")
          .join(confirm, Seq("Research_Participant_ID"), "outer")
        RuleEvaluator.dedupFirst(CrossSheet.crossSheetParticipant(matrix, 14, 0))
          .drop("rule_seq")
          .select(errCols.head, errCols.tail: _*)
          .orderBy("Column_Value")
      },
      Some("""WITH ids AS (SELECT printf('14_%06d', c_custkey) AS id,
             |  c_custkey % 2 = 0 AS in_prior, c_custkey % 3 = 0 AS in_demo,
             |  c_custkey % 5 = 0 AS in_bio, c_custkey % 7 = 0 AS in_confirm
             |  FROM customer
             |  WHERE c_custkey % 2 = 0 OR c_custkey % 3 = 0 OR c_custkey % 5 = 0 OR c_custkey % 7 = 0),
             |scoped AS (SELECT * FROM ids
             |  WHERE NOT (in_prior AND in_demo AND in_bio AND in_confirm))
             |SELECT 'Error' AS Message_Type, 'Cross_Participant_ID.csv' AS CSV_Sheet_Name,
             |  -10 AS Row_Index, 'Research_Participant_ID' AS Column_Name, id AS Column_Value,
             |  CASE
             |    WHEN in_prior AND NOT in_demo AND NOT in_bio
             |      THEN 'ID is found in Prior_Clinical_Test, but is missing from Demographic and Biospecimen'
             |    WHEN NOT in_prior AND in_demo AND NOT in_bio
             |      THEN 'ID is found in Demographic, but is missing from Prior_Clinical_Test and Biospecimen'
             |    WHEN NOT in_prior AND NOT in_demo AND in_bio
             |      THEN 'ID is found in Biospecimen, but is missing from Prior_Clinical_Test and Demographic'
             |    WHEN in_prior AND in_demo AND NOT in_bio
             |      THEN 'ID is found in Prior_Clinical_Test and Demographic but is missing from Biospecimen'
             |    WHEN in_prior AND NOT in_demo AND in_bio
             |      THEN 'ID is found in Prior_Clinical_Test and Biospecimen but is missing from Demographic'
             |    WHEN NOT in_prior AND in_demo AND in_bio
             |      THEN 'ID is found in Demographic and Biospecimen but is missing from Prior_Clinical_Test'
             |  END AS Error_Message
             |FROM scoped WHERE NOT (NOT in_prior AND NOT in_demo AND NOT in_bio)
             |  AND NOT (in_prior AND in_demo AND in_bio)
             |ORDER BY Column_Value""".stripMargin),
      "§2.8 get_cross_sheet_Participant_ID: J3 outer matrix + P5 null patterns"),

    // ---- compare_viability: banker's rounding (bround vs round_even) ----
    Q("q32_rule_viability",
      (s, d) => {
        val sheet = spreadRaw(Tables.lineitem(s, d), "l_orderkey").select(
          col("l_quantity").cast("string").as("Total_Cells_Hemocytometer_Count"),
          (col("l_linenumber") % 5 + 1).cast("string").as("Live_Cells_Hemocytometer_Count"),
          // half the rows carry the correctly-rounded viability, half are off
          when(col("l_orderkey") % 2 === 0,
            bround((col("l_linenumber") % 5 + 1) / col("l_quantity") * 100, 1))
            .otherwise(lit(42.42)).cast("string").as("Viability_Hemocytometer_Count"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("Row_Index"))
        evalRules("biospecimen.csv", sheet,
          Seq(Checks.viability("Viability_Hemocytometer_Count")))
          .orderBy("Row_Index", "Column_Value")
      },
      Some("""WITH sheet AS (SELECT
             |  l_quantity AS total, (l_linenumber % 5 + 1) AS live,
             |  CASE WHEN l_orderkey % 2 = 0
             |    THEN round_even((l_linenumber % 5 + 1) / l_quantity * 100, 1)
             |    ELSE 42.42 END AS viability,
             |  l_orderkey * 10 + l_linenumber AS Row_Index
             |  FROM lineitem)
             |SELECT DISTINCT 'Error' AS Message_Type, 'biospecimen.csv' AS CSV_Sheet_Name,
             |  Row_Index, 'Viability_Hemocytometer_Count' AS Column_Name,
             |  CAST(viability AS VARCHAR) AS Column_Value,
             |  'Viability Count must be equal to (Live_Count / Total_Count) * 100' AS Error_Message
             |FROM sheet
             |WHERE round_even(live / total * 100, 1) <> viability
             |ORDER BY Row_Index, Column_Value""".stripMargin),
      "§2.8 compare_viability: F6 arithmetic consistency under banker's rounding"),

    // ---- check_if_string: converted numbers and dates are violations ----
    Q("q33_rule_string_type",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Instrument_ID" -> when(col("event_id") % 5 === 0, "INST-A")
            .when(col("event_id") % 5 === 1, col("event_id").cast("string"))
            .when(col("event_id") % 5 === 2, "2024-03-15")
            .when(col("event_id") % 5 === 3, "N/A").otherwise(lit("")))
        evalRules("assay.csv", sheet, Seq(Checks.isString("Instrument_ID", NoGate)))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT event_id + 2 AS Row_Index,
             |  CASE WHEN event_id % 5 = 0 THEN 'INST-A'
             |       WHEN event_id % 5 = 1 THEN CAST(event_id AS VARCHAR)
             |       WHEN event_id % 5 = 2 THEN '2024-03-15'
             |       WHEN event_id % 5 = 3 THEN 'N/A' ELSE '' END AS v
             |  FROM events)
             |SELECT 'Error' AS Message_Type, 'assay.csv' AS CSV_Sheet_Name, Row_Index,
             |  'Instrument_ID' AS Column_Name,
             |  CASE WHEN TRY_CAST(v AS DOUBLE) IS NOT NULL
             |       THEN CAST(TRY_CAST(v AS DOUBLE) AS VARCHAR)
             |       ELSE strftime(try_strptime(v, '%Y-%-m-%-d'), '%Y-%m-%d %H:%M:%S')
             |  END AS Column_Value,
             |  'Value must be a string and NOT N/A' AS Error_Message
             |FROM sheet
             |WHERE TRY_CAST(v AS DOUBLE) IS NOT NULL
             |   OR try_strptime(v, '%Y-%-m-%-d') IS NOT NULL
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_if_string: converted numbers/dates violate, N/A and '' pass"),

    // ---- check_date Time variant: type check only, never range ----
    Q("q34_rule_time_type",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Time_of_Draw" -> when(col("event_id") % 4 === 0,
            date_format(col("ts"), "HH:mm:ss"))
            .when(col("event_id") % 4 === 1, "25:99:99")
            .when(col("event_id") % 4 === 2, "notatime").otherwise(lit("")))
        evalRules("biospecimen.csv", sheet, Checks.date("Time_of_Draw", NoGate,
          naAllowed = false, "Time",
          java.time.LocalDate.of(1900, 1, 1), java.time.LocalDate.of(2026, 1, 1)))
          .orderBy("Row_Index")
      },
      Some("""WITH sheet AS (SELECT event_id + 2 AS Row_Index,
             |  CASE WHEN event_id % 4 = 0 THEN strftime(CAST(ts AS TIMESTAMP), '%H:%M:%S')
             |       WHEN event_id % 4 = 1 THEN '25:99:99'
             |       WHEN event_id % 4 = 2 THEN 'notatime' ELSE '' END AS v
             |  FROM events)
             |SELECT 'Error' AS Message_Type, 'biospecimen.csv' AS CSV_Sheet_Name, Row_Index,
             |  'Time_of_Draw' AS Column_Name, v AS Column_Value,
             |  'Value must be a Valid Time HH:MM:SS' AS Error_Message
             |FROM sheet
             |WHERE v <> '' AND try_strptime(v, '%-H:%-M:%-S') IS NULL
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_date Time: type-checked, never range-checked (reference :230)"),

    // ---- integrated pipeline: rules -> dedup -> summary pivot (A2) ----
    Q("q31_error_summary_pivot",
      (s, d) => {
        val sheet = eventsSheet(s, d)(
          "Event_Type" -> col("event_type"),
          "Optional_Field" -> when(col("event_id") % 5 === 0, "").otherwise(lit("x")))
        val rules =
          Seq(Checks.inList("Event_Type", NoGate,
            Seq(PyS("click"), PyS("view"), PyS("signup"), PyS("purchase")))) ++
            Checks.missing("Optional_Field", ReqNo)
        val errors = RuleEvaluator.dedupFirst(
          RuleEvaluator.evaluate("events.csv", sheet, rules))
        graft.app.SubmissionRunner.summaryPivot(errors)
      },
      Some("""SELECT 'events.csv' AS CSV_Sheet_Name,
             |  (SELECT COUNT(*) FROM events
             |   WHERE event_type NOT IN ('click','view','signup','purchase')
             |     AND event_type <> '') AS "Error",
             |  (SELECT COUNT(*) FROM events WHERE event_id % 5 = 0) AS "Warning"
             |""".stripMargin),
      "§3.3 integrated micro-pipeline: rules -> dedup -> A2 crosstab summary"),

    // ---- cross-sheet biospecimen: the 10 child-presence patterns ----
    Q("q35_cross_sheet_biospecimen",
      (s, d) => {
        val c = Tables.customer(s, d)
        val bid = format_string("14_%06d_001", col("c_custkey"))
        val bio = c.filter(col("c_custkey") % 2 === 0)
          .select(bid.as("Biospecimen_ID"),
            when(col("c_custkey") % 4 === 0, "PBMC").otherwise(lit("Serum"))
              .as("Biospecimen_Type"))
        def child(mod: Int, proxy: String) = c.filter(col("c_custkey") % mod === 0)
          .select(bid.as("Biospecimen_ID"),
            concat(lit(proxy.take(1)), col("c_custkey")).as(proxy))
        val matrix = bio
          .join(child(3, "Aliquot_ID"), Seq("Biospecimen_ID"), "outer")
          .join(child(5, "Equipment_ID"), Seq("Biospecimen_ID"), "outer")
          .join(child(7, "Reagent_Name"), Seq("Biospecimen_ID"), "outer")
          .join(child(11, "Consumable_Name"), Seq("Biospecimen_ID"), "outer")
        RuleEvaluator.dedupFirst(CrossSheet.crossSheetBiospecimen(matrix, 14, 0))
          .drop("rule_seq")
          .select(errCols.head, errCols.tail: _*)
          .orderBy("Row_Index")
      },
      Some("""WITH ids AS (SELECT printf('14_%06d_001', c_custkey) AS id,
             |  CASE WHEN c_custkey % 2 = 0 THEN
             |    (CASE WHEN c_custkey % 4 = 0 THEN 'PBMC' ELSE 'Serum' END) END AS btype,
             |  c_custkey % 2 = 0 AS in_bio, c_custkey % 3 = 0 AS in_al,
             |  c_custkey % 5 = 0 AS in_eq, c_custkey % 7 = 0 AS in_re,
             |  c_custkey % 11 = 0 AS in_co
             |  FROM customer
             |  WHERE c_custkey % 2 = 0 OR c_custkey % 3 = 0 OR c_custkey % 5 = 0
             |     OR c_custkey % 7 = 0 OR c_custkey % 11 = 0),
             |scoped AS (SELECT *, ROW_NUMBER() OVER (ORDER BY id) + 1 AS Row_Index
             |  FROM ids
             |  WHERE NOT (in_bio AND in_al AND in_eq AND in_re AND in_co)),
             |msgs AS (SELECT Row_Index, id,
             |  CASE
             |    WHEN NOT in_bio AND in_al THEN 'ID is found in Aliquot.csv, however ID is missing from Biospecimen.csv'
             |    WHEN in_bio AND NOT in_al THEN 'ID is found in Biospecimen.csv, however is missing from Aliquot.csv'
             |    WHEN NOT in_bio AND in_eq THEN 'ID is found in Equipment.csv, however ID is missing from Biospecimen.csv'
             |    WHEN btype <> 'PBMC' AND in_bio AND in_eq THEN 'ID is found in Equipment.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
             |    WHEN btype = 'PBMC' AND in_bio AND NOT in_eq THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Equipment.csv'
             |    WHEN NOT in_bio AND in_re THEN 'ID is found in Reagent.csv, however ID is missing from Biospecimen.csv'
             |    WHEN btype <> 'PBMC' AND in_bio AND in_re THEN 'ID is found in Reagent.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
             |    WHEN btype = 'PBMC' AND in_bio AND NOT in_re THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Reagent.csv'
             |    WHEN NOT in_bio AND in_co THEN 'ID is found in Consumable.csv, however ID is missing from Biospecimen.csv'
             |    WHEN btype <> 'PBMC' AND in_bio AND in_co THEN 'ID is found in Consumable.csv, and ID is found in Biospecimen.csv however has Biospecimen_Type NOT PBMC'
             |    WHEN btype = 'PBMC' AND in_bio AND NOT in_co THEN 'ID is found in Biospecimen.csv and has Biospecimen_Type of PBMC, however ID is missing from Consumable.csv'
             |  END AS msg
             |  FROM scoped)
             |SELECT 'Error' AS Message_Type, 'Cross_Biospecimen_ID.csv' AS CSV_Sheet_Name,
             |  Row_Index, 'Biospecimen_ID' AS Column_Name, id AS Column_Value,
             |  msg AS Error_Message
             |FROM msgs WHERE msg IS NOT NULL
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 get_cross_sheet_Biospecimen_ID: 10 presence patterns, first-wins priority"),

    // ---- check_assay_special: referential miss after context join ----
    Q("q36_rule_assay_special",
      (s, d) => {
        val li = spreadRaw(Tables.lineitem(s, d), "l_orderkey")
          .filter(col("l_orderkey") < 2000)
        // context slice: only even part keys exist in the "valid" table
        val valid = Tables.part(s, d).filter(col("p_partkey") % 2 === 0)
          .select(col("p_partkey").as("Assay_ID"), col("p_name").as("Assay_Name"))
        val sheet = li.select(
          col("l_partkey").as("Assay_ID"),
          (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("Row_Index"))
          .join(broadcast(valid), Seq("Assay_ID"), "left")
          .withColumn("Assay_ID", col("Assay_ID").cast("string"))
        evalRules("assay.csv", sheet, Seq(Checks.assaySpecial("Assay_ID", "Assay_Name")))
          .orderBy("Row_Index", "Column_Value")
      },
      Some("""SELECT DISTINCT 'Error' AS Message_Type, 'assay.csv' AS CSV_Sheet_Name,
             |  l_orderkey * 10 + l_linenumber AS Row_Index,
             |  'Assay_ID' AS Column_Name,
             |  CAST(CAST(l_partkey AS DOUBLE) AS VARCHAR) AS Column_Value,
             |  'Assay_ID is not found in the table of valid Assay_IDs in databse or submitted file' AS Error_Message
             |FROM lineitem
             |WHERE l_orderkey < 2000 AND l_partkey % 2 = 1
             |ORDER BY Row_Index, Column_Value""".stripMargin),
      "§2.8 check_assay_special: J5 referential-existence via join-null"),

    // ---- membership check against an injected code catalog (F9 shape) ----
    Q("q30_rule_code_membership",
      (s, d) => {
        val codes = Set("A00", "B99")
        val sheet = eventsSheet(s, d)(
          "Other_Comorbidity" -> when(col("event_id") % 4 === 0, "A00")
            .when(col("event_id") % 4 === 1, "B99")
            .when(col("event_id") % 4 === 2, "ZZZ").otherwise(lit("N/A")))
        evalRules("demographic.csv", sheet, Seq(Checks.icd10("Other_Comorbidity",
          c => c.isin(codes.toSeq: _*))))
          .orderBy("Row_Index")
      },
      Some("""SELECT 'Error' AS Message_Type, 'demographic.csv' AS CSV_Sheet_Name,
             |  event_id + 2 AS Row_Index, 'Other_Comorbidity' AS Column_Name,
             |  'ZZZ' AS Column_Value,
             |  'Invalid or unknown ICD10 code, Value must be Valid ICD10 code or N/A' AS Error_Message
             |FROM events WHERE event_id % 4 = 2
             |ORDER BY Row_Index""".stripMargin),
      "§2.8 check_icd10 shape: F9 membership vs injected catalog"),

    // ---- IQR outlier audit (Tukey fences), the numeric-distribution
    // generalization of the reference's fixed-range checks (§2.8
    // check_if_number): instead of a hand-pinned [lo, hi], the bounds
    // derive from the data per group. Two passes: exact per-group
    // quartiles (5 groups — a tiny aggregate), then the bounds
    // BROADCAST back onto the unshuffled event scan for flagging — at
    // 100 TB the flagging pass stays narrow; only the quartile
    // aggregate shuffles, with map-side partials. Bounds are rounded
    // to 6 decimals in both engines so fence comparisons can't flip
    // on a final-ulp disagreement in quantile interpolation. ----
    Q("q108_outlier_iqr",
      (s, d) => {
        val bounds = Tables.events(s, d)
          .groupBy("event_type")
          .agg(round(expr("percentile(value, 0.25)"), 6).as("q1"),
            round(expr("percentile(value, 0.75)"), 6).as("q3"))
        val iqr = col("q3") - col("q1")
        Tables.events(s, d)
          .join(broadcast(bounds), Seq("event_type"))
          .select(col("event_type"),
            when(col("value") < col("q1") - lit(1.5) * iqr, 1L).otherwise(0L)
              .as("low"),
            when(col("value") > col("q3") + lit(1.5) * iqr, 1L).otherwise(0L)
              .as("high"))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(col("low")).as("n_out_low"),
            sum(col("high")).as("n_out_high"),
            round((sum(col("low")) + sum(col("high"))).cast("double")
              / count(lit(1)), 6).as("outlier_rate"))
          .orderBy("event_type")
      },
      Some("""WITH bounds AS (SELECT event_type,
             |    round(quantile_cont(value, 0.25), 6) AS q1,
             |    round(quantile_cont(value, 0.75), 6) AS q3
             |  FROM events GROUP BY event_type),
             |flagged AS (SELECT e.event_type, value,
             |    CASE WHEN value < q1 - 1.5*(q3-q1) THEN 1 ELSE 0 END AS low,
             |    CASE WHEN value > q3 + 1.5*(q3-q1) THEN 1 ELSE 0 END AS high
             |  FROM events e JOIN bounds USING (event_type))
             |SELECT event_type, COUNT(*) AS n,
             |  CAST(SUM(low) AS BIGINT) AS n_out_low,
             |  CAST(SUM(high) AS BIGINT) AS n_out_high,
             |  round(CAST(SUM(low)+SUM(high) AS DOUBLE)/COUNT(*), 6) AS outlier_rate
             |FROM flagged GROUP BY event_type ORDER BY event_type""".stripMargin),
      "validation generalization: IQR/Tukey-fence outlier audit per group"),

    q109FkOrphanAudit)

  /** One FK relation's orphan summary: child rows whose `fk` has no
    * match among the DISTINCT parent `pk` values — left join + null
    * count. The parent side is unhinted, so the planner broadcasts it
    * while it fits and swaps to a shuffle join when the key set
    * outgrows the threshold; the child side never shuffles either way.
    * Used by q109's schema sweep.
    */
  def fkOrphanAudit(relation: String, child: DataFrame, fk: String,
      parent: DataFrame, pk: String): DataFrame =
    fkOrphanAuditMulti(child, Seq((relation, fk, parent, pk)))

  /** Audit SEVERAL FK relations of one child table in a single scan:
    * one chained left join per parent key set, ONE aggregate computing
    * every relation's null count, exploded into per-relation summary
    * rows. At 100 TB this is the difference between one fact scan per
    * FK column and one fact scan per fact TABLE — lineitem's three
    * relations cost one pass, not three. The parent key sets are
    * deliberately UNhinted: dimension keys (region, nation, part)
    * auto-broadcast from their size stats, but fact-keyed parents
    * (orders.o_orderkey under lineitem) scale with the data, and a
    * forced hint would OOM the driver instead of degrading to a
    * key-partitioned shuffle join.
    */
  def fkOrphanAuditMulti(child: DataFrame,
      rels: Seq[(String, String, DataFrame, String)]): DataFrame = {
    val joined = rels.zipWithIndex.foldLeft(child) {
      case (df, ((_, fk, parent, pk), i)) =>
        df.join(parent.select(col(pk).as(s"__k$i")).distinct(),
          col(fk) === col(s"__k$i"), "left")
    }
    val aggs = count(lit(1)).as("n_rows") +: rels.indices.map(i =>
      count(when(col(s"__k$i").isNull, lit(1))).as(s"__o$i"))
    joined.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(rels.zipWithIndex.map { case ((rel, _, _, _), i) =>
        struct(lit(rel).as("relation"), col("n_rows"),
          col(s"__o$i").as("n_orphans"),
          round(col(s"__o$i").cast("double") / col("n_rows"), 6)
            .as("orphan_rate"))
      }: _*)).as("r"))
      .select("r.*")
  }

  private def q109FkOrphanAudit: Q =

    // ---- whole-schema referential-integrity audit: every declared FK
    // relation's orphan count in one summary — the reference's
    // per-sheet referential checks (§2.8 compare_id_to_database)
    // generalized to a schema sweep. Each relation is a left join
    // against the DISTINCT parent keys with a null-count aggregate;
    // parent key sets broadcast when small (dimensions) and shuffle
    // otherwise, while the child side is never shuffled beyond its
    // partial count. Relations sharing a child table fold into ONE
    // scan with chained left joins (fkOrphanAuditMulti) — at
    // 100 TB the sweep costs one scan per child TABLE, not per FK. ----
    Q("q109_fk_orphan_audit",
      (s, d) => {
        // lineitem's three relations share ONE scan (fkOrphanAuditMulti)
        fkOrphanAudit("events.user_id->customer", Tables.events(s, d),
            "user_id", Tables.customer(s, d), "c_custkey")
          .unionByName(fkOrphanAuditMulti(Tables.lineitem(s, d), Seq(
            ("lineitem.l_orderkey->orders", "l_orderkey",
              Tables.orders(s, d), "o_orderkey"),
            ("lineitem.l_partkey->part", "l_partkey",
              Tables.part(s, d), "p_partkey"),
            ("lineitem.l_suppkey->supplier", "l_suppkey",
              Tables.supplier(s, d), "s_suppkey"))))
          .unionByName(fkOrphanAudit("nation.n_regionkey->region",
            Tables.nation(s, d), "n_regionkey",
            Tables.region(s, d), "r_regionkey"))
          .unionByName(fkOrphanAudit("orders.o_custkey->customer",
            Tables.orders(s, d), "o_custkey",
            Tables.customer(s, d), "c_custkey"))
          .orderBy("relation")
      },
      Some("""SELECT 'events.user_id->customer' AS relation,
             |  COUNT(*) AS n_rows,
             |  COUNT(*) FILTER (WHERE k.k IS NULL) AS n_orphans,
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6) AS orphan_rate
             |FROM events LEFT JOIN (SELECT DISTINCT c_custkey AS k
             |  FROM customer) k ON user_id = k.k
             |UNION ALL
             |SELECT 'lineitem.l_orderkey->orders', COUNT(*),
             |  COUNT(*) FILTER (WHERE k.k IS NULL),
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6)
             |FROM lineitem LEFT JOIN (SELECT DISTINCT o_orderkey AS k
             |  FROM orders) k ON l_orderkey = k.k
             |UNION ALL
             |SELECT 'lineitem.l_partkey->part', COUNT(*),
             |  COUNT(*) FILTER (WHERE k.k IS NULL),
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6)
             |FROM lineitem LEFT JOIN (SELECT DISTINCT p_partkey AS k
             |  FROM part) k ON l_partkey = k.k
             |UNION ALL
             |SELECT 'lineitem.l_suppkey->supplier', COUNT(*),
             |  COUNT(*) FILTER (WHERE k.k IS NULL),
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6)
             |FROM lineitem LEFT JOIN (SELECT DISTINCT s_suppkey AS k
             |  FROM supplier) k ON l_suppkey = k.k
             |UNION ALL
             |SELECT 'nation.n_regionkey->region', COUNT(*),
             |  COUNT(*) FILTER (WHERE k.k IS NULL),
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6)
             |FROM nation LEFT JOIN (SELECT DISTINCT r_regionkey AS k
             |  FROM region) k ON n_regionkey = k.k
             |UNION ALL
             |SELECT 'orders.o_custkey->customer', COUNT(*),
             |  COUNT(*) FILTER (WHERE k.k IS NULL),
             |  round(CAST(COUNT(*) FILTER (WHERE k.k IS NULL) AS DOUBLE)
             |    / COUNT(*), 6)
             |FROM orders LEFT JOIN (SELECT DISTINCT c_custkey AS k
             |  FROM customer) k ON o_custkey = k.k
             |ORDER BY relation""".stripMargin),
      "validation generalization: whole-schema FK orphan audit (anti-join sweep)")
}
