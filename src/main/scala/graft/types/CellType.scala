package graft.types

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, DateType, DecimalType}

/** Per-cell dynamic typing as Catalyst column expressions.
  *
  * The reference re-types every cell independently (`convert_data_type`,
  * nci-seronet-data-validator.py:196-206): if the string contains `'_'` at
  * position >= 1 keep it as-is (protects IDs like `12_123456`); else try
  * `float(v)`; else try `dateutil.parser.parse(v)`; else keep the string.
  * Rules then branch on the runtime type of each cell.
  *
  * Spark columns are homogeneous, so we keep every ingested column as
  * StringType and express the trichotomy as predicates over the raw string.
  * Every cell classifies as exactly one of number / datetime / string
  * (property-tested). The parse is defined once, as built-ins (`try_cast`,
  * `try_to_timestamp`, `rlike`) — no UDFs. Used directly (`asNumber`,
  * `render`, …) it inlines that whole tree at every call site; the memos
  * ([[memoColumns]]) wrap the same tree in a native expression,
  * [[CellMemo]], that compiles it once per generated class and calls it
  * per column.
  *
  * Pinned divergences from the reference (documented per SURVEY §1.2):
  *  - dateutil is far more permissive than any fixed format list; we pin the
  *    formats below and treat anything else as a plain string.
  *  - dateutil resolves bare times against *today*; we resolve against
  *    1970-01-01 (deterministic).
  *  - Python `float` accepts `'_5'`-style? No — underscores only *between*
  *    digits (`float("1_000")` is 1000.0) — but the guard fires first for
  *    those, and `float("_5")` raises, so behavior matches.
  */
object CellType {

  /** True when the first `'_'` sits at position >= 1 (`str(v).find('_') > 0`).
    * A leading underscore does NOT trigger the guard.
    */
  def underscoreGuard(c: Column): Column = c.rlike("^[^_].*_")

  /** The cell's numeric value, or null if it isn't a number (guard applied).
    *
    * Spark's string->double cast is MORE permissive than the reference's
    * Python `float()`: Java-style type suffixes ("1d", "2.5f") and
    * hex-float literals ("0x1.8p1") parse here but raise there — both
    * shapes are gated out. "inf"/"Infinity"/"nan" are accepted by BOTH
    * engines (and by DuckDB's TRY_CAST), so the trailing-[df] guard
    * only fires when the PREFIX is itself numeric ("inf" survives,
    * "1e3f" does not).
    */
  def asNumber(c: Column): Column = {
    val v = c.try_cast(DoubleType)
    val t = trim(c)
    // the guard stays regex-free: numeric columns hit this per CELL, and
    // an all-number column (the common ID/measure shape) would pay two
    // regex engines per row. Cheap char probes rule out the only two
    // Java-only shapes — a [dDfF] SUFFIX ("1d", "2.5f"; "inf"/"NaN"
    // survive because their prefix is not numeric) and a 0x/0X hex
    // prefix — and the cast verdict short-circuits everything for
    // non-numeric cells. The probes list both cases instead of calling
    // upper(): Spark's case mapping goes through ICU, and no other
    // character upper-cases to D, F, X or 0 (full mappings such as
    // "ﬀ" → "FF" change the length, so they never matched either)
    val lastCh = substring(t, -1, 1)
    val hex = Seq("0x", "0X")
    val javaOnly =
      substring(t, 1, 2).isin(hex: _*) ||
      substring(t, 2, 2).isin(hex: _*) ||
      (lastCh.isin("d", "D", "f", "F") &&
        t.substr(lit(1), length(t) - 1).try_cast(DoubleType).isNotNull)
    when(!underscoreGuard(c) && !javaOnly, v)
  }

  def isNumber(c: Column): Column = asNumber(c).isNotNull

  /** Pinned format cascade standing in for dateutil.parser.parse.
    * Order matters only for rendering (first match wins); membership is what
    * the predicates use.
    *
    * `M/d/yy` sits outside this list because its two-digit year needs the
    * dateutil pivot applied after the parse (see [[pivotTwoDigitYear]]);
    * [[asTimestampRaw]] splices it into the cascade at its original slot.
    */
  val dateTimeFormats: Seq[String] = Seq(
    "yyyy-M-d H:m:s", "yyyy-M-d'T'H:m:s", "M/d/yyyy H:m:s", "M/d/yyyy H:m")
  val dateFormats: Seq[String] = Seq(
    "yyyy-M-d", "M/d/yyyy", "yyyy/M/d")
  val timeFormats: Seq[String] = Seq(
    "H:m:s", "h:m:s a", "h:m a", "H:m")

  // ---- dateutil permissiveness: month-name and two-digit-year forms ----
  // dateutil accepts far more than the numeric cascade; the next-most-
  // common families a real submission hits are month-name dates
  // ("Jan 3, 2021", "January 3 2021", "3 Jan 2021", "3-Jan-21") and
  // two-digit years. Month names are parsed by component extraction (a
  // lowercase token -> month map), NOT by Java's locale-sensitive
  // case-sensitive MMM formats, so "JAN"/"jan"/"Jan" all work like
  // dateutil. Ordinal day suffixes (3rd, 21st) are accepted.
  //
  // Still-pinned divergences (documented, deliberate):
  //  - digit-only compacts like "20210103" are NUMBERS in both engines —
  //    the reference tries float() before dateutil (convert_data_type,
  //    nci-seronet-data-validator.py:200-204), so the date branch never
  //    sees them; no gap despite appearances.
  //  - month-year forms without a day ("Jan 2021") resolve against
  //    *today* in dateutil — non-deterministic, excluded.
  //  - month-name forms with a trailing time are not in the cascade.

  /** dateutil resolves a two-digit year to the half-century around "today"
    * (relativedelta convertyear); pinned at build era 2026: 00-75 -> 20xx,
    * 76-99 -> 19xx. Deterministic, unlike dateutil's wall-clock pivot.
    */
  val twoDigitYearPivot = 75

  /** The pivot applied to a numeric two-digit year column (int). */
  private def pivotYear2(y2: Column): Column =
    when(y2 <= twoDigitYearPivot, y2 + 2000).otherwise(y2 + 1900)

  /** A timestamp parsed under `M/d/yy` with the dateutil pivot: Java's
    * `yy` maps every value to 20xx, so 76-99 shift back a century.
    */
  private def mdy2(c: Column): Column = {
    val ts = try_to_timestamp(c, lit("M/d/yy"))
    when(year(ts) >= 2076, add_months(ts, -1200).cast("timestamp")).otherwise(ts)
  }

  private val monthTokens: Seq[(String, Int)] =
    (Seq("jan", "feb", "mar", "apr", "may", "jun",
      "jul", "aug", "sep", "oct", "nov", "dec").zipWithIndex.map {
      case (m, i) => m -> (i + 1)
    } ++ Seq("january", "february", "march", "april", "may", "june", "july",
      "august", "september", "october", "november", "december")
      .zipWithIndex.map { case (m, i) => m -> (i + 1) }
      :+ ("sept" -> 9)).distinct

  /** Lowercase month token -> 1..12, null otherwise (dateutil's
    * parserinfo recognises full English names, 3-letter abbreviations,
    * and the one 4-letter extra "Sept").
    */
  private def monthFromToken(tok: Column): Column =
    element_at(
      map(monthTokens.flatMap { case (m, n) => Seq(lit(m), lit(n)) }: _*), tok)

  // month-first: "jan 3, 2021" / "january 3 2021" / "jan. 3rd, 21"
  private val monthFirstRe =
    "^([a-z]{3,9})\\.?\\s+([0-9]{1,2})(?:st|nd|rd|th)?,?\\s+([0-9]{2}|[0-9]{4})$"
  // day-first: "3 jan 2021" / "3-jan-21" / "3rd january, 2021"
  private val dayFirstRe =
    "^([0-9]{1,2})(?:st|nd|rd|th)?[-\\s]+([a-z]{3,9})\\.?[-\\s,]+([0-9]{2}|[0-9]{4})$"

  /** Canonicalized parse of the (day, monthToken, yearText) components:
    * null-propagating concat (an unknown month token nulls the whole
    * string) re-validated through the strict `yyyy-M-d` parse, so illegal
    * days (Feb 31) fall out as null exactly like every other format.
    */
  private def fromParts(day: Column, tok: Column, yearText: Column): Column = {
    val y = when(length(yearText) === 2, pivotYear2(yearText.cast("int")))
      .otherwise(yearText.cast("int"))
    try_to_timestamp(
      concat(y.cast("string"), lit("-"),
        monthFromToken(tok).cast("string"), lit("-"), day),
      lit("yyyy-M-d"))
  }

  /** ASCII upper case to lower case, every other character unchanged. */
  private def asciiLower(c: Column): Column =
    translate(c, ('A' to 'Z').mkString, ('a' to 'z').mkString)

  /** Month-name date parse (both orders), or null. Case-insensitive via
    * one ASCII-only lower-casing of the trimmed cell — no locale-sensitive
    * Java month parsing and no ICU case mapping. Only `İ` (U+0130) and the
    * Kelvin sign (U+212A) lower-case to ASCII letters under `lower()`;
    * neither can complete a month token, so every cell types the same
    * either way.
    */
  def monthNameTs(c: Column): Column = {
    val ln = asciiLower(trim(c))
    coalesce(
      when(ln.rlike(monthFirstRe), fromParts(
        regexp_extract(ln, monthFirstRe, 2),
        regexp_extract(ln, monthFirstRe, 1),
        regexp_extract(ln, monthFirstRe, 3))),
      when(ln.rlike(dayFirstRe), fromParts(
        regexp_extract(ln, dayFirstRe, 1),
        regexp_extract(ln, dayFirstRe, 2),
        regexp_extract(ln, dayFirstRe, 3))))
  }

  /** The parsed timestamp under the cascade, or null. Number-guard NOT
    * included — compose with isNumber for the trichotomy (numbers win:
    * `"3"` is a number, never a date).
    *
    * Cheap regex gates short-circuit the exception-driven format parses:
    * only date-shaped strings attempt the date formats and only time-shaped
    * strings the time formats. At 100 TB the cascade dominates the scan
    * cost without this (each failed try_to_timestamp is an internal throw).
    */
  def asTimestampRaw(c: Column): Column = {
    val dateShaped = c.rlike("^\\s*[0-9]{1,4}[-/][0-9]{1,2}[-/][0-9]{1,4}")
    val timeShaped = c.rlike("^\\s*[0-9]{1,2}:[0-9]")
    // month-name forms contain a letter run next to the digits; everything
    // the numeric branches match contains none
    val monthShaped = c.rlike("(?i)[a-z]{3}")
    coalesce(
      // bare dates are the common case — try them before datetime formats
      // (a datetime string cannot match a bare-date format, so ordering
      // changes only attempt count, never the parsed value). M/d/yy keeps
      // its original slot in the cascade, with the two-digit-year pivot.
      when(dateShaped, coalesce(
        (Seq("yyyy-M-d", "M/d/yyyy").map(f => try_to_timestamp(c, lit(f))) :+
          mdy2(c)) ++
          (Seq("yyyy/M/d") ++ dateTimeFormats)
            .map(f => try_to_timestamp(c, lit(f))): _*)),
      when(timeShaped, coalesce(timeFormats
        .map(f => try_to_timestamp(c, lit(f))): _*)),
      when(monthShaped, monthNameTs(c)))
  }

  // ---- memoized per-column variants ----------------------------------
  // Callers project `__num_<col>` / `__ts_<col>` ONCE per sheet scan and
  // every compiled rule branches on those — one parse per cell however
  // many rules reference the column ("parse once, branch many").

  def memoNum(name: String): String = s"__num_$name"
  def memoTs(name: String): String = s"__ts_$name"

  /** `df` with the memos of `names` appended, in two projections: every
    * number memo first, then every timestamp memo. The ts memo takes the
    * number memo as an input and is null wherever it is non-null: the
    * trichotomy is number → date → string, so a cell that parsed as a
    * number never consults the cascade. Both are [[CellMemo]] calls of
    * one generated function per parse (see [[CellTypeExpr]]), so a wide
    * sheet compiles the cascade once, not once per column.
    */
  def memoColumns(df: DataFrame, names: Seq[String]): DataFrame = {
    val ns = names.distinct
    if (ns.isEmpty) df
    else {
      CellTypeExpr.register(df.sparkSession)
      df.select(col("*") +: ns.map(n =>
          CellTypeExpr.cellNumber(col(n)).as(memoNum(n))): _*)
        .select(col("*") +: ns.map(n =>
          CellTypeExpr.cellTimestamp(col(n), col(memoNum(n))).as(memoTs(n))): _*)
    }
  }

  def isNumberM(name: String): Column = col(memoNum(name)).isNotNull
  def asNumberM(name: String): Column = col(memoNum(name))
  def isDateTimeM(name: String): Column =
    col(memoNum(name)).isNull && col(memoTs(name)).isNotNull
  def asDateM(name: String): Column =
    when(isDateTimeM(name), col(memoTs(name))).cast(DateType)
  def isStringM(name: String): Column =
    col(memoNum(name)).isNull && col(memoTs(name)).isNull

  /** Memo-backed render of column `name` (same semantics as [[render]]). */
  def renderM(name: String): Column =
    renderMemo(col(name), col(memoNum(name)), col(memoTs(name)))

  /** [[render]] from a cell's raw string and its two memos. */
  def renderMemo(raw: Column, num: Column, ts: Column): Column =
    when(num.isNotNull, pyFloat(num))
      .when(ts.isNotNull, date_format(ts, "yyyy-MM-dd HH:mm:ss"))
      .otherwise(raw)

  /** isinstance(x, datetime.datetime) after convert_data_type: the cell is
    * not a number and parses under the cascade.
    */
  def isDateTime(c: Column): Column =
    !isNumber(c) && asTimestampRaw(c).isNotNull

  def asTimestamp(c: Column): Column =
    when(isDateTime(c), asTimestampRaw(c))

  def asDate(c: Column): Column = asTimestamp(c).cast(DateType)

  /** The fall-through: neither number nor datetime (includes `''`). */
  def isString(c: Column): Column = !isNumber(c) && !isDateTime(c)

  /** Python-`str()` rendering of a parsed double.
    *
    * A plain `cast("string")` inherits Java's `Double.toString`, which
    * switches to scientific notation at |x| >= 1e7 and below 1e-3 —
    * Python (and DuckDB's VARCHAR cast) stay positional until 1e16 /
    * 1e-4, so an id like 10000001 rendered `"1.0000001E7"` instead of
    * the reference's `"10000001.0"` (first hit by the sf1 scale run,
    * where synthetic keys cross 1e7). Branches:
    *  - integral, |x| < 1e16: decimal digits + ".0" — exact, covers every
    *    id/count cell;
    *  - 1e-4 <= |x| < 1e-3 (the small window where Java is scientific
    *    but Python is not): positional via a high-scale decimal cast with
    *    trailing zeros trimmed — exact for CSV-born short decimals;
    *  - non-integral |x| in [1e7, 1e15): positional via per-decade
    *    decimal scales (see inline note) — exact for every double whose
    *    shortest repr needs <= 16 significant digits;
    *  - otherwise native cast: identical to Python throughout [1e-3,
    *    1e7) where both print the shortest decimal. Residual doc'd
    *    divergence: 17-significant-digit doubles, non-integral
    *    |x| >= 1e15, |x| >= 1e16, |x| < 1e-4 (Python `1e+16`/`1e-05`
    *    forms) — unreachable from the reference's cell domain (ids,
    *    counts, short measured decimals).
    */
  def pyFloat(d: Column): Column = {
    val a = abs(d)
    // positional decimal with trailing zeros trimmed (and a bare trailing
    // dot healed to ".0" for values that round up to an integer)
    def positional(scale: Int): Column =
      regexp_replace(regexp_replace(
        d.cast(DecimalType(38, scale)).cast("string"),
        "(\\.\\d*?)0+$", "$1"), "\\.$", ".0")
    // non-integral [1e7, 1e15): per-decade scale 15-decade. The exact
    // binary value differs from the shortest repr by < ulp/2 ~ |x|*1.1e-16
    // = 1.1*10^(decade-16); rounding at 5*10^(decade-16) (half of scale
    // 15-decade) snaps that noise back to the repr, and the repr's own
    // fraction fits the scale whenever the double needs <= 16 significant
    // digits. Only 17-significant-digit doubles (which Python prints in
    // full) lose their last digit here — unreachable from CSV-born cells.
    val decadeBranches = (7 to 14).map { dec =>
      (a >= math.pow(10, dec) && a < math.pow(10, dec + 1),
        positional(15 - dec))
    }
    val base =
      when(d === floor(d) && a < 1e16,
        concat(d.cast(DecimalType(20, 0)).cast("string"), lit(".0")))
      .when(a >= 1e-4 && a < 1e-3, positional(20))
    decadeBranches.foldLeft(base) { case (acc, (cond, r)) => acc.when(cond, r) }
      .otherwise(d.cast("string"))
  }

  /** Render the *converted* cell the way the reference's error CSV does
    * (pandas str() of the converted value): numbers as Python floats
    * (`"05"` -> `"5.0"`), datetimes as `yyyy-MM-dd HH:mm:ss`, strings as-is.
    */
  def render(c: Column): Column =
    when(isNumber(c), pyFloat(asNumber(c)))
      .when(isDateTime(c), date_format(asTimestampRaw(c), "yyyy-MM-dd HH:mm:ss"))
      .otherwise(c)
}
