package graft

import graft.types.{CellMemo, CellType, CellTypeExpr}
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The cell parse's case probes need no ICU case mapping: the two-case
  * `isin` probes and the ASCII-only lower-casing type every cell exactly
  * like the `upper()`/`lower()` expressions they replaced, interpreted
  * and compiled.
  */
class CellTypeProbeSpec extends AnyFunSuite {
  import SparkTestSession._

  /** `CellType.asNumber` as it was written with `upper()`. */
  private def upperAsNumber(c: Column): Column = {
    val t = trim(c)
    val lastCh = upper(substring(t, -1, 1))
    val javaOnly =
      upper(substring(t, 1, 2)) === "0X" ||
      upper(substring(t, 2, 2)) === "0X" ||
      ((lastCh === "D" || lastCh === "F") &&
        t.substr(lit(1), length(t) - 1).try_cast(DoubleType).isNotNull)
    when(!CellType.underscoreGuard(c) && !javaOnly, c.try_cast(DoubleType))
  }

  /** `CellType.monthNameTs` as it was written with `lower(trim(c))`: the
    * new form re-trims and ASCII-lower-cases its input, which leaves an
    * already trimmed, lower-cased string unchanged. */
  private def lowerMonthNameTs(c: Column): Column =
    CellType.monthNameTs(lower(trim(c)))

  /** (label, old, new) pairs over the cell column `v`. */
  private def pairs(v: Column): Seq[(String, Column, Column)] = {
    val t = trim(v)
    val last = substring(t, -1, 1)
    Seq(
      ("last is D", upper(last) === "D", last.isin("d", "D")),
      ("last is F", upper(last) === "F", last.isin("f", "F")),
      ("0X at 1", upper(substring(t, 1, 2)) === "0X", substring(t, 1, 2).isin("0x", "0X")),
      ("0X at 2", upper(substring(t, 2, 2)) === "0X", substring(t, 2, 2).isin("0x", "0X")),
      ("asNumber", upperAsNumber(v), CellType.asNumber(v)),
      ("monthNameTs", lowerMonthNameTs(v), CellType.monthNameTs(v)))
  }

  private val listed = Seq("ﬀ", "1ﬀ", "ﬀ1", "\u0130", "\u212A", "1\u212A", "ｘ", "0ｘ1",
    "0x1p3", "0X1P3", "-0x1p3", " 0x10 ", "0x", "1D", "1d", "2.5f", "2.5F", "1e3f",
    "inf", "Inf", "infinity", "NaN", "-Infinity", "20210103", "JAN 3, 2021",
    "3-jAn-21", "Sept 9 2020", "SEPT 9, 2020", "3rd January, 2021", "Jan. 3rd, 21",
    "DEC 31 1999", "\u212Aan 3 2021", "3-\u0130an-21", "\u0130an 3, 2021", "3 deć 2021",
    "ＪＡＮ 3 2021", "ß", "1ß", "ǅ", "1ǅ", "ᵈ", "1ᵈ", "ｄ", "1ｄ", "ｆ", "1ｆ", "Ｄ",
    "ｘ1", "0Ｘ1", "٠x1", "0ẋ", "12_345", "_5", "", " ", "abc", "1.5", "-2", "05")

  /** The listed cells plus seeded strings over a pool of ASCII digits,
    * case letters and the non-ASCII characters whose case maps are
    * irregular. */
  private def corpus: Seq[String] = {
    val pool = "0123456789xXdDfFjJaAnN.-+ e_ﬀ\u0130\u212Aｘｄßǅᵈ٠ẋ".toSeq
    val r = new scala.util.Random(41)
    listed ++ (1 to 3000).map(_ => Seq.fill(1 + r.nextInt(6))(pool(r.nextInt(pool.size))).mkString)
  }

  private def assertParity(s: SparkSession): Unit = {
    val cells = corpus
    // an RDD-backed frame: a local relation would be constant-folded
    val df = s.createDataFrame(s.sparkContext.parallelize(
      cells.zipWithIndex.map { case (v, i) => Row(i, v) }, 3),
      StructType(Seq(StructField("i", org.apache.spark.sql.types.IntegerType),
        StructField("v", StringType))))
    val ps = pairs(col("v"))
    val rows = df.select(col("i") +: ps.flatMap { case (_, o, n) => Seq(o, n) }: _*)
      .collect()
    assert(rows.length == cells.size)
    val bad = rows.toSeq.flatMap { r =>
      ps.indices.collect {
        case k if !java.util.Objects.equals(r.get(1 + 2 * k), r.get(2 + 2 * k)) =>
          s"${ps(k)._1} of '${cells(r.getInt(0))}': old=${r.get(1 + 2 * k)} new=${r.get(2 + 2 * k)}"
      }
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
    // the corpus reaches every branch: the parity is not vacuous
    def hits(k: Int): Int = rows.count(r => r.get(1 + 2 * k) match {
      case b: java.lang.Boolean => b.booleanValue
      case x => x != null
    })
    ps.indices.foreach(k => assert(hits(k) > 0, ps(k)._1))
    val byCell = rows.map(r => cells(r.getInt(0)) -> r).toMap
    assert(byCell("0x1p3").isNullAt(10) && byCell("1D").isNullAt(10) &&
      byCell("inf").get(10) == Double.PositiveInfinity && byCell("20210103").get(10) == 2.0210103e7)
    Seq("JAN 3, 2021", "3-jAn-21", "Sept 9 2020").foreach(c => assert(!byCell(c).isNullAt(12), c))
  }

  private def withSession(confs: (String, String)*)(f: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    f(s)
  }

  test("ICU-free probes equal the upper()/lower() forms: interpreted") {
    withSession("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false")(assertParity)
  }

  test("ICU-free probes equal the upper()/lower() forms: compiled, no fallback") {
    withSession("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")(assertParity)
  }

  test("the CellMemo templates hold no Upper or Lower node") {
    CellTypeExpr.register(spark)
    val df = spark.range(1).select(col("id").cast("string").as("v"))
    val memos = df.select(CellTypeExpr.cellNumber(col("v")).as("n"))
      .select(col("*"), CellTypeExpr.cellTimestamp(col("n").cast("string"), col("n")))
      .queryExecution.analyzed.flatMap(_.expressions)
      .flatMap(_.collect { case m: CellMemo => m })
    assert(memos.map(_.prettyName).toSet == Set("cell_number", "cell_timestamp"))
    memos.foreach { m =>
      val cased = m.template.collect { case e @ (_: Upper | _: Lower) => e }
      assert(cased.isEmpty, s"${m.prettyName}: $cased")
    }
  }
}
