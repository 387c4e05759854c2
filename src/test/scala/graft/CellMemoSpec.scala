package graft

import graft.dispatch.{CrossSheet, MergeTables, SheetCatalog}
import graft.io.SheetReader
import graft.rules.RuleEvaluator
import graft.types.CellType
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.time.LocalDate
import scala.util.Random

/** The native memos ([[graft.types.CellMemo]] via `CellType.memoColumns`)
  * against the composed trees they wrap (`asNumber`, `asTimestampRaw`,
  * `render`), and the compile shape that motivates them.
  */
class CellMemoSpec extends AnyFunSuite {
  import SparkTestSession._

  private val perFamily = 1200

  private def gen(seed: Long)(f: Random => String): Seq[String] = {
    val r = new Random(seed)
    Seq.fill(perFamily)(f(r))
  }
  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def pad(r: Random, s: String): String =
    pick(r, Seq("", " ", "  ")) + s + pick(r, Seq("", " ", "\t"))

  private val monthNames = Seq("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul",
    "Aug", "Sep", "Sept", "Oct", "Nov", "Dec", "January", "February", "March",
    "April", "June", "July", "August", "September", "October", "November",
    "December", "JAN", "dec", "Foo", "Janu")

  /** Family name -> generated raw cells. */
  private val families: Seq[(String, Seq[String])] = Seq(
    "numbers" -> gen(1) { r =>
      val base = r.nextInt(12) match {
        case 0 => r.nextInt(100000).toString
        case 1 => f"${r.nextDouble() * 1000}%.3f"
        case 2 => s"${r.nextInt(9) + 1}e${r.nextInt(20) - 10}"
        case 3 => (-r.nextInt(1000)).toString
        case 4 => pick(r, Seq("1d", "2.5f", "1e3F", "7D", "0x1p3", "0X2",
          "0x1.8p1", "-0x10"))
        case 5 => pick(r, Seq("inf", "-inf", "Infinity", "-Infinity", "NaN",
          "nan", "+5", ".5", "5.", "05", "leaf", "grand"))
        case 6 => (10000000L + r.nextInt(1000000)).toString
        case 7 => f"${10000000 + r.nextDouble() * 1e7}%.2f"
        case 8 => f"${r.nextDouble() / 1000}%.6f"
        case 9 => (r.nextLong() % 10000000000000000L).toString
        case 10 => f"${r.nextDouble() * 1e14}%.1f"
        case _ => s"${r.nextInt(100)}.${r.nextInt(100)}"
      }
      pad(r, base)
    },
    "underscore guard" -> gen(2) { r =>
      pick(r, Seq(s"${r.nextInt(99)}_${r.nextInt(999999)}", s"_${r.nextInt(99)}",
        s"a_${r.nextInt(9)}", "1_000", "__", "_", s"${r.nextInt(99)}_",
        s"${r.nextInt(12) + 1}/1/20_21", s"_${r.nextInt(12) + 1}/1/2021"))
    },
    "dates and times" -> gen(3) { r =>
      val (y, m, d) = (1900 + r.nextInt(200), 1 + r.nextInt(13), 1 + r.nextInt(32))
      val (h, mi, s) = (r.nextInt(25), r.nextInt(61), r.nextInt(61))
      def p2(i: Int) = if (r.nextBoolean()) f"$i%02d" else i.toString
      val ampm = pick(r, Seq("AM", "PM", "am", "pm"))
      val v = r.nextInt(11) match {
        case 0 => s"$y-${p2(m)}-${p2(d)} ${p2(h)}:${p2(mi)}:${p2(s)}"
        case 1 => s"$y-${p2(m)}-${p2(d)}T${p2(h)}:${p2(mi)}:${p2(s)}"
        case 2 => s"${p2(m)}/${p2(d)}/$y ${p2(h)}:${p2(mi)}:${p2(s)}"
        case 3 => s"${p2(m)}/${p2(d)}/$y ${p2(h)}:${p2(mi)}"
        case 4 => s"$y-${p2(m)}-${p2(d)}"
        case 5 => s"${p2(m)}/${p2(d)}/$y"
        case 6 => s"$y/${p2(m)}/${p2(d)}"
        case 7 => s"${p2(h)}:${p2(mi)}:${p2(s)}"
        case 8 => s"${1 + r.nextInt(12)}:${p2(mi)}:${p2(s)} $ampm"
        case 9 => s"${1 + r.nextInt(12)}:${p2(mi)} $ampm"
        case _ => s"${p2(h)}:${p2(mi)}"
      }
      if (r.nextInt(10) == 0) pad(r, v) else v
    },
    "M/d/yy pivot" -> gen(4) { r =>
      // both sides of the 75/76 pivot, plus the boundary years themselves
      val yy = if (r.nextBoolean()) pick(r, Seq(0, 74, 75, 76, 77, 99))
        else r.nextInt(100)
      f"${1 + r.nextInt(12)}/${1 + r.nextInt(31)}/$yy%02d"
    },
    "month names" -> gen(5) { r =>
      val mon = pick(r, monthNames)
      val d = 1 + r.nextInt(31)
      val ord = pick(r, Seq("", "", "st", "nd", "rd", "th"))
      val y = if (r.nextBoolean()) (1900 + r.nextInt(200)).toString
        else f"${r.nextInt(100)}%02d"
      r.nextInt(6) match {
        case 0 => s"$mon $d$ord, $y"
        case 1 => s"$mon. $d$ord $y"
        case 2 => s"$d$ord $mon $y"
        case 3 => s"$d-$mon-$y"
        case 4 => s"$d$ord ${mon.toLowerCase}, $y"
        // invalid days and month-year forms without a day
        case _ => pick(r, Seq(s"Feb $d, 2021", "Feb 31, 2021", "Apr 31 2020",
          s"$mon $y", "Feb 29, 2023", "Feb 29, 2024"))
      }
    },
    "blanks" -> gen(6) { r =>
      pick(r, Seq("", " ", "   ", "\t", "N/A", "abc", "Positive"))
    })

  /** The cells as an RDD-backed sheet (a local relation would be folded
    * by the optimizer before any projection ran) plus a left-joined
    * context column that is null on every other row.
    */
  private def sheet(s: SparkSession) = {
    val cells = families.flatMap { case (f, vs) => vs.map(f -> _) }
    val schema = StructType(Seq(StructField("family", StringType),
      StructField("v", StringType), StructField("k", StringType)))
    val rows = cells.zipWithIndex.map { case ((f, v), i) => Row(f, v, s"k$i") }
    val data = s.createDataFrame(s.sparkContext.parallelize(rows, 4), schema)
    val ctxRows = cells.zipWithIndex.collect {
      case ((_, v), i) if i % 2 == 0 => Row(s"k$i", v)
    }
    val ctx = s.createDataFrame(s.sparkContext.parallelize(ctxRows, 2),
      StructType(Seq(StructField("k", StringType), StructField("w", StringType))))
    data.join(ctx, Seq("k"), "left")
  }

  /** Every generated cell's memos and render equal the tree forms, for
    * the sheet column `v` and the left-joined (half-null) column `w`.
    */
  private def assertParity(s: SparkSession): Unit = {
    val base = sheet(s)
    val names = Seq("v", "w")
    def byKey(df: DataFrame, cols: Seq[Column]): Map[String, Seq[Any]] =
      df.select(col("k") +: cols: _*).collect()
        .map(r => r.getString(0) -> r.toSeq.tail).toMap
    val df = CellType.memoColumns(base, names)
    val memo = byKey(df, names.flatMap(n =>
      Seq(col(CellType.memoNum(n)), col(CellType.memoTs(n)), CellType.renderM(n))))
    // the reference side inlines the cascade at every use, which outgrows a
    // generated method: let it fall back to interpreted evaluation
    val tree = withConfs(s, "spark.sql.codegen.factoryMode" -> "FALLBACK",
        "spark.sql.codegen.fallback" -> "true") {
      byKey(base, names.flatMap { n =>
        val num = CellType.asNumber(col(n))
        Seq(num, when(num.isNull, CellType.asTimestampRaw(col(n))),
          CellType.render(col(n)))
      })
    }
    val cells = base.select("k", "family", "v", "w").collect()
      .map(r => r.getString(0) -> r).toMap
    val labels = names.flatMap(n => Seq(s"num($n)", s"ts($n)", s"render($n)"))
    assert(memo.size == cells.size && tree.keySet == memo.keySet)
    // Objects.equals: NaN equals NaN, null equals null
    val bad = memo.toSeq.flatMap { case (k, got) =>
      labels.indices.collect {
        case i if !java.util.Objects.equals(got(i), tree(k)(i)) =>
          s"${labels(i)} of ${cells(k)}: memo=${got(i)} tree=${tree(k)(i)}"
      }
    }
    assert(bad.isEmpty, bad.take(10).mkString("\n"))
    // every family actually reaches its branch: the parity is not vacuous
    val kinds = df.groupBy("family").agg(
        sum(when(CellType.isNumberM("v"), 1).otherwise(0)).as("n"),
        sum(when(CellType.isDateTimeM("v"), 1).otherwise(0)).as("d"),
        sum(when(col("w").isNull, 1).otherwise(0)).as("nulls"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(kinds("numbers")._1 > perFamily / 2, kinds)
    Seq("dates and times", "M/d/yy pivot", "month names")
      .foreach(f => assert(kinds(f)._2 > perFamily / 4, f -> kinds(f)))
    assert(kinds.values.map(_._3).sum >= perFamily * families.size / 2 - 1, kinds)
  }

  private def withConfs[T](s: SparkSession, confs: (String, String)*)(f: => T): T = {
    val prior = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  private def withSession(confs: (String, String)*)(f: SparkSession => Unit): Unit = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    f(s)
  }

  private val codegenOnly = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.codegen.fallback" -> "false")

  test("memos equal the tree forms: whole-stage codegen, non-UTC zone") {
    withSession(codegenOnly ++ Seq("spark.sql.session.timeZone" ->
      "America/Los_Angeles"): _*)(assertParity)
  }

  test("memos equal the tree forms: projection codegen without whole-stage") {
    withSession(codegenOnly ++ Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.session.timeZone" -> "Asia/Kolkata"): _*)(assertParity)
  }

  test("memos equal the tree forms: interpreted (NO_CODEGEN), UTC and non-UTC") {
    Seq("UTC", "Australia/Adelaide").foreach { tz =>
      withSession("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
        "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.session.timeZone" -> tz)(assertParity)
    }
  }

  test("templates are per session: each bakes its own time zone") {
    val cell = "2021-03-14 02:30:00"
    def parsed(tz: String): Long = {
      var out = 0L
      withSession("spark.sql.session.timeZone" -> tz) { s =>
        val df = SheetReader.fromRows(s, Seq("v"), Seq(Seq(cell)))
        out = CellType.memoColumns(df, Seq("v"))
          .select(unix_seconds(col(CellType.memoTs("v")))).head().getLong(0)
      }
      out
    }
    assert(parsed("UTC") - parsed("Asia/Tokyo") == 9 * 3600)
  }

  // the columns checkBiospecimen dispatches on: the widest catalog sheet
  private val biospecimenColumns = Seq(
    "Research_Participant_ID", "Biospecimen_ID", "Biospecimen_Group",
    "Biospecimen_Type", "Initial_Volume_of_Biospecimen", "Collection_Tube_Type",
    "Collection_Tube_Type_Lot_Number", "Collection_Tube_Type_Expiration_Date",
    "Biospecimen_Collection_Company_Clinic", "Biospecimen_Processing_Company_Clinic",
    "Biospecimen_Collection_Initials", "Date_of_Biospecimen_Collection",
    "Time_of_Biospecimen_Collection", "Date_of_Biospecimen_Receipt",
    "Storage_Time_at_2_8", "Storage_Start_Time_at_2_8", "Storage_End_Time_at_2_8",
    "Storage_Start_Time_at_2_8_Initials", "Storage_End_Time_at_2_8_Initials",
    "Final_Concentration_of_Biospecimen", "Total_Cells_Hemocytometer_Count",
    "Live_Cells_Hemocytometer_Count", "Viability_Hemocytometer_Count",
    "Total_Cells_Automated_Count", "Live_Cells_Automated_Count",
    "Viability_Automated_Count", "Centrifugation_Time", "RT_Serum_Clotting_Time",
    "Storage_Start_Time_80_LN2_storage")

  test("the widest sheet's rule stage compiles into whole-stage codegen") {
    withSession("spark.sql.codegen.fallback" -> "false") { s =>
      val r = new Random(7)
      val cells = Seq("", "N/A", "5", "12.5", "1/2/2021", "10:30:00", "Serum",
        "PBMC", "abc", "Jan 3, 2021", "14_000001", "14_000001_001")
      val rows = (0 until 200).map(_ => biospecimenColumns.map(_ => pick(r, cells)))
      val bio = SheetReader.fromRows(s, biospecimenColumns, rows)
      val prior = SheetReader.fromRows(s,
        Seq("Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result"),
        Seq(Seq("14_000001", "Positive")))
      val demo = SheetReader.fromRows(s, Seq("Research_Participant_ID", "Age"),
        Seq(Seq("14_000001", "30")))
      val (merged, drop) = MergeTables.merge("biospecimen.csv", bio, Map(
        "biospecimen.csv" -> bio, "prior_clinical_test.csv" -> prior,
        "demographic.csv" -> demo))
      val plan = SheetCatalog.plan("biospecimen.csv",
        merged.columns.filterNot(_ == "Row_Index").toSeq, drop, 14,
        LocalDate.of(2026, 8, 12), c => lit(false))
      val memoed = (plan.rowRules.map(_.column) ++ plan.rowRules.flatMap(_.memoInputs))
        .distinct
      assert(memoed.size >= 25, memoed)
      val errors = RuleEvaluator.evaluate("biospecimen.csv", merged, plan.rowRules)
      // collect() finalizes this query's adaptive plan, whose tree string
      // then shows the whole-stage stages (`*(n)`)
      assert(errors.collect().nonEmpty)
      val finalPlan = errors.queryExecution.executedPlan.treeString
        .split("== Initial Plan ==").head
      val generate = finalPlan.linesIterator.filter(_.contains("Generate explode")).toSeq
      assert(generate.size == 1 && generate.head.contains("*("), finalPlan)
      // the rule stage's generated class holds ONE function per parse and
      // stays under the method size past which Spark skips whole-stage code
      val ruleStages = org.apache.spark.sql.execution.debug
        .codegenStringSeq(errors.queryExecution.executedPlan)
        .filter(_._1.contains("Generate explode"))
      assert(ruleStages.size == 1)
      val (_, code, stats) = ruleStages.head
      Seq("cell_number", "cell_timestamp").foreach { f =>
        assert(s"private \\w+ \\w*${f}_\\d+\\(".r.findAllIn(code).size == 1, f)
      }
      assert(stats.maxMethodCodeSize < 65535, stats)
      info(s"rule stage: $stats")
    }
  }

  test("both cross-sheet presence matrices explode inside whole-stage codegen") {
    withSession("spark.sql.codegen.fallback" -> "false") { s =>
      def sheet(cols: String*)(rows: Seq[String]*) =
        SheetReader.fromRows(s, cols, rows)
      // every presence pattern fires at least once: participants split
      // across prior/demo/bio, biospecimens with and without children
      val sheets = Map(
        "prior_clinical_test.csv" -> sheet("Research_Participant_ID",
          "SARS_CoV_2_PCR_Test_Result")(Seq("14_000001", "Positive"),
          Seq("14_000004", "Negative"), Seq("14_000005", "Positive")),
        "demographic.csv" -> sheet("Research_Participant_ID", "Age")(
          Seq("14_000002", "30"), Seq("14_000004", "41"), Seq("14_000006", "52")),
        "biospecimen.csv" -> sheet("Research_Participant_ID", "Biospecimen_ID",
          "Biospecimen_Type")(Seq("14_000003", "14_000003_001", "PBMC"),
          Seq("14_000005", "14_000005_001", "Serum"),
          Seq("14_000006", "14_000006_001", "PBMC")),
        "confirmatory_clinical_test.csv" -> sheet("Research_Participant_ID",
          "Assay_ID")(Seq("14_000001", "14_001")),
        "aliquot.csv" -> sheet("Aliquot_ID", "Biospecimen_ID")(
          Seq("14_000005_001_01", "14_000005_001"),
          Seq("14_000007_001_01", "14_000007_001")),
        "equipment.csv" -> sheet("Equipment_ID", "Biospecimen_ID")(
          Seq("EQ1", "14_000005_001")),
        "reagent.csv" -> sheet("Reagent_Name", "Biospecimen_ID")(
          Seq("R1", "14_000008_001")),
        "consumable.csv" -> sheet("Consumable_Name", "Biospecimen_ID")(
          Seq("C1", "14_000006_001")))
      val slices: String => Option[DataFrame] = MergeTables.slice(sheets, _)
      val frames = Seq(
        CrossSheet.crossSheetParticipant(CrossSheet.allPartIds(slices).get, 14, 0L),
        CrossSheet.crossSheetBiospecimen(CrossSheet.allBioIds(slices).get, 14, 100L))
      frames.foreach { errors =>
        // collect() finalizes the adaptive plan (see the test above)
        assert(errors.collect().nonEmpty)
        val finalPlan = errors.queryExecution.executedPlan.treeString
          .split("== Initial Plan ==").head
        val generate = finalPlan.linesIterator.filter(_.contains("Generate explode")).toSeq
        assert(generate.size == 1 && generate.head.contains("*("), finalPlan)
      }
    }
  }
}
