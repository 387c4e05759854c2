package graft

import graft.core.ExecMode
import graft.dispatch.MergeTables
import graft.io.{SheetReader, SubmissionSource}
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import scala.util.Random

/** Sheet ingest as a plain CSV scan: rows, columns and `Row_Index` equal
  * those of the `zipWithIndex` ingest it replaced, on generated sheets and
  * on both sides of the execution-mode gate; the header is read without a
  * job and without Spark's header-check warning; the scan prunes columns.
  */
class SheetIngestSpec extends AnyFunSuite {
  import SheetIngestSpec._
  import SparkTestSession._

  private def dir(): Path = Files.createTempDirectory("graft-ingest")

  private def put(d: Path, name: String, content: String): String = {
    val p = d.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  /** Columns, then rows (every column, `Row_Index` last) in `Row_Index` order. */
  private def contents(df: DataFrame): (Seq[String], Seq[Seq[Any]]) =
    (df.columns.toSeq,
      df.collect().toSeq.map(_.toSeq).sortBy(_.last.asInstanceOf[Long]))

  /** `got` equals `expected` when collected on each side of the gate: as
    * read (stamped, interpreted) and with the stamp stripped (compiled). */
  private def assertParity(got: DataFrame, expected: DataFrame, clue: String): Unit = {
    val want = contents(expected)
    val bytes = ExecMode.sourceBytes(got)
    assert(ExecMode.interpreted(bytes), s"$clue: stamp $bytes")
    val stamped = ExecMode.scoped(spark, bytes)(contents(got))
    val stripped = contents(ExecModeSpec.stripped(Map("s" -> got))("s"))
    assert(stamped == want, s"$clue (stamped)")
    assert(stripped == want, s"$clue (stripped)")
  }

  private def generatedFiles(d: Path, seed: Int): Seq[String] =
    Cases.map { case (name, gen) => put(d, s"$name-$seed.csv", gen(new Random(seed))) }

  test("read: rows, columns and Row_Index equal the zipWithIndex ingest on generated sheets") {
    val d = dir()
    for (seed <- 1 to 3; path <- generatedFiles(d, seed))
      assertParity(SheetReader.read(spark, path), ZipWithIndexReference.read(spark, path),
        s"${Files.readString(Path.of(path))} ($path)")
  }

  test("readMany: files numbered continuously, schema drift, header-only and empty files") {
    val d = dir()
    val drift = Seq(
      put(d, "x.csv", "X,Y\n1,y1\n2,y2\n"),
      put(d, "hdr.csv", "Z,X\n"),
      put(d, "empty.csv", ""),
      put(d, "z.csv", "Z,X,W\nz3,3,\n\"z\n4\",4,w4\n"))
    val groups = Seq(drift, drift.reverse, drift.take(2), Seq(drift(2), drift(2)),
        Seq(drift(1), drift(2))) ++
      (1 to 2).map(seed => generatedFiles(d, seed))
    for (paths <- groups)
      assertParity(SheetReader.readMany(spark, paths).get,
        ZipWithIndexReference.readMany(spark, paths), paths.mkString(", "))
  }

  test("a sheet larger than maxPartitionBytes is read as one partition, numbered as before") {
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "64k")
    try {
      val d = dir()
      val rnd = new Random(11)
      val big = put(d, "big.csv", "A,B,,C\n" +
        Seq.fill(6000)(Seq.fill(4)(cell(rnd)).mkString(",")).mkString("\n") + "\n")
      assert(Files.size(Path.of(big)) > 2 * 64 * 1024)
      val small = put(d, "small.csv", "C,A\n1,2\n")
      val sheet = SheetReader.read(spark, big)
      // Row_Index is the record position within an unsplit file
      assert(sheet.rdd.getNumPartitions == 1)
      assertParity(sheet, ZipWithIndexReference.read(spark, big), "big sheet")
      assertParity(SheetReader.readMany(spark, Seq(small, big, small)).get,
        ZipWithIndexReference.readMany(spark, Seq(small, big, small)), "big sheet, many")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("blank and duplicate header cells log no header-check warning") {
    val d = dir()
    val path = put(d, "h.csv", "A,,B,a,b\n1,2,3,4,5\n")
    val (_, reference) = headerWarnings(ZipWithIndexReference.read(spark, path).collect())
    assert(reference.nonEmpty, "the probe must see the inferred-schema scan's warning")
    val (cols, warnings) = headerWarnings {
      val sheet = SheetReader.read(spark, path)
      sheet.collect()
      SheetReader.readMany(spark, Seq(path, path)).get.collect()
      sheet.columns.toSeq
    }
    assert(cols == Seq("A0", "B2", "a3", "b4", "Row_Index"))
    assert(warnings.isEmpty, warnings)
  }

  test("SubmissionSource.load runs no job; readMany construction runs at most one") {
    val d = dir()
    put(d, "submission.csv", "submission,cbc_awesome\nsubmitter,someone\nparticipants,2\n")
    put(d, "demographic.csv", "Research_Participant_ID,Age,Gender\n14_000001,30,Male\n14_000002,,\n")
    put(d, "prior_clinical_test.csv",
      "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result\n14_000001,Positive\n")
    put(d, "biospecimen.csv", "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n" +
      "14_000001,14_000001_001,Serum\n")
    val (sheets, loadJobs) = JobProbe.count(spark)(SubmissionSource.load(spark, d.toString))
    assert(sheets.size == 4)
    assert(loadJobs == 0, s"load ran $loadJobs jobs")
    val paths = Seq("demographic.csv", "prior_clinical_test.csv", "biospecimen.csv")
      .map(d.resolve(_).toString)
    val (many, manyJobs) = JobProbe.count(spark)(SheetReader.readMany(spark, paths))
    assert(many.get.columns.last == "Row_Index")
    assert(manyJobs <= 1, s"readMany construction ran $manyJobs jobs")
  }

  test("rule evaluation does not spread a sheet read from a file over the spread gate") {
    import graft.rules.{Checks, ReqYes, RuleEvaluator}
    val d = dir()
    put(d, "demographic.csv", "Research_Participant_ID,Age\n" +
      (1 to 40000).map(i => f"14_$i%06d,${i % 90},padding-padding-padding").mkString("\n"))
    put(d, "prior_clinical_test.csv", "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result\n")
    assert(Files.size(d.resolve("demographic.csv")) > (1L << 20))
    val sheets = SubmissionSource.load(spark, d.toString)
    val (merged, _) = MergeTables.merge("demographic.csv", sheets("demographic.csv"), sheets)
    def spreads(sheet: DataFrame): Seq[Boolean] = Seq(
      RuleEvaluator.evaluate("demographic.csv", sheet, Checks.missing("Age", ReqYes)),
      RuleEvaluator.dupIds("demographic.csv", sheet, "Research_Participant_ID", 0L)
    ).map(_.queryExecution.analyzed.toString.contains("RepartitionByExpression"))
    assert(spreads(merged) == Seq(false, false))
    // the same scan without the stamp is spread, as any low-split file is
    assert(spreads(ExecModeSpec.stripped(Map("s" -> merged))("s")) == Seq(true, true))
  }

  test("a merge slice scans only its key columns") {
    val d = dir()
    put(d, "demographic.csv",
      "Research_Participant_ID,Age,Gender,Race,Ethnicity\n14_000001,30,Male,x,y\n")
    val sheets = SubmissionSource.load(spark, d.toString)
    val slice = MergeTables.slice(sheets, "demographic.csv").get
    val scanned = slice.queryExecution.sparkPlan.collect {
      case s: FileSourceScanExec => s.requiredSchema.fieldNames.toSeq
    }
    assert(scanned == Seq(Seq("Research_Participant_ID", "Age")))
    assert(slice.collect().toSeq == Seq(Row("14_000001", "30")))
  }
}

object SheetIngestSpec {

  private def word(rnd: Random): String =
    Seq.fill(1 + rnd.nextInt(5))(rnd.alphanumeric.head).mkString

  /** One CSV cell: plain, blank, quoted with an embedded newline, doubled
    * quotes or a delimiter, or a quoted empty string. */
  def cell(rnd: Random): String = rnd.nextInt(8) match {
    case 0 => ""
    case 1 => "\"" + word(rnd) + "\n" + word(rnd) + "\""
    case 2 => "\"he said \"\"" + word(rnd) + "\"\"\""
    case 3 => "\"" + word(rnd) + ", " + word(rnd) + "\""
    case 4 => "\"\""
    case _ => word(rnd)
  }

  private def lines(rnd: Random, width: Int, ragged: Boolean = false,
      trailing: Boolean = false): Seq[String] =
    Seq.fill(rnd.nextInt(12)) {
      val n = if (ragged) math.max(1, width - 1 + rnd.nextInt(3)) else width
      Seq.fill(n)(cell(rnd)).mkString(",") + (if (trailing) "," else "")
    }

  /** Generated sheet shapes: name -> content from a seeded generator. */
  val Cases: Seq[(String, Random => String)] = Seq(
    "quoted" -> (r => ("A,B,C" +: lines(r, 3)).mkString("\n") + "\n"),
    "blank-lines" -> (r => "\n" + ("A,B" +: lines(r, 2)).flatMap(l =>
      if (r.nextBoolean()) Seq(l, "") else Seq(l)).mkString("\n") + "\n\n"),
    "header-cells" -> (r => ("A,,B,a,b,,Unnamed: 6" +: lines(r, 7)).mkString("\n")),
    "trailing-delimiter" -> (r => ("A,B," +: lines(r, 2, trailing = true)).mkString("\n") + "\n"),
    "ragged" -> (r => ("A,B,C" +: lines(r, 3, ragged = true)).mkString("\n") + "\n"),
    "header-only" -> (_ => "A,B\n"),
    "empty" -> (_ => ""))

  /** The ingest `SheetReader` replaced: schema inference, then an RDD
    * round trip numbered by `zipWithIndex`. */
  object ZipWithIndexReference {
    private def rawCsv(spark: SparkSession, path: String): DataFrame =
      spark.read.option("header", "true").option("mode", "PERMISSIVE")
        .option("escape", "\"").option("multiLine", "true").csv(path)

    private def clean(df: DataFrame): DataFrame =
      df.select(df.columns.filterNot(c =>
        c.startsWith("Unnamed") || c.matches("_c[0-9]+")).toIndexedSeq.map(col): _*)

    // nullable: a column one file lacks is a non-null literal there and
    // may hold nulls in another file
    private def indexRows(spark: SparkSession, rows: RDD[Row], base: StructType): DataFrame = {
      val schema = StructType(base.fields.map(_.copy(nullable = true)) :+
        StructField("Row_Index", LongType))
      val indexed = rows.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 2L)) }
      spark.createDataFrame(indexed, schema).na.fill("",
        base.fields.collect { case f if f.dataType == StringType => f.name }.toIndexedSeq)
    }

    def read(spark: SparkSession, path: String): DataFrame = {
      val df = clean(rawCsv(spark, path))
      indexRows(spark, df.rdd, df.schema)
    }

    def readMany(spark: SparkSession, paths: Seq[String]): DataFrame = {
      val dfs = paths.map(p => clean(rawCsv(spark, p)))
      val order = dfs.foldLeft(Vector.empty[String]) { (acc, df) =>
        acc ++ df.columns.filterNot(acc.contains)
      }
      val aligned = dfs.map { df =>
        df.select(order.map(c => if (df.columns.contains(c)) col(c) else lit("").as(c)): _*)
      }
      indexRows(spark, aligned.map(_.rdd).reduce(_ union _), aligned.head.schema)
    }
  }

  /** `block`'s result and the warnings Spark's CSV header check logged meanwhile. */
  def headerWarnings[T](block: => T): (T, Seq[String]) = {
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.catalyst.csv.CSVHeaderChecker").asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("header-check-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    logger.addAppender(appender)
    try {
      val result = block
      (result, seen.toArray.toSeq.map(_.toString))
    } finally { logger.removeAppender(appender); appender.stop() }
  }
}
