package graft

import graft.app.{StatusDerivation, SubmissionRunner, SummaryFormatter}
import graft.io.{ErrorWriter, SubmissionSource}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

/** Golden end-to-end: CSV fixtures on disk -> SubmissionSource ->
  * SubmissionRunner -> ErrorWriter -> read the emitted *_Errors.csv back
  * and pin exact rows (the reference's TEST_MODE shape, SURVEY §5).
  *
  * Each `validate` test runs on both sides of the execution-mode gate:
  * the sheets as read (stamped with their source size, so these small
  * fixtures validate without code generation) and the same sheets with
  * the stamp stripped (validated with code generation). Both sides must
  * give the same error set and the same reports.
  */
class GoldenSubmissionSpec extends AnyFunSuite {
  import SparkTestSession._

  private val sides = Seq("stamped", "stripped")

  private def onSide(side: String, sheets: Map[String, DataFrame]): Map[String, DataFrame] =
    if (side == "stamped") sheets else ExecModeSpec.stripped(sheets)

  /** Stamped sheets report their files' bytes and run interpreted;
    * stripped ones report no size and run compiled. */
  private def checkMode(side: String, dir: String, result: SubmissionRunner.Result): Unit =
    if (side == "stamped") {
      val bytes = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.toString.endsWith(".csv")).map(Files.size(_)).sum
      assert(result.sourceBytes.contains(bytes), result.sourceBytes)
      assert(result.interpreted)
    } else {
      assert(result.sourceBytes.isEmpty, result.sourceBytes)
      assert(!result.interpreted)
    }

  private type ErrorRow = (String, Long, String, String, String, String)

  private def errorSet(errors: DataFrame): Set[ErrorRow] =
    errors.collect().map(r =>
      (r.getAs[String]("CSV_Sheet_Name"), r.getAs[Long]("Row_Index"),
        r.getAs[String]("Column_Name"), r.getAs[String]("Column_Value"),
        r.getAs[String]("Message_Type"), r.getAs[String]("Error_Message"))).toSet

  /** Each report's part file: the header, then the data lines sorted
    * (rows that share a Row_Index may come in either order). */
  private def reports(outDir: String): Map[String, Seq[String]] =
    Files.list(Paths.get(outDir)).iterator().asScala.filter(Files.isDirectory(_))
      .map { report =>
        val part = Files.list(report).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        report.getFileName.toString -> lines(part)
      }.toMap

  private def lines(part: Path): Seq[String] = {
    val in = Files.newInputStream(part)
    val src = scala.io.Source.fromInputStream(
      if (part.toString.endsWith(".gz")) new GZIPInputStream(in) else in, "UTF-8")
    try { val all = src.getLines().toList; all.head +: all.tail.sorted }
    finally src.close()
  }

  private def writeFixtures(dir: String): Unit = {
    def put(name: String, content: String): Unit =
      Files.writeString(Paths.get(dir, name), content)
    // reference shape (FSO:87-89): counts live at body rows [1] and [2]
    put("submission.csv", Seq(
      "submission,cbc_awesome",
      "submitter,someone",
      "participants,2",
      "biospecimens,1").mkString("\n"))
    put("demographic.csv", Seq(
      "Research_Participant_ID,Age,Gender",
      "14_000001,30,Male",                 // clean
      "14_000002,250,Robot",               // age range + gender enum errors
      "14_000003,,Female",                 // missing Age (required)
      "99_000004,abc,Male").mkString("\n")) // wrong CBC + non-number age
    put("prior_clinical_test.csv", Seq(
      "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result",
      "14_000001,Positive",
      "14_000002,Negative",
      "14_000003,Positive").mkString("\n"))
  }

  /** The golden pass on one side of the gate: its error set and reports. */
  private def goldenPass(side: String): (Set[ErrorRow], Map[String, Seq[String]]) = {
    val dir = Files.createTempDirectory("graft-golden").toString
    writeFixtures(dir)
    val sheets = onSide(side, SubmissionSource.load(spark, dir))
    assert(sheets.keySet == Set("submission.csv", "demographic.csv",
      "prior_clinical_test.csv"))

    val meta = SubmissionSource.metadata(sheets("submission.csv")).get
    assert(meta.cbcName == "cbc_awesome")
    assert(meta.declaredParticipants.contains(2L))
    assert(meta.declaredBiospecimens.contains(1L))

    assert(SubmissionSource.qualityGate(sheets, 0, cbcKnown = true).isEmpty)
    assert(SubmissionSource.qualityGate(sheets, 3, cbcKnown = true).contains(
      "Errors were found in 3 column names, unable to Validate Submission"))

    val result = SubmissionRunner.validate(spark, sheets,
      SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12),
        declaredParticipants = meta.declaredParticipants))
    checkMode(side, dir, result)

    val got = errorSet(result.errors)

    val demographicExpected = Set(
      ("demographic.csv", 3L, "Age", "250.0", "Error",
        "Value must be an interger between 1 and 200, decimal values are not allowed"),
      ("demographic.csv", 3L, "Gender", "Robot", "Error",
        "Unexpected Value.  Value must be one of the following: ['Male', 'Female', 'Other', 'Not Reported', 'Unknown']"),
      ("demographic.csv", 4L, "Age", "", "Error",
        "Missing Values are not allowed for this column.  Please recheck data"),
      ("demographic.csv", 5L, "Age", "abc", "Error",
        "Value must be an interger between 1 and 200, decimal values are not allowed"),
      ("demographic.csv", 5L, "Research_Participant_ID", "99_000004", "Error",
        "ID is Valid however has wrong CBC code. Expecting CBC Code (14)"))
    demographicExpected.foreach(e => assert(got.contains(e), s"missing $e"))

    // declared-count reconciliation: 3 clean prior IDs + 3 demographic IDs
    // (99_000004 errored) => distinct passing != declared 2
    val recon = got.filter(_._3 == "submit_Participant_IDs")
    assert(recon.size == 1 && recon.head._2 == -5L)

    // error files round-trip
    val outDir = Files.createTempDirectory("graft-golden-out").toString
    val written = ErrorWriter.write(result.errors, outDir)
    assert(written.exists(_._1 == "demographic_Errors.csv"))
    val back = spark.read.option("header", "true")
      .csv(s"$outDir/demographic_Errors.csv")
    assert(back.count() == written.find(_._1 == "demographic_Errors.csv").get._2)

    // statuses
    val counts = StatusDerivation.severityCounts(result.errors)
    val statuses = StatusDerivation.derive(
      Seq("demographic.csv", "prior_clinical_test.csv", "submission.csv"), counts)
    assert(statuses.find(_.sheet == "demographic.csv").get.status ==
      "FILE_PROCESSED_ERRORS_FOUND")
    assert(statuses.forall(_.batchStatus == "FILE_VALIDATION_FAILURE"))

    // summary text
    val summary = SummaryFormatter.format("submission.zip", "42", "cbc14",
      Seq("demographic.csv", "prior_clinical_test.csv"), counts, "2026-08-12 00:00:00")
    assert(summary.isFailure)
    assert(summary.text.contains("*Validation fail:*"))
    assert(summary.text.contains("demographic.csv"))
    (got, reports(outDir))
  }

  test("golden submission: fixtures -> errors -> files -> statuses -> summary") {
    val Seq(stamped, stripped) = sides.map(goldenPass)
    assert(stamped._1 == stripped._1)
    assert(stamped._2 == stripped._2)
  }

  test("a submission validated without declared counts is pinned: " +
      "severityCounts runs no rule pipeline") {
    // without declared counts nothing forced the error set before; the
    // status rollup after the writer then re-ran scan -> rules -> dedup
    sides.foreach { side =>
      val dir = Files.createTempDirectory("graft-golden-pin").toString
      writeFixtures(dir)
      val sheets = onSide(side, SubmissionSource.load(spark, dir))
      val result = SubmissionRunner.validate(spark, sheets,
        SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12)))
      val (counts, jobs) = JobProbe.count(spark)(StatusDerivation.severityCounts(result.errors))
      assert(jobs <= 2, s"$side: severityCounts ran $jobs jobs")
      assert(counts.get(("demographic.csv", "Error")).exists(_ >= 5L), counts)
    }
  }

  test("S9: the Slack send path POSTs the summary to a loopback webhook " +
      "with the reference's routing, body shape, and content type") {
    // zero-egress closure of S9: a 127.0.0.1 HttpServer stands in for the
    // webhook, so the actual HTTP POST executes — routing (failure channel
    // unless zero errors), the {"type":"mrkdwn","text":...} body, and the
    // application/json header are all asserted on the wire.
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val received = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def handler(channel: String): HttpHandler = (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      received.add((channel, ex.getRequestHeaders.getFirst("Content-Type"), body))
      ex.sendResponseHeaders(200, -1)
      ex.close()
    }
    server.createContext("/success", handler("success"))
    server.createContext("/failure", handler("failure"))
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val fail = graft.app.SummaryFormatter.format("submission.zip", "42", "cbc14",
        Seq("demographic.csv"), Map(("demographic.csv", "Error") -> 3L),
        "2026-08-12 00:00:00")
      val clean = graft.app.SummaryFormatter.format("submission.zip", "43", "cbc14",
        Seq("demographic.csv"), Map.empty, "2026-08-12 00:00:00")
      assert(graft.app.SlackNotifier.postSummary(fail,
        s"$base/success", s"$base/failure") === 200)
      assert(graft.app.SlackNotifier.postSummary(clean,
        s"$base/success", s"$base/failure") === 200)
      val posts = received.toArray(Array.empty[(String, String, String)]).toSeq
      assert(posts.map(_._1) === Seq("failure", "success"))
      assert(posts.forall(_._2 == "application/json"))
      val failBody = posts.head._3
      assert(failBody.startsWith("""{"type": "mrkdwn", "text": """), failBody)
      assert(failBody.contains("*FAILURE") || failBody.contains("*Validation fail:*"), failBody)
      assert(failBody.contains("""\n"""), failBody) // newlines JSON-escaped
      assert(posts(1)._3.contains("Validation pass clean: (demographic.csv (0) )"),
        posts(1)._3)
    } finally server.stop(0)
  }

  /** The gzip pass on one side of the gate: its plain and gzip reports. */
  private def gzipPass(side: String): (Map[String, Seq[String]], Map[String, Seq[String]]) = {
    val dir = Files.createTempDirectory("graft-gzip").toString
    writeFixtures(dir)
    val sheets = onSide(side, SubmissionSource.load(spark, dir))
    val meta = SubmissionSource.metadata(sheets("submission.csv")).get
    val result = SubmissionRunner.validate(spark, sheets,
      SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12),
        declaredParticipants = meta.declaredParticipants))
    checkMode(side, dir, result)
    val errors = result.errors
    val plainDir = Files.createTempDirectory("graft-plain-out").toString
    val gzipDir = Files.createTempDirectory("graft-gzip-out").toString
    val plain = ErrorWriter.write(errors, plainDir)
    val gzipped = ErrorWriter.write(errors, gzipDir, gzip = true)
    assert(gzipped == plain)
    assert(plain.map(_._1).toSet ==
      Set("demographic_Errors.csv", "submission_Errors.csv"), plain)
    def rows(path: String): Seq[String] =
      spark.read.option("header", "true").csv(path).collect()
        .map(_.mkString("|")).toSeq.sorted
    plain.foreach { case (file, n) =>
      val parts = Files.list(Paths.get(gzipDir, file)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
        .filter(_.startsWith("part-"))
      assert(parts.nonEmpty && parts.forall(_.endsWith(".csv.gz")), parts)
      val back = rows(s"$gzipDir/$file")
      assert(back.size == n, file)
      assert(back == rows(s"$plainDir/$file"), file)
    }
    (reports(plainDir), reports(gzipDir))
  }

  test("S4: the gzip error sink writes .csv.gz parts that read back as the plain write") {
    val Seq(stamped, stripped) = sides.map(gzipPass)
    assert(stamped == stripped)
    assert(stamped._1 == stamped._2)
  }

  /** The full-family pass on one side of the gate: its error set and reports. */
  private def fullFamilyPass(side: String): (Set[ErrorRow], Map[String, Seq[String]]) = {
    val dir = Files.createTempDirectory("graft-golden-full").toString
    def put(name: String, content: String): Unit =
      Files.writeString(Paths.get(dir, name), content)
    put("prior_clinical_test.csv", Seq(
      "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result",
      "14_000001,Positive",
      "14_000002,Negative").mkString("\n"))
    put("demographic.csv", Seq(
      "Research_Participant_ID,Age",
      "14_000001,40",
      "14_000002,41").mkString("\n"))
    put("biospecimen.csv", Seq(
      "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type,Total_Cells_Hemocytometer_Count,Live_Cells_Hemocytometer_Count,Viability_Hemocytometer_Count",
      "14_000001,14_000001_001,PBMC,100,50,50",      // viability ok
      "14_000001,14_000001_002,PBMC,100,120,90",     // live>total + viability wrong
      "14_000002,14_000002_001,Serum,,,").mkString("\n"))   // counts blank, Serum gated out
    put("aliquot.csv", Seq(
      "Aliquot_ID,Biospecimen_ID,Aliquot_Volume",
      "14_000001_001_01,14_000001_001,5.5",
      "14_000001_001_01,14_000001_001,bad").mkString("\n")) // dup aliquot id + bad volume
    put("equipment.csv", Seq(
      "Equipment_ID,Biospecimen_ID,Equipment_Type",
      "EQ1,14_000001_001,Refrigerator").mkString("\n"))
    put("reagent.csv", "Reagent_Name,Biospecimen_ID\n")
    put("consumable.csv", "Consumable_Name,Biospecimen_ID\n")
    put("assay.csv", Seq(
      "Assay_ID,Assay_Name,EUA_Status",
      "14_001,Test Assay,Approved",
      "14_002,Other Assay,Nonsense").mkString("\n"))  // enum violation

    val sheets = onSide(side, SubmissionSource.load(spark, dir))
    val result = SubmissionRunner.validate(spark, sheets,
      SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12)))
    checkMode(side, dir, result)
    val got = errorSet(result.errors)

    // cross-column checks on the PBMC row (rendered converted values)
    assert(got.contains(("biospecimen.csv", 3L, "Total_Cells_Hemocytometer_Count",
      "100.0", "Error", "Live Cell Count must be less than Total Cell Count")))
    assert(got.contains(("biospecimen.csv", 3L, "Viability_Hemocytometer_Count",
      "90.0", "Error", "Viability Count must be equal to (Live_Count / Total_Count) * 100")))
    // Serum row: PBMC-gated count rules silent; missing-value checks fire
    assert(got.contains(("biospecimen.csv", 4L, "Total_Cells_Hemocytometer_Count",
      "", "Error", "Missing Values are not allowed for this column.  Please recheck data")))
    // aliquot: duplicate ID at sentinel row + gated number error
    assert(got.contains(("aliquot.csv", -3L, "Aliquot_ID", "14_000001_001_01",
      "Error", "Id is repeated 2 times, Multiple repeats are not allowed")))
    assert(got.exists(e => e._1 == "aliquot.csv" && e._3 == "Aliquot_Volume" &&
      e._4 == "bad"))
    // assay enum violation
    assert(got.contains(("assay.csv", 3L, "EUA_Status", "Nonsense", "Error",
      "Unexpected Value.  Value must be one of the following: ['Approved', 'Submitted', 'Not Submitted', 'N/A']")))
    // cross-sheet bio: PBMC bio id 14_000001_002 has no aliquot
    assert(got.exists(e => e._1 == "Cross_Biospecimen_ID.csv" &&
      e._4 == "14_000001_002" &&
      e._6 == "ID is found in Biospecimen.csv, however is missing from Aliquot.csv"))
    // participant 14_000001/2 present in prior+demo+bio -> no participant cross error
    assert(!got.exists(e => e._1 == "Cross_Participant_ID.csv"))
    val outDir = Files.createTempDirectory("graft-golden-full-out").toString
    ErrorWriter.write(result.errors, outDir)
    (got, reports(outDir))
  }

  test("full-family golden submission: gated rules, context merges, bio cross-sheet") {
    val Seq(stamped, stripped) = sides.map(fullFamilyPass)
    assert(stamped._1 == stripped._1)
    assert(stamped._2 == stripped._2)
  }

  test("unnamed columns are dropped and '' survives ingest") {
    val dir = Files.createTempDirectory("graft-reader").toString
    Files.writeString(Paths.get(dir, "t.csv"),
      "A,B,,C\n1,,x,\n,2,y,z\n")
    val df = graft.io.SheetReader.read(spark, s"$dir/t.csv")
    assert(df.columns.toSet == Set("A", "B", "C", "Row_Index"))
    val rows = df.orderBy("Row_Index").collect()
    assert(rows(0).getAs[String]("B") == "")   // empty cell -> '', not null
    assert(rows(0).getAs[Long]("Row_Index") == 2L)
    assert(rows(1).getAs[String]("A") == "")
  }
}
