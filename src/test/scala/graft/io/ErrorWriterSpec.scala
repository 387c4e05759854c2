package graft.io

import graft.JobProbe
import graft.core.ValidationError
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream
import scala.jdk.CollectionConverters._

/** The error-report sink's contract: one header-carrying part file per
  * sheet in Row_Index order, counts equal to the data lines, escaped sheet
  * names, replace-by-name over an existing `outDir`, a job count that does
  * not grow with the sheets, and nothing left behind when a write fails.
  */
class ErrorWriterSpec extends AnyFunSuite {
  import graft.SparkTestSession._

  private val schema = StructType(ValidationError.columns.map(c =>
    StructField(c, if (c == "Row_Index") LongType else StringType)))

  /** `perSheet` rows for each sheet, Row_Index descending in the input so
    * the report's order has to come from the writer's sort. */
  private def errorRows(sheets: Seq[String], perSheet: Int): Seq[Row] =
    for {
      (sheet, s) <- sheets.zipWithIndex
      i <- (perSheet - 1) to 0 by -1
    } yield Row("Error", sheet, (i * 3 + 2).toLong, s"col$s", s"v$i", s"bad value $i")

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft-errwriter-$tag").toString

  /** Report directory entries, without the local file system's `.crc`s. */
  private def entries(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filterNot(_.endsWith(".crc")).toSeq.sorted

  private def lines(part: Path): Seq[String] = {
    val in = Files.newInputStream(part)
    val src = scala.io.Source.fromInputStream(
      if (part.toString.endsWith(".gz")) new GZIPInputStream(in) else in, "UTF-8")
    try src.getLines().toList finally src.close()
  }

  private def csvLine(r: Row): String = r.toSeq.mkString(",")

  /** Asserts every report's layout, header, rows and count. */
  private def checkReports(outDir: String, rows: Seq[Row],
      written: Seq[(String, Long)], gzip: Boolean = false): Unit = {
    val bySheet = rows.groupBy(_.getString(1))
    assert(written.map(_._1) ==
      bySheet.keys.toSeq.sorted.map(_.replace(".csv", "_Errors.csv")))
    written.zip(bySheet.keys.toSeq.sorted).foreach { case ((file, n), sheet) =>
      val dir = Paths.get(outDir, file)
      val names = entries(dir)
      val parts = names.filter(_.startsWith("part-"))
      assert(parts.size == 1 && names.toSet == Set(parts.head, "_SUCCESS"), names)
      assert(parts.head.endsWith(if (gzip) ".csv.gz" else ".csv"), parts)
      val got = lines(dir.resolve(parts.head))
      assert(got.head == ValidationError.columns.mkString(","), file)
      assert(got.tail == bySheet(sheet).sortBy(_.getLong(2)).map(csvLine), file)
      assert(n == got.size - 1, file)
    }
  }

  test("3 and 12 sheets run the same number of jobs, one part file each") {
    val jobCounts = Seq(3, 12).map { k =>
      val sheets = (0 until k).map(i => f"sheet_$i%02d.csv")
      val rows = errorRows(sheets, perSheet = 5)
      val out = tmp(s"jobs$k")
      val (written, jobs) = JobProbe.count(spark)(ErrorWriter.write(frame(rows), out))
      checkReports(out, rows, written)
      jobs
    }
    assert(jobCounts.distinct.size == 1, s"jobs by sheet count 3, 12: $jobCounts")
    assert(jobCounts.head <= 8, s"ErrorWriter ran ${jobCounts.head} jobs")
  }

  test("a sheet name that needs path escaping round-trips") {
    val rows = errorRows(Seq("lab results=v2.csv", "b%c:d.csv", "plain.csv"), perSheet = 4)
    val out = tmp("escape")
    val written = ErrorWriter.write(frame(rows), out)
    assert(written.map(_._1).contains("lab results=v2_Errors.csv"), written)
    checkReports(out, rows, written)
  }

  test("gzip writes one .csv.gz part per sheet") {
    val rows = errorRows(Seq("x.csv", "y.csv"), perSheet = 6)
    val out = tmp("gzip")
    checkReports(out, rows, ErrorWriter.write(frame(rows), out, gzip = true), gzip = true)
  }

  test("an empty error frame writes nothing") {
    val out = tmp("empty")
    assert(ErrorWriter.write(frame(Nil), out).isEmpty)
    assert(entries(Paths.get(out)).isEmpty)
  }

  test("a second write replaces a stale report and leaves other files alone") {
    val out = tmp("replace")
    val stale = Paths.get(out, "x_Errors.csv")
    Files.createDirectories(stale)
    Files.writeString(stale.resolve("part-00000-stale.csv"), "old\n")
    Files.writeString(Paths.get(out, "notes.txt"), "keep me")
    val first = errorRows(Seq("x.csv", "y.csv"), perSheet = 3)
    ErrorWriter.write(frame(first), out)
    val second = errorRows(Seq("x.csv"), perSheet = 7)
    val written = ErrorWriter.write(frame(second), out)
    checkReports(out, second, written)
    assert(Files.readString(Paths.get(out, "notes.txt")) == "keep me")
    // y's report is not part of the second write, so it stays as written
    assert(entries(Paths.get(out)) == Seq("notes.txt", "x_Errors.csv", "y_Errors.csv"))
  }

  test("a pinned frame writes byte-identical reports in one job fewer") {
    val rows = errorRows(Seq("x.csv", "y.csv", "z.csv"), perSheet = 5)
    def reportBytes(out: String, written: Seq[(String, Long)]): Map[String, Seq[Byte]] =
      written.map { case (file, _) =>
        val part = Files.list(Paths.get(out, file)).iterator().asScala
          .find(_.getFileName.toString.startsWith("part-")).get
        file -> Files.readAllBytes(part).toSeq
      }.toMap
    val (lazyOut, pinnedOut) = (tmp("lazy"), tmp("pinned"))
    val (lazyWritten, lazyJobs) = JobProbe.count(spark)(ErrorWriter.write(frame(rows), lazyOut))
    val pinned = frame(rows).localCheckpoint()
    val (pinnedWritten, pinnedJobs) = JobProbe.count(spark)(ErrorWriter.write(pinned, pinnedOut))
    checkReports(pinnedOut, rows, pinnedWritten)
    assert(pinnedWritten == lazyWritten)
    assert(reportBytes(pinnedOut, pinnedWritten) == reportBytes(lazyOut, lazyWritten))
    assert(pinnedJobs == lazyJobs - 1, s"jobs: lazy $lazyJobs, pinned $pinnedJobs")
  }

  /** Writes a good report, then runs `failing`; asserts the failure's cause
    * chain reaches `message`, the old report is byte-identical and no
    * staging directory is left. */
  private def assertFailureLeavesNothing(tag: String, message: String)(
      failing: String => Unit): Unit = {
    val out = tmp(tag)
    ErrorWriter.write(frame(errorRows(Seq("x.csv"), perSheet = 3)), out)
    val report = Paths.get(out, "x_Errors.csv")
    def snapshot(): Map[String, Seq[Byte]] =
      Files.list(report).iterator().asScala.map(p =>
        p.getFileName.toString -> Files.readAllBytes(p).toSeq).toMap
    val before = snapshot()
    val e = intercept[Exception](failing(out))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage)).toList
    assert(chain.exists(_.contains(message)), chain)
    assert(snapshot() == before)
    assert(entries(Paths.get(out)) == Seq("x_Errors.csv"))
  }

  test("a failing error frame leaves an earlier report as it was") {
    assertFailureLeavesNothing("raise", "planted row failure") { out =>
      val rows = errorRows(Seq("x.csv", "z.csv"), perSheet = 4)
      val failing = frame(rows).withColumn("Error_Message",
        when(col("Row_Index") === 5L && col("CSV_Sheet_Name") === "z.csv",
          raise_error(lit("planted row failure"))).otherwise(col("Error_Message")))
      ErrorWriter.write(failing, out)
    }
  }

  test("a failing write job removes its staging directory") {
    val key = "spark.sql.sources.commitProtocolClass"
    assertFailureLeavesNothing("commit", FailingCommitProtocol.Message) { out =>
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, classOf[FailingCommitProtocol].getName)
      try ErrorWriter.write(frame(errorRows(Seq("x.csv", "z.csv"), perSheet = 4)), out)
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }
}

/** A commit protocol whose job commit fails after every task committed, so
  * the staging directory holds written files when the write throws. */
class FailingCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    throw new java.io.IOException(FailingCommitProtocol.Message)
}

object FailingCommitProtocol {
  val Message = "planted job commit failure"
}
