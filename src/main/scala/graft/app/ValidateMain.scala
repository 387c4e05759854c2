package graft.app

import graft.io.{ErrorWriter, SubmissionSource}
import org.apache.spark.sql.SparkSession
import java.time.LocalDate

/** TEST_MODE-style CLI (reference entry point 2, SURVEY §3.2): validate one
  * submission directory of CSVs and write `*_Errors.csv` + a console
  * summary, with no jobs-DB writes.
  *
  * Usage: ValidateMain <submissionDir> <outDir> [cbcId]
  */
object ValidateMain {
  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, rest @ _*) = args: @unchecked
    val cbcId = rest.headOption.map(_.toInt).getOrElse(14)
    // not EngineConf.session: perfbench's submission workload copies this
    // session, so it must stay the configuration production runs
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .appName("graft-validate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // comma-separated dirs => batch mode (lambda_handler outer loop)
      if (dir.contains(",")) {
        BatchRunner.run(spark, dir.split(',').toSeq, outDir, cbcId,
          LocalDate.now()).foreach {
          case BatchRunner.Validated(s, files, _, summary) =>
            println(s"$s: VALIDATED, ${files.map(_._2).sum} errors in ${files.size} files" +
              (if (summary.isFailure) " (failure channel)" else ""))
          case BatchRunner.Rejected(s, reason) => println(s"$s: REJECTED: $reason")
          case BatchRunner.Failed(s, err) => println(s"$s: FAILED: $err")
        }
        return
      }
      val sheets = SubmissionSource.load(spark, dir)
      if (sheets.isEmpty) { println(s"no sheets found under $dir"); return }
      val meta = sheets.get("submission.csv").flatMap(SubmissionSource.metadata)
      SubmissionSource.qualityGate(sheets, 0, cbcKnown = true) match {
        case Some(reason) => println(s"SUBMISSION REJECTED: $reason"); return
        case None =>
      }
      val result = SubmissionRunner.validate(spark, sheets, SubmissionRunner.Config(
        cbcId = cbcId,
        asOf = LocalDate.now(),
        declaredParticipants = meta.flatMap(_.declaredParticipants),
        declaredBiospecimens = meta.flatMap(_.declaredBiospecimens)))
      println(s"source ${result.sourceBytes.fold("size unknown")(b => s"$b bytes")}, " +
        s"validated ${if (result.interpreted) "interpreted" else "with code generation"}")
      val written = ErrorWriter.write(result.errors, outDir)
      written.foreach { case (f, n) => println(s"$f has $n Errors") }
      val counts = StatusDerivation.severityCounts(result.errors)
      StatusDerivation.derive(sheets.keys.toSeq.sorted, counts).foreach { st =>
        println(f"${st.sheet}%-28s ${st.status}%-36s ${st.batchStatus}")
      }
      val summary = SummaryFormatter.format(
        dir.split('/').last, "0", cbcId.toString,
        sheets.keys.toSeq.sorted, counts,
        java.time.LocalDateTime.now().toString)
      println("---- summary " + (if (summary.isFailure) "(FAILURE channel)" else "(success channel)"))
      println(summary.text)
    } finally spark.stop()
  }
}
