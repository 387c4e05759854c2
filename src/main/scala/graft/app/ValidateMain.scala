package graft.app

import org.apache.spark.sql.SparkSession
import java.time.{LocalDate, LocalDateTime}

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
          case v: BatchRunner.Validated =>
            println(s"${v.submission}: VALIDATED, ${v.errorFiles.map(_._2).sum} errors " +
              s"in ${v.errorFiles.size} files" +
              (if (v.summary.isFailure) " (failure channel)" else ""))
          case BatchRunner.Rejected(s, reason) => println(s"$s: REJECTED: $reason")
          case BatchRunner.Failed(s, err) => println(s"$s: FAILED: $err")
        }
        return
      }
      BatchRunner.submission(spark, dir, dir.split('/').last, outDir, cbcId,
        LocalDate.now(), LocalDateTime.now().toString) match {
        case v: BatchRunner.Validated =>
          println(s"source ${v.sourceBytes.fold("size unknown")(b => s"$b bytes")}, " +
            s"validated ${if (v.interpreted) "interpreted" else "with code generation"}")
          v.errorFiles.foreach { case (f, n) => println(s"$f has $n Errors") }
          v.statuses.foreach { st =>
            println(f"${st.sheet}%-28s ${st.status}%-36s ${st.batchStatus}")
          }
          println("---- summary " +
            (if (v.summary.isFailure) "(FAILURE channel)" else "(success channel)"))
          println(v.summary.text)
        case BatchRunner.Rejected(_, reason) => println(s"SUBMISSION REJECTED: $reason")
        case BatchRunner.Failed(_, err) => println(s"FAILED: $err")
      }
    } finally spark.stop()
  }
}
