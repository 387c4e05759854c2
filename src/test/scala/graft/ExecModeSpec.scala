package graft

import graft.app.{StatusDerivation, SubmissionRunner}
import graft.core.ExecMode
import graft.io.{ErrorWriter, SubmissionSource}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.Metadata
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.time.LocalDate

/** Tripwire for the execution-mode gate. `spark.sql.codegen.factoryMode`
  * is an internal Spark conf, so a Spark upgrade could stop honouring it
  * without any other test noticing: the interpreted side must keep
  * compiling far less than the compiled side, and the gate must hand the
  * caller's configuration back as it found it.
  */
class ExecModeSpec extends AnyFunSuite {
  import ExecModeSpec.stripped
  import SparkTestSession._

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  /** A small submission with rule, merge, duplicate and cross-sheet work. */
  private def submission(): String = {
    val dir = Files.createTempDirectory("graft-execmode").toString
    def put(name: String, lines: String*): Unit =
      Files.writeString(Paths.get(dir, name), lines.mkString("\n"))
    put("submission.csv", "submission,cbc_awesome", "submitter,someone",
      "participants,2", "biospecimens,1")
    put("demographic.csv", "Research_Participant_ID,Age,Gender",
      "14_000001,30,Male", "14_000002,250,Robot", "14_000003,,Female",
      "99_000004,abc,Male")
    put("prior_clinical_test.csv", "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result",
      "14_000001,Positive", "14_000002,Negative", "14_000003,Positive")
    put("biospecimen.csv",
      "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type,Total_Cells_Hemocytometer_Count,Live_Cells_Hemocytometer_Count,Viability_Hemocytometer_Count",
      "14_000001,14_000001_001,PBMC,100,50,50", "14_000001,14_000001_002,PBMC,100,120,90",
      "14_000002,14_000002_001,Serum,,,")
    put("aliquot.csv", "Aliquot_ID,Biospecimen_ID,Aliquot_Volume",
      "14_000001_001_01,14_000001_001,5.5", "14_000001_001_01,14_000001_001,bad")
    dir
  }

  /** The three gated entry points, as a caller runs them. */
  private def pass(sheets: Map[String, DataFrame]): SubmissionRunner.Result = {
    val result = SubmissionRunner.validate(spark, sheets,
      SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12),
        declaredParticipants = Some(2L)))
    ErrorWriter.write(result.errors, Files.createTempDirectory("graft-execmode-out").toString)
    StatusDerivation.severityCounts(result.errors)
    result
  }

  /** Janino compiles `block` causes, counted from an empty class cache (a
    * class compiled earlier in this JVM would otherwise be a cache hit). */
  private def compiles[T](block: => T): (T, Long) = {
    val gen = Class.forName(
      "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    val field = gen.getDeclaredField("cache")
    field.setAccessible(true)
    val cache = field.get(gen.getField("MODULE$").get(null))
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = block
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** The final physical plans of the SQL executions `block` runs. */
  private def plans(block: => Unit): Seq[String] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sentinel = s"execmode_sentinel_${java.util.UUID.randomUUID().toString.take(8)}"
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.treeString.split("== Initial Plan ==").head)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      block
      // listener events arrive in order: once the sentinel's has, every
      // execution of the block has been seen
      spark.range(1).select(lit(1).as(sentinel)).collect()
      val deadline = System.currentTimeMillis() + 30000
      def done = seen.toArray.exists(_.toString.contains(sentinel))
      while (!done && System.currentTimeMillis() < deadline) Thread.sleep(25)
      assert(done, "the sentinel execution was not reported")
    } finally spark.listenerManager.unregister(listener)
    seen.toArray.map(_.toString).filterNot(_.contains(sentinel)).toSeq
  }

  private def wholeStageStages(plans: Seq[String]): Int =
    plans.map(p => """\*\(\d+\) """.r.findAllIn(p).size).sum

  /** Explicitly set values of the two confs (None = unset). */
  private def confs(s: SparkSession): Seq[Option[String]] =
    Seq(WholeStage, FactoryMode).map(s.conf.getAll.get)

  private def withCallerConfs[T](values: (String, String)*)(body: => T): T = {
    values.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally Seq(WholeStage, FactoryMode).foreach(spark.conf.unset)
  }

  test("the interpreted side compiles at most a third of the compiled side's classes") {
    val sheets = SubmissionSource.load(spark, submission())
    assert(ExecMode.sourceBytes(sheets.values).exists(_ <= ExecMode.InterpretedMaxBytes))
    val (interp, interpCompiles) = compiles(pass(sheets))
    val (compiled, compiledCompiles) = compiles(pass(stripped(sheets)))
    assert(interp.interpreted && !compiled.interpreted)
    assert(compiledCompiles > 0)
    assert(interpCompiles * 3 <= compiledCompiles,
      s"Janino compiles: interpreted $interpCompiles, compiled $compiledCompiles")
    info(s"Janino compiles: interpreted $interpCompiles, compiled $compiledCompiles")
  }

  test("the interpreted side plans no whole-stage stage; the compiled side does") {
    val sheets = SubmissionSource.load(spark, submission())
    assert(wholeStageStages(plans(pass(sheets))) == 0)
    assert(wholeStageStages(plans(pass(stripped(sheets)))) > 0)
  }

  test("the caller's confs, unset or set, are as they were after each entry point") {
    val sheets = SubmissionSource.load(spark, submission())
    for (callerValues <- Seq(Nil, Seq(WholeStage -> "true", FactoryMode -> "FALLBACK"))) {
      withCallerConfs(callerValues: _*) {
        val before = confs(spark)
        val result = SubmissionRunner.validate(spark, sheets,
          SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12)))
        assert(result.interpreted)
        assert(confs(spark) == before, "after validate")
        ErrorWriter.write(result.errors, Files.createTempDirectory("graft-execmode").toString)
        assert(confs(spark) == before, "after ErrorWriter.write")
        StatusDerivation.severityCounts(result.errors)
        assert(confs(spark) == before, "after severityCounts")
      }
    }
  }

  test("the caller's confs are as they were after an entry point throws") {
    val sheets = SubmissionSource.load(spark, submission())
    val errors = SubmissionRunner.validate(spark, sheets,
      SubmissionRunner.Config(cbcId = 14, asOf = LocalDate.of(2026, 8, 12))).errors
    // in a column both the writer and the severity counts read
    val failing = ExecMode.stamp(errors.withColumn("Message_Type",
      when(col("Row_Index") === 3L, raise_error(lit("planted row failure")))
        .otherwise(col("Message_Type"))), 100L)
    for (callerValues <- Seq(Nil, Seq(WholeStage -> "true", FactoryMode -> "FALLBACK"))) {
      withCallerConfs(callerValues: _*) {
        val before = confs(spark)
        intercept[Exception](ErrorWriter.write(failing,
          Files.createTempDirectory("graft-execmode").toString))
        assert(confs(spark) == before, "after ErrorWriter.write threw")
        intercept[Exception](StatusDerivation.severityCounts(failing))
        assert(confs(spark) == before, "after severityCounts threw")
      }
    }
  }

  test("a caller who turned whole-stage codegen off keeps it off on the compiled side") {
    val sheets = stripped(SubmissionSource.load(spark, submission()))
    withCallerConfs(WholeStage -> "false") {
      val seen = plans {
        val result = pass(sheets)
        assert(!result.interpreted)
      }
      assert(seen.nonEmpty)
      assert(wholeStageStages(seen) == 0, seen.mkString("\n"))
      assert(confs(spark) == Seq(Some("false"), None))
    }
  }

  test("unstamped frames report no size; a sheet set is stamped only if every sheet is") {
    val sheets = SubmissionSource.load(spark, submission())
    assert(sheets.values.forall(ExecMode.sourceBytes(_).exists(_ > 0)))
    val fromRows = graft.io.SheetReader.fromRows(spark, Seq("a"), Seq(Seq("x")))
    assert(ExecMode.sourceBytes(fromRows).isEmpty)
    assert(ExecMode.sourceBytes(sheets.values.toSeq :+ fromRows).isEmpty)
    assert(!ExecMode.interpreted(None))
    assert(!ExecMode.interpreted(Some(ExecMode.InterpretedMaxBytes + 1)))
    assert(ExecMode.sourceBytes(ExecMode.stamp(fromRows, 7L)).contains(7L))
  }

  test("read and readMany stamp the bytes of the files they read") {
    val dir = submission()
    val paths = Seq("demographic.csv", "prior_clinical_test.csv").map(Paths.get(dir, _))
    val one = graft.io.SheetReader.read(spark, paths.head.toString)
    assert(ExecMode.sourceBytes(one).contains(Files.size(paths.head)))
    val many = graft.io.SheetReader.readMany(spark, paths.map(_.toString)).get
    assert(ExecMode.sourceBytes(many).contains(paths.map(Files.size(_)).sum))
  }
}

object ExecModeSpec {
  /** The sheets without their source-size stamp: validated compiled. */
  def stripped(sheets: Map[String, DataFrame]): Map[String, DataFrame] =
    sheets.map { case (n, df) => n -> df.withMetadata("Row_Index", Metadata.empty) }
}
