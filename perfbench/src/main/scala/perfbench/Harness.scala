package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.QueryRegistry
import graft.app.{StatusDerivation, SubmissionRunner}
import graft.dispatch.{CrossSheet, MergeTables, SheetCatalog}
import graft.io.{ErrorWriter, IcdCatalog, SubmissionSource}
import graft.rules.RuleEvaluator
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable

/** The benchmark's JVM side. It calls only public entry points of the
  * program and writes raw measurements as one JSON file; `run.py` turns
  * them into metrics and checks the outputs.
  *
  *   Harness submission <csvDir> <outDir> <seconds> <trace> <cpus> <cbcId> <asOf> <result.json>
  *   Harness sweep <sfDir> <queryList> <seconds> <trace> <cpus> <result.json>
  *
  * A run is: set-up (JVM start, session, warm-up), then passes in a
  * closed loop, the first in the fresh session, until `seconds` have
  * passed since the first began.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val out = args(0) match {
      case "submission" =>
        val Array(_, dir, outDir, secs, trace, cpus, cbc, asOf, _) = args
        runSubmission(dir, outDir, secs.toDouble, trace == "1", cpus,
          cbc.toInt, LocalDate.parse(asOf))
      case "sweep" =>
        val Array(_, sfDir, list, secs, trace, cpus, _) = args
        val names = new String(Files.readAllBytes(Paths.get(list)), "UTF-8")
          .split("\n").map(_.trim).filter(_.nonEmpty).toSeq
        runSweep(sfDir, names, secs.toDouble, trace == "1", cpus)
    }
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(Paths.get(args.last).toFile, out)
    sys.exit(0)
  }

  /** The session each workload's production entry point builds. */
  private def session(workload: String, cpus: String): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // graft.Bench's session for the query sweep; graft.app.ValidateMain's
    // for submissions
    val s = (if (workload == "sweep") b
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", graft.EngineConf.MaxPartitionBytes)
      .config("spark.sql.cteRecursionRowLimit", graft.EngineConf.CteRecursionRowLimit)
      else b).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def warmUp(spark: SparkSession): Unit =
    spark.range(1000).selectExpr("sum(id)").collect()

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Set-up: JVM start to the end of the warm-up in a fresh session. */
  private def setup(workload: String, cpus: String): (SparkSession, Double) = {
    val spark = session(workload, cpus)
    warmUp(spark)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  /** Used heap after a full collection. Spark's ContextCleaner releases
    * blocks asynchronously after a GC, so the least of three readings is
    * taken. */
  private def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(300)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min

  /** Pass 0 in the fresh session, then more passes until `seconds` have
    * passed since it began. Returns the loop's CPU seconds by thread kind. */
  private def closedLoop(seconds: Double)(pass: Int => Unit): Map[String, Double] = {
    val before = ThreadCpu.snapshot()
    val cpu0 = Span.processCpuNs()
    val t0 = System.nanoTime()
    pass(0)
    var i = 1
    while (since(t0) < seconds) { pass(i); i += 1 }
    ThreadCpu.between(before, ThreadCpu.snapshot(), (Span.processCpuNs() - cpu0) / 1e9)
  }

  /** How every run ends: listeners off, live heap, and the spans with
    * their counters. */
  private def finish(rec: Recorder, setupS: Double): Map[String, Any] = {
    rec.detach()
    val heap = liveHeapMb()
    val t0 = rec.spans.headOption.map(_.startNs).getOrElse(0L)
    val totals = rec.totals()
    Map("setup_s" -> setupS, "live_heap_mb" -> heap,
      "spans" -> rec.spans.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "dur_s" -> s.seconds, "cpu_s" -> s.cpuSeconds, "counts" -> totals(s.id))))
  }

  // ---------------------------------------------------------------- submission

  private def runSubmission(dir: String, outDir: String, seconds: Double,
      traced: Boolean, cpus: String, cbcId: Int, asOf: LocalDate): Map[String, Any] = {
    val (spark, setupS) = setup("submission", cpus)
    val rec = new Recorder(traced)
    rec.attach(spark)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def pass(i: Int): Unit = rec.span("pass") {
      val passDir = s"$outDir/pass$i"
      val (sheets, meta) = rec.span("io.load") {
        val sheets = SubmissionSource.load(spark, dir)
        val meta = sheets.get("submission.csv").flatMap(SubmissionSource.metadata)
        val gate = SubmissionSource.qualityGate(sheets, 0, cbcKnown = true)
        require(gate.isEmpty, s"submission rejected: $gate")
        (sheets, meta)
      }
      val result = rec.span("app.validate") {
        SubmissionRunner.validate(spark, sheets, SubmissionRunner.Config(
          cbcId = cbcId, asOf = asOf,
          declaredParticipants = meta.flatMap(_.declaredParticipants),
          declaredBiospecimens = meta.flatMap(_.declaredBiospecimens)))
      }
      val written = rec.span("io.write") { ErrorWriter.write(result.errors, passDir) }
      val (counts, statuses) = rec.span("app.status") {
        val counts = StatusDerivation.severityCounts(result.errors)
        (counts, StatusDerivation.derive(sheets.keys.toSeq.sorted, counts))
      }
      passes += Map(
        "dir" -> passDir,
        "written" -> written.map { case (f, n) => f -> n }.toMap,
        "severity" -> counts.map { case ((sh, t), n) => s"$sh|$t" -> n },
        "status" -> statuses.map(st => Seq(st.sheet, st.status, st.batchStatus)))
    }

    val cpuByThread = closedLoop(seconds)(pass)
    if (traced) dispatchLayers(spark, rec, dir, cbcId, asOf)
    finish(rec, setupS) ++ Map("passes" -> passes.toSeq, "cpu_by_thread_s" -> cpuByThread)
  }

  /** Traced runs only: the validator's inner layers, each executed to a
    * `noop` sink so its cost is measured apart from the others.
    */
  private def dispatchLayers(spark: SparkSession, rec: Recorder, dir: String,
      cbcId: Int, asOf: LocalDate): Unit = rec.span("dispatch") {
    def run(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val sheets = SubmissionSource.load(spark, dir)
    val icd = IcdCatalog.existsFn(spark)
    val checked = sheets.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => SubmissionRunner.skippedSheets.contains(n) }
    val plans = rec.span("dispatch.merge_plan") {
      checked.map { case (name, df) =>
        val (merged, dropList) = MergeTables.merge(name, df, sheets)
        val plan = SheetCatalog.plan(name, merged.columns.filterNot(_ == "Row_Index").toSeq,
          dropList, cbcId, asOf, icd)
        run(merged)
        (name, merged, plan)
      }
    }
    rec.span("rules.eval") {
      plans.foreach { case (name, merged, plan) =>
        run(RuleEvaluator.evaluate(name, merged, plan.rowRules))
        plan.dupIdColumns.foreach(c => run(RuleEvaluator.dupIds(name, merged, c, 0L)))
      }
    }
    rec.span("dispatch.cross_sheet") {
      val slices: String => Option[DataFrame] = n => MergeTables.slice(sheets, n)
      CrossSheet.allPartIds(slices).foreach(m =>
        run(CrossSheet.crossSheetParticipant(m, cbcId, 0L)))
      CrossSheet.allBioIds(slices).foreach(m =>
        run(CrossSheet.crossSheetBiospecimen(m, cbcId, 0L)))
    }
  }

  // --------------------------------------------------------------------- sweep

  /** The registry module a query is defined in, from its function's class. */
  private def moduleOf(fn: AnyRef): String =
    fn.getClass.getName.split('.').last.takeWhile(_ != '$')

  private def runSweep(sfDir: String, names: Seq[String], seconds: Double,
      traced: Boolean, cpus: String): Map[String, Any] = {
    val registry = QueryRegistry.all.map(q => q.name -> q).toMap
    val missing = names.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val (spark, setupS) = setup("sweep", cpus)
    val rec = new Recorder(traced)
    rec.attach(spark)
    val results = mutable.ArrayBuffer.empty[Map[String, Any]]

    def pass(i: Int): Unit = rec.span("pass") {
      names.foreach { name =>
        val q = registry(name)
        var count = -1L
        var error = ""
        rec.span(s"q:$name") {
          try {
            val df = rec.span("build")(q.fn(spark, sfDir))
            count = rec.span("exec")(df.count())
          } catch {
            case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          }
        }
        results += Map("pass" -> i, "name" -> name, "count" -> count, "error" -> error)
      }
    }

    val cpuByThread = closedLoop(seconds)(pass)
    finish(rec, setupS) ++ Map(
      "cpu_by_thread_s" -> cpuByThread,
      "results" -> results.toSeq,
      "queries" -> names.map { n =>
        val q = registry(n)
        Map("name" -> n, "module" -> moduleOf(q.fn), "oracle" -> q.oracle.orNull)
      })
  }
}
