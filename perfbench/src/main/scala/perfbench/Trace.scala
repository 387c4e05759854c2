package perfbench

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** One span: a named interval around a call into the program, with the
  * span that enclosed it. Counters are the span's SELF counts (work done
  * while it was the innermost open span); parents sum their children at
  * report time. Besides wall time a span records the CPU time the whole
  * JVM used meanwhile (every thread: driver, tasks, JIT, GC).
  */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long, val startCpuNs: Long) {
  var endNs: Long = startNs
  var endMs: Long = startMs
  var endCpuNs: Long = startCpuNs
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
  def seconds: Double = (endNs - startNs) / 1e9
  def cpuSeconds: Double = (endCpuNs - startCpuNs) / 1e9
}

object Span {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this process so far. On Linux this is the kernel's
    * per-task run time, which leaves out time a virtual machine's host
    * took away from it. */
  def processCpuNs(): Long = os.getProcessCpuTime
}

/** Where a process's CPU time goes, by kind of thread: Spark tasks, the
  * driver (main), JIT compilers, garbage collection, and the rest. Read
  * from /proc/self/task (Linux); empty elsewhere. */
object ThreadCpu {
  private val ticksPerS = 100.0

  def kind(comm: String): String =
    if (comm.startsWith("Executor task")) "tasks"
    else if (comm == "main" || comm == "java") "driver"
    else if (comm.contains("CompilerThre")) "jit"
    else if (comm.startsWith("GC ") || comm.startsWith("G1 ") || comm == "VM Thread") "gc"
    else "other"

  /** CPU seconds so far of each live thread, keyed by thread id. */
  def snapshot(): Map[String, (String, Double)] = {
    val dir = new java.io.File("/proc/self/task")
    Option(dir.listFiles()).toSeq.flatten.flatMap { t =>
      try {
        val stat = new String(java.nio.file.Files.readAllBytes(
          new java.io.File(t, "stat").toPath), "UTF-8")
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        val f = stat.substring(stat.lastIndexOf(')') + 2).split(' ')
        Some(t.getName -> (kind(comm), (f(11).toLong + f(12).toLong) / ticksPerS))
      } catch { case _: java.io.IOException => None }
    }.toMap
  }

  /** CPU seconds per kind between two snapshots; "exited" is what threads
    * that ended in between used, from the process total. */
  def between(before: Map[String, (String, Double)], after: Map[String, (String, Double)],
      processCpuS: Double): Map[String, Double] = {
    val perKind = after.toSeq.map { case (tid, (k, s)) =>
      k -> (s - before.get(tid).map(_._2).getOrElse(0.0))
    }.groupMapReduce(_._1)(_._2)(_ + _)
    if (perKind.isEmpty) perKind
    else perKind + ("exited" -> math.max(0.0, processCpuS - perKind.values.sum))
  }
}

/** Spans are always recorded (they are the benchmark's clock). With
  * `traced` on, every span also becomes a Spark job group, and a
  * SparkListener, a QueryExecutionListener and a log counter on the
  * code generator attribute jobs, stages, tasks, bytes, Catalyst phases
  * and compile failures to the innermost span. Everything stays in
  * memory until the run ends.
  */
final class Recorder(val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var spark: SparkSession = _

  // job-group id -> span; stage id -> span
  private val byGroup = mutable.Map.empty[String, Span]
  private val stageSpan = mutable.Map.empty[Int, Span]
  // job intervals (epoch ms) per span, for driver-only time
  private val jobStart = mutable.Map.empty[Int, (Span, Long)]
  private val jobIntervals = mutable.Map.empty[Int, mutable.ArrayBuffer[(Long, Long)]]
  // Catalyst phases reported since the last drain
  private val pendingPhases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val codegenFailures = new AtomicLong(0)
  private var failuresSeen = 0L

  private object listener extends SparkListener {
    private def spanOf(props: java.util.Properties): Option[Span] =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .flatMap(g => byGroup.synchronized(byGroup.get(g)))

    override def onJobStart(e: SparkListenerJobStart): Unit = byGroup.synchronized {
      spanOf(e.properties).foreach { s =>
        s.counts("jobs") += 1
        e.stageIds.foreach(id => stageSpan(id) = s)
        jobStart(e.jobId) = (s, e.time)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = byGroup.synchronized {
      jobStart.remove(e.jobId).foreach { case (s, t0) =>
        jobIntervals.getOrElseUpdate(s.id, mutable.ArrayBuffer.empty) += ((t0, e.time))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      byGroup.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach(_.counts("stages") += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = byGroup.synchronized {
      stageSpan.get(e.stageId).foreach { s =>
        s.counts("tasks") += 1
        val m = e.taskMetrics
        if (m != null) {
          s.counts("task_busy_s") += m.executorRunTime / 1e3
          s.counts("input_bytes") += m.inputMetrics.bytesRead
          s.counts("output_bytes") += m.outputMetrics.bytesWritten
          s.counts("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
          s.counts("spill_bytes") += m.diskBytesSpilled
        }
      }
    }
  }

  private object qeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      pendingPhases.synchronized {
        qe.tracker.phases.foreach { case (phase, summary) =>
          pendingPhases(phase) += summary.durationMs / 1e3
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val codegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"

  /** Attach the listeners to a session (traced runs only). */
  def attach(s: SparkSession): Unit = {
    spark = s
    if (traced) {
      s.sparkContext.addSparkListener(listener)
      s.listenerManager.register(qeListener)
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val config = ctx.getConfiguration
      if (config.getAppender("perfbench-codegen") == null) {
        val appender = new AbstractAppender("perfbench-codegen", null, null,
            true, Property.EMPTY_ARRAY) {
          override def append(e: LogEvent): Unit =
            if (e.getMessage.getFormattedMessage.toLowerCase
                .contains("failed to compile")) codegenFailures.incrementAndGet()
        }
        appender.start()
        config.addAppender(appender)
        val lc = new LoggerConfig(codegenLogger, null, true)
        lc.addAppender(appender, null, null)
        config.addLogger(codegenLogger, lc)
        ctx.updateLoggers()
      }
    }
  }

  def detach(): Unit = if (traced && spark != null) {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Time `body` as a span named `name`, nested in the current span. */
  def span[T](name: String)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), System.currentTimeMillis(), Span.processCpuNs())
    spans += s
    val sc = if (traced) spark.sparkContext else null
    val outerGroup = if (traced) Option(sc.getLocalProperty("spark.jobGroup.id")) else None
    if (traced) {
      byGroup.synchronized(byGroup(s"span-${s.id}") = s)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
    }
    stack.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.endCpuNs = Span.processCpuNs()
      stack.pop()
      if (traced) {
        PerfbenchBus.drain(sc)
        pendingPhases.synchronized {
          pendingPhases.foreach { case (p, v) => s.counts(s"catalyst.$p") += v }
          pendingPhases.clear()
        }
        // children close first and take their share; the rest is ours
        val failures = codegenFailures.get()
        s.counts("codegen_failures") += failures - failuresSeen
        failuresSeen = failures
        outerGroup match {
          case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Self counters plus descendants' counters, per span. */
  def totals(): Map[Int, Map[String, Double]] = {
    val acc = spans.map(s => s.id -> mutable.Map.empty[String, Double]
      .withDefaultValue(0.0)).toMap
    // spans are appended in start order, so children follow parents:
    // walk backwards and fold each span into its parent
    spans.reverseIterator.foreach { s =>
      s.counts.foreach { case (k, v) => acc(s.id)(k) += v }
      acc(s.id)("driver_only_s") += driverOnly(s)
      if (s.parent >= 0) acc(s.id).foreach { case (k, v) => acc(s.parent)(k) += v }
    }
    acc.map { case (id, m) => id -> m.toMap }
  }

  /** Time inside `s` (excluding its children) with no job of it running. */
  private def driverOnly(s: Span): Double = {
    if (!traced) return 0.0
    val children = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs))
    val busy = (jobIntervals.getOrElse(s.id, Nil) ++ children)
      .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    busy.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, s.endMs - s.startMs - covered) / 1e3
  }
}
