package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** How many Spark jobs a block of code started: the block runs under a
  * fresh job group, and a listener counts the job starts tagged with it.
  */
object JobProbe {

  /** Runs `block` and returns its result with the number of jobs it ran. */
  def count[T](spark: SparkSession)(block: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-probe-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    @volatile var sentinelSeen = false
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .map(_.getProperty("spark.jobGroup.id", "")).getOrElse("")
        if (g == group) jobs.incrementAndGet()
        if (g == sentinel) sentinelSeen = true
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "probed block", false)
      val result = try block finally sc.clearJobGroup()
      // sentinel: the listener bus is FIFO, so once this job's event has
      // been delivered, every earlier job event of the block has too
      sc.setJobGroup(sentinel, "flush", false)
      try spark.range(5).count()
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!sentinelSeen && System.currentTimeMillis() < deadline)
        Thread.sleep(25)
      if (!sentinelSeen)
        throw new IllegalStateException("listener bus did not deliver the sentinel event")
      (result, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
