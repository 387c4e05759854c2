package graft

import org.apache.spark.sql.SparkSession

/** The engine's session profile. `session` is the one builder behind
  * Bench, BenchOne, Verify and ScaleUp, so the configuration the oracle
  * verifies is the configuration the bench times. The two conf values
  * stay public for the builders that keep their own session shape
  * (PlanDoc, the test session) and for external harnesses.
  */
object EngineConf {
  /** q118's recursion guard scales with anchor-rows × depth (the sf10
    * chain is ~11M rows, far past the 1M default). A deliberate 100M:
    * high enough for the decade scale-up, low enough to still catch a
    * runaway recursion long before it exhausts the heap. The LEVEL
    * limit stays at its default 100 — that is the guard that actually
    * detects non-termination.
    */
  val CteRecursionRowLimit: String = "100000000"

  /** Scan split size (`spark.sql.files.maxPartitionBytes`), env-
    * parameterised because the right value is SCALE-dependent (guide
    * §6): the local test inputs are single parquet files of 0.004–11 MB,
    * so Spark's 128 MB default plans every scan as ONE split — every
    * staged lake write then sorts and encodes its whole input on one
    * task while 31 cores idle (measured: the lineitem stage write is
    * 0.87 s single-task, ~0.3 s split 4-way; no shuffle is added, split
    * planning is free). 4 MB splits the two big local tables (lineitem
    * ~11 MB → 3–4 tasks, orders 2.6 MB + openCost → 2) without
    * fragmenting the small ones. At 100 TB the same knob goes UP
    * (512 MB–1 GB per the optimization guide, fewer map tasks feeding
    * each shuffle) — set SPARK_GRAFT_MAX_PARTITION_BYTES per deployment;
    * the default only ever sees the bench/test boxes.
    */
  val MaxPartitionBytes: String =
    sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "4m")

  /** `local[$SPARK_GRAFT_CPUS]` (default 32), one shuffle partition per
    * core, AQE with partition coalescing, 64 MB broadcast joins, UTC,
    * the two values above, UI off and log level WARN.
    */
  def session(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", MaxPartitionBytes)
      .config("spark.sql.cteRecursionRowLimit", CteRecursionRowLimit)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
