package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: physical-plan-invariance cross-check for q134 (PageRank) at
  * scales where the DuckDB recursive oracle is infeasible (the sf10
  * attempt spills >77 GB of hash-join state and dies on disk — an
  * oracle-engine limit, not an engine-under-test limit).
  *
  * Why this is a valid oracle substitute: the PageRank kernel carries
  * rank in integer micro-units — per-node contributions are exact longs
  * (`pr div outdeg`), their per-iteration aggregation is an integer SUM
  * (order-independent, total mass < 2^53), and the single double step
  * (damping multiply) is a deterministic per-row function of that exact
  * sum. So ANY correct physical evaluation — different join orders,
  * partitionings, shuffle widths — must produce bit-identical longs.
  * Running the same query under deliberately different physical
  * configurations and requiring exact agreement therefore checks the
  * whole distributed execution (shuffles, caching, checkpoint replay)
  * against itself; a partition-dependent bug (lost rows, double counts,
  * float-order drift) breaks the agreement.
  *
  * Usage: SPARK_GRAFT_SF_DIR=out/sf10 sbt "runMain graft.SpotCheck"
  */
object SpotCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "out/sf10")
    // not EngineConf.session: the two runs are deliberately different
    // physical shapes (shuffle width, partitioning)
    def session(cpus: Int, shuffle: Int): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .appName(s"graft-spotcheck-$shuffle")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    // run A: the bench configuration (pre-partitioned edges, 32-wide)
    val sA = session(32, 32)
    val a = graft.operators.GraphOps
      .pageRank(graft.operators.GraphOps.tradeEdges(sA, sfDir), 5,
        prePartition = true)
      .agg(count(lit(1)).as("nodes"), sum("pr").as("mass"),
        sum((col("pr") * col("node")).cast("decimal(38,0)")).as("dot"))
      .head()
    sA.stop()
    // run B: different physical shape — unpartitioned edge cache and a
    // different (prime) shuffle width, forcing different task
    // boundaries and aggregation orders everywhere
    val sB = session(32, 17)
    val b = graft.operators.GraphOps
      .pageRank(graft.operators.GraphOps.tradeEdges(sB, sfDir), 5,
        prePartition = false)
      .agg(count(lit(1)).as("nodes"), sum("pr").as("mass"),
        sum((col("pr") * col("node")).cast("decimal(38,0)")).as("dot"))
      .head()
    sB.stop()
    println(s"[spotcheck] q134 runA: $a")
    println(s"[spotcheck] q134 runB: $b")
    val ok = a == b
    println(s"""{"check":"q134_plan_invariance","sf":"$sfDir","match":$ok,""" +
      s""""nodes":${a.getLong(0)},"mass":${a.getLong(1)}}""")
    if (!ok) sys.exit(1)
  }
}
