package graft

/** Dev tool: time ONE registered query (or a comma-separated few) with
  * Bench's session confs and warmup — the floor-measurement path for a
  * freshly added qNNN without paying a full-registry sweep. Prints one
  * JSON line per query: min of `samples` runs (default 2, same as
  * Bench's min-of-2).
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain
  * graft.BenchOne q174_sql_lake_partitions_meta [samples]"`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(
      sys.error("usage: BenchOne <q1,q2,...> [samples]"))
      .split(',').map(_.trim).filter(_.nonEmpty)
    val samples = args.lift(1).map(_.toInt).getOrElse(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = EngineConf.session("graft-bench-one")
    spark.range(1000).selectExpr("sum(id)").collect()
    SparkEntry.entry(spark).count()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query '$name' — names: " +
          SparkEntry.queries.keys.toSeq.sorted.mkString(", ")))
      val times = (1 to samples).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"""{"query":"$name","sf":"$sfDir",""" +
        f""""min":${times.min}%.3f,"samples":[${times.map(t =>
          f"$t%.3f").mkString(",")}]}""")
    }
    spark.stop()
  }
}
