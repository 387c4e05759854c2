package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Generates PLANS.md: formatted optimized plans of representative queries
  * with the scale-relevant properties visible (PushedFilters, ReadSchema,
  * broadcast joins, partial aggregation). Run: `sbt "runMain graft.PlanDoc"`.
  */
object PlanDoc {
  private val showcase = Seq(
    "q02_project_filter" -> "filter + column pruning reach the parquet scan",
    "q03_join_agg_topk" -> "broadcast dimension join, partial agg before exchange",
    "q23_rule_number_range" -> "single-pass rule evaluation, no UDFs",
    "q45_cosine_topk" -> "broadcast query side, narrow dot-product map",
    "q61_star_join" -> "star join: one shuffle join + four broadcast dims",
    "q72_ann_ivf" -> "IVF: broadcast centroids, candidate join replaces cross product",
    "q77_asof_join_native" -> "custom AsOfJoinExec: co-partitioned single-pass merge",
    "q101_bm25_topk" -> "term-filtered explode; terms/idf/stats broadcast, corpus unshuffled before partial agg",
    "q105_column_profile" -> "single-pass multi-distinct profile (one Expand, no per-column rescans)",
    "q121_session_window_native" -> "session windows merge inside the aggregate (no window sort, no iterator state)",
    "q135_bucketed_join" -> "bucketed scans meet the join pre-partitioned: no Exchange on either side",
    "q141_source_cap_apply" -> "cap application: WindowGroupLimit cuts to per-source top-k below AND above the exchange")

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("PLANS.md")
    // not EngineConf.session: a fixed 4-wide doc session keeps PLANS.md
    // from churning with the machine's core count
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-plandoc")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", EngineConf.MaxPartitionBytes)
      .config("spark.sql.cteRecursionRowLimit", EngineConf.CteRecursionRowLimit)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = "/root/testdata/sf0.001"
    // q135's point is the shuffle the join does NOT need; at doc SF the
    // tiny dimension would auto-broadcast and hide it, so snapshot that
    // one plan as the optimizer would shape it past the broadcast
    // threshold (the size regime bucketing exists for)
    val noBroadcast = Set("q135_bucketed_join")
    val sections = showcase.map { case (name, why) =>
      val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      if (noBroadcast(name))
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val plan =
        try QueryRegistry.queries(name)(spark, sf)
          .queryExecution.explainString(ExplainMode.fromString("formatted"))
        finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
      s"## `$name` — $why\n\n```\n$plan```\n"
    }
    // the FULL registry, one formatted snapshot per query — so a
    // refactor that silently loses a pushdown/broadcast/pruning
    // property shows up as a PLANS.md diff, for every query, not just
    // the curated dozen. Queries whose construction is side-effectful
    // (the lake DML chains stage scratch lakes at build time) run that
    // setup here; a per-query failure records the error instead of
    // aborting the doc.
    val showcased = showcase.map(_._1).toSet
    val rest = QueryRegistry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => showcased(n) }
      .map { case (name, fn) =>
        val plan =
          try fn(spark, sf).queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          catch { case e: Throwable =>
            s"(plan unavailable: ${e.getClass.getSimpleName}: " +
              s"${Option(e.getMessage).getOrElse("").linesIterator
                .take(3).mkString(" / ")})\n"
          }
        s"## `$name`\n\n```\n$plan```\n"
      }
    val md = "# PLANS — physical-plan snapshots (sf0.001, pre-AQE)\n\n" +
      "What to look for: `PushedFilters` and pruned `ReadSchema` at each " +
      "scan, `BroadcastHashJoin` for dimensions, partial aggregation " +
      "before every exchange. Generated by `graft.PlanDoc`.\n\n" +
      "Part 1 is the curated showcase (one per scale claim); part 2 " +
      "snapshots EVERY registered query so plan regressions diff " +
      "loudly.\n\n" +
      sections.mkString("\n") +
      "\n\n# Part 2 — full registry\n\n" + rest.mkString("\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), md)
    println(s"wrote $out (${showcase.size} showcase + ${rest.size} " +
      "registry plans)")
    spark.stop()
  }
}
