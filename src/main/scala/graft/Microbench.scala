package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev tool: time named variants of hot queries to localize cost before
  * changing them. Not part of the driver contract.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Microbench [nameFilter]"
  * (an argument runs only the variants whose name contains it)
  */
object Microbench {
  def main(args: Array[String]): Unit = {
    val only = args.headOption
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-microbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", EngineConf.MaxPartitionBytes)
      .config("spark.sql.cteRecursionRowLimit", EngineConf.CteRecursionRowLimit)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    // shuffle write totals across all tasks since the last reset — the
    // number that substantiates "map-side combine shrinks the exchange"
    // claims (wall time at sf0.1 measures CPU, not the shuffle volume
    // that dominates at the real design point)
    val shufRecords = new java.util.concurrent.atomic.AtomicLong
    val shufBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(te.taskMetrics).foreach { m =>
          shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
    })

    // SPARK_GRAFT_MICRO_RUNS=1 mimics Bench's single-shot memory profile
    // (the default 3x loop keeps prior runs' checkpoint blocks alive and
    // is deliberately harsher than the graded run)
    val runs = sys.env.getOrElse("SPARK_GRAFT_MICRO_RUNS", "3").toInt
    def time(name: String)(f: => DataFrame): Unit =
      if (only.forall(name.contains)) {
        // median; shuffle volume from the last run (deterministic)
        val ts = (1 to runs).map { i =>
          if (i == runs) { Thread.sleep(300); shufRecords.set(0); shufBytes.set(0) }
          val t0 = System.nanoTime()
          f.count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        Thread.sleep(300) // let straggler task-end events drain
        println(f"[micro] $name%-40s ${ts(ts.size / 2)}%.3f s  (min ${ts.head}%.3f)  " +
          f"shuffle ${shufRecords.get}%,d rows / ${shufBytes.get / 1024.0}%,.0f KiB")
      }

    val li = Tables.lineitem(spark, sfDir)
    val o = Tables.orders(spark, sfDir)
    val c = Tables.customer(spark, sfDir)

    time("q03 current (decimal28 mult)") {
      QueryRegistry.queries("q03_join_agg_topk")(spark, sfDir)
    }
    time("q03 narrow decimal(12,2)x(4,2)") {
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum((col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1).cast("decimal(4,2)") - col("l_discount").cast("decimal(4,2)"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }
    time("q03 plain double sum") {
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }
    time("q03 join only (no agg)") {
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .select("c_custkey")
    }
    time("lineitem scan only") { li.select("l_orderkey") }

    time("q32 current") {
      QueryRegistry.queries("q32_rule_viability")(spark, sfDir)
    }
    time("q27 current") {
      QueryRegistry.queries("q27_rule_total_live")(spark, sfDir)
    }
    time("q24 current") {
      QueryRegistry.queries("q24_rule_date_range")(spark, sfDir)
    }
    time("q65 current") {
      QueryRegistry.queries("q65_dedup_components")(spark, sfDir)
    }

    // ---- q134: does pre-partitioning the edge cache pay? (yes — the
    // columnar cache preserves the partitioning across iterations; see
    // GraphOps.pageRank scaladoc for the measured numbers) ----
    time("q134 current (edges pre-partitioned by src)") {
      QueryRegistry.queries("q134_pagerank")(spark, sfDir)
    }
    time("q134 unpartitioned edge cache") {
      graft.operators.GraphOps
        .pageRank(graft.operators.GraphOps.tradeEdges(spark, sfDir), 5,
          prePartition = false)
        .select(graft.operators.GraphOps.nodeLabel(col("node")).as("node"),
          (col("pr").cast("double") / 1.0e12).as("pagerank"))
        .orderBy(desc("pagerank"), col("node")).limit(30)
    }

    // ---- q133 globalNtile: Tungsten bucketed-window path (round 8)
    // vs the legacy RDD zipWithIndex path it replaced. Same exact
    // ranks; the legacy path pays RDD<->DataFrame conversion and
    // per-row Row.fromSeq boxing. ----
    {
      import graft.operators.LayoutOps
      def ntileRddLegacy(df: DataFrame,
          orderCols: Seq[org.apache.spark.sql.Column],
          tiles: Int, grpCol: String): DataFrame = {
        val sorted = df.repartitionByRange(orderCols: _*)
          .sortWithinPartitions(orderCols: _*)
        val schema = sorted.schema.add("graft_rank",
          org.apache.spark.sql.types.LongType)
        val ranked = spark.createDataFrame(
          sorted.rdd.zipWithIndex().map { case (r, i) =>
            org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i) }, schema)
        val n = df.count()
        val q = n / tiles
        val r = n % tiles
        val cut = r * (q + 1)
        val grp = when(col("graft_rank") < cut,
          expr(s"graft_rank div ${q + 1}"))
          .otherwise(lit(r) + expr(s"(graft_rank - $cut) div ${math.max(q, 1L)}"))
        ranked.withColumn(grpCol, (grp + 1).cast("int")).drop("graft_rank")
      }
      def z = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          LayoutOps.zValue(col("l_partkey"), col("l_suppkey")).as("zval"))
      val ord = Seq(col("zval"), col("l_orderkey"), col("l_linenumber"))
      // group on the tile so count() cannot prune the ranking work (the
      // Tungsten form is a declarative plan Catalyst would otherwise
      // strip the unused window from; the RDD form is opaque and pays
      // full cost either way — grouping makes the comparison fair)
      time("globalNtile Tungsten bucketed window") {
        LayoutOps.globalNtile(z, ord, 64, "grp").groupBy("grp").count()
      }
      time("globalNtile legacy RDD zipWithIndex") {
        ntileRddLegacy(z, ord, 64, "grp").groupBy("grp").count()
      }
      // the decision-relevant comparison: the whole q133 with each ntile
      // (the declarative form lets Catalyst pipeline the downstream
      // union/aggregate; the RDD form is an optimization barrier)
      time("q133 current (Tungsten ntile)") {
        QueryRegistry.queries("q133_zorder_layout")(spark, sfDir)
      }
      time("q133 with legacy RDD ntile") {
        val natural = ntileRddLegacy(z,
          Seq(col("l_orderkey"), col("l_linenumber")), 64, "grp")
          .withColumn("layout", lit("natural"))
        val zorder = ntileRddLegacy(z, ord, 64, "grp")
          .withColumn("layout", lit("zorder"))
        val inBox = col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(10, 30)
        val stats = natural.union(zorder)
          .groupBy("layout", "grp")
          .agg(min("l_partkey").as("pmin"), max("l_partkey").as("pmax"),
            min("l_suppkey").as("smin"), max("l_suppkey").as("smax"),
            sum(when(inBox, 1L).otherwise(0L)).as("rows_in_box"))
        stats.groupBy("layout")
          .agg(count(lit(1)).as("groups_total"),
            sum(when(col("pmin") <= 300 && col("pmax") >= 100 &&
              col("smin") <= 30 && col("smax") >= 10, 1L).otherwise(0L))
              .as("groups_hit"),
            sum("rows_in_box").as("rows_in_box"))
          .orderBy("layout")
      }
    }

    // ---- q32 stage decomposition ----
    import graft.rules.{Checks, RuleEvaluator, NoGate}
    import graft.types.CellType
    def q32sheet = Tables.lineitem(spark, sfDir).select(
      col("l_quantity").cast("string").as("Total_Cells_Hemocytometer_Count"),
      (col("l_linenumber") % 5 + 1).cast("string").as("Live_Cells_Hemocytometer_Count"),
      when(col("l_orderkey") % 2 === 0,
        bround((col("l_linenumber") % 5 + 1) / col("l_quantity") * 100, 1))
        .otherwise(lit(42.42)).cast("string").as("Viability_Hemocytometer_Count"),
      (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("Row_Index"))
    time("q32 sheet construction only") { q32sheet }
    time("q32 sheet + memos") {
      val names = Seq("Viability_Hemocytometer_Count",
        "Live_Cells_Hemocytometer_Count", "Total_Cells_Hemocytometer_Count")
      CellType.memoColumns(q32sheet, names)
        .select(max(length(col("__num_Viability_Hemocytometer_Count").cast("string"))))
    }
    time("q32 evaluate (no dedup/sort)") {
      RuleEvaluator.evaluate("biospecimen.csv", q32sheet,
        Seq(Checks.viability("Viability_Hemocytometer_Count")))
    }
    time("q32 evaluate + dedupFirst") {
      RuleEvaluator.dedupFirst(RuleEvaluator.evaluate("biospecimen.csv", q32sheet,
        Seq(Checks.viability("Viability_Hemocytometer_Count"))))
    }
    // isolate: memo parse + predicate WITHOUT bround, render, explode
    time("q32 memos + simple predicate") {
      val names = Seq("Viability_Hemocytometer_Count",
        "Live_Cells_Hemocytometer_Count", "Total_Cells_Hemocytometer_Count")
      CellType.memoColumns(q32sheet, names)
        .filter(col("__num_Live_Cells_Hemocytometer_Count") >
          col("__num_Total_Cells_Hemocytometer_Count"))
    }
    // memo + bround predicate, no render/explode
    time("q32 memos + bround predicate") {
      val names = Seq("Viability_Hemocytometer_Count",
        "Live_Cells_Hemocytometer_Count", "Total_Cells_Hemocytometer_Count")
      CellType.memoColumns(q32sheet, names)
        .filter(bround(col("__num_Live_Cells_Hemocytometer_Count") /
          col("__num_Total_Cells_Hemocytometer_Count") * 100, 1) =!=
          col("__num_Viability_Hemocytometer_Count"))
    }
    time("q27 without final orderBy") {
      import graft.rules.{Checks, RuleEvaluator, NoGate}
      val sheet = Tables.lineitem(spark, sfDir).select(
        col("l_quantity").cast("string").as("Total_Cells_Hemocytometer_Count"),
        (col("l_quantity") + when(col("l_linenumber") % 3 === 0, 1).otherwise(-1))
          .cast("string").as("Live_Cells_Hemocytometer_Count"),
        (col("l_orderkey") * 10 + col("l_linenumber")).cast("long").as("Row_Index"))
      RuleEvaluator.dedupFirst(RuleEvaluator.evaluate("biospecimen.csv", sheet,
        Seq(Checks.totalVsLive("Total_Cells_Hemocytometer_Count"))))
    }
    // ---- q03: eager aggregation below the join ----
    // partial-agg lineitem to one row per orderkey BEFORE joining orders:
    // the orderkey shuffle then moves ~150k pre-summed rows instead of
    // ~600k raw rows (lineitem is clustered by orderkey, so map-side
    // combine collapses nearly fully)
    time("q03 eager agg below join") {
      val cents = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
      val discPct = floor(col("l_discount") * 100 + 0.5).cast("long")
      val perOrder = li.groupBy("l_orderkey")
        .agg(sum(cents * (lit(100L) - discPct)).as("order_cents"))
      perOrder.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg((sum(col("order_cents")).cast("double") / 10000.0).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }
    // ---- q24 decomposition: where do 1.2s go on 150k orders rows? ----
    def q24sheet = Tables.orders(spark, sfDir).select(
      date_format(col("o_orderdate"), "yyyy-MM-dd").as("Date_of_Visit"),
      col("o_orderkey").cast("long").as("Row_Index"))
    time("q24 sheet only (date_format)") { q24sheet }
    time("q24 sheet + memos") {
      CellType.memoColumns(q24sheet, Seq("Date_of_Visit"))
        .select(max(length(col("__ts_Date_of_Visit").cast("string"))))
    }
    time("q24 evaluate only") {
      RuleEvaluator.evaluate("orders.csv", q24sheet,
        Checks.date("Date_of_Visit", NoGate, naAllowed = false, "Date",
          java.time.LocalDate.of(1995, 1, 1), java.time.LocalDate.of(1996, 6, 30)))
    }
    // ---- TopK bounded-buffer aggregator vs window row_number ----
    // Measured result (recorded 2026-08-12, sf0.1, single-split inputs):
    // Spark 4's InferWindowGroupLimit gives the window form its own
    // map-side group-limit below the exchange, so BOTH forms shuffle
    // O(k x |groups|) rows and the codegen'd window wins wall-clock:
    //   topk agg,    5 groups (orders)   0.60s   shuffle     6 rows/ 1 KiB
    //   topk window, 5 groups (orders)   0.36s   shuffle    16 rows/ 1 KiB
    //   topk agg,  ~1k groups (lineitem) 1.14s   shuffle 1,001 rows/72 KiB
    //   topk window,~1k groups (lineitem)0.82s   shuffle 3,001 rows/48 KiB
    // See the honesty note in operators/TopK.scala for when the
    // aggregator form still earns its keep (streaming, array-per-group).
    import graft.operators.TopK
    time("topk agg, 5 groups (orders, k=3)") {
      TopK.perGroup(o, "o_orderpriority", "o_totalprice", "o_orderkey", 3)
    }
    time("topk window, 5 groups (orders, k=3)") {
      o.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("o_orderpriority")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .filter(col("rk") <= 3)
        .select("o_orderpriority", "o_totalprice", "o_orderkey", "rk")
    }
    time("topk agg, ~1k groups (lineitem, k=3)") {
      TopK.perGroup(li, "l_suppkey", "l_extendedprice", "l_orderkey", 3)
    }
    time("topk window, ~1k groups (lineitem, k=3)") {
      li.withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("l_suppkey")
          .orderBy(col("l_extendedprice").desc, col("l_orderkey"))))
        .filter(col("rk") <= 3)
        .select("l_suppkey", "l_extendedprice", "l_orderkey", "rk")
    }

    time("q32 memos + bround1Fast predicate") {
      val names = Seq("Viability_Hemocytometer_Count",
        "Live_Cells_Hemocytometer_Count", "Total_Cells_Hemocytometer_Count")
      val y = col("__num_Live_Cells_Hemocytometer_Count") /
        col("__num_Total_Cells_Hemocytometer_Count") * 100 * 10
      val fast = when(abs(y - floor(y) - 0.5) > 1e-9, floor(y + 0.5) / 10)
        .otherwise(bround(col("__num_Live_Cells_Hemocytometer_Count") /
          col("__num_Total_Cells_Hemocytometer_Count") * 100, 1))
      CellType.memoColumns(q32sheet, names)
        .filter(fast =!= col("__num_Viability_Hemocytometer_Count"))
    }

    // ---- q102 vocabulary join: broadcast vs shuffle degrade path ----
    // The round-6 unhinted join (RetrievalOps.commonTokenScores): the
    // planner broadcasts `counts` while it fits and key-shuffles past the
    // threshold. Forcing threshold=-1 here prices the degrade path the
    // engine falls back to at 100 TB vocabulary cardinality.
    {
      val savedThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      time("q102 vocab join (auto: broadcast)") {
        QueryRegistry.queries("q102_unigram_quality")(spark, sfDir)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      time("q102 vocab join (forced shuffle)") {
        QueryRegistry.queries("q102_unigram_quality")(spark, sfDir)
      }
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThreshold)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }

    // ---- q109: one lineitem scan (multi) vs one scan per FK ----
    {
      import graft.rules.ValidationOps.{fkOrphanAudit, fkOrphanAuditMulti}
      val rels = Seq(
        ("lineitem.l_orderkey->orders", "l_orderkey",
          Tables.orders(spark, sfDir), "o_orderkey"),
        ("lineitem.l_partkey->part", "l_partkey",
          Tables.part(spark, sfDir), "p_partkey"),
        ("lineitem.l_suppkey->supplier", "l_suppkey",
          Tables.supplier(spark, sfDir), "s_suppkey"))
      time("fk audit multi (one lineitem scan)") {
        fkOrphanAuditMulti(Tables.lineitem(spark, sfDir), rels)
      }
      time("fk audit separate (3 lineitem scans)") {
        rels.map { case (r, fk, p, pk) =>
          fkOrphanAudit(r, Tables.lineitem(spark, sfDir), fk, p, pk)
        }.reduce(_ unionByName _)
      }
    }

    // ---- normalizeText regex cost: the shipped single-pass form
    // ([^a-z0-9]+ -> one space) vs the historical two-pass form the
    // DuckDB oracles still run (strip punct to spaces, then collapse
    // space runs). Measured wall-FLAT at this scale (both ~0.12 s, scan
    // + md5 dominate); the single-pass saving is one fewer full-size
    // intermediate string per row — transient allocation, not CPU. ----
    {
      val docs = Tables.documents(spark, sfDir)
      time("normalize single-pass (shipped)") {
        docs.select(md5(graft.functions.TextOps.normalizeText(col("text")))
          .as("fp")).groupBy().count()
      }
      time("normalize two-pass (oracle form)") {
        docs.select(md5(trim(regexp_replace(regexp_replace(
          translate(lower(col("text")), graft.functions.TextOps.foldFrom,
            graft.functions.TextOps.foldTo), "[^a-z0-9 ]", " "), " +", " ")))
          .as("fp")).groupBy().count()
      }
    }

    // ---- runtime bloom filter at bench scale (round 9): a selective
    // dimension predicate (1-URGENT ~ 1/5 of orders) must reach the
    // lineitem side as an InjectRuntimeFilter bloom BEFORE the join
    // exchange. Broadcast is disabled because the 100 TB case this
    // demonstrates is a dim too big to broadcast; the application-side
    // scan threshold is zeroed because sf0.1-sf10 lineitem sits below
    // the 10 GB default that a real fact table exceeds on its own. The
    // evidence is the shuffle row count: with the bloom the exchange
    // moves ~1/5 of lineitem (SCALE.md records the sf1 numbers). The
    // ON variant hard-asserts might_contain in the optimized plan, so a
    // silent regression of the rewrite fails the run, not just the
    // timing.
    // the whole section (conf mutations + the hard plan assertion, not
    // just the timings) honors the name filter, so a filtered run for
    // an unrelated variant can neither perturb session confs nor abort
    // on the bloom assertion
    if (only.forall("star sel-dim join".contains(_))) {
      val conf = Map(
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        // the creation-side gate compares the dim's UNFILTERED size
        // estimate (no CBO stats here to shrink it through the
        // predicate), so past sf0.1 the 10 MB default vetoes the
        // rewrite; raised to model the stats-informed decision a real
        // deployment's ANALYZE-fed planner makes
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB")
      val toggled = conf.keys.toSeq :+
        "spark.sql.optimizer.runtime.bloomFilter.enabled"
      val prev = toggled.map(k => k -> spark.conf.getOption(k)).toMap
      conf.foreach { case (k, v) => spark.conf.set(k, v) }
      def starSel = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"))
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      time("star sel-dim join, bloom OFF") { starSel }
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      require(starSel.queryExecution.optimizedPlan.toString
          .contains("might_contain"),
        "runtime bloom filter did not fire on the selective star join")
      time("star sel-dim join, bloom ON") { starSel }
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    spark.stop()
  }
}
