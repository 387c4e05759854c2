package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions: the properties that matter at 100 TB must be
  * visible in the optimized plan, not assumed — filter/column pushdown into
  * the parquet scan, broadcast for small dimensions, whole-stage codegen on
  * the hot paths.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkTestSession._

  private def plan(name: String): String = {
    val df = QueryRegistry.queries(name)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("q02 pushes the filter and prunes columns at the parquet scan") {
    val p = plan("q02_project_filter")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThan(l_quantity,45"), p)
    // only the 4 referenced columns reach the scan
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int," +
      "l_quantity:double,l_returnflag:string>"), p)
  }

  test("q03 broadcasts the customer dimension") {
    val p = plan("q03_join_agg_topk")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q04 broadcast left join, no shuffle of the fact side") {
    val p = plan("q04_left_join_enrich")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  /** AQE prints codegen spans only in the FINAL executed plan. */
  private def executedPlan(name: String): String = {
    val df = QueryRegistry.queries(name)(spark, sf)
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q01 uses whole-stage codegen and partial aggregation") {
    val p = plan("q01_agg_fullscan")
    // map-side partial agg before the exchange (bottom-up numbering)
    assert(p.contains("partial_sum"), p)
    assert(p.indexOf("partial_sum") < p.indexOf("(3) Exchange"), p)
    // codegen stages print as *(n) prefixes in the executed-plan tree
    assert(executedPlan("q01_agg_fullscan").contains("*("))
  }

  test("rule evaluation stays in whole-stage codegen (no UDFs in hot path)") {
    val p = plan("q23_rule_number_range")
    assert(!p.contains("BatchEvalPython"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
    assert(executedPlan("q23_rule_number_range").contains("*("))
  }

  test("the ICD-10 lookup is the only ScalaUDF in a validated sheet's plan") {
    import graft.dispatch.{MergeTables, SheetCatalog}
    import graft.io.{IcdCatalog, SheetReader}
    import graft.rules.RuleEvaluator
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    val columns = Seq("Research_Participant_ID", "Age", "Race", "Ethnicity", "Gender",
      "Is_Symptomatic", "Date_of_Symptom_Onset", "Symptoms_Resolved",
      "Date_of_Symptom_Resolution", "Covid_Disease_Severity", "Diabetes_Mellitus",
      "Other_Comorbidity")
    val demo = SheetReader.fromRows(spark, columns, Seq(
      Seq("14_000001", "30", "Asian", "Hispanic or Latino", "Female", "Yes",
        "1/2/2021", "No", "N/A", "3", "Yes", "E11.9"),
      Seq("14_000002", "abc", "x", "", "Male", "No", "N/A", "N/A", "N/A", "0", "No",
        "NOPE99")))
    val prior = SheetReader.fromRows(spark,
      Seq("Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result"),
      Seq(Seq("14_000001", "Positive"), Seq("14_000002", "Negative")))
    val (merged, drop) = MergeTables.merge("demographic.csv", demo, Map(
      "demographic.csv" -> demo, "prior_clinical_test.csv" -> prior))
    val plan = SheetCatalog.plan("demographic.csv",
      merged.columns.filterNot(_ == "Row_Index").toSeq, drop, 14,
      java.time.LocalDate.of(2026, 8, 12), IcdCatalog.existsFn(spark))
    assert(plan.rowRules.map(_.column).distinct.size >= 10, plan.rowRules.map(_.column))
    val errors = RuleEvaluator.evaluate("demographic.csv", merged, plan.rowRules)
    val qe = errors.queryExecution
    assert(!qe.executedPlan.toString.contains("BatchEvalPython"))
    val udfs = qe.optimizedPlan.flatMap(_.expressions)
      .flatMap(_.collect { case u: ScalaUDF => u })
    assert(udfs.nonEmpty)
    assert(udfs.forall(_.udfName.contains(IcdCatalog.ExistsUdfName)), udfs.map(_.udfName))
    // the ICD rule fires on the unknown code: the check is in the plan, not pruned
    assert(errors.collect().nonEmpty)
  }

  test("cosine top-k broadcasts the query side") {
    val p = plan("q45_cosine_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
  }

  test("ANN broadcast query sides skip the corpus repartition (spread corpus-only)") {
    // The query side is re-derived from the raw scan with its selective
    // filter applied BEFORE Spread, so no broadcast build contains the
    // corpus exchange (a filter placed above Spread would be pushed below
    // the inserted repartition and the 20-row side would pay a shuffle).
    // plan with AQE off: exchanges then appear as plain nodes in
    // executedPlan (no query-stage wrappers), without running anything
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      for (q <- Seq("q45_cosine_topk", "q46_ann_lsh", "q72_ann_ivf")) {
        val df = QueryRegistry.queries(q)(spark, sf)
        val broadcastBuilds = df.queryExecution.executedPlan.collect {
          case b: BroadcastExchangeExec => b
        }
        assert(broadcastBuilds.nonEmpty, s"$q: expected a broadcast side")
        // windows on the tiny side may shuffle (ENSURE_REQUIREMENTS); what
        // must never appear is Spread's user repartition (REPARTITION_BY_COL)
        for (b <- broadcastBuilds)
          assert(b.collect {
            case s: ShuffleExchangeExec
                if s.shuffleOrigin.toString == "REPARTITION_BY_COL" => s
          }.isEmpty, s"$q: broadcast build contains the corpus repartition:\n$b")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("near-dup pair generation is bucketed, not all-pairs") {
    val df = QueryRegistry.queries("q44_embedding_neardup")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("merge-on-read lake read broadcasts the delta side: no sort-merge shuffle of base data") {
    import spark.implicits._
    import graft.io.PartitionedLake
    val path = java.nio.file.Files.createTempDirectory("graft-morplan").toString + "/lake"
    PartitionedLake.write((1L to 2000L).map(k => (k, s"p${k % 4}", k * 1.0))
      .toDF("k", "part", "bal"), path, "part")
    PartitionedLake.cdcSinkMergeOnRead(spark, path, "part", "k", "bal",
      (1L to 50L).map(k => (k * 8, s"p${(k * 8) % 4}", k, "U", 0.5))
        .toDF("k", "part", "seq", "op", "val"))
    val df = PartitionedLake.read(spark, path)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the anti-join against the (small, compact-routinely-bounded) delta
    // identities must broadcast — a sort-merge form would shuffle every
    // dirty partition's base rows on every read
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom decontamination probes with a literal filter: no join on the corpus probe side") {
    val df = QueryRegistry.queries("q145_bloom_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // might_contain over the plan-literal bloom is a narrow map; the
    // only join is the exact-side verification join, which broadcasts
    assert(p.contains("might_contain"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
  }

  test("decontamination broadcasts the eval grams; corpus is never shuffled pre-join") {
    val df = QueryRegistry.queries("q90_decontaminate")(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
    // the corpus side must meet the broadcast join without an exchange:
    // the only shuffles are the eval-distinct and the per-doc aggregation
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("hash sampling is a pure narrow filter (no pre-agg exchange on data)") {
    val p = plan("q91_hash_sample")
    assert(!p.contains("Join"), p)
    assert(!p.toLowerCase.contains("scalaudf"), p)
  }

  test("repetition signals stay joinless/aggless and flag exactly the planted loops") {
    // narrow per-row HOFs: the only exchange the plan may contain is the
    // presentation ORDER BY (range partitioning); any Join or Aggregate
    // means the gram stream got shuffled
    // Match physical operators, not expression text: the projection
    // legitimately contains the HOF expressions `array_join` and
    // `aggregate`, so case-sensitive "Join" / lowercase operator names
    // are the discriminators.
    val p = plan("q93_repetition_signals")
    assert(!p.contains("Join"), p)
    val pl = p.toLowerCase
    assert(!pl.contains("hashaggregate") && !pl.contains("sortaggregate")
      && !pl.contains("objecthashaggregate"), p)
    val rows = QueryRegistry.queries("q93_repetition_signals")(spark, sf)
      .select("doc_id", "dup_trigram_frac", "repetitive").collect()
    val (planted, natural) = rows.partition(_.getLong(0) >= 2000000L)
    assert(planted.nonEmpty)
    // a 10-word loop repeated 5x: 48 trigrams, 10 distinct -> ~0.79
    assert(planted.forall(r => r.getDouble(1) > 0.7 && r.getBoolean(2)))
    // natural synthetic docs must overwhelmingly pass the gate
    assert(natural.count(_.getBoolean(2)) < natural.length / 10)
  }

  test("PII redaction is a joinless narrow map and catches every planted contact") {
    val p = plan("q94_pii_redaction")
    assert(!p.contains("Join"), p)
    assert(!p.toLowerCase.contains("aggregate"), p)
    val rows = QueryRegistry.queries("q94_pii_redaction")(spark, sf)
      .select("doc_id", "n_emails", "n_phones", "n_ips", "pii_found").collect()
    val planted = rows.filter(_.getLong(0) % 30 == 0)
    assert(planted.nonEmpty)
    assert(planted.forall(r =>
      r.getLong(1) >= 1 && r.getLong(2) >= 1 && r.getLong(3) >= 1 && r.getBoolean(4)))
    // unplanted synthetic docs carry no PII
    assert(rows.filter(_.getLong(0) % 30 != 0).forall(!_.getBoolean(4)))
  }

  test("mixture reweighting broadcasts the rate table and flattens the mix") {
    val df = QueryRegistry.queries("q96_mixture_reweight")(spark, sf)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the corpus meets the |languages|-row rate table via broadcast only
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // downsample-only: every keep-rate is a valid percentage, and at least
    // one over-represented language was actually cut below 100
    val rates = rows.map(r => r.getAs[Long]("rate"))
    assert(rates.forall(r => r >= 0 && r <= 100))
    assert(rates.exists(_ < 100), rates.mkString(","))
  }

  test("line cleanup is a narrow HOF map; line rules and page kill fire exactly") {
    val p = plan("q97_line_cleanup")
    assert(!p.contains("Join"), p)
    val pl = p.toLowerCase
    assert(!pl.contains("hashaggregate") && !pl.contains("sortaggregate")
      && !pl.contains("objecthashaggregate"), p)
    assert(!pl.contains("scalaudf"), p)
    val rows = QueryRegistry.queries("q97_line_cleanup")(spark, sf).collect()
    // lorem-ipsum pages are killed outright
    assert(rows.forall(_.getLong(0) % 97 != 0))
    assert(rows.nonEmpty)
    for (r <- rows) {
      val (id, nLines, nKept) = (r.getLong(0), r.getLong(1), r.getLong(2))
      // exactly the id-gated boilerplate lines are dropped; content survives
      val expectDropped = Seq(3L, 5L, 7L).count(m => id % m == 0)
      assert(nLines - nKept == expectDropped, s"doc $id: $nLines/$nKept")
      assert(nKept >= 1, s"doc $id lost its content line")
    }
  }

  test("chunking is row-local (no join/agg) and chunks tile each document") {
    val p = plan("q99_chunk_stride")
    assert(!p.contains("Join"), p)
    val pl = p.toLowerCase
    assert(!pl.contains("hashaggregate") && !pl.contains("sortaggregate")
      && !pl.contains("objecthashaggregate"), p)
    val byDoc = QueryRegistry.queries("q99_chunk_stride")(spark, sf)
      .collect().groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    for ((id, cs) <- byDoc) {
      val sorted = cs.sortBy(_.getLong(1))
      // contiguous chunk ids from 0; all full 16-token windows except a
      // possibly-short final chunk
      assert(sorted.map(_.getLong(1)).toSeq == (0L until sorted.length.toLong),
        s"doc $id chunk ids")
      assert(sorted.init.forall(_.getLong(2) == 16L), s"doc $id mid chunk short")
      assert(sorted.last.getLong(2) >= 1 && sorted.last.getLong(2) <= 16)
    }
  }

  test("global line dedup empties planted copies; no all-pairs operator") {
    val df = QueryRegistry.queries("q100_line_dedup_global")(spark, sf)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    val (planted, orig) = rows.partition(_.getLong(0) >= 3000000L)
    assert(planted.nonEmpty)
    // every line of a planted copy already occurred in its source doc
    assert(planted.forall(_.getLong(2) == 0L))
    assert(planted.forall(_.getString(3) == "d41d8cd98f00b204e9800998ecf8427e"))
    // originals overwhelmingly keep all lines (modulo natural short-tail
    // line collisions)
    assert(orig.count(r => r.getLong(2) == r.getLong(1)) > orig.length * 8 / 10)
  }

  test("k-means semantic dedup recovers planted pairs within clusters") {
    val rows = QueryRegistry.queries("q98_kmeans_semdedup")(spark, sf).collect()
    // every surviving pair is a planted near-duplicate: natural pairwise
    // cosine tops out far below the 0.8 threshold on this corpus
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(2) == r.getLong(1) + 100000L))
    assert(rows.forall(_.getDouble(3) >= 0.99))
    // recall vs the exhaustive q44 baseline (300 planted pairs): only
    // pairs split across a cluster boundary may be missed
    assert(rows.length >= 270, s"recovered ${rows.length} of 300")
    // the cluster partition is balanced enough that every cluster hit
    assert(rows.map(_.getLong(0)).distinct.length == 8, "cluster spread")
  }

  test("q141 cap application pushes a partial WindowGroupLimit below the exchange") {
    val p = plan("q141_source_cap_apply")
    // the rk <= 15 filter must let InferWindowGroupLimit cut each map
    // partition to its local top-15 per source BEFORE the shuffle
    // (Partial mode) and re-cut after it (Final mode) — the exchange
    // then moves O(sources x 15) rows, not the corpus
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
    assert(p.contains("Final"), p)
    // ...and the report twin q128 deliberately cannot (it keeps the
    // uncapped totals, so every row flows through its window)
    assert(!plan("q128_source_cap").contains("WindowGroupLimit"))
  }

  test("q142 PPS sampling: sharded prefix sum broadcasts its offsets, no global-window sort of the data") {
    val p = plan("q142_pps_sample")
    // the <= shuffle-partitions offsets table must come back by
    // broadcast; the only unpartitioned windows run over that bounded
    // offsets relation, never over the corpus
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    val df = QueryRegistry.queries("q142_pps_sample")(spark, sf)
    assert(df.count() >= 24) // ~k docs selected, deterministic
  }

  test("no query plans an unintended CartesianProduct") {
    val offenders = QueryRegistry.all.flatMap { q =>
      val p = q.fn(spark, sf).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(q.name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("window-agg query reads only the columns it needs") {
    val p = plan("q50_window_agg")
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>"), p)
  }

  test("IVF ANN broadcasts the centroid and probe sides") {
    val p = plan("q72_ann_ivf")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    // the base-table side is never collected to the driver: cell assignment
    // is a join, so the plan must not degenerate to a cartesian product
    assert(!p.contains("CartesianProduct"), p)
  }

  test("interval join keeps the user_id equi-key (no nested-loop blowup)") {
    val p = plan("q73_interval_join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sliding-window query prunes to ts + user_id at the scan") {
    val p = plan("q75_sliding_window")
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"), p)
  }

  test("doc pipeline aggregates map-side before its final shuffle") {
    val p = plan("q74_doc_pipeline")
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("AQE coalesces shuffle partitions at runtime (small data, few tasks)") {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val df = Tables.lineitem(spark, sf)
        .groupBy("l_returnflag").count()
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      // the runtime re-plan is visible: the shuffle read is coalesced
      // instead of materializing all configured shuffle partitions
      assert(p.contains("AQEShuffleRead coalesced") ||
        p.contains("CoalescedShuffleRead"), p)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("q105 column profile is one scan (no per-column rescans)") {
    val p = plan("q105_column_profile")
    // formatted explain prints each operator in the tree AND as a detail
    // heading "(n) Scan parquet" — count the headings
    assert("""\) Scan parquet""".r.findAllIn(p).size === 1, p)
    assert(p.contains("Expand"), p) // the multi-distinct rewrite, not rescans
  }

  test("q108 outlier audit broadcasts the bounds, never shuffles the fact scan") {
    val p = plan("q108_outlier_iqr")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q109 FK audit: every parent key set broadcasts") {
    val p = plan("q109_fk_orphan_audit")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // one detail heading "(n) BroadcastHashJoin" per relation
    assert("""\) BroadcastHashJoin""".r.findAllIn(p).size === 6, p)
    // lineitem's 3 relations share one scan: 4 child + 6 parent scans
    assert("""\) Scan parquet""".r.findAllIn(p).size === 10, p)
  }

  test("q103 dup-span detection has no all-pairs operator") {
    val p = plan("q103_dup_ngram_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q107 stream-static twin broadcasts the dimension") {
    val p = plan("q107_stream_static_join")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q113 funnel: per-user scalar tables broadcast, no event self-join") {
    val p = plan("q113_funnel_stages")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q116 curation v2: vocabulary and top-V broadcast, no all-pairs op") {
    val p = plan("q116_curation_v2")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("unbounded-side joins degrade to shuffle joins when broadcast is off " +
      "(q102/q113/q114/q116), results unchanged") {
    // The 100 TB hazard class from round 5: corpus-vocabulary and per-user
    // relations grow with the data, so their joins carry NO broadcast()
    // hint — the planner must be free to fall back to a key-partitioned
    // shuffle join when size stats say the build side won't fit. Forcing
    // the threshold to -1 simulates that regime: every UNhinted join must
    // plan as SortMergeJoin/ShuffledHashJoin (the bounded-cardinality
    // sides — top-V vocabulary, per-cohort-day sizes — legitimately keep
    // their hints and stay broadcast), and the results must be identical.
    val names = Seq("q102_unigram_quality", "q109_fk_orphan_audit",
      "q113_funnel_stages", "q114_cohort_retention", "q116_curation_v2")
    val expected = names.map(n =>
      n -> QueryRegistry.queries(n)(spark, sf).collect().toSeq).toMap
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      for (n <- names) {
        val df = QueryRegistry.queries(n)(spark, sf)
        val got = df.collect().toSeq
        val p = df.queryExecution.executedPlan.toString
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$n: unhinted join did not degrade to a shuffle join:\n$p")
        assert(!p.contains("CartesianProduct"), s"$n:\n$p")
        assert(got == expected(n), s"$n: shuffle-join results differ")
      }
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("DSIR importance weighting ranks target-vocabulary docs first; weights broadcast, no all-pairs") {
    import spark.implicits._
    // a distinctive target vocabulary: target docs (ids 0,7,14) speak
    // 'quantum flux capacitor', the raw pool speaks common words. A
    // raw doc USING the target vocabulary must outrank raw docs that
    // don't — that is the method's whole point.
    val docs = Seq(
      (0L, "quantum flux capacitor quantum flux"),
      (7L, "flux capacitor quantum quantum"),
      (14L, "capacitor quantum flux flux"),
      (1L, "the cat sat on the mat"),
      (2L, "a dog ran in a park"),
      (3L, "quantum flux capacitor in the park"), // raw, target-like
      (4L, "the the the a a of of")).toDF("doc_id", "text")
    val top = graft.functions.CurationOps
      .dsirTopK(docs, org.apache.spark.sql.functions.col("doc_id") % 7 === 0, 7)
      .collect()
    val rankOf = top.map(r => r.getLong(0) -> r.getInt(2)).toMap
    // the target-like raw doc ranks above every plain raw doc
    assert(rankOf(3L) < rankOf(1L), rankOf.toString)
    assert(rankOf(3L) < rankOf(2L))
    assert(rankOf(3L) < rankOf(4L))
    // and weights order target-vocab docs at the top overall
    assert(top.take(4).map(_.getLong(0)).toSet === Set(0L, 7L, 14L, 3L))
    // plan shape: the bucket-weight join is a broadcast, and nothing
    // in the plan is a cartesian over documents
    val plan = graft.functions.CurationOps
      .dsirTopK(docs, org.apache.spark.sql.functions.col("doc_id") % 7 === 0, 7)
      .queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("round-6 curation ops keep their scale shapes: narrow split, " +
      "broadcast eval, anti-join ingest dedup") {
    // q126: the split assignment is a pure narrow map — the only join-free
    // exchanges are the (lang, split) aggregate and presentation sort
    assert(!plan("q126_stratified_split").contains("Join"),
      plan("q126_stratified_split"))
    // q129: the fixed-size eval side broadcasts; corpus never sort-merges
    val p129 = plan("q129_semantic_decontam")
    assert(p129.contains("BroadcastNestedLoopJoin") ||
      p129.contains("BroadcastHashJoin"), p129)
    assert(!p129.contains("SortMergeJoin"), p129)
    // q130: the batch-vs-seen dedup plans as a LEFT ANTI join, no
    // cartesian anywhere
    val p130 = plan("q130_incremental_dedup")
    assert(p130.contains("LeftAnti"), p130)
    assert(!p130.contains("CartesianProduct"), p130)
  }

  test("q121 native session windows aggregate without a rank/window pass") {
    // the merge-on-aggregate claim: sessions form inside an Aggregate
    // (MergingSessions / session-window aggregate), not via a window
    // function rank pass over all events
    val p = plan("q121_session_window_native")
    assert(p.toLowerCase.contains("session"), p)
    assert(!p.contains(") Window"), p) // no window-function operator
  }
}

class MultimodalSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.functions.MultimodalOps

  test("frame sampling keeps every stride-th frame and exact chunk bytes") {
    val payload = ("x" * 250).getBytes("UTF-8")
    val frames = MultimodalOps.frameSampleStub(
      MultimodalOps.Blob(7L, payload)).toSeq
    assert(frames.map(_.frame_idx) === Seq(0L, 2L))
    assert(frames.map(_.n_chars) === Seq(100L, 50L))
    assert(frames.forall(_.doc_id == 7L))
  }

  test("resize preserves aspect ratio and never upscales") {
    val meta = MultimodalOps.MediaMeta(1L, 0L, 1024L, 512L, "stub", "")
    val (w, h) = MultimodalOps.resizeStub(meta, 256L)
    assert(w === 256L && h === 128L)
    val small = MultimodalOps.MediaMeta(1L, 0L, 100L, 50L, "stub", "")
    assert(MultimodalOps.resizeStub(small, 256L) === ((100L, 50L)))
  }

  /** Real image bytes through the JDK's own encoder — the decode side
    * then reads them back through javax.imageio, so the test exercises
    * the production codec path end to end, not a synthetic header.
    */
  private def imageBytes(w: Int, h: Int, format: String): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    (0 until w).foreach(x => (0 until h).foreach(y =>
      img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
    val out = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, format, out),
      s"JDK has no $format writer")
    out.toByteArray
  }

  test("decodeMedia reads TRUE dimensions from real PNG and JPEG bytes via javax.imageio") {
    val png = MultimodalOps.decodeMedia(
      MultimodalOps.Blob(1L, imageBytes(37, 23, "png")))
    assert((png.width, png.height, png.codec) === ((37L, 23L, "png")))
    val jpg = MultimodalOps.decodeMedia(
      MultimodalOps.Blob(2L, imageBytes(64, 48, "jpg")))
    assert((jpg.width, jpg.height) === ((64L, 48L)))
    assert(jpg.codec.toLowerCase.startsWith("jp")) // "jpeg"/"jpg" per reader
    // n_bytes and fingerprint still describe the raw payload
    val raw = imageBytes(8, 8, "png")
    val m = MultimodalOps.decodeMedia(MultimodalOps.Blob(3L, raw))
    assert(m.n_bytes === raw.length.toLong)
  }

  test("decodeMedia falls back to the stub for non-image payloads and corrupt image headers") {
    val text = "no image signature here".getBytes("UTF-8")
    val t = MultimodalOps.decodeMedia(MultimodalOps.Blob(1L, text))
    assert(t.codec === "stub")
    assert((t.width, t.height) ===
      ((text.length.toLong % 1024, text.length.toLong * 7 % 768)))
    // PNG signature but garbage after it: signature sniff passes, the
    // codec rejects, the stub answers — the batch never fails
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10, 26, 10,
      1, 2, 3, 4, 5, 6, 7, 8)
    assert(MultimodalOps.decodeMedia(MultimodalOps.Blob(2L, corrupt))
      .codec === "stub")
  }

  /** Real WAV bytes through the JDK's own encoder — the decode reads
    * them back via javax.sound.sampled, production path end to end.
    */
  private def wavBytes(sampleRate: Float, channels: Int,
      nFrames: Int): Array[Byte] = {
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels,
      true, false)
    val pcm = Array.tabulate[Byte](nFrames * fmt.getFrameSize)(i =>
      ((i * 31) % 127).toByte)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  test("decodeAudio reads TRUE sample rate/channels/frames from real WAV bytes via javax.sound.sampled") {
    val wav = wavBytes(16000f, 2, 4800)
    val m = MultimodalOps.decodeAudioOrStub(MultimodalOps.Blob(1L, wav))
    assert(m.codec === "wave")
    assert(m.sample_rate === 16000.0)
    assert(m.channels === 2)
    assert(m.frames === 4800L)
    assert(m.duration_ms === 300L) // 4800 frames / 16 kHz
    assert(m.n_bytes === wav.length.toLong)
    // mono at a different rate
    val mono = MultimodalOps.decodeAudioOrStub(
      MultimodalOps.Blob(2L, wavBytes(8000f, 1, 8000)))
    assert((mono.channels, mono.duration_ms) === ((1, 1000L)))
  }

  test("decodeAudio falls back to the stub for non-audio payloads and corrupt RIFF headers") {
    val text = "just text".getBytes("UTF-8")
    assert(MultimodalOps.decodeAudioOrStub(MultimodalOps.Blob(1L, text))
      .codec === "stub")
    // a RIFF/WAVE signature with garbage after it: sniff passes, the
    // parser rejects, the stub answers
    val corrupt = "RIFFWAVEgarbage".getBytes("ISO-8859-1")
    assert(MultimodalOps.decodeAudioOrStub(MultimodalOps.Blob(2L, corrupt))
      .codec === "stub")
  }

  test("BMP's weak 2-byte magic is backed by the DIB header check: 'BM'-prefixed text stubs, real BMP decodes") {
    // the JDK's BMPImageReaderSpi.canDecodeInput checks ONLY the two
    // magic bytes, so without the secondary DIB header-size check a
    // text payload starting "BM" would reach getWidth and surface
    // garbage "real" dimensions (review finding)
    val text = "BMW annual report for shareholders, volume 7"
      .getBytes("UTF-8")
    val m = MultimodalOps.decodeMedia(MultimodalOps.Blob(1L, text))
    assert(m.codec === "stub")
    // a real BMP still decodes with true dimensions
    val bmp = MultimodalOps.decodeMedia(
      MultimodalOps.Blob(2L, imageBytes(19, 7, "bmp")))
    assert((bmp.width, bmp.height, bmp.codec) === ((19L, 7L, "bmp")))
  }

  test("the distributed decode dispatches per row: images and non-images in one frame") {
    import spark.implicits._
    val rows = Seq(
      MultimodalOps.Blob(1L, imageBytes(20, 10, "png")),
      MultimodalOps.Blob(2L, "plain text".getBytes("UTF-8")),
      MultimodalOps.Blob(3L, imageBytes(11, 44, "jpg")))
    val got = spark.createDataset(rows)
      .mapPartitions(_.map(MultimodalOps.decodeMedia))
      .collect().sortBy(_.doc_id)
    assert(got.map(m => (m.doc_id, m.width, m.height)).toSeq ===
      Seq((1L, 20L, 10L), (2L, 10L % 1024, 10L * 7 % 768), (3L, 11L, 44L)))
    assert(got.map(_.codec === "stub").toSeq === Seq(false, true, false))
  }

  /** Minimal ISO-BMFF bytes built box by box — ftyp + moov(mvhd,
    * trak(tkhd)...) — so the parser is exercised on the real layout
    * (mvhd v0/v1, 16.16 track dims, optional 64-bit largesize moov).
    */
  private def mp4Bytes(timescale: Long, duration: Long,
      tracks: Seq[(Long, Long)], v1: Boolean = false,
      largesizeMoov: Boolean = false): Array[Byte] = {
    import java.nio.ByteBuffer
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(typ.getBytes("ISO-8859-1"))
        .put(payload)
      b.array()
    }
    val ftyp = box("ftyp", "isommp42".getBytes("ISO-8859-1"))
    val mvhd = {
      val size = if (v1) 112 else 100
      val b = ByteBuffer.allocate(size)
      if (v1) b.put(1.toByte).put(Array[Byte](0, 0, 0))
        .putLong(0L).putLong(0L).putInt(timescale.toInt).putLong(duration)
      else b.put(0.toByte).put(Array[Byte](0, 0, 0))
        .putInt(0).putInt(0).putInt(timescale.toInt).putInt(duration.toInt)
      box("mvhd", b.array()) // trailing rate/volume/matrix stay zero
    }
    val traks = tracks.map { case (w, h) =>
      val b = ByteBuffer.allocate(84)
      b.position(76) // ver/flags/times/id/duration/reserved/matrix zeroed
      b.putInt((w << 16).toInt).putInt((h << 16).toInt)
      box("trak", box("tkhd", b.array()))
    }
    val moovPayload = mvhd ++ traks.flatten
    val moov =
      if (!largesizeMoov) box("moov", moovPayload)
      else {
        // size == 1 -> 64-bit largesize at offset 8 (payload at 16)
        val b = ByteBuffer.allocate(16 + moovPayload.length)
        b.putInt(1).put("moov".getBytes("ISO-8859-1"))
          .putLong(16L + moovPayload.length).put(moovPayload)
        b.array()
      }
    ftyp ++ moov
  }

  test("decodeVideo parses mvhd duration/timescale and 16.16 tkhd dimensions from planted ISO-BMFF bytes (v0, v1, largesize)") {
    // v0: 90 s at timescale 600, one audio-shaped 0x0 track plus the
    // video track — max-over-tracks picks the video dimensions
    val v0 = MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(1L,
      mp4Bytes(600L, 54000L, Seq((0L, 0L), (1280L, 720L)))))
    assert(v0.codec === "mp4")
    assert(v0.major_brand === "isom")
    assert(v0.timescale === 600L)
    assert(v0.duration_ms === 90000L)
    assert((v0.width, v0.height) === ((1280L, 720L)))
    // v1 (64-bit times) wrapped in a largesize moov
    val v1 = MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(2L,
      mp4Bytes(90000L, 13500000L, Seq((1920L, 1080L)), v1 = true,
        largesizeMoov = true)))
    assert(v1.codec === "mp4")
    assert(v1.duration_ms === 150000L)
    assert((v1.width, v1.height) === ((1920L, 1080L)))
    // zero tracks: metadata still parses, dims are 0x0
    val noTrack = MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(3L,
      mp4Bytes(1000L, 2500L, Nil)))
    assert((noTrack.duration_ms, noTrack.width) === ((2500L, 0L)))
  }

  test("decodeVideo falls back to the stub for non-video payloads, truncated boxes, and an ftyp without moov") {
    val text = "not a video at all".getBytes("UTF-8")
    assert(MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(1L, text))
      .codec === "stub")
    // a valid ftyp signature followed by garbage: sniff passes, the
    // walk finds no moov, the stub answers — the batch never fails
    val noMoov = java.nio.ByteBuffer.allocate(24).putInt(16)
      .put("ftypisom".getBytes("ISO-8859-1")).putInt(0)
      .putInt(0x6a756e6b).putInt(0) // an 0-sized junk trailer box
      .array()
    assert(MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(2L, noMoov))
      .codec === "stub")
    // truncation mid-box: the planted v0 file cut to 40 bytes
    val cut = mp4Bytes(600L, 600L, Seq((64L, 48L))).take(40)
    assert(MultimodalOps.decodeVideoOrStub(MultimodalOps.Blob(3L, cut))
      .codec === "stub")
    // a malformed 64-bit largesize (size==1, largesize==0) must make
    // PROGRESS and degrade — not spin the box walk forever (a hung
    // executor task is worse than any wrong answer; review finding)
    val zeroLargesize = java.nio.ByteBuffer.allocate(16)
      .putInt(1).put("ftyp".getBytes("ISO-8859-1")).putLong(0L).array()
    assert(MultimodalOps.decodeVideoOrStub(
      MultimodalOps.Blob(4L, zeroLargesize)).codec === "stub")
    // same with a huge/negative largesize whose clamp would go backward
    val negLargesize = java.nio.ByteBuffer.allocate(24)
      .putInt(1).put("ftyp".getBytes("ISO-8859-1"))
      .putLong(Long.MinValue).putLong(0L).array()
    assert(MultimodalOps.decodeVideoOrStub(
      MultimodalOps.Blob(5L, negLargesize)).codec === "stub")
    // and the distributed dispatch shape: one frame, mixed payloads
    import spark.implicits._
    val rows = Seq(
      MultimodalOps.Blob(1L, mp4Bytes(600L, 1200L, Seq((320L, 240L)))),
      MultimodalOps.Blob(2L, text))
    val got = spark.createDataset(rows)
      .mapPartitions(_.map(MultimodalOps.decodeVideoOrStub))
      .collect().sortBy(_.doc_id)
    assert(got.map(_.codec).toSeq === Seq("mp4", "stub"))
    assert(got.head.duration_ms === 2000L)
  }

  test("q76 output agrees with a direct per-row recomputation") {
    val got = QueryRegistry.queries("q76_frame_sample")(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .flatMap { r =>
        MultimodalOps.frameSampleStub(MultimodalOps.Blob(
          r.getLong(0), r.getString(1).getBytes("UTF-8")))
      }.sortBy(f => (f.doc_id, f.frame_idx))
    assert(got.length === docs.length)
    got.zip(docs).foreach { case (row, f) =>
      assert(row.getLong(0) === f.doc_id)
      assert(row.getLong(1) === f.frame_idx)
      assert(row.getString(3) === f.fingerprint)
    }
  }

  test("q166/q168 plan claims: string-bounds file skipping AND directory pruning both hold on a DIRTY (live-delta) lake served by the native MOR read") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.io.{LakeScanCheck, PartitionedLake}
    val path = java.nio.file.Files
      .createTempDirectory("graft-planq168").toString + "/lake"
    val rows = (0 until 4000).map { i =>
      (i.toLong, s"p${i % 4}", f"s${i % 40}%03d", i * 1.0)
    }
    PartitionedLake.write(rows.toDF("k", "part", "s", "bal")
      .repartitionByRange(16, col("part"), col("s"))
      .sortWithinPartitions("part", "s"),
      path, "part", statsCols = Seq("s"))
    // dirty p0 with a small delta log — the shape q168 pins: reads must
    // NOT lose pruning just because sidecars are live
    PartitionedLake.cdcSinkMergeOnRead(spark, path, "part", "k", "bal",
      Seq((0L, "p0", 1L, "U", 9.9)).toDF("k", "part", "seq", "op", "val"))
    val df = spark.read.format("graft-lake-v2").option("path", path).load()
      .filter(col("part") === "p0" && col("s") >= "s010" &&
        col("s") <= "s012")
    val got = df.select("k", "bal").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = rows.filter(r => r._2 == "p0" && r._3 >= "s010" &&
      r._3 <= "s012")
      .map(r => r._1 -> (if (r._1 == 0L) 9.9 else r._4)).toMap
    assert(got === want, "merged MOR read must stay correct under pruning")
    // file-level claim: string footer bounds drop files INSIDE the
    // dirty directory (post-skip strictly below pre-skip)
    val skips = LakeScanCheck.nativeStatsSkipping(df)
    assert(skips.nonEmpty && skips.forall { case (post, pre) => post < pre },
      s"string bounds must skip files in a dirty directory: $skips")
    assert(skips.forall(_._1 > 0))
    // directory claim: the scan's kept-directory PRE-skip file count is
    // strictly below the lake's live data-file total — the part=p0
    // partition filter pruned the other (clean) directories even though
    // the lake carries live deltas
    val totalFiles = PartitionedLake.read(spark, path).inputFiles
      .count(!_.contains("delta-"))
    val keptPre = skips.map(_._2).sum
    assert(keptPre < totalFiles,
      s"directory claims must prune on a dirty lake: kept $keptPre of " +
        s"$totalFiles files")
  }
}
