package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input behavior (a data-VALIDATION engine must itself be
  * well-defined on bad bytes) and an idempotent micro-batch sink.
  */
class RobustnessSpec extends AnyFunSuite {
  import SparkTestSession._

  private def writeLines(lines: Seq[String]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-robust")
    val f = dir.resolve("data.json")
    java.nio.file.Files.writeString(f, lines.mkString("\n"))
    f.toString
  }

  test("bench contention reference: committed history covers every query; min-of-two semantics") {
    val names = QueryRegistry.queries.keySet
    // format contract of the committed idle reference the per-query
    // contention escape reads (Bench header note): every registered query
    // present, plausible idle-run magnitudes, recorded at the bench SF
    val committed = Bench.loadHistory(names, "/root/testdata/sf0.1", "32",
      "bench_history.json", "/nonexistent/prior.json")
    assert(committed.keySet === names)
    assert(committed.values.forall(v => v > 0 && v < 60), committed)
    // min-of-available across committed + prior-run files: a contended
    // prior run can only raise one file's numbers, min keeps the floor
    val dir = java.nio.file.Files.createTempDirectory("graft-bench-hist")
    val a = dir.resolve("committed.json")
    val b = dir.resolve("prior.json")
    java.nio.file.Files.writeString(a,
      """{"sf":"X","queries":{"qa":1.000,"qb":2.000}}""")
    java.nio.file.Files.writeString(b,
      """{"sf":"X","queries":{"qb":0.500,"qc":3.000}}""")
    val h = Bench.loadHistory(Set("qa", "qb", "qc"), "X", "32",
      a.toString, b.toString)
    assert(h === Map("qa" -> 1.0, "qb" -> 0.5, "qc" -> 3.0))
    // name filtering keeps non-query JSON numbers (total, sentinel) out
    assert(Bench.loadHistory(Set("qa"), "X", "32", a.toString, b.toString) ===
      Map("qa" -> 1.0))
    // pretty-printed JSON (": " separators, e.g. a python round-trip)
    // parses identically — a spaced rewrite once silently disarmed the
    // whole reference
    val c = dir.resolve("spaced.json")
    java.nio.file.Files.writeString(c,
      """{"sf": "X", "queries": {"qa": 1.5, "qb": 2.5}}""")
    assert(Bench.loadHistory(Set("qa", "qb"), "X", "32", c.toString,
      dir.resolve("none.json").toString) === Map("qa" -> 1.5, "qb" -> 2.5))
    // an SF-mismatched reference is ignored entirely: at a decade run
    // (sf1/sf10) every query legitimately exceeds 2.5x its sf0.1 time,
    // and an armed escape there would quintuple the sweep
    assert(Bench.loadHistory(Set("qa", "qb", "qc"), "out/sf1", "32",
      a.toString, b.toString).isEmpty)
    // absent files -> empty reference: the escape stays disarmed instead
    // of misfiring on garbage
    assert(Bench.loadHistory(names, "X", "32", dir.resolve("x.json").toString,
      dir.resolve("y.json").toString).isEmpty)
    // integer-formatted timings (a round-trip writer emitting "qa": 3)
    // must still load — the old fraction-required regex silently dropped
    // them, disarming the escape for that query
    val d = dir.resolve("ints.json")
    java.nio.file.Files.writeString(d,
      """{"sf": "X", "queries": {"qa": 3, "qb": 2.5}}""")
    assert(Bench.loadHistory(Set("qa", "qb"), "X", "32", d.toString,
      dir.resolve("none.json").toString) === Map("qa" -> 3.0, "qb" -> 2.5))
    // exponent-formatted timings must DROP, not mis-parse: reading
    // "1.49E-1" as 1.49 would inflate the reference 10x and mask the
    // very contention the escape exists to catch
    val ex = dir.resolve("exp.json")
    java.nio.file.Files.writeString(ex,
      """{"sf": "X", "queries": {"qa": 1.49E-1, "qb": 2.5}}""")
    assert(Bench.loadHistory(Set("qa", "qb"), "X", "32", ex.toString,
      dir.resolve("none.json").toString) === Map("qb" -> 2.5))
    // CORE-COUNT gate (round 19): a reference recorded at another cpus
    // count is not comparable (the driver's low-core scaling run would
    // otherwise arm the escape on every poorly-scaling query — or, in
    // the min direction, mask contention with 32-core floors); an
    // UNSTAMPED file is a legacy 32-core recording, comparable only at 32
    val st = dir.resolve("stamped.json")
    java.nio.file.Files.writeString(st,
      """{"sf": "X", "cpus": "8", "queries": {"qa": 1.5}}""")
    assert(Bench.loadHistory(Set("qa"), "X", "8", st.toString,
      dir.resolve("none.json").toString) === Map("qa" -> 1.5))
    assert(Bench.loadHistory(Set("qa"), "X", "32", st.toString,
      dir.resolve("none.json").toString).isEmpty)
    assert(Bench.loadHistory(Set("qa"), "X", "8", a.toString,
      dir.resolve("none.json").toString).isEmpty) // unstamped ≠ 8
  }

  test("bench cross-invocation sweep records: commit+sf gated, failed excluded, minimum wins") {
    val body = """{"total":10.0,"n_queries":3,"failed":["qc"],""" +
      """"sentinel":{"start":0.2,"end":0.25,"waitedSec":0},""" +
      """"contended":false,"sweeps":1,"neverIdle":false,""" +
      """"sweepsMerged":1,"commit":"abc123","cpus":"32",""" +
      """"queries":{"qa":1.200,"qb":0.300,"qc":60.000},"sf":"X"}"""
    val names = Set("qa", "qb", "qc")
    // matching commit + sf + cpus: timings load, the sweep's OWN failed
    // list is excluded (a penalty timing is not intrinsic-cost evidence)
    assert(Bench.parseSweepFile(body, "abc123", "X", "32", names) ===
      Some(Map("qa" -> 1.2, "qb" -> 0.3)))
    // a record from another commit can NEVER fold — the code it
    // measured is gone; same for a scale mismatch
    assert(Bench.parseSweepFile(body, "def456", "X", "32", names).isEmpty)
    assert(Bench.parseSweepFile(body, "abc123", "Y", "32", names).isEmpty)
    // CORE-COUNT gate (round 19): a 32-core record must not fold into
    // the driver's low-core scaling run (round 18's c8 artifact
    // published 32-core mins for most queries — fake perfect scaling);
    // an unstamped legacy record never folds
    assert(Bench.parseSweepFile(body, "abc123", "X", "8", names).isEmpty)
    assert(Bench.parseSweepFile(body.replace(""""cpus":"32",""", ""),
      "abc123", "X", "32", names).isEmpty)
    // non-query numerics (total, sentinel fields) never leak in
    assert(!Bench.parseSweepFile(body, "abc123", "X", "32", names).get
      .keySet.exists(Set("total", "start", "end", "waitedSec")))
    // the PRUNE key is the commit stamp alone: a same-commit record at
    // another sf parses to None here but must NOT be pruned (a later
    // invocation at that sf still folds it) — sweepCommit is what the
    // recorder consults before deleting
    assert(Bench.sweepCommit(body) === Some("abc123"))
    assert(Bench.sweepCommit("""{"queries":{}}""") === None)
    // gitHead resolves THIS repo's HEAD to a 40-hex sha (the stamp that
    // scopes cross-invocation merging to one code state)
    val sha = Bench.gitHead()
    assert(sha.matches("[0-9a-f]{40}"), sha)
    assert(Bench.gitHead("/nonexistent") === "unknown")
  }

  test("bench sampling policy: synthetic contention is escaped, idle runs untouched") {
    def seq(xs: Double*): () => Option[Double] = {
      val it = xs.iterator
      () => if (it.hasNext) Some(it.next()) else fail("sampled past budget")
    }
    // idle box: min-of-2, no escape samples consumed (ref present)
    assert(Bench.measure(0.52, seq(0.48), Some(0.5)) === 0.48)
    // round-7 shape: BOTH min-of-2 samples collide with contention
    // (0.76 s query reads 3.6 s twice); the escape's third sample lands
    // in a contention gap and recovers the intrinsic time
    assert(Bench.measure(3.6, seq(3.5, 0.78), Some(0.76)) === 0.78)
    // fully contended throughout: all 3 extra samples spent, best seen
    // wins — degrades to the old min-of-N behavior, never loops forever
    assert(Bench.measure(3.6, seq(3.5, 3.4, 3.3, 3.2), Some(0.76)) === 3.2)
    // no reference (first run at a new SF): plain min-of-2, escape off
    assert(Bench.measure(3.6, seq(3.5), None) === 3.5)
    // jitter floor: a 20 ms query reading 60 ms is not "contention"
    assert(Bench.measure(0.06, seq(0.055), Some(0.02)) === 0.055)
    // failed re-samples spend attempts without improving the min
    val failing = { var n = 0; () => { n += 1; if (n > 4) fail("unbounded") else None } }
    assert(Bench.measure(3.6, failing, Some(0.5)) === 3.6)
    // round-8 shape: a 0.8 s query reading 1.65 s (2.06x) slipped under
    // the old uniform 2.5x bar; references >= 0.3 s now escape at 1.6x
    assert(Bench.measure(1.65, seq(1.64, 0.82), Some(0.8)) === 0.82)
    // ...while a genuinely idle 1.25x reading spends no escape samples
    assert(Bench.measure(1.0, seq(1.05), Some(0.8)) === 1.0)
    // sub-0.3 s references keep the loose 2.5x bar (scheduling noise)
    assert(Bench.measure(0.55, seq(0.52), Some(0.25)) === 0.52)
  }

  test("event-time encoding contract: long-nanos, NTZ, and LTZ all normalize to TIMESTAMP") {
    // the round-7 harness regen silently switched events.ts from
    // nanos-as-long to naive timestamp[us] and broke every watermark;
    // this pins Tables.events' normalization for all three encodings a
    // parquet writer can produce
    import spark.implicits._
    import org.apache.spark.sql.types._
    val micros = 1704067200123456L // 2024-01-01T00:00:00.123456 UTC
    val base = java.nio.file.Files.createTempDirectory("graft-ts-enc")
    def dirFor(name: String): String = {
      val d = base.resolve(name); java.nio.file.Files.createDirectory(d)
      d.toString
    }
    // (a) legacy nanos-as-long (how Spark reads parquet TIMESTAMP(NANOS))
    val dLong = dirFor("long")
    Seq((1L, micros * 1000L)).toDF("event_id", "ts")
      .write.parquet(s"$dLong/events.parquet")
    // (b) naive timestamp[us] -> Spark infers TIMESTAMP_NTZ (pandas/arrow default)
    val dNtz = dirFor("ntz")
    Seq((2L, java.time.LocalDateTime.parse("2024-01-01T00:00:00.123456")))
      .toDF("event_id", "ts").write.parquet(s"$dNtz/events.parquet")
    // (c) UTC-adjusted timestamp -> TIMESTAMP passthrough
    val dLtz = dirFor("ltz")
    Seq((3L, new java.sql.Timestamp(micros / 1000L)))
      .toDF("event_id", "ts")
      .withColumn("ts", col("ts") + expr("INTERVAL 456 MICROSECONDS"))
      .write.parquet(s"$dLtz/events.parquet")
    for (d <- Seq(dLong, dNtz, dLtz)) {
      val df = Tables.events(spark, d)
      assert(df.schema("ts").dataType === TimestampType, d)
      val got = df.select(unix_micros(col("ts"))).collect()(0).getLong(0)
      assert(got === micros, d)
      // the normalized column is watermark-eligible (the round-7 break)
      df.withWatermark("ts", "1 minute")
    }
  }

  test("PERMISSIVE JSON scan quarantines corrupt records instead of failing") {
    val path = writeLines(Seq(
      """{"id": 1, "v": "ok"}""",
      """{"id": 2, "v": """,          // truncated
      """{"id": 3, "v": "also ok"}"""))
    // caching first is required: Spark disallows queries touching ONLY the
    // internal corrupt-record column on a raw scan
    val df = spark.read
      .schema("id LONG, v STRING, _corrupt_record STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)
      .cache()
    val rows = df.collect()
    assert(rows.length === 3)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
    assert(df.filter(col("_corrupt_record").isNull)
      .select(sum("id")).collect()(0).getLong(0) === 4L)
  }

  test("FAILFAST surfaces the malformed record as an error") {
    val path = writeLines(Seq("""{"id": 1}""", """not json at all"""))
    val df = spark.read
      .schema("id LONG")
      .option("mode", "FAILFAST")
      .json(path)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("MALFORMED_RECORD") ||
      Option(e.getCause).exists(_.getMessage.contains("MALFORMED_RECORD")),
      e.toString)
  }

  test("CSV DROPMALFORMED keeps only parseable rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv")
    val f = dir.resolve("d.csv")
    java.nio.file.Files.writeString(f, "a,b\n1,x\nnot-a-number,y\n3,z")
    val df = spark.read
      .schema("a LONG, b STRING")
      .option("header", "true")
      .option("mode", "DROPMALFORMED")
      .csv(f.toString)
    // collect(), not count(): count() prunes all columns so nothing is
    // parsed and malformed rows aren't detected (documented Spark quirk)
    val rows = df.collect()
    assert(rows.length === 2)
    assert(rows.map(_.getLong(0)).sum === 4L)
  }

  test("a merge-on-read duplicate-identity refusal is found by its condition and tag, not by messages") {
    import graft.io.{LakeCatalog, LakeDeltaRowLevel, PartitionedLake}
    import spark.implicits._
    val lake = java.nio.file.Files.createTempDirectory("graft-mor-refusal").toString + "/lake"
    PartitionedLake.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "part", "bal"),
      lake, "part")
    spark.conf.set("spark.sql.catalog.graft_lake", classOf[LakeCatalog].getName)
    spark.conf.set(LakeDeltaRowLevel.ModeKey, LakeDeltaRowLevel.MergeOnRead)
    spark.conf.set(LakeDeltaRowLevel.KeyKey, "k")
    val refused = try {
      Seq((7L, "a", 1.0), (7L, "a", 2.0)).toDF("k", "part", "bal")
        .createOrReplaceTempView("mor_refusal_src")
      intercept[IllegalStateException] {
        spark.sql(s"""MERGE INTO graft_lake.`$lake` t USING mor_refusal_src s
                     |ON t.k = s.k
                     |WHEN MATCHED THEN UPDATE SET bal = s.bal
                     |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    } finally {
      spark.conf.unset(LakeDeltaRowLevel.ModeKey)
      spark.conf.unset(LakeDeltaRowLevel.KeyKey)
    }
    assert(refused.getMessage.startsWith("row-level delta write produced more than one"),
      refused.getMessage)
    assert(refused.getMessage.contains("one row per identity"))
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L))
    val jobFailure = refused.getCause
    // re-wrapped by layers that reword or drop the message: still found
    val rewrapped = new RuntimeException("commit failed",
      new org.apache.spark.SparkException("stage aborted (details redacted)",
        new RuntimeException(null: String, jobFailure)))
    assert(PartitionedLake.morDupRefusal(rewrapped).contains(refused.getMessage))
    // the raised SparkThrowable itself with its message rewritten: the
    // condition and the tagged parameter alone identify it
    val raised = Iterator.iterate[Throwable](jobFailure)(_.getCause).takeWhile(_ != null)
      .collectFirst { case t: org.apache.spark.SparkThrowable
        if t.getCondition == "USER_RAISED_EXCEPTION" => t }.get
    final class Reworded(cause: Throwable) extends RuntimeException("redacted", cause)
        with org.apache.spark.SparkThrowable {
      override def getCondition: String = raised.getCondition
      override def getMessageParameters: java.util.Map[String, String] =
        raised.getMessageParameters
    }
    assert(PartitionedLake.morDupRefusal(new RuntimeException("x", new Reworded(null)))
      .contains(refused.getMessage))
    // the refusal's words without the marker are not a refusal
    assert(PartitionedLake.morDupRefusal(new RuntimeException(
      "failed: " + refused.getMessage, new RuntimeException(refused.getMessage))).isEmpty)
  }

  test("foreachBatch sink is idempotent under batch replay") {
    val inDir = java.nio.file.Files.createTempDirectory("graft-fb-in").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-fb-out").toString
    val e = Tables.events(spark, sf).select("event_id", "event_type")
    e.limit(100).write.mode("overwrite").parquet(s"$inDir/in")

    def writeBatch(batch: org.apache.spark.sql.DataFrame, id: Long): Unit =
      // overwrite-by-batch-id: replaying a batch rewrites the same output
      // partition instead of appending duplicates — the standard
      // exactly-once recipe for file sinks under retries
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$id")

    val streamIn = spark.readStream.schema(e.schema).parquet(s"$inDir/in")
    val q = streamIn.writeStream
      .foreachBatch((b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: Long) => writeBatch(b, id))
      .option("checkpointLocation", s"$outDir/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()
    val once = spark.read.parquet(s"$outDir/batch_id=0").count()
    // simulate a retry of batch 0: same data, same id — output unchanged
    writeBatch(spark.read.parquet(s"$inDir/in"), 0L)
    val twice = spark.read.parquet(s"$outDir/batch_id=0").count()
    assert(once === 100L)
    assert(twice === once)
  }
}
