package graft

import graft.app.BatchRunner
import graft.io.PartitionedLake
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.time.LocalDate

class CdcApplySpec extends AnyFunSuite {
  import SparkTestSession._

  test("cdcApply: latest op wins, deletes drop, unknown keys ignored") {
    import spark.implicits._
    val base = Seq((1L, 10.0, "x"), (2L, 20.0, "y"), (3L, 30.0, "z"))
      .toDF("id", "bal", "tag")
    val ops = Seq(
      (1L, 100L, "U", 11.0), (1L, 200L, "D", 0.0),   // U then D -> gone
      (2L, 100L, "D", 0.0), (2L, 200L, "U", 22.0),   // D then U -> survives
      (9L, 100L, "U", 99.0))                          // key not in base
      .toDF("k", "seq", "op", "val")
    val out = graft.operators.RelationalOps
      .cdcApply(base, ops, "id", "bal")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    // key 1 deleted; key 2 updated by the later op; key 3 untouched
    assert(out.toSeq === Seq((2L, 22.0, "y"), (3L, 30.0, "z")))
  }
}

class BatchRunnerSpec extends AnyFunSuite {
  import SparkTestSession._

  test("batch validates independently and isolates bad submissions") {
    val base = Files.createTempDirectory("graft-batch").toString
    // submission A: valid with one error
    val a = Paths.get(base, "subA"); Files.createDirectory(a)
    Files.writeString(a.resolve("submission.csv"),
      "submission,cbc\nsubmitter,x\nparticipants,1\nbiospecimens,0\n")
    Files.writeString(a.resolve("demographic.csv"),
      "Research_Participant_ID,Age\n14_000001,30\n")
    // submission B: rejected (no submission.csv)
    val b = Paths.get(base, "subB"); Files.createDirectory(b)
    Files.writeString(b.resolve("demographic.csv"),
      "Research_Participant_ID,Age\n14_000002,40\n")
    // submission C: empty dir
    val c = Paths.get(base, "subC"); Files.createDirectory(c)

    val outcomes = BatchRunner.run(spark,
      Seq(s"$base/subA", s"$base/subB", s"$base/subC"),
      s"$base/out", 14, LocalDate.of(2026, 8, 12))
    assert(outcomes.length == 3)
    val byName = outcomes.map(o => o.submission -> o).toMap
    assert(byName("subA").isInstanceOf[BatchRunner.Validated])
    assert(byName("subB") == BatchRunner.Rejected("subB",
      "Submission File was not included in the list of files to validate"))
    assert(byName("subC") == BatchRunner.Rejected("subC", "no sheets found"))
    val validated = byName("subA").asInstanceOf[BatchRunner.Validated]
    assert(validated.statuses.nonEmpty)
  }
}

/** Model check of the snapshot commit protocol: a seeded random sequence
  * of upsert / CDC-fold / compact / vacuum operations against an
  * in-memory map of the lake's logical contents. After EVERY operation
  * `read()` must equal the model, and a reader pinned before an
  * operation must keep seeing the pre-op snapshot until a vacuum
  * reclaims it — the two invariants the whole protocol exists for,
  * exercised across operation interleavings no single scenario test
  * covers.
  */
class LakeModelSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("random op sequences: read() == model after every op; pinned readers survive non-vacuum ops") {
    LakeModelHarness.run()
  }
}

/** The single-level random-op model run, shared so LakeManifestV2Spec
  * can replay the exact same sequence under forced v2 sharded manifests
  * (format must be invisible to semantics). Lives here next to the spec
  * that owns its invariants.
  */
object LakeModelHarness extends org.scalatest.Assertions {
  import SparkTestSession._
  import spark.implicits._

  def run(): Unit = {
    val rnd = new scala.util.Random(7)
    val path = java.nio.file.Files.createTempDirectory("graft-model").toString + "/lake"
    val partPool = Seq("p0", "p1", "p=2", null) // incl. escaped + null dirs
    var model = Map.empty[(String, Long), Double]
    var seq = 0L

    def upsertOp(): Unit = {
      val n = 1 + rnd.nextInt(4)
      val rows = Seq.fill(n)((partPool(rnd.nextInt(partPool.size)),
          rnd.nextInt(8).toLong, math.floor(rnd.nextDouble() * 100)))
        .distinctBy(r => (r._1, r._2)) // one row per composite identity
      val df = rows.map(r => (r._2, r._1, r._3)).toDF("k", "part", "bal")
      graft.io.PartitionedLake.upsert(spark, path, "part", "k", df)
      rows.foreach { case (p, k, v) => model += ((p, k) -> v) }
    }

    def cdcOp(): Unit = {
      val keys = model.keys.toSeq
      val n = 1 + rnd.nextInt(4)
      val ops = Seq.fill(n) {
        // mostly existing identities, some unknown (must be ignored)
        val (p, k) = if (keys.nonEmpty && rnd.nextInt(4) > 0)
          keys(rnd.nextInt(keys.size))
        else (partPool(rnd.nextInt(partPool.size)), (8 + rnd.nextInt(4)).toLong)
        seq += 1
        val isDelete = rnd.nextBoolean()
        (k, p, seq, if (isDelete) "D" else "U",
          math.floor(rnd.nextDouble() * 100))
      }
      val df = ops.map(o => (o._1, o._2, o._3, o._4, o._5))
        .toDF("k", "part", "seq", "op", "val")
      // copy-on-write and merge-on-read folds share ONE semantics; the
      // model cannot tell which sink ran, so interleave them randomly —
      // every mixed sequence (MOR deltas later rewritten by CoW, CoW
      // rows later tombstoned by MOR, compact/vacuum between) must agree
      if (rnd.nextBoolean())
        graft.io.PartitionedLake.cdcSink(spark, path, "part", "k", "bal", df)
      else
        graft.io.PartitionedLake.cdcSinkMergeOnRead(spark, path, "part",
          "k", "bal", df)
      // model fold: latest op per (declared partition, key) wins; U only
      // touches existing rows, D drops, unknown identities are ignored
      ops.groupBy(o => (o._2, o._1)).foreach { case ((p, k), os) =>
        val last = os.maxBy(_._3)
        if (model.contains((p, k))) {
          if (last._4 == "D") model -= ((p, k))
          else model += ((p, k) -> last._5)
        }
      }
    }

    /** SQL UPDATE of one key across every partition (the group-based
      * row-level rewrite): compact() first — the documented workflow,
      * since row-level statements refuse over live MOR deltas — then
      * bump the key's balance everywhere it exists; a key that exists
      * nowhere must publish nothing and change nothing.
      */
    def sqlUpdateOp(): Unit = {
      spark.conf.set("spark.sql.catalog.graft_model_lake",
        classOf[graft.io.LakeCatalog].getName)
      graft.io.PartitionedLake.compact(spark, path)
      val kk = rnd.nextInt(10).toLong // 8-9 usually absent: no-op path
      spark.sql(s"UPDATE graft_model_lake.`$path` SET bal = bal + 1 " +
        s"WHERE k = $kk")
      model = model.map { case ((p, k), v) =>
        ((p, k), if (k == kk) v + 1 else v) }
    }

    /** SQL DELETE of one partition value (null included): partition
      * retirement through the snapshot protocol must drop exactly that
      * partition's rows from the model — even when the partition holds
      * live merge-on-read deltas (retired with it) or doesn't exist
      * (no-op, no version churn).
      */
    def deleteOp(): Unit = {
      spark.conf.set("spark.sql.catalog.graft_model_lake",
        classOf[graft.io.LakeCatalog].getName)
      val p = partPool(rnd.nextInt(partPool.size))
      val where = if (p == null) "part IS NULL"
        else s"part = '${p.replace("'", "''")}'"
      spark.sql(s"DELETE FROM graft_model_lake.`$path` WHERE $where")
      model = model.filter { case ((mp, _), _) => mp != p }
    }

    def readBack(): Map[(String, Long), Double] =
      graft.io.PartitionedLake.read(spark, path).collect()
        .map(r => (r.getAs[String]("part"), r.getAs[Long]("k")) ->
          r.getAs[Double]("bal")).toMap

    graft.io.PartitionedLake.write(
      Seq((0L, "p0", 1.0), (1L, "p1", 2.0)).toDF("k", "part", "bal"),
      path, "part")
    model = Map(("p0", 0L) -> 1.0, ("p1", 1L) -> 2.0)

    var pinned: Option[(org.apache.spark.sql.DataFrame,
      Map[(String, Long), Double])] = None
    for (step <- 1 to 24) {
      if (step % 5 == 0) // pin a reader to the current snapshot
        pinned = Some((graft.io.PartitionedLake.read(spark, path), model))
      // ONLY vacuum may break a pinned reader: commits (including full
      // overwrites and partition-emptying CDC folds) de-reference files
      // without deleting them, so every pre-vacuum snapshot stays whole
      val breaksPins = rnd.nextInt(12) match {
        case 0 =>
          // bin-pack and z-order compaction share the invariant under
          // test: rows unchanged, snapshots append-only — interleave
          // them so clustering runs against every op mix
          if (rnd.nextBoolean()) graft.io.PartitionedLake.compact(spark, path)
          else graft.io.PartitionedLake.compact(spark, path, Nil,
            zorderBy = Seq("bal"), filesPerPartition = 2)
          false
        case 1 => graft.io.PartitionedLake.vacuum(spark, path); true
        case 2 => // full-overwrite snapshot: the lake becomes exactly this
          val rows = Seq.fill(1 + rnd.nextInt(3))(
              (partPool(rnd.nextInt(partPool.size)), rnd.nextInt(8).toLong,
                math.floor(rnd.nextDouble() * 100)))
            .distinctBy(r => (r._1, r._2))
          graft.io.PartitionedLake.write(
            rows.map(r => (r._2, r._1, r._3)).toDF("k", "part", "bal"),
            path, "part")
          model = rows.map(r => (r._1, r._2) -> r._3).toMap
          false
        case 3 => deleteOp(); false // commits de-reference, pins survive
        case 4 => sqlUpdateOp(); false
        case n if n < 8 => upsertOp(); false
        case _ => cdcOp(); false
      }
      if (breaksPins) pinned = None // vacuum reclaims old snapshots
      assert(readBack() === model, s"divergence after step $step")
      // the history audit table holds after EVERY op: versions sorted,
      // the newest row names the live version, and whenever its row
      // total is exact (no live MOR deltas) it equals the model's size
      val h = graft.io.PartitionedLake.history(spark, path).collect()
      assert(h.map(_.getLong(0)).toSeq ===
        h.map(_.getLong(0)).toSeq.sorted, s"history order at step $step")
      assert(h.last.getLong(0) ===
        graft.io.PartitionedLake.latestVersion(spark, path).get,
        s"history head at step $step")
      val nRowsIdx = h.last.fieldIndex("n_rows")
      if (!h.last.isNullAt(nRowsIdx))
        assert(h.last.getLong(nRowsIdx) === model.size.toLong,
          s"history row total at step $step")
      pinned.foreach { case (df, expect) =>
        val got = df.collect().map(r => (r.getAs[String]("part"),
          r.getAs[Long]("k")) -> r.getAs[Double]("bal")).toMap
        assert(got === expect, s"pinned snapshot drifted at step $step")
      }
    }
  }
}

/** The same random-op model as above, against a TWO-LEVEL (day, src)
  * lake: identity is the (day, src, k) tuple, CDC deletes can retire a
  * leaf while its day-sibling survives, and maintenance walks the nested
  * tree — every interleaving must still agree with the in-memory model.
  */
class LakeModelMultiLevelSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("random op sequences on a (day, src) lake: read() == model after every op") {
    val rnd = new scala.util.Random(11)
    val path = java.nio.file.Files.createTempDirectory("graft-model2").toString + "/lake"
    val days = Seq("d1", "d2")
    val srcs = Seq("web", "a/b", null) // escaped + null at the second level
    var model = Map.empty[(String, String, Long), Double]
    var seq = 0L
    def cell() = (days(rnd.nextInt(days.size)), srcs(rnd.nextInt(srcs.size)))

    def upsertOp(): Unit = {
      val rows = Seq.fill(1 + rnd.nextInt(4)) {
        val (d, s) = cell()
        (d, s, rnd.nextInt(6).toLong, math.floor(rnd.nextDouble() * 100))
      }.distinctBy(r => (r._1, r._2, r._3))
      PartitionedLake.upsert(spark, path, Seq("day", "src"), "id",
        rows.map(r => (r._3, r._1, r._2, r._4)).toDF("id", "day", "src", "bal"),
        Nil, None, PartitionedLake.DefaultWriter)
      rows.foreach { case (d, s, k, v) => model += ((d, s, k) -> v) }
    }

    def cdcOp(): Unit = {
      val keys = model.keys.toSeq
      val ops = Seq.fill(1 + rnd.nextInt(4)) {
        val (d, s, k) = if (keys.nonEmpty && rnd.nextInt(4) > 0)
          keys(rnd.nextInt(keys.size))
        else { val (d0, s0) = cell(); (d0, s0, (6 + rnd.nextInt(3)).toLong) }
        seq += 1
        (k, d, s, seq, if (rnd.nextBoolean()) "D" else "U",
          math.floor(rnd.nextDouble() * 100))
      }
      if (rnd.nextBoolean())
        PartitionedLake.cdcSink(spark, path, Seq("day", "src"), "id", "bal",
          ops.toDF("k", "day", "src", "seq", "op", "val"), None,
          PartitionedLake.DefaultWriter)
      else
        PartitionedLake.cdcSinkMergeOnRead(spark, path, Seq("day", "src"),
          "id", "bal", ops.toDF("k", "day", "src", "seq", "op", "val"), None,
          PartitionedLake.DefaultWriter)
      ops.groupBy(o => (o._2, o._3, o._1)).foreach { case ((d, s, k), os) =>
        val last = os.maxBy(_._4)
        if (model.contains((d, s, k))) {
          if (last._5 == "D") model -= ((d, s, k))
          else model += ((d, s, k) -> last._6)
        }
      }
    }

    def readBack(): Map[(String, String, Long), Double] =
      PartitionedLake.read(spark, path).collect()
        .map(r => (r.getAs[String]("day"), r.getAs[String]("src"),
          r.getAs[Long]("id")) -> r.getAs[Double]("bal")).toMap

    PartitionedLake.write(
      Seq((0L, "d1", "web", 1.0), (1L, "d2", "a/b", 2.0))
        .toDF("id", "day", "src", "bal"), path, Seq("day", "src"), Nil)
    model = Map(("d1", "web", 0L) -> 1.0, ("d2", "a/b", 1L) -> 2.0)

    /** SQL DELETE on the nested layout: a day-only predicate retires
      * EVERY (day, *) leaf (prefix semantics), a (day, src) conjunction
      * retires exactly one leaf — both must match the model.
      */
    def deleteOp(): Unit = {
      spark.conf.set("spark.sql.catalog.graft_model_lake2",
        classOf[graft.io.LakeCatalog].getName)
      val (d, s) = cell()
      def eq(c: String, v: String) =
        if (v == null) s"$c IS NULL" else s"$c = '${v.replace("'", "''")}'"
      if (rnd.nextBoolean()) {
        spark.sql(s"DELETE FROM graft_model_lake2.`$path` WHERE ${eq("day", d)}")
        model = model.filter { case ((md, _, _), _) => md != d }
      } else {
        spark.sql(s"DELETE FROM graft_model_lake2.`$path` " +
          s"WHERE ${eq("day", d)} AND ${eq("src", s)}")
        model = model.filter { case ((md, ms, _), _) => md != d || ms != s }
      }
    }

    for (step <- 1 to 18) {
      rnd.nextInt(10) match {
        case 0 => PartitionedLake.compact(spark, path)
        case 1 => PartitionedLake.vacuum(spark, path)
        case 2 => deleteOp()
        case n if n < 6 => upsertOp()
        case _ => cdcOp()
      }
      assert(readBack() === model, s"divergence after step $step")
    }
  }
}

class PartitionedLakeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("partition pruning: predicate on partition column skips directories") {
    val path = Files.createTempDirectory("graft-lake").toString + "/li"
    PartitionedLake.write(
      Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity", "l_returnflag"),
      path, "l_returnflag")
    val pruned = PartitionedLake.read(spark, path)
      .filter(col("l_returnflag") === "R")
    pruned.collect()
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(l_returnflag"), plan)
    // pruned scan reads one partition directory, and results match a
    // non-partitioned filter
    val expected = Tables.lineitem(spark, sf).filter(col("l_returnflag") === "R").count()
    assert(pruned.count() == expected)
  }

  test("upsert rewrites only touched partitions; untouched files byte-identical") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-upsert").toString
    val base = Seq(
      (1L, "p1", "old-1"), (2L, "p1", "old-2"),
      (3L, "p2", "old-3"), (4L, "p3", "old-4"))
      .toDF("k", "part", "v")
    PartitionedLake.write(base, path, "part")

    def files(p: String): Map[String, Long] = {
      val d = new java.io.File(s"$path/part=$p")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val p2Before = files("p2")
    val p3Before = files("p3")

    // update k=1 in p1, insert k=5 into p1, leave p2/p3 untouched
    val delta = Seq((1L, "p1", "new-1"), (5L, "p1", "new-5"))
      .toDF("k", "part", "v")
    PartitionedLake.upsert(spark, path, "part", "k", delta)

    val got = PartitionedLake.read(spark, path)
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(got.toSeq === Seq(1L -> "new-1", 2L -> "old-2",
      3L -> "old-3", 4L -> "old-4", 5L -> "new-5"))
    // dynamic overwrite must not have touched the other partitions
    assert(files("p2") === p2Before)
    assert(files("p3") === p3Before)
  }

  test("upsert identity is (partition, key): same-partition updates merge, cross-partition moves documented") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-upsert2").toString
    PartitionedLake.write(Seq((1L, "p1", "old"), (2L, "p2", "old"))
      .toDF("k", "part", "v"), path, "part")
    // same key in BOTH delta partitions: each partition merges by key
    // independently (composite identity), nothing leaks across
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((2L, "p1", "new-p1"), (2L, "p2", "new-p2")).toDF("k", "part", "v"))
    val got = PartitionedLake.read(spark, path)
      .orderBy("part", "k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("part"),
        r.getAs[String]("v")))
    assert(got.toSeq === Seq((1L, "p1", "old"), (2L, "p1", "new-p1"),
      (2L, "p2", "new-p2")))
  }

  test("streaming CDC op-log -> foreachBatch cdcSink == batch cdcApply, across replayed micro-batches") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cdc-e2e").toString
    val lake = s"$dir/lake"
    val opsDir = s"$dir/ops"
    val base = Seq(
      (1L, "p1", 10.0), (2L, "p1", 20.0),
      (3L, "p2", 30.0), (4L, "p2", 40.0),
      (5L, "p3", 50.0))
      .toDF("id", "part", "bal")
    PartitionedLake.write(base, lake, "part")

    val b1 = Seq(
      (1L, "p1", 100L, "U", 11.0),  // update, later superseded by seq 200
      (3L, "p2", 110L, "D", 0.0))   // delete
      .toDF("k", "part", "seq", "op", "val")
    val b2 = Seq(
      (1L, "p1", 200L, "U", 12.0),  // latest-wins over seq 100
      (2L, "p1", 210L, "D", 0.0),   // delete second p1 row
      (5L, "p3", 230L, "D", 0.0))   // empties partition p3 entirely
      .toDF("k", "part", "seq", "op", "val")

    b1.write.mode("overwrite").parquet(opsDir)
    val q = spark.readStream.schema(b1.schema).parquet(opsDir)
      .writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (ops: org.apache.spark.sql.DataFrame, _: Long) =>
        PartitionedLake.cdcSink(spark, lake, "part", "id", "bal", ops)
      }
      .start()
    try {
      q.processAllAvailable() // micro-batch 1: b1 alone
      // micro-batch 2 REPLAYS b1 in full alongside b2 (the foreachBatch
      // redelivery contract): replayed U re-applies, replayed D finds no
      // row, and b2's seq-200 op must win over the replayed seq-100 one.
      // One file: the file source can list part of a multi-file append,
      // which would split the replay over two micro-batches
      b1.union(b2).coalesce(1).write.mode("append").parquet(opsDir)
      q.processAllAvailable()
      // the premise: exactly two batches read ops, the first its 2 and
      // the second all 5 — and each batch's ops are scanned ONCE
      // (numInputRows counts every scan of a batch; the sink pins its
      // folded ops, so the touched partitions and the fold share one)
      val read = q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq
      assert(read === Seq(2L, 5L), read)
    } finally q.stop()

    // the lake must equal the one-shot batch fold of the whole op log
    val expected = graft.operators.RelationalOps
      .cdcApply(base, b1.union(b2).select("k", "seq", "op", "val"), "id", "bal")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val got = PartitionedLake.read(spark, lake)
      .select("id", "part", "bal")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(got === expected)
    assert(got === Set((1L, "p1", 12.0), (4L, "p2", 40.0)))
    // the fully-deleted partition is de-referenced (invisible to reads)
    // but its directory stays for pinned readers / time travel /
    // change-feed pre-images; vacuum physically retires it
    assert(new java.io.File(s"$lake/part=p3").exists())
    PartitionedLake.vacuum(spark, lake)
    assert(!new java.io.File(s"$lake/part=p3").exists())
  }

  test("snapshot isolation: a reader pinned before a commit sees only the old snapshot; after, only the new") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-atomic").toString + "/lake"
    PartitionedLake.write(
      Seq((1L, "p1", "old-1"), (2L, "p2", "old-2")).toDF("k", "part", "v"),
      path, "part")
    // resolve the manifest BEFORE the commit: this frame is pinned to v1
    val pinned = PartitionedLake.read(spark, path)
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "new-1"), (3L, "p2", "new-3")).toDF("k", "part", "v"))
    // the pinned reader materializes AFTER the commit and still sees the
    // whole old snapshot (its files were de-referenced, not rewritten)
    val before = pinned.orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(before.toSeq === Seq(1L -> "old-1", 2L -> "old-2"))
    // a fresh resolution sees the whole new snapshot
    val after = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(after.toSeq === Seq(1L -> "new-1", 2L -> "old-2", 3L -> "new-3"))
  }

  test("a crashed commit (staged files, no manifest publish) is invisible to readers") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-crash").toString + "/lake"
    PartitionedLake.write(Seq((1L, "p1", "v1")).toDF("k", "part", "v"),
      path, "part")
    // simulate a writer that died after staging, before the manifest
    // rename: orphan files under _staging and even a stray data file in
    // the partition directory must not surface (the manifest is the
    // source of truth, not the directory listing)
    val staged = java.nio.file.Paths.get(path, "_staging", "deadbeef", "part=p1")
    java.nio.file.Files.createDirectories(staged)
    Seq((99L, "p1", "ghost")).toDF("k", "part", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_staging/junk")
    val got = PartitionedLake.read(spark, path).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(got.toSeq === Seq(1L -> "v1"))
  }

  test("special-character and null partition values: upsert, CDC retirement, and vacuum all resolve the escaped directory") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-escape").toString + "/lake"
    // '/' ':' '%' '=' '#' are all escaped by Spark in partition paths;
    // the old raw-interpolated delete would silently no-op on these and
    // stale rows would resurface after a full-partition delete
    val weird = Seq((1L, "a/b", 10.0), (2L, "x:y=z", 20.0),
      (3L, "100%", 30.0), (4L, null.asInstanceOf[String], 40.0))
      .toDF("id", "part", "bal")
    PartitionedLake.write(weird, path, "part")
    // upsert into an escaped partition merges, not duplicates
    PartitionedLake.upsert(spark, path, "part", "id",
      Seq((1L, "a/b", 11.0)).toDF("id", "part", "bal"))
    val afterUpsert = PartitionedLake.read(spark, path)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(afterUpsert.toSeq === Seq(1L -> 11.0, 2L -> 20.0, 3L -> 30.0, 4L -> 40.0))
    // delete every row of the escaped partitions -> their manifest
    // entries retire (rows must NOT resurface on re-read); the escaped
    // DIRECTORIES stay for pinned readers until vacuum resolves and
    // physically removes them
    val ops = Seq((1L, "a/b", 100L, "D", 0.0), (2L, "x:y=z", 110L, "D", 0.0),
      (4L, null.asInstanceOf[String], 120L, "D", 0.0))
      .toDF("k", "part", "seq", "op", "val")
    PartitionedLake.cdcSink(spark, path, "part", "id", "bal", ops)
    val afterCdc = PartitionedLake.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(afterCdc.toSeq === Seq(3L -> 30.0))
    PartitionedLake.vacuum(spark, path)
    val dirs = new java.io.File(path).listFiles().filter(_.isDirectory)
      .map(_.getName).filter(_.contains("=")).toSet
    assert(dirs === Set("part=100%25"), dirs) // only the survivor remains
    val afterVacuum = PartitionedLake.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    assert(afterVacuum.toSeq === Seq(3L -> 30.0))
  }

  test("manifest file-skipping stats: a z-ordered lake answers range scans from a subset of files, exactly") {
    import graft.operators.LayoutOps
    val path = java.nio.file.Files.createTempDirectory("graft-skip").toString + "/lake"
    // cluster lineitem by z-value (q133's layout) and commit footer
    // bounds for zval into the manifest
    val z = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"),
        LayoutOps.zValue(col("l_partkey"), col("l_suppkey")).as("zval"))
    val tiled = LayoutOps.globalNtile(z,
      Seq(col("zval"), col("l_partkey"), col("l_suppkey")), 8, "grp")
    PartitionedLake.write(tiled, path, "grp",
      statsCols = Seq("zval", "l_partkey"))
    val full = PartitionedLake.read(spark, path)
    val zs = full.select("zval").collect().map(_.getLong(0)).sorted
    // a range spanning ~a tenth of the z space, offset into the data
    val (lo, hi) = (zs(zs.length / 4).toDouble,
      zs(zs.length / 4 + zs.length / 10).toDouble)
    val ranged = PartitionedLake.readRange(spark, path, "zval", lo, hi)
    val expected = full.filter(col("zval") >= lo && col("zval") <= hi)
    assert(ranged.count() === expected.count() && expected.count() > 0)
    // the point: the clustered layout + committed bounds skip most files
    // without a single footer read at query time
    assert(ranged.inputFiles.length < full.inputFiles.length,
      s"read ${ranged.inputFiles.length} of ${full.inputFiles.length} files")
    // the faithful z-order consumer: a 2-D BOX on the ORIGINAL columns
    // (a box is a union of z segments, so it cannot be one zval range);
    // z-clustering makes each file a small (x, y) rectangle, the box
    // hits few rectangles. l_suppkey has no committed stats, so the
    // skip decision rides l_partkey's bounds alone — conservative and
    // still pruning.
    val box = PartitionedLake.readBox(spark, path,
      Map("l_partkey" -> (50.0, 80.0), "l_suppkey" -> (1.0, 5.0)))
    val boxExpected = full.filter(col("l_partkey").between(50, 80) &&
      col("l_suppkey").between(1, 5))
    assert(box.count() === boxExpected.count() && boxExpected.count() > 0)
    assert(box.inputFiles.length < full.inputFiles.length,
      s"box read ${box.inputFiles.length} of ${full.inputFiles.length} files")
    // a column with no committed stats cannot skip — conservative, exact
    val ns = PartitionedLake.readRange(spark, path, "l_suppkey", 0, 5)
    assert(ns.inputFiles.length === full.inputFiles.length)
    assert(ns.count() === full.filter(col("l_suppkey").between(0, 5)).count())
  }

  test("time travel: every published snapshot reads back exactly until vacuum reclaims it") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-travel").toString + "/lake"
    PartitionedLake.write(Seq((1L, "p1", "v1")).toDF("k", "part", "v"),
      path, "part")
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "v2"), (2L, "p2", "v2")).toDF("k", "part", "v"))
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "v3")).toDF("k", "part", "v"))
    assert(PartitionedLake.snapshots(spark, path) === Seq(1L, 2L, 3L))
    def at(ver: Long) = PartitionedLake.readVersion(spark, path, ver)
      .orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(at(1) === Seq(1L -> "v1"))
    assert(at(2) === Seq(1L -> "v2", 2L -> "v2"))
    assert(at(3) === Seq(1L -> "v3", 2L -> "v2"))
    // vacuum keeps only the latest resolvable; older versions now fail
    // loudly instead of returning partial data
    PartitionedLake.vacuum(spark, path)
    assert(PartitionedLake.snapshots(spark, path) === Seq(3L))
    assert(at(3) === Seq(1L -> "v3", 2L -> "v2"))
    val e = intercept[IllegalArgumentException] { at(1) }
    assert(e.getMessage.contains("not resolvable"))
    // a CDC delete that EMPTIES a partition only de-references it: the
    // pre-delete snapshot must stay fully readable (this is what keeps
    // changesBetween's pre-images and pinned readers alive)
    PartitionedLake.cdcSink(spark, path, "part", "k", "v",
      Seq((2L, "p2", 10L, "D", "")).toDF("k", "part", "seq", "op", "val"))
    assert(at(3) === Seq(1L -> "v3", 2L -> "v2"))
    assert(PartitionedLake.read(spark, path).count() === 1)
    // external cleanup that removes a referenced directory must fail the
    // resolve loudly with the retirement error, not a mid-scan
    // FileNotFound (or silent partial data under ignoreMissingFiles)
    val p2 = new java.io.File(s"$path/part=p2")
    p2.listFiles().foreach(_.delete()); p2.delete()
    val e2 = intercept[IllegalArgumentException] { at(3) }
    assert(e2.getMessage.contains("retired"), e2.getMessage)
  }

  test("compaction bin-packs multi-file partitions to one file each through the snapshot protocol") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-compact").toString + "/lake"
    // force multiple files into p1: the delta arrives pre-split, so the
    // staged write emits one file per task holding p1 rows
    PartitionedLake.write(
      Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("k", "part", "v"),
      path, "part")
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((3L, "p1", "c"), (4L, "p1", "d"), (5L, "p1", "e"))
        .toDF("k", "part", "v").repartition(3))
    def filesIn(p: String) = PartitionedLake.read(spark, path)
      .inputFiles.count(_.contains(s"/part=$p/"))
    assert(filesIn("p1") > 1, s"precondition: ${filesIn("p1")}")
    val p2Files = PartitionedLake.read(spark, path)
      .inputFiles.filter(_.contains("/part=p2/")).toSet
    val before = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    PartitionedLake.compact(spark, path)
    assert(filesIn("p1") === 1)
    // untouched single-file partitions carry over verbatim
    assert(PartitionedLake.read(spark, path)
      .inputFiles.filter(_.contains("/part=p2/")).toSet === p2Files)
    val after = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    assert(after === before)
    // a second compaction is a no-op (nothing above one file)
    val ver = PartitionedLake.snapshots(spark, path).max
    PartitionedLake.compact(spark, path)
    assert(PartitionedLake.snapshots(spark, path).max === ver)
  }

  test("vacuum reclaims superseded files and old manifests; the latest snapshot is untouched") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-vacuum").toString + "/lake"
    PartitionedLake.write(
      Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("k", "part", "v"),
      path, "part")
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "a2")).toDF("k", "part", "v"))
    def parquetFiles(p: String): Int = {
      val d = new java.io.File(s"$path/part=$p")
      d.listFiles().count(_.getName.endsWith(".parquet"))
    }
    // superseded v1 files still on disk for pinned readers
    assert(parquetFiles("p1") >= 2)
    PartitionedLake.vacuum(spark, path)
    assert(parquetFiles("p1") === 1)
    val manifests = new java.io.File(s"$path/_manifest").listFiles()
      .map(_.getName).filter(_.endsWith(".txt"))
    assert(manifests.length === 1)
    val got = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(got.toSeq === Seq(1L -> "a2", 2L -> "b"))
  }

  test("history: one audit row per retained snapshot — counts, exact-or-null totals, changed partitions, vacuum window") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-history")
      .toString + "/lake"
    PartitionedLake.write(
      Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("k", "part", "bal"),
      path, "part")
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((3L, "p1", 3.0)).toDF("k", "part", "bal"))
    PartitionedLake.cdcSinkMergeOnRead(spark, path, "part", "k", "bal",
      Seq((2L, "p2", 1L, "U", 20.0)).toDF("k", "part", "seq", "op", "val"))
    val h = PartitionedLake.history(spark, path).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    def row(v: Long) = h.find(_.getLong(0) == v).get
    // v1: bootstrap — changed_partitions is null (no predecessor)
    assert(row(1).getAs[Int]("n_partitions") === 2)
    assert(row(1).getAs[Long]("n_rows") === 2L)
    assert(row(1).isNullAt(row(1).fieldIndex("changed_partitions")))
    assert(!row(1).isNullAt(row(1).fieldIndex("n_bytes")))
    // v2: the upsert touched exactly one partition, rows grew to 3
    assert(row(2).getAs[Long]("n_rows") === 3L)
    assert(row(2).getAs[Int]("changed_partitions") === 1)
    assert(row(2).getAs[Int]("n_live_deltas") === 0)
    // v3: live MOR delta -> row/byte totals honestly unknown (null),
    // the delta sidecar counted, its partition marked changed
    assert(row(3).getAs[Int]("n_live_deltas") === 1)
    assert(row(3).isNullAt(row(3).fieldIndex("n_rows")))
    assert(row(3).isNullAt(row(3).fieldIndex("n_bytes")))
    assert(row(3).getAs[Int]("changed_partitions") === 1)
    // commit times are monotone (the mtime TIMESTAMP AS OF resolves on)
    val ts = h.map(_.getTimestamp(1).getTime).toSeq
    assert(ts === ts.sorted)
    // vacuum narrows the window; the oldest RETAINED row goes null-
    // changed (its predecessor is gone, not "everything changed")
    PartitionedLake.compact(spark, path) // materialize the delta (v4)
    PartitionedLake.vacuum(spark, path, keepLast = 2)
    val afterVacuum = PartitionedLake.history(spark, path).collect()
    assert(afterVacuum.map(_.getLong(0)).toSeq === Seq(3L, 4L))
    assert(afterVacuum.head.isNullAt(
      afterVacuum.head.fieldIndex("changed_partitions")))
    // post-compact totals are exact again
    assert(afterVacuum.last.getAs[Long]("n_rows") === 3L)
  }

  test("pre-protocol lake (no manifest) is adopted on first incremental commit; untouched partitions survive") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-legacy").toString + "/lake"
    // written directly, not through PartitionedLake: no manifest exists
    Seq((1L, "p1", "old-1"), (2L, "p2", "old-2")).toDF("k", "part", "v")
      .write.partitionBy("part").parquet(path)
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "new-1")).toDF("k", "part", "v"))
    val got = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v")))
    assert(got.toSeq === Seq(1L -> "new-1", 2L -> "old-2"))
  }

  test("lake-backed sketch rollup: streamed per-window HLL sketches upserted into the lake answer range distinct queries like batch recompute") {
    import graft.streaming.EventStreams
    val dir = java.nio.file.Files.createTempDirectory("graft-sketch-lake").toString
    val lake = s"$dir/sketches"
    val events = Tables.events(spark, sf)
    // two micro-batches split by event time: batch 2 re-emits windows
    // batch 1 already published (update mode), so the lake upsert's
    // latest-wins (day, hour_start) merge is what makes the stored
    // rollup converge to the batch recompute — the composition a real
    // telemetry pipeline runs (sketch at ingest, roll up offline)
    val mid = events.agg(expr("percentile(CAST(ts AS DOUBLE), 0.5)"))
      .head().getDouble(0)
    events.filter(col("ts").cast("double") <= mid)
      .write.mode("overwrite").parquet(s"$dir/in")
    val streamIn = spark.readStream.schema(events.schema).parquet(s"$dir/in")
    val q = EventStreams.windowedUserSketches(streamIn)
      .withColumn("day", to_date(col("hour_start")))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        PartitionedLake.upsert(spark, lake, "day", "hour_start", batch)
      }
      .start()
    try {
      q.processAllAvailable()
      events.filter(col("ts").cast("double") > mid)
        .write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
    } finally q.stop()
    val stored = PartitionedLake.read(spark, lake)
    val batchSide = EventStreams.windowedUserSketches(events)
    // per-window estimates + exact event counts match the one-shot batch
    // recompute (estimates, not sketch bytes — sparse-mode serialization
    // is insertion-order-dependent)
    def est(df: org.apache.spark.sql.DataFrame) = df
      .select(col("hour_start"),
        hll_sketch_estimate(col("user_sketch")).as("users"), col("n_events"))
      .orderBy("hour_start").collect()
      .map(r => (r.get(0).toString, r.getLong(1), r.getLong(2))).toSeq
    assert(est(stored).nonEmpty)
    assert(est(stored) === est(batchSide))
    // the offline range query: union the STORED sketches for the first
    // week — the day predicate prunes the lake scan to those partition
    // directories — and answer distinct-users-over-range without ever
    // touching the event log again
    val cut = java.sql.Date.valueOf("2024-01-08")
    val ranged = stored.filter(col("day") < lit(cut))
    val plan = ranged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), plan)
    val rangeEst = ranged
      .agg(hll_sketch_estimate(hll_union_agg(col("user_sketch"))))
      .head().getLong(0)
    val exact = events.filter(to_date(col("ts")) < lit(cut))
      .select(countDistinct("user_id")).head().getLong(0)
    assert(math.abs(rangeEst - exact).toDouble <= 0.05 * exact,
      s"range estimate $rangeEst vs exact $exact")
  }

  test("additive schema evolution: a widening delta surfaces the new column lake-wide; old snapshots keep the old schema") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-evolve").toString + "/lake"
    PartitionedLake.write(
      Seq((1L, "p1", "a"), (2L, "p2", "b")).toDF("k", "part", "v"),
      path, "part")
    // the delta carries a NEW column: untouched rows and partitions
    // surface it as null (old parquet files simply lack the column)
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((1L, "p1", "a2", "hello")).toDF("k", "part", "v", "note"))
    val got = PartitionedLake.read(spark, path)
    assert(got.columns.toSeq === Seq("k", "part", "v", "note"))
    val rows = got.orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"),
        r.getAs[String]("note"))).toSeq
    assert(rows === Seq((1L, "a2", "hello"), (2L, "b", null)))
    // a later delta OMITTING base columns takes nulls for them
    PartitionedLake.upsert(spark, path, "part", "k",
      Seq((3L, "p2", "c")).toDF("k", "part", "v"))
    val got2 = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("note"))).toSeq
    assert(got2 === Seq(1L -> "hello", 2L -> null, 3L -> null))
    // time travel returns each snapshot under ITS OWN schema
    assert(PartitionedLake.readVersion(spark, path, 1L).columns.toSeq ===
      Seq("k", "part", "v"))
    // a TYPE change is refused loudly before anything commits — union
    // coercion would otherwise widen the manifest schema out from under
    // untouched partitions' files and poison every later read
    val e = intercept[IllegalArgumentException] {
      PartitionedLake.upsert(spark, path, "part", "k",
        Seq((9, "p1", 1.5)).toDF("k", "part", "v"))
    }
    assert(e.getMessage.contains("type change"), e.getMessage)
    assert(PartitionedLake.read(spark, path).count() === 3) // unharmed
  }

  test("multi-level partitioning (day/src): nested commits, prefix pruning, tuple-identity upsert, leaf retirement, maintenance") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-multi").toString + "/lake"
    val base = Seq(
      (1L, "d1", "web", 10.0), (2L, "d1", "app", 20.0),
      (3L, "d2", "web", 30.0), (4L, "d2", "app", 40.0))
      .toDF("id", "day", "src", "bal")
    PartitionedLake.write(base, path, Seq("day", "src"), Nil)
    // nested Hive layout on disk
    assert(new java.io.File(s"$path/day=d1/src=web").isDirectory)
    // a predicate on the LEADING level prunes at the partition index
    val pruned = PartitionedLake.read(spark, path).filter(col("day") === "d1")
    assert(pruned.count() === 2)
    assert(pruned.queryExecution.executedPlan.toString
      .contains("PartitionFilters: [isnotnull(day"),
      pruned.queryExecution.executedPlan.toString)
    // tuple identity: the same id may live in two (day, src) cells and
    // each upserts independently
    PartitionedLake.upsert(spark, path, Seq("day", "src"), "id",
      Seq((1L, "d1", "web", 11.0), (1L, "d1", "app", 99.0))
        .toDF("id", "day", "src", "bal"), Nil, None,
      PartitionedLake.DefaultWriter)
    def state() = PartitionedLake.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3))).toSet
    assert(state() === Set((1L, "d1", "web", 11.0), (1L, "d1", "app", 99.0),
      (2L, "d1", "app", 20.0), (3L, "d2", "web", 30.0),
      (4L, "d2", "app", 40.0)))
    // CDC delete empties exactly the (d2, web) leaf: it drops from the
    // manifest (invisible to reads) while the sibling src under the same
    // day survives; the physical leaf is vacuum's to reclaim
    PartitionedLake.cdcSink(spark, path, Seq("day", "src"), "id", "bal",
      Seq((3L, "d2", "web", 100L, "D", 0.0))
        .toDF("k", "day", "src", "seq", "op", "val"), None,
      PartitionedLake.DefaultWriter)
    assert(new java.io.File(s"$path/day=d2/src=app").isDirectory)
    assert(state().size === 4)
    // maintenance walks the nested tree; vacuum retires the emptied leaf
    PartitionedLake.compact(spark, path)
    PartitionedLake.vacuum(spark, path)
    assert(!new java.io.File(s"$path/day=d2/src=web").exists())
    assert(state() === Set((1L, "d1", "web", 11.0), (1L, "d1", "app", 99.0),
      (2L, "d1", "app", 20.0), (4L, "d2", "app", 40.0)))
    val perLeaf = PartitionedLake.read(spark, path).inputFiles
      .groupBy(f => f.split('/').takeRight(3).take(2).mkString("/"))
    assert(perLeaf.values.forall(_.length === 1), perLeaf.toString)
  }

  test("transaction-level replay guard: a redelivered batchId is skipped whole; txn survives compaction and vacuum") {
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft-txn").toString + "/lake"
    def delta(k: Long, v: String) = Seq((k, "p1", v)).toDF("k", "part", "v")
    def state() = PartitionedLake.read(spark, path).orderBy("k").collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSeq
    PartitionedLake.upsert(spark, path, "part", "k", delta(1L, "b0"),
      batchId = Some(0L)) // bootstrap records txn 0
    PartitionedLake.upsert(spark, path, "part", "k", delta(2L, "b1"),
      batchId = Some(1L))
    assert(state() === Seq(1L -> "b0", 2L -> "b1"))
    // crash-redelivery of batch 1 with DIFFERENT (non-idempotent-safe)
    // content: the txn guard must skip it whole
    PartitionedLake.upsert(spark, path, "part", "k", delta(2L, "poison"),
      batchId = Some(1L))
    assert(state() === Seq(1L -> "b0", 2L -> "b1"))
    // maintenance must not lose the watermark
    PartitionedLake.compact(spark, path)
    PartitionedLake.vacuum(spark, path)
    PartitionedLake.upsert(spark, path, "part", "k", delta(3L, "late-replay"),
      batchId = Some(0L))
    assert(state() === Seq(1L -> "b0", 2L -> "b1"))
    // the next real batch applies and advances the watermark
    PartitionedLake.upsert(spark, path, "part", "k", delta(3L, "b2"),
      batchId = Some(2L))
    assert(state() === Seq(1L -> "b0", 2L -> "b1", 3L -> "b2"))
    // same contract on the CDC sink
    // `val` carries the valueCol's type (string here)
    val del = Seq((2L, "p1", 10L, "D", "")).toDF("k", "part", "seq", "op", "val")
    PartitionedLake.cdcSink(spark, path, "part", "k", "v", del,
      batchId = Some(2L)) // replayed id -> skipped
    assert(state() === Seq(1L -> "b0", 2L -> "b1", 3L -> "b2"))
    PartitionedLake.cdcSink(spark, path, "part", "k", "v", del,
      batchId = Some(3L)) // fresh id -> applies
    assert(state() === Seq(1L -> "b0", 3L -> "b2"))
  }

  test("lake maintenance interleaves with an active streaming sink: compact + vacuum between micro-batches") {
    val dir = java.nio.file.Files.createTempDirectory("graft-maint").toString
    val lake = s"$dir/lake"
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"))
    val firstHalf = e.filter(col("event_id") % 2 === 0)
    firstHalf.write.mode("overwrite").parquet(s"$dir/in")
    val streamIn = spark.readStream.schema(e.schema).parquet(s"$dir/in")
    val q = streamIn.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        PartitionedLake.upsert(spark, lake, "day", "event_id", batch)
      }
      .start()
    try {
      q.processAllAvailable()
      // the maintenance jobs a real deployment schedules between
      // micro-batches (same single-committer serialization as the sink):
      // neither may disturb what the next batch merges against
      PartitionedLake.compact(spark, lake)
      PartitionedLake.vacuum(spark, lake)
      e.write.mode("append").parquet(s"$dir/in") // full replay + 2nd half
      q.processAllAvailable()
    } finally q.stop()
    val got = PartitionedLake.read(spark, lake)
    assert(got.count() === e.count())
    assert(got.select("event_id").distinct().count() === e.count())
    // post-stream maintenance converges to one file per day partition
    PartitionedLake.compact(spark, lake)
    PartitionedLake.vacuum(spark, lake)
    val after = PartitionedLake.read(spark, lake)
    assert(after.count() === e.count())
    val perDay = after.inputFiles
      .groupBy(f => f.split('/').takeRight(2).head)
    assert(perDay.values.forall(_.length === 1),
      perDay.view.mapValues(_.length).toMap.toString)
  }

  test("streaming foreachBatch + lake upsert is idempotent under replay") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-lake").toString
    val lake = s"$dir/lake"
    val e = Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"))
    val firstHalf = e.filter(col("event_id") % 2 === 0)
    firstHalf.write.mode("overwrite").parquet(s"$dir/in")
    val streamIn = spark.readStream.schema(e.schema).parquet(s"$dir/in")
    val q = streamIn.writeStream
      .option("checkpointLocation", s"$dir/ckpt")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        PartitionedLake.upsert(spark, lake, "day", "event_id", batch)
      }
      .start()
    try {
      q.processAllAvailable()
      // batch 2 REPLAYS all of batch 1 plus the other half: the idempotent
      // key-merge must absorb the replays, not duplicate them
      e.write.mode("append").parquet(s"$dir/in")
      q.processAllAvailable()
      val got = PartitionedLake.read(spark, lake)
      assert(got.count() === e.count())
      assert(got.select("event_id").distinct().count() === e.count())
    } finally q.stop()
  }
}
