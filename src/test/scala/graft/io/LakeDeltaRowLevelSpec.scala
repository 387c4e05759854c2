package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL UPDATE / MERGE INTO / row-level DELETE in MERGE-ON-READ mode
  * ([[LakeDeltaRowLevelOperation]] + [[LakeDeltaWrite]] +
  * [[PartitionedLake.commitRowLevelDeltas]]): statements publish
  * O(changed rows) delta sidecars instead of rewriting partition
  * directories — base data files must stay byte-identical across every
  * DML commit here.
  */
class LakeDeltaRowLevelSpec extends AnyFunSuite {
  import graft.SparkTestSession._
  import spark.implicits._

  private def freshLake(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-mordml-$tag")
      .toString + "/lake"

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[LakeCatalog].getName)

  /** Run `body` with merge-on-read row-level routing on (and an
    * optional identity-key conf), restoring copy-on-write after — the
    * shared session must not leak the opt-in into other specs.
    */
  private def withMor[A](key: Option[String] = Some("k"))(body: => A): A = {
    spark.conf.set(LakeDeltaRowLevel.ModeKey, LakeDeltaRowLevel.MergeOnRead)
    key.foreach(spark.conf.set(LakeDeltaRowLevel.KeyKey, _))
    try body
    finally {
      spark.conf.unset(LakeDeltaRowLevel.ModeKey)
      spark.conf.unset(LakeDeltaRowLevel.KeyKey)
    }
  }

  private def rowsOf(lake: String): Set[(String, Long, Double)] =
    PartitionedLake.read(spark, lake).select("part", "k", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def dataFiles(lake: String): Set[String] =
    PartitionedLake.read(spark, lake).inputFiles
      .filterNot(_.contains("delta-")).toSet

  private def liveDeltaDirs(lake: String): Set[String] =
    PartitionedLake.read(spark, lake).inputFiles
      .filter(_.contains("delta-"))
      .map(_.split('/').dropRight(1).last).toSet

  private def seed(lake: String): Unit =
    PartitionedLake.write(Seq((1L, "a", 1.0), (2L, "a", 2.0),
      (3L, "b", 3.0), (4L, "c", 4.0)).toDF("k", "part", "bal"),
      lake, "part")

  test("UPDATE publishes sidecars: zero base files rewritten, only the matched partition dirty, pre-image time-travelable") {
    val lake = freshLake("upd")
    seed(lake)
    useCatalog()
    val before = dataFiles(lake)
    withMor() {
      spark.sql(s"UPDATE graft_lake.`$lake` SET bal = bal + 10 WHERE k = 2")
    }
    assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 12.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
    // the merge-on-read contract, pinned: base bytes untouched
    assert(dataFiles(lake) === before,
      "a merge-on-read UPDATE must not rewrite base data files")
    assert(liveDeltaDirs(lake) === Set("part=a"),
      "only the matched partition may carry a sidecar")
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L, 2L))
    assert(PartitionedLake.readVersion(spark, lake, 1L)
      .filter(col("k") === 2L).select("bal").head().getDouble(0) === 2.0)
    // compact materializes the log away; the merged view is unchanged
    PartitionedLake.compact(spark, lake)
    assert(liveDeltaDirs(lake) === Set.empty)
    assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 12.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
  }

  test("MoR UPDATE on a date-partitioned lake commits the same rows with java8API on and off") {
    useCatalog()
    val java8 = "spark.sql.datetime.java8API.enabled"
    def updated(java8Api: Boolean): Seq[(Long, String, Double)] = {
      val lake = freshLake(s"date-java8-$java8Api")
      PartitionedLake.write(Seq((1L, "2021-01-03", 1.0), (2L, "2021-01-03", 2.0),
          (3L, "2021-02-01", 3.0), (4L, "2021-03-09", 4.0)).toDF("k", "d", "bal")
        .withColumn("d", to_date(col("d"))), lake, "d")
      val before = dataFiles(lake)
      spark.conf.set(java8, java8Api.toString)
      try withMor() {
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = bal + 10 WHERE k <= 3")
      } finally spark.conf.unset(java8)
      assert(dataFiles(lake) === before)
      assert(liveDeltaDirs(lake) === Set("d=2021-01-03", "d=2021-02-01"))
      assert(PartitionedLake.snapshots(spark, lake) === Seq(1L, 2L))
      PartitionedLake.read(spark, lake).select(col("k"), col("d").cast("string"), col("bal"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq.sorted
    }
    // the receipts' partition values keep one external type either way
    val day = java.time.LocalDate.of(2021, 1, 3).toEpochDay.toInt
    val micros = 1609632000000000L
    spark.conf.set(java8, "true")
    try {
      assert(org.apache.spark.sql.catalyst.CatalystTypeConverters
        .createToScalaConverter(org.apache.spark.sql.types.DateType)(day)
        .isInstanceOf[java.time.LocalDate])
      assert(LakeDeltaRowLevel.receiptValue(org.apache.spark.sql.types.DateType)(day) ==
        java.sql.Date.valueOf("2021-01-03"))
      assert(LakeDeltaRowLevel.receiptValue(org.apache.spark.sql.types.TimestampType)(micros)
        .isInstanceOf[java.sql.Timestamp])
    } finally spark.conf.unset(java8)
    val off = updated(java8Api = false)
    assert(off === Seq((1L, "2021-01-03", 11.0), (2L, "2021-01-03", 12.0),
      (3L, "2021-02-01", 13.0), (4L, "2021-03-09", 4.0)))
    assert(updated(java8Api = true) === off)
  }

  test("row-level DELETE writes a tombstone; partition-exact DELETE still converts to the zero-job metadata retirement") {
    val lake = freshLake("del")
    seed(lake)
    useCatalog()
    val before = dataFiles(lake)
    withMor() {
      spark.sql(s"DELETE FROM graft_lake.`$lake` WHERE k = 3")
      assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 2.0),
        ("c", 4L, 4.0)))
      assert(dataFiles(lake) === before,
        "a merge-on-read DELETE must not rewrite base data files")
      assert(liveDeltaDirs(lake) === Set("part=b"))
      // partition predicate: the metadata-delete optimization still
      // wins over the delta path (canDeleteWhere is mode-independent),
      // and retires the partition's deltas with it
      spark.sql(s"DELETE FROM graft_lake.`$lake` WHERE part = 'b'")
      assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 2.0),
        ("c", 4L, 4.0)))
      assert(liveDeltaDirs(lake) === Set.empty,
        "retiring part=b must retire its sidecar too")
    }
  }

  test("MERGE: matched update + inserts into an existing and a BRAND-NEW partition (delta-only directory) + NOT MATCHED BY SOURCE delete — parity with copy-on-write") {
    def runMerge(lake: String): Unit = {
      Seq((1L, "a", 100.0), // matched -> update
          (5L, "b", 5.0),   // not matched -> insert, existing partition
          (9L, "z", 9.0))   // not matched -> insert, new partition
        .toDF("k", "part", "bal").createOrReplaceTempView("mor_merge_src")
      spark.sql(
        s"""MERGE INTO graft_lake.`$lake` t
           |USING mor_merge_src s
           |ON t.k = s.k AND t.part = s.part
           |WHEN MATCHED THEN UPDATE SET bal = s.bal
           |WHEN NOT MATCHED THEN INSERT *
           |WHEN NOT MATCHED BY SOURCE AND t.k = 4 THEN DELETE
           |""".stripMargin)
    }
    val mor = freshLake("merge-mor"); seed(mor)
    val cow = freshLake("merge-cow"); seed(cow)
    useCatalog()
    val before = dataFiles(mor)
    withMor() { runMerge(mor) }
    runMerge(cow) // default mode: the spec'd group-based rewrite
    assert(rowsOf(mor) === rowsOf(cow),
      "merge-on-read and copy-on-write MERGE must agree row-for-row")
    assert(rowsOf(mor) === Set(("a", 1L, 100.0), ("a", 2L, 2.0),
      ("b", 3L, 3.0), ("b", 5L, 5.0), ("z", 9L, 9.0)))
    assert(dataFiles(mor) === before,
      "a merge-on-read MERGE must not rewrite base data files")
    // part=z exists ONLY as a sidecar until compaction
    assert(liveDeltaDirs(mor).contains("part=z"))
    assert(new java.io.File(s"$mor/part=z").listFiles()
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .forall(_.getName.startsWith("delta-")))
    // and compaction physicalizes it
    PartitionedLake.compact(spark, mor)
    assert(liveDeltaDirs(mor) === Set.empty)
    assert(rowsOf(mor) === rowsOf(cow))
  }

  test("partition-moving UPDATE: tombstone in the old partition's log, post-image in the new one's") {
    val lake = freshLake("move")
    seed(lake)
    useCatalog()
    val before = dataFiles(lake)
    withMor() {
      spark.sql(s"UPDATE graft_lake.`$lake` SET part = 'b' WHERE k = 1")
    }
    assert(rowsOf(lake) === Set(("b", 1L, 1.0), ("a", 2L, 2.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
    assert(dataFiles(lake) === before)
    assert(liveDeltaDirs(lake) === Set("part=a", "part=b"))
  }

  test("ops fold WITH live cdc deltas: untouched log identities carry, touched ones are superseded, mid-ingest semantics hold") {
    val lake = freshLake("fold")
    seed(lake)
    // live cdc log on part=a: k=1 -> 50.0, k=2 -> 60.0
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      Seq(("a", 1L, 1L, "U", 50.0), ("a", 2L, 2L, "U", 60.0))
        .toDF("part", "k", "seq", "op", "val"))
    useCatalog()
    withMor(key = None) { // the live key comes from the manifest
      spark.sql(s"UPDATE graft_lake.`$lake` SET bal = bal + 1 WHERE k = 2")
    }
    // k=2's post-merge value was 60 -> 61; k=1's carried cdc value stays
    assert(rowsOf(lake) === Set(("a", 1L, 50.0), ("a", 2L, 61.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
    PartitionedLake.compact(spark, lake)
    assert(rowsOf(lake) === Set(("a", 1L, 50.0), ("a", 2L, 61.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
  }

  test("refusal matrix: no key, key is a partition column, conf key conflicting the live manifest key, bad mode value, ambiguous duplicate-identity inserts") {
    val lake = freshLake("refuse")
    seed(lake)
    useCatalog()
    // no key declared, no live deltas to inherit from
    withMor(key = None) {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = 0 WHERE k = 1")
      }
      assert(e.getMessage.contains(LakeDeltaRowLevel.KeyKey))
    }
    // key = partition column
    withMor(key = Some("part")) {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = 0 WHERE k = 1")
      }
      assert(e.getMessage.contains("non-partition"))
    }
    // conf key contradicting the live manifest key
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      Seq(("a", 1L, 1L, "U", 5.0)).toDF("part", "k", "seq", "op", "val"))
    withMor(key = Some("bal")) {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = 0 WHERE k = 1")
      }
      assert(e.getMessage.contains("keyed by 'k'"))
    }
    // bad mode value
    spark.conf.set(LakeDeltaRowLevel.ModeKey, "mor")
    try {
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = 0 WHERE k = 1")
      }
      assert(e.getMessage.contains(LakeDeltaRowLevel.ModeKey))
    } finally spark.conf.unset(LakeDeltaRowLevel.ModeKey)
    // two inserts with one identity: ambiguous post-image refuses at
    // commit (the lake's one-row-per-identity contract). NOTE the
    // MATCHED clause: an insert-ONLY merge compiles to a plain append
    // (multiset semantics, no identity) and never reaches this path
    val dup = freshLake("refuse-dup")
    seed(dup)
    withMor() {
      Seq((7L, "a", 1.0), (7L, "a", 2.0)).toDF("k", "part", "bal")
        .createOrReplaceTempView("mor_dup_src")
      val e = intercept[Exception] {
        spark.sql(
          s"""MERGE INTO graft_lake.`$dup` t USING mor_dup_src s
             |ON t.k = s.k
             |WHEN MATCHED THEN UPDATE SET bal = s.bal
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      assert(e.getMessage.contains("one row per identity") ||
        e.getCause != null &&
          e.getCause.getMessage.contains("one row per identity"),
        s"unexpected: ${e.getMessage}")
      // nothing was published
      assert(PartitionedLake.snapshots(spark, dup) === Seq(1L))
      // ...nothing was left behind: the refused staging job's directory
      // is gone
      val staging = new java.io.File(dup, "_staging")
      assert(!staging.exists || staging.list().isEmpty,
        s"leftover staging: ${Option(staging.list()).map(_.mkString(", "))}")
      // ...and the directed refusal keeps the staging job's failure (the
      // in-plan raise_error) in its cause chain
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).toSeq
      val directed = chain.indexWhere(x =>
        Option(x.getMessage).exists(_.contains("one row per identity")))
      assert(directed >= 0 && chain.drop(directed + 1).exists {
        case s: org.apache.spark.SparkThrowable =>
          s.getCondition == "USER_RAISED_EXCEPTION"
        case _ => false
      }, chain.mkString(" <- "))
    }
  }

  test("key reassignment onto an OCCUPIED identity refuses (no silent collapse); onto a fresh key succeeds — parity with copy-on-write wherever both succeed") {
    val lake = freshLake("collide")
    seed(lake) // part=a holds k=1 and k=2
    useCatalog()
    withMor() {
      // UPDATE k=1 -> k=2 inside part=a: in CoW both rows survive as a
      // multiset; MOR cannot represent two rows per identity, so the
      // commit must refuse rather than upsert over the untouched k=2
      val e = intercept[Exception] {
        spark.sql(s"UPDATE graft_lake.`$lake` SET k = 2 WHERE k = 1")
      }
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(_.contains("UPSERT over existing rows")),
        s"unexpected: ${e.getMessage}")
      // nothing published; the table is intact
      assert(PartitionedLake.snapshots(spark, lake) === Seq(1L))
      assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 2.0),
        ("b", 3L, 3.0), ("c", 4L, 4.0)))
      // the same move onto a FRESH key commits fine (delete half
      // consumes k=1, post-image lands on unoccupied k=9)
      spark.sql(s"UPDATE graft_lake.`$lake` SET k = 9 WHERE k = 1")
      assert(rowsOf(lake) === Set(("a", 9L, 1.0), ("a", 2L, 2.0),
        ("b", 3L, 3.0), ("c", 4L, 4.0)))
    }
  }

  test("commit folds ONLY files reported by committed attempts: a zombie attempt's leftover duplicate ops file in the staging dir is ignored") {
    val lake = freshLake("zombie")
    seed(lake)
    val pinned = PartitionedLake.manifestAt(spark, lake, None).get
    val opsDir = new org.apache.hadoop.fs.Path(lake, "_staging/ops-z")
    // the committed attempt's file: a split update of (a, 2) — the
    // delete half plus the post-image, exactly what the engine emits
    Seq((2L, "a", Some(99.0), "U"), (2L, "a", None, "D"))
      .toDF("k", "part", "bal", "__graft_op")
      .coalesce(1).write.parquet(opsDir.toString)
    val committed = new java.io.File(opsDir.toString).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    assert(committed.size === 1)
    // a speculative/retried attempt's leftover: a DIFFERENT post-image
    // for the same identity — folded together they would trip the
    // one-row-per-identity refusal on this perfectly valid statement
    Seq((2L, "a", Some(-1.0), "U")).toDF("k", "part", "bal", "__graft_op")
      .coalesce(1).write.mode("append").parquet(opsDir.toString)
    PartitionedLake.commitRowLevelDeltas(spark, lake, pinned,
      Seq("part"), "k", opsDir, committed)
    // only the committed attempt's value landed, and the staging dir
    // (zombie file included) is gone
    assert(rowsOf(lake) === Set(("a", 1L, 1.0), ("a", 2L, 99.0),
      ("b", 3L, 3.0), ("c", 4L, 4.0)))
    assert(!new java.io.File(opsDir.toString).exists())
  }

  test("zero-match statements publish nothing (no version churn)") {
    val lake = freshLake("nomatch")
    seed(lake)
    useCatalog()
    withMor() {
      spark.sql(s"UPDATE graft_lake.`$lake` SET bal = 0 WHERE k = 999")
    }
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L))
  }

  test("racing cdc commit into a touched partition conflicts loudly (stale-pin delta commit)") {
    val lake = freshLake("race")
    seed(lake)
    val pinned = PartitionedLake.manifestAt(spark, lake, None).get
    // ops staged as a delta write would: a split update of (a, 2) —
    // tombstone half + post-image half
    val opsDir = new org.apache.hadoop.fs.Path(lake, "_staging/ops-race")
    Seq((2L, "a", Some(99.0), "U"), (2L, "a", None, "D"))
      .toDF("k", "part", "bal", "__graft_op")
      .coalesce(1).write.parquet(opsDir.toString)
    // a cdc batch lands on the same partition AFTER the pin
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      Seq(("a", 1L, 1L, "U", 42.0)).toDF("part", "k", "seq", "op", "val"))
    val opsFiles = new java.io.File(opsDir.toString).listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSeq
    val e = intercept[Exception] {
      PartitionedLake.commitRowLevelDeltas(spark, lake, pinned,
        Seq("part"), "k", opsDir, opsFiles)
    }
    assert(e.getMessage.toLowerCase.contains("conflict") ||
      e.getMessage.toLowerCase.contains("chang"),
      s"expected a rebase conflict, got: ${e.getMessage}")
  }
}
