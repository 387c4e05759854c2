package graft.io

import org.scalatest.funsuite.AnyFunSuite

/** The merge-on-read delta log, entry by entry: what each partition's
  * sidecars hold after every commit of both log writers — the CDC sink
  * ([[PartitionedLake.cdcSinkMergeOnRead]]) and SQL row-level DML in
  * `merge-on-read` mode ([[PartitionedLake.commitRowLevelDeltas]]) —
  * read back from the `#files` rows of kind `delta`, plus the merged
  * read. One grid covers each way an op can meet the old log: applied
  * and ignored ops, ops on identities the log already updated or
  * tombstoned, untouched entries in a touched partition, an untouched
  * partition's log, and a duplicate base identity.
  */
class MorLogGridSpec extends AnyFunSuite {
  import graft.SparkTestSession._
  import spark.implicits._

  private type Entry = (Long, String, Option[Double])

  /** Every live sidecar row, per partition directory: (k, op, bal). */
  private def sidecars(lake: String): Map[String, Seq[Entry]] =
    spark.sql(s"SELECT partition, file FROM graft_lake.`$lake#files` " +
        "WHERE kind = 'delta'").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSeq
      .groupBy(_._1).map { case (dir, files) =>
        dir -> files.flatMap { case (_, f) =>
          spark.read.parquet(s"$lake/$dir/$f")
            .select("k", PartitionedLake.MorOpCol, "bal").collect()
            .map(r => (r.getLong(0), r.getString(1),
              if (r.isNullAt(2)) None else Some(r.getDouble(2))))
        }.sorted
      }

  private def merged(lake: String): Seq[(String, Long, Double)] =
    PartitionedLake.read(spark, lake).select("part", "k", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq.sorted

  private def cdc(lake: String, ops: (String, Long, Long, String, Double)*): Unit =
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      ops.toDF("part", "k", "seq", "op", "val"))

  private def mor(sql: String): Unit = {
    spark.conf.set(LakeDeltaRowLevel.ModeKey, LakeDeltaRowLevel.MergeOnRead)
    try spark.sql(sql)
    finally spark.conf.unset(LakeDeltaRowLevel.ModeKey)
  }

  private def U(k: Long, bal: Double): Entry = (k, "U", Some(bal))
  private def D(k: Long): Entry = (k, "D", None)

  test("merge-on-read log grid: exact sidecar entries per partition after every CDC batch and SQL UPDATE/DELETE/MERGE") {
    spark.conf.set("spark.sql.catalog.graft_lake", classOf[LakeCatalog].getName)
    val lake = java.nio.file.Files.createTempDirectory("graft-morgrid")
      .toString + "/lake"
    PartitionedLake.write(Seq(
        (1L, "a", 10.0), (2L, "a", 20.0), (3L, "a", 30.0), (4L, "a", 40.0),
        (5L, "a", 50.0), (6L, "a", 60.0),
        (7L, "b", 70.0), (8L, "b", 80.0),
        (9L, "b", 90.0), (9L, "b", 91.0), // a duplicate base identity
        (10L, "c", 100.0))
      .toDF("k", "part", "bal"), lake, "part")

    // live deltas to start from: updates and deletes in a, an update in c
    cdc(lake, ("a", 1L, 1L, "U", 11.0), ("a", 2L, 1L, "D", 0.0),
      ("a", 5L, 1L, "U", 55.0), ("a", 6L, 1L, "D", 0.0),
      ("c", 10L, 1L, "U", 101.0))
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(U(1, 11.0), D(2), U(5, 55.0), D(6)),
      "part=c" -> Seq(U(10, 101.0))))
    assert(merged(lake) === Seq(("a", 1L, 11.0), ("a", 3L, 30.0),
      ("a", 4L, 40.0), ("a", 5L, 55.0), ("b", 7L, 70.0), ("b", 8L, 80.0),
      ("b", 9L, 90.0), ("b", 9L, 91.0), ("c", 10L, 101.0)))

    cdc(lake,
      ("a", 3L, 2L, "U", 33.0),  // U on a present identity
      ("a", 4L, 2L, "D", 0.0),   // D on a present identity
      ("a", 99L, 2L, "U", 9.0),  // U on an absent identity: ignored
      ("b", 98L, 2L, "D", 0.0),  // D on an absent identity: ignored
      ("a", 2L, 2L, "U", 22.0),  // U on a tombstoned identity: ignored
      ("a", 1L, 2L, "D", 0.0),   // D on an identity the log updated
      ("b", 9L, 2L, "U", 95.0))  // both duplicate rows take the update
    // a's untouched entries (5 U, 6 D) carry; c's log is untouched
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(D(1), D(2), U(3, 33.0), D(4), U(5, 55.0), D(6)),
      "part=b" -> Seq(U(9, 95.0), U(9, 95.0)),
      "part=c" -> Seq(U(10, 101.0))))
    assert(merged(lake) === Seq(("a", 3L, 33.0), ("a", 5L, 55.0),
      ("b", 7L, 70.0), ("b", 8L, 80.0), ("b", 9L, 95.0), ("b", 9L, 95.0),
      ("c", 10L, 101.0)))

    // a delete of the duplicate identity is one tombstone
    cdc(lake, ("b", 9L, 3L, "D", 0.0), ("b", 7L, 3L, "U", 77.0))
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(D(1), D(2), U(3, 33.0), D(4), U(5, 55.0), D(6)),
      "part=b" -> Seq(U(7, 77.0), D(9)),
      "part=c" -> Seq(U(10, 101.0))))
    assert(merged(lake) === Seq(("a", 3L, 33.0), ("a", 5L, 55.0),
      ("b", 7L, 77.0), ("b", 8L, 80.0), ("c", 10L, 101.0)))

    mor(s"UPDATE graft_lake.`$lake` SET bal = bal + 1 WHERE k = 5 OR k = 8")
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(D(1), D(2), U(3, 33.0), D(4), U(5, 56.0), D(6)),
      "part=b" -> Seq(U(7, 77.0), U(8, 81.0), D(9)),
      "part=c" -> Seq(U(10, 101.0))))
    assert(merged(lake) === Seq(("a", 3L, 33.0), ("a", 5L, 56.0),
      ("b", 7L, 77.0), ("b", 8L, 81.0), ("c", 10L, 101.0)))

    mor(s"DELETE FROM graft_lake.`$lake` WHERE k = 3")
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(D(1), D(2), D(3), D(4), U(5, 56.0), D(6)),
      "part=b" -> Seq(U(7, 77.0), U(8, 81.0), D(9)),
      "part=c" -> Seq(U(10, 101.0))))
    assert(merged(lake) === Seq(("a", 5L, 56.0), ("b", 7L, 77.0),
      ("b", 8L, 81.0), ("c", 10L, 101.0)))

    Seq((10L, "c", 110.0), (11L, "c", 111.0)).toDF("k", "part", "bal")
      .createOrReplaceTempView("mor_grid_src")
    mor(s"""MERGE INTO graft_lake.`$lake` t USING mor_grid_src s
           |ON t.k = s.k AND t.part = s.part
           |WHEN MATCHED THEN UPDATE SET bal = s.bal
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(sidecars(lake) === Map(
      "part=a" -> Seq(D(1), D(2), D(3), D(4), U(5, 56.0), D(6)),
      "part=b" -> Seq(U(7, 77.0), U(8, 81.0), D(9)),
      "part=c" -> Seq(U(10, 110.0), U(11, 111.0))))
    assert(merged(lake) === Seq(("a", 5L, 56.0), ("b", 7L, 77.0),
      ("b", 8L, 81.0), ("c", 10L, 110.0), ("c", 11L, 111.0)))
  }
}
