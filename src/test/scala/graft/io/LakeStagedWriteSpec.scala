package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The staged-write protocol every DSv2 lake write shares: a statement
  * whose task fails publishes no version, keeps every row and leaves no
  * child under `_staging/`; the same statement without the failing row
  * commits and leaves `_staging/` empty as well. One case per write:
  * copy-on-write UPDATE, merge-on-read UPDATE, dynamic INSERT OVERWRITE
  * and a `graft-lake-v2` streaming epoch. Every source is one file, so
  * each failing statement runs one write task (a killed sibling task
  * could otherwise still be writing when the driver's abort runs). The
  * copy-on-write and dynamic-overwrite writes sort their input by
  * partition first, so their bad row fails before any file opens; the
  * merge-on-read and streaming tasks have written a file when it fails.
  */
class LakeStagedWriteSpec extends AnyFunSuite {
  import graft.SparkTestSession._
  import spark.implicits._

  private type Rows = Set[(String, Long, Double)]

  private def rowsOf(lake: String): Rows =
    PartitionedLake.read(spark, lake).select("part", "k", "bal").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++ messages(x.getCause))

  private def stagingChildren(lake: String): Seq[String] =
    Option(new java.io.File(lake, "_staging").list()).toSeq.flatten

  /** part=a holds k 1 and 2 in one file, part=b holds k 3. */
  private val seeded: Rows = Set(("a", 1L, 1.0), ("a", 2L, 2.0),
    ("b", 3L, 3.0))

  /** `statement(dir, lake, bad)` fails in its task on the row keyed
    * `bad`. Run it with k = 2 (present: the task fails) and with k = -1
    * (absent: it commits `expected`).
    */
  private def grid(tag: String, expected: Rows)(
      statement: (String, String, Long) => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-staged-$tag")
      .toString
    val lake = s"$dir/lake"
    PartitionedLake.write(seeded.toSeq.map { case (p, k, b) => (k, p, b) }
      .toDF("k", "part", "bal").coalesce(1), lake, "part")
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[LakeCatalog].getName)

    val e = intercept[Exception](statement(dir, lake, 2L))
    assert(messages(e).exists(_.contains("bad row")), e.toString)
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L),
      "a failed statement must publish no version")
    assert(rowsOf(lake) === seeded)
    assert(stagingChildren(lake).isEmpty,
      s"failed statement left staging: ${stagingChildren(lake)}")

    statement(dir, lake, -1L)
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L, 2L))
    assert(rowsOf(lake) === expected)
    assert(stagingChildren(lake).isEmpty,
      s"committed statement left staging: ${stagingChildren(lake)}")
  }

  private def badBal(bad: Long, bal: String): String =
    s"CASE WHEN k = $bad THEN CAST(raise_error('bad row') AS DOUBLE) " +
      s"ELSE $bal END"

  test("copy-on-write UPDATE: a failed task publishes nothing and leaves no staging; a clean run leaves none either") {
    grid("cow", Set(("a", 1L, 11.0), ("a", 2L, 12.0), ("b", 3L, 3.0))) {
      (_, lake, bad) =>
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = " +
          s"${badBal(bad, "bal + 10")} WHERE part = 'a'")
    }
  }

  test("merge-on-read UPDATE: a failed task publishes nothing and leaves no staging; a clean run leaves none either") {
    spark.conf.set(LakeDeltaRowLevel.ModeKey, LakeDeltaRowLevel.MergeOnRead)
    spark.conf.set(LakeDeltaRowLevel.KeyKey, "k")
    try grid("mor", Set(("a", 1L, 11.0), ("a", 2L, 12.0), ("b", 3L, 3.0))) {
      (_, lake, bad) =>
        spark.sql(s"UPDATE graft_lake.`$lake` SET bal = " +
          s"${badBal(bad, "bal + 10")} WHERE part = 'a'")
    } finally {
      spark.conf.unset(LakeDeltaRowLevel.ModeKey)
      spark.conf.unset(LakeDeltaRowLevel.KeyKey)
    }
  }

  test("dynamic INSERT OVERWRITE: a failed task publishes nothing and leaves no staging; a clean run leaves none either") {
    val mode = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(mode)
    spark.conf.set(mode, "dynamic")
    try grid("dyn", Set(("a", 2L, 20.0), ("a", 5L, 50.0), ("b", 3L, 3.0))) {
      (dir, lake, bad) =>
        val src = s"$dir/src"
        Seq((2L, "a", 20.0), (5L, "a", 50.0)).toDF("k", "part", "bal")
          .coalesce(1).write.mode("overwrite").parquet(src)
        spark.read.parquet(src).createOrReplaceTempView("staged_write_src")
        spark.sql(s"INSERT OVERWRITE graft_lake.`$lake` SELECT k, part, " +
          s"${badBal(bad, "bal")} FROM staged_write_src")
    } finally before match {
      case Some(v) => spark.conf.set(mode, v)
      case None => spark.conf.unset(mode)
    }
  }

  test("graft-lake-v2 streaming epoch: a failed task publishes nothing and leaves no staging; a clean epoch leaves none either") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    grid("stream", seeded ++ Set(("a", 2L, 20.0), ("c", 4L, 4.0))) {
      (dir, lake, bad) =>
        val mem = org.apache.spark.sql.execution.streaming.runtime
          .MemoryStream[(Long, String, Double)]
        val q = mem.toDF().toDF("k", "part", "bal")
          .select($"k", $"part", when($"k" === bad,
            raise_error(lit("bad row")).cast("double"))
            .otherwise($"bal").as("bal"))
          .writeStream.format("graft-lake-v2")
          .option("path", lake)
          .option("checkpointLocation", s"$dir/ckpt$bad")
          .start()
        try {
          // the good row first: its file is open when the bad row fails
          mem.addData((4L, "c", 4.0), (2L, "a", 20.0))
          q.processAllAvailable()
        } finally q.stop()
    }
  }
}
