package graft.io

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `#files` / `#partitions` snapshot-inventory metadata tables:
  * manifest-only answers to the ops questions (file sizes, per-partition
  * row counts, delta accumulation), with snapshot semantics — they
  * time-travel by version AND by tag, unlike `#history`/`#tags`.
  */
class LakeMetaTablesSpec extends AnyFunSuite {
  import graft.SparkTestSession._
  import spark.implicits._

  private def freshLake(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-meta-$tag")
      .toString + "/lake"

  private def useCatalog(): Unit =
    spark.conf.set("spark.sql.catalog.graft_lake",
      classOf[LakeCatalog].getName)

  test("#partitions: per-directory counts and bytes from the manifest; dirty partitions report delta counts and honest null rows") {
    val lake = freshLake("parts")
    PartitionedLake.write(Seq((1L, "a", 1.0), (2L, "a", 2.0),
      (3L, "b", 3.0)).toDF("k", "part", "bal"), lake, "part")
    useCatalog()
    val clean = spark.sql(
      s"SELECT partition, n_files, n_deltas, bytes, rows " +
        s"FROM graft_lake.`$lake#partitions` ORDER BY partition")
      .collect()
    assert(clean.map(r => (r.getString(0), r.getInt(2), r.getLong(4)))
      .toSeq === Seq(("part=a", 0, 2L), ("part=b", 0, 1L)))
    assert(clean.forall(r => !r.isNullAt(3) && r.getLong(3) > 0),
      "byte totals come free from the manifest")
    // cdc deltas land on part=a: its row count honestly degrades to
    // null (post-merge counts are unknowable from metadata), and the
    // sidecar is counted
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      Seq(("a", 1L, 1L, "U", 9.0)).toDF("part", "k", "seq", "op", "val"))
    val dirty = spark.sql(
      s"SELECT partition, n_deltas, rows " +
        s"FROM graft_lake.`$lake#partitions` ORDER BY partition")
      .collect()
    assert(dirty.map(r => (r.getString(0), r.getInt(1))).toSeq ===
      Seq(("part=a", 1), ("part=b", 0)))
    assert(dirty(0).isNullAt(2), "dirty partition must not guess rows")
    assert(dirty(1).getLong(2) === 1L)
  }

  test("#files: one row per live file and sidecar; time-travels by numeric version AND by tag") {
    val lake = freshLake("files")
    PartitionedLake.write(Seq((1L, "a", 1.0)).toDF("k", "part", "bal"),
      lake, "part") // v1
    useCatalog()
    PartitionedLake.tag(spark, lake, "first", 1L)
    PartitionedLake.append(Seq((2L, "b", 2.0)).toDF("k", "part", "bal"),
      lake, Seq("part")) // v2
    PartitionedLake.cdcSinkMergeOnRead(spark, lake, "part", "k", "bal",
      Seq(("a", 1L, 1L, "U", 9.0)).toDF("part", "k", "seq", "op", "val"))
    val now = spark.sql(
      s"SELECT partition, kind FROM graft_lake.`$lake#files` " +
        "ORDER BY partition, kind").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(now.toSeq ===
      Seq(("part=a", "data"), ("part=a", "delta"), ("part=b", "data")))
    // snapshot semantics: v1 had one file, by number or by tag
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.`$lake#files` " +
      "VERSION AS OF 1").head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM graft_lake.`$lake#files` " +
      "VERSION AS OF 'first'").head().getLong(0) === 1L)
    // data rows carry manifest bytes/rows; sidecars are name-only
    val kinds = spark.sql(s"SELECT kind, bytes, rows " +
      s"FROM graft_lake.`$lake#files`").collect()
    assert(kinds.filter(_.getString(0) == "data")
      .forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    assert(kinds.filter(_.getString(0) == "delta")
      .forall(r => r.isNullAt(1) && r.isNullAt(2)))
  }

  test("catalog resolution grid: every suffix, with and without #branch=, across plain load, VERSION AS OF (number and tag), TIMESTAMP AS OF and tableExists") {
    val lake = freshLake("grid")
    // one file per partition directory, so file counts are exact
    PartitionedLake.write(Seq((1L, "a", 1.0), (2L, "b", 2.0))
      .toDF("k", "part", "bal"), lake, "part") // v1
    PartitionedLake.tag(spark, lake, "rel", 1L)
    PartitionedLake.append(Seq((3L, "c", 3.0)).toDF("k", "part", "bal"),
      lake, Seq("part")) // v2
    PartitionedLake.addCheckConstraint(spark, lake, "pos", "bal > 0") // v3
    PartitionedLake.createBranch(spark, lake, "wip",
      fromVersion = Some(1L)) // wip v1 = main v1
    spark.conf.set(PartitionedLake.BranchKey, "wip")
    try PartitionedLake.append(Seq((4L, "d", 4.0)).toDF("k", "part", "bal"),
      lake, Seq("part")) // wip v2
    finally spark.conf.unset(PartitionedLake.BranchKey)
    useCatalog()

    type Expect = Either[String, (Seq[String], Long)]
    def rows(cols: Seq[String], n: Long): Expect = Right((cols, n))
    def refuse(substring: String): Expect = Left(substring)
    def of(s: org.apache.spark.sql.types.StructType) = s.fieldNames.toSeq
    val data = Seq("k", "part", "bal")
    val feed = data :+ "_change_type"
    val history = of(PartitionedLake.historySchema)
    val tags = of(PartitionedLake.tagsSchema)
    val branches = of(PartitionedLake.branchesSchema)
    val files = of(PartitionedLake.filesSchema)
    val parts = of(PartitionedLake.partitionsSchema)
    val checks = of(PartitionedLake.constraintsSchema)
    val changes = "#changes?from=1&to=2&keyCols=part,k"
    val mainLine = refuse("main-line refs")
    val moving = refuse("moving staged line")

    // (suffix, pinned to #branch=wip,
    //  plain, VERSION AS OF 1, VERSION AS OF 'rel', TIMESTAMP AS OF)
    val grid: Seq[(String, Boolean, Expect, Expect, Expect, Expect)] = Seq(
      ("", false, rows(data, 3), rows(data, 2), rows(data, 2), rows(data, 3)),
      ("", true, rows(data, 3), rows(data, 2), mainLine, moving),
      ("#history", false, rows(history, 3), refuse("#history"),
        refuse("#history"), refuse("#history")),
      ("#history", true, refuse("#history"), refuse("#history"),
        refuse("#history"), moving),
      ("#tags", false, rows(tags, 1), refuse("#tags"), refuse("#tags"),
        refuse("#tags")),
      ("#tags", true, refuse("#tags"), refuse("#tags"), refuse("#tags"),
        moving),
      ("#branches", false, rows(branches, 1), refuse("#branches"),
        refuse("#branches"), refuse("#branches")),
      ("#branches", true, refuse("#branches"), refuse("#branches"),
        refuse("#branches"), moving),
      ("#files", false, rows(files, 3), rows(files, 2), rows(files, 2),
        rows(files, 3)),
      ("#files", true, rows(files, 3), rows(files, 2), mainLine, moving),
      ("#partitions", false, rows(parts, 3), rows(parts, 2), rows(parts, 2),
        rows(parts, 3)),
      ("#partitions", true, rows(parts, 3), rows(parts, 2), mainLine,
        moving),
      ("#constraints", false, rows(checks, 1), rows(checks, 0),
        rows(checks, 0), rows(checks, 1)),
      ("#constraints", true, rows(checks, 0), rows(checks, 0), mainLine,
        moving),
      (changes, false, rows(feed, 1), refuse("#changes"),
        refuse("#changes"), refuse("#changes")),
      (changes, true, rows(feed, 1), refuse("#changes"),
        refuse("#changes"), refuse("#changes")))

    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    val catalog = new LakeCatalog
    catalog.initialize("graft_lake",
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty())
    def ident(p: String) =
      org.apache.spark.sql.connector.catalog.Identifier.of(Array.empty, p)
    val missing = freshLake("grid-missing")
    grid.foreach { case (suffix, pinned, plain, v1, vTag, ts) =>
      val id = lake + (if (pinned) "#branch=wip" else "") + suffix
      Seq("" -> plain, " VERSION AS OF 1" -> v1,
        " VERSION AS OF 'rel'" -> vTag,
        " TIMESTAMP AS OF '2100-01-01 00:00:00'" -> ts).foreach {
        case (at, expect) =>
          val q = s"SELECT * FROM graft_lake.`$id`$at"
          expect match {
            case Right((cols, n)) =>
              val df = spark.sql(q)
              assert(df.columns.toSeq === cols, q)
              assert(df.collect().length.toLong === n, q)
            case Left(substring) =>
              val e = intercept[Exception](spark.sql(q).collect())
              assert(chain(e).contains(substring), s"$q: ${chain(e)}")
          }
      }
      assert(catalog.tableExists(ident(id)), id)
      val absent = missing + (if (pinned) "#branch=wip" else "") + suffix
      assert(!catalog.tableExists(ident(absent)), absent)
    }
  }

  test("DDL refuses every suffix: CREATE on a missing base publishes no directory, DROP or ALTER of an existing lake's suffix leaves the lake as it was") {
    useCatalog()
    def chain(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage)).mkString(" | ")
    val suffixes = Seq("#history", "#tags", "#branches", "#files",
      "#partitions", "#constraints", "#changes?from=1&to=2&keyCols=k",
      "#branch=wip", "#branch=wip#files")
    suffixes.foreach { sfx =>
      // Hadoop keeps '#' literal: a create that got through would publish
      // a lake in a directory named `lake#tags`, which no read reaches
      val missing = freshLake("ddl-create")
      val e = intercept[Exception](spark.sql(
        s"CREATE TABLE graft_lake.`$missing$sfx` (k BIGINT, part STRING) " +
          "PARTITIONED BY (part)"))
      assert(chain(e).contains(sfx), s"$sfx: ${chain(e)}")
      val dir = new java.io.File(missing).getParentFile
      assert(dir.list().isEmpty,
        s"$sfx: CREATE left ${dir.list().mkString(", ")}")
    }
    val lake = freshLake("ddl-drop")
    PartitionedLake.write(Seq((1L, "a")).toDF("k", "part"), lake, "part")
    suffixes.foreach { sfx =>
      val e = intercept[Exception](
        spark.sql(s"DROP TABLE graft_lake.`$lake$sfx`"))
      assert(chain(e).contains(sfx), s"$sfx: ${chain(e)}")
      assert(PartitionedLake.snapshots(spark, lake) === Seq(1L), sfx)
    }
    val alter = intercept[Exception](spark.sql(
      s"ALTER TABLE graft_lake.`$lake#files` ADD COLUMNS (x INT)"))
    assert(chain(alter).contains("#files"), chain(alter))
    assert(PartitionedLake.snapshots(spark, lake) === Seq(1L))
    assert(PartitionedLake.read(spark, lake).collect().length === 1)
  }
}
