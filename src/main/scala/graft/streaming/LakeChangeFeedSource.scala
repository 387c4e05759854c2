package graft.streaming

import graft.io.PartitionedLake
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The lake's snapshot version as a streaming offset. Versions are
  * durable, totally ordered, and published atomically (the manifest
  * rename), which is exactly what a streaming offset needs: checkpoint
  * recovery replays `getBatch(lastCommitted, available)` and the diff
  * of two still-resolvable versions is deterministic.
  */
private[streaming] case class LakeVersionOffset(version: Long) extends V1Offset {
  override def json: String = version.toString
}

/** `spark.readStream.format("graft-lake-cdf").option("path", lake)` —
  * a REAL Structured Streaming source over [[PartitionedLake]]'s
  * change-data-feed, upgrading the poll-style
  * [[PartitionedLake.readChangesStream]] wrapper to engine-managed
  * offsets, checkpoint recovery, and trigger semantics (Delta CDF's
  * `readChangeFeed` design point, on the v1 `Source` API — the same
  * API Delta's own source uses, because a change feed is a DERIVED
  * DataFrame per batch, which DSv2's file-partition readers cannot
  * express).
  *
  * Options:
  *  - `path` (required): the lake root.
  *  - `keyCols` (required): comma-separated row identity within a
  *    partition — the same `(partition cols..., key)` contract as
  *    [[PartitionedLake.upsert]].
  *  - `startingVersion` (default `"0"`): exclusive lower bound.
  *    `0` bootstraps with the first snapshot as inserts (then diffs
  *    forward); `"latest"` starts from the head (only new commits);
  *    any number N streams changes AFTER version N.
  *
  *  - `granularity` (default `"net"`): `"net"` batches carry the NET
  *    diff of their version range (intermediate churn collapses — the
  *    right semantics for keyed idempotent consumers); `"commit"`
  *    batches carry EVERY version's changes tagged `_commit_version`
  *    (Debezium-style audit/replication consumers that need per-commit
  *    history).
  *  - `maxVersionsPerTrigger` (optional): rate-limits how many commits
  *    a single batch may span.
  *
  * Each micro-batch is `changesBetween(lastSeen, available)` — under
  * the default net granularity, if the trigger lags several commits,
  * the batch carries their NET change (intermediate churn collapses),
  * which is the correct semantics for the keyed, idempotent consumers
  * this feed targets. Schema is the
  * lake's latest snapshot schema plus `_change_type`, FIXED at stream
  * start (the Structured Streaming contract): rows flow across a
  * mid-stream additive evolution, but columns added after start only
  * surface on restart (spec-pinned). Retention contract: vacuum must
  * not reclaim versions a stopped stream still needs — on violation
  * the source fails loudly at restart (`not resolvable`), never
  * silently skips.
  */
class LakeChangeFeedProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake-cdf"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("graft-lake-cdf requires .option(\"path\", <lake root>)"))

  private def optionsOf(parameters: Map[String, String])
      : (Seq[String], Boolean) =
    PartitionedLake.changeFeedOptions("graft-lake-cdf:", parameters)

  private def feedSchema(sqlContext: SQLContext, path: String,
      perCommit: Boolean): StructType = {
    // metadata-only: the latest manifest's schema, never a full read
    // plan built just to throw its StructType away
    val snap = PartitionedLake.snapshotSchema(sqlContext.sparkSession, path)
      .getOrElse(sys.error(s"graft-lake-cdf: no lake manifest at $path"))
    val base = snap.fields :+ StructField("_change_type", StringType)
    StructType(if (perCommit) base :+ StructField("_commit_version",
      org.apache.spark.sql.types.LongType) else base)
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(), schema.getOrElse(
      feedSchema(sqlContext, pathOf(parameters), optionsOf(parameters)._2)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val path = pathOf(parameters)
    val (keyCols, perCommit) = optionsOf(parameters)
    val start = parameters.getOrElse("startingVersion", "0") match {
      case "latest" => PartitionedLake
        .snapshots(sqlContext.sparkSession, path).lastOption.getOrElse(0L)
      case n => n.toLong
    }
    val maxVersions = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxVersions.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    new LakeChangeFeedSource(sqlContext, path, keyCols, start,
      schema.getOrElse(feedSchema(sqlContext, path, perCommit)), maxVersions,
      metadataPath, perCommit)
  }
}

private[streaming] class LakeChangeFeedSource(sqlContext: SQLContext,
    path: String, keyCols: Seq[String], startVersion: Long,
    override val schema: StructType,
    maxVersionsPerTrigger: Option[Long] = None,
    metadataPath: String = "",
    perCommit: Boolean = false) extends Source {
  private val spark = sqlContext.sparkSession

  // after checkpoint recovery the engine hands back raw SerializedOffset
  // json, not our case class — parse by value, not by type
  private def versionOf(o: V1Offset): Long = o match {
    case LakeVersionOffset(v) => v
    case other => other.json.trim.toLong
  }

  // ---- rate limiting + bounded polling state ------------------------------
  // `lastSeen` is the probe hint for latestVersion — bounds each
  // trigger's poll to O(new versions) existence checks instead of a
  // full `_manifest/` listing (which, under sharded manifests, also
  // holds every live leaf file).
  private var lastSeen: Option[Long] = None
  // `lastEnd` is the highest batch-end version handed to the engine —
  // the base each rate-limited trigger advances from. PERSISTED under
  // the source's checkpoint metadataPath so a restart after an outage
  // resumes capping from where it left off instead of emitting the
  // whole backlog as one catch-up batch (the v1-Source analog of
  // FileStreamSource's maxFilesPerTrigger bookkeeping).
  private val progressFile = if (metadataPath.isEmpty) None
    else Some(new org.apache.hadoop.fs.Path(metadataPath, "graft-cdf-last-end"))
  private lazy val progressFs = progressFile.map(
    _.getFileSystem(spark.sparkContext.hadoopConfiguration))
  private var lastEnd: Long = (for {
    p <- progressFile; fs <- progressFs if fs.exists(p)
    // tolerate a torn/empty file (crash mid-write): the progress file
    // is an optimization — falling back to startVersion only weakens
    // the first post-restart cap, it must never wedge the stream
    v <- PartitionedLake.readSmallTextFile(fs, p).trim
      .toLongOption
  } yield v).getOrElse(startVersion)
  private var lastPersisted: Long = lastEnd

  /** In-memory cap-base advance only — getOffset/getBatch call this.
    * The DURABLE base is written from [[commit]] alone, AFTER the
    * engine logs the offset: persisting from getOffset would let a
    * crash in between leave the durable base ahead of the committed
    * offset, and the first post-restart batch could then span up to
    * ~2x maxVersionsPerTrigger (rate-limit weakening, found in review).
    */
  private def recordEnd(v: Long): Unit = if (v > lastEnd) lastEnd = v

  private def persistEnd(v: Long): Unit = {
    recordEnd(v)
    // only needed when a cap is active: uncapped streams derive
    // everything from the engine's own offset log. Written
    // tmp-then-ATOMIC-REPLACE (FileContext rename OVERWRITE — the
    // delete-then-rename form briefly exposes a missing file to a
    // concurrent restart), matching the snapshot protocol's
    // atomic-publish discipline for every other metadata file
    if (maxVersionsPerTrigger.isDefined && v > lastPersisted) for {
      p <- progressFile; fs <- progressFs
    } try {
      val tmp = new org.apache.hadoop.fs.Path(p.getParent,
        s".${p.getName}.tmp")
      val out = fs.create(tmp, true)
      try out.write(v.toString.getBytes("UTF-8")) finally out.close()
      try org.apache.hadoop.fs.FileContext.getFileContext(p.toUri,
          spark.sparkContext.hadoopConfiguration)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      catch {
        // connectors shipping only a FileSystem (no AbstractFileSystem
        // binding) can't give the atomic replace — fall back to
        // delete-then-rename, whose brief exposure window only weakens
        // the first post-restart cap (doc above). FileSystem.rename
        // signals most failures by returning FALSE, not throwing — a
        // false here must surface as a failure too, or lastPersisted
        // would advance past a marker that never landed and no later
        // commit would rewrite it (found in review)
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
          fs.delete(p, false)
          if (!fs.rename(tmp, p)) {
            fs.delete(tmp, false)
            throw new java.io.IOException(
              s"progress-file fallback rename $tmp -> $p returned false")
          }
      }
      // advanced only AFTER the replace lands: a failure leaves the
      // marker behind (or throws above), so the next commit() retries
      // the write instead of believing a base that never became durable
      lastPersisted = v
    } catch {
      // the progress file is an OPTIMIZATION (first post-restart cap
      // base); it must never wedge the stream — a transient store
      // error here surfaces as at most one over-wide batch later
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass)
          .warn(s"graft-lake-cdf: progress-file write failed " +
            s"(cap base stays at $lastPersisted): $e")
    }
  }

  // NO startingVersion filter here, deliberately: the engine compares
  // this against ITS committed offset and only triggers on change, so
  // startingVersion must gate only the no-checkpoint getBatch(None, _)
  // path. Filtering here would re-apply "latest" on every RESTART and
  // silently withhold the commits published while the stream was down
  // (the checkpointed offset, not the option, owns progress after the
  // first batch — Delta CDF's startingVersion semantics).
  //
  // `maxVersionsPerTrigger` caps how far each trigger's batch END may
  // advance past the last end this source handed out: a backlog of N
  // commits drains over ceil(N / max) batches, each a correct NET diff
  // of its sub-range, instead of one unbounded catch-up batch.
  override def getOffset: Option[V1Offset] = {
    val latest = PartitionedLake.latestVersion(spark, path, lastSeen)
    latest.foreach(v => lastSeen = Some(v))
    latest.map { v =>
      val capped = maxVersionsPerTrigger match {
        case Some(max) =>
          val raw = math.min(v, math.max(lastEnd, startVersion) + max)
          // a capped bootstrap must not land BELOW the first resolvable
          // snapshot (a vacuumed prefix would leave later sub-ranges
          // unresolvable) — clamp up to it; one listing, once
          if (raw < v && lastEnd <= startVersion)
            math.max(raw,
              PartitionedLake.snapshots(spark, path).headOption.getOrElse(raw))
          else raw
        case None => v
      }
      recordEnd(capped)
      LakeVersionOffset(capped)
    }
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startVersion)
    val to = versionOf(end)
    // recovery replay of a checkpointed batch tells us the engine has
    // already been handed ends up to `to` — advance the cap base so a
    // restart never re-shrinks progress
    recordEnd(to)
    // every branch aligns to the stream's fixed-at-start schema BEFORE
    // any union: the lake may have evolved between the bootstrap
    // snapshot and the head, and the two sides' raw column sets differ
    // exactly then
    def aligned(df: DataFrame): DataFrame = PartitionedLake.alignTo(df, schema)
    val changes =
      if (from >= to) {
        // engine replay of an empty range (possible on recovery), or a
        // startingVersion=latest first trigger with nothing new
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          schema)
      } else if (from == 0L) {
        // bootstrap: the first resolvable snapshot streams as inserts,
        // then the diff forward to `to` (matches readChangesStream).
        // Under commit granularity the bootstrap rows carry the first
        // version as their _commit_version and the forward diff is
        // per-commit.
        val versions = PartitionedLake.snapshots(spark, path)
        val first = versions.head
        val bootRaw = PartitionedLake.readVersion(spark, path, first)
          .withColumn("_change_type", lit("insert"))
        val boot = aligned(if (perCommit)
          bootRaw.withColumn("_commit_version", lit(first)) else bootRaw)
        if (first >= to) boot
        else boot.unionByName(aligned(PartitionedLake.changesBetween(
          spark, path, first, to, keyCols, perCommit)))
      } else {
        aligned(PartitionedLake.changesBetween(spark, path, from, to,
          keyCols, perCommit))
      }
    // a v1 Source must return a STREAMING DataFrame; the engine splices
    // its plan in place of the streaming relation. The diff is an
    // arbitrary derived plan (scoped scans + classify join), so hand
    // the engine its lazily-evaluated InternalRow RDD — the standard
    // derived-source form, through the repo's one private-API seam
    // ([[graft.SparkShims]])
    val rdd = changes.queryExecution.toRdd
    graft.SparkShims.internalCreateDataFrame(spark, rdd, schema,
      isStreaming = true)
  }

  // the engine reports completed batches here (including the recovered
  // committed offset during restart initialization) — fold them into
  // the cap base so a restart can never hand out an offset BELOW what
  // the checkpoint already committed. This is also the ONE place the
  // durable base is written: by now the engine has logged the offset,
  // so the persisted base can never run ahead of the offset log.
  override def commit(end: V1Offset): Unit = persistEnd(versionOf(end))

  override def stop(): Unit = ()
}
