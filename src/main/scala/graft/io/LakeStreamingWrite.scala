package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.write.{PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType

/** `df.writeStream.format("graft-lake-v2")` — the NATIVE DSv2
  * streaming sink: every micro-batch commits exactly-once through the
  * same snapshot protocol as batch writes, so stream-written versions
  * time-travel, feed the `graft-lake-cdf` change feed, tag, and
  * vacuum like any other commit. (The v1 `graft-lake` sink remains;
  * this is the DSv2 table's own write path, so catalog tables and
  * `writeStream.toTable` work too, from any language binding.)
  *
  * Exactly-once is the lake's per-writer TRANSACTION guard: each
  * epoch commits with `batchId = epochId` charged to `writerId`
  * (default: the streaming query's checkpoint-stable id), so a
  * kill-and-restart replaying the last epoch is skipped WHOLE at the
  * manifest — not deduped row-by-row. Within an epoch, task retries
  * are excluded by the lake's staged-write protocol: tasks stream rows
  * into per-attempt flat parquet files under a private epoch staging
  * dir — the copy-on-write statements' [[LakeStagedRowsWriter]] with
  * no partition columns — the driver folds ONLY files reported by
  * committed attempts, and aborted attempts delete their files.
  *
  * Modes, chosen by the query's output mode + options:
  *  - `keyCol` option present → per-epoch keyed UPSERT
  *    ([[PartitionedLake.upsert]]) — the right shape for Update-mode
  *    aggregates and CDC-style streams (the builder accepts Update
  *    mode via `SupportsStreamingUpdateAsAppend`: with a key, update
  *    rows ARE upserts);
  *  - no `keyCol` → per-epoch APPEND ([[PartitionedLake.append]]) —
  *    Append-mode fact streams; duplicate rows are the stream's own
  *    semantics, epochs never double-apply;
  *  - Complete mode (the engine calls `truncate()`) → per-epoch full
  *    snapshot overwrite ([[PartitionedLake.write]]).
  *
  * Scale shape: tasks write once into staging (flat files, partition
  * values as ordinary columns), and the commit re-reads ONLY this
  * epoch's staged bytes to route them through the partitioned commit
  * — O(epoch) extra I/O, never O(table), the price of reusing one
  * battle-tested commit protocol (conflict rebase, schema evolution
  * gates, MOR interplay, manifest sharding) instead of duplicating it.
  */
private[io] class LakeStreamingWrite(path: String,
    partitionCols: Seq[String], keyCol: Option[String],
    statsCols: Seq[String], writerId: String, writeSchema: StructType,
    complete: Boolean) extends StreamingWrite {

  require(partitionCols.forall(writeSchema.fieldNames.contains),
    s"graft-lake-v2 streaming write: the stream's schema " +
      s"(${writeSchema.fieldNames.mkString(", ")}) must carry every " +
      s"partition column (${partitionCols.mkString(", ")})")
  keyCol.foreach(k => require(writeSchema.fieldNames.contains(k),
    s"graft-lake-v2 streaming write: keyCol '$k' is not a column of " +
      s"the stream (${writeSchema.fieldNames.mkString(", ")})"))

  private val staging = new StagingRoot(path, "stream-")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    LakeStagedRowsFactory.prepare(SparkSession.active, staging.path,
      "rows", writeSchema, partCols = Nil, statsCols = Nil)

  private def epochDir(epochId: Long) =
    LakeStagedRowsFactory.epochDir(staging.path, epochId)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val fs = staging.fs
    val files = LakeStagedRows.fold(messages).valuesIterator.flatten
      .map(_.name).toSeq
    // an empty epoch publishes nothing (no version churn) — the
    // replay guard does not need to see it either: replaying an
    // empty epoch re-publishes nothing
    if (files.isEmpty) { cleanEpoch(fs, epochId); return }
    val df = spark.read.schema(writeSchema).parquet(
      files.map(f => new Path(epochDir(epochId), f).toString): _*)
    try {
      if (complete)
        PartitionedLake.write(df, path, partitionCols, statsCols,
          batchId = Some(epochId), writerId = writerId)
      else keyCol match {
        case Some(k) =>
          PartitionedLake.upsert(spark, path, partitionCols, k, df,
            statsCols, batchId = Some(epochId), writerId = writerId)
        case None =>
          PartitionedLake.append(df, path, partitionCols, statsCols,
            batchId = Some(epochId), writerId = writerId)
      }
    } catch { case t: Throwable =>
      // a commit that THROWS — a schema-evolution/governor refusal, or
      // commitStaged exhausting rebase attempts under a writer storm —
      // must not discard completed task output: the engine follows a
      // failed commit with abort(), whose job is cleaning PARTIAL
      // output, so mark the epoch and have abort() skip it. The staged
      // rows remain on disk for forensics and manual batch-commit
      // recovery (the whole epoch, one parquet read away — what a
      // NON-REPLAYABLE source would otherwise lose outright); a
      // restarted query re-stages under a fresh root and vacuum's
      // standard _staging sweep reclaims the debris.
      commitFailedEpochs.add(epochId)
      throw t
    }
    // staging is deleted only AFTER a successful lake commit
    cleanEpoch(fs, epochId)
  }

  private val commitFailedEpochs =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()

  private def cleanEpoch(fs: org.apache.hadoop.fs.FileSystem,
      epochId: Long): Unit = {
    fs.delete(epochDir(epochId), true)
    sweepRootIfEmpty(fs)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    // a failed COMMIT retains its staged files (see commit()); a task-
    // level failure before commit has only partial output — clean it
    if (commitFailedEpochs.contains(epochId)) return
    cleanEpoch(staging.fs, epochId)
  }

  // the per-write staging root should not outlive the stream as empty
  // debris; non-recursive delete refuses a non-empty dir (a racing
  // epoch's files survive), and vacuum reclaims anything left behind
  private def sweepRootIfEmpty(
      fs: org.apache.hadoop.fs.FileSystem): Unit =
    try {
      if (fs.exists(staging.path) && fs.listStatus(staging.path).isEmpty)
        fs.delete(staging.path, false)
    } catch { case _: java.io.IOException => () }
}
