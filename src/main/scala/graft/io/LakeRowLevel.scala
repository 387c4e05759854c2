package graft.io

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, NullOrdering, SortDirection, SortOrder}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, RowLevelOperation, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** SQL UPDATE / MERGE INTO / row-level DELETE for the lake — the
  * GROUP-BASED (copy-on-write) `RowLevelOperation`, where a group is a
  * partition DIRECTORY. The engine rewrites the statement into a
  * `ReplaceData` plan: it reads the affected groups through
  * [[newScanBuilder]]'s scan, computes the full replacement row set
  * (carried + modified + inserted rows), and writes it back through
  * [[newWriteBuilder]]'s [[LakeReplaceDataWrite]]; the commit then
  * supersedes EXACTLY the scanned directories and merge-appends rows
  * that landed in directories the scan never read (a MERGE's
  * NOT MATCHED inserts may target any partition) —
  * [[PartitionedLake.commitReplaceData]].
  *
  * Scale shape, identical to the API upsert's cost model:
  *
  *  - the statement's condition reaches the scan as GROUP filters
  *    only — the partition-exact subset prunes whole directories
  *    statically, and the engine's runtime group filtering (the same
  *    `SupportsRuntimeFiltering` seam DPP uses — q153) re-scopes the
  *    directory list to groups that actually CONTAIN matches, so an
  *    UPDATE touching three partitions rewrites three partitions, not
  *    the table;
  *  - rows WITHIN kept directories are never filtered at the scan
  *    (no parquet pushdown, no stats skipping on this path): a
  *    group-based rewrite must carry every unmatched row of an
  *    affected group, so row-level skipping would silently DROP rows
  *    — the one semantic difference from the plain read scan, pinned
  *    by the builder passing `residual = empty`;
  *  - the replacement write requires per-task ORDERING by the
  *    partition columns ([[RequiresDistributionAndOrdering]]), so each
  *    task holds ONE open parquet writer at a time — no
  *    writers-per-partition memory blowup at wide layouts;
  *  - the commit rides the standard optimistic rebase: racing commits
  *    touching a replaced directory conflict loudly, disjoint ones
  *    rebase, and live merge-on-read deltas in an APPEND-target
  *    directory refuse exactly like INSERT INTO (the replaced
  *    directories' deltas are superseded wholesale — the carried rows
  *    are the post-merge snapshot).
  *
  * Routing: ALWAYS the native batch. Live merge-on-read deltas ride
  * the native sidecar merge (round 16): the scan carries each dirty
  * kept directory's POST-MERGE rows and the commit supersedes its
  * deltas with the rewrite, so UPDATE/MERGE work mid-ingest. Snapshots
  * the native scan cannot read (pre-bytes legacy entries, live
  * physical-name pins, deltas the native merge cannot serve) REFUSE at
  * scan build with compact() directions through the gate both
  * row-level scans share ([[LakeNativeBatchScan.rowLevelDeltaInfo]]) —
  * the V1 fallback cannot serve a row-level scan (no batch form).
  * LakeRowLevelSpec pins the refusal matrix and the mid-ingest
  * semantics. Partition-only DELETEs never reach this class either:
  * the engine's metadata-delete optimization converts them back to
  * [[GraftLakeTable.deleteWhere]]'s zero-data-job retirement
  * (`canDeleteWhere` stays the honest gate), which is also why the
  * refusal must NOT sit in `newRowLevelOperationBuilder` — the
  * analyzer constructs the operation before that optimization runs.
  */
private[io] class LakeRowLevelOperation(path: String,
    pinned: PartitionedLake.Manifest,
    cmd: RowLevelOperation.Command) extends RowLevelOperation {

  private val partCols: Seq[String] =
    PartitionedLake.layoutOf(pinned).getOrElse(Nil)
  private def dtOf(c: String) =
    pinned.schema.fields.find(_.name == c).map(_.dataType)

  // captured by the scan builder at build() so the write can resolve
  // the replaced-group set at COMMIT time (after runtime group filters
  // landed) — same-JVM driver objects, the DSv2 row-level handshake
  @volatile private var builtScan: Option[Scan] = None
  @volatile private var groupFilters: Array[Filter] = Array.empty

  override def command: RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty // partition values are ordinary data columns here

  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

    private var required: StructType = pinned.schema

    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema

    /** GROUP granularity only: keep the partition-exact subset for
      * whole-directory pruning and return EVERYTHING — the rewrite
      * itself evaluates the full condition row-by-row, and a filter
      * applied at row level inside a kept group would drop rows the
      * rewrite must CARRY.
      */
    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      groupFilters = filters.filter(f =>
        f.references.forall(partCols.contains) &&
          LakeFilters.compile(f, dtOf).isDefined)
      filters
    }
    override def pushedFilters(): Array[Filter] = groupFilters

    override def build(): Scan = {
      // the refusals sit HERE, not in newRowLevelOperationBuilder: the
      // scan is only built for plans that stay row-level, so a
      // partition-scoped DELETE on a MOR lake still converts to the
      // metadata retirement (the analyzer rewrite constructs the
      // operation BEFORE the metadata-delete optimization can rescue
      // it — refusing at construction would break those DELETEs).
      // LIVE MERGE-ON-READ DELTAS ride the native sidecar merge (round
      // 16): the scan carries each dirty kept directory's POST-MERGE
      // rows (base anti-join sidecar keys + 'U' post-images), and the
      // ReplaceData commit supersedes the replaced directories' deltas
      // along with their files — the rewrite materializes exactly what
      // the merge read, so UPDATE/MERGE work MID-INGEST, between CDC
      // batches and compaction. Inserts into dirty UNSCANNED
      // directories still refuse inside the commit rebase loop (the
      // silent-row-loss guard).
      val deltaInfo = LakeNativeBatchScan.rowLevelDeltaInfo(
        SparkSession.active, path, pinned, "row-level SQL")
      // ALWAYS the native batch (an empty created lake included — its
      // declared layout names the partition columns); residual = empty
      // disables parquet pushdown AND stats skipping: a group rewrite
      // must carry every row of a kept directory
      val scan = new LakeNativeBatchScan(path, None, pinned, pinned.schema,
        required, claimed = groupFilters, residual = Array.empty,
        deltaInfo = deltaInfo)
      builtScan = Some(scan)
      scan
    }
  }

  /** The directories this operation REPLACES: the native scan's kept
    * set (static claim + runtime group filters — resolved at commit,
    * AFTER execution). The scan is always native (see the routing
    * doc), so a missing/foreign scan here is a broken handshake —
    * refuse loudly rather than guess a replaced set (replacing
    * directories the write staged nothing for would silently erase
    * them).
    */
  private[io] def replacedDirs: Set[String] = builtScan match {
    case Some(n: LakeNativeBatchScan) => n.currentKeptDirs.toSet
    case other => throw new IllegalStateException(
      s"row-level write committing without its native scan (got $other) " +
        "— the LakeRowLevelOperation scan/write handshake broke; " +
        "refusing to derive a replaced-directory set")
  }

  /** Re-harvests footer bounds for every column that carried stats in
    * the pre-rewrite snapshot: without this, an UPDATE/MERGE on a
    * z-ordered lake would silently strip the rewritten partitions'
    * bounds from the manifest and file skipping (q157 / readBox) would
    * degrade to full directory reads there until a compact(statsCols).
    * statsColsOf covers NUMERIC and STRING bounds — a lake whose
    * discipline is string-only must not lose it to a rewrite
    * (LakeStringStatsSpec's sticky sweep pins this path).
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new LakeReplaceDataWrite(path, "GraftLakeReplaceData", partCols,
          info.schema(), () => PartitionedLake.statsColsOf(Some(pinned)),
          (staging, staged) => PartitionedLake.commitReplaceData(
            SparkSession.active, path, staging.path, staged, replacedDirs,
            pinned))
    }

  override def description(): String = s"GraftLakeRowLevel($cmd, $path)"
}

/** The partition-ordered staged batch write behind copy-on-write
  * `ReplaceData` ([[LakeRowLevelOperation]]) and dynamic partition
  * overwrite (`INSERT OVERWRITE` under
  * `spark.sql.sources.partitionOverwriteMode=dynamic`, or
  * `DataFrameWriterV2.overwritePartitions()` — the engine has no V1
  * exec for it; [[LakeWriteBuilder]]). Tasks stream their rows into
  * per-directory parquet files under one staging root
  * ([[LakeStagedRowsWriter]]: one open writer per task via the required
  * partition-column ordering, bounds re-harvested task-side for
  * `statsCols`, evaluated when the writer factory is built), and
  * `publish` commits the committed attempts' files, by directory.
  */
private[io] class LakeReplaceDataWrite(path: String, label: String,
    partCols: Seq[String], writeSchema: StructType,
    statsCols: () => Seq[String],
    publish: (StagingRoot, Map[String, Seq[PartitionedLake.FileEntry]]) => Unit)
    extends Write with BatchWrite with RequiresDistributionAndOrdering {

  override def toBatch: BatchWrite = this
  override def description(): String = s"$label($path)"

  // per-task clustering of partition values WITHOUT a shuffle: ordering
  // alone guarantees each task sees its directories contiguously, so
  // one parquet writer is open at a time
  override def requiredDistribution(): Distribution =
    Distributions.unspecified()
  override def requiredNumPartitions(): Int = 0
  override def requiredOrdering(): Array[SortOrder] = partCols.map(c =>
    Expressions.sort(Expressions.column(c), SortDirection.ASCENDING,
      NullOrdering.NULLS_FIRST)).toArray

  private val staging = new StagingRoot(path, "")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    LakeStagedRowsFactory.prepare(SparkSession.active, staging.path,
      "part", writeSchema, partCols, statsCols())

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    publish(staging, LakeStagedRows.fold(messages))

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staging.abort()
}
