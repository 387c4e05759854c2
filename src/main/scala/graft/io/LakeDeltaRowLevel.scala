package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, CreateNamedStruct, Expression, GetStructField, Literal, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.MetadataColumn
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.write.{DeltaBatchWrite, DeltaWrite, DeltaWriteBuilder, DeltaWriter, DeltaWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, SupportsDelta, WriterCommitMessage}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{DataType, DateType, StringType, StructField, StructType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** MERGE-ON-READ row-level SQL — the [[SupportsDelta]] counterpart of
  * [[LakeRowLevelOperation]]'s group-based copy-on-write. Where the
  * CoW plan rewrites every affected partition DIRECTORY wholesale
  * (carried rows included), this operation asks the engine for a
  * `WriteDelta` plan instead: the scan reads only candidate rows, the
  * statement's per-row outcomes arrive at the writers as typed
  * DELETE / INSERT ops (updates are split — see
  * [[LakeDeltaRowLevelOperation.representUpdateAsDeleteAndInsert]]),
  * and the commit folds them into the lake's existing merge-on-read
  * DELTA SIDECARS ('U' post-images / 'D' key tombstones, the exact
  * format [[PartitionedLake.cdcSinkMergeOnRead]] writes and every read
  * path and compact() already serve).
  *
  * Scale shape: commit bytes are O(changed rows + the touched
  * partitions' accumulated logs), NOT O(touched directory bytes) — a
  * one-key UPDATE on a 100 TB lake writes one small sidecar instead of
  * re-materializing its partition. The trade is the standard MOR one
  * (Hudi MOR / Iceberg equality deletes): reads pay the sidecar
  * anti-join until [[PartitionedLake.compact]] materializes the log
  * away, and the log must stay broadcast-sized between compactions.
  * Routing is an explicit session opt-in
  * ([[LakeDeltaRowLevel.ModeKey]] = `merge-on-read`); the default
  * stays copy-on-write, whose rewrite leaves nothing for readers to
  * merge.
  *
  * Row identity is the lake's merge-on-read contract: `(partition
  * tuple, key)` names at most one row, surfaced to the engine as ONE
  * non-nullable METADATA struct column
  * ([[LakeDeltaRowLevel.IdentCol]] = `struct(partCols..., key)`) —
  * the same device as Iceberg's `_file`/`_pos` row ids, because the
  * engine requires row-ID attributes to be non-nullable and the lake's
  * DATA columns honestly are not (the struct is always present; its
  * FIELDS keep their true nullability, so `WHERE part IS NULL`
  * statements still see the truth). A live-delta lake already has its
  * key in the manifest (`mor:`); a clean lake names one via
  * [[LakeDeltaRowLevel.KeyKey]]. Because identity is the join handle,
  * merge-on-read cannot represent two rows with one identity — so the
  * commit refuses any statement whose log would silently diverge from
  * the copy-on-write multiset result: two different post-images for
  * one identity (ambiguity), and a post-image landing on an EXISTING
  * identity the statement did not itself consume (an UPDATE
  * reassigning the key onto an occupied value, or a MERGE insert
  * colliding with a live row — in CoW both rows would survive; here
  * the collision is detected at commit and refused with directions).
  * The two modes therefore agree row-for-row wherever both succeed.
  */
object LakeDeltaRowLevel {

  /** `copy-on-write` (default) routes SQL UPDATE / DELETE / MERGE to
    * the group-based rewrite; `merge-on-read` routes them here.
    */
  val ModeKey = "spark.graft.lake.rowLevel.mode"

  /** The identity key column for merge-on-read row-level writes on a
    * lake with NO live deltas (a live lake's key comes from its
    * manifest and must not be contradicted).
    */
  val KeyKey = "spark.graft.lake.rowLevel.key"

  val CopyOnWrite = "copy-on-write"
  val MergeOnRead = "merge-on-read"

  /** The row-identity metadata column the delta scan synthesizes:
    * `struct(partCols..., key)`, non-nullable as a whole.
    */
  val IdentCol = "__graft_ident"

  def modeOf(): String =
    SQLConf.get.getConfString(ModeKey, CopyOnWrite)

  /** A catalyst value of `dt` as the external value a commit receipt
    * carries. Dates and timestamps are pinned to java.sql.Date /
    * java.sql.Timestamp, the types collect() yields by default:
    * `createToScalaConverter` follows spark.sql.datetime.java8API.enabled,
    * so without the pin a receipt's type would depend on that setting.
    */
  private[io] def receiptValue(dt: DataType): Any => Any = dt match {
    case DateType => d => DateTimeUtils.toJavaDate(d.asInstanceOf[Int])
    case TimestampType => t => DateTimeUtils.toJavaTimestamp(t.asInstanceOf[Long])
    case _ => org.apache.spark.sql.catalyst.CatalystTypeConverters
      .createToScalaConverter(dt)
  }

  private[io] def identTypeOf(m: PartitionedLake.Manifest, partCols: Seq[String],
      key: String): StructType =
    StructType((partCols :+ key).map(c => m.schema(c)).toArray)

  /** The key a merge-on-read row-level write WOULD use, quietly — for
    * [[GraftLakeTable.metadataColumns]], which runs during arbitrary
    * analysis and must not throw; [[resolveKey]] raises the loud,
    * directed errors when a statement actually commits to the mode.
    */
  private[io] def resolveKeyOpt(m: PartitionedLake.Manifest): Option[String] = {
    val declared = Option(SQLConf.get.getConfString(KeyKey, ""))
      .map(_.trim).filter(_.nonEmpty)
    m.mor.orElse(declared)
      .filter(k => m.schema.fieldNames.contains(k))
      .filter(k => LakeNativeBatchScan.identityKeyOk(m, k))
      .filterNot(_ => m.schema.fieldNames.contains(IdentCol))
  }

  /** Resolve the identity key for a merge-on-read row-level write:
    * the manifest's live key when deltas exist (a conflicting conf is
    * an error, not a silent override), the session conf otherwise —
    * validated against the same shape gate the native merge uses
    * ([[LakeNativeBatchScan.identityKeyOk]]), because the sidecars
    * this write publishes must be servable by that merge.
    */
  private[io] def resolveKey(path: String, m: PartitionedLake.Manifest): String = {
    val declared = Option(SQLConf.get.getConfString(KeyKey, ""))
      .map(_.trim).filter(_.nonEmpty)
    val key = m.mor.orElse(declared).getOrElse(sys.error(
      s"merge-on-read row-level SQL on $path needs an identity key: " +
        s"the lake has no live merge-on-read deltas to inherit one " +
        s"from — set $KeyKey=<column> (the lake's `(partition, key)` " +
        "row-identity contract), or unset " +
        s"$ModeKey to use the copy-on-write rewrite"))
    if (m.mor.isDefined && declared.exists(_ != m.mor.get)) sys.error(
      s"merge-on-read row-level SQL on $path: the lake's live deltas " +
        s"are keyed by '${m.mor.get}' but $KeyKey declares " +
        s"'${declared.get}' — one lake, one identity; unset the conf " +
        "or match it")
    if (!m.schema.fieldNames.contains(key)) sys.error(
      s"merge-on-read row-level SQL on $path: identity key '$key' is " +
        s"not a column of the table (schema: " +
        s"${m.schema.fieldNames.mkString(", ")})")
    if (!LakeNativeBatchScan.identityKeyOk(m, key)) sys.error(
      s"merge-on-read row-level SQL on $path: identity key '$key' must " +
        "be a non-partition column of a hashable type (numeric, " +
        "string, boolean, date, timestamp) — the merge anti-joins on " +
        "it task-side")
    if (m.schema.fieldNames.contains(IdentCol)) sys.error(
      s"merge-on-read row-level SQL on $path: the table has a data " +
        s"column named '$IdentCol', which collides with the reserved " +
        "row-identity metadata column")
    key
  }
}

/** The one metadata column the lake exposes, and only under the
  * merge-on-read opt-in: the row-identity struct. Non-nullable AS A
  * STRUCT — every row has an identity — while its fields keep the data
  * columns' true nullability.
  */
private[io] class LakeIdentMetadataColumn(identType: StructType)
    extends MetadataColumn {
  override def name(): String = LakeDeltaRowLevel.IdentCol
  override def dataType(): DataType = identType
  override def isNullable: Boolean = false
  override def comment(): String =
    "graft-lake row identity (partition columns + merge-on-read key)"
}

private[io] class LakeDeltaRowLevelOperation(path: String,
    pinned: PartitionedLake.Manifest,
    cmd: RowLevelOperation.Command,
    keyCol: String) extends RowLevelOperation with SupportsDelta {

  private val partCols: Seq[String] =
    PartitionedLake.layoutOf(pinned).getOrElse(Nil)
  private val identCols: Seq[String] = partCols :+ keyCol
  private val identType: StructType =
    LakeDeltaRowLevel.identTypeOf(pinned, partCols, keyCol)
  private def dtOf(c: String) =
    pinned.schema.fields.find(_.name == c).map(_.dataType)

  override def command: RowLevelOperation.Command = cmd

  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array.empty // the identity struct already rides rowId

  /** One non-nullable metadata struct — see the class note for why the
    * identity cannot be the (nullable) data columns directly.
    */
  override def rowId(): Array[NamedReference] =
    Array(Expressions.column(LakeDeltaRowLevel.IdentCol))

  /** Updates arrive as DELETE(old id) + INSERT(new row): one uniform
    * pair handles in-place updates, key reassignment, AND
    * partition-moving updates (the tombstone lands in the old
    * partition's log, the post-image in the new one's) — the commit
    * fold re-unifies the in-place case ('U' wins over 'D' for the
    * same identity).
    */
  override def representUpdateAsDeleteAndInsert(): Boolean = true

  /** The row-level scan, delta flavor: unlike the group-based path
    * (which must carry every row of a kept directory and therefore
    * disables row-level pruning), a delta plan needs only CANDIDATE
    * rows — so claimed partition filters, residual stats-based file
    * skipping, and parquet row-group pushdown all apply exactly as on
    * a plain read. Live sidecars ride the native merge; shapes the
    * native batch cannot serve refuse with compact() directions (same
    * contract as the CoW path). When the engine requests the identity
    * column, the native scan is wrapped with a projection that
    * synthesizes the struct from the partition + key columns
    * ([[LakeIdentScan]]).
    */
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {

    private var outSchema: StructType = pinned.schema
    private var claimed: Array[Filter] = Array.empty
    private var residual: Array[Filter] = Array.empty
    private var accepted: Array[Filter] = Array.empty

    override def pruneColumns(requiredSchema: StructType): Unit =
      outSchema = requiredSchema

    override def pushFilters(filters: Array[Filter]): Array[Filter] = {
      val (c, r, a) = LakeFilters.split(filters, partCols, dtOf)
      claimed = c
      residual = r
      accepted = a
      residual
    }
    override def pushedFilters(): Array[Filter] = accepted

    override def build(): Scan = {
      val deltaInfo = LakeNativeBatchScan.rowLevelDeltaInfo(
        SparkSession.active, path, pinned, "merge-on-read row-level SQL")
      val needIdent =
        outSchema.fieldNames.contains(LakeDeltaRowLevel.IdentCol)
      // the inner (parquet-facing) schema: the requested DATA columns,
      // plus — when the identity struct is requested — every column it
      // is built from (a DELETE projects ONLY the identity, so the
      // data columns it derives from may not be requested at all)
      val dataReq = outSchema.fields
        .filterNot(_.name == LakeDeltaRowLevel.IdentCol)
      val innerFields =
        if (!needIdent) dataReq
        else dataReq ++ identCols
          .filterNot(c => dataReq.exists(_.name == c))
          .map(c => pinned.schema(c))
      val innerSchema = StructType(innerFields)
      val inner = new LakeNativeBatchScan(path, None, pinned,
        pinned.schema, innerSchema, claimed = claimed,
        residual = residual, deltaInfo = deltaInfo)
      if (!needIdent) inner
      else new LakeIdentScan(inner, outSchema, innerSchema, identCols,
        identType)
    }
  }

  override def newWriteBuilder(info: LogicalWriteInfo): DeltaWriteBuilder =
    new DeltaWriteBuilder {
      override def build(): DeltaWrite = {
        // the ops this write publishes become sidecar rows under the
        // CURRENT table schema — a drifted write schema would publish
        // a log the read-side union cannot reconcile. A pure DELETE
        // carries NO data row (its write schema is identity-only), so
        // only insert-capable commands validate
        val ws = info.schema()
        if (cmd != RowLevelOperation.Command.DELETE) {
          val bad = pinned.schema.fields.filter(f =>
            !ws.fields.exists(w =>
              w.name == f.name && w.dataType == f.dataType))
          require(bad.isEmpty,
            s"row-level delta write schema diverges from the table " +
              s"schema on: ${bad.map(_.name).mkString(", ")} — refusing " +
              "to publish sidecars the merge-on-read union cannot read")
        }
        new LakeDeltaWrite(path, pinned, partCols, keyCol, ws, identType)
      }
    }

  override def description(): String =
    s"GraftLakeRowLevelDelta($cmd, $path)"
}

/** Wraps the native batch to serve the requested identity struct: the
  * readers' rows are projected to the requested order with
  * `struct(partCols..., key)` synthesized in place — a codegen'd
  * [[UnsafeProjection]] over columns the inner scan already reads, so
  * the identity costs no extra I/O. Runtime filtering and statistics
  * delegate to the inner scan unchanged.
  */
private[io] class LakeIdentScan(inner: LakeNativeBatchScan,
    outSchema: StructType, innerSchema: StructType,
    identCols: Seq[String], identType: StructType)
    extends Scan with Batch with SupportsRuntimeFiltering
    with SupportsReportStatistics {

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    inner.planInputPartitions()
  override def createReaderFactory(): PartitionReaderFactory =
    new LakeIdentAppendingFactory(inner.createReaderFactory(), outSchema,
      innerSchema, identCols, identType)
  // only attributes PRESENT in this scan's (pruned) output — the
  // engine resolves them against the relation, and a pruned-out
  // partition column would fail analysis (the identity struct carries
  // the values, but runtime filters address bare columns); DPP is
  // pruning-only, so narrowing loses nothing but an opportunity
  override def filterAttributes(): Array[NamedReference] =
    inner.filterAttributes().filter(r =>
      r.fieldNames.length == 1 &&
        outSchema.fieldNames.contains(r.fieldNames.head))
  override def filter(filters: Array[Filter]): Unit = inner.filter(filters)
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    inner.estimateStatistics()
  override def description(): String =
    s"GraftLakeIdent(${inner.description()})"
}

private[io] class LakeIdentAppendingFactory(inner: PartitionReaderFactory,
    outSchema: StructType, innerSchema: StructType,
    identCols: Seq[String], identType: StructType)
    extends PartitionReaderFactory {

  // the identity struct is synthesized row-side; vectorized batches
  // would need a column-builder reimplementation for zero benefit on a
  // DML scan
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    def innerRef(name: String): Expression = {
      val i = innerSchema.fieldIndex(name)
      BoundReference(i, innerSchema(i).dataType, nullable = true)
    }
    val exprs: Seq[Expression] = outSchema.fields.toSeq.map { f =>
      if (f.name == LakeDeltaRowLevel.IdentCol)
        CreateNamedStruct(identCols.flatMap(c => Seq(
          Literal(UTF8String.fromString(c), StringType), innerRef(c))))
      else innerRef(f.name)
    }
    val proj = UnsafeProjection.create(exprs.toIndexedSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = proj(r.get())
      override def close(): Unit = r.close()
    }
  }
}

/** The delta batch write: each task streams its typed ops into ONE
  * flat parquet file of `(table schema..., __graft_op)` rows under a
  * private `_staging/` root (partition values are ordinary columns
  * there — the final per-partition sidecar layout is produced by the
  * commit fold, which also carries the touched partitions' existing
  * log entries forward). The driver commit is
  * [[PartitionedLake.commitRowLevelDeltas]].
  */
private[io] class LakeDeltaWrite(path: String,
    pinned: PartitionedLake.Manifest, partCols: Seq[String],
    keyCol: String, writeSchema: StructType, identType: StructType)
    extends DeltaWrite with DeltaBatchWrite {

  override def toBatch: DeltaBatchWrite = this
  override def description(): String = s"GraftLakeDeltaWrite($path)"

  private val opsRoot = new StagingRoot(path, "ops-")

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DeltaWriterFactory =
    new LakeDeltaWriterFactory(opsRoot.path.toString,
      LakeStagedWrite.prepare(SparkSession.active, StructType(
        pinned.schema.fields :+
          StructField(PartitionedLake.MorOpCol, StringType))),
      pinned.schema, writeSchema, identType, partCols :+ keyCol)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    // only files named by COMMITTED task attempts participate in the
    // fold ([[LakeStagedWrite]]): a retried or speculative
    // attempt's leftover ops file (possibly truncated, certainly
    // duplicate) must not be read
    val results = messages.collect { case m: LakeDeltaTaskResult => m }
    val files = results.flatMap(_.files).toSeq
    // matched nothing, inserted nothing: publish nothing (no version
    // churn — same contract as the empty dynamic overwrite)
    if (files.isEmpty) { abort(messages); return }
    // the attempts' receipts already carry the touched partition tuples
    // and the (conservative) unconsumed-post-image count — the commit
    // then needs NO separate summary job over the op files (round 19)
    PartitionedLake.commitRowLevelDeltas(spark, path, pinned, partCols,
      keyCol, opsRoot.path, files,
      partsHint = Some(results.flatMap(_.parts).distinct.toArray),
      suspectsHint = Some(results.map(_.suspects).sum),
      uOpsHint = Some(results.map(_.uOps).sum))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    opsRoot.abort()
}

/** A committed attempt's receipt: its op count, the exact staging
  * file name(s) it wrote — the driver commit reads ONLY these, so an
  * aborted/zombie attempt's file can never be folded — plus (round 19)
  * the DISTINCT partition tuples it touched (external Scala values,
  * driver-bounded by the live-partition count — the same argument as
  * the summary job's collect_set these reports replace) and a
  * CONSERVATIVE count of post-images whose identity the task did not
  * see itself consume (`suspects`): a split update's delete+insert
  * halves ride adjacent rows of one task (the Expand that splits
  * them), so adjacency pairing detects in-place updates exactly; any
  * plan that separates the halves only OVERCOUNTS, which costs one
  * unnecessary collision probe, never a missed refusal.
  */
private[io] case class LakeDeltaTaskResult(ops: Long, files: Seq[String],
    parts: Seq[Seq[Any]] = Nil, suspects: Long = 0L, uOps: Long = 0L)
  extends WriterCommitMessage

private[io] class LakeDeltaWriterFactory(staging: String,
    stage: ParquetStage, tableSchema: StructType, writeSchema: StructType,
    identType: StructType, identCols: Seq[String])
    extends DeltaWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DeltaWriter[InternalRow] =
    new LakeDeltaOpsWriter(new Path(staging),
      new StagedFile(stage, "ops", partitionId, taskId), tableSchema,
      writeSchema, identType, identCols)
}

/** One task's ops file. INSERT rows arrive in the write schema's
  * layout and project to the op schema BY NAME with op `'U'` (a
  * post-image); DELETE ids arrive as one identity STRUCT — the single
  * rowId attribute [[LakeDeltaRowLevelOperation.rowId]] declares —
  * whose typed fields project back into the identity columns' slots
  * with op `'D'` (a tombstone). The engine never calls `update` under
  * `representUpdateAsDeleteAndInsert`; the defensive implementation
  * preserves its exact semantics anyway.
  */
private[io] class LakeDeltaOpsWriter(staging: Path, file: StagedFile,
    tableSchema: StructType, writeSchema: StructType,
    identType: StructType, identCols: Seq[String])
    extends DeltaWriter[InternalRow] {

  // lazy: a pure DELETE's write schema is identity-only (no data
  // row), so binding table columns against it would fail — and its
  // writers never insert
  private lazy val insertProj = UnsafeProjection.create(
    (tableSchema.fields.toSeq.map { f =>
      val i = writeSchema.fieldIndex(f.name)
      BoundReference(i, writeSchema(i).dataType,
        nullable = true): Expression
    } :+ (Literal(UTF8String.fromString("U"), StringType): Expression))
      .toIndexedSeq)

  private val deleteProj = UnsafeProjection.create(
    (tableSchema.fields.toSeq.map { f =>
      identCols.indexOf(f.name) match {
        case -1 => Literal(null, f.dataType): Expression
        case i => GetStructField(BoundReference(0, identType,
          nullable = false), i, Some(f.name)): Expression
      }
    } :+ (Literal(UTF8String.fromString("D"), StringType): Expression))
      .toIndexedSeq)

  private var ops = 0L

  // task-side commit receipt accounting (round 19): the partition
  // tuples this task touched and the conservative unconsumed-post-image
  // count — what lets the driver commit skip its summary job entirely.
  // Values are converted to EXTERNAL Scala types immediately (the
  // projection reuses its row buffer, and the driver-side consumers —
  // partitionFilter/sparkDirsFor — speak external values), of types
  // that do not depend on the session (LakeDeltaRowLevel.receiptValue).
  private val identPos = identCols.map(c => tableSchema.fieldIndex(c))
  private val extractIdent: Seq[InternalRow => Any] = identPos.map { i =>
    val dt = tableSchema(i).dataType
    val conv = LakeDeltaRowLevel.receiptValue(dt)
    (r: InternalRow) => if (r.isNullAt(i)) null else conv(r.get(i, dt))
  }
  private val partsSeen =
    scala.collection.mutable.LinkedHashSet.empty[Seq[Any]]
  private var suspects = 0L
  private var uOps = 0L
  private var lastOp: String = _
  private var lastIdent: Seq[Any] = _
  private var lastUCounted = false

  /** Track one projected op row. A split update's delete+insert halves
    * arrive as adjacent rows of this task (the Expand that splits
    * them), in either order — adjacency pairing cancels them exactly;
    * any plan that separates the halves only OVERCOUNTS suspects
    * (costing one unnecessary, still-correct collision probe).
    */
  private def track(op: String, projected: InternalRow): Unit = {
    val ident = extractIdent.map(_(projected))
    partsSeen += ident.dropRight(1)
    if (op == "U") {
      uOps += 1
      val consumed = lastOp == "D" && lastIdent == ident
      if (!consumed) { suspects += 1; lastUCounted = true }
      else lastUCounted = false
    } else if (lastOp == "U" && lastIdent == ident && lastUCounted) {
      suspects -= 1
      lastUCounted = false
    }
    lastOp = op
    lastIdent = ident
  }

  override def insert(row: InternalRow): Unit = {
    val projected = insertProj(row)
    track("U", projected)
    file.write(staging, projected); ops += 1
  }

  override def delete(meta: InternalRow, id: InternalRow): Unit = {
    val projected = deleteProj(id)
    track("D", projected)
    file.write(staging, projected); ops += 1
  }

  override def update(meta: InternalRow, id: InternalRow,
      row: InternalRow): Unit = {
    delete(meta, id); insert(row)
  }

  /** Reports exactly this attempt's file name: the driver fold reads
    * only committed attempts' names, so a losing attempt's file is
    * never folded.
    */
  override def commit(): WriterCommitMessage = {
    val name = file.roll().map(_.getName)
    if (ops == 0) LakeDeltaTaskResult(0L, Nil)
    else LakeDeltaTaskResult(ops, name.toSeq, partsSeen.toSeq, suspects,
      uOps)
  }

  /** A failed attempt deletes its (possibly partial) file — belt to the
    * commit-side braces of reading only committed attempts' names.
    */
  override def abort(): Unit = file.abort()
  override def close(): Unit = { file.roll(); () }
}
