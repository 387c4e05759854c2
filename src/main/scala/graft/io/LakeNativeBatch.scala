package graft.io

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.expressions.Expressions
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, HasPartitionKey, InputPartition, PartitionReaderFactory, Scan, SupportsReportPartitioning, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetOptions
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The NATIVE DataSource-V2 batch for a copy-on-write lake snapshot —
  * the scan that closes the one scale-killer gap the `V1Scan` shim
  * left open: DYNAMIC partition pruning. The shim delegates to a
  * derived DataFrame plan, which gives the engine no
  * `SupportsRuntimeFiltering` seam, so the classic star shape
  * (`fact JOIN dim ON fact.day = dim.day WHERE dim.flag`) scanned
  * every fact partition. Here the manifest's directory list IS the
  * partition index: the engine hands the join's runtime keys to
  * [[filter]], which re-scopes the directory list through the same
  * exact three-valued evaluator static claimed filters use
  * ([[LakeFilters.compile]]), and only the surviving directories'
  * files are planned.
  *
  * Eligibility (gated in [[LakeScanBuilder.build]]): a manifest-backed
  * snapshot with NO live merge-on-read deltas and byte lengths for
  * every file (post-adoption commits always have them). Everything
  * else — MOR merge plans, pre-protocol paths, adopted legacy files —
  * keeps the V1 fallback, whose delegated plan already handles those
  * shapes; this scan never degrades correctness, only routes around.
  *
  * The physical read is Spark's OWN DSv2 parquet machinery
  * ([[ParquetPartitionReaderFactory]]): vectorized/columnar batches,
  * row-group skipping from pushed data filters, by-name column
  * resolution (additive schema evolution reads old files with typed
  * nulls), datetime rebase handling — not a re-implementation. This
  * scan contributes exactly what Spark's file index cannot know: the
  * manifest-scoped live-file list, its exact statistics, and the
  * directory-level claim/prune semantics.
  *
  * Scale shape: files are sliced at the engine's own
  * `maxSplitBytes` (so one oversized compacted file still spreads
  * across the cluster) and bin-packed with
  * [[FilePartition.getFilePartitions]] (so 50k small files do not
  * become 50k tasks). Claimed filters prune directories BEFORE
  * planning; statistics are the exact post-claim manifest sums, which
  * keeps broadcast decisions sound after a selective partition
  * predicate.
  *
  * Reference behavior covered: the all-submissions scan fans out per
  * prefix (reference: file_submission_processor.py's per-key listing
  * loop) — here one pruned distributed scan.
  */
private[io] class LakeNativeBatchScan(
    path: String,
    version: Option[Long],
    m: PartitionedLake.Manifest,
    fullSchema: StructType,
    required: StructType,
    claimed: Array[Filter],
    residual: Array[Filter],
    deltaInfo: Map[String, Seq[(String, Long)]] = Map.empty)
  extends Scan with Batch with SupportsRuntimeFiltering
  with SupportsReportStatistics with SupportsReportPartitioning {

  // layoutOf, not partitionColsOf: an EMPTY snapshot (created table, a
  // row-level rewrite's target before any insert) has no directories to
  // derive from, but its declared meta:partition-cols layout still
  // names the columns
  private val partCols: Seq[String] =
    PartitionedLake.layoutOf(m).getOrElse(Nil)
  private def dtOf(c: String): Option[org.apache.spark.sql.types.DataType] =
    fullSchema.fields.find(_.name == c).map(_.dataType)

  /** MERGE-ON-READ, natively ([[LakeScanBuilder]] routes here when
    * [[LakeNativeBatchScan.morDeltaInfo]] accepts the snapshot): each
    * DIRTY directory plans its base-file slices behind a per-task
    * anti-join against the directory's delta identity keys (the key
    * set is read task-side from the sidecars — driver-capped at
    * [[LakeNativeBatchScan.MorMaxDeltaBytesPerDir]], so it always fits
    * a task hash set; bigger delta loads keep the V1 fallback's
    * distributed anti-join), plus ONE extra input partition emitting
    * the sidecars' 'U' post-images. Clean directories are untouched —
    * so DPP, claimed pruning, and stats skipping now prune dirty
    * directories too, instead of the whole lake dropping to the
    * delegated V1 plan between compactions.
    */
  private val morKey: Option[String] =
    if (deltaInfo.nonEmpty) m.mor else None

  // required's data columns in THEIR order, partition columns in
  // LAYOUT order appended — the readDataSchema ++ partitionSchema shape
  // Spark's own parquet reader factory physically emits. A MOR merge
  // force-reads the identity key (appended last, dropped by the
  // required-order remap) when the query pruned it out.
  private val readDataSchema: StructType = {
    val base = StructType(
      required.fields.filterNot(f => partCols.contains(f.name)))
    morKey match {
      case Some(k) if !base.fieldNames.contains(k) =>
        StructType(base.fields :+ fullSchema(k))
      case _ => base
    }
  }
  private val readPartCols: Seq[String] =
    partCols.filter(c => required.fieldNames.contains(c))
  private val readPartSchema: StructType =
    StructType(readPartCols.map(c => fullSchema(c)))

  /** The ENGINE's pruned order, preserved exactly — not the physical
    * data++partition emission order. An earlier form returned the
    * physical order and let the engine re-project by name, which was
    * harmless under SELECT but fatal under SQL DELETE: the optimizer
    * restores the requested order with a Project over the pushed-down
    * relation, and the DELETE planning rules
    * (OptimizeMetadataOnlyDeleteFromTable, the DeleteFromTable
    * strategy) match only a BARE scan relation — the gratuitous
    * Project made every `DELETE FROM lake` an internal error.
    * [[createReaderFactory]] remaps the physical order to this one.
    */
  override def readSchema(): StructType = required

  // physical emission order -> required order; identity when the
  // required order already is data-then-partition
  private val innerOrder: Seq[String] =
    readDataSchema.fieldNames.toSeq ++ readPartCols
  private val reorder: Array[Int] =
    required.fieldNames.map(innerOrder.indexOf(_))

  override def toBatch: Batch = this

  private val parser = new LakeDirValues(partCols, fullSchema)

  /** Directories surviving the STATIC claimed filters — resolved once;
    * exactly the rows-with-these-partition-values the engine dropped
    * its own copy of the predicate for.
    */
  private val staticDirs: Seq[String] = {
    // "claimed => compiles" is the builder's invariant
    // ([[LakeScanBuilder.pushFilters]] only claims filters the exact
    // evaluator accepted); assert it HERE with a pointer at the seam,
    // because the two halves live in different files and a builder
    // drift would otherwise surface as a bare NoSuchElementException
    val preds = claimed.toSeq.map(f => LakeFilters.compile(f, dtOf)
      .getOrElse(throw new IllegalStateException(
        s"claimed filter $f does not compile against the snapshot " +
          "schema — LakeScanBuilder.pushFilters must only claim filters " +
          "LakeFilters.compile accepts (builder/scan invariant drift)")))
    // allDirs, not files.keys: a directory can live entirely in delta
    // sidecars (CDC inserts into a fresh partition — no base files yet)
    PartitionedLake.allDirs(m).toSeq.sorted
      .filter(LakeFilters.dirMatches(preds, parser))
  }

  /** A kept directory's files, minus the ones whose committed footer
    * bounds PROVE no residual-filter match ([[LakeFilters.mayMatchStats]])
    * — the SQL-route analogue of the API's `readRange`/`readBox` file
    * skipping (PartitionedLake.scala footer-harvest notes). On a
    * z-order-compacted lake each file is a small rectangle in the
    * clustered columns' space, so a SQL range predicate plans a strict
    * subset of the kept directories' files; the engine re-evaluates
    * every residual filter row-by-row on top, so the skip is pure
    * performance. At 100 TB this is the same class of win as DPP: the
    * bytes are never opened, and the decision costs zero footer reads
    * at query time (the bounds were harvested once, at commit).
    */
  private def liveEntries(d: String): Seq[PartitionedLake.FileEntry] =
    m.files.getOrElse(d, Nil).filter(e =>
      residual.forall(f =>
        LakeFilters.mayMatchStats(f, e.stats, e.strStats)))

  // runtime (join-driven) predicates land here; pruning-only, so a
  // shape the evaluator cannot compile is simply ignored (the join
  // itself enforces the semantics — DPP never carries correctness)
  @volatile private var runtimePreds: Seq[LakeFilters.DirEval] = Nil

  // only the partition columns PRESENT IN THE SCAN OUTPUT: the engine
  // resolves these against the relation's (pruned) attributes, and a
  // pruned-out column would fail analysis ("Unable to resolve ...") —
  // no DPP opportunity is lost, because a join key is always read
  override def filterAttributes(): Array[NamedReference] =
    readPartCols.map(c => Expressions.column(c)).toArray

  /** NULL-SAFE widening for runtime IN-filters: a delivered value list
    * containing null is rewritten to `In(non-nulls) OR IsNull` before
    * compiling. Runtime filters are PRUNING-ONLY, so for join-driven
    * DPP this is merely conservative (a null join key never matches,
    * but keeping the null directory costs only its scan); for
    * row-level GROUP filtering it is REQUIRED for correctness-of-
    * pruning: the engine's matching-groups subquery announces the null
    * partition as a null key (plain InSubquery — no null-safe form),
    * and three-valued IN would silently prune the very group an
    * `UPDATE ... WHERE part IS NULL` must rewrite.
    */
  private def nullSafeRuntime(f: Filter): Filter = f match {
    case org.apache.spark.sql.sources.In(a, vs) if vs.contains(null) =>
      org.apache.spark.sql.sources.Or(
        org.apache.spark.sql.sources.In(a, vs.filter(_ != null)),
        org.apache.spark.sql.sources.IsNull(a))
    case other => other
  }

  override def filter(filters: Array[Filter]): Unit = {
    runtimePreds = filters.toSeq
      .filter(_.references.forall(partCols.contains))
      .flatMap(f => LakeFilters.compile(nullSafeRuntime(f), dtOf))
  }

  private def keptDirs: Seq[String] =
    if (runtimePreds.isEmpty) staticDirs
    else staticDirs.filter(LakeFilters.dirMatches(runtimePreds, parser))

  /** The directories the scan reads AS OF NOW (post static claim and
    * any delivered runtime filters) — the ReplaceData write resolves
    * its replaced-group set from this at commit time
    * ([[LakeRowLevelOperation.replacedDirs]]).
    */
  private[io] def currentKeptDirs: Seq[String] = keptDirs

  /** The file paths this scan would open right now (post static AND
    * runtime pruning AND stats skipping) — the observable q153/q157 and
    * the spec assertions pin.
    */
  private[io] def plannedFiles: Seq[String] = keptDirs.flatMap(d =>
    liveEntries(d).map(e => s"$path/$d/${e.name}") ++
      deltaInfo.getOrElse(d, Nil).map { case (n, _) => s"$path/$d/$n" })
  private[io] def staticFileCount: Int =
    staticDirs.map(d =>
      liveEntries(d).size + deltaInfo.getOrElse(d, Nil).size).sum

  /** (post-skip, pre-skip) file counts over the directories the scan
    * keeps right now — strictly-less pairs are FILE-LEVEL data-skipping
    * evidence (bounds-pruned files inside surviving directories),
    * orthogonal to [[staticFileCount]]'s directory-level view.
    */
  private[io] def statsSkipping: (Int, Int) = {
    val dirs = keptDirs
    (dirs.map(liveEntries(_).size).sum,
      dirs.map(m.files.getOrElse(_, Nil).size).sum)
  }

  /** Storage-partitioned joins: when the session opts in AND the scan
    * output carries EVERY partition column (the engine resolves the
    * clustering expressions against the pruned output, and join keys
    * are always read), the scan reports its manifest layout as a
    * [[KeyGroupedPartitioning]] and plans KEY-PURE input partitions —
    * each holds one directory's files, tagged [[HasPartitionKey]].
    * Two lakes laid out on the same key then equi-join with ZERO
    * Exchange: at 100 TB this deletes the largest shuffle a fact-fact
    * join has (both sides' full width over the wire), the DSv2
    * analogue of what io/Bucketing proves for the warehouse path.
    *
    * Opt-in is [[LakeNativeBatchScan.PreserveGroupingKey]] on TOP of
    * Spark's own `spark.sql.sources.v2.bucketing.enabled` (default ON
    * in Spark 4): once key grouping is reported, the engine groups
    * same-key splits into ONE task for EVERY query — a 10 GB single
    * partition becomes one task whether or not any join benefits. The
    * same trade is why Iceberg gates its grouping report behind a
    * default-off preserve-data-grouping flag; co-located join plans
    * are worth single-task-per-key reads only when the query actually
    * joins on the layout.
    */
  // SNAPSHOTTED at scan construction, not re-read per call:
  // outputPartitioning() (planning) and planInputPartitions()
  // (execution, and the runtime-filter re-plan) must agree — a conf
  // flip between them would report key grouping while planning
  // non-key-pure partitions, or vice versa (Iceberg snapshots this
  // decision at scan construction for the same reason)
  private val spjKeyed: Boolean =
    SQLConf.get.v2BucketingEnabled &&
      SQLConf.get.getConfString(
        LakeNativeBatchScan.PreserveGroupingKey, "false").toBoolean &&
      readPartCols == partCols &&
      deltaInfo.isEmpty // MOR partitions are not FilePartition-keyed

  override def outputPartitioning(): Partitioning =
    if (spjKeyed)
      new KeyGroupedPartitioning(
        partCols.map(c => Expressions.identity(c)).toArray, keptDirs.size)
    else new UnknownPartitioning(0)

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val perDir = keptDirs.map { d =>
      (parser.rowOf(d, readPartCols), d, liveEntries(d))
    }
    val totalBytes = perDir.iterator
      .flatMap(_._3.iterator.map(_.bytes.get)).sum +
      keptDirs.iterator
        .flatMap(deltaInfo.getOrElse(_, Nil).iterator.map(_._2)).sum
    val maxSplit = FilePartition.maxSplitBytes(spark, totalBytes)
    def slicesOf(values: InternalRow, d: String,
        entries: Seq[PartitionedLake.FileEntry]): Seq[PartitionedFile] =
      entries.flatMap { e =>
        val len = e.bytes.get
        val sp = SparkPath.fromPathString(s"$path/$d/${e.name}")
        (0L until math.max(len, 1L) by maxSplit).map { start =>
          PartitionedFile(values, sp, start,
            math.min(maxSplit, len - start), Array.empty, 0L, len, Map.empty)
        }
      }
    // the sidecars of one dirty directory, as ONE whole-file partition
    // (they are byte-capped by the routing gate — never worth slicing)
    def deltaFp(values: InternalRow, d: String): FilePartition =
      FilePartition(0, deltaInfo(d).map { case (n, len) =>
        PartitionedFile(values, SparkPath.fromPathString(s"$path/$d/$n"),
          0L, len, Array.empty, 0L, len, Map.empty)
      }.toArray)
    if (spjKeyed) {
      // KEY-PURE partitions: bin-pack within each directory only, and
      // tag each with its partition-value row. Multiple partitions per
      // key are fine — the engine groups same-key partitions into one
      // task when key-grouped execution is actually chosen.
      perDir.flatMap { case (values, d, entries) =>
        FilePartition.getFilePartitions(spark,
          slicesOf(values, d, entries).sortBy(-_.length), maxSplit)
          .map(fp => new LakeKeyedFilePartition(fp, values))
      }.toArray
    } else {
      // clean directories bin-pack globally (as before); a DIRTY
      // directory's base slices pack only among themselves — every
      // base task of the directory re-reads its (byte-capped) sidecar
      // key set, and packing them with other directories' files would
      // spread that cost over unrelated reads — plus one post-image
      // partition per dirty directory
      val (dirty, clean) = perDir.partition(p => deltaInfo.contains(p._2))
      val packed = FilePartition.getFilePartitions(spark,
        clean.flatMap { case (values, d, entries) =>
          slicesOf(values, d, entries)
        }.sortBy(-_.length), maxSplit)
      val morParts = dirty.flatMap { case (values, d, entries) =>
        val sidecars = deltaFp(values, d)
        FilePartition.getFilePartitions(spark,
          slicesOf(values, d, entries).sortBy(-_.length), maxSplit)
          .map(fp => new LakeMorBasePartition(fp, sidecars)) :+
          new LakeMorDeltaPartition(sidecars)
      }
      (packed ++ morParts).toArray
    }
  }

  /** One configured [[ParquetPartitionReaderFactory]] for a requested
    * (data, partition) schema pair: the SESSION-derived Hadoop conf
    * (carries every SQL conf the readers honor — session timezone,
    * case sensitivity, parquet flags), plus the parquet read-support
    * wiring Spark's own ParquetScan sets before broadcasting: the
    * reader class and the requested/row Catalyst schemas (without
    * these the record reader NPEs resolving its ReadSupport).
    */
  private def parquetFactory(spark: SparkSession,
      requestedData: StructType, requestedPart: StructType,
      pushed: Array[Filter]): ParquetPartitionReaderFactory = {
    val conf = spark.sessionState.newHadoopConf()
    conf.set(org.apache.parquet.hadoop.ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport].getName)
    conf.set(
      org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
        .SPARK_ROW_REQUESTED_SCHEMA, requestedData.json)
    org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
      .setSchema(requestedData, conf)
    // the parquet flag set ParquetScan pins as EXPLICIT booleans (the
    // schema converter reads them back with .toBoolean, so they cannot
    // be left to SQL-conf passthrough defaults)
    val sq = spark.sessionState.conf
    import org.apache.spark.sql.internal.SQLConf
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sq.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sq.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sq.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sq.parquetFieldIdReadEnabled)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sq.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sq.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sq.caseSensitiveAnalysis)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sq.sessionLocalTimeZone)
    val bc = spark.sparkContext.broadcast(new SerializableConfiguration(conf))
    val dataSchema = StructType(
      fullSchema.fields.filterNot(f => partCols.contains(f.name)))
    ParquetPartitionReaderFactory(spark.sessionState.conf, bc,
      dataSchema, requestedData, requestedPart, pushed, None,
      new ParquetOptions(CaseInsensitiveMap(Map.empty[String, String]),
        spark.sessionState.conf))
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val dataSchema = StructType(
      fullSchema.fields.filterNot(f => partCols.contains(f.name)))
    // residual data-column filters reach the parquet reader for
    // row-group/page skipping; the engine re-evaluates them on top
    // regardless (they were returned from pushFilters), so the skip is
    // pure performance
    val pushable = residual.filter(
      _.references.forall(r => dataSchema.fieldNames.contains(r)))
    val base = parquetFactory(spark, readDataSchema, readPartSchema,
      pushable)
    val inner = morKey match {
      case None => base: PartitionReaderFactory
      case Some(k) =>
        val kt = fullSchema(k).dataType
        // sidecar readers: identity keys only (the anti-join set) and
        // full rows + op column (the post-image emitter). NO pushed
        // filters on either — a residual-skipped delta row must still
        // supersede its base row, and post-images are filtered by the
        // engine's own re-evaluation above this scan.
        val keysF = parquetFactory(spark,
          StructType(Seq(fullSchema(k))), new StructType(), Array.empty)
        val rowsF = parquetFactory(spark,
          StructType(readDataSchema.fields :+
            StructField(PartitionedLake.MorOpCol, StringType)),
          readPartSchema, Array.empty)
        new LakeMorDispatchFactory(base, keysF, rowsF,
          readDataSchema.fieldIndex(k), kt,
          StructType(readDataSchema.fields ++ readPartSchema.fields),
          readDataSchema.length)
    }
    // remap the physical data++partition emission order to the engine's
    // requested order (see readSchema) — identity-elided, and on the
    // columnar path a zero-copy column-reference shuffle
    // NOT identity when a force-read MOR key trails the required
    // columns: the projection must also DROP it, not just reorder
    val ordered =
      if (reorder.sameElements(reorder.indices) &&
          innerOrder.length == required.length) inner
      else new LakeReorderingReaderFactory(inner, required, reorder)
    // always unwrap-tolerant: whether planInputPartitions emitted keyed
    // (SPJ) or plain partitions, the delegate sees a bare FilePartition
    new LakeKeyUnwrappingFactory(ordered)
  }

  /** EXACT post-claim manifest sums — after a selective partition
    * predicate the pruned side's size is what broadcast planning needs
    * (the whole-snapshot number would block broadcasts the claim just
    * earned). Row counts degrade to unknown if any kept file predates
    * footer harvesting; byte sums cannot (eligibility requires them).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    // post-claim AND post-stats-skip: both prunes are known at planning
    // time (unlike runtime filters, which land after stats are consumed)
    val entries = staticDirs.flatMap(liveEntries(_))
    val deltaBytes = staticDirs.iterator
      .flatMap(deltaInfo.getOrElse(_, Nil).iterator.map(_._2)).sum
    // a dirty snapshot's post-merge row count is unknowable from
    // metadata (deltas both delete and insert) — unknown beats guessed
    val rows = if (deltaInfo.nonEmpty) None
      else if (entries.forall(_.rows.isDefined))
        Some(entries.iterator.map(_.rows.get).sum)
      else None
    new LakeStatistics(
      Some(entries.iterator.map(_.bytes.get).sum + deltaBytes), rows)
  }

  override def description(): String = {
    val v = version.map(v => s"@v$v").getOrElse("")
    val c = if (claimed.isEmpty) ""
      else s" claimed: ${claimed.mkString(" AND ")}"
    val mor = if (deltaInfo.isEmpty) ""
      else s", ${deltaInfo.size} merge-on-read dirs"
    s"GraftLakeNativeScan($path$v, ${staticDirs.size} dirs$mor$c)"
  }
}

/** A dirty directory's base-file slices, carrying the directory's
  * sidecar partition: the reader anti-joins each row's identity key
  * against the sidecars' key set ([[LakeMorDispatchFactory]]).
  */
private[io] class LakeMorBasePartition(val delegate: FilePartition,
    val sidecars: FilePartition) extends InputPartition {
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

/** One dirty directory's sidecar files — the reader emits their 'U'
  * post-images projected to the scan's inner column order.
  */
private[io] class LakeMorDeltaPartition(val sidecars: FilePartition)
  extends InputPartition

/** Routes MOR partitions to merge-aware ROW readers and everything
  * else straight to the base parquet factory (columnar stays columnar
  * for clean directories — the merge costs only the dirty ones).
  *
  * The anti-join set is built task-side by reading the partition's
  * sidecars through a key-only parquet reader into a hash set —
  * bounded by the [[LakeNativeBatchScan.MorMaxDeltaBytesPerDir]]
  * routing cap, and identity semantics match [[PartitionedLake
  * .frameFor]]'s null-safe join: keys normalize through a Catalyst
  * converter (stable JVM values), null keys included.
  */
private[io] class LakeMorDispatchFactory(
    base: ParquetPartitionReaderFactory,
    keysF: ParquetPartitionReaderFactory,
    rowsF: ParquetPartitionReaderFactory,
    keyIdx: Int, keyType: org.apache.spark.sql.types.DataType,
    innerSchema: StructType, opIdx: Int) extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.{CatalystTypeConverters, ProjectingInternalRow}
  import org.apache.spark.sql.connector.read.PartitionReader

  // UNIFORMLY row-based: the engine refuses a scan mixing columnar and
  // row partitions ("Cannot mix row-based and columnar input
  // partitions"), so a dirty snapshot reads its clean directories
  // row-based too — still strictly better than the V1 fallback this
  // replaces (also row-based, and unprunable); compact() restores the
  // vectorized path with everything else.
  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    throw new UnsupportedOperationException(
      "MOR scans are row-based") // unreachable: supportColumnarReads=false

  private def keySet(sidecars: FilePartition): java.util.HashSet[Any] = {
    val conv = CatalystTypeConverters.createToScalaConverter(keyType)
    val s = new java.util.HashSet[Any]()
    val r = keysF.createReader(sidecars)
    try while (r.next()) s.add(conv(r.get().get(0, keyType)))
    finally r.close()
    s
  }

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = p match {
    case mb: LakeMorBasePartition =>
      val keys = keySet(mb.sidecars)
      val conv = CatalystTypeConverters.createToScalaConverter(keyType)
      val r = base.createReader(mb.delegate)
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          var found = false
          while (!found && r.next()) {
            cur = r.get()
            found = !keys.contains(conv(cur.get(keyIdx, keyType)))
          }
          found
        }
        override def get(): InternalRow = cur
        override def close(): Unit = r.close()
      }
    case md: LakeMorDeltaPartition =>
      val r = rowsF.createReader(md.sidecars)
      // physical emission: inner data columns, the op column, then the
      // partition columns — project the op column OUT to inner order
      val mapping = (0 until opIdx) ++
        ((opIdx + 1) to innerSchema.length)
      val proj = ProjectingInternalRow(innerSchema, mapping.toIndexedSeq)
      val u = org.apache.spark.unsafe.types.UTF8String.fromString("U")
      new PartitionReader[InternalRow] {
        private var cur: InternalRow = _
        override def next(): Boolean = {
          var found = false
          while (!found && r.next()) {
            cur = r.get()
            found = !cur.isNullAt(opIdx) && cur.getUTF8String(opIdx) == u
          }
          found
        }
        override def get(): InternalRow = { proj.project(cur); proj }
        override def close(): Unit = r.close()
      }
    case other => base.createReader(other)
  }
}

private[io] object LakeNativeBatchScan {
  /** Session conf opting scans into reporting their layout as a
    * [[KeyGroupedPartitioning]] (storage-partitioned joins) — see
    * `spjKeyed` for why this is NOT on by default.
    */
  val PreserveGroupingKey = "spark.graft.lake.preserveDataGrouping"

  /** The ONE routing gate for the native batch (shared by the read
    * builder and the row-level operation): a manifest-backed snapshot
    * with NO live merge-on-read deltas (the ROW-LEVEL path requires
    * this; plain reads may still go native through [[morDeltaInfo]]'s
    * gate below), byte lengths on every file (the native planner sizes
    * splits from them; adopted legacy entries predate harvesting), and
    * NO physical-name pins (a renamed column's old files need the
    * per-pin-group projection only the V1 path speaks; compact()
    * rewrites the pins away and restores this batch). Everything else
    * routes to the delegated V1 plan.
    */
  def eligible(m: PartitionedLake.Manifest): Boolean =
    m.deltas.isEmpty && m.files.nonEmpty && filesReadable(m)

  /** Every file has its byte length and no physical-name pins — the
    * file shape the native batch reads, deltas or not.
    */
  private def filesReadable(m: PartitionedLake.Manifest): Boolean =
    m.files.valuesIterator.forall(_.forall(e =>
      e.bytes.isDefined && e.physNames.isEmpty))

  /** Per-directory sidecar bytes above which a dirty directory routes
    * to the V1 fallback's DISTRIBUTED anti-join instead of the native
    * task-side hash set — the bound that keeps the merge's memory
    * footprint a task-local constant however far compaction lags.
    */
  val MorMaxDeltaBytesPerDir = "spark.graft.lake.mor.nativeMaxDeltaBytesPerDir"

  /** A usable merge-on-read identity key: a NON-partition column of a
    * hashable type — the shape both the native sidecar merge's
    * task-side hash set and the delta row-level write's identity fold
    * require (binary/nested values have no stable hash identity).
    */
  def identityKeyOk(m: PartitionedLake.Manifest, k: String): Boolean = {
    import org.apache.spark.sql.types._
    !PartitionedLake.layoutOf(m).exists(_.contains(k)) &&
      m.schema.fields.find(_.name == k).map(_.dataType).exists {
        case _: NumericType | StringType | BooleanType | DateType |
            TimestampType | TimestampNTZType => true
        case _ => false
      }
  }

  /** The merge-on-read routing gate: Some(per-dir sidecar (name, len))
    * when the native batch can serve this dirty snapshot — CoW-eligible
    * apart from the deltas, a hash-safe non-partition identity key,
    * every sidecar present, and every directory's sidecar load under
    * [[MorMaxDeltaBytesPerDir]] (default 64 MB). None routes to V1,
    * which handles every remaining shape; the listing costs one
    * driver RPC per sidecar file, paid once per scan while deltas are
    * live at all (compaction's steady state is zero).
    */
  def morDeltaInfo(spark: SparkSession, path: String,
      m: PartitionedLake.Manifest)
      : Option[Map[String, Seq[(String, Long)]]] = {
    val cowOk = m.deltas.nonEmpty && filesReadable(m)
    val keyOk = m.mor.exists(identityKeyOk(m, _))
    if (!cowOk || !keyOk) return None
    val cap = SQLConf.get.getConfString(MorMaxDeltaBytesPerDir,
      (64L * 1024 * 1024).toString).toLong
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val info = m.deltas.map { case (d, names) =>
        d -> names.map { n =>
          n -> fs.getFileStatus(
            new org.apache.hadoop.fs.Path(path, s"$d/$n")).getLen
        }
      }
      if (info.valuesIterator.exists(_.iterator.map(_._2).sum > cap)) None
      else Some(info)
    } catch {
      case _: java.io.FileNotFoundException => None
    }
  }

  /** The gate both row-level scans (copy-on-write
    * [[LakeRowLevelOperation]], merge-on-read
    * [[LakeDeltaRowLevelOperation]]) pass at build: a snapshot the native
    * batch cannot read refuses with compact() directions — the V1
    * fallback has no batch form to serve a row-level scan — and the
    * live deltas' per-directory sidecars come back for the native merge
    * (empty when there are none). `what` names the statement kind.
    */
  def rowLevelDeltaInfo(spark: SparkSession, path: String,
      m: PartitionedLake.Manifest, what: String)
      : Map[String, Seq[(String, Long)]] = {
    val compact = "run PartitionedLake.compact(spark, path)"
    val metadataDelete = "partition-scoped DELETE works regardless " +
      "(metadata retirement)"
    if (m.files.valuesIterator.exists(_.exists(_.bytes.isEmpty)))
      sys.error(s"$what on $path needs a post-adoption snapshot " +
        s"(per-file byte lengths in the manifest) — $compact once to " +
        "modernize it")
    if (m.files.valuesIterator.exists(_.exists(_.physNames.nonEmpty)))
      sys.error(s"$what on $path is not supported while renamed " +
        "columns' physical-name pins are live (old files need the " +
        "per-pin-group projection only the V1 read path speaks) — " +
        s"$compact first (rewrites files under the current names); " +
        metadataDelete)
    if (m.deltas.isEmpty) Map.empty
    else morDeltaInfo(spark, path, m).getOrElse(sys.error(
      s"$what on $path needs the native merge-on-read read, but this " +
        "snapshot's live deltas are not native-eligible (per-directory " +
        s"sidecar bytes over $MorMaxDeltaBytesPerDir, an unhashable " +
        s"identity key, or missing sidecar files) — $compact first " +
        s"(materializes the deltas away); $metadataDelete"))
  }
}

/** A [[FilePartition]] carrying its partition-value row — the
  * [[HasPartitionKey]] tag storage-partitioned joins group on. Emitted
  * only when the scan reports [[KeyGroupedPartitioning]], and each
  * instance holds ONE directory's file slices (key purity is what
  * makes the grouping sound). [[LakeKeyUnwrappingFactory]] strips the
  * wrapper before the parquet factory's `FilePartition` pattern match.
  */
private[io] class LakeKeyedFilePartition(val delegate: FilePartition,
    key: InternalRow) extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow = key
  override def preferredLocations(): Array[String] =
    delegate.preferredLocations()
}

/** Strips [[LakeKeyedFilePartition]] down to its [[FilePartition]] for
  * a delegate factory that pattern-matches the concrete class; plain
  * partitions pass through untouched.
  */
private[io] class LakeKeyUnwrappingFactory(inner: PartitionReaderFactory)
    extends PartitionReaderFactory {
  private def unwrap(p: InputPartition): InputPartition = p match {
    case k: LakeKeyedFilePartition => k.delegate
    case other => other
  }
  override def createReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    inner.createReader(unwrap(p))
  override def createColumnarReader(p: InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    inner.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(unwrap(p))
}

/** Remaps a delegate reader's column order to the scan's declared
  * [[LakeNativeBatchScan.readSchema]] order. The parquet reader factory
  * physically emits data columns then appended partition columns; the
  * scan contract is "whatever order pruneColumns requested". Columnar
  * batches remap by COLUMN REFERENCE (one array shuffle per batch
  * object, zero data movement — the vectors are shared, and the
  * delegate reader reuses its batch across next() calls so the wrapper
  * rebuilds only when the delegate's batch identity changes); the row
  * path wraps each row in one reused [[ProjectingInternalRow]].
  */
private[io] class LakeReorderingReaderFactory(
    inner: PartitionReaderFactory,
    out: StructType, idx: Array[Int]) extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.ProjectingInternalRow
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.sql.vectorized.{ColumnarBatch, ColumnVector}

  override def supportColumnarReads(p: InputPartition): Boolean =
    inner.supportColumnarReads(p)

  override def createReader(p: InputPartition)
      : PartitionReader[InternalRow] = {
    val r = inner.createReader(p)
    val proj = ProjectingInternalRow(out, idx.toIndexedSeq)
    new PartitionReader[InternalRow] {
      override def next(): Boolean = r.next()
      override def get(): InternalRow = { proj.project(r.get()); proj }
      override def close(): Unit = r.close()
    }
  }

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[ColumnarBatch] = {
    val r = inner.createColumnarReader(p)
    new PartitionReader[ColumnarBatch] {
      private var innerBatch: ColumnarBatch = _
      private var wrapped: ColumnarBatch = _
      override def next(): Boolean = r.next()
      override def get(): ColumnarBatch = {
        val b = r.get()
        if (b ne innerBatch) {
          innerBatch = b
          wrapped = new ColumnarBatch(
            idx.map(b.column(_): ColumnVector), b.numRows())
        } else wrapped.setNumRows(b.numRows())
        wrapped
      }
      // closing the DELEGATE also releases the shared vectors; the
      // wrapper batch holds references only
      override def close(): Unit = r.close()
    }
  }
}
