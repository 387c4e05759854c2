package graft.io

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** `spark.read.format("graft-lake").option("path", lake)` — the BATCH
  * registered form of [[PartitionedLake]], parity with the streaming
  * `graft-lake-cdf` format so non-Scala callers (SQL, PySpark,
  * config-driven jobs) can read a lake without touching the Scala API.
  *
  * Options:
  *  - `path` (required): the lake root.
  *  - `versionAsOf` (optional): time travel to a published snapshot
  *    version ([[PartitionedLake.readVersion]]); default latest.
  *  - `branch` (optional): per-read branch pin, DSv2 parity — the read
  *    (or the changesFrom/changesTo feed) resolves against the
  *    branch's manifest namespace; a conflicting ambient conf refuses;
  *    numeric `versionAsOf` only under a pin (tags are main-line
  *    refs); WRITES refuse the option (stage through the ambient conf).
  *
  * The relation DELEGATES to the manifest-scoped API plan rather than
  * re-implementing the read: `buildScan` applies the engine's required
  * columns and pushed filters onto [[PartitionedLake.read]]'s
  * DataFrame and hands back that plan's InternalRow RDD
  * (`needConversion = false` — the engine consumes it without a
  * per-row conversion). Catalyst then optimizes the INNER plan, so
  * column pruning reaches the parquet scan, partition predicates prune
  * directories, and merge-on-read merging comes along for free —
  * format reads and API reads are the same plan by construction.
  * Filters the translator does not understand are simply not pushed;
  * the engine re-evaluates every filter on top regardless
  * (`unhandledFilters` default), so results stay exact.
  *
  * [[FileRelation]] surfaces the manifest-scoped file list through
  * `DataFrame.inputFiles` — superseded files sharing the partition
  * directories are invisible, same as the API read.
  */
class LakeBatchProvider extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-lake"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path",
      sys.error("graft-lake requires .option(\"path\", <lake root>)"))

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // per-read branch pin — v1 parity with the DSv2 `.option("branch",
    // ...)`: validated and reconciled with the ambient conf here (a
    // conflicting ambient refuses); None keeps the verbatim ambient
    // routing every v1 read always had
    val branchPin = parameters.get("branch").map(_.trim).filter(_.nonEmpty)
    branchPin.foreach(PartitionedLake.requireRefName("branch", _))
    val branch = PartitionedLake.resolveReadBranch(branchPin)
    // BATCH change-data-feed through the registered format — the
    // surface that makes [[PartitionedLake.changesBetween]] reachable
    // from PySpark/SQL (the Scala API and the streaming source each
    // cover one consumer; an ad-hoc Python audit job covers neither):
    //   .option("changesFrom", v1).option("changesTo", v2)
    //   .option("keyCols", "k1,k2")            // row identity (required)
    //   .option("granularity", "commit")       // optional, default net
    if (parameters.contains("changesFrom") ||
        parameters.contains("changesTo")) {
      def need(k: String): String = parameters.getOrElse(k, sys.error(
        s"graft-lake change feed requires .option(\"$k\", ...) " +
          "alongside changesFrom/changesTo"))
      val from = need("changesFrom").toLong
      val to = need("changesTo").toLong
      val (keyCols, perCommit) = PartitionedLake.changeFeedOptions(
        "graft-lake change feed:", parameters)
      return new LakeFrameRelation(sqlContext,
        PartitionedLake.changesBetweenOn(spark, path, from, to, keyCols,
          perCommit, branch))
    }
    // the same vocabulary as SQL VERSION AS OF
    val version = parameters.get("versionAsOf").map(
      LakeIdent.resolveVersion(spark, path, _, branchPin, "versionAsOf"))
    // ONE manifest resolve feeds both the pinned frame and the size
    // statistic — resolving twice would pay the driver read again AND
    // open a race where the size describes a different snapshot than
    // the frame pinned (a racing small overwrite could then broadcast
    // the older large scan — the underestimate direction)
    val manifest = PartitionedLake.manifestAt(spark, path, version, branch)
    val frame = LakeFrameRelation.snapshotFrame(spark, path, manifest)
    new LakeFrameRelation(sqlContext, frame, frame.schema,
      manifest.flatMap(PartitionedLake.metadataSizeBytes))
  }

  /** `df.write.format("graft-lake")` — the registered batch WRITE:
    *
    *  - `partitionCols` (required): comma-separated partition columns
    *    (the v1 source API does not forward `.partitionBy`, so the
    *    layout is an explicit option — same contract as the streaming
    *    sink's).
    *  - `SaveMode.Overwrite` → [[PartitionedLake.write]] (full-snapshot
    *    overwrite through the protocol: old files stay for time travel
    *    until vacuum).
    *  - `SaveMode.Append` → [[PartitionedLake.upsert]], which needs
    *    `keyCol` (row identity within a partition). Append without a
    *    key would be ambiguous under replay, so it is required loudly.
    *  - `statsCols` (optional, comma-separated): min/max harvesting for
    *    manifest file skipping.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val path = pathOf(parameters)
    // the pin is a READ surface (same contract as DSv2): a pinned
    // write would silently diverge from the session's other writes
    parameters.get("branch").map(_.trim).filter(_.nonEmpty).foreach(b =>
      sys.error(s"cannot write to $path via the per-read branch pin " +
        s"'$b': stage branch writes through the ambient conf (SET " +
        s"${PartitionedLake.BranchKey}=$b) instead"))
    def csv(k: String): Seq[String] = parameters.getOrElse(k, "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val partitionCols = csv("partitionCols")
    require(partitionCols.nonEmpty,
      "graft-lake write requires .option(\"partitionCols\", \"c1,c2\")")
    val statsCols = csv("statsCols")
    mode match {
      case SaveMode.Overwrite =>
        PartitionedLake.write(data, path, partitionCols, statsCols)
      case SaveMode.Append =>
        val key = parameters.getOrElse("keyCol", sys.error(
          "graft-lake append is an upsert and requires " +
            ".option(\"keyCol\", <row identity within a partition>)"))
        PartitionedLake.upsert(spark, path, partitionCols, key, data,
          statsCols, batchId = None, writerId = PartitionedLake.DefaultWriter)
      case SaveMode.ErrorIfExists | SaveMode.Ignore =>
        // existence must be ADOPTION-AWARE, not manifest-only: a
        // pre-protocol Hive-layout parquet dir at this path is an
        // existing lake to every other entry point (upsert adopts it),
        // so ErrorIfExists writing a manifest over it would silently
        // shadow all the old data — the exact outcome the mode exists
        // to prevent
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val exists = PartitionedLake.snapshotSchema(spark, path).isDefined ||
          (fs.exists(root) && fs.listStatus(root).nonEmpty)
        if (!exists) PartitionedLake.write(data, path, partitionCols, statsCols)
        else if (mode == SaveMode.ErrorIfExists)
          sys.error(s"graft-lake at $path already exists (SaveMode.ErrorIfExists)")
    }
    createRelation(sqlContext, parameters)
  }

  /** `writeStream.format("graft-lake")` — the registered STREAMING
    * sink (one class serves all three surfaces: a second registered
    * provider could not share the short name): each micro-batch
    * upserts through the snapshot protocol with the batch id armed as
    * the TRANSACTION-level replay guard, so a redelivered epoch is
    * skipped whole (exactly-once at the transaction level, the same
    * guarantee the hand-rolled `foreachBatch` +
    * [[PartitionedLake.upsert]] pattern gives, now available to
    * config-driven pipelines). Options: `path`, `partitionCols`,
    * `keyCol` (all required), `statsCols`, and `writerId` (default
    * "default") — name it per query when several streams share a lake
    * so one stream's watermark never swallows another's batches.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      sys.error("graft-lake sink requires .option(\"path\", <lake root>)"))
    // the engine forwards `.partitionBy(...)` here — honor it, and
    // refuse a CONFLICTING explicit option loudly (silently preferring
    // one would give the stream a different physical layout than it
    // declared)
    val optionCols = parameters.getOrElse("partitionCols", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    require(optionCols.isEmpty || partitionColumns.isEmpty ||
      optionCols == partitionColumns,
      s"graft-lake sink: .partitionBy(${partitionColumns.mkString(",")}) " +
        s"conflicts with .option(\"partitionCols\", " +
        s"\"${optionCols.mkString(",")}\")")
    val partitionCols =
      if (optionCols.nonEmpty) optionCols else partitionColumns
    require(partitionCols.nonEmpty,
      "graft-lake sink requires .partitionBy(...) or " +
        ".option(\"partitionCols\", \"c1,c2\")")
    val key = parameters.getOrElse("keyCol", sys.error(
      "graft-lake sink requires .option(\"keyCol\", <row identity>)"))
    val statsCols = parameters.getOrElse("statsCols", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val writerId = parameters.getOrElse("writerId",
      PartitionedLake.DefaultWriter)
    new org.apache.spark.sql.execution.streaming.Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the incoming frame carries the engine's streaming-tagged
        // incremental plan, which refuses batch actions — re-wrap its
        // InternalRow RDD as a BATCH frame (the derived-source seam,
        // in reverse). The epoch's plan reads FIXED offsets, so the
        // multiple evaluations upsert performs (partition collect,
        // merge, stage) are deterministic — the upsert scaladoc's
        // foreachBatch contract, satisfied by construction.
        val spark = data.sparkSession
        val batchDf = graft.SparkShims.internalCreateDataFrame(spark,
          data.queryExecution.toRdd, data.schema, isStreaming = false)
        PartitionedLake.upsert(spark, path, partitionCols, key, batchDf,
          statsCols, batchId = Some(batchId), writerId = writerId)
      }
    }
  }
}

/** The ONE relation over a delegated DataFrame plan — the v1
  * `graft-lake` read, the DSv2 fallback scan ([[LakeV1FallbackScan]])
  * and every metadata table ([[GraftLakeMetaTable]]) hand the engine
  * this relation around the plan they built, so no surface re-implements
  * the read.
  *
  * `schema` is what the engine was promised: the V1Scan path checks it
  * against the scan's `readSchema` by equality (nullability included),
  * so the fallback passes its pruned `required` schema; every other
  * caller passes the frame's own.
  */
private[io] class LakeFrameRelation(override val sqlContext: SQLContext,
    frame: DataFrame, override val schema: StructType,
    sizeHint: Option[Long] = None)
    extends BaseRelation with TableScan with PrunedFilteredScan
    with org.apache.spark.sql.execution.FileRelation {

  def this(sqlContext: SQLContext, frame: DataFrame) =
    this(sqlContext, frame, frame.schema)

  /** Exact manifest byte size when known; the conservative "unknown =
    * defaultSizeInBytes (huge)" otherwise — never an underestimate.
    */
  override def sizeInBytes: Long = sizeHint.getOrElse(super.sizeInBytes)

  // the delegated plan already produces InternalRows; re-wrapping them
  // as external Rows would pay a full conversion per row for nothing
  override def needConversion: Boolean = false

  override def inputFiles: Array[String] = frame.inputFiles

  /** The V1Scan form: the caller already pruned and filtered `frame`. */
  override def buildScan(): RDD[Row] =
    frame.queryExecution.toRdd.asInstanceOf[RDD[Row]]

  /** The v1 relation form: pushed filters reach the inner plan through
    * the shared [[LakeFilters]] translator — partition predicates here
    * are what makes directory pruning reach the manifest-scoped scan.
    */
  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] =
    LakeFrameRelation.pruned(frame, requiredColumns.toIndexedSeq, filters)
      .queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

private[io] object LakeFrameRelation {
  /** The delegated read of one resolved snapshot: the API's
    * manifest-scoped plan, or a plain parquet read of a pre-protocol
    * (manifest-less) lake.
    */
  def snapshotFrame(spark: SparkSession, path: String,
      manifest: Option[PartitionedLake.Manifest]): DataFrame =
    manifest match {
      case Some(m) => PartitionedLake.frameFor(spark, path, m)
      case None => spark.read.parquet(path)
    }

  /** `frame` filtered by every translatable filter, then pruned to
    * `columns`. Filter BEFORE pruning: a filter the DSv2 builder CLAIMED
    * may reference a column pruned out of `columns` (the engine no
    * longer needs it post-scan once the scan owns the filter), and
    * select-then-filter would fail to resolve it. Untranslatable shapes
    * are simply not pushed; the engine re-evaluates every filter it did
    * not hand over.
    */
  def pruned(frame: DataFrame, columns: Seq[String],
      filters: Array[Filter]): DataFrame =
    filters.flatMap(LakeFilters.toColumn).reduceOption(_ && _)
      .map(frame.filter).getOrElse(frame)
      .select(columns.map(col): _*)
}
