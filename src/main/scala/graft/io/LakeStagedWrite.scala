package graft.io

import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{StringType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** The staged-write protocol under every DSv2 lake write — the
  * copy-on-write / dynamic-overwrite [[LakeReplaceDataWrite]], the
  * merge-on-read [[LakeDeltaWrite]] and the [[LakeStreamingWrite]]
  * sink — written once:
  *
  *  - the driver prepares Spark's own parquet writer for a schema
  *    ([[prepare]]) and stages under a private [[StagingRoot]];
  *  - each task attempt streams rows into a [[StagedFile]], whose names
  *    carry the partition id AND the attempt's task id, so two
  *    attempts of one task never collide; a committed attempt reports
  *    what it wrote, a failed one deletes it;
  *  - the driver commit folds ONLY the files named in committed
  *    attempts' receipts — never a listing of the staging directory,
  *    which would also sweep up a zombie or speculative attempt's
  *    leftover — and a driver abort deletes the staging root.
  */
private[io] object LakeStagedWrite {
  /** Spark's parquet write pipeline for `schema`, configured once on
    * the driver (compression, ParquetWriteSupport schema, output
    * timestamp type) and shipped to tasks as a serializable factory —
    * not a reimplementation.
    */
  def prepare(spark: SparkSession, schema: StructType): ParquetStage = {
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val owf = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    ParquetStage(schema, owf,
      new SerializableConfiguration(job.getConfiguration))
  }
}

/** A driver-prepared parquet writer ([[LakeStagedWrite.prepare]]). */
private[io] final case class ParquetStage(schema: StructType,
    owf: OutputWriterFactory, conf: SerializableConfiguration)

/** One write's private directory, `<lake>/_staging/<prefix><uuid>`:
  * everything the write stages lies below it, so abort is one
  * recursive delete.
  */
private[io] final class StagingRoot(lake: String, prefix: String) {
  val path: Path = new Path(lake, s"_staging/$prefix${UUID.randomUUID()}")

  def fs: org.apache.hadoop.fs.FileSystem =
    path.getFileSystem(SparkSession.active.sparkContext.hadoopConfiguration)

  def abort(): Unit = fs.delete(path, true)
}

/** One task attempt's staged parquet output. A file opens lazily on the
  * first row, named `<prefix>-<partition>-<task>-<seq><ext>` (the task
  * id is the attempt's, the sequence number separates one attempt's
  * files); [[roll]] closes it and returns its path, and the next row
  * opens the next file. [[abort]] closes the open file and deletes every
  * file of the attempt, best effort — the driver fold reads only
  * committed attempts' files anyway.
  */
private[io] final class StagedFile(stage: ParquetStage, prefix: String,
    partitionId: Int, taskId: Long) {

  private val ctx = new TaskAttemptContextImpl(stage.conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft-stage", 0),
      TaskType.MAP, partitionId), taskId.toInt))
  private val ext = stage.owf.getFileExtension(ctx)
  private val written = ArrayBuffer.empty[Path]
  private var writer: OutputWriter = _

  /** Write `row`, first opening the next file under `dir` if none is
    * open.
    */
  def write(dir: Path, row: InternalRow): Unit = {
    if (writer == null) {
      val p = new Path(dir,
        f"$prefix-$partitionId%05d-$taskId-${written.size}$ext")
      written += p
      writer = stage.owf.newInstance(p.toString, stage.schema, ctx)
    }
    writer.write(row)
  }

  /** Close the open file: its path, or None when no file is open. */
  def roll(): Option[Path] = Option(writer).map { w =>
    writer = null
    w.close()
    written.last
  }

  def abort(): Unit =
    try roll()
    finally {
      written.foreach { p =>
        try p.getFileSystem(stage.conf.value).delete(p, false)
        catch { case _: java.io.IOException => () }
      }
      written.clear()
    }
}

/** A committed attempt's staged files as (directory, manifest entry)
  * pairs. Row and byte counts ride the message so the driver commit
  * needs zero footer reads; column bounds are harvested task-side for
  * exactly the stats columns the write was given.
  */
private[io] case class LakeStagedRows(
    entries: Seq[(String, PartitionedLake.FileEntry)])
  extends WriterCommitMessage

private[io] object LakeStagedRows {
  /** The committed attempts' files, by directory. */
  def fold(messages: Array[WriterCommitMessage])
      : Map[String, Seq[PartitionedLake.FileEntry]] =
    messages.iterator.collect { case m: LakeStagedRows => m.entries }
      .flatten.toSeq.groupBy(_._1)
      .map { case (d, es) => d -> es.map(_._2) }
}

/** The partition-ordered row writer's factory: batch tasks stage under
  * the root, streaming tasks under the root's `ep<epoch>` directory.
  */
private[io] final class LakeStagedRowsFactory(stage: ParquetStage,
    staging: String, prefix: String, writeSchema: StructType,
    partCols: Seq[String], tz: String, statsCols: Set[String])
    extends DataWriterFactory with StreamingDataWriterFactory {

  private def writer(dir: String, partitionId: Int, taskId: Long) =
    new LakeStagedRowsWriter(stage, new StagedFile(stage, prefix,
      partitionId, taskId), dir, writeSchema, partCols, tz, statsCols)

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    writer(staging, partitionId, taskId)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    writer(LakeStagedRowsFactory.epochDir(new Path(staging), epochId)
      .toString, partitionId, taskId)
}

private[io] object LakeStagedRowsFactory {
  def epochDir(root: Path, epochId: Long): Path =
    new Path(root, s"ep$epochId")

  /** Prepared on the driver: the data schema is the write schema minus
    * the partition columns (their values become directory names), and
    * bounds are harvested for the `statsCols` among its columns.
    */
  def prepare(spark: SparkSession, staging: Path, prefix: String,
      writeSchema: StructType, partCols: Seq[String],
      statsCols: Seq[String]): LakeStagedRowsFactory = {
    val dataSchema = StructType(
      writeSchema.fields.filterNot(f => partCols.contains(f.name)))
    new LakeStagedRowsFactory(LakeStagedWrite.prepare(spark, dataSchema),
      staging.toString, prefix, writeSchema, partCols,
      spark.sessionState.conf.sessionLocalTimeZone,
      statsCols.toSet.intersect(dataSchema.fieldNames.toSet))
  }
}

/** Streams partition-ordered rows into one staged file per directory
  * run: the required ordering makes each task see its directories
  * contiguously, so one parquet writer is open at a time. Directory
  * names are Spark's own partition-path rendering
  * ([[ExternalCatalogUtils.getPartitionPathString]] over a
  * session-timezone string cast, the function chain FileFormatWriter's
  * dynamic-partition path uses). With no partition columns every row
  * goes to one flat file under `staging`.
  */
private[io] class LakeStagedRowsWriter(stage: ParquetStage,
    file: StagedFile, staging: String, writeSchema: StructType,
    partCols: Seq[String], tz: String, statsCols: Set[String])
    extends DataWriter[InternalRow] {

  // Bound lazily against the FIRST row: a group-based rewrite's query
  // output PREPENDS bookkeeping columns (`__row_operation` from the
  // engine's addOperationColumn) ahead of the declared write schema,
  // and the engine applies its restoring rowProjection only for
  // connectors that also declare metadata columns — for everyone else
  // the raw query rows reach the writer. The write schema's fields are
  // the row's SUFFIX by construction (extras are prepended), so one
  // arity offset re-aligns every binding.
  private var fieldOffset = -1
  private var casters: Seq[Cast] = _
  private var dataProj: UnsafeProjection = _
  private def bind(row: InternalRow): Unit = {
    fieldOffset = row.numFields - writeSchema.length
    // loud on ANY unexpected layout: today's engine prepends exactly
    // one bookkeeping column (__row_operation) or none — a wider (or
    // negative) offset means the suffix-alignment assumption broke
    // (trailing/reordered extras in a future engine), and a misaligned
    // binding would write WRONG column values into parquet silently
    require(fieldOffset == 0 || fieldOffset == 1,
      s"ReplaceData row has ${row.numFields} fields for a " +
        s"${writeSchema.length}-column write schema — the one-prepended-" +
        "bookkeeping-column layout this writer aligns against has " +
        "changed; refusing rather than bind columns by guesswork")
    // same-arity layout tripwire: a future engine that APPENDS its one
    // bookkeeping column passes the arity check above but misaligns
    // every binding by one. Under the prepend contract field 0 IS the
    // engine's __row_operation — a non-null int holding one of the
    // RowDeltaUtils operation constants — so verify exactly that
    // before trusting the offset (an appended layout would put the
    // first DATA column at field 0, which fails the null check or the
    // constant-set check instead of silently writing shifted values)
    if (fieldOffset == 1) {
      import org.apache.spark.sql.catalyst.util.RowDeltaUtils._
      val ops = Set(WRITE_OPERATION, WRITE_WITH_METADATA_OPERATION,
        REINSERT_OPERATION, INSERT_OPERATION, UPDATE_OPERATION,
        DELETE_OPERATION)
      require(!row.isNullAt(0) && ops.contains(row.getInt(0)),
        "ReplaceData row carries one extra field but field 0 is not a " +
          "RowDeltaUtils operation constant — the engine no longer " +
          "PREPENDS its bookkeeping column, so the suffix alignment " +
          "this writer binds with would write misaligned values; " +
          "refusing")
    }
    // Spark-identical partition path rendering: session-tz string cast
    // per column + getPartitionPathString (escaping + the
    // __HIVE_DEFAULT_PARTITION__ null form)
    casters = partCols.map { c =>
      val i = writeSchema.fieldIndex(c)
      Cast(BoundReference(i + fieldOffset, writeSchema(i).dataType,
        nullable = true), StringType, Option(tz))
    }
    dataProj = UnsafeProjection.create(
      stage.schema.fieldNames.toIndexedSeq.map { n =>
        val i = writeSchema.fieldIndex(n)
        BoundReference(i + fieldOffset, writeSchema(i).dataType,
          nullable = true): Expression
      })
  }

  private def dirOf(row: InternalRow): String =
    partCols.indices.map { j =>
      val v = casters(j).eval(row)
      ExternalCatalogUtils.getPartitionPathString(partCols(j),
        if (v == null) null else v.toString)
    }.mkString("/")

  private val root = new Path(staging)
  private var currentDir: String = _
  private var dirPath: Path = _
  private var rowsInFile = 0L
  private val results =
    ArrayBuffer.empty[(String, PartitionedLake.FileEntry)]

  private def closeCurrent(): Unit = file.roll().foreach { p =>
    val conf = stage.conf.value
    val len = p.getFileSystem(conf).getFileStatus(p).getLen
    // bounds for the stats columns — the file was just written by this
    // task, so the footer read is a page-cache hit, and a rewritten
    // partition keeps its q157/readBox skipping instead of degrading
    // until the next compact
    val (stats, strStats) =
      if (statsCols.isEmpty)
        (Map.empty[String, (Double, Double)],
          Map.empty[String, (String, String)])
      else {
        val (_, n, st) = PartitionedLake.footerInfo(conf, p, statsCols)
        (n, st)
      }
    results += ((currentDir,
      PartitionedLake.FileEntry(p.getName, stats, Some(rowsInFile),
        Some(len), strStats = strStats)))
  }

  override def write(row: InternalRow): Unit = {
    if (fieldOffset < 0) bind(row)
    val d = dirOf(row)
    if (d != currentDir) {
      closeCurrent()
      currentDir = d
      dirPath = if (d.isEmpty) root else new Path(root, d)
      rowsInFile = 0L
    }
    file.write(dirPath, dataProj(row))
    rowsInFile += 1
  }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    LakeStagedRows(results.toSeq)
  }

  override def abort(): Unit = file.abort()

  override def close(): Unit = closeCurrent()
}
