package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}

/** Execution-mode gate: a small submission is validated without code
  * generation. Compiling whole-stage and expression code (Janino plus the
  * JIT) costs a cold validation of a few thousand rows more CPU than
  * running its rows; generated code pays only once the per-row work covers
  * its compile cost. So the mode is chosen by the submission's size, not
  * switched globally.
  *
  *  - The stamp: [[graft.io.SheetReader]] records the byte size of the
  *    files a sheet was read from in its `Row_Index` field's metadata
  *    (from the file listing the read already did; no job).
  *  - The gate: `scoped` runs its body with whole-stage codegen off and
  *    the expression factories interpreted when the stamp is at most
  *    [[InterpretedMaxBytes]], and restores the caller's values (set or
  *    unset) afterwards, also when the body throws.
  *
  * It only ever turns code generation off. A frame without a stamp (an
  * in-memory `fromRows` sheet, a parquet adapter, a caller's own frame)
  * runs under the caller's configuration, as does a frame over the
  * threshold. The confs are session-wide: another thread running on the
  * same session meanwhile also runs interpreted, which changes its speed
  * but not its results.
  */
object ExecMode {

  /** `Row_Index` metadata key: bytes of the files the rows were read from. */
  private val SourceBytesKey = "graft.sourceBytes"

  /** The largest source, in bytes, validated interpreted: 16 MiB. On the
    * SeroNet-shaped dirty submission (SCALE.md "Execution mode")
    * interpreted validation used 8–25% less CPU up to 30k participants
    * (18.2 MB); from 40k (24.2 MB) on it used more CPU or more wall time,
    * and 23% more CPU at 100k (60.5 MB). */
  val InterpretedMaxBytes: Long = 16L << 20

  private val InterpretedConfs = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  def stampMetadata(bytes: Long): Metadata =
    new MetadataBuilder().putLong(SourceBytesKey, bytes).build()

  /** `df` with its `Row_Index` stamped as read from `bytes` bytes. */
  def stamp(df: DataFrame, bytes: Long): DataFrame =
    df.withMetadata("Row_Index", stampMetadata(bytes))

  /** The stamp on `df`'s `Row_Index`, if it has one. */
  def sourceBytes(df: DataFrame): Option[Long] =
    df.schema.find(_.name == "Row_Index").map(_.metadata)
      .filter(_.contains(SourceBytesKey)).map(_.getLong(SourceBytesKey))

  /** The summed stamps of a sheet set; `None` if any sheet has none. */
  def sourceBytes(sheets: Iterable[DataFrame]): Option[Long] =
    sheets.foldLeft(Option(0L)) { (acc, df) =>
      acc.flatMap(sum => sourceBytes(df).map(sum + _))
    }

  /** Whether a source of `bytes` runs interpreted. */
  def interpreted(bytes: Option[Long]): Boolean = bytes.exists(_ <= InterpretedMaxBytes)

  /** Runs `body` interpreted if `bytes` is small enough, else as is. */
  def scoped[T](spark: SparkSession, bytes: Option[Long])(body: => T): T =
    if (!interpreted(bytes)) body
    else {
      // only explicitly set values: getOption would report a default as set
      val set = spark.conf.getAll
      val saved = InterpretedConfs.map { case (k, _) => k -> set.get(k) }
      InterpretedConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try body
      finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
}
