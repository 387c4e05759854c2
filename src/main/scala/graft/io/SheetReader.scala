package graft.io

import com.univocity.parsers.csv.CsvParser
import graft.core.ExecMode
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.csv.CSVOptions
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.csv.CSVUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, Metadata, StructField, StructType, StringType}

/** CSV sheet ingest with the reference's exact semantics (SURVEY §1.2/§1.3):
  *
  *  - every column stays StringType (per-cell dynamic typing happens in
  *    [[graft.types.CellType]] expressions, never at ingest);
  *  - empty cells are the empty string `''`, never null (`na_filter=False`,
  *    File_Submission_Object.py:35) — all missing-value logic tests `== ''`;
  *  - `Row_Index` = CSV line number (position + 2: 1-based + header row,
  *    File_Submission_Object.py:159), attached at ingest and carried through
  *    every join/filter;
  *  - blank-header columns are dropped (pandas `Unnamed:` columns,
  *    File_Submission_Object.py:44); the all-blank-row drop (:43) is a no-op
  *    in the reference because blanks are `''` (never NaN) — replicated by
  *    not dropping;
  *  - `Row_Index`'s metadata carries the byte size of the files read, the
  *    stamp [[graft.core.ExecMode]] picks the execution mode from.
  *
  * A sheet is a plain Catalyst CSV scan, built without running a job:
  *
  *  - The header is read on the driver: the file's first record,
  *    tokenized with the scan's own `CSVOptions` and univocity's
  *    `CsvParser`, named by Spark's `CSVUtils.makeSafeHeader` (blank cells
  *    `_c<i>`, duplicates suffixed with their position) and handed to the
  *    scan as an all-string schema. Spark's multiLine schema inference
  *    names columns the same way, but runs one `take(1)` job per file.
  *  - The scan itself reads without `header`, so Spark's header check
  *    (which warns on every scan whose header has blank or duplicate
  *    cells) never runs; the header record is dropped by position.
  *  - `Row_Index` is numbered inside the scan. A multiLine CSV file is
  *    never split, so one file is one partition and
  *    `monotonically_increasing_id()` is the record's position in its
  *    file (the header is position 0). This is the contract splittable
  *    ingest has to replace with per-split offsets.
  *  - `readMany` numbers its files continuously: one job counts the rows
  *    of every file, and each file's scan gets the count of the files
  *    before it as a literal offset.
  *
  * With no RDD between the scan and its consumers, the reader prunes
  * columns: a 2-column merge slice parses 2 columns.
  */
object SheetReader {

  /** The options every sheet scan passes. */
  private val ScanOptions = Map(
    "header" -> "false",
    "mode" -> "PERMISSIVE",
    // RFC-4180 doubled-quote escaping (pandas default); Spark's default
    // escape is backslash, which mis-parses `"he said ""hi"""`
    "escape" -> "\"",
    // pandas parses quoted cells with EMBEDDED NEWLINES by default;
    // without multiLine Spark splits such a cell into extra malformed
    // rows and shifts every later Row_Index. Cost: a multiLine CSV
    // scan is not split across tasks — the right trade for
    // submission-sized sheets (the corpus-scale paths read parquet)
    "multiLine" -> "true")

  /** The first record of `path` tokenized as the scan tokenizes it, named
    * as Spark names a CSV header; empty for an empty file. */
  private def header(spark: SparkSession, path: String): Seq[String] = {
    val conf = spark.sessionState.conf
    val options = new CSVOptions(ScanOptions + ("header" -> "true"),
      conf.csvColumnPruning, conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
    val hadoopConf = spark.sessionState.newHadoopConfWithOptions(ScanOptions)
    val file = new Path(path)
    val raw = file.getFileSystem(hadoopConf).open(file)
    val in = Option(new CompressionCodecFactory(hadoopConf).getCodec(file))
      .fold[java.io.InputStream](raw)(_.createInputStream(raw))
    val parser = new CsvParser(options.asParserSettings)
    try {
      parser.beginParsing(in, options.charset)
      Option(parser.parseNext()).toSeq.flatMap(first =>
        CSVUtils.makeSafeHeader(first, conf.caseSensitiveAnalysis, options).toSeq)
    } finally { parser.stopParsing(); in.close() }
  }

  /** The unnumbered scan of one file, every record the header names. */
  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.options(ScanOptions)
      .schema(StructType(header(spark, path).map(StructField(_, StringType))))
      .csv(path)

  /** Bytes of the files a raw scan lists. `spark.read` filled its file
    * index when it resolved the path, so this runs no job. */
  private def listedBytes(raw: DataFrame): Option[Long] =
    raw.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    }

  /** `raw`'s data records as `columns` ('' for a column `raw` lacks and
    * for null cells) plus `Row_Index`, numbered from `first` and stamped
    * with `stamp`. `raw` must scan one file, so that the record position
    * is `monotonically_increasing_id()`; the header record (position 0)
    * is the one numbered below `first`. */
  private def numbered(raw: DataFrame, columns: Seq[String], first: Long,
      stamp: Metadata): DataFrame = {
    val have = raw.columns.toSet
    val cells = columns.map(c =>
      if (have(c)) coalesce(col(c), lit("")).as(c) else lit("").as(c))
    raw.select(cells :+
        (monotonically_increasing_id() + (first - 1)).as("Row_Index", stamp): _*)
      .filter(col("Row_Index") >= first)
  }

  private def stampOf(bytes: Option[Long]): Metadata =
    bytes.fold(Metadata.empty)(ExecMode.stampMetadata)

  /** One CSV file as a sheet; runs no job. `path` names a file, not a
    * directory or glob (several files are `readMany`'s). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = rawCsv(spark, path)
    numbered(raw, kept(raw.columns.toSeq), 2L, stampOf(listedBytes(raw)))
  }

  /** Multi-file sheet (get_df_from_keys, s3.py:140-179): the reference
    * concatenates every matching key in listing order with a single
    * continuous index (`pd.concat(ignore_index=True)`). Each file is its
    * own scan, numbered from the rows of the files before it: one job
    * counts every file's rows (the same one job a `zipWithIndex` over the
    * files ran), in the execution mode of the files' summed size. `None`
    * for an empty key list.
    */
  def readMany(spark: SparkSession, paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else if (paths.lengthCompare(1) == 0) Some(read(spark, paths.head))
    else {
      val raws = paths.map(p => rawCsv(spark, p))
      // schema drift across parts: pd.concat unions the columns and
      // continues (missing cells become NaN floats in the reference —
      // which its dynamic typing then treats as NUMBERS, a pathology).
      // Fix-over-replicate: union by name in first-file column order
      // plus later files' extras, missing cells as '' — the reader's
      // uniform blank convention, so missing-value rules see them as
      // missing instead of NaN numbers.
      val order = raws.foldLeft(Vector.empty[String]) { (acc, raw) =>
        acc ++ kept(raw.columns.toSeq).filterNot(acc.contains)
      }
      val sizes = raws.map(listedBytes)
      val bytes = Option.when(sizes.forall(_.isDefined))(sizes.flatten.sum)
      val rows = ExecMode.scoped(spark, bytes)(rowCounts(spark, raws))
      val firsts = rows.scanLeft(2L)(_ + _)
      Some(raws.zip(firsts).map { case (raw, first) =>
        numbered(raw, order, first, stampOf(bytes))
      }.reduce(_ union _))
    }

  /** The data records of each raw scan, in one job over their union. */
  private def rowCounts(spark: SparkSession, raws: Seq[DataFrame]): Seq[Long] = {
    import spark.implicits._
    val width = raws.size
    raws.zipWithIndex
      .map { case (raw, i) => numbered(raw, Nil, 2L, Metadata.empty).select(lit(i)) }
      .reduce(_ union _).as[Int]
      .mapPartitions { files =>
        val n = new Array[Long](width)
        files.foreach(i => n(i) += 1)
        Iterator.single(n)
      }
      .collect()
      .foldLeft(Seq.fill(width)(0L))((acc, n) => acc.zip(n).map { case (a, b) => a + b })
  }

  /** `columns` without pandas-style unnamed columns: blank headers surface
    * as `_cN` in Spark and `Unnamed: N` in pandas. The PREFIX match is
    * deliberate fidelity: the reference drops
    * `columns.str.startswith('Unnamed')` (File_Submission_Object.py:44),
    * so a user column literally named "Unnamed_Comments" is dropped THERE
    * too — replicated quirk, not a bug.
    */
  private def kept(columns: Seq[String]): Seq[String] =
    columns.filterNot(c => c.startsWith("Unnamed") || c.matches("_c[0-9]+"))

  /** In-memory sheet constructor for tests and for adapting existing
    * DataFrames (e.g. parquet tables) into the all-string + Row_Index shape
    * the rule engine expects.
    */
  def fromRows(spark: SparkSession, columns: Seq[String],
      rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(columns.map(StructField(_, StringType)) :+
      StructField("Row_Index", LongType))
    val data = rows.zipWithIndex.map { case (r, i) =>
      Row.fromSeq(r.map(v => if (v == null) "" else v) :+ (i + 2L))
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data), schema)
  }
}
