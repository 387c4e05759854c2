package graft.io

import graft.core.ExecMode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
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
  */
object SheetReader {

  private def rawCsv(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      // RFC-4180 doubled-quote escaping (pandas default); Spark's default
      // escape is backslash, which mis-parses `"he said ""hi"""`
      .option("escape", "\"")
      // pandas parses quoted cells with EMBEDDED NEWLINES by default;
      // without multiLine Spark splits such a cell into extra malformed
      // rows and shifts every later Row_Index. Cost: a multiLine CSV
      // scan is not split across tasks — the right trade for
      // submission-sized sheets (the corpus-scale paths read parquet)
      .option("multiLine", "true")
      .csv(path)

  /** Bytes of the files a raw scan lists. `spark.read` filled its file
    * index when it resolved the path, so this runs no job. */
  private def listedBytes(raw: DataFrame): Option[Long] =
    raw.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation].location.sizeInBytes
    }

  def read(spark: SparkSession, path: String): DataFrame = {
    val raw = rawCsv(spark, path)
    val df = clean(raw)
    indexRows(spark, df.rdd, df.schema, sourceBytes = listedBytes(raw))
  }

  /** Multi-file sheet (get_df_from_keys, s3.py:140-179): the reference
    * concatenates every matching key in listing order with a single
    * continuous index (`pd.concat(ignore_index=True)`). Spark's multi-path
    * read orders splits by size, not path, so the order-faithful form is an
    * ordered per-file RDD union numbered by one zipWithIndex; `None` for an
    * empty key list maps to Option.empty here.
    */
  def readMany(spark: SparkSession, paths: Seq[String]): Option[DataFrame] =
    if (paths.isEmpty) None
    else if (paths.lengthCompare(1) == 0) Some(read(spark, paths.head))
    else {
      // RDD#union concatenates partition lists in operand order, so the
      // per-file scans line up as [file1's partitions, file2's, ...] and a
      // SINGLE zipWithIndex numbers rows continuously across files in
      // listing order. No count() per file: construction runs at most one
      // job (zipWithIndex's partition-size pass — zero when the union has
      // <= 1 partition), same contract as every other builder here.
      val raws = paths.map(p => rawCsv(spark, p))
      val dfs = raws.map(clean)
      // schema drift across parts: pd.concat unions the columns and
      // continues (missing cells become NaN floats in the reference —
      // which its dynamic typing then treats as NUMBERS, a pathology).
      // Fix-over-replicate: union by name in first-file column order
      // plus later files' extras, missing cells as '' — the reader's
      // uniform blank convention, so missing-value rules see them as
      // missing instead of NaN numbers.
      val order = dfs.foldLeft(Vector.empty[String]) { (acc, df) =>
        acc ++ df.columns.filterNot(acc.contains)
      }
      val aligned = dfs.map { df =>
        df.select(order.map(c =>
          if (df.columns.contains(c)) col(c) else lit("").as(c)): _*)
      }
      val sizes = raws.map(listedBytes)
      Some(indexRows(spark, aligned.map(_.rdd).reduce(_ union _),
        aligned.head.schema,
        sourceBytes = Option.when(sizes.forall(_.isDefined))(sizes.flatten.sum)))
    }

  /** Drop pandas-style unnamed columns: blank headers surface as `_cN` in
    * Spark and `Unnamed: N` in pandas. The PREFIX match is deliberate
    * fidelity: the reference drops `columns.str.startswith('Unnamed')`
    * (File_Submission_Object.py:44), so a user column literally named
    * "Unnamed_Comments" is dropped THERE too — replicated quirk, not a
    * bug.
    */
  def clean(df: DataFrame): DataFrame = {
    val kept = df.columns.filterNot(c =>
      c.startsWith("Unnamed") || c.matches("_c[0-9]+"))
    df.select(kept.toIndexedSeq.map(col): _*)
  }

  /** Attach a stable, contiguous Row_Index in file order and make every
    * cell non-null ('' semantics). zipWithIndex is the scale-out-safe way
    * to number rows contiguously: partition-local indices plus per-partition
    * offsets — no single-partition collapse, no monotonically_increasing_id
    * gaps.
    */
  def withRowIndex(df: DataFrame, startAt: Long = 2L): DataFrame =
    indexRows(df.sparkSession, df.rdd, df.schema, startAt)

  private def indexRows(spark: SparkSession,
      rows: org.apache.spark.rdd.RDD[Row], baseSchema: StructType,
      startAt: Long = 2L, sourceBytes: Option[Long] = None): DataFrame = {
    val schema = StructType(baseSchema.fields :+ StructField("Row_Index", LongType,
      metadata = sourceBytes.fold(Metadata.empty)(ExecMode.stampMetadata)))
    val indexed = rows.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + startAt))
    }
    val withIdx = spark.createDataFrame(indexed, schema)
    val stringCols = baseSchema.fields.collect {
      case f if f.dataType == StringType => f.name
    }
    withIdx.na.fill("", stringCols)
  }

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
