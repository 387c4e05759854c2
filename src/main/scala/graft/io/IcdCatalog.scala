package graft.io

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** ICD-10 code catalog for check_icd10 (F9). The vendored reference library
  * keys a ~94k-entry JSON dict of code -> (billable, description),
  * gzip-compressed, and looks codes up with the dot stripped
  * (`icd10/__init__.py:98-107`).
  *
  * [[bundled]] ships the same public-domain CMS ICD-10-CM dataset as a
  * repo resource (`graft/icd10-cm.tsv.gz`, `code TAB billable TAB
  * description`, one row per code, dots already stripped — CMS publishes
  * codes dotless). [[load]] additionally reads the reference's gzip-JSON
  * format from any path. [[existsFn]] broadcasts the code set and returns
  * the engine's membership Column function — dot-stripping replicated,
  * `exists("") == false` implied by set membership.
  */
object IcdCatalog {

  /** One catalog row: `code` is dotless (E119, not E11.9). */
  final case class Entry(code: String, billable: Boolean, description: String)

  /** The bundled CMS ICD-10-CM catalog, keyed by dotless code. Loaded once
    * per JVM; ~94k entries.
    */
  lazy val bundled: Map[String, Entry] = {
    val in = new java.util.zip.GZIPInputStream(
      getClass.getResourceAsStream("/graft/icd10-cm.tsv.gz"))
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines().map { line =>
      val Array(code, billable, desc) = line.split("\t", 3)
      code -> Entry(code, billable == "1", desc)
    }.toMap
    finally { src.close(); in.close() }
  }

  /** All valid dotless codes from the bundled catalog. */
  def defaultCodes: Set[String] = bundled.keySet

  /** Description lookup with the reference's dot-stripping (`E11.9` and
    * `E119` both resolve); None for unknown codes and empty strings.
    */
  def find(code: String): Option[Entry] =
    if (code == null) None else bundled.get(code.replace(".", ""))

  def exists(code: String): Boolean = find(code).isDefined

  def billable(code: String): Boolean = find(code).exists(_.billable)

  /** Parse a gzip JSON dict (code -> description) into the code set. */
  def load(path: String): Set[String] = {
    val in = new java.util.zip.GZIPInputStream(
      java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path)))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    // minimal JSON-object key scan: keys are bare code strings, values are
    // description strings — no nesting in the format
    val key = """"((?:[^"\\]|\\.)*)"\s*:""".r
    key.findAllMatchIn(text).map(_.group(1)).toSet
  }

  /** Membership Column fn over a broadcast set, dot stripped before lookup. */
  def existsFn(spark: SparkSession, codes: Set[String]): Column => Column = {
    val bc = spark.sparkContext.broadcast(codes)
    val exists = udf((s: String) => s != null && bc.value.contains(s.replace(".", "")))
    c => exists(c)
  }

  /** Membership Column fn over the full bundled CMS catalog. */
  def existsFn(spark: SparkSession): Column => Column =
    existsFn(spark, defaultCodes)

  /** Small-catalog variant: pure `isin` expression, no UDF — preferable
    * when the catalog fits a literal list (tests, subsets).
    */
  def existsFnSmall(codes: Set[String]): Column => Column =
    c => regexp_replace(c, "\\.", "").isin(codes.toSeq: _*)
}
