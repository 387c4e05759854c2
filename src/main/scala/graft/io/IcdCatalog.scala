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
  * format from any path.
  *
  * The engine's check against the bundled catalog, `existsFn(spark)`, is a
  * per-JVM lookup: one code set (codes only, no descriptions) per JVM,
  * loaded from the resource the first time the JVM checks a code. The
  * driver and every executor load it from the jar they already have, so
  * a validation builds and ships no broadcast. `existsFn(spark, codes)`
  * broadcasts a caller's own catalog. Both strip dots before the lookup;
  * `null` and `""` are never members.
  */
object IcdCatalog {

  /** One catalog row: `code` is dotless (E119, not E11.9). */
  final case class Entry(code: String, billable: Boolean, description: String)

  private def bundledLines[T](f: Iterator[Array[String]] => T): T = {
    val in = new java.util.zip.GZIPInputStream(
      getClass.getResourceAsStream("/graft/icd10-cm.tsv.gz"))
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try f(src.getLines().map(_.split("\t", 3)))
    finally { src.close(); in.close() }
  }

  /** The bundled CMS ICD-10-CM catalog, keyed by dotless code. Loaded once
    * per JVM; ~94k entries.
    */
  lazy val bundled: Map[String, Entry] = bundledLines(_.map {
    case Array(code, billable, desc) => code -> Entry(code, billable == "1", desc)
  }.toMap)

  /** All valid dotless codes from the bundled catalog, without the
    * entries: loaded once per JVM, on the driver and on each executor. */
  lazy val defaultCodes: Set[String] = bundledLines(_.map(_(0)).toSet)

  /** Description lookup with the reference's dot-stripping (`E11.9` and
    * `E119` both resolve); None for unknown codes and empty strings.
    */
  def find(code: String): Option[Entry] =
    if (code == null) None else bundled.get(code.replace(".", ""))

  def exists(code: String): Boolean =
    code != null && defaultCodes.contains(code.replace(".", ""))

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

  /** Membership Column fn over the full bundled CMS catalog: each JVM
    * looks codes up in its own copy of the code set; no broadcast. */
  def existsFn(spark: SparkSession): Column => Column = {
    val exists = udf((s: String) => IcdCatalog.exists(s))
    c => exists(c)
  }

  /** Small-catalog variant: pure `isin` expression, no UDF — preferable
    * when the catalog fits a literal list (tests, subsets).
    */
  def existsFnSmall(codes: Set[String]): Column => Column =
    c => regexp_replace(c, "\\.", "").isin(codes.toSeq: _*)
}
