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
  * per-JVM lookup in [[codeIndex]]: the bundled codes (no descriptions)
  * packed base-37 into one `Long` each and held as a sorted
  * `Array[Long]`, built the first time the JVM checks a code by streaming
  * the resource's bytes. For the 94,444 bundled codes that is 0.76 MB,
  * against 7.9 MB for the same codes as a `Set[String]`. The driver and
  * every executor build it from the jar they already have, so a
  * validation builds and ships no broadcast. `existsFn(spark, codes)`
  * broadcasts a caller's own catalog. Both strip dots before the lookup;
  * `null` and `""` are never members.
  */
object IcdCatalog {

  /** One catalog row: `code` is dotless (E119, not E11.9). */
  final case class Entry(code: String, billable: Boolean, description: String)

  private def bundledResource(): java.io.InputStream =
    new java.util.zip.GZIPInputStream(
      getClass.getResourceAsStream("/graft/icd10-cm.tsv.gz"), 1 << 16)

  private def bundledLines[T](f: Iterator[Array[String]] => T): T = {
    val in = bundledResource()
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

  /** Codes are at most 7 characters from `[0-9A-Z]`. Each character is
    * one base-37 digit, its position in [[Alphabet]] plus one, and a short
    * code is padded with zero digits on the right, so distinct codes pack
    * to distinct longs and the packed order is the codes' string order.
    */
  private val MaxCodeLength = 7
  private val Alphabet = "0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZ"

  /** The base-37 digit of a code character; 0 for any other character. */
  private def digit(ch: Int): Int = Alphabet.indexOf(ch) + 1

  /** 37^7 down to 37^0: a code of n characters is padded by `PadWeights(n)`. */
  private val PadWeights: Array[Long] =
    Array.iterate(1L, MaxCodeLength + 1)(_ * 37).reverse

  /** `code` without its dots, packed; -1 when it cannot be a code. */
  private def pack(code: String): Long = {
    var packed = 0L
    var n = 0
    var i = 0
    while (i < code.length) {
      val ch = code.charAt(i)
      if (ch != '.') {
        val d = digit(ch)
        if (d == 0 || n == MaxCodeLength) return -1L
        packed = packed * 37 + d
        n += 1
      }
      i += 1
    }
    if (n == 0) -1L else packed * PadWeights(n)
  }

  /** The code a packed long stands for. */
  private[graft] def unpack(packed: Long): String =
    (1 to MaxCodeLength).map(k => (packed / PadWeights(k) % 37).toInt)
      .filter(_ > 0).map(d => Alphabet(d - 1)).mkString

  /** The first field of every line of a `code TAB ...` stream, packed and
    * sorted, read byte by byte without a `String` per code. Throws on a
    * code outside `[0-9A-Z]{1,7}`: a catalog the index cannot hold must
    * not silently lose codes.
    */
  private[graft] def packCodes(in: java.io.InputStream): Array[Long] = {
    val codes = Array.newBuilder[Long]
    val buf = new Array[Byte](1 << 16)
    var packed = 0L
    var n = 0
    var inCode = true
    var line = 1
    def refuse(why: String): Nothing =
      throw new IllegalArgumentException(s"ICD-10 catalog line $line: $why")
    def endCode(): Unit = {
      if (n == 0) refuse("empty code")
      codes += packed * PadWeights(n)
      packed = 0L; n = 0; inCode = false
    }
    var read = in.read(buf)
    while (read >= 0) {
      var i = 0
      while (i < read) {
        val b = buf(i) & 0xff
        if (b == '\n') {
          if (inCode) endCode()
          inCode = true
          line += 1
        } else if (inCode) {
          if (b == '\t') endCode()
          else {
            val d = digit(b)
            if (d == 0) refuse(s"byte 0x${b.toHexString} is not in [0-9A-Z]")
            if (n == MaxCodeLength) refuse(s"code longer than $MaxCodeLength")
            packed = packed * 37 + d
            n += 1
          }
        }
        i += 1
      }
      read = in.read(buf)
    }
    if (inCode && n > 0) endCode()
    val sorted = codes.result()
    java.util.Arrays.sort(sorted)
    sorted
  }

  /** The bundled codes, packed and sorted: built once per JVM, on the
    * driver and on each executor, from the resource's bytes. */
  private[graft] lazy val codeIndex: Array[Long] = {
    val in = bundledResource()
    try packCodes(in) finally in.close()
  }

  /** Description lookup with the reference's dot-stripping (`E11.9` and
    * `E119` both resolve); None for unknown codes and empty strings.
    */
  def find(code: String): Option[Entry] =
    if (code == null) None else bundled.get(code.replace(".", ""))

  /** Membership in the bundled catalog, dots stripped: a code that cannot
    * be packed (lower case, blanks, too long, empty) is not a member. */
  def exists(code: String): Boolean =
    code != null && {
      val packed = pack(code)
      packed >= 0 && java.util.Arrays.binarySearch(codeIndex, packed) >= 0
    }

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

  /** The name of `existsFn(spark)`'s UDF in a plan. */
  val ExistsUdfName = "icd10_exists"

  /** Membership Column fn over the full bundled CMS catalog: each JVM
    * looks codes up in its own copy of the code set; no broadcast. */
  def existsFn(spark: SparkSession): Column => Column = {
    val exists = udf((s: String) => IcdCatalog.exists(s)).withName(ExistsUdfName)
    c => exists(c)
  }

  /** Small-catalog variant: pure `isin` expression, no UDF — preferable
    * when the catalog fits a literal list (tests, subsets).
    */
  def existsFnSmall(codes: Set[String]): Column => Column =
    c => regexp_replace(c, "\\.", "").isin(codes.toSeq: _*)
}
