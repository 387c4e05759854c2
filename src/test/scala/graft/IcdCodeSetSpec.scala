package graft

import graft.io.IcdCatalog
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.lang.invoke.SerializedLambda

/** The bundled ICD-10 check is a per-JVM packed code index: it holds
  * exactly the codes of the bundled catalog, accepts them dotted or
  * dotless, refuses to load a code it cannot hold, and builds no
  * broadcast. */
class IcdCodeSetSpec extends AnyFunSuite {
  import SparkTestSession._

  private def expected(code: String): Boolean =
    code != null && IcdCatalog.bundled.contains(code.replace(".", ""))

  private def dotted(code: String): String =
    if (code.length > 3) code.take(3) + "." + code.drop(3) else code

  test("the code set accepts exactly the bundled codes, dotted and dotless") {
    import spark.implicits._
    val codes = IcdCatalog.bundled.keySet
    assert(codes.size == 94444)
    // the index holds each bundled code once, in strictly increasing order
    // (the binary search's precondition), and nothing else
    val index = IcdCatalog.codeIndex
    assert(index.length == codes.size)
    assert(index.iterator.sliding(2).forall { case Seq(a, b) => a < b })
    assert(index.map(IcdCatalog.unpack).toSet == codes)
    // 8 bytes a code: 0.76 MB for the bundled catalog
    assert(org.apache.spark.util.SizeEstimator.estimate(index) < 8L * codes.size + 64)
    val probes = codes.toSeq.flatMap(c => Seq(c, dotted(c))) ++
      Seq("", null, ".", "NOPE99", "ZZ9.99", "e119", "E11.", "E1.1.9", " E119")
    assert(probes.forall(p => IcdCatalog.exists(p) == expected(p)))
    val checked = probes.toDF("code")
      .select(col("code"), IcdCatalog.existsFn(spark)(col("code")))
      .collect()
    assert(checked.length == probes.size)
    val wrong = checked.filter(r => r.getBoolean(1) != expected(r.getString(0)))
    assert(wrong.isEmpty, wrong.take(5).mkString(", "))
  }

  private def packed(text: String): Array[Long] =
    IcdCatalog.packCodes(new java.io.ByteArrayInputStream(text.getBytes("UTF-8")))

  test("the loader packs the first field of each line, sorted") {
    val got = packed("B20\t0\tHIV disease\nA00\t0\tCholera\nZ9989\t1\tx\nA000\t1")
    assert(got.map(IcdCatalog.unpack).toSeq == Seq("A00", "A000", "B20", "Z9989"))
    assert(packed("").isEmpty)
  }

  test("the loader refuses a code outside [0-9A-Z]{1,7}") {
    Seq("e11\t0\tx\n", "A00.0\t0\tx\n", "E11 9\t0\tx\n", "A000000Z\t0\tx\n",
        "A00\t0\tx\n\nB20\t0\ty\n", "\t0\tx\n", "Ä00\t0\tx\n").foreach { text =>
      intercept[IllegalArgumentException](packed(text))
    }
    // seven characters is the longest code it holds
    assert(packed("A000000\t0\tx\n").map(IcdCatalog.unpack).toSeq == Seq("A000000"))
  }

  /** The objects a UDF's function captures, transitively through
    * captured functions. */
  private def captured(fn: Column => Column): Seq[AnyRef] = {
    import spark.implicits._
    val udfs = Seq("A00").toDF("c").select(fn(col("c"))).queryExecution.analyzed
      .expressions.flatMap(_.collect { case u: ScalaUDF => u.function })
    assert(udfs.nonEmpty)
    def walk(f: AnyRef, depth: Int): Seq[AnyRef] =
      if (f == null || depth > 4) Nil
      else scala.util.Try(f.getClass.getDeclaredMethod("writeReplace")).toOption
        .map { m => m.setAccessible(true); m.invoke(f) }
        .collect { case l: SerializedLambda => (0 until l.getCapturedArgCount).map(l.getCapturedArg) }
        .getOrElse(Nil)
        .flatMap(a => a +: walk(a, depth + 1))
    udfs.flatMap(walk(_, 0))
  }

  test("existsFn(spark) captures no broadcast; a custom catalog's does") {
    assert(!captured(IcdCatalog.existsFn(spark)).exists(_.isInstanceOf[Broadcast[_]]))
    // the probe sees the broadcast a custom catalog ships
    assert(captured(IcdCatalog.existsFn(spark, Set("A00"))).exists(_.isInstanceOf[Broadcast[_]]))
  }
}
