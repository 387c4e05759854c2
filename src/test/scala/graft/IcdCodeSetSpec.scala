package graft

import graft.io.IcdCatalog
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import java.lang.invoke.SerializedLambda

/** The bundled ICD-10 check is a per-JVM code set: it accepts exactly the
  * codes of the bundled catalog, dotted or dotless, and builds no
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
    assert(IcdCatalog.defaultCodes == codes)
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
