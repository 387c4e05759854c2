package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: derive a larger scale factor from the harness testdata by
  * key-shifted replication, for the SCALE.md headroom runs. Not part of
  * the driver contract.
  *
  * Each fact table is replicated `factor` times with every key column
  * shifted by `rep * (max(key) + 1)` of its KEY FAMILY — contiguous,
  * exactly how TPC-H itself scales keys. Contiguity matters beyond
  * aesthetics: synthetic ids stay inside the shapes downstream queries
  * legitimately depend on (the 6-digit `14_%06d` participant-id pattern
  * the cross-sheet rules gate on, q40's +1,000,000 injected-dup ids,
  * q44's +100,000 planted near-dup ids — a first cut used a uniform 1e7
  * shift and broke all of them). Referential integrity is preserved
  * because a foreign key and its target shift by the same family offset
  * within a replica; `region`/`nation` stay fixed, as TPC-H scaling does
  * for them. Id-scoped queries (q41 doc_id<100, q44 vec_id<300, ANN
  * query sides vec_id<20) keep their original inputs — only the corpus
  * side grows — so the quadratic ORACLE baselines stay bounded while the
  * engine side sees `factor`x data.
  *
  * Facts are written as multiple parquet files so the scaled dirs scan
  * as multiple splits (the realistic shape; also what lets Spread's
  * metadata gate approach its 100 TB no-op path).
  *
  * Usage: sbt "runMain graft.ScaleUp [srcDir] [dstDir] [factor]"
  * (defaults: /root/testdata/sf0.1  out/sf1  10)
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("out/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = EngineConf.session("graft-scaleup")

    // one offset per key FAMILY, read from the owning table (driver-side
    // scalar; dev tool only)
    def off(df: DataFrame, c: String): Long =
      df.agg(max(col(c))).head().getLong(0) + 1L
    val cust = off(Tables(spark, src, "customer"), "c_custkey")
    val ord = off(Tables(spark, src, "orders"), "o_orderkey")
    val part = off(Tables(spark, src, "part"), "p_partkey")
    val supp = off(Tables(spark, src, "supplier"), "s_suppkey")
    val event = off(Tables.events(spark, src), "event_id")
    val doc = off(Tables(spark, src, "documents"), "doc_id")
    val vec = off(Tables(spark, src, "embeddings"), "vec_id")

    /** key column -> family offset, per table; absent = fixed dimension */
    val shifts: Map[String, Seq[(String, Long)]] = Map(
      "customer"   -> Seq("c_custkey" -> cust),
      "supplier"   -> Seq("s_suppkey" -> supp),
      "part"       -> Seq("p_partkey" -> part),
      "orders"     -> Seq("o_orderkey" -> ord, "o_custkey" -> cust),
      "lineitem"   -> Seq("l_orderkey" -> ord, "l_partkey" -> part,
                          "l_suppkey" -> supp),
      // user_id is an FK into customer, so it shifts by the CUSTOMER
      // family offset (not its own table's max) — replica r's events
      // attach to replica r's customers, keeping the per-user event
      // density constant under scaling instead of piling every replica
      // onto replica-0's users
      "events"     -> Seq("event_id" -> event, "user_id" -> cust),
      "documents"  -> Seq("doc_id" -> doc),
      "embeddings" -> Seq("vec_id" -> vec))

    for (name <- Tables.names) {
      // events must resolve through Tables.events (ns->us conversion);
      // the copy is therefore written with us timestamps, which every
      // reader here (Spark, DuckDB CAST) treats identically
      val df = if (name == "events") Tables.events(spark, src)
               else Tables(spark, src, name)
      val (out, files) = shifts.get(name) match {
        case None => (df, 1)
        case Some(keys) =>
          val reps = broadcast(spark.range(factor.toLong).toDF("rep"))
          val wide = df.crossJoin(reps)
          (keys.foldLeft(wide) { case (acc, (k, o)) =>
            acc.withColumn(k, col(k) + col("rep") * o)
          }.drop("rep"), math.max(2, factor / 2))
      }
      out.repartition(files).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name x${shifts.get(name).fold(1)(_ => factor)}" +
        s" -> $dst/$name.parquet ($files files)")
    }
    spark.stop()
  }
}
