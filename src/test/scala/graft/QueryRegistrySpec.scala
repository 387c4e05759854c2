package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // not EngineConf.session: the plan-audit specs assert this session's
  // plan shapes (4 partitions, Spark's default broadcast threshold)
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.cteRecursionRowLimit", graft.EngineConf.CteRecursionRowLimit)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}

/** Every registered query must run, have a non-empty schema, be
  * deterministic (two runs produce identical collected output), and —
  * unless listed as legitimately empty — return rows at sf0.001.
  */
class QueryRegistrySpec extends AnyFunSuite {
  import SparkTestSession._

  // queries whose correct answer may be the empty set on clean testdata
  private val mayBeEmpty = Set("q07_anti_join")

  test("registry names are unique and oracle keys are a subset") {
    val names = QueryRegistry.all.map(_.name)
    assert(names.distinct.size === names.size)
    assert(QueryRegistry.oracleSql.keySet.subsetOf(names.toSet))
  }

  QueryRegistry.all.foreach { q =>
    test(s"${q.name} runs at sf0.001") {
      val df = q.fn(spark, sf)
      assert(df.schema.nonEmpty)
      val n = df.count()
      if (!mayBeEmpty(q.name)) assert(n > 0, s"${q.name} returned 0 rows")
    }
  }

  test("q01 flagship matches hand-computed shape") {
    val rows = QueryRegistry.queries("q01_agg_fullscan")(spark, sf).collect()
    assert(rows.length === 6) // 3 returnflags x 2 linestatus present in data
    val total = rows.map(_.getAs[Long]("count_order")).sum
    assert(total === 6000L) // sf0.001 lineitem row count
  }

  test("entry smoke: rows > 0") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
