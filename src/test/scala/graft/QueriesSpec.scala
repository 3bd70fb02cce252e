package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-test-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.ArrayMath.register(s)
    s
  }
}

class QueriesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n >= 0, s"$name failed")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("oracle SQL declared for SQL-expressible queries") {
    val qs = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(qs))
  }

  test("onlyLanes: a blank SPARK_GRAFT_ONLY selects all lanes, and an " +
    "unknown name raises") {
    assert(SparkEntry.onlyLanes(None).isEmpty)
    assert(SparkEntry.onlyLanes(Some(" , ")).isEmpty)
    val two = SparkEntry.queries.keys.toSeq.sorted.take(2)
    assert(SparkEntry.onlyLanes(Some(two.mkString(" ", " , ", ","))) ==
      Some(two.toSet))
    val e = intercept[IllegalArgumentException](
      SparkEntry.onlyLanes(Some(s"${two.head},q_no_such_lane")))
    assert(e.getMessage.contains("q_no_such_lane"))
  }

  test("q15 global count matches table size") {
    val n = SparkEntry.queries("q15_global_count")(spark, sf)
      .collect().head.getLong(0)
    assert(n == Tables.lineitem(spark, sf).count())
  }

  test("q13 truncating cast is toward zero (int(float(x)) parity)") {
    import spark.implicits._
    val row = SparkEntry.queries("q13_trunc_cast")(spark, sf)
      .filter($"qty_int" =!= $"l_orderkey") // any row
      .head()
    val li = Tables.lineitem(spark, sf)
      .filter($"l_orderkey" === row.getLong(0) && $"l_linenumber" === row.getInt(1))
      .head()
    val qty = li.getDouble(li.fieldIndex("l_quantity"))
    assert(row.getLong(row.fieldIndex("qty_int")) == qty.toLong)
  }

  test("q01 has the expected grouping cells") {
    val rows = SparkEntry.queries("q01_pricing_summary")(spark, sf).collect()
    assert(rows.length == 6) // 3 returnflags x 2 linestatus
    assert(rows.map(_.getString(0)).distinct.sorted.sameElements(Array("A", "N", "R")))
  }

  test("q19 sessions cover all events") {
    import spark.implicits._
    val total = SparkEntry.queries("q19_sessionize")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n_events")).head().getLong(0)
    assert(total == Tables.events(spark, sf).count())
  }
}
