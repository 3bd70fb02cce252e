package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ArrayMath

/** The native DotProduct expression must be bit-identical to the HOF
  * spelling (same left-to-right accumulation) — that equivalence is what
  * keeps the DuckDB oracles valid.
  */
class ArrayMathSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  test("native dot == HOF dot bit-for-bit on seeded random vectors") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    val rows = Seq.fill(50)((
      List.fill(64)(rnd.nextGaussian() * 1000),
      List.fill(64)(rnd.nextGaussian() * 1000)))
    val got = rows.toDF("a", "b")
      .select(ArrayMath.dot(col("a"), col("b")).as("native"),
        hofDot(col("a"), col("b")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native int8 dot == HOF cast-then-dot bit-for-bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(13L)
    val rows = Seq.fill(50)((
      List.fill(64)((rnd.nextInt(255) - 127).toByte),
      List.fill(64)(rnd.nextGaussian())))
    val got = rows.toDF("c", "q")
      .select(ArrayMath.int8Dot(col("c"), col("q")).as("native"),
        hofDot(transform(col("c"), _.cast("double")), col("q")).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
    // length mismatch truncates to the shorter side, like DotProduct
    val short = Seq((List[Byte](127, -127), List(0.5, 0.25, 0.125)))
      .toDF("c", "q")
      .select(ArrayMath.int8Dot(col("c"), col("q"))).head().getDouble(0)
    assert(short == 127 * 0.5 + (-127) * 0.25)
  }

  test("nearest/top centroid expressions match the greatest(struct) spelling") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val k = 37
    val dim = 16
    val cents = Array.fill(k)(Array.fill(dim)(rnd.nextGaussian()))
    val matrix = typedLit(cents.map(_.toSeq).toSeq)
    val df = Seq.fill(100)(List.fill(dim)(rnd.nextGaussian())).toDF("v")
    // old spelling: argmax via greatest of (score, cid) structs — NOTE its
    // tie-break is the larger cid; scores here are continuous so tie-free
    val oldArgmax = greatest(cents.zipWithIndex.map { case (c, cid) =>
      struct(ArrayMath.dot(col("v"), typedLit(c.toSeq)).as("score"),
        lit(cid).as("cid"))
    }: _*).getField("cid")
    val rows = df.select(
      ArrayMath.nearestCentroidId(col("v"), matrix).as("native"),
      oldArgmax.as("old"),
      ArrayMath.topCentroidIds(col("v"), matrix, 5).as("top5")).collect()
    rows.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), "argmax disagrees with unrolled spelling")
      val top = r.getSeq[Int](2)
      assert(top.length == 5 && top.head == r.getInt(0),
        "probe list must lead with the argmax centroid")
      assert(top.distinct.length == 5)
    }
    // nulls propagate
    val nul = df.limit(1).select(
      ArrayMath.nearestCentroidId(lit(null).cast("array<double>"), matrix)).head()
    assert(nul.isNullAt(0))
  }

  test("null and mismatched-length behavior") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(3.0))).toDF("a", "b")
    assert(df.select(ArrayMath.dot(col("a"), col("b"))).head().getDouble(0) == 3.0)
    val withNull = df.select(ArrayMath.dot(lit(null).cast("array<double>"), col("b")))
    assert(withNull.head().isNullAt(0))
  }

  test("rejects non-double arrays at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("a", "b")
    intercept[Exception] {
      df.select(ArrayMath.dot(col("a"), col("b"))).head()
    }
  }

  test("sortedIntersectCount == size(array_intersect) on random sorted sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    val rows = Seq.fill(200)((
      rnd.shuffle((0L to 500L).toList).take(rnd.nextInt(60) + 1).distinct.sorted,
      rnd.shuffle((0L to 500L).toList).take(rnd.nextInt(60) + 1).distinct.sorted))
    val got = rows.toDF("a", "b")
      .select(ArrayMath.sortedIntersectCount(col("a"), col("b")).as("native"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("builtin"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // edges: disjoint, identical, empty, null
    val edge = Seq(
      (Seq(1L, 2L), Seq(3L, 4L), 0L),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3L),
      (Seq.empty[Long], Seq(1L), 0L)).toDF("a", "b", "want")
    edge.select(ArrayMath.sortedIntersectCount(col("a"), col("b")), col("want"))
      .collect().foreach(r => assert(r.getLong(0) == r.getLong(1)))
    val withNull = Seq((Seq(1L), Option.empty[Seq[Long]])).toDF("a", "b")
      .select(ArrayMath.sortedIntersectCount(col("a"), col("b")))
    assert(withNull.head().isNullAt(0))
  }

  test("jaroWinkler: literature values, boost threshold, empties, codegen") {
    import spark.implicits._
    val cases = Seq(
      ("martha", "marhta", 0.961111),   // Winkler's canonical example
      ("DIXON", "DICKSONX", 0.813333),  // Wikipedia's worked case
      ("abcccc", "abdddd", 0.555556),   // jaro <= 0.7: NO prefix boost
      ("same", "same", 1.0),
      ("", "", 1.0), ("a", "", 0.0),    // DuckDB/Commons empty convention
      ("ab", "ba", 0.0))                // window max(0, 2/2-1)=0: no match
    val got = cases.toDF("a", "b", "exp")
      .select(round(ArrayMath.jaroWinkler(col("a"), col("b")), 6).as("jw"),
        col("exp"))
      .collect()
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1),
      s"jw=${r.getDouble(0)} expected ${r.getDouble(1)}"))
    // stays inside whole-stage codegen (no CodegenFallback) — a range
    // source so the projection cannot constant-fold to LocalTableScan
    val plan = spark.range(3)
      .select(ArrayMath.jaroWinkler(
        concat(lit("x"), col("id")), lit("xy")))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") ||
      plan.matches("(?s).*\\*\\(\\d+\\) Project.*"), plan)
    // null propagates
    assert(Seq((Some("x"), Option.empty[String])).toDF("a", "b")
      .select(ArrayMath.jaroWinkler(col("a"), col("b"))).head().isNullAt(0))
  }

  test("register: per-name idempotency re-binds a dropped function") {
    val reg = spark.sessionState.functionRegistry
    val fid = org.apache.spark.sql.catalyst.FunctionIdentifier(
      ArrayMath.jaroWinklerName)
    ArrayMath.register(spark)
    assert(reg.functionExists(fid))
    // simulate a session built before this function existed: the first
    // function is bound but this one is not — register must fill the gap
    reg.dropFunction(fid)
    assert(!reg.functionExists(fid))
    ArrayMath.register(spark)
    assert(reg.functionExists(fid),
      "register must bind missing names even when others already exist")
  }

  /** A NEW session built with [[GraftExtensions]] over the shared
    * SparkContext. getOrCreate returns the active session (ignoring
    * withExtensions), so active/default are cleared first to force a new
    * session whose state is built from the extensions, then restored.
    */
  private lazy val extSpark: SparkSession = {
    val base = spark // ensure the context exists
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().master(base.sparkContext.master)
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setActiveSession(base)
      SparkSession.setDefaultSession(base)
    }
  }

  private def graftFunctionNames(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_")).toSet

  test("GraftExtensions and register install the same native-function table") {
    val table = ArrayMath.nativeFns.map(_.name)
    assert(table.distinct.size == table.size, "a name appears twice in the table")
    val runtime = spark.newSession()
    ArrayMath.register(runtime)
    assert(graftFunctionNames(runtime) == table.toSet)
    assert(extSpark ne spark)
    assert(graftFunctionNames(extSpark) == table.toSet)
    val reg = extSpark.sessionState.functionRegistry
    for (f <- ArrayMath.nativeFns) {
      assert(reg.functionExists(FunctionIdentifier(f.name)), f.name)
      val usage = extSpark.sql(s"DESCRIBE FUNCTION ${f.name}").collect()
        .map(_.getString(0)).find(_.startsWith("Usage:"))
      assert(usage.exists(_.contains(f.usage.replace("_FUNC_", f.name))), f.name)
    }
    val r = extSpark.sql(
      "SELECT graft_dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d, " +
        "graft_simhash64(graft_shingle_hashes(array('a','b','c'), 1)) AS sh, " +
        "graft_lcs_len(array('a','b','c'), array('a','c')) AS lcs, " +
        "graft_bleu_gram_stats(array('a','b'), array('a','b'))[1].m AS m2")
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(r.getLong(1) != 0L)
    assert(r.getInt(2) == 2)
    assert(r.getLong(3) == 1L)
    // affine mat-vec and BPE from plain SQL
    val r2 = extSpark.sql(
      "SELECT graft_mat_vec_affine(array(1.0d, 2.0d), " +
        "array(array(1.0d, 1.0d), array(0.0d, 3.0d)), array(0.0d, 1.0d)) AS mv, " +
        "graft_bpe_encode(array('hug'), array('u g', 'h ug')) AS toks, " +
        "graft_bpe_merge_pair(array('h','u','g'), 'u', 'g') AS merged")
      .head()
    assert(r2.getSeq[Double](0).toList == List(3.0, 5.0))
    assert(r2.getSeq[String](1).toList == List("hug"))
    assert(r2.getSeq[String](2).toList == List("h", "ug"))
  }

  test("chrF counts characters like Spark's length on malformed UTF-8") {
    // a stray continuation byte, a lead byte whose continuation bytes are
    // missing, and a truncated sequence at the end of the string
    for (hex <- Seq("806162", "61E26263", "78C3")) {
      val r = extSpark.sql(
        "SELECT graft_chrf_gram_stats(s, s, 1)[0].tc, length(s) " +
          s"FROM (SELECT cast(X'$hex' AS STRING) AS s)").head()
      assert(r.getLong(0) == r.getInt(1).toLong, s"X'$hex'")
    }
  }
}
