package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl._
import graft.sources.Sources

/** Golden tests for the reference-surface ETL (SURVEY.md §5.2): the fixture
  * CSV carries one row per reject branch of dataflow_transform.py:32-61.
  */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val fixture = "src/test/resources/covid_daily.csv"

  private def raw = Sources.csv(spark, fixture, Schemas.covidRaw)

  /** The gate's report, observed on one clean pass over `df`. */
  private def checkedReport(df: DataFrame): Validation.Report = {
    val checked = CovidTransform.checked(df)
    checked.df.collect()
    checked.report
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    } finally s.close()
  }

  test("transform keeps exactly the rows the reference keeps") {
    val clean = CovidTransform.clean(raw)
    val rows = clean.orderBy("entity").collect()
    assert(rows.map(_.getString(0)).toSeq ==
      Seq("Afghanistan", "Albania", "Algeria", "Bahrain", "Belgium"))
  }

  test("int(float(x)) truncation: 12.9 -> 12; trim applied") {
    val clean = CovidTransform.clean(raw)
    val algeria = clean.filter(col("entity") === "Algeria").head()
    assert(algeria.getLong(algeria.fieldIndex("total_confirmed_deaths")) == 12L)
    // " Albania " trimmed to "Albania" (entity equality above already proves it)
    val bahrain = clean.filter(col("entity") === "Bahrain").head()
    assert(bahrain.getLong(bahrain.fieldIndex("total_confirmed_deaths")) == -3L)
  }

  test("rejects carry reasons, one per reject branch") {
    val rejects = CovidTransform.rejects(raw)
      .collect().map(r => r.getString(0) -> r.getString(3)).toMap
    assert(rejects.size == 7)
    assert(rejects(null) == "missing_required_field") // empty entity
    assert(rejects("Andorra") == "missing_required_field") // empty Day
    assert(rejects("Angola") == "missing_required_field") // empty deaths
    assert(rejects("Argentina") == "invalid_date") // 2020-3-28, len != 10
    assert(rejects("Armenia") == "invalid_date") // wrong format
    assert(rejects("Australia") == "invalid_date") // month 13
    assert(rejects("Austria") == "invalid_numeric") // abc
  }

  test("validation gate: one-pass report with warn counts, not failed") {
    val report = checkedReport(raw)
    assert(report.totalRecords == 12)
    assert(!report.failed)
    assert(report.violations("required_entity") == 1)
    assert(report.violations("required_Day") == 1)
    assert(report.violations("required_total_confirmed_deaths") == 1)
    assert(report.violations("numeric_total_confirmed_deaths") == 1) // abc
    assert(report.violations("date_Day") == 3) // 2020-3-28, 03-29-2020, 2020-13-29
  }

  test("clean parses each row once: one RLIKE in the executed plan") {
    val plan = CovidTransform.clean(raw).queryExecution.executedPlan.toString
    assert("RLIKE".r.findAllMatchIn(plan).size == 1, plan)
    // each raw field is trimmed once, for the parses and the rules alike
    for (field <- Seq("entity", "Day", "total_confirmed_deaths"))
      assert(s"trim\\($field#".r.findAllMatchIn(plan).size == 1, s"$field: $plan")
  }

  test("validation gate fails on empty input") {
    val empty = raw.filter(lit(false))
    assert(checkedReport(empty).failed)
  }

  test("covid pipeline end-to-end: tables + observed count + audit row") {
    spark.sql("DROP TABLE IF EXISTS transformed_table")
    spark.sql("DROP TABLE IF EXISTS audit_log")
    val summary = Jobs.covidPipeline(spark, fixture, "transformed_table", "audit_log")
    assert(summary.recordCount == 5)
    assert(spark.table("transformed_table").count() == 5)
    val audit = spark.table("audit_log").collect()
    assert(audit.length == 1)
    val a = audit.head
    assert(a.getString(a.fieldIndex("file_name")) == "covid_daily.csv")
    assert(a.getLong(a.fieldIndex("record_count")) == 5L)
    assert(a.getString(a.fieldIndex("pipeline_status")) == "completed")
    // second run appends a second audit row but truncates the main table
    Jobs.covidPipeline(spark, fixture, "transformed_table", "audit_log")
    assert(spark.table("transformed_table").count() == 5)
    assert(spark.table("audit_log").count() == 2)
  }

  test("a failed gate leaves the table and the audit table as they were") {
    spark.sql("DROP TABLE IF EXISTS gate_table")
    spark.sql("DROP TABLE IF EXISTS gate_audit")
    Jobs.covidPipeline(spark, fixture, "gate_table", "gate_audit")
    val headerOnly = Files.createTempDirectory("graft-gate").resolve("header_only.csv")
    Files.writeString(headerOnly, "entity,Day,total_confirmed_deaths\n")
    intercept[Jobs.GateFailure] {
      Jobs.covidPipeline(spark, headerOnly.toString, "gate_table", "gate_audit")
    }
    assert(spark.table("gate_table").count() == 5)
    assert(spark.table("gate_audit").count() == 1)
    val location = Paths.get(spark.sessionState.catalog
      .getTableMetadata(TableIdentifier("gate_table")).location)
    val listing = Files.list(location.getParent)
    val staged = try listing.iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("_")).toList
    finally listing.close()
    assert(staged.isEmpty, staged)
    Jobs.covidPipeline(spark, fixture, "gate_table", "gate_audit")
    assert(spark.table("gate_table").count() == 5)
    assert(spark.table("gate_audit").count() == 2)
    // still a managed table: dropping it removes its files
    spark.sql("DROP TABLE gate_table")
    assert(!Files.exists(location))
  }

  /** Staging rows of an ELT load of `csv`, as `entity|Day|deaths` strings. */
  private def eltStaging(csv: String, db: String): Seq[String] = {
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    Jobs.eltPipeline(spark, csv, db)
    spark.table(s"$db.stg_covid_data").collect()
      .map(r => s"${r.get(0)}|${r.get(1)}|${r.get(2)}").sorted.toSeq
  }

  test("ELT load: quoted newlines and inferable columns give the autodetect rows") {
    val dir = Files.createTempDirectory("graft-elt-load")
    val quoted = dir.resolve("quoted_newline.csv")
    Files.writeString(quoted, Files.readString(Paths.get(fixture))
      .replace("Afghanistan,", "\"Afghan\nistan\","))
    assert(eltStaging(quoted.toString, "covid_quoted") == Seq(
      " Albania |2020-03-24T00:00|21.0", "Afghan\nistan|2020-03-23T00:00|40.0",
      "Algeria|2020-03-25T00:00|12.9", "Andorra|null|5.0", "Angola|2020-03-27T00:00|null",
      "Argentina|2020-03-28T00:00|7.0", "Armenia|null|8.0", "Australia|null|9.0",
      "Austria|2020-03-30T00:00|null", "Bahrain|2020-03-31T00:00|-3.0",
      "Belgium|2020-04-01T00:00|0.0", "null|2020-03-26T00:00|10.0"))
    // full-file inference types these columns INT and DATE
    val typed = dir.resolve("inferable.csv")
    Files.writeString(typed, "entity,Day,total_confirmed_deaths\n" +
      "Afghanistan,2020-03-23,40\nAlbania,2020-03-24,0\nAlgeria,2020-03-25,-3\n")
    assert(spark.read.option("header", "true").option("inferSchema", "true").csv(typed.toString)
      .schema.map(_.dataType.typeName) == Seq("string", "date", "integer"))
    assert(eltStaging(typed.toString, "covid_inferable") == Seq(
      "Afghanistan|2020-03-23T00:00|40.0", "Albania|2020-03-24T00:00|0.0",
      "Algeria|2020-03-25T00:00|-3.0"))
  }

  test("ELT: a jagged row and an empty final table are gate failures, run once") {
    val dir = Files.createTempDirectory("graft-elt-gate")
    Seq("jagged" -> "Afghanistan,2020-03-23,40\nAlbania,2020-03-24\n",
        "no_deaths" -> "Afghanistan,2020-03-23,0\n").foreach { case (name, rows) =>
      val csv = dir.resolve(s"$name.csv")
      Files.writeString(csv, "entity,Day,total_confirmed_deaths\n" + rows)
      var calls = 0
      val e = intercept[Exception] {
        JobRunner.withRetries() { calls += 1; Jobs.eltPipeline(spark, csv.toString, s"covid_$name") }
      }
      assert(calls == 1, name)
      assert(e.isInstanceOf[Jobs.GateFailure], e)
    }
  }

  test("ELT pipeline: autodetect load + INSERT INTO ... WHERE deaths > 0") {
    Sinks.ensureDatabase(spark, "covid")
    spark.sql("DROP TABLE IF EXISTS covid.stg_covid_data")
    spark.sql("DROP TABLE IF EXISTS covid.final_covid_data")
    val n = Jobs.eltPipeline(spark, fixture, "covid")
    // deaths parseable and > 0: 40, 21.0, 12.9, 10, 5, 7, 8, 9 -> 8 rows
    assert(n == 8)
    // lenient dialect: Algeria keeps 12.9 (FLOAT), no truncation
    val algeria = spark.table("covid.final_covid_data")
      .filter(col("entity") === "Algeria").head()
    assert(algeria.getDouble(algeria.fieldIndex("total_confirmed_deaths")) == 12.9)
  }

  test("streaming ingest: AvailableNow drains files exactly once") {
    val dir = Files.createTempDirectory("graft-stream-in")
    val out = Files.createTempDirectory("graft-stream-out").resolve("data").toString
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    Files.copy(Paths.get(fixture), dir.resolve("covid_daily.csv"),
      StandardCopyOption.REPLACE_EXISTING)
    val n1 = streaming.StreamingIngest.runAvailableNow(spark, dir.toString, out, ckpt)
    assert(n1 == 5)
    assert(spark.read.parquet(out).count() == 5)
    // re-run with no new files: checkpoint ensures nothing is reprocessed
    val n2 = streaming.StreamingIngest.runAvailableNow(spark, dir.toString, out, ckpt)
    assert(n2 == 0)
    // a newly arriving file is picked up incrementally
    Files.copy(Paths.get(fixture), dir.resolve("covid_daily_2.csv"))
    val n3 = streaming.StreamingIngest.runAvailableNow(spark, dir.toString, out, ckpt)
    assert(n3 == 5)
    assert(spark.read.parquet(out).count() == 10)
    // a crash after the batch's write but before the checkpoint's commit
    // replays that batch id: the output's commit marker makes it write nothing
    val last = Paths.get(ckpt, "commits").toFile.list().flatMap(_.toLongOption).max
    def uncommit(): Unit = Seq(s"$last", s".$last.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(ckpt, "commits", f)))
    uncommit()
    assert(streaming.StreamingIngest.runAvailableNow(spark, dir.toString, out, ckpt) == 0)
    assert(spark.read.parquet(out).count() == 10)
    // a crash before the marker too: the replay rewrites the batch once
    uncommit()
    Files.delete(Paths.get(out, "_graft_commits", s"$last"))
    assert(streaming.StreamingIngest.runAvailableNow(spark, dir.toString, out, ckpt) == 5)
    // both files carry the same five rows: each is in the output once per file
    val perRow = spark.read.parquet(out)
      .groupBy("entity", "Day", "total_confirmed_deaths").count()
      .collect().map(_.getLong(3)).toSeq
    assert(perRow.length == 5 && perRow.forall(_ == 2L), perRow)
  }

  test("ELT pipeline reruns against a warehouse an earlier JVM left behind") {
    spark.sql("DROP DATABASE IF EXISTS covid_same_jvm CASCADE")
    Jobs.eltPipeline(spark, fixture, "covid_same_jvm")
    val sameJvm = Jobs.eltPipeline(spark, fixture, "covid_same_jvm")
    assert(sameJvm == 16)
    // the session catalog is in-memory: a second JVM sees the database's
    // table directories but no catalog entries
    spark.sql("DROP DATABASE IF EXISTS covid_orphan CASCADE")
    Jobs.eltPipeline(spark, fixture, "covid_orphan")
    val dbDir = Paths.get(new java.net.URI(
      spark.sessionState.catalog.getDatabaseMetadata("covid_orphan").locationUri.toString))
    val aside = Files.createTempDirectory("graft-elt-aside").resolve("covid_orphan")
    copyTree(dbDir, aside)
    spark.sql("DROP DATABASE covid_orphan CASCADE")
    copyTree(aside, dbDir)
    assert(Jobs.eltPipeline(spark, fixture, "covid_orphan") == sameJvm)
  }

  test("source resolver dispatches by extension") {
    val tmp = Files.createTempDirectory("graft-src")
    val txt = tmp.resolve("notes.txt")
    Files.writeString(txt, "line one\n\n  \nline two\n")
    assert(Sources.resolve(spark, txt.toString, Schemas.covidRaw).count() == 2)
    val jsonl = tmp.resolve("records.jsonl")
    Files.writeString(jsonl, """{"id":1,"name":"a","value":2.5}""" + "\n" +
      """{"id":2,"name":"b","value":3.5}""" + "\n")
    assert(Sources.resolve(spark, jsonl.toString, Schemas.covidRaw).count() == 2)
    val json = tmp.resolve("records.json")
    Files.writeString(json, """[{"id":1,"name":"a","value":1.0},{"id":2,"name":"b","value":2.0}]""")
    assert(Sources.resolve(spark, json.toString, Schemas.covidRaw).count() == 2)
    intercept[IllegalArgumentException] {
      Sources.resolve(spark, "file.parquet.xyz", Schemas.covidRaw)
    }
  }

  test("multi-format timestamp rule accepts the 5 reference formats") {
    import spark.implicits._
    val df = Seq("2020-03-01 10:00:00", "2020-03-01T10:00:00",
      "2020-03-01 10:00:00.123456", "2020-03-01T10:00:00.123456",
      "2020-03-01", "01/03/2020", "garbage", null)
      .toDF("ts_str")
    val rule = Validation.timestampAnyFormat("ts_str")
    val report = Validation.run(df, Seq(rule))
    assert(report.totalRecords == 8)
    assert(report.violations("timestamp_ts_str") == 2) // 01/03/2020, garbage
  }

  test("Sql entry point runs text SQL over registered fixture views") {
    val run = Sql.session(spark, "/root/testdata/sf0.001")
    assert(run("SELECT COUNT(*) AS n FROM lineitem").head().getLong(0) == 6000L)
    val joined = run(
      """SELECT r_name, COUNT(*) AS n FROM nation
        |JOIN region ON n_regionkey = r_regionkey GROUP BY r_name ORDER BY r_name""".stripMargin)
    assert(joined.count() == 5)
  }

  test("CleanOps: trailing colons / special chars removed; status split partitions") {
    import spark.implicits._
    val df = Seq(("Pizza Palace::", "delivered"), ("Bob's Burgers!!:", "pending"),
      ("Clean Name", "delivered")).toDF("restaurant", "status")
    val cleaned = CleanOps.cleanColumns(df, Seq("restaurant"))
      .collect().map(_.getString(0))
    assert(cleaned.toSeq == Seq("Pizza Palace", "Bobs Burgers", "Clean Name"))
    val (delivered, other) = CleanOps.splitByStatus(df, "status", "delivered")
    assert(delivered.count() == 2 && other.count() == 1)
    assert(delivered.count() + other.count() == df.count())
  }

  test("per-file counts derive basenames in-plan") {
    val counts = Validation.perFileCounts(
      spark.read.option("header", "true").csv(fixture)).collect()
    assert(counts.length == 1)
    assert(counts.head.getString(0) == "covid_daily.csv")
    assert(counts.head.getLong(1) == 12L)
  }

  test("typed Aggregator (udaf): Welford variance matches var_samp") {
    functions.Aggregators.register(spark)
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val row = li.agg(
      functions.Aggregators.varWelford(col("l_quantity")).as("w"),
      var_samp(col("l_quantity")).as("v")).head()
    assert(math.abs(row.getDouble(0) - row.getDouble(1)) < 1e-6)
  }

  test("withRetries: a gate failure runs once") {
    val csv = Files.createTempDirectory("graft-retry").resolve("header_only.csv")
    Files.writeString(csv, "entity,Day,total_confirmed_deaths\n")
    var calls = 0
    intercept[Jobs.GateFailure] {
      JobRunner.withRetries() {
        calls += 1
        Jobs.covidPipeline(spark, csv.toString, "retry_table", "retry_audit")
      }
    }
    assert(calls == 1)
  }

  test("withRetries: an interrupt runs once") {
    var calls = 0
    intercept[InterruptedException] {
      JobRunner.withRetries() { calls += 1; throw new InterruptedException("stop") }
    }
    assert(calls == 1)
  }

  test("withRetries: a transient IOException is retried, then succeeds") {
    var calls = 0
    val r = JobRunner.withRetries() {
      calls += 1
      if (calls == 1) throw new java.io.IOException("transient")
      42
    }
    assert(r == 42 && calls == 2)
  }

  test("flattenStructs: deep nesting, arrays preserved, nulls, zero shuffles") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((1L, "x"), (2L, null.asInstanceOf[String])).toDF("id", "v")
      .select(col("id"),
        struct(struct(col("v").as("deep"), lit(7L).as("n")).as("inner"),
          array(lit(1), lit(2)).as("arr")).as("outer"))
    val flat = graft.sources.Sources.flattenStructs(df)
    assert(flat.columns.toSeq ==
      Seq("id", "outer_inner_deep", "outer_inner_n", "outer_arr"))
    val rows = flat.orderBy("id").collect()
    assert(rows(0).getString(1) == "x" && rows(0).getLong(2) == 7L &&
      rows(0).getSeq[Int](3) == Seq(1, 2))
    assert(rows(1).isNullAt(1), "null leaf survives the flatten")
    // pure projection: no exchange in the plan
    assert(!flat.queryExecution.executedPlan.toString.contains("Exchange"))
    // dotted FIELD NAMES don't split into paths (backtick quoting)
    val dotted = Seq(1L).toDF("id")
      .select(struct(lit(5L).as("a.b")).as("s"))
    val fd = graft.sources.Sources.flattenStructs(dotted)
    assert(fd.columns.toSeq == Seq("s_a.b") && fd.head().getLong(0) == 5L)
  }
}
