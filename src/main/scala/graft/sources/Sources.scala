package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Multi-format file sources mirroring the reference's read surface
  * (SURVEY.md §2.1) with its extension-dispatch routing
  * (`/root/reference/dataflow.py:189-199`).
  *
  * All readers are Spark file sources: distributed, splittable, with
  * predicate/column pushdown — the "download the whole file in the worker"
  * pattern of the reference's validation plane (`dataflow.py:184`) never
  * appears.
  */
object Sources {

  /** S1/S2 — header-skipping CSV scan with per-row parse capture. PERMISSIVE
    * mode + corrupt-record column reproduces `parse_csv_line → None` row
    * semantics (`dataflow_transform.py:14-30`) instead of failing the scan.
    */
  def csv(spark: SparkSession, path: String, schema: StructType,
          multiLine: Boolean = false): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .option("multiLine", multiLine.toString) // allow_quoted_newlines, airflow.py:98
      .schema(schema)
      .csv(path)

  /** S3 — the ELT bulk load (`airflow.py:87-101`): the header names the
    * columns, every column is a string, and the caller's casts to its fixed
    * staging schema do all the typing, so the autodetect of `airflow.py:93`
    * needs no inference pass. Quoted newlines allowed (`airflow.py:98` →
    * `multiLine`), jagged rows fatal (`allow_jagged_rows=False`,
    * `airflow.py:99` → FAILFAST). Inferring from a prefix instead would fix
    * a column's type before a later row can contradict it, and FAILFAST
    * would then abort on that row.
    */
  def csvAutodetect(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("mode", "FAILFAST")
      .csv(path)

  /** S5 — whole-file JSON (object or array of objects) and JSONL.
    * `multiLine=true` ⇔ the reference's `json.loads` of a full file
    * (`dataflow.py:209-234`); default mode reads line-delimited
    * (`dataflow.py:269-285`).
    */
  def json(spark: SparkSession, path: String, wholeFile: Boolean = false): DataFrame =
    spark.read.option("multiLine", wholeFile.toString).json(path)

  /** S6 — plain text, non-blank lines (`dataflow.py:287-294`). */
  def text(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path).filter(length(trim(col("value"))) > 0)

  /** ORC scan — the second columnar format big estates carry alongside
    * parquet (Spark's reader is built in: splittable, vectorized, with
    * predicate pushdown + column pruning like the parquet path).
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** ORC write (zstd, the Spark default). Round-trip fidelity is
    * oracle-checked (q146) and spec-checked against the parquet twin.
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** Extension dispatch (`dataflow.py:191-199`): route a path to the right
    * reader. Unknown extensions raise, as the reference does.
    */
  def resolve(spark: SparkSession, path: String, csvSchema: StructType): DataFrame = {
    val lower = path.toLowerCase
    if (lower.endsWith(".csv")) csv(spark, path, csvSchema)
    else if (lower.endsWith(".jsonl") || lower.endsWith(".ndjson")) json(spark, path)
    else if (lower.endsWith(".json")) json(spark, path, wholeFile = true)
    else if (lower.endsWith(".txt") || lower.endsWith(".text")) text(spark, path)
    else if (lower.endsWith(".orc")) orc(spark, path)
    else if (lower.endsWith(".warc") || lower.endsWith(".wet"))
      warcFiles(spark, path)
    else throw new IllegalArgumentException(s"Unsupported file format: $path")
  }

  /** WARC/WET record explode over a binary column: one strict
    * [[graft.functions.WarcKernel]] walk per payload (codegen'd native
    * expression over the public ISO 28500 grammar — Content-Length
    * framing, so payloads containing header-shaped text can't derail
    * the parse), then one generator explode per record. Malformed files
    * contribute no rows (a NULL record array never explodes).
    *
    * df(keep..., bytesCol) → (keep..., record_idx, warc_type,
    * record_id, target_uri, warc_date, content_length, payload).
    */
  def warcRecords(df: DataFrame, bytesCol: String,
                  keepCols: Seq[String] = Nil): DataFrame = {
    val keep = keepCols.map(col)
    df.select(keep :+
        graft.functions.ArrayMath.warcParse(col(bytesCol)).as("__recs"): _*)
      .filter(col("__recs").isNotNull)
      .select(keep :+ posexplode(col("__recs")).as(Seq("record_idx", "__r")): _*)
      .select(keep ++ Seq(col("record_idx"),
        col("__r.warc_type").as("warc_type"),
        col("__r.record_id").as("record_id"),
        col("__r.target_uri").as("target_uri"),
        col("__r.warc_date").as("warc_date"),
        col("__r.content_length").as("content_length"),
        col("__r.payload").as("payload")): _*)
  }

  /** Production WARC ingest: Spark's binaryFile source (distributed
    * listing + whole-file reads — WARC members gzip per-record in the
    * wild and are NOT line-splittable, so whole-file is the correct
    * split unit) piped through [[warcRecords]]. One row per record with
    * the source path kept for provenance.
    */
  def warcFiles(spark: SparkSession, path: String): DataFrame =
    warcRecords(
      spark.read.format("binaryFile").load(path)
        .select(col("path"), col("content")),
      "content", keepCols = Seq("path"))

  /** Recursive struct flattening — the step after any nested-JSON
    * ingest ([[json]] infers structs; warehouse sinks want flat
    * columns): every StructType column expands to dot-path columns
    * named `parent<sep>child…`, at any depth, in schema order. Arrays
    * and maps stay as values (explode is a row-multiplying decision
    * the caller owns). A pure projection — zero shuffles, zero UDFs —
    * so it composes into any scan without a plan cost.
    *
    * Name collisions (an existing `a_b` next to struct path `a.b`)
    * are NOT resolved — both columns emit and a downstream select by
    * name fails loudly, which beats silently dropping one.
    */
  def flattenStructs(df: DataFrame, sep: String = "_"): DataFrame = {
    import org.apache.spark.sql.types.StructType
    def expand(schema: StructType, prefix: Seq[String]): Seq[org.apache.spark.sql.Column] =
      schema.fields.toSeq.flatMap { f =>
        val path = prefix :+ f.name
        f.dataType match {
          case s: StructType => expand(s, path)
          case _ =>
            Seq(col(path.map(p => s"`$p`").mkString("."))
              .as(path.mkString(sep)))
        }
      }
    df.select(expand(df.schema, Seq.empty): _*)
  }
}
