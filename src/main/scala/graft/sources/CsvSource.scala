package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Dispatch

/**
 * CSV ingestion with the reference's dialect + repair semantics
 * (S1-S4 in SURVEY.md §2.1).
 *
 * Reference behavior being replicated:
 *  - header row defines an all-TEXT schema
 *    (lib/voter_file/csv_driver/csv_file.rb:162-171);
 *  - configurable delimiter (default `,`) and quote (default `^`)
 *    (csv_file.rb:13-14);
 *  - LATIN1 encoding on bulk load (csv_file.rb:148);
 *  - `remove_expression`: strip a regex from the raw bytes before
 *    parsing (csv_file.rb:30-38 — shells out to sed; we use a
 *    distributed `regexp_replace` over `spark.read.text`);
 *  - malformed-row removal: drop rows whose parsed field count differs
 *    from the header's, quote-aware (csv_file.rb:40-63,
 *    spec/csv_driver_csv_file_spec.rb:68-108).
 *
 * Spark-first design: the reference's bulk-COPY vs row-streaming split
 * (csv_file.rb:65-78) disappears — Spark's CSV reader is already
 * distributed, and per-column converters are Column expressions applied
 * by the conform step (graft.operators.WorkingTable), not a slow row
 * path. At 100 TB the reader parallelizes by input split; the repair
 * path (text → regexp_replace → from_csv) is a narrow, codegen'd
 * pipeline with no shuffle.
 */
final case class CsvSpec(
    path: String,
    delimiter: String = ",",
    quote: String = "^",              // reference default, csv_file.rb:14
    encoding: String = "ISO-8859-1",  // LATIN1, csv_file.rb:148
    removeExpression: Option[String] = None,
    dropMalformed: Boolean = true)

object CsvSource {

  /** Read the header line and return the all-string schema it implies
    * (csv_file.rb:154-171: headers are sniffed, lowercased, and become
    * TEXT columns). */
  def sniffSchema(spark: SparkSession, spec: CsvSpec): StructType =
    schemaOf(header(spark, spec), spec)

  /** The first line with `removeExpression` applied, or None for an
    * empty input — one small action. `String.replaceAll` has the same
    * java.util.regex semantics as the `regexp_replace` the data lines
    * go through, so the result equals the cleaned first line. */
  private def header(spark: SparkSession, spec: CsvSpec): Option[String] =
    lines(spark, spec).limit(1).collect().headOption.map { r =>
      val h = r.getString(0)
      spec.removeExpression.fold(h)(h.replaceAll(_, ""))
    }

  /** The schema a header implies; an empty input has no header row —
    * zero columns, not a crash. */
  private def schemaOf(header: Option[String], spec: CsvSpec): StructType =
    StructType(header.toSeq.flatMap(h =>
      splitQuoteAware(h, spec.delimiter, spec.quote).map { c =>
        StructField(normalizeHeader(c, spec.quote), StringType, nullable = true)
      }))

  /** The input's lines (column `value`) decoded from their bytes with
    * `spec.encoding`: the text source ignores an `encoding` option. An
    * encoding `decode` does not support fails the read. */
  private def lines(spark: SparkSession, spec: CsvSpec): DataFrame =
    spark.read.text(spec.path)
      .select(decode(col("value").cast("binary"), spec.encoding).as("value"))

  /** Decoded lines with `removeExpression` stripped — the reference's
    * sed pass (csv_file.rb:30-38). */
  private def cleanedLines(spark: SparkSession, spec: CsvSpec): DataFrame = {
    val raw = lines(spark, spec)
    spec.removeExpression.fold(raw)(re =>
      raw.withColumn("value", regexp_replace(col("value"), re, "")))
  }

  /** Data lines: every cleaned line except the header, dropped by value
    * equality (the header is constant; names come from the schema). */
  private def isData(header: Option[String]): Column =
    header.fold(lit(true))(h => col("value") =!= lit(h))

  private def isPlain(spec: CsvSpec): Boolean =
    spec.removeExpression.isEmpty && !spec.dropMalformed

  /** Lowercase, trim, and strip quotes from a sniffed header cell
    * (csv_file.rb:166-171 lowercases headers for column names). */
  private def normalizeHeader(h: String, quote: String): String = {
    val t = h.trim
    val unq =
      if (quote.nonEmpty && t.length >= 2 && t.startsWith(quote) && t.endsWith(quote))
        t.substring(1, t.length - 1)
      else t
    unq.trim.toLowerCase.replaceAll("[^a-z0-9_]", "_")
  }

  /** Quote-aware split (the malformed-row arity check must respect
    * quoted delimiters — spec/csv_driver_csv_file_spec.rb:93-107). */
  def splitQuoteAware(line: String, delimiter: String, quote: String): Seq[String] = {
    val delim = delimiter.charAt(0)
    val q = if (quote.nonEmpty) quote.charAt(0) else '\u0000'
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var inQuote = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (c == q && quote.nonEmpty) { inQuote = !inQuote; cur.append(c) }
      else if (c == delim && !inQuote) { out += cur.result(); cur.clear() }
      else cur.append(c)
      i += 1
    }
    out += cur.result()
    out.toSeq
  }

  /**
   * Full repair + parse pipeline. Returns an all-string DataFrame named
   * by the (normalized) header row, with malformed rows dropped when
   * requested, plus nothing else — conforming (casts/filters/group-by)
   * is WorkingTable's job, exactly like the reference's split between
   * CSVFile and WorkingTable.
   */
  def read(spark: SparkSession, spec: CsvSpec): DataFrame =
    readWith(spark, spec, header(spark, spec))

  private def readWith(spark: SparkSession, spec: CsvSpec,
                       header: Option[String]): DataFrame = {
    val schema = schemaOf(header, spec)
    // an empty input: zero columns, no rows (from_csv rejects an empty schema)
    if (header.isEmpty) spark.emptyDataFrame
    else if (isPlain(spec)) {
      // plain path: the native distributed CSV reader
      val r = spark.read
        .option("header", "true")
        .option("sep", spec.delimiter)
        .option("quote", if (spec.quote.isEmpty) " " else spec.quote)
        .option("encoding", spec.encoding)
        .option("mode", "PERMISSIVE")
        .schema(schema)
        .csv(spec.path)
      r.toDF(schema.fieldNames.toIndexedSeq: _*)
    } else {
      // repair path, distributed equivalent of the reference's
      // sed + row-by-row re-parse (csv_file.rb:30-63): raw text lines,
      // strip expression, quote-aware arity filter, from_csv.
      // (The native reader cannot express the reference's arity
      // contract: CSV column pruning skips unprojected columns, so
      // wrong-arity rows survive undetected.)
      val opts = Map(
        "sep" -> spec.delimiter,
        "quote" -> (if (spec.quote.isEmpty) " " else spec.quote),
        "mode" -> "PERMISSIVE")
      cleanedLines(spark, spec)
        .filter(isData(header) && arityOk(spec, schema))
        .select(from_csv(col("value"), schema, opts).as("r"))
        .select(col("r.*"))
    }
  }

  /** The repair path's arity contract on a raw line: always true when
    * malformed rows are kept. */
  private def arityOk(spec: CsvSpec, schema: StructType): Column =
    if (spec.dropMalformed) csvArity(col("value"), spec) === lit(schema.size)
    else lit(true)

  /** Number of quote-aware fields in a raw line, as a Column (UDF —
    * only used on the repair path, which is inherently line-oriented). */
  private def csvArity(line: Column, spec: CsvSpec) = {
    val d = spec.delimiter
    val q = spec.quote
    val f = udf((s: String) =>
      if (s == null) 0 else splitQuoteAware(s, d, q).size)
    f(line)
  }

  /**
   * Dead-letter ingestion: the raw lines [[read]] with `dropMalformed`
   * would DISCARD — wrong quote-aware field count after the optional
   * repair regex — returned as (line, n_fields, expected) so a
   * pipeline can quarantine them for inspection/replay instead of
   * silently shrinking the load (the operational companion to
   * [[malformedCount]]: same predicate, the rows themselves). Narrow
   * pass; no shuffle.
   */
  def quarantine(spark: SparkSession, spec: CsvSpec): DataFrame = {
    val head = header(spark, spec)
    val n = schemaOf(head, spec).size
    cleanedLines(spark, spec).filter(isData(head))
      .select(col("value").as("line"),
        csvArity(col("value"), spec).as("n_fields"))
      .filter(col("n_fields") =!= lit(n))
      .withColumn("expected", lit(n))
  }

  /**
   * Replay leg of the dead-letter round trip: parse a frame of raw
   * CSV line strings — the shape [[quarantine]] emits, after the
   * caller corrected them — through the SAME sniffed schema and
   * dialect as [[read]]. Lines whose quote-aware arity is STILL wrong
   * are dropped again (re-run [[quarantine]]-style inspection on the
   * difference if needed); a correction can't smuggle a
   * wrong-shape row past the contract the main read enforces.
   * Narrow, no shuffle — same plan shape as the repair path.
   */
  def replay(spark: SparkSession, spec: CsvSpec, corrected: DataFrame,
             lineCol: String = "line"): DataFrame = {
    val schema = sniffSchema(spark, spec)
    val opts = Map(
      "sep" -> spec.delimiter,
      "quote" -> (if (spec.quote.isEmpty) " " else spec.quote),
      "mode" -> "PERMISSIVE")
    corrected
      .select(col(lineCol).cast("string").as("value"))
      .filter(col("value").isNotNull &&
        csvArity(col("value"), spec) === lit(schema.size))
      .select(from_csv(col("value"), schema, opts).as("r"))
      .select(col("r.*"))
  }

  /** [[read]] plus corrected quarantine lines in one frame — the full
    * ingest-inspect-fix-replay loop as a single call. */
  def readWithReplay(spark: SparkSession, spec: CsvSpec,
                     corrected: DataFrame,
                     lineCol: String = "line"): DataFrame =
    read(spark, spec).unionByName(replay(spark, spec, corrected, lineCol))

  /** Count of malformed rows (for CSVAudit, A1/csv_audit.rb:119-133):
    * raw lines minus the header minus parsed rows. The repair path
    * observes all cleaned lines and the kept ones (data lines passing
    * the arity contract, exactly what [[read]] returns) on one scan, so
    * the call is two one-job actions: the header line and that scan.
    * An empty input counts 0. */
  def malformedCount(spark: SparkSession, spec: CsvSpec): Long = {
    val head = header(spark, spec)
    val (lines, parsed) =
      if (isPlain(spec))
        (Dispatch.countRows(cleanedLines(spark, spec)),
          Dispatch.countRows(readWith(spark, spec, head)))
      else {
        val keep = isData(head) && arityOk(spec, schemaOf(head, spec))
        val r = Dispatch.scanOnce(cleanedLines(spark, spec),
          count(lit(1)), count(when(keep, true)))
        (r.getLong(0), r.getLong(1))
      }
    math.max(0L, lines - 1 - parsed)
  }
}
