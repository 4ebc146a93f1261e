package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Sinks (SURVEY §2.2).
  *
  * K4 CSV and K5 JSONL are native distributed writers. K6 reproduces
  * the reference's SQL INSERT generator (DB/iqueries generator.py:4-48)
  * semantics — NULL for missing, numbers verbatim via their string
  * form, `'` doubled inside quoted strings — as a codegen'd projection
  * writing one text file per table, not a pandas loop. K1, the scraper's
  * single-file JSON-array format, is a small driver-side writer kept
  * for byte-format parity only (it is inherently single-file).
  */
object Writers {

  /** K4: CSV with header, byte-compatible with the reference's pandas
    * `to_csv` (RFC 4180): fields with delimiter/quote/newline are
    * quoted and embedded quotes are DOUBLED (`escape` = the quote char
    * — Spark's default backslash escaping is not what pandas emits),
    * empty strings stay unquoted. CsvParitySpec pins this against
    * literal `DB/Tables/authors.csv` rows. `singleFile` coalesces for
    * reference parity; leave false at scale. */
  def writeCsv(df: DataFrame, path: String, singleFile: Boolean = false): Unit = {
    val d = if (singleFile) df.coalesce(1) else df
    d.write.mode("overwrite")
      .option("header", true)
      .option("escape", "\"")
      .option("emptyValue", "")
      .csv(path)
  }

  /** K5: JSONL. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** F11/K6: one INSERT statement per row, matching the generator's
    * literal encoding. */
  def sqlLiteral(c: Column, dt: DataType): Column = dt match {
    case _: NumericType =>
      when(c.isNull || isnan(c.cast("double")), lit("NULL"))
        .otherwise(c.cast("string"))
    case _ =>
      when(c.isNull, lit("NULL"))
        .otherwise(concat(lit("'"), regexp_replace(c.cast("string"), "'", "''"), lit("'")))
  }

  def insertStatements(df: DataFrame, table: String): DataFrame = {
    val cols = df.schema.fields
    val values = cols.toSeq.map(f => sqlLiteral(col(f.name), f.dataType))
    val colList = cols.map(_.name).mkString(", ")
    df.select(concat(
      lit(s"INSERT INTO $table ($colList) VALUES ("),
      concat_ws(", ", values: _*),
      lit(");")).as("stmt"))
  }

  /** K6: write the INSERT script as one text file per table, as the
    * reference's generator writes one `.sql` file per table under
    * `DB/queries`; a 6-row dim is one file, not one part per partition
    * of its ranked input. `coalesce(1)` is narrow: one task formats the
    * rows of every input partition in order, with no shuffle. */
  def writeInsertScript(df: DataFrame, table: String, path: String): Unit =
    insertStatements(df, table).coalesce(1).write.mode("overwrite").text(path)

  /** K1/K2: the scraper's single-file JSON array (pretty-printed
    * records, comma-separated, wrapped in [ ]). Reference-parity
    * format only — collects to the driver via toLocalIterator, so use
    * it for dim-sized outputs, not the fact table. */
  def writeJsonArrayFile(df: DataFrame, path: String): Unit = {
    val it = df.toJSON.toLocalIterator()
    val out = new StringBuilder("[\n")
    var first = true
    while (it.hasNext) {
      if (!first) out.append(",\n")
      out.append("    ").append(it.next())
      first = false
    }
    out.append("\n]")
    Files.write(Paths.get(path), out.toString.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  /** The 100 TB layout: fact partitioned by the analysis axes. */
  def writeFactPartitioned(articles: DataFrame, path: String): Unit =
    articles.write.mode("overwrite")
      .partitionBy("TopicID")
      .parquet(path)

  /** Best-effort recursive delete for the temp dirs queries/tests
    * stage scratch data in — keeps repeated Bench runs from
    * accumulating temp output. */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }
}
