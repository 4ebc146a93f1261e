package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest stage (SURVEY §2.1 S1/S7, §2.8 U2).
  *
  * The reference stages scraper JSON through MongoDB and re-exports it
  * (DB/MongoDB.py:36-41, DB/ETL.ipynb c4); here the landing directory
  * of JSON-array files IS the source of record and the multi-source
  * merge reads ONE multi-path relation — no staging database, no
  * driver round-trip. However many landing files there are, the plan
  * has one file-scan relation (one file index, one codegen subtree),
  * and Spark packs the small files into splits instead of running a
  * task per file. [[normalize]] dedups through one window over that
  * one relation, so one ingest parses every landing file once.
  *
  * Every read uses the explicit permissive schema (Schemas.articleSchema)
  * — inference is never on the data path, which at 100 TB also saves a
  * full pre-pass over the input.
  */
object Ingest {

  /** S1: JSON-array files (the scraper's append format,
    * ScienceDirect/ScienceDirect.py:457-488) or directories of them,
    * read as one relation. Every variant is read under the same
    * explicit schema, so the multi-path read returns exactly the rows
    * a per-file union would: a path listed twice is read twice, and a
    * missing path fails analysis naming it. */
  def readArticles(spark: SparkSession, paths: String*): DataFrame =
    spark.read
      .schema(Schemas.articleSchema)
      .option("multiLine", true)       // whole-file JSON arrays, not JSONL
      .json(paths: _*)

  /** JSONL variant for engine-native round-trips. */
  def readArticlesJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Schemas.articleSchema).json(path)

  /** JSONL read with corrupt-record QUARANTINE: malformed lines land
    * in `_corrupt_record` instead of becoming all-null rows or killing
    * the job. The reference scraper's recovery is whole-file re-scrape
    * (ScienceDirect.py:457-488); at 100 TB the unit of damage must be
    * the ROW — one bad line in a terabyte landing dir quarantines one
    * row. Split with [[quarantine]]. */
  def readArticlesJsonlSafe(spark: SparkSession, path: String): DataFrame =
    spark.read
      .schema(Schemas.articleSchema.add("_corrupt_record",
        org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(path)

  /** (good rows without the quarantine column, quarantined raw lines).
    * Caches the parsed batch first: Spark disallows plans that read
    * ONLY `_corrupt_record` straight off the file scan
    * (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN), and one
    * materialization serves both branches anyway. */
  def quarantine(df: DataFrame): (DataFrame, DataFrame) = {
    val parsed = df.cache()
    (parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record"),
      parsed.filter(col("_corrupt_record").isNotNull)
        .select(col("_corrupt_record").as("raw")))
  }

  /** U2 + variant normalization: merge any mix of the four raw-file
    * shapes into the canonical merged-article schema (SURVEY §1.2):
    *  - raw variants carry journal_name (+ IEEE: top-level ISSN); fold
    *    them into a publisher struct with empty Quartile so the
    *    cleaning-stage publisher filter (P1) treats them exactly like
    *    the reference's un-enriched rows;
    *  - upd variants already carry publisher; passthrough.
    * Dedup on doi at ingest (P10 — the scraper's visited-URL set),
    * keeping the enriched row over the raw one when both exist.
    *
    * NULL-doi rows are EXEMPT from the dedup: a missing doi is an
    * unscraped identifier, not a shared key, so distinct doi-less
    * articles must all survive (partitionBy would otherwise collapse
    * every one of them into a single arbitrary row — silent data
    * loss). Empty-STRING dois still dedup: "" is a value the scraper
    * wrote, and the committed corpus's 4 such rows are true junk
    * duplicates. The survivor choice is a TOTAL order — preference,
    * website, then a content hash — so which duplicate survives is
    * identical on every run and every partitioning (the same
    * determinism argument as the A3 surrogate keys).
    *
    * One window over one scan: the window also partitions by the
    * content hash when the doi is NULL, so doi-less rows spread over
    * the window's tasks by hash instead of hashing, every one, to the
    * single task of the NULL key (a 10% doi-less corpus would put 10%
    * of 100 TB on one executor). They are all kept whatever their
    * rank; byte-identical doi-less rows share a hash and a task and
    * are kept too. Non-NULL dois group exactly by doi.
    */
  def normalize(merged: DataFrame): DataFrame = {
    val withPublisher = merged.withColumn("publisher",
      when(col("publisher").isNotNull, col("publisher"))
        .otherwise(struct(
          col("ISSN").as("ISSN"),
          lit("").as("Quartile"),
          col("journal_name").as("name"))))
      .drop("journal_name", "ISSN", "_id")
      // the hash covers exactly the normalized columns (`*` expands
      // before `__h` exists)
      .withColumn("__h", md5(to_json(struct(col("*")))))
    // prefer rows with a quartile (enriched) per doi, then stable doc
    // order; the content hash makes the ordering total (ties =
    // byte-identical rows, which are interchangeable)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doi"), when(col("doi").isNull, col("__h")))
      .orderBy(
        when(col("publisher.Quartile") =!= "", 0).otherwise(1),
        col("website"),
        col("__h"))
    withPublisher
      .withColumn("__rn", row_number().over(w))
      .filter(col("doi").isNull || col("__rn") === 1)
      .drop("__h", "__rn")
  }

  /** All landing inputs through one relation, then [[normalize]]. An empty
    * list is an error: a zero-path read would silently yield no rows. */
  def readMerged(spark: SparkSession, paths: Seq[String]): DataFrame = {
    require(paths.nonEmpty, "Ingest.readMerged: no input files")
    normalize(readArticles(spark, paths: _*))
  }
}
