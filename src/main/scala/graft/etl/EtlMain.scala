package graft.etl

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count => countRows, lit}
import org.apache.spark.storage.StorageLevel

/** CLI entry point: the reference's whole pipeline (ingest → clean →
  * star schema → sinks) over a set of scraper JSON-array files.
  *
  *   runMain graft.etl.EtlMain [--compat] <out-dir> <input.json>...
  *
  * Prints per-table row counts; writes CSV + JSONL + INSERT scripts
  * under <out-dir> — the same artifact set as DB/Tables + DB/queries.
  * `--compat` swaps in the reference-parity dimension builders
  * (per-instance keyword rows, sparse monotonic author ids).
  */
object EtlMain {
  private def rows: Column = countRows(lit(1)).as("rows")
  private def count(obs: Observation): Long = obs.get("rows").asInstanceOf[Long]

  def main(args: Array[String]): Unit = {
    val compat = args.contains("--compat")
    val rest = args.filterNot(_ == "--compat")
    require(rest.length >= 2, "usage: EtlMain [--compat] <out-dir> <input.json>...")
    val outDir = rest.head
    val inputs = rest.tail.toSeq
    // reuse an already-active session (EtlMainSpec drives this exact
    // entry point in-JVM) and only own the lifecycle of a session we
    // created ourselves — stopping a caller's session would kill every
    // Spark user sharing the JVM
    val existing = SparkSession.getActiveSession
    val spark = existing.getOrElse(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate())
    // the pipeline's date semantics REQUIRE UTC; on a reused session
    // force it session-scoped for the duration of the run and RESTORE
    // the caller's zone afterwards (leave their log level alone too)
    val callerTz = spark.conf.getOption("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (existing.isEmpty) spark.sparkContext.setLogLevel("WARN")
    // the run's cached relations, released in `finally` on success AND
    // failure: a failed run inside a reused session must not leave
    // blocks cached for the caller
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      persisted += df
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {

    // Materialization contract: the ingest scan runs once, inside the
    // job that fills the `clean` cache; each of the 8 tables is
    // persisted once and both its sinks (CSV, INSERT) read that copy;
    // every printed count rides an Observation on a job the sinks run
    // anyway, so no action exists only to count.
    val mergedObs = Observation()
    val cleanObs = Observation()
    val merged = Ingest.readMerged(spark, inputs).observe(mergedObs, rows)
    val clean = keep(Clean(merged).observe(cleanObs, rows))
    val star = StarSchema.build(clean)
    // compat mode must stay referentially consistent: the bridges are
    // rebuilt against the compat dims' ids (the reference's c43/c45
    // name-only fanout joins), not the default dims' dense ids
    // localCheckpoint pins the compat dims' monotonically_increasing
    // ids: without it the dim-table write and the bridge join would
    // re-evaluate the plan and could assign DIFFERENT ids
    val keywordsDim =
      if (compat) StarSchema.keywordsCompat(clean).localCheckpoint()
      else star.keywords
    val authorsDim =
      if (compat) StarSchema.authorsCompat(clean).localCheckpoint()
      else star.authors
    val authorBridge =
      if (compat) StarSchema.authorBridgeCompat(clean, authorsDim)
      else star.authorArticle
    val keywordBridge =
      if (compat) StarSchema.keywordBridgeCompat(clean, keywordsDim)
      else star.keywordArticle

    val tables = Seq(
      "articles" -> star.articles,
      "publishers" -> star.publishers,
      "keywords" -> keywordsDim,
      "topics" -> star.topics,
      "dates" -> star.dates,
      "authors" -> authorsDim,
      "author_article_mapping" -> authorBridge,
      "keywords_articles_mapping" -> keywordBridge)
    // dims first: a plan persisted after its inputs reads their cached
    // copies, so the fact and bridge joins do not rebuild the dims
    tables.sortBy { case (name, _) => name == "articles" || name.endsWith("_mapping") }
      .foreach { case (_, df) => keep(df) }

    val counts = tables.map { case (name, df) =>
      val obs = Observation()
      Writers.writeCsv(df.observe(obs, rows), s"$outDir/csv/$name", singleFile = true)
      Writers.writeInsertScript(df, name, s"$outDir/sql/$name")
      name -> obs
    }
    // the first job over `clean` filled its cache and fired both
    println(s"[etl] merged=${count(mergedObs)} clean=${count(cleanObs)}")
    counts.foreach { case (name, obs) => println(s"[etl] $name=${count(obs)}") }
    Writers.writeJsonl(clean, s"$outDir/clean_jsonl")
    } finally {
      persisted.foreach(_.unpersist())
      existing.foreach { _ =>
        callerTz match {
          case Some(tz) => spark.conf.set("spark.sql.session.timeZone", tz)
          case None => spark.conf.unset("spark.sql.session.timeZone")
        }
      }
      // stop a self-created session even when the pipeline throws:
      // EtlMainSpec drives this entry point in-JVM, where a leaked
      // session would outlive the failed run
      if (existing.isEmpty) spark.stop()
    }
  }
}
