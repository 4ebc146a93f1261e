package graft.etl

import java.util.concurrent.{Callable, ExecutionException, Executors, Future}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count => countRows, lit}
import org.apache.spark.storage.StorageLevel

import graft.GraftSession

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

  /** One star table: its name, the tables it joins (whose tasks it
    * waits for) and its plan, given their persisted copies. */
  private final case class Table(name: String, deps: Seq[String], plan: Seq[DataFrame] => DataFrame)

  /** The 8 star tables in sink order. Compat mode must stay
    * referentially consistent: its bridges join the compat dims' ids
    * (the reference's c43/c45 name-only fanout joins), not the default
    * dims' dense ids. localCheckpoint pins the compat dims'
    * monotonically_increasing ids: without it the dim-table write and
    * the bridge join would re-evaluate the plan and could assign
    * DIFFERENT ids. */
  private def tables(clean: DataFrame, compat: Boolean): Seq[Table] = {
    import StarSchema._
    Seq(
      Table("articles", Seq("topics", "dates"), ds => articles(clean, ds(0), ds(1))),
      Table("publishers", Nil, _ => publishers(clean)),
      Table("keywords", Nil,
        _ => if (compat) keywordsCompat(clean).localCheckpoint() else keywords(clean)),
      Table("topics", Nil, _ => topics(clean)),
      Table("dates", Nil, _ => dates(clean)),
      Table("authors", Nil,
        _ => if (compat) authorsCompat(clean).localCheckpoint() else authors(clean)),
      Table("author_article_mapping", Seq("authors"),
        ds => if (compat) authorBridgeCompat(clean, ds.head) else authorBridge(clean, ds.head)),
      Table("keywords_articles_mapping", Seq("keywords"),
        ds => if (compat) keywordBridgeCompat(clean, ds.head) else keywordBridge(clean, ds.head)))
  }

  /** Name prefix of the fan-out pool's threads. */
  private[etl] val PoolThread = "graft-etl-table-"

  private def outcome[T](f: Future[T]): Either[Throwable, T] =
    try Right(f.get()) catch { case e: ExecutionException => Left(e.getCause) }

  /** Runs `write` over every table's plan, each table in its own task
    * on a pool of one thread per table; returns each table's
    * Observation in `tables` order. `write` returns the persisted copy
    * that dependents join. Every task is submitted from the calling
    * thread, so each pool thread is created there and inherits its
    * Spark local properties, never a running job's. A dependent task
    * blocks on its dims' tasks, which cannot starve a pool with a
    * thread per task. When a task fails, every other task still runs
    * to its end before the first failure (in `tables` order) is
    * rethrown with the others suppressed on it: the caller releases the
    * caches those tasks read only after this returns. */
  private def fanOut(tables: Seq[Table])(
      write: (String, DataFrame) => (DataFrame, Observation)): Seq[(String, Observation)] = {
    val threads = new AtomicInteger
    val pool = Executors.newFixedThreadPool(tables.size,
      (r: Runnable) => new Thread(r, s"$PoolThread${threads.incrementAndGet()}"))
    try {
      // dims first, so each dependent is handed its dims' futures
      val tasks = tables.sortBy(_.deps.nonEmpty)
        .foldLeft(Map.empty[String, Future[(DataFrame, Observation)]]) { (submitted, t) =>
          val deps = t.deps.map(submitted)
          val task: Callable[(DataFrame, Observation)] = () =>
            write(t.name, t.plan(deps.map(outcome(_).fold(e => throw e, _._1))))
          submitted + (t.name -> pool.submit(task))
        }
      val outcomes = tables.map(t => t.name -> outcome(tasks(t.name)))
      // a dependent rethrows its dim's failure: report each cause once
      val failures = outcomes.flatMap(_._2.left.toOption)
        .foldLeft(Vector.empty[Throwable])((seen, e) => if (seen.exists(_ eq e)) seen else seen :+ e)
      failures.headOption.foreach { first =>
        failures.tail.foreach(first.addSuppressed)
        throw first
      }
      outcomes.collect { case (name, Right((_, obs))) => name -> obs }
    } finally pool.shutdown()
  }

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
    val spark = existing.getOrElse(GraftSession(
      sys.env.getOrElse("SPARK_MASTER", "local[4]"), GraftSession.cpus))
    // the pipeline's date semantics REQUIRE UTC; on a reused session
    // force it session-scoped for the duration of the run and RESTORE
    // the caller's zone afterwards (leave their log level alone too)
    val callerTz = spark.conf.getOption("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // the run's cached relations, released in `finally` on success AND
    // failure: a failed run inside a reused session must not leave
    // blocks cached for the caller. The table tasks add to it
    // concurrently
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = {
      persisted.synchronized(persisted += df)
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
    try {

    // Materialization contract: the ingest runs once (one pass over the
    // files, see Ingest), inside the JSONL sink's job, which is
    // the first job over `clean`: it fills the `clean` cache and fires
    // both ingest counts. Then the 8 star
    // tables fan out, one task each on a driver pool: a task builds its
    // table (its id jobs included), persists it once, and runs its CSV
    // and INSERT sinks over that copy. The fact and bridge tasks wait
    // for the tasks of the dims they join, so their joins read the
    // cached dims. Every printed count rides an Observation on a job
    // the sinks run anyway, so no action exists only to count.
    val mergedObs = Observation()
    val cleanObs = Observation()
    val merged = Ingest.readMerged(spark, inputs).observe(mergedObs, rows)
    val clean = keep(Clean(merged).observe(cleanObs, rows))
    Writers.writeJsonl(clean, s"$outDir/clean_jsonl")
    val counts = fanOut(tables(clean, compat)) { (name, df) =>
      val table = keep(df)
      val obs = Observation()
      Writers.writeCsv(table.observe(obs, rows), s"$outDir/csv/$name", singleFile = true)
      Writers.writeInsertScript(table, name, s"$outDir/sql/$name")
      (table, obs)
    }
    println(s"[etl] merged=${count(mergedObs)} clean=${count(cleanObs)}")
    counts.foreach { case (name, obs) => println(s"[etl] $name=${count(obs)}") }
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
