package graft.etl

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Hermetic end-to-end of the shipped entry point: `EtlMain.main` in
  * both modes over the [[EtlFixtures]] files, with no reference corpus
  * needed. Every expected count is derived here from the fixture JSON
  * by plain Scala over the documented row rules, never from the
  * engine; the sinks and the printed `[etl]` lines must both equal
  * it. */
class EtlMainFixtureSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = TestSpark.spark

  private lazy val fixtureDir = Files.createTempDirectory("graft-etlmain-fixtures")
  private lazy val inputs = EtlFixtures.writeAll(fixtureDir)

  override def afterAll(): Unit = Writers.deleteRecursively(fixtureDir.toFile)

  /** The expected row counts of every sink, from the fixture rows. */
  private object Expected {
    private val records: Seq[JsonNode] = EtlFixtures.files.flatMap { case (_, json) =>
      new ObjectMapper().readTree(json).elements().asScala.toSeq
    }
    private def text(r: JsonNode, field: String): Option[String] =
      Option(r.get(field)).filterNot(_.isNull).map(_.asText)
    private def items(r: JsonNode, field: String): Seq[JsonNode] =
      Option(r.get(field)).toSeq.flatMap(_.elements().asScala)
    private def publisher(r: JsonNode, field: String): Option[String] =
      Option(r.get("publisher")).flatMap(text(_, field))

    // doi dedup: one row per doi, the publisher-enriched one when a raw
    // and an enriched variant both carry it (every fixture row has a doi)
    val merged: Seq[JsonNode] = records.groupBy(text(_, "doi")).values.toSeq
      .map(rows => rows.find(publisher(_, "Quartile").exists(_.nonEmpty)).getOrElse(rows.head))

    // P1 complete publisher, P2 no "<Field> not found" sentinel, P3
    // citations present, P4 non-empty author arrays
    val clean: Seq[JsonNode] = merged.filter { r =>
      publisher(r, "ISSN").exists(i => i.nonEmpty && i != "N/A") &&
      publisher(r, "name").exists(_.nonEmpty) && publisher(r, "Quartile").exists(_.nonEmpty) &&
      Seq("Date", "Year", "Day", "Month").forall(f => !text(r, f).exists(_.startsWith(s"$f not"))) &&
      text(r, "citations").isDefined &&
      items(r, "authors").nonEmpty && items(r, "authors_with_affiliations").nonEmpty
    }

    // (doi, keyword) and (doi, (author, country, university)) instances;
    // an affiliation whose country is an email address is dropped. No
    // two fixture values differ only by country alias or by characters
    // the whitelist strips, so raw strings key the dims.
    private val keywords = clean.flatMap(r => items(r, "keywords").map(k => text(r, "doi") -> k.asText))
    private val authors = clean.flatMap { r =>
      items(r, "authors_with_affiliations").filterNot(a => text(a, "country").exists(_.contains("@")))
        .map(a => text(r, "doi") -> (text(a, "author"), text(a, "country"), text(a, "university")))
    }

    def tables(compat: Boolean): Map[String, Long] = {
      val nonEmptyKeywords = keywords.filter(_._2.nonEmpty)
      Map(
        "articles" -> clean.size,
        "publishers" -> clean.map(publisher(_, "ISSN")).distinct.size,
        "topics" -> clean.map(text(_, "topic")).distinct.size,
        "dates" -> clean.map(text(_, "Date")).distinct.size,
        // compat: one dim row per instance; bridges join every instance
        // of the same keyword / author name (the reference's fanout)
        "keywords" -> (if (compat) keywords.size else nonEmptyKeywords.map(_._2).distinct.size),
        "authors" -> (if (compat) authors.size else authors.map(_._2).distinct.size),
        "author_article_mapping" ->
          (if (compat) authors.map { case (_, a) => authors.count(_._2._1 == a._1) }.sum
           else authors.distinct.size),
        "keywords_articles_mapping" ->
          (if (compat) keywords.map { case (_, k) => keywords.count(_._2 == k) }.sum
           else nonEmptyKeywords.distinct.size)
      ).map { case (k, v) => k -> v.toLong }
    }
  }

  private def csv(dir: String) =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(dir)

  /** Runs the entry point into a fresh temp dir; returns the dir and
    * the `[etl] ` lines it printed, in order. */
  private def runMain(compat: Boolean): (String, Seq[String]) = {
    spark // the shared session must be active before main() looks for one
    val out = Files.createTempDirectory("graft-etlmain-out").toString
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      EtlMain.main(((if (compat) Seq("--compat") else Nil) ++ (out +: inputs)).toArray)
    }
    (out, buf.toString("UTF-8").linesIterator.filter(_.startsWith("[etl] ")).toSeq)
  }

  /** The `key=N` pairs of the printed `[etl] ` lines. */
  private def printedCounts(lines: Seq[String]): Map[String, Long] =
    lines.flatMap(_.stripPrefix("[etl] ").split(" "))
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap

  /** Each sink directory under `out` (relative path) → the lines of its
    * part files, sorted. */
  private def sinkLines(out: String): Map[String, Seq[String]] = {
    val root = Paths.get(out)
    val parts = Using.resource(Files.walk(root))(_.iterator.asScala.toList)
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
    parts.groupBy(p => root.relativize(p.getParent).toString).map { case (dir, ps) =>
      dir -> ps.flatMap(p => Files.readAllLines(p).asScala).sorted
    }
  }

  /** What a listener saw while `body` ran: the jobs it started, the
    * most jobs running at once, and the most SQL executions (queries)
    * with a job running at once. One query's own jobs overlap (AQE
    * runs independent stages and broadcasts together), so only the
    * last tells queries run one at a time from queries run together. */
  private case class Jobs(started: Int, peakJobs: Int, peakQueries: Int)

  private def withJobs[T](body: => T): (T, Jobs) = {
    val sc = spark.sparkContext
    var started, peakJobs, peakQueries = 0
    // job id -> its SQL execution id (a job outside one is its own)
    val running = scala.collection.mutable.Map.empty[Int, String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = running.synchronized {
        started += 1
        running(e.jobId) = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .getOrElse(s"job ${e.jobId}")
        peakJobs = peakJobs max running.size
        peakQueries = peakQueries max running.values.toSet.size
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.synchronized(running -= e.jobId)
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val result = try {
      val r = body
      ListenerBusDrain.drain(sc)
      r
    } finally sc.removeSparkListener(listener)
    (result, running.synchronized(Jobs(started, peakJobs, peakQueries)))
  }

  private def checkRun(compat: Boolean): Unit = {
    val (out, lines) = runMain(compat)
    val printed = printedCounts(lines)
    try {
      val tables = Expected.tables(compat)
      assert(printed === tables ++ Map(
        "merged" -> Expected.merged.size.toLong, "clean" -> Expected.clean.size.toLong))
      tables.foreach { case (name, n) =>
        assert(csv(s"$out/csv/$name").count() === n, s"csv/$name")
        assert(spark.read.text(s"$out/sql/$name")
          .filter(col("value").startsWith(s"INSERT INTO $name (")).count() === n, s"sql/$name")
        assert(new File(s"$out/sql/$name").list().count(_.startsWith("part-")) === 1,
          s"sql/$name is one file")
      }
      assert(spark.read.text(s"$out/clean_jsonl").count() === Expected.clean.size.toLong)
      // every bridge id resolves against the dim CSV written in this run
      // (compat ids are run-dependent: the files must agree)
      Seq("author_article_mapping" -> ("authors", "AuthorID"),
          "keywords_articles_mapping" -> ("keywords", "KeywordID")).foreach {
        case (bridge, (dim, id)) =>
          assert(csv(s"$out/csv/$bridge").select(id)
            .join(csv(s"$out/csv/$dim").select(id), Seq(id), "left_anti").count() === 0L,
            s"$bridge.$id unresolved in $dim")
      }
      assert(spark.sharedState.cacheManager.isEmpty, "EtlMain left relations cached")
    } finally Writers.deleteRecursively(new File(out))
  }

  test("default mode: sinks and printed counts equal the fixture's expected rows") {
    spark.catalog.clearCache()
    checkRun(compat = false)
  }

  test("--compat mode: sinks, printed counts and bridge ids through the same binary") {
    spark.catalog.clearCache()
    checkRun(compat = true)
  }

  test("a run whose sink write throws still releases every relation it cached") {
    // `blocker` puts something where a sink directory must go: a regular
    // file at `csv` fails every table's CSV write; a dangling symlink at
    // `csv/articles` fails only the fact table's, whose task waits for
    // its dims while the other tables' tasks are still in flight (a
    // regular file there would be deleted by the overwrite-mode write)
    def failingRun(blocker: Path => Unit): Unit = {
      spark.catalog.clearCache()
      val out = Files.createTempDirectory("graft-etlmain-fail")
      blocker(out)
      try {
        intercept[Exception](EtlMain.main((out.toString +: inputs).toArray))
        assert(spark.sharedState.cacheManager.isEmpty, "failed run left relations cached")
        ListenerBusDrain.drain(spark.sparkContext)
        assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty,
          "failed run left jobs running")
        val poolThreads = Thread.getAllStackTraces.keySet.asScala
          .filter(_.getName.startsWith(EtlMain.PoolThread))
        poolThreads.foreach(_.join(10000))
        assert(!poolThreads.exists(_.isAlive), "failed run left pool threads alive")
      } finally Writers.deleteRecursively(out.toFile)
    }
    failingRun(out => Files.write(out.resolve("csv"), Array[Byte](1)))
    failingRun { out =>
      Files.createDirectories(out.resolve("csv"))
      Files.createSymbolicLink(out.resolve("csv/articles"), out.resolve("missing"))
    }
  }

  /** Bytes read through Hadoop's local file system, JVM-wide: the
    * input scans' reads (cached blocks, shuffle files and the sinks'
    * writes do not go through it). A stage's `inputMetrics.bytesRead`
    * cannot tell the scan apart, because Spark also counts reads of
    * cached blocks there. */
  private def localBytesRead(): Long =
    Option(FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  test("default mode scans the input once and launches a bounded number of jobs") {
    spark.catalog.clearCache()
    // the bytes of one ingest: readMerged forced once on its own
    val before = localBytesRead()
    Ingest.readMerged(spark, inputs).write.format("noop").mode("overwrite").save()
    val oneIngest = localBytesRead() - before
    assert(oneIngest > 0L)

    val start = localBytesRead()
    val ((out, _), Jobs(jobs, _, _)) = withJobs(runMain(compat = false))
    Writers.deleteRecursively(new File(out))
    // a recomputed ingest shows as extra bytes (a separate count action
    // over the uncached ingest read 71,664 here against 44,042)
    assert(localBytesRead() - start === oneIngest, "EtlMain scanned its input more than once")
    // measured on this fixture: 48 jobs. With a two-branch ingest, a
    // withColumn per cleaning rule and the ranked dims' offsets joined
    // back, the run took 64; when every table was evaluated once per
    // sink plus once per count action, 163
    assert(jobs <= 48, s"EtlMain launched $jobs jobs")
  }

  test("default mode runs the star tables' jobs concurrently") {
    spark.catalog.clearCache()
    val ((out, _), seen) = withJobs(runMain(compat = false))
    Writers.deleteRecursively(new File(out))
    // measured on this fixture: 5 queries (5 jobs) at once. Built and
    // written in turn, the tables ran 1 query at a time (2 jobs at most)
    assert(seen.peakQueries >= 2,
      s"at most ${seen.peakQueries} queries (${seen.peakJobs} jobs) ran at once")
  }

  test("--compat mode builds only the dims it writes") {
    spark.catalog.clearCache()
    val ((out, _), Jobs(jobs, _, _)) = withJobs(runMain(compat = true))
    Writers.deleteRecursively(new File(out))
    // measured on this fixture: 39 jobs (47 with the ranked dims'
    // offsets joined back). Building the default keywords and authors
    // dims too, only to swap them out, took 53
    assert(jobs <= 39, s"EtlMain --compat launched $jobs jobs")
  }

  test("two default runs write the same sink lines and print the same counts") {
    spark.catalog.clearCache()
    val (out1, lines1) = runMain(compat = false)
    val (out2, lines2) = runMain(compat = false)
    try {
      assert(lines1.map(_.takeWhile(_ != '=')) === Seq("[etl] merged") ++
        Seq("articles", "publishers", "keywords", "topics", "dates", "authors",
          "author_article_mapping", "keywords_articles_mapping").map(t => s"[etl] $t"))
      assert(lines2 === lines1)
      val sinks = sinkLines(out1)
      assert(sinks.keySet.size === 17, sinks.keySet)
      assert(sinkLines(out2) === sinks)
    } finally Seq(out1, out2).foreach(d => Writers.deleteRecursively(new File(d)))
  }
}
