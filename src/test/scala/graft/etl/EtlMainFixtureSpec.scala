package graft.etl

import java.io.{ByteArrayOutputStream, File, PrintStream}
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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
    * the `[etl] key=N` pairs it printed. */
  private def runMain(compat: Boolean): (String, Map[String, Long]) = {
    spark // the shared session must be active before main() looks for one
    val out = Files.createTempDirectory("graft-etlmain-out").toString
    val buf = new ByteArrayOutputStream()
    Console.withOut(new PrintStream(buf, true, "UTF-8")) {
      EtlMain.main(((if (compat) Seq("--compat") else Nil) ++ (out +: inputs)).toArray)
    }
    val printed = buf.toString("UTF-8").linesIterator.filter(_.startsWith("[etl] "))
      .flatMap(_.stripPrefix("[etl] ").split(" "))
      .map { kv => val Array(k, v) = kv.split("="); k -> v.toLong }.toMap
    (out, printed)
  }

  private def checkRun(compat: Boolean): Unit = {
    val (out, printed) = runMain(compat)
    try {
      val tables = Expected.tables(compat)
      assert(printed === tables ++ Map(
        "merged" -> Expected.merged.size.toLong, "clean" -> Expected.clean.size.toLong))
      tables.foreach { case (name, n) =>
        assert(csv(s"$out/csv/$name").count() === n, s"csv/$name")
        assert(spark.read.text(s"$out/sql/$name")
          .filter(col("value").startsWith(s"INSERT INTO $name (")).count() === n, s"sql/$name")
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
    spark.catalog.clearCache()
    val out = Files.createTempDirectory("graft-etlmain-fail")
    // a regular file where the CSV sink directory must go
    Files.write(out.resolve("csv"), Array[Byte](1))
    try {
      intercept[Exception](EtlMain.main((out.toString +: inputs).toArray))
      assert(spark.sharedState.cacheManager.isEmpty, "failed run left relations cached")
    } finally Writers.deleteRecursively(out.toFile)
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
    val sc = spark.sparkContext
    // the bytes of one ingest: readMerged forced once on its own
    val before = localBytesRead()
    Ingest.readMerged(spark, inputs).write.format("noop").mode("overwrite").save()
    val oneIngest = localBytesRead() - before
    assert(oneIngest > 0L)

    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    val start = localBytesRead()
    val (out, _) = try {
      val run = runMain(compat = false)
      ListenerBusDrain.drain(sc)
      run
    } finally sc.removeSparkListener(listener)
    Writers.deleteRecursively(new File(out))
    // a recomputed ingest shows as extra bytes (a separate count action
    // over the uncached ingest read 71,664 here against 44,042)
    assert(localBytesRead() - start === oneIngest, "EtlMain scanned its input more than once")
    // measured on this fixture: 64 jobs. When every table was evaluated
    // once per sink plus once per count action, the same run took 163
    assert(jobs.get <= 64, s"EtlMain launched ${jobs.get} jobs")
  }
}
