package graft.etl

import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Per-JVM observability for the mock fetcher (local mode shares the
  * JVM, so executors and the spec see the same statics). Top-level —
  * referencing it from task closures must not capture the spec. */
object FetchCounters {
  val opens = new java.util.concurrent.atomic.AtomicInteger(0)
  val closes = new java.util.concurrent.atomic.AtomicInteger(0)
  val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def reset(): Unit = { opens.set(0); closes.set(0); calls.clear() }
}

/** Deterministic mock fetcher: the URL suffix selects the behavior.
  * Bodies are "upd"-variant articles (publisher struct with Quartile)
  * so they survive the P1 publisher filter downstream. */
class MockFetcher extends Fetch.Fetcher {
  private def articleJson(id: String): String =
    s"""{"title": "Art $id", "authors": ["A $id"], "authors_with_affiliations": [{"author": "A $id", "university": "Uni", "country": "France", "location": "Uni, France"}], "universities": ["Uni"], "countries": ["France"], "Date": "19 July 2024", "Month": "July", "Day": 19, "Year": 2024, "abstract": "Body $id.", "doi": "https://doi.org/10.1016/$id", "citations": 1, "type": "RESEARCH-ARTICLE", "keywords": ["ai"], "topic": "AI", "website": "Science Direct", "publisher": {"name": "Journal F", "ISSN": "99990000", "Quartile": "Q1"}}"""

  def open(): AutoCloseable = {
    FetchCounters.opens.incrementAndGet()
    new AutoCloseable with Serializable {
      def close(): Unit = { FetchCounters.closes.incrementAndGet(); () }
    }
  }

  def fetch(handle: AutoCloseable, url: String): Either[String, String] = {
    val n: Int = FetchCounters.calls.merge(url, 1, (a, b) => a + b)
    url match {
      case u if u.endsWith("/dead")  => Left("HTTP 404")
      case u if u.endsWith("/throw") => throw new RuntimeException("driver crashed")
      case u if u.endsWith("/flaky") =>
        if (n < 3) Left("HTTP 503") else Right(articleJson("flaky"))
      case u if u.endsWith("/junk")  => Right("""{"not": "an article"}""")
      case u => Right(articleJson(u.split('/').last))
    }
  }
}

/** Distributed-fetch seam (S4/S5 structural equivalent).
  *
  * Pins: (1) the fetcher opens once per partition and closes on task
  * completion; (2) per-URL failures become quarantine rows, never dead
  * tasks; (3) bounded retry recovers flaky URLs and records attempts;
  * (4) the visited-URL dedup collapses duplicate inputs; (5) mock-
  * fetched article bodies flow through parse → Ingest.normalize →
  * Clean end-to-end — the extract stage feeds the SAME pipeline the
  * landing-dir path does.
  */
class FetchSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("fetch: per-URL errors quarantine, retries recover flaky URLs, dedup applies") {
    import spark.implicits._
    FetchCounters.reset()
    val urls = Seq(
      "https://x/a1", "https://x/a2", "https://x/a1", // dup: fetched once
      "https://x/dead", "https://x/throw", "https://x/flaky").toDS()
    val fetched = Fetch.fetchAll(urls, new MockFetcher, parallelism = 2, maxAttempts = 3)
      .collect().map(f => f.url -> f).toMap

    assert(fetched.size === 5, "visited-URL dedup must collapse the duplicate")
    assert(fetched("https://x/a1").body.isDefined)
    assert(fetched("https://x/a1").attempts === 1)
    assert(FetchCounters.calls.get("https://x/a1") === 1, "duplicate URL must not re-fetch")
    // bounded retry: flaky succeeds on attempt 3
    assert(fetched("https://x/flaky").body.isDefined)
    assert(fetched("https://x/flaky").attempts === 3)
    // permanent failure: quarantined with last error, exactly maxAttempts tries
    assert(fetched("https://x/dead").error === Some("HTTP 404"))
    assert(fetched("https://x/dead").attempts === 3)
    // a THROWING fetcher becomes an error row, not a dead task
    assert(fetched("https://x/throw").error.exists(_.contains("driver crashed")))
    // per-partition lifecycle: opened once per non-empty partition,
    // every open matched by a close (task-completion listener)
    assert(FetchCounters.opens.get() === 2)
    assert(FetchCounters.closes.get() === 2)
  }

  test("fetch edge cases: empty URL set, maxAttempts=1 quarantines flaky without retry") {
    import spark.implicits._
    FetchCounters.reset()
    // empty input: no rows, and the per-partition open/close still pairs up
    val none = Fetch.fetchAll(spark.emptyDataset[String], new MockFetcher,
      parallelism = 2, maxAttempts = 3).collect()
    assert(none.isEmpty)
    assert(FetchCounters.opens.get() === FetchCounters.closes.get())
    // maxAttempts=1: the flaky URL gets exactly one try and quarantines
    val one = Fetch.fetchAll(Seq("https://x/flaky").toDS(), new MockFetcher,
      parallelism = 1, maxAttempts = 1).collect().head
    assert(one.body.isEmpty && one.error === Some("HTTP 503") && one.attempts === 1)
  }

  test("extract end-to-end: mock-fetched articles flow through Ingest → Clean") {
    import spark.implicits._
    FetchCounters.reset()
    val dir = tempDir("fetch").toString
    val urls = Seq("https://x/e1", "https://x/e2", "https://x/junk", "https://x/dead").toDS()
    Fetch.extract(urls, new MockFetcher, dir, parallelism = 2)

    // landing dir is readable by the standard ingest path
    val landed = Ingest.readArticlesJsonl(spark, s"$dir/articles")
    assert(landed.count() === 2)
    val cleaned = Clean(Ingest.normalize(landed))
    assert(cleaned.count() === 2)
    assert(cleaned.select("title").as[String].collect().toSet === Set("Art e1", "Art e2"))
    // quarantine carries BOTH failure modes with their evidence
    val quarantined = spark.read.json(s"$dir/quarantine")
    val errs = quarantined.select("url", "error").as[(String, String)].collect().toMap
    assert(errs("https://x/dead") === "HTTP 404")
    assert(errs("https://x/junk") === "unparseable body")
  }
}
