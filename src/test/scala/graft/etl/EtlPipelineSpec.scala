package graft.etl

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** End-to-end pipeline over the FIXTURES.md-shaped files of
  * [[EtlFixtures]]: the four raw-file variants with sentinels, mixed
  * Day/Year types, mojibake, emails in countries, empty arrays and
  * null citations — the reference's mess.
  */
class EtlPipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  lazy val dir: Path = tempDir("fixtures")

  lazy val merged = Ingest.readMerged(spark, EtlFixtures.writeAll(dir))
  lazy val clean = Clean(merged)
  lazy val star = StarSchema.build(clean)

  test("ingest merges the four variants and dedups doi preferring enriched rows") {
    assert(merged.count() === 8) // 10 raw rows, a1 + b1 deduped
    val a1 = merged.filter(merged("doi") === "https://doi.org/10.1016/a1")
      .select("publisher.Quartile").collect()
    assert(a1.map(_.getString(0)).toSeq === Seq("Q1")) // upd row won
    assert(!merged.columns.contains("journal_name"))
  }

  /** The per-file formulation readMerged replaced, kept as the reference. */
  private def perFileUnion(paths: Seq[String]) =
    Ingest.normalize(paths.map(Ingest.readArticles(spark, _)).reduce(_.unionByName(_)))

  private def rowMultiset(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def scanLeaves(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
    }.size

  test("readMerged plans one scan, whatever the file count") {
    val files = EtlFixtures.writeAll(dir)
    // normalize's one window reads the one multi-path relation; a
    // per-file union would carry one scan per file
    assert(scanLeaves(Ingest.readMerged(spark, files)) === 1)
    assert(scanLeaves(Ingest.readMerged(spark, files ++ files)) === 1)
  }

  test("readMerged returns the per-file union's rows") {
    val files = EtlFixtures.writeAll(dir)
    assert(rowMultiset(Ingest.readMerged(spark, files)) === rowMultiset(perFileUnion(files)))
    // a path listed twice is read twice, exactly like the union
    val dup = files :+ files.head
    assert(Ingest.readArticles(spark, dup: _*).count() ===
      dup.map(Ingest.readArticles(spark, _).count()).sum)
    assert(rowMultiset(Ingest.readMerged(spark, dup)) === rowMultiset(perFileUnion(dup)))
    // a directory argument, alone and mixed with a file
    val sub = Files.createTempDirectory(dir, "landing")
    EtlFixtures.writeAll(sub)
    for (paths <- Seq(Seq(sub.toString), Seq(sub.toString, files.head)))
      assert(rowMultiset(Ingest.readMerged(spark, paths)) === rowMultiset(perFileUnion(paths)))
  }

  test("readMerged fails loudly on a missing path or an empty input list") {
    val missing = dir.resolve("no_such_landing_file.json").toString
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Ingest.readMerged(spark, EtlFixtures.writeAll(dir) :+ missing)
    }
    assert(e.getMessage.contains(missing), e.getMessage)
    val empty = intercept[IllegalArgumentException](Ingest.readMerged(spark, Nil))
    assert(empty.getMessage.contains("Ingest.readMerged: no input files"))
  }

  test("cleaning keeps exactly the well-formed rows") {
    val dois = clean.select("doi").collect().map(_.getString(0)).sorted
    // a2 sentinel+unenriched, a4 N/A ISSN, b2 null citations, b3 empty authors drop;
    // doi URLs lose ':/' etc to the F8 whitelist — compare on suffix
    assert(dois.length === 4)
    assert(dois.exists(_.endsWith("a1")) && dois.exists(_.endsWith("a3")) &&
      dois.exists(_.endsWith("b1")) && dois.exists(_.endsWith("b4")))
  }

  test("country canonicalization + email filters applied") {
    val b4 = clean.filter(clean("doi").endsWith("b4")).collect().head
    val countries = b4.getAs[scala.collection.Seq[String]]("countries").toSeq
    assert(countries === Seq("South Korea")) // alias mapped, email removed
    val affs = b4.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("authors_with_affiliations")
    assert(affs.length === 1) // email-country affiliation removed
    assert(affs.head.getAs[String]("country") === "South Korea")
  }

  test("unicode repair + whitelist clean on text columns") {
    val b4 = clean.filter(clean("doi").endsWith("b4")).collect().head
    assert(b4.getAs[String]("abstract") === "Café résumé text")
    // double quotes stripped by F8, apostrophe kept
    assert(b4.getAs[String]("title") === "Hal's Grand Theory")
  }

  test("cleanStrings deletes newlines with no joining space (reference byte parity)") {
    import spark.implicits._
    // ETL.ipynb c25: whitelist keeps \s, then replace('\n','') merges
    // adjacent words; \r and \t survive untouched
    val got = Clean.cleanStrings(Seq("line one\nline two\t(x)\r!").toDF("s"))
      .collect().head.getString(0)
    assert(got === "line oneline two\tx\r")
  }

  test("star schema: dense deterministic keys, deduped dims, distinct bridges") {
    val authorIds = star.authors.select("AuthorID").collect().map(_.getLong(0)).sorted
    assert(authorIds === authorIds.indices.map(_.toLong).toArray.toSeq) // dense 0..n-1
    // Cara C + Dan D + Ann A + Eve(dropped a4) ... count distinct natural keys
    assert(star.authors.count() === star.authors.dropDuplicates("FullName", "Country", "University").count())
    assert(star.keywords.count() === star.keywords.dropDuplicates("Keyword").count())
    assert(star.authorArticle.count() === star.authorArticle.distinct().count())
    // FK integrity: every fact TopicID resolves
    assert(star.articles.filter(star.articles("TopicID").isNull).count() === 0)
    assert(star.articles.count() === 4)
  }

  test("compat mode reproduces the reference's dimension quirks") {
    // keyword dim keeps one row per instance (the reference's
    // 27,317-vs-7,336 behavior)
    val inst = clean.select(org.apache.spark.sql.functions.explode(
      org.apache.spark.sql.functions.col("keywords"))).count()
    assert(StarSchema.keywordsCompat(clean).count() === inst)
    assert(StarSchema.keywords(clean).count() <= inst)
    // author compat ids are sparse (partition-encoded), not dense
    val maxId = StarSchema.authorsCompat(clean.repartition(4))
      .agg(org.apache.spark.sql.functions.max("AuthorID"))
      .collect().head.getLong(0)
    val n = StarSchema.authorsCompat(clean).count()
    assert(maxId >= n - 1)
  }

  test("star schema keys are stable under repartition") {
    val k1 = star.keywords.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val k2 = StarSchema.keywords(clean.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(k1 === k2)
  }

  test("insert generator escaping matches the reference semantics") {
    import spark.implicits._
    val df = Seq(("O'Brien", Some(2.5)), ("Plain", None))
      .toDF("FullName", "Score")
    val stmts = Writers.insertStatements(df, "authors")
      .collect().map(_.getString(0)).sorted
    assert(stmts.contains("INSERT INTO authors (FullName, Score) VALUES ('O''Brien', 2.5);"))
    assert(stmts.contains("INSERT INTO authors (FullName, Score) VALUES ('Plain', NULL);"))
  }

  test("json array file writer round-trips through the ingest reader") {
    val out = dir.resolve("roundtrip.json").toString
    Writers.writeJsonArrayFile(clean.select("doi", "title", "topic"), out)
    val back = spark.read.option("multiLine", true).json(out)
    assert(back.count() === 4)
  }

  test("quartile as-of enrichment: fallback, exact, out-of-range") {
    import spark.implicits._
    val quartiles = Seq(
      ("Journal A", "11112222", 2015, "Q4"),
      ("Journal A", "11112222", 2020, "Q2"),
      ("Journal G", "33334444", 2010, "Q1"))
      .toDF("journal", "ISSN", "year", "quartile")
    val enriched = Quartiles.enrich(clean, quartiles)
    val q = enriched.select(col("doi"), col("publisher.Quartile"))
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    def byDoi(suffix: String) = q.find(_._1.endsWith(suffix)).get._2
    assert(byDoi("a1") === "Q2")  // 2024 → as-of 2020 (4 back)
    assert(byDoi("a3") === "")    // 2023 vs 2010: 13 back → out of range
    assert(byDoi("b1") === "")    // journal not in lookup
  }

  test("corrupt JSONL lines are quarantined per row, not per file") {
    val p = EtlFixtures.write(dir, "landing.jsonl",
      """{"title": "Good 1", "doi": "https://doi.org/10.1016/q1", "topic": "AI", "citations": 1}
        |{"title": "Good 2", "doi": "https://doi.org/10.1016/q2", "topic": "IoT", "citations": 2}
        |{"title": "TRUNCATED, no close quote, "doi": !!!
        |{"title": "Good 3", "doi": "https://doi.org/10.1016/q3", "topic": "AI", "citations": 3}""".stripMargin)
    val (good, bad) = Ingest.quarantine(Ingest.readArticlesJsonlSafe(spark, p))
    assert(good.count() === 3)
    assert(good.filter(col("doi").isNull).count() === 0)
    val rows = bad.collect()
    assert(rows.length === 1)
    assert(rows.head.getString(0).contains("TRUNCATED"))
  }

  test("normalize keeps every NULL-doi row (missing key is not a shared key)") {
    // three distinct articles without a doi + one real dup pair
    val p = EtlFixtures.write(dir, "nodoi.json",
      """[
        |{"title": "NoDoi One", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "NoDoi Two", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "NoDoi Three", "topic": "IoT", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Dup", "doi": "https://doi.org/10.1109/z1", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Dup", "doi": "https://doi.org/10.1109/z1", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J2"}
        |]""".stripMargin)
    val norm = Ingest.normalize(Ingest.readArticles(spark, p))
    assert(norm.filter(col("doi").isNull).count() === 3) // all three survive
    assert(norm.count() === 4)                           // dup pair still dedups
  }

  /** The two-branch formulation normalize replaced, kept as the
    * reference: the doi-dedup window over the non-NULL dois, unioned
    * with the NULL-doi rows, which bypass it. */
  private def twoBranch(merged: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col => _, _}
    val withPublisher = merged.withColumn("publisher",
      when(col("publisher").isNotNull, col("publisher"))
        .otherwise(struct(
          col("ISSN").as("ISSN"),
          lit("").as("Quartile"),
          col("journal_name").as("name"))))
      .drop("journal_name", "ISSN", "_id")
    val w = Window.partitionBy(col("doi")).orderBy(
      when(col("publisher.Quartile") =!= "", 0).otherwise(1),
      col("website"),
      md5(to_json(struct(col("*")))))
    withPublisher
      .filter(col("doi").isNotNull)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
      .unionByName(withPublisher.filter(col("doi").isNull))
  }

  test("normalize keeps the two-branch reference's survivors") {
    // distinct NULL-doi rows, a byte-identical NULL-doi pair (both
    // kept), an ""-doi pair (deduped), an enriched-over-raw pair and a
    // tie on tier and website that only the content hash breaks
    val p = EtlFixtures.write(dir, "survivors.json",
      """[
        |{"title": "NoDoi One", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "NoDoi Two", "topic": "IoT", "website": "Science Direct", "journal_name": "J2"},
        |{"title": "NoDoi Twin", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "NoDoi Twin", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Empty A", "doi": "", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Empty B", "doi": "", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Raw", "doi": "https://doi.org/10.1109/e1", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Enriched", "doi": "https://doi.org/10.1109/e1", "topic": "AI", "website": "IEEE Xplore", "publisher": {"name": "J1", "ISSN": "12345678", "Quartile": "Q2"}},
        |{"title": "Tie A", "doi": "https://doi.org/10.1109/t2", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Tie B", "doi": "https://doi.org/10.1109/t2", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"}
        |]""".stripMargin)
    val raw = Ingest.readArticles(spark, p)
    val norm = Ingest.normalize(raw)
    assert(rowMultiset(norm) === rowMultiset(twoBranch(raw)))
    assert(norm.filter(col("doi").isNull).count() === 4)
    assert(norm.filter(col("doi") === "").count() === 1)
    val e1 = norm.filter(col("doi").endsWith("e1")).select("title").collect().map(_.getString(0))
    assert(e1.toSeq === Seq("Enriched"))
    assert(norm.count() === 7)
    // every layout gives the same survivors
    for (d <- Seq(raw.repartition(5), raw.coalesce(1)))
      assert(rowMultiset(Ingest.normalize(d)) === rowMultiset(norm))
  }

  test("normalize spreads NULL-doi rows over the window's tasks") {
    // a window partitioned by doi alone hashes every NULL doi to ONE
    // task: at scale a 10% doi-less corpus would put 10% of the data
    // on one executor. The rows keep the window's partitioning up to
    // the output (the keep-filter is narrow), so spark_partition_id
    // there is the window-input task of each row.
    val rows = (1 to 1000).map(i =>
      s"""{"title": "NoDoi $i", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"}""")
    val p = EtlFixtures.write(dir, "nodoi_spread.json", rows.mkString("[\n", ",\n", "\n]"))
    val confs = Seq("spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prior = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val tasks = Ingest.normalize(Ingest.readArticles(spark, p))
        .select(org.apache.spark.sql.functions.spark_partition_id().as("task"))
        .collect().map(_.getInt(0))
      assert(tasks.length === 1000) // every NULL-doi row survives
      val perTask = tasks.groupBy(identity).map { case (t, ts) => t -> ts.length }
      assert(perTask.values.max < 500, s"rows per window task: $perTask")
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("normalize survivor choice is deterministic across partitionings") {
    // same doi, same preference tier, same website — only the content
    // hash tie-break distinguishes; survivor must not depend on layout
    val p = EtlFixtures.write(dir, "tie.json",
      """[
        |{"title": "Tie A", "doi": "https://doi.org/10.1109/t1", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"},
        |{"title": "Tie B", "doi": "https://doi.org/10.1109/t1", "topic": "AI", "website": "IEEE Xplore", "journal_name": "J1"}
        |]""".stripMargin)
    val raw = Ingest.readArticles(spark, p)
    val t1 = Ingest.normalize(raw).select("title").collect().map(_.getString(0)).toSeq
    val t2 = Ingest.normalize(raw.repartition(7)).select("title").collect().map(_.getString(0)).toSeq
    val t3 = Ingest.normalize(raw.coalesce(1)).select("title").collect().map(_.getString(0)).toSeq
    assert(t1 === t2 && t2 === t3)
  }

  test("date-sentinel filter keeps NULL-field rows (reference subtract parity)") {
    import spark.implicits._
    // subtract removes only rows where a predicate is TRUE; NULL
    // fields make it NULL → row kept (ETL.ipynb c14)
    val df = Seq(
      (Option("5 March 2021"), Option("2021"), Option("5"), Option("March")),
      (Option("5 March 2021"), None, Option("5"), Option("March")),  // null Year: keep
      (None, None, None, None),                                      // all null: keep
      (Option("Date not found"), Option("2021"), Option("5"), Option("March"))) // sentinel: drop
      .toDF("Date", "Year", "Day", "Month")
    assert(Clean.filterDateSentinels(df).count() === 3)
  }

  test("email filter keeps NULL countries entries, drops NULL-country affiliations (c22 parity)") {
    import spark.implicits._
    val df = Seq(1).toDF("i")
      .select(
        org.apache.spark.sql.functions.expr(
          "array('France', cast(null as string), 'a@b.com')").as("countries"),
        org.apache.spark.sql.functions.expr(
          "array(named_struct('author','A','country','France','location','x','university','U')," +
          " named_struct('author','B','country',cast(null as string),'location','x','university','U')," +
          " named_struct('author','C','country','c@d.edu','location','x','university','U'))")
          .as("authors_with_affiliations"))
    val out = Clean.filterEmails(df).collect().head
    // intent branch: null entry is not an email — kept
    assert(out.getAs[scala.collection.Seq[String]]("countries").toSeq === Seq("France", null))
    // reference-parity branch: the c22 HOF's NULL predicate drops B
    val affs = out.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("authors_with_affiliations")
    assert(affs.map(_.getAs[String]("author")).toSeq === Seq("A"))
  }

  test("publishers dim emits a co-occurring (Name, Quartile) pair, never a fabricated one") {
    import spark.implicits._
    val cleanLike = Seq(("9999", "Internet of Things", "Q1"), ("9999", "IEEE IoT Journal", "Q2"))
      .toDF("i", "n", "q")
      .select(org.apache.spark.sql.functions.struct(
        col("i").as("ISSN"), col("q").as("Quartile"), col("n").as("name")).as("publisher"))
    val row = StarSchema.publishers(cleanLike).collect().head
    // min(struct): lexicographic-min PAIR — independent mins would
    // fabricate ("IEEE IoT Journal", "Q1"), which no input row carried
    assert((row.getAs[String]("Name"), row.getAs[String]("Quartile")) ===
      (("IEEE IoT Journal", "Q2")))
  }

  test("dates dim key equals the fact join key — spelling drift cannot fan the fact out") {
    import spark.implicits._
    val cleanLike = Seq(
      ("1 January 2020", "1", "January", "2020"),
      ("1 January 2020", "01", "January", "2020")) // int-vs-string drift
      .toDF("Date", "Day", "Month", "Year")
    val dim = StarSchema.dates(cleanLike)
    assert(dim.count() === 1) // one row per PublicationDate — join-safe
    assert(dim.select("Day").collect().head.getString(0) === "01") // min tuple, deterministic
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
