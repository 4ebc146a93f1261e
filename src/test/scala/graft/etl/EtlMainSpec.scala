package graft.etl

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** CLI-level end-to-end: drives `EtlMain.main` itself — the shipped
  * entry point, not the library calls behind it — over the 23 real
  * reference corpus files into a temp dir, in BOTH modes, and checks
  * the written artifacts (CSV, INSERT scripts, JSONL) against
  * RealCorpusGoldenSpec's pinned cardinalities plus the reference's
  * own escaping goldens (DB/queries/authors_queries.sql). The library
  * path is golden-tested in RealCorpusGoldenSpec; this proves the
  * BINARY reproduces the star schema through its sinks. */
class EtlMainSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def jsonFiles(dir: String): Seq[String] = {
    // fail naming the cause, not with listFiles' bare NullPointerException
    require(new File(dir).isDirectory,
      s"reference corpus $dir is absent: this spec needs the reference scraper files")
    new File(dir).listFiles.filter(_.getName.endsWith(".json"))
      .map(_.getAbsolutePath).sorted.toSeq
  }

  private lazy val inputs =
    jsonFiles("/root/reference/IEEE") ++ jsonFiles("/root/reference/ScienceDirect")

  /** Read back a written CSV artifact exactly as a consumer would:
    * header + RFC 4180 doubled-quote escaping + multiline fields. */
  private def csvRows(dir: String): Long =
    spark.read.option("header", "true").option("multiLine", "true")
      .option("escape", "\"").csv(dir).count()

  private def insertLines(dir: String) = spark.read.text(dir)

  test("usage guard: fewer than two positional args is an error, not a crash-later") {
    val e = intercept[IllegalArgumentException](EtlMain.main(Array("only-out-dir")))
    assert(e.getMessage.contains("usage"))
  }

  test("default mode: the shipped binary writes every artifact at the pinned counts") {
    spark // force the shared session active before main() looks for one
    val out = java.nio.file.Files.createTempDirectory("graft-etlmain").toString
    try {
      EtlMain.main((out +: inputs).toArray)
      val pinned = Map(
        "articles" -> 2482L, "publishers" -> 382L, "keywords" -> 5559L,
        "topics" -> 6L, "dates" -> 661L, "authors" -> 13387L,
        "author_article_mapping" -> 13994L, "keywords_articles_mapping" -> 18248L)
      pinned.foreach { case (name, n) =>
        assert(csvRows(s"$out/csv/$name") === n, s"csv/$name")
        // one INSERT per ROW — but a value with an embedded newline
        // (article abstracts have them) legitimately spans lines, so
        // count statements by their prefix, not raw lines
        assert(insertLines(s"$out/sql/$name").filter(col("value")
          .startsWith(s"INSERT INTO $name (")).count() === n, s"sql/$name statements")
      }
      // JSONL sink carries the cleaned corpus
      assert(spark.read.json(s"$out/clean_jsonl").count() === 2482L)
      // escaping golden straight from the reference's own INSERT script
      // (DB/queries/authors_queries.sql:60): an embedded apostrophe
      // must double, and the doubled form must round out the literal
      assert(insertLines(s"$out/sql/authors").filter(col("value")
        .contains("Huangshan city People''s Hospital")).count() > 0L,
        "reference escaping golden missing from authors INSERT script")
    } finally Writers.deleteRecursively(new File(out))
  }

  test("--compat mode: per-instance dims and fanout bridges through the same binary") {
    spark
    val out = java.nio.file.Files.createTempDirectory("graft-etlmainc").toString
    try {
      EtlMain.main(Array("--compat", out) ++ inputs)
      assert(csvRows(s"$out/csv/keywords") === 18261L)
      assert(csvRows(s"$out/csv/authors") === 13994L)
      assert(csvRows(s"$out/csv/author_article_mapping") === 24886L)
      assert(csvRows(s"$out/csv/keywords_articles_mapping") === 1020061L)
      // referential consistency THROUGH the artifacts: every bridge
      // AuthorID resolves against the authors CSV written in this run
      // (the compat ids are run-dependent — the files must agree)
      val dimIds = spark.read.option("header", "true").option("multiLine", "true")
        .option("escape", "\"").csv(s"$out/csv/authors").select("AuthorID")
      val bridgeIds = spark.read.option("header", "true")
        .csv(s"$out/csv/author_article_mapping").select("AuthorID")
      assert(bridgeIds.join(dimIds, Seq("AuthorID"), "left_anti").count() === 0L)
    } finally Writers.deleteRecursively(new File(out))
  }
}
