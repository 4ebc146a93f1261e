package graft.etl

import java.io.File

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Golden end-to-end over the REAL reference corpus — all 23 scraper
  * JSON files under /root/reference/IEEE and .../ScienceDirect through
  * Ingest.normalize → Clean → StarSchema, pinning measured numbers.
  * This closes SURVEY §7.4 hazard 1 (four-variant schema chaos) with
  * evidence on the actual data, not fixtures.
  *
  * Why these goldens are NOT SURVEY §6's 6,299/3,795: the reference's
  * `merged` Mongo collection (ETL.ipynb c8) is a scrape SNAPSHOT that
  * is provably not reconstructible from the committed files —
  *  - c8 profiles `locations` as non-null for 2,836 of 6,299 rows, and
  *    locations is IEEE-only; the committed IEEE files contain exactly
  *    1,998 (upd) / 3,996 (raw+upd) records — 2,836 matches neither;
  *  - c13 counts 1,485 publisher-sentinel rows; the committed files
  *    contain exactly 1,074 under the same predicate, in every
  *    raw/upd combination (sentinels live only in upd variants);
  *  - one committed article (doi 10.1016/j.jss.2022.111413, in BOTH
  *    ScienceDirect/DevOps_upd.json and DevOps_upd1.json) is absent
  *    from the reference's output tables — its 7 authors appear in no
  *    row of DB/Tables/authors.csv.
  * So the corpus the notebook processed ≠ the corpus in git. What IS
  * checkable — and checked here — is (a) exact pinned counts of OUR
  * pipeline over the committed files, and (b) content parity on the
  * overlap: every publisher ISSN and every publication date we emit
  * exists in the reference's tables, the topics dim is set-equal, and
  * the ONLY authors we emit that the reference lacks are the 7 from
  * that one drifted article.
  */
class RealCorpusGoldenSpec extends AnyFunSuite {
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

  private lazy val merged = Ingest.readMerged(spark, inputs).cache()
  private lazy val clean = Clean(merged).cache()
  private lazy val star = StarSchema.build(clean)

  private def refTable(name: String) =
    spark.read.option("header", "true").option("multiLine", "true")
      .csv(s"/root/reference/DB/Tables/$name.csv")

  test("all 23 raw files ingest through the one permissive schema") {
    assert(inputs.size === 23)
    // doi-dedup at ingest: merged row count == distinct doi over the
    // raw union (computed independently, schema-variant-blind)
    val rawUnion = inputs.map(Ingest.readArticles(spark, _)).reduce(_.unionByName(_))
    assert(merged.count() === rawUnion.select("doi").distinct().count())
    assert(merged.count() === 4288L)
  }

  test("cleaning chain on the real corpus: pinned row counts") {
    assert(clean.count() === 2482L)
    // every survivor has a complete publisher (P1 actually filtered)
    assert(clean.filter(
      col("publisher.ISSN").isNull || col("publisher.ISSN") === "N/A" ||
      col("publisher.name") === "" || col("publisher.Quartile") === "").count() === 0L)
  }

  test("star schema over the real corpus: pinned dim/bridge cardinalities") {
    assert(star.articles.count() === 2482L)
    assert(star.publishers.count() === 382L)
    assert(star.topics.count() === 6L)
    assert(star.dates.count() === 661L)
    assert(star.keywords.count() === 5559L)
    assert(star.authors.count() === 13387L)
    assert(star.authorArticle.count() === 13994L)
    assert(star.keywordArticle.count() === 18248L)
  }

  test("compat mode reproduces the reference's per-instance dim shapes") {
    // per-instance keyword rows and pre-distinct author ids: counts are
    // the explode cardinalities, deterministic even though compat ids
    // are partition-dependent by design
    assert(StarSchema.keywordsCompat(clean).count() === 18261L)
    assert(StarSchema.authorsCompat(clean).count() === 13994L)
  }

  test("compat bridges: c43/c45 fanout joins, referentially consistent with compat dims") {
    // localCheckpoint pins the monotonic ids across the two uses
    val aDim = StarSchema.authorsCompat(clean).localCheckpoint()
    val kDim = StarSchema.keywordsCompat(clean).localCheckpoint()
    val aBridge = StarSchema.authorBridgeCompat(clean, aDim)
    val kBridge = StarSchema.keywordBridgeCompat(clean, kDim)
    // fanout counts are Σ occurrences² per name/keyword — id-independent
    assert(aBridge.count() === 24886L)
    assert(kBridge.count() === 1020061L)
    // every bridge id resolves against the dim written in the same run
    assert(aBridge.select("AuthorID")
      .join(aDim.select("AuthorID"), Seq("AuthorID"), "left_anti").count() === 0L)
    assert(kBridge.select("KeywordID")
      .join(kDim.select("KeywordID"), Seq("KeywordID"), "left_anti").count() === 0L)
  }

  test("fact integrity: every article resolves its topic and date dims") {
    assert(star.articles.filter(
      col("TopicID").isNull || col("DateID").isNull).count() === 0L)
  }

  test("topics dim is set-equal to DB/Tables/topics.csv") {
    val ours = star.topics.select("Topic")
    val ref = refTable("topics").select("Topic")
    assert(ours.exceptAll(ref).count() === 0L)
    assert(ref.exceptAll(ours).count() === 0L)
  }

  test("every publisher ISSN we emit exists in DB/Tables/publishers.csv") {
    // empty-vs-null: our pipeline keeps "" ISSNs (P1 filters null/N-A
    // only, like c13); Spark's CSV reader surfaces the reference's
    // 5 blank-ISSN rows as null — same value, two spellings
    val ours = star.publishers.select(coalesce(col("ISSN"), lit("")).as("k"))
    val ref = refTable("publishers").select(coalesce(col("ISSN"), lit("")).as("k"))
    assert(ours.join(ref, Seq("k"), "left_anti").count() === 0L)
  }

  test("every publication date we emit exists in DB/Tables/dates.csv") {
    val orphan = star.dates.select("PublicationDate")
      .join(refTable("dates").select("PublicationDate"), Seq("PublicationDate"), "left_anti")
    assert(orphan.count() === 0L)
  }

  test("text functions behave sanely on the real corpus (not just synthetic docs)") {
    import graft.functions.TextFunctions
    // the cleaned corpus is English scholarly abstracts: the n-gram
    // language heuristic must overwhelmingly agree
    val langs = clean.select(TextFunctions.langId(col("abstract")).as("l"))
      .groupBy("l").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val en = langs.getOrElse("en", 0L).toDouble
    assert(en / clean.count() > 0.9, s"language mix on real abstracts: $langs")
    // canonical fingerprints must not collapse distinct real abstracts
    val fps = clean.select(TextFunctions.fingerprint(col("abstract")).as("fp"))
      .distinct().count()
    val texts = clean.select(lower(col("abstract"))).distinct().count()
    assert(fps >= texts - 5, s"fingerprint collapsed real abstracts: $fps vs $texts")
  }

  test("author parity vs DB/Tables/authors.csv, modulo the one drifted article") {
    val unmatched = star.authors.select("FullName").distinct()
      .join(refTable("authors").select("FullName").distinct(),
        Seq("FullName"), "left_anti")
    // the 7 authors of doi 10.1016/j.jss.2022.111413 — present in the
    // committed DevOps_upd files, absent from the reference's snapshot
    val drifted = clean
      .filter(col("doi").contains("jss2022111413")) // whitelist-cleaned form of 10.1016/j.jss.2022.111413
      .select(explode(col("authors_with_affiliations.author")).as("FullName"))
      .distinct()
    assert(unmatched.count() === 7L)
    assert(unmatched.join(drifted, Seq("FullName"), "left_anti").count() === 0L)
  }
}
