package graft.etl

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** The FIXTURES.md-shaped scraper files shared by the ETL specs: the
  * four raw-file variants with sentinels, mixed Day/Year types,
  * mojibake, emails in countries, empty arrays and null citations —
  * the reference's mess. 10 raw rows; a1 and b1 appear in a raw and an
  * enriched variant, so 8 survive the doi dedup and 4 (a1, a3, b1,
  * b4) survive cleaning.
  */
object EtlFixtures {

  // SD raw: journal_name, no publisher; A2 carries date sentinels
  val sdRaw: String =
    """[
      |{"title": "Alpha Paper", "authors": ["Ann A"], "authors_with_affiliations": [{"author": "Ann A", "university": "Uni X", "country": "France", "location": "Uni X, France"}], "universities": ["Uni X"], "countries": ["France"], "Date": "19 July 2024", "Month": "July", "Day": 19, "Year": 2024, "abstract": "An abstract.", "doi": "https://doi.org/10.1016/a1", "citations": 3, "type": "RESEARCH-ARTICLE", "keywords": ["ai", "ml"], "topic": "AI", "website": "Science Direct", "journal_name": "Journal A"},
      |{"title": "Title not found", "authors": ["Bob B"], "authors_with_affiliations": [{"author": "Bob B", "university": "Uni Y", "country": "Spain", "location": "Uni Y, Spain"}], "universities": ["Uni Y"], "countries": ["Spain"], "Date": "Date not found", "Month": "Month not found", "Day": "Day not found", "Year": "Year not found", "abstract": "Sentinel row.", "doi": "https://doi.org/10.1016/a2", "citations": 1, "type": "RESEARCH-ARTICLE", "keywords": ["iot"], "topic": "IoT", "website": "Science Direct", "journal_name": "Journal S"}
      |]""".stripMargin

  // SD upd: publisher struct; A1 enriched (dedup must prefer this row),
  // A3 good, A4 has ISSN N/A (P1 drops it)
  val sdUpd: String =
    """[
      |{"title": "Alpha Paper", "authors": ["Ann A"], "authors_with_affiliations": [{"author": "Ann A", "university": "Uni X", "country": "France", "location": "Uni X, France"}], "universities": ["Uni X"], "countries": ["France"], "Date": "19 July 2024", "Month": "July", "Day": 19, "Year": 2024, "abstract": "An abstract.", "doi": "https://doi.org/10.1016/a1", "citations": 3, "type": "RESEARCH-ARTICLE", "keywords": ["ai", "ml"], "topic": "AI", "website": "Science Direct", "publisher": {"name": "Journal A", "ISSN": "11112222", "Quartile": "Q1"}},
      |{"title": "Gamma Study", "authors": ["Cara C", "Dan D"], "authors_with_affiliations": [{"author": "Cara C", "university": "Uni Z", "country": "USA", "location": "Uni Z, USA"}, {"author": "Dan D", "university": "Uni Z", "country": "USA", "location": "Uni Z, USA"}], "universities": ["Uni Z"], "countries": ["USA"], "Date": "2 March 2023", "Month": "March", "Day": 2, "Year": 2023, "abstract": "Gamma text.", "doi": "https://doi.org/10.1016/a3", "citations": 0, "type": "RESEARCH-ARTICLE", "keywords": ["ai"], "topic": "AI", "website": "Science Direct", "publisher": {"name": "Journal G", "ISSN": "33334444", "Quartile": "Q2"}},
      |{"title": "Delta Note", "authors": ["Eve E"], "authors_with_affiliations": [{"author": "Eve E", "university": "Uni W", "country": "UK", "location": "Uni W, UK"}], "universities": ["Uni W"], "countries": ["UK"], "Date": "5 May 2022", "Month": "May", "Day": 5, "Year": 2022, "abstract": "Delta text.", "doi": "https://doi.org/10.1016/a4", "citations": 2, "type": "RESEARCH-ARTICLE", "keywords": ["crypto"], "topic": "Cryptography", "website": "Science Direct", "publisher": {"name": "Journal D", "ISSN": "N/A", "Quartile": "Q3"}}
      |]""".stripMargin

  // IEEE raw: top-level ISSN + locations, int Day/Year
  val ieeeRaw: String =
    """[
      |{"title": "Beta Method", "authors": ["Flo F"], "authors_with_affiliations": [{"author": "Flo F", "university": "Inst Q", "country": "PRC", "location": "Inst Q, PRC"}], "universities": ["Inst Q"], "countries": ["PRC"], "locations": ["Inst Q, PRC"], "Date": "1 January 2021", "Month": "January", "Day": 1, "Year": 2021, "abstract": "Beta text.", "doi": "https://doi.org/10.1109/b1", "citations": 7, "type": "RESEARCH-ARTICLE", "keywords": ["big data"], "topic": "Big Data", "website": "IEEE Xplore", "journal_name": "IEEE Trans B", "ISSN": "55556666"}
      |]""".stripMargin

  // IEEE upd: B1 enriched; B2 null citations; B3 empty authors;
  // B4 mojibake + email artifacts + apostrophes/quotes
  val ieeeUpd: String =
    """[
      |{"title": "Beta Method", "authors": ["Flo F"], "authors_with_affiliations": [{"author": "Flo F", "university": "Inst Q", "country": "PRC", "location": "Inst Q, PRC"}], "universities": ["Inst Q"], "countries": ["PRC"], "locations": ["Inst Q, PRC"], "Date": "1 January 2021", "Month": "January", "Day": 1, "Year": 2021, "abstract": "Beta text.", "doi": "https://doi.org/10.1109/b1", "citations": 7, "type": "RESEARCH-ARTICLE", "keywords": ["big data"], "topic": "Big Data", "website": "IEEE Xplore", "publisher": {"name": "IEEE Trans B", "ISSN": "55556666", "Quartile": "Q1"}},
      |{"title": "No Citations", "authors": ["Gil G"], "authors_with_affiliations": [{"author": "Gil G", "university": "Inst R", "country": "Japan", "location": "Inst R, Japan"}], "universities": ["Inst R"], "countries": ["Japan"], "locations": [], "Date": "9 June 2020", "Month": "June", "Day": 9, "Year": 2020, "abstract": "x", "doi": "https://doi.org/10.1109/b2", "citations": null, "type": "RESEARCH-ARTICLE", "keywords": ["devops"], "topic": "DevOps", "website": "IEEE Xplore", "publisher": {"name": "IEEE Trans B", "ISSN": "55556666", "Quartile": "Q1"}},
      |{"title": "Empty Authors", "authors": [], "authors_with_affiliations": [], "universities": [], "countries": [], "locations": [], "Date": "9 June 2020", "Month": "June", "Day": 9, "Year": 2020, "abstract": "y", "doi": "https://doi.org/10.1109/b3", "citations": 4, "type": "RESEARCH-ARTICLE", "keywords": ["devops"], "topic": "DevOps", "website": "IEEE Xplore", "publisher": {"name": "IEEE Trans B", "ISSN": "55556666", "Quartile": "Q1"}},
      |{"title": "Hal's \"Grand\" Theory", "authors": ["Hal H"], "authors_with_affiliations": [{"author": "Hal H", "university": "Inst S", "country": "h.h@inst.edu", "location": "x"}, {"author": "Hal H", "university": "Inst S", "country": "Republic of Korea", "location": "Inst S, Korea"}], "universities": ["Inst S"], "countries": ["Republic of Korea", "h.h@inst.edu"], "locations": [], "Date": "20 February 2024", "Month": "February", "Day": 20, "Year": 2024, "abstract": "CafÃ© rÃ©sumÃ© text.", "doi": "https://doi.org/10.1109/b4", "citations": 11, "type": "RESEARCH-ARTICLE", "keywords": ["blockchain", "ai"], "topic": "Blockchain", "website": "IEEE Xplore", "publisher": {"name": "IEEE Trans C", "ISSN": "77778888", "Quartile": "Q2"}}
      |]""".stripMargin

  /** File name → JSON-array content, one entry per variant. */
  val files: Seq[(String, String)] = Seq(
    "sd_raw.json" -> sdRaw, "sd_upd.json" -> sdUpd,
    "ieee_raw.json" -> ieeeRaw, "ieee_upd.json" -> ieeeUpd)

  def write(dir: Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  /** Writes the four variants into `dir`; returns their paths. */
  def writeAll(dir: Path): Seq[String] =
    files.map { case (name, content) => write(dir, name, content) }
}
