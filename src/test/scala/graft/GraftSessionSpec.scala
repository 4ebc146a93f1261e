package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one session factory: the tests' session carries its fixed
  * settings, `src/main` builds a session nowhere else, and the
  * environment knobs `src/main` reads are exactly the expected eight. */
class GraftSessionSpec extends AnyFunSuite {

  /** Non-comment lines of every Scala file under src/main, by file. */
  private lazy val mainCode: Seq[(Path, Seq[String])] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root, not ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root)
    try files.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.map { f =>
      f -> Files.readAllLines(f).asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    } finally files.close()
  }

  private def sitesOf(needle: String): Seq[String] =
    mainCode.flatMap { case (f, lines) => lines.filter(_.contains(needle)).map(_ => f.getFileName.toString) }

  test("TestSpark's session holds the factory's fixed settings") {
    assert(GraftSession.fixedConf.toMap == Map(
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> "10000",
      "spark.ui.enabled" -> "false"))
    val conf = TestSpark.spark.conf
    GraftSession.fixedConf.foreach { case (k, v) => assert(conf.get(k) == v, k) }
    assert(conf.get("spark.master") == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
  }

  test("src/main builds a SparkSession in GraftSession only") {
    assert(sitesOf("SparkSession.builder()") == Seq("GraftSession.scala"))
  }

  test("src/main reads exactly eight SPARK_GRAFT_* knobs, $SPARK_GRAFT_CPUS in one place") {
    val knob = "\"(SPARK_GRAFT_[A-Z_]+)\"".r
    val read = mainCode.flatMap(_._2).flatMap(l => knob.findAllMatchIn(l).map(_.group(1))).toSet
    assert(read == Set("BENCH_OUT", "BENCH_REPS", "CPUS", "MAX_LOAD", "MAX_SPREAD",
      "MAX_STEAL", "SF_DIR", "STREAM_SCRATCH").map("SPARK_GRAFT_" + _))
    assert(sitesOf("\"SPARK_GRAFT_CPUS\"") == Seq("GraftSession.scala"))
  }
}
