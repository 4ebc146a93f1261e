package graft.queries

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

class SourceQueriesSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fileSet(dir: Path): Set[String] = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(_.toString).toSet
  }

  test("s15: dynamic overwrite replaces ONLY the targeted partition's files") {
    val base = tempDir("s15-spec")
    val out = base.resolve("t").toString
    val df = Seq((1, 2020, 10.0), (2, 2020, 20.0), (3, 2021, 30.0), (4, 2022, 40.0))
      .toDF("id", "y", "v")
    df.write.mode("overwrite").partitionBy("y").parquet(out)
    val before = fileSet(base)
    df.filter($"y" === 2021).withColumn("v", $"v" * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("y").parquet(out)
    val after = fileSet(base)
    // untouched partitions keep their exact physical files
    assert(before.filter(_.contains("y=2020")) === after.filter(_.contains("y=2020")))
    assert(before.filter(_.contains("y=2022")) === after.filter(_.contains("y=2022")))
    // the targeted partition was rewritten
    assert(before.filter(_.contains("y=2021")) !== after.filter(_.contains("y=2021")))
    // and the data reflects exactly the one-partition backfill
    val rows = spark.read.parquet(out)
      .select($"id", $"v").collect().map(r => (r.getInt(0), r.getDouble(1))).toSet
    assert(rows === Set((1, 10.0), (2, 20.0), (3, 60.0), (4, 40.0)))
  }

  test("s15: static overwrite mode would have dropped the other partitions") {
    // the failure the dynamic option exists to prevent — pinned so a
    // future Spark default change can't silently alter s15's meaning
    val base = tempDir("s15-static")
    val out = base.resolve("t").toString
    val df = Seq((1, 2020, 10.0), (2, 2021, 20.0)).toDF("id", "y", "v")
    df.write.mode("overwrite").partitionBy("y").parquet(out)
    df.filter($"y" === 2021)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "static")
      .partitionBy("y").parquet(out)
    assert(spark.read.parquet(out).select("y").distinct().collect()
      .map(_.getInt(0)).toSet === Set(2021))
  }
}
