package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{struct, unix_micros}
import org.apache.spark.sql.types.{MetadataBuilder, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[Tables.load]]'s driver-side footer schema read (no job, the
  * schema Spark's inference gives, the events.ts drift handling, loud
  * failures) and [[Tables.loadSpread]]'s scale guard: the round-robin
  * spread is a repair for UNSPLITTABLE inputs (one file / one row group
  * ⇒ one scan task), so it must fire only when the scan's partition
  * count is well under the session's shuffle parallelism — a
  * multi-file table that already scans in parallel must come back
  * repartition-free, or at 100 TB the "spread" is a full shuffle of
  * raw corpus bytes for nothing. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def withTempDir(prefix: String)(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory(prefix).toString
    try body(dir) finally graft.etl.Writers.deleteRecursively(new java.io.File(dir))
  }

  /** Loads `name` under `dir`, asserting that the load launched no job
    * and that its schema is the one Spark's inference gives. */
  private def loadChecked(dir: String, name: String): DataFrame = {
    var df: DataFrame = null
    val jobs = TestSpark.jobsDuring { df = Tables.load(spark, dir, name) }
    assert(jobs == 0, s"Tables.load($name) launched $jobs jobs")
    assert(df.schema == spark.read.parquet(s"$dir/$name.parquet").schema, name)
    df
  }

  test("load launches no job and gives the inferred schema for every testdata table") {
    for (t <- Tables.all) loadChecked(sf, t)
  }

  test("load reads a Spark-written multi-part directory with _SUCCESS and .crc files") {
    withTempDir("graft-tables-dir") { dir =>
      val path = s"$dir/documents.parquet"
      val note = new MetadataBuilder().putString("comment", "kept").build()
      (1L to 100L).toDF("doc_id")
        .select($"doc_id", ($"doc_id" * 2).as("text", note),
          $"doc_id".cast("decimal(18,4)").as("price"),
          struct($"doc_id".as("a"), $"doc_id".cast("string").as("b")).as("nested"))
        .repartition(3).write.parquet(path)
      val names = new java.io.File(path).list().toSeq
      assert(names.contains("_SUCCESS"), names)
      assert(names.exists(_.endsWith(".crc")), names)
      assert(names.count(_.startsWith("part-")) == 3, names)
      val df = loadChecked(dir, "documents")
      assert(df.schema("text").metadata == note)
      assert(df.count() == 100)
    }
  }

  /** One `events.parquet` under `dir` whose `ts` column has the given
    * parquet logical type, written with parquet-hadoop's example writer
    * so each physical encoding is exact. */
  private def writeEvents(dir: String, tsType: String, ts: Seq[Long]): Unit = {
    val schema = MessageTypeParser.parseMessageType(
      s"message events { required int64 event_id; required int64 ts ($tsType); }")
    val conf = spark.sessionState.newHadoopConf()
    val out = HadoopOutputFile.fromPath(new Path(s"$dir/events.parquet"), conf)
    val w = ExampleParquetWriter.builder(out).withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try ts.zipWithIndex.foreach { case (v, i) =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", v))
    } finally w.close()
  }

  test("events.ts loads as TimestampType with the same instants in all three encodings") {
    val micros = Seq(0L, 1700000000123456L, -86400000000L)
    val encodings = Seq(
      "TIMESTAMP(MICROS,true)" -> micros,
      "TIMESTAMP(MICROS,false)" -> micros,
      "TIMESTAMP(NANOS,true)" -> micros.map(_ * 1000))
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val prev = spark.conf.get(key)
    try for ((tsType, values) <- encodings; ntz <- Seq("false", "true")) {
      spark.conf.set(key, ntz)
      // as in a fresh session: the load itself must set nanos-as-long
      spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      withTempDir("graft-tables-events") { dir =>
        writeEvents(dir, tsType, values)
        var df: DataFrame = null
        val jobs = TestSpark.jobsDuring { df = Tables.load(spark, dir, "events") }
        assert(jobs == 0, s"$tsType: Tables.load launched $jobs jobs")
        assert(df.schema("ts").dataType == TimestampType, s"$tsType, inferTimestampNTZ=$ntz")
        assert(df.orderBy("event_id").select(unix_micros($"ts")).as[Long].collect().toSeq == micros,
          s"$tsType, inferTimestampNTZ=$ntz")
      }
    } finally spark.conf.set(key, prev)
  }

  test("a missing table, an empty table directory or a corrupt footer fails naming the path") {
    withTempDir("graft-tables-bad") { dir =>
      val missing = intercept[java.io.FileNotFoundException](Tables.load(spark, dir, "orders"))
      assert(missing.getMessage.contains(s"$dir/orders.parquet"), missing.getMessage)
      Files.createDirectory(Paths.get(s"$dir/orders.parquet"))
      Files.write(Paths.get(s"$dir/orders.parquet/_SUCCESS"), Array.emptyByteArray)
      val empty = intercept[java.io.FileNotFoundException](Tables.load(spark, dir, "orders"))
      assert(empty.getMessage.contains(s"$dir/orders.parquet"), empty.getMessage)
      Files.write(Paths.get(s"$dir/nation.parquet"), "not parquet".getBytes("UTF-8"))
      val corrupt = intercept[java.io.IOException](Tables.load(spark, dir, "nation"))
      assert(corrupt.getMessage.contains(s"$dir/nation.parquet"), corrupt.getMessage)
    }
  }

  test("j1_fact_dims launches no job while it is built") {
    val jobs = TestSpark.jobsDuring { SparkEntry.queries("j1_fact_dims")(spark, sf) }
    assert(jobs == 0, s"j1_fact_dims launched $jobs jobs at construction")
  }

  private def hasRoundRobin(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
    }.nonEmpty

  test("loadSpread repartitions a single-file (one-task) table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-one").toString
    (1L to 100L).toDF("doc_id").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.loadSpread(spark, dir, "documents")
    assert(hasRoundRobin(df),
      "one-task scan must be spread to the session's shuffle parallelism")
    assert(df.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    graft.etl.Writers.deleteRecursively(new java.io.File(dir))
  }

  test("derivedShuffleParts: tiny inputs are capped by the 2MB-per-task floor") {
    val mb = 1L << 20
    // the graded sf0.1 shape: ~17 MB input, 32 cores → 8 partitions
    assert(Tables.derivedShuffleParts(17 * mb, 32) == 8)
    // the driver's low-core run: same input, 8 cores → still 8
    assert(Tables.derivedShuffleParts(17 * mb, 8) == 8)
    // sf0.01-sized input (< 2 MB) degrades to 1, never 0
    assert(Tables.derivedShuffleParts(1900 * 1024, 4) == 1)
    assert(Tables.derivedShuffleParts(0L, 32) == 1)
  }

  test("derivedShuffleParts: mid inputs fill the cores, big inputs outgrow them") {
    val mb = 1L << 20
    // mid regime: 2 GB input on 32 cores → the core count (data no
    // longer caps, 256 MB sizing not yet binding)
    assert(Tables.derivedShuffleParts(2048 * mb, 32) == 32)
    // big regime: 1 TB on 128 cores → bytes/256MB = 4096 partitions,
    // well past the core count — the §2.2 production band
    assert(Tables.derivedShuffleParts(1024L * 1024 * mb, 128) == 4096)
  }

  test("loadSpread leaves a multi-file (already-parallel) table alone") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-many").toString
    // as many files as shuffle partitions: the scan parallelism already
    // matches the session, so the guard must skip the repartition.
    // Tiny test files would normally be PACKED into one split
    // (openCostInBytes charges 4 MB per file against 128 MB splits), so
    // pin the split size down for this read — the production analogue
    // is real 100 MB+ files, one-plus splits each.
    val nParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    (1L to 100L).toDF("doc_id").repartition(nParts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    val prevOpen = spark.conf.get("spark.sql.files.openCostInBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
      spark.conf.set("spark.sql.files.openCostInBytes", "0")
      val df = Tables.loadSpread(spark, dir, "documents")
      assert(df.rdd.getNumPartitions >= nParts / 2,
        "test setup: the multi-file table must actually scan in parallel")
      assert(!hasRoundRobin(df),
        "a splittable multi-file input must not be re-shuffled by loadSpread")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      spark.conf.set("spark.sql.files.openCostInBytes", prevOpen)
      graft.etl.Writers.deleteRecursively(new java.io.File(dir))
    }
  }
}
