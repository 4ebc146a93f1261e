package graft.etl

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** MongoDB extended-JSON staging codec (SURVEY S2/K3 file equivalent).
  *
  * Pins: (1) the writer emits canonical extended JSON a mongoimport
  * would accept; (2) the reader inverts the writer exactly, including
  * negative epoch-millis and escaped text; (3) wrapper-shaped text
  * INSIDE a string value survives untouched (the escape argument in
  * MongoStage's scaladoc); (4) the relaxed ISO `$date` form parses;
  * (5) `objectId` is deterministic.
  */
class MongoStageSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private val schema = StructType(Seq(
    StructField("_id", StringType), StructField("doc_id", LongType),
    StructField("text", StringType), StructField("n", IntegerType),
    StructField("score", DoubleType), StructField("at", TimestampType)))

  private def roundTrip(rows: Seq[(Long, String, Integer, java.lang.Double, Timestamp)]): Seq[Row] = {
    import spark.implicits._
    val dir = tempDir("mongo").toString
    val df = rows.toDF("doc_id", "text", "n", "score", "at")
    MongoStage.writeExtJsonl(df, "doc_id", dir)
    MongoStage.readExtJsonl(spark, dir, schema)
      .orderBy("doc_id").collect().toSeq
  }

  private val t0 = Timestamp.valueOf("1969-07-20 20:17:40") // negative millis
  private val t1 = Timestamp.valueOf("2024-05-13 10:00:00")

  test("round-trip inverts the writer: types, nulls, negative $date") {
    val rows = Seq(
      (1L, "plain", Integer.valueOf(7), java.lang.Double.valueOf(-2.5), t0),
      (2L, "quotes \" and\nnewline\tand unicode é", Integer.valueOf(-3),
        java.lang.Double.valueOf(0.125), t1),
      (3L, null: String, null: Integer, null: java.lang.Double,
        null: Timestamp))
    val got = roundTrip(rows)
    assert(got.map(_.getLong(1)) == Seq(1L, 2L, 3L))
    assert(got(0).getTimestamp(5).getTime == t0.getTime && t0.getTime < 0)
    assert(got(1).getString(2) == "quotes \" and\nnewline\tand unicode é")
    assert(got(1).getInt(3) == -3 && got(1).getDouble(4) == 0.125)
    assert(got(2).isNullAt(2) && got(2).isNullAt(3) &&
      got(2).isNullAt(4) && got(2).isNullAt(5))
  }

  test("negative-exponent and non-finite doubles round-trip") {
    val rows = Seq(
      (1L, "a", Integer.valueOf(0), java.lang.Double.valueOf(1.5e-10), t1),
      (2L, "b", Integer.valueOf(0), java.lang.Double.valueOf(Double.NaN), t1),
      (3L, "c", Integer.valueOf(0),
        java.lang.Double.valueOf(Double.NegativeInfinity), t1))
    val got = roundTrip(rows)
    assert(got(0).getDouble(4) == 1.5e-10)
    assert(got(1).getDouble(4).isNaN)
    assert(got(2).getDouble(4).isNegInfinity)
  }

  test("wrapper-shaped text inside a string value survives untouched") {
    val tricky = """has {"$numberLong":"5"} and {"$oid":"0123456789abcdef01234567"} inside"""
    val got = roundTrip(Seq((9L, tricky, Integer.valueOf(1),
      java.lang.Double.valueOf(1.0), t1)))
    assert(got.head.getString(2) == tricky)
  }

  test("writer output is canonical extended JSON, one doc per line") {
    import spark.implicits._
    val df = Seq((4L, "x", Integer.valueOf(2),
      java.lang.Double.valueOf(1.5), t1)).toDF("doc_id", "text", "n", "score", "at")
    val line = df.select(MongoStage.toExtJson(df, "doc_id")).head.getString(0)
    assert(line.contains(""""_id":{"$oid":""""))
    assert(line.contains(""""doc_id":{"$numberLong":"4"}"""))
    assert(line.contains(""""n":{"$numberInt":"2"}"""))
    assert(line.contains(""""score":{"$numberDouble":"1.5"}"""))
    assert(line.contains(""""at":{"$date":{"$numberLong":""""))
    assert(!line.contains("\n"))
  }

  test("relaxed ISO $date form (mongoexport default) parses too") {
    val dir = tempDir("mongo-rel").toString
    import spark.implicits._
    Seq("""{"_id":{"$oid":"aaaaaaaaaaaaaaaaaaaaaaaa"},"doc_id":{"$numberLong":"5"},"at":{"$date":"2024-05-13T10:00:00.000Z"}}""")
      .toDF("value").write.mode("overwrite").text(dir)
    val got = MongoStage.readExtJsonl(spark, dir, StructType(Seq(
      StructField("_id", StringType), StructField("doc_id", LongType),
      StructField("at", TimestampType)))).head
    assert(got.getString(0) == "aaaaaaaaaaaaaaaaaaaaaaaa")
    assert(got.getTimestamp(2).getTime ==
      java.time.Instant.parse("2024-05-13T10:00:00Z").toEpochMilli)
  }

  test("a source _id column is replaced, never emitted as a duplicate JSON key") {
    import spark.implicits._
    val df = Seq(("stale-id", 4L)).toDF("_id", "doc_id")
    val line = df.select(MongoStage.toExtJson(df, "doc_id")).head.getString(0)
    assert("\"_id\"".r.findAllIn(line).size === 1) // exactly one _id key
    assert(line.contains(""""_id":{"$oid":"""") && !line.contains("stale-id"))
  }

  test("NULL idFrom omits _id entirely instead of emitting \"_id\":{}") {
    import spark.implicits._
    val df = Seq((Option.empty[Long], "x"), (Some(5L), "y")).toDF("doc_id", "text")
    val lines = df.select(MongoStage.toExtJson(df, "doc_id").as("l"))
      .collect().map(_.getString(0)).sortBy(_.length)
    val nullLine = lines.find(_.contains("\"x\"")).get
    assert(!nullLine.contains("_id"))        // absent → mongoimport assigns
    assert(!nullLine.contains("{}"))
    assert(lines.find(_.contains("\"y\"")).get.contains(""""_id":{"$oid":""""))
  }

  test("an over-Long numeric $date nulls the field instead of killing the job (ANSI)") {
    val dir = tempDir("mongo-big").toString
    import spark.implicits._
    Seq("""{"doc_id":{"$numberLong":"6"},"at":{"$date":{"$numberLong":"92233720368547758080"}}}""")
      .toDF("value").write.mode("overwrite").text(dir)
    val got = MongoStage.readExtJsonl(spark, dir, StructType(Seq(
      StructField("doc_id", LongType), StructField("at", TimestampType)))).head
    assert(got.getLong(0) === 6L)
    assert(got.isNullAt(1)) // malformed date stays a null CELL, not a dead job
  }

  test("sub-millisecond timestamps floor to the millisecond (BSON $date precision contract)") {
    // BSON dates are epoch-millis; toExtJson's unix_millis truncates
    // the 456 µs tail. This pins the documented contract so a future
    // "fix" to micros doesn't silently break mongoimport compatibility.
    val dir = tempDir("mongo-us").toString
    import spark.implicits._
    val micros = 1715594400123456L // 2024-05-13T10:00:00.123456Z
    val df = Seq(Tuple1(1L)).toDF("doc_id")
      .withColumn("at", timestamp_micros(lit(micros)))
    MongoStage.writeExtJsonl(df, "doc_id", dir)
    val back = MongoStage.readExtJsonl(spark, dir, StructType(Seq(
      StructField("doc_id", LongType), StructField("at", TimestampType)))).head
    val gotMicros = back.getTimestamp(1).toInstant
    assert(gotMicros.toEpochMilli === micros / 1000L)       // floored to ms
    assert(gotMicros.getNano % 1000000 === 0,
      "round-trip must land exactly on a millisecond boundary")
  }

  test("objectId is a deterministic 24-hex surrogate") {
    import spark.implicits._
    val ids = Seq(1L, 1L, 2L).toDF("k")
      .select(MongoStage.objectId(col("k"))).collect().map(_.getString(0))
    assert(ids(0) == ids(1) && ids(0) != ids(2))
    assert(ids.forall(_.matches("[0-9a-f]{24}")))
  }
}
