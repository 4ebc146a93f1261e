package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft main or test builds its SparkSession. Every
  * setting is fixed here except the two its callers differ on, the
  * master and the shuffle-partition count, so the gate, the bench, the
  * plan tools and the tests read and plan the same tables the same way. */
object GraftSession {
  /** Cores of the local master: `$SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]`: the master of `Bench`, `Verify` and `ScaleStress`. */
  def localMaster: String = s"local[$cpus]"

  val fixedConf: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    // keep events.ts a plain TIMESTAMP however the parquet was written:
    // testdata regeneration once flipped it to TIMESTAMP_NTZ
    // (isAdjustedToUTC=false) and silently broke every event-time
    // operator; with UTC pinned above, plain TIMESTAMP is the same
    // instant and keeps window()/watermarks analyzable
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false",
    // the 30-query bench run generates ~600 codegen units; the default
    // 100-entry class cache would evict mid-run and re-pay janino
    // compiles inside timed reps (measured as multi-second spikes in
    // single-task broadcast-build stages)
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  /** A session on `master` with `shuffleParts` shuffle partitions,
    * `fixedConf` and log level WARN. */
  def apply(master: String, shuffleParts: Int): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shuffleParts.toString)
    val spark = fixedConf.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
