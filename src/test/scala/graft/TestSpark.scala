package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // testdata regeneration once flipped events.ts to TIMESTAMP_NTZ
      // (isAdjustedToUTC=false) and silently broke every event-time
      // operator; with UTC pinned above, plain TIMESTAMP is the same
      // instant and keeps window()/watermarks analyzable
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs the session started while `body` ran. The listener bus is
    * drained before and after, so every job of `body` is counted and
    * none of an earlier test's. */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.incrementAndGet()
    }
    ListenerBusDrain.drain(sc)
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(listener)
    started.get
  }
}
