package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{Bench, SparkEntry, Tables}
import graft.etl.{Clean, EtlMain, Ingest, StarSchema, Writers}

/** One benchmark run inside one JVM: session start, untimed warm-up
  * executions that dump outputs for checking, then closed-loop passes
  * over the workload's operations for at least `--seconds`.
  *
  *   perfbench.Harness --kind etl|queries|probe --ops a,b,...
  *     --data <dir> --work <dir> --out <json> --seconds <s> --seed <n>
  *     --cpus <n> --trace 0|1
  *
  * The JSON written to `--out` holds raw timings, failures with their
  * exception class and message, host-health stamps and, with
  * `--trace 1`, the per-layer numbers; `run.py` turns it into metrics.
  */
object Harness {
  final case class Args(kind: String, ops: Seq[String], data: String,
      work: String, out: String, seconds: Double, seed: Long, cpus: Int,
      trace: Boolean)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("kind"), m.getOrElse("ops", "").split(",").filter(_.nonEmpty).toSeq,
      m.getOrElse("data", ""), m("work"), m("out"), m("seconds").toDouble,
      m("seed").toLong, m("cpus").toInt, m.getOrElse("trace", "0") == "1")
  }

  def now(): Long = System.nanoTime()
  def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Forces a query the way `graft.Bench` does: through the noop sink,
    * so every output column is computed. */
  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  final case class Failure(op: String, phase: String, cls: String, msg: String)

  def failure(op: String, phase: String, e: Throwable): Failure = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    Failure(op, phase, root.getClass.getName,
      Option(root.getMessage).getOrElse("").linesIterator.take(3).mkString(" | "))
  }

  /** Session settings: `graft.Bench`'s for the query and stream
    * workloads, `graft.etl.EtlMain`'s for the ETL workload. Scratch
    * and warehouse directories are kept under the run's work dir. */
  def session(a: Args): SparkSession = {
    val b = SparkSession.builder().master(s"local[${a.cpus}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    val withConf = if (a.kind == "etl") b.appName("graft-etl")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
    else b
      .config("spark.sql.shuffle.partitions",
        Tables.derivedShuffleParts(Tables.inputBytes(a.data), a.cpus).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    val spark = withConf.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Largest heap occupancy a collection has left behind, in bytes,
    * from the collectors' notifications. Unlike resident memory it does
    * not follow how far the collector chose to grow the heap. */
  private val heapAfterGcPeak = new java.util.concurrent.atomic.AtomicLong(0L)

  private def watchCollections(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import scala.jdk.CollectionConverters._
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          heapAfterGcPeak.accumulateAndGet(used, (x: Long, y: Long) => math.max(x, y))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
      _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    watchCollections()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val ticks0 = Bench.cpuTicks()
    val load0 = Bench.loadavg()
    val out = mutable.LinkedHashMap.empty[String, Any]
    val tSession = now()
    val spark = session(a)
    out("session_s") = secs(tSession, now())
    out("session_conf") = Seq("spark.master", "spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled", "spark.sql.session.timeZone",
      "spark.sql.parquet.inferTimestampNTZ.enabled",
      "spark.sql.codegen.cache.maxEntries")
      .map(k => k -> spark.conf.getOption(k).getOrElse("(default)")).toMap
    try {
      val r = if (a.kind == "probe") new Probe(spark, a).run() else new Run(spark, a).run()
      out ++= r
      out("setup_jvm_s") = (r("first_op_epoch_ms").asInstanceOf[Long] - jvmStartMs) / 1e3
    } finally {
      out("peak_rss_mb") = vmHwmMb()
      out("peak_heap_after_gc_mb") = heapAfterGcPeak.get / 1048576.0
      out("health") = Map(
        "steal_pct" -> Bench.stealPct(ticks0, Bench.cpuTicks()),
        "loadavg_start" -> load0, "loadavg_end" -> Bench.loadavg(),
        "calib_s" -> Bench.calibrate())
      Files.writeString(Paths.get(a.out), Json.write(out.toMap))
      spark.stop()
    }
  }

  /** Peak resident set (VmHWM) of this JVM, which in local mode holds
    * the driver and the executors. */
  def vmHwmMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Aggregates per-operation layer counters into one pass: sums,
    * except skew and peaks (max) and the two ratios, recomputed from
    * their sums. */
  def passLayers(ops: Seq[Map[String, Double]], passSec: Double, cores: Int): Map[String, Double] = {
    val keys = ops.flatMap(_.keys).distinct
    val maxed = Set("shuffle.skew", "jvm.heap_peak_mb", "sql.peak_mem_bytes")
    val sums = keys.map { k =>
      val vs = ops.flatMap(_.get(k))
      k -> (if (maxed(k)) vs.foldLeft(0.0)(math.max) else vs.sum)
    }.toMap
    val rowsOut = sums.getOrElse("sql.rows_out", 0.0)
    sums - "sql.rows_scanned" - "sql.rows_out" ++ Map(
      "exec.busy_ratio" ->
        (if (passSec > 0) sums.getOrElse("exec.task_run_s", 0.0) / (passSec * cores) else 0.0),
      "sql.rows_scanned_per_row_out" ->
        (if (rowsOut > 0) sums.getOrElse("sql.rows_scanned", 0.0) / rowsOut else 0.0))
  }
}

/** A workload run: warm-up with output dumps, then the timed loop. */
final class Run(spark: SparkSession, a: Harness.Args) {
  import Harness._

  private val failures = mutable.ArrayBuffer.empty[Failure]
  private var attempted = 0L
  private lazy val trace = new Trace(spark)
  private def isEtl = a.kind == "etl"
  // the ETL corpus: the scraper JSON files in the data dir
  private def inputs: Seq[String] =
    new File(a.data).listFiles().map(_.getPath).filter(_.endsWith(".json")).sorted.toSeq

  private def etl(outDir: String): Unit = EtlMain.main((outDir +: inputs).toArray)

  /** Untimed first execution of every operation; its outputs are what
    * run.py checks. */
  private def warmUp(order: Seq[String]): Unit =
    if (isEtl) {
      attempted += 1
      try etl(s"${a.work}/etl/check")
      catch { case e: Throwable => failures += failure("etl", "check", e) }
    } else order.foreach { name =>
      attempted += 1
      try SparkEntry.queries(name)(spark, a.data).coalesce(1)
        .write.mode("overwrite").parquet(s"${a.work}/results/$name")
      catch { case e: Throwable => failures += failure(name, "check", e) }
    }

  /** One operation; returns its seconds and, when traced, its layer
    * counters plus construction time and jobs. */
  private def op(name: String, traced: Boolean): (Double, Map[String, Double]) = {
    if (traced) trace.begin()
    val t0 = now()
    var tc = 0.0
    var cj = 0L
    try {
      if (isEtl) etl(s"${a.work}/etl/run")
      else {
        val df = SparkEntry.queries(name)(spark, a.data)
        tc = secs(t0, now())
        if (traced) cj = trace.jobsSoFar()
        force(df)
      }
    } catch { case e: Throwable => failures += failure(name, "run", e) }
    val dt = secs(t0, now())
    val layers = if (traced) trace.end(dt) ++ Map(
      "construct.s" -> tc, "construct.jobs" -> cj.toDouble) else Map.empty[String, Double]
    attempted += 1
    (dt, layers)
  }

  /** The ETL pipeline with each lazy stage forced in turn, so stage
    * self time is taken by difference; each cleaning rule's drops are
    * counted by running the public `Clean` rules in sequence. */
  private def etlStages(): Map[String, Double] = {
    def step(body: => Unit): (Double, Map[String, Double], Map[String, Long]) = {
      trace.begin()
      val t0 = now()
      body
      val dt = secs(t0, now())
      val l = trace.end(dt)
      (dt, l, trace.observed().map { case (k, r) => k -> r.getLong(0) })
    }
    def n = count(lit(1))
    def raw = inputs.map(Ingest.readArticles(spark, _)).reduce(_.unionByName(_))
    // Ingest.readMerged is normalize over the union of readArticles;
    // composing them here lets the raw row count be observed too
    val (tI, lI, oI) = step(force(Ingest.normalize(raw.observe("raw", n)).observe("ing", n)))
    // Clean.apply with an observation after each of its three filters,
    // cached as EtlMain caches it
    val pub = Clean.filterPublisher(Ingest.readMerged(spark, inputs)).observe("pub", n)
    val date = Clean.filterDateSentinels(pub).observe("date", n)
    val empty = Clean.filterEmptiness(date).observe("empty", n)
    val clean = Clean.cleanStrings(Clean.sanitizeUnicode(Clean.filterEmails(
      Clean.canonCountries(Clean.dropDead(empty))))).observe("cln", n).cache()
    val (tIC, _, oC) = step(force(clean))
    val star = StarSchema.build(clean)
    val tables = Seq("articles" -> star.articles, "publishers" -> star.publishers,
      "keywords" -> star.keywords, "topics" -> star.topics, "dates" -> star.dates,
      "authors" -> star.authors, "author_article_mapping" -> star.authorArticle,
      "keywords_articles_mapping" -> star.keywordArticle)
      .map { case (k, df) => k -> df.cache() }
    val (tS, lS, oS) = step(tables.foreach { case (k, df) => force(df.observe(s"star_$k", n)) })
    val outDir = s"${a.work}/etl/stages"
    val (tW, lW, _) = step {
      tables.foreach { case (k, df) =>
        Writers.writeCsv(df, s"$outDir/csv/$k", singleFile = true)
        Writers.writeInsertScript(df, k, s"$outDir/sql/$k")
      }
      Writers.writeJsonl(clean, s"$outDir/clean_jsonl")
    }
    val files = Files.walk(Paths.get(outDir)).filter(Files.isRegularFile(_))
      .toArray.map(_.asInstanceOf[java.nio.file.Path])
    tables.foreach(_._2.unpersist()); clean.unpersist()
    Map(
      "ingest.s" -> tI, "ingest.jobs" -> lI("exec.jobs"),
      "ingest.rows_out" -> oI("ing").toDouble,
      "ingest.dup_dropped" -> (oI("raw") - oI("ing")).toDouble,
      "clean.s" -> math.max(0.0, tIC - tI), "clean.rows_out" -> oC("cln").toDouble,
      "clean.dropped.publisher" -> (oI("ing") - oC("pub")).toDouble,
      "clean.dropped.date_sentinel" -> (oC("pub") - oC("date")).toDouble,
      "clean.dropped.emptiness" -> (oC("date") - oC("empty")).toDouble,
      "star.s" -> tS, "star.jobs" -> lS("exec.jobs"),
      "star.rows_total" -> oS.values.sum.toDouble,
      "writers.s" -> tW, "writers.jobs" -> lW("exec.jobs"),
      "writers.bytes" -> files.map(Files.size(_)).sum.toDouble,
      "writers.files" -> files.count(p => !p.getFileName.toString.startsWith(".")).toDouble)
  }

  def run(): Map[String, Any] = {
    val rng = new scala.util.Random(a.seed)
    val names = if (isEtl) Seq("etl") else a.ops
    // an EtlMain run is one operation in a fresh JVM as users run it,
    // so the untraced ETL run times its first (cold) pass and checks
    // that pass's sinks; every other run warms up first
    val tWarm = now()
    if (!isEtl || a.trace) warmUp(rng.shuffle(names))
    val warmS = secs(tWarm, now())
    val tablesLoad = if (a.trace && !isEtl) Tables.all.map { t =>
      val t0 = now(); Tables.load(spark, a.data, t).schema; t -> secs(t0, now())
    }.toMap else Map.empty[String, Double]
    if (a.trace) trace.attach()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val stagePasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val firstOp = System.currentTimeMillis()
    val t0 = now()
    var i = 0
    // four query passes at least, which always outlast --seconds: the
    // JIT keeps warming driver-side code for several passes (on
    // queries_iterative the first pass of a run takes 1.0-1.5 times as
    // long as the fourth), so a pass count that varied with host speed
    // would move the median. A traced run alternates untraced and traced
    // passes, starting untraced, so the tracing overhead is measured on
    // the same warm state
    val minPasses = if (isEtl) 1 else 4
    def more: Boolean =
      secs(t0, now()) < a.seconds || passes.size < minPasses ||
        (a.trace && !passes.exists(_("traced") == true))
    while (more) {
      val traced = a.trace && i % 2 == 1
      val order = rng.shuffle(names)
      val p0 = now()
      val layers = order.map { name =>
        val (dt, l) = op(name, traced)
        ops += Map("name" -> name, "sec" -> dt, "pass" -> i, "traced" -> traced) ++
          (if (traced) Map("layers" -> l) else Map.empty)
        l
      }
      val pSec = secs(p0, now())
      passes += Map("sec" -> pSec, "traced" -> traced) ++
        (if (traced) Map("layers" -> passLayers(layers, pSec, a.cpus)) else Map.empty)
      if (traced && isEtl) stagePasses += etlStages()
      i += 1
    }
    Map("kind" -> a.kind, "ops_list" -> names, "warmup_s" -> warmS,
      "first_op_epoch_ms" -> firstOp, "timed_s" -> secs(t0, now()),
      "passes" -> passes.toSeq, "ops" -> ops.toSeq,
      "stage_passes" -> stagePasses.toSeq, "tables_load" -> tablesLoad,
      "attempted" -> attempted,
      "failures" -> failures.toSeq.map(f => Map("op" -> f.op, "phase" -> f.phase,
        "class" -> f.cls, "message" -> f.msg)),
      "oracle_sql" -> (if (isEtl) Map.empty[String, String]
        else names.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
  }
}

/** The split probe: each operation once untimed, then once traced,
  * recording jobs per execution and the share of wall time with at
  * least one task running. */
final class Probe(spark: SparkSession, a: Harness.Args) {
  import Harness._
  def run(): Map[String, Any] = {
    val trace = new Trace(spark)
    trace.attach()
    val firstOp = System.currentTimeMillis()
    val rows = a.ops.map { name =>
      try {
        force(SparkEntry.queries(name)(spark, a.data))
        trace.begin()
        val t0 = now()
        val df = SparkEntry.queries(name)(spark, a.data)
        val tc = secs(t0, now())
        val cj = trace.jobsSoFar()
        force(df)
        val dt = secs(t0, now())
        val l = trace.end(dt)
        Map("name" -> name, "sec" -> dt, "construct_s" -> tc, "construct_jobs" -> cj,
          "jobs" -> l("exec.jobs"), "task_share" -> (1.0 - l("exec.driver_gap_s") / dt),
          "busy_ratio" -> l("exec.busy_ratio"), "tables_jobs" -> l("tables.schema_jobs"))
      } catch { case e: Throwable =>
        val f = failure(name, "probe", e)
        Map("name" -> name, "error" -> s"${f.cls}: ${f.msg}")
      }
    }
    Map("kind" -> "probe", "probe" -> rows, "first_op_epoch_ms" -> firstOp)
  }
}

/** JSON for the harness artifact, via the Jackson Scala module Spark
  * ships. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def write(v: Any): String = mapper.writeValueAsString(v)
}
