package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Collectors for the traced run. They use only Spark's public
  * listener interfaces (SparkListener, QueryExecutionListener,
  * StreamingQueryListener), CodegenMetrics and the JVM MXBeans, and are
  * attached from benchmark code: the program under test is not changed.
  *
  * Usage: `attach()` once, then `begin()` before an operation and
  * `end()` after it; `end` drains the listener bus and returns the
  * operation's counters. */
final class Trace(spark: SparkSession) {
  private val cores = spark.sparkContext.defaultParallelism

  // raw events of the current operation, filled by the listeners
  // per job: whether its call site is inside graft.Tables
  private val jobs = mutable.ArrayBuffer.empty[Boolean]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val qes = mutable.ArrayBuffer.empty[(String, QueryExecution)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]
  private var c = Counters()

  private case class Counters(
      stages: Long = 0, tasks: Long = 0, runMs: Long = 0, cpuNs: Long = 0,
      gcMs: Long = 0, shWrite: Long = 0, shRead: Long = 0, spill: Long = 0)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += e.stageInfos.exists(_.details.contains("graft.Tables"))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { c = c.copy(stages = c.stages + 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val i = e.taskInfo
      taskSpans += ((i.launchTime, i.finishTime))
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += i.duration
      if (m != null) c = c.copy(
        tasks = c.tasks + 1, runMs = c.runMs + m.executorRunTime,
        cpuNs = c.cpuNs + m.executorCpuTime, gcMs = c.gcMs + m.jvmGCTime,
        shWrite = c.shWrite + m.shuffleWriteMetrics.bytesWritten,
        shRead = c.shRead + m.shuffleReadMetrics.totalBytesRead,
        spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled)
      else c = c.copy(tasks = c.tasks + 1)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      synchronized { qes += ((f, qe)) }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      synchronized { qes += ((f, qe)) }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcMs: Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum
  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  private var wall0 = 0L
  private var gc0 = 0L
  private var cg0 = (0L, 0.0)

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Job count so far in this operation (drains the bus first). */
  def jobsSoFar(): Long = {
    BenchBus.drain(spark.sparkContext)
    synchronized(jobs.size.toLong)
  }

  def begin(): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized {
      jobs.clear(); stageTasks.clear(); taskSpans.clear(); qes.clear()
      progress.clear(); c = Counters()
    }
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    cg0 = codegen
    wall0 = System.currentTimeMillis()
  }

  /** Counters of the operation since `begin()`, by per-layer metric
    * name. `wallSec` is the caller's own timing of the operation. */
  def end(wallSec: Double): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    val wall1 = System.currentTimeMillis()
    val (cgN, cgMean) = codegen
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    synchronized {
      val busy = unionMs(taskSpans.toSeq, wall0, wall1)
      val skew = stageTasks.values.filter(_.size >= 2).map { ts =>
        val s = ts.sorted
        val med = s(s.size / 2).toDouble
        if (med <= 0) 1.0 else s.last / med
      }.foldLeft(0.0)(math.max)
      val phases = qes.toSeq.flatMap { case (_, qe) => qe.tracker.phases.toSeq }
      def phase(p: String): Double =
        phases.collect { case (k, v) if k == p => v.durationMs }.sum / 1e3
      // the forcing noop write runs as an eager command
      val writes = qes.toSeq.collect { case (f, qe) if f == "command" || f == "save" => qe }
      val nodes = writes.flatMap(qe => planNodes(qe.executedPlan))
      def metric(n: SparkPlan, k: String): Long =
        n.metrics.get(k).map(_.value).getOrElse(0L)
      val scanned = nodes.filter(isScan).map(metric(_, "numOutputRows")).sum
      val rowsOut = writes.map { qe =>
        planNodes(qe.executedPlan).find(_.metrics.contains("numOutputRows"))
          .map(metric(_, "numOutputRows")).getOrElse(0L)
      }.sum
      val peakMem = nodes.flatMap(_.metrics.collect {
        case (k, m) if k.toLowerCase.contains("peakmemory") => m.value
      }).foldLeft(0L)(math.max)
      val prog = progress.toSeq.map(_.progress)
      val stateRows = prog.groupBy(_.id).values.map(ps =>
        ps.map(_.stateOperators.map(_.numRowsTotal).sum).max).sum
      val cgDelta = cgN - cg0._1
      Map(
        "exec.jobs" -> jobs.size.toDouble,
        "exec.stages" -> c.stages.toDouble,
        "exec.tasks" -> c.tasks.toDouble,
        "exec.driver_gap_s" -> math.max(0.0, wallSec - busy / 1e3),
        "exec.task_run_s" -> c.runMs / 1e3,
        "exec.task_cpu_s" -> c.cpuNs / 1e9,
        "exec.task_gc_s" -> c.gcMs / 1e3,
        "exec.busy_ratio" -> (if (wallSec > 0) c.runMs / 1e3 / (wallSec * cores) else 0.0),
        "shuffle.write_bytes" -> c.shWrite.toDouble,
        "shuffle.read_bytes" -> c.shRead.toDouble,
        "shuffle.spill_bytes" -> c.spill.toDouble,
        "shuffle.skew" -> skew,
        "tables.schema_jobs" -> jobs.count(identity).toDouble,
        "plan.analysis_s" -> phase("analysis"),
        "plan.optimization_s" -> phase("optimization"),
        "plan.planning_s" -> phase("planning"),
        "plan.executions" -> qes.size.toDouble,
        "sql.nodes" -> nodes.size.toDouble,
        "sql.rows_scanned" -> scanned.toDouble,
        "sql.rows_out" -> rowsOut.toDouble,
        "sql.peak_mem_bytes" -> peakMem.toDouble,
        // CodegenMetrics keeps a sampled histogram of compile times, so
        // compile seconds are estimated as compilations x sampled mean
        "codegen.classes" -> cgDelta.toDouble,
        "codegen.compile_s" -> (if (cgDelta > 0) cgDelta * cgMean / 1e3 else 0.0),
        "stream.batches" -> prog.size.toDouble,
        "stream.batch_s" -> prog.map(_.batchDuration).sum / 1e3,
        "stream.commit_s" -> prog.map(_.stateOperators.map(_.commitTimeMs).sum).sum / 1e3,
        "stream.state_rows" -> stateRows.toDouble,
        "jvm.gc_s" -> (gcMs - gc0) / 1e3,
        "jvm.heap_peak_mb" -> heapPeak / 1048576.0)
    }
  }

  /** Observed metrics (`Dataset.observe`) of the actions seen since
    * `begin()`, by observation name; read after `end()`. */
  def observed(): Map[String, Row] = synchronized {
    qes.toSeq.flatMap(_._2.observedMetrics).toMap
  }

  private def isScan(n: SparkPlan): Boolean = {
    val name = n.nodeName
    name.startsWith("Scan") || name.contains("TableScan") || name.startsWith("BatchScan")
  }

  /** Every node of the final (post-AQE) physical plan, including the
    * plans inside query stages and subqueries. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _ =>
        out += n
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  /** Milliseconds of [lo, hi] covered by at least one task span. */
  private def unionMs(spans: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var curS = -1L
    var curE = -1L
    spans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) covered += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) covered += curE - curS
    covered
  }
}
