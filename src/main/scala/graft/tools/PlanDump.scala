package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Dumps the formatted physical plan of NAMED queries to per-query
  * files — the optimization-round evidence trail (`plans/r13/`): one
  * `<query>_<tag>.txt` per query so a before/after plan diff can be
  * reviewed without running Spark. Same session shape as
  * [[Explain]]; same real-streaming exclusion (those execute on
  * construction and return a memory-sink read, not the topology).
  *
  * Construction-time-execution caveat (advisor note, r13): queries
  * whose operators EAGERLY materialize at build time — the iterative
  * graph family (an15 pageRank's terminal checkpoint, an30 kHopReach's
  * seed/loop checkpoints, d16 connectedComponents' round loop), the PQ
  * codebook training (n7/n10/n11/n12/d11/an23), and e10/e18's slotv
  * pin — run real Spark jobs when dumped here, and the dumped plan
  * shows `Scan ExistingRDD` where the interesting upstream work
  * happened. For those, the evidence trail is a traced run
  * (`perfbench/probe.py --ops <query>` records its jobs and task-time
  * share) plus the operator's scaladoc, not this dump.
  *
  *   runMain graft.tools.PlanDump <outDir> <tag> <q1,q2,...> [sfDir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <tag> <q1,q2,...> [sfDir]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = args.drop(3).headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("local[4]", 4)
    Files.createDirectories(outDir)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      val f = outDir.resolve(s"${name}_$tag.txt")
      Files.write(f, plan.getBytes(StandardCharsets.UTF_8))
      println(s"[plandump] wrote $f")
    }
    spark.stop()
  }
}
