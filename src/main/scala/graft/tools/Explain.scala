package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/** Dumps the formatted physical plan of every headline query to
  * PLANS.md — the explain-driven feedback loop: check that filters are
  * pushed to the parquet scan, dims broadcast, and whole-stage codegen
  * spans stay wide. Run after any plan-shape change:
  *
  *   runMain graft.tools.Explain [sfDir] [outFile]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outFile = args.drop(1).headOption.getOrElse("PLANS.md")
    val spark = GraftSession("local[4]", 4)

    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
    sb.append(s"Generated by `graft.tools.Explain` on `$sfDir`. Things to\n")
    sb.append("check per plan: `PushedFilters`/`ReadSchema` on the scans\n")
    sb.append("(pushdown + pruning), `BroadcastHashJoin` for dim joins,\n")
    sb.append("wide `WholeStageCodegen` spans, and no unexpected\n")
    sb.append("`Exchange` (shuffle) nodes.\n")

    // real-streaming queries EXECUTE on construction and return a
    // memory-sink read, not the streaming topology — same exclusion
    // as PlanAudit/PlanShapeSpec
    graft.Bench.headline.filterNot(PlanAudit.excluded.contains).foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n```\n$plan```\n")
    }
    Files.write(Paths.get(outFile), sb.toString.getBytes(StandardCharsets.UTF_8))
    println(s"[explain] wrote $outFile")
    spark.stop()
  }
}
