package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (dev loop)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // input-scale-derived shuffle parallelism, same derivation as
    // Bench (r14 — Tables.derivedShuffleParts): the dumped results are
    // partitioning-invariant by construction (the oracle pins them),
    // so Verify only gains the removed empty-reducer scheduling
    val shuffleParts =
      Tables.derivedShuffleParts(Tables.inputBytes(sfDir), cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.session.timeZone", "UTC")
      // keep events.ts a plain TIMESTAMP regardless of how the parquet
      // was written (isAdjustedToUTC drifted across generator versions)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val attempted = SparkEntry.queries.keySet
      .filter(name => only.forall(_.contains(name)))
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    attempted.toSeq.sorted.foreach { name =>
      // a stale dump from a prior run into the same outDir must never
      // stand in for a query that now fails BEFORE its overwrite-write
      // starts (analysis/planning errors) — delete first, so "attempted
      // with no dump" fails the gate as designed
      val stale = new java.io.File(s"$outDir/$name")
      if (stale.exists()) new scala.reflect.io.Directory(stale).deleteRecursively()
      try SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
    }
    // manifest of what was ATTEMPTED, so the oracle gate can tell a
    // dev-loop filter (skip) from a crashed query (hard FAIL) — an
    // attempted query with no parquet dump must fail the gate
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      attempted.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]"))
    def q(s: String): String = JsonText.string(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // A crashed query must be LOUD, not a silent omission from the
    // driver's CORRECTNESS file (round 6 shipped a 12-query regression
    // as "114/114 pass" because failures only went to stderr). Write a
    // machine-readable failures.json and exit non-zero so any caller —
    // the round-start preflight, CI, the driver — sees red immediately.
    Files.writeString(Paths.get(s"$outDir/failures.json"),
      failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    spark.stop()
    if (failures.nonEmpty) {
      System.err.println(
        s"[verify] ${failures.size}/${attempted.size} attempted queries FAILED: " +
          failures.keys.mkString(", "))
      sys.exit(1)
    }
  }
}
