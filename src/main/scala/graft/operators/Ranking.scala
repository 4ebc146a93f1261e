package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global ranking — the t7 two-phase pattern (range
  * partition → partition-local rank → one-row-per-partition offsets)
  * generalized into an operator, so no query ever runs a window over
  * `Window.orderBy(...)` with no partition key: Spark plans that as
  * "moving all data to a single partition", which is the single-task
  * sort that dies first at 100 TB.
  *
  * Shape: one range exchange (the distributed sort), one tiny
  * aggregation for per-partition counts (`numPartitions` rows — the
  * offsets relation is bounded by the partition count, not the data),
  * and one hash exchange on the partition id whose groups are
  * range-partition-sized (~N/numPartitions rows — scale the partition
  * count with the data and no task ever exceeds its share). The
  * global rank of a row is its partition's offset plus its local
  * row_number; ties are impossible when `sortCols` is a total order,
  * which every caller here supplies.
  *
  * Replaces the reference's implicit single-node ranking (pandas
  * reset_index / monotonically_increasing_id id assignment,
  * DB/ETL.ipynb c33/c39) with a plan whose every stage is bounded.
  */
object Ranking {

  /** Global 1-based row_number over `sortCols` (must be a total order
    * for a deterministic result), emitted as `out`. Internal columns
    * are dropped; the input's columns come back unchanged plus `out`. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // PIN the range layout: the counts aggregate and the rank join
    // below BOTH read `parted`, each as its own subplan execution.
    // RangePartitioner derives its bounds by SAMPLING its input, so if
    // the exchange is not reused between those executions (AQE
    // re-plan under load, eviction), the second can sample different
    // bounds — and offsets computed from layout A joined to rows
    // living in layout B assign duplicated/skipped global ids. That is
    // silent id corruption, observed once as a ±1 golden-count flake
    // on the real corpus. The localCheckpoint pins ONE materialized
    // layout both readers share. It is NOT side-effect-free: even with
    // eager=false it calls execute() on the physical plan, which runs
    // the range partitioner's sampling job at once; under AQE (on in
    // every session here) execute() also runs every upstream shuffle
    // stage, and any cache fill below them, before this method
    // returns. Only the final partition-local stage waits for the
    // first action. An executor loss after materialization fails the
    // job LOUDLY — recompute-with-different-bounds is exactly what
    // must not happen.
    val parted = df.repartitionByRange(n, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .localCheckpoint(false)
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    // offsets: cumulative count over the ≤ n partition rows — the only
    // unpartitioned window in the plan, bounded by the partition count
    val offsets = counts.withColumn("__off",
        sum(col("__c")).over(Window.orderBy(col("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("__pid"), coalesce(col("__off"), lit(0L)).as("__off"))
    parted
      .join(broadcast(offsets), "__pid")
      .withColumn(out,
        col("__off") + row_number().over(
          Window.partitionBy(col("__pid")).orderBy(sortCols: _*)))
      .drop("__pid", "__off")
  }

  /** Global ntile(`buckets`) over `sortCols` — SQL semantics exactly:
    * with N rows, the first N mod buckets tiles hold ceil(N/buckets)
    * rows, the rest floor(N/buckets). Computed from the two-phase
    * global rank plus a broadcast total, never a single-partition
    * ntile window. */
  def globalNtile(df: DataFrame, sortCols: Seq[Column], buckets: Int,
      out: String, numPartitions: Int = 0): DataFrame = {
    require(buckets >= 1, s"ntile needs buckets >= 1, got $buckets")
    val ranked = globalRowNumber(df, sortCols, "__rn", numPartitions)
    val total = ranked.agg(count(lit(1)).as("__n"))
    // tiles 1..(N % buckets) have N div buckets + 1 rows; the rest
    // have N div buckets — the SQL-standard split, derived from the
    // global rank and a broadcast 1-row total
    ranked.crossJoin(broadcast(total))
      .withColumn(out,
        when(col("__rn") <= expr(s"(__n div $buckets + 1) * (__n % $buckets)"),
          expr(s"(__rn - 1) div (__n div $buckets + 1) + 1"))
        .otherwise(expr(
          s"(__n % $buckets) + (__rn - 1 - (__n div $buckets + 1) * (__n % $buckets)) div (__n div $buckets) + 1"))
        .cast("int"))
      .drop("__rn", "__n")
  }
}
