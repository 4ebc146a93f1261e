package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global ranking — the t7 two-phase pattern (range
  * partition → per-partition counts → prefix-sum offsets) generalized
  * into an operator, so no query ever runs a window over
  * `Window.orderBy(...)` with no partition key: Spark plans that as
  * "moving all data to a single partition", which is the single-task
  * sort that dies first at 100 TB.
  *
  * Shape: one range exchange plus a sort within each range (the
  * distributed sort), pinned by a local checkpoint; one job over the
  * pinned ranges that returns each range's row count (`numPartitions`
  * longs to the driver — bounded by the partition count, not the
  * data); then a narrow pass over the pinned ranges that numbers each
  * range's rows from its offset (the prefix sum of the counts before
  * it). No stage after the range exchange moves a row. Ties are
  * impossible when `sortCols` is a total order, which every caller
  * here supplies.
  *
  * The numbering runs on the ranges' RDD, not as
  * `monotonically_increasing_id` in a projection: Spark rejects that
  * expression anywhere in a streaming plan, and ranked dictionaries
  * are joined to streams (the daily coded tier).
  *
  * Replaces the reference's implicit single-node ranking (pandas
  * reset_index / monotonically_increasing_id id assignment,
  * DB/ETL.ipynb c33/c39) with a plan whose every stage is bounded.
  */
object Ranking {

  /** Global 1-based row_number over `sortCols` (must be a total order
    * for a deterministic result), emitted as `out`, a non-null bigint.
    * The input's columns come back unchanged plus `out`.
    *
    * Not lazy: besides the sampling and upstream jobs that pinning
    * runs (below), the call runs the count job before it returns. */
  def globalRowNumber(df: DataFrame, sortCols: Seq[Column], out: String,
      numPartitions: Int = 0): DataFrame = {
    val n = if (numPartitions > 0) numPartitions
      else df.sparkSession.sessionState.conf.numShufflePartitions
    // PIN the range layout: the ids below are offsets computed from one
    // materialization of the ranges plus positions read from the
    // ranges later. RangePartitioner derives its bounds by SAMPLING its
    // input, so a recomputed layout could have different bounds, and
    // offsets from layout A applied to rows in layout B assign
    // duplicated/skipped global ids — silent id corruption, observed
    // once as a ±1 golden-count flake on the real corpus. The
    // localCheckpoint keeps ONE materialized layout. Even with
    // eager=false it calls execute() on the physical plan, which runs
    // the range partitioner's sampling job at once; under AQE (on in
    // every session here) execute() also runs every upstream shuffle
    // stage, and any cache fill below them. An executor loss after
    // materialization fails the job LOUDLY — recompute-with-different-
    // bounds is exactly what must not happen.
    val pinned = df.repartitionByRange(n, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .localCheckpoint(false)
    // the first job over the pinned ranges materializes every one of
    // them (a job over only some would leave the checkpoint to run
    // another for the rest) and returns one count per range. The range
    // count can be below `n` (few distinct keys)
    val counts = pinned.queryExecution.toRdd
      .mapPartitions(rows => Iterator.single(rows.size.toLong))
      .collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val numbered = pinned.rdd.mapPartitionsWithIndex({ (range, rows) =>
      var id = offsets(range)
      rows.map { r => id += 1; Row.fromSeq(r.toSeq :+ id) }
    }, preservesPartitioning = true)
    df.sparkSession.createDataFrame(numbered,
      pinned.schema.add(out, LongType, nullable = false))
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
