package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Two-phase distributed ranking: equality with the single-partition
  * window forms it replaces, stability under input layout, and the
  * SQL ntile split on uneven bucket sizes. */
class RankingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = (1 to 997).map(i => ((i * 7919) % 1000, i))
    .toDF("k", "id") // k collides, (k, id) is total

  test("globalRowNumber equals the single-partition window rank") {
    val want = df.withColumn("rn",
      row_number().over(Window.orderBy($"k", $"id")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSet
    val got = Ranking.globalRowNumber(df, Seq($"k", $"id"), "rn")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2).toInt)).toSet
    assert(got === want)
  }

  test("globalRowNumber is layout-independent") {
    def ranks(d: org.apache.spark.sql.DataFrame) =
      Ranking.globalRowNumber(d, Seq($"k", $"id"), "rn")
        .collect().map(r => (r.getInt(1), r.getLong(2))).toSet
    assert(ranks(df) === ranks(df.repartition(13)))
    assert(ranks(df) === ranks(df.coalesce(1)))
  }

  test("globalNtile matches ntile() exactly, including the uneven split") {
    // 997 rows into 4 tiles: sizes 250, 249, 249, 249
    val want = df.withColumn("q", ntile(4).over(Window.orderBy($"k", $"id")))
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    val got = Ranking.globalNtile(df, Seq($"k", $"id"), 4, "q")
      .collect().map(r => (r.getInt(1), r.getInt(2))).toSet
    assert(got === want)
    val sizes = Ranking.globalNtile(df, Seq($"k", $"id"), 4, "q")
      .groupBy($"q").count().orderBy($"q").collect().map(_.getLong(1)).toSeq
    assert(sizes === Seq(250L, 249L, 249L, 249L))
  }

  test("globalNtile with more buckets than rows mirrors ntile()") {
    val tiny = Seq(5, 1, 3).toDF("id")
    val want = tiny.withColumn("q", ntile(7).over(Window.orderBy($"id")))
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    val got = Ranking.globalNtile(tiny, Seq($"id"), 7, "q")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(got === want)
  }

  test("empty input yields empty output") {
    assert(Ranking.globalRowNumber(df.filter(lit(false)), Seq($"id"), "rn")
      .count() === 0L)
    assert(Ranking.globalNtile(df.filter(lit(false)), Seq($"id"), 4, "q")
      .count() === 0L)
  }

  test("no single-partition window over the data in the plan") {
    // the ids come from per-range counts and positions inside the
    // pinned ranges: no window at all, and no single-partition exchange
    // in the plan the caller runs
    val ranked = Ranking.globalRowNumber(df, Seq($"k", $"id"), "rn")
    val plan = ranked.queryExecution.optimizedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.isEmpty, s"found a window:\n$plan")
    ranked.collect()
    val exec = ranked.queryExecution.executedPlan.toString
    assert(!exec.contains("SinglePartition"), s"found a single-partition exchange:\n$exec")
  }

  /** (k, id, rn) of the single-partition window over `(k, id)`. */
  private def oracle(d: DataFrame): Set[(Int, Int, Long)] =
    d.withColumn("rn", row_number().over(Window.orderBy($"k", $"id")))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2).toLong)).toSet

  private def ranks(d: DataFrame, numPartitions: Int = 0): Set[(Int, Int, Long)] =
    Ranking.globalRowNumber(d, Seq($"k", $"id"), "rn", numPartitions)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet

  test("globalRowNumber with fewer rows than partitions leaves ranges empty") {
    val few = df.limit(3)
    assert(ranks(few, numPartitions = 16) === oracle(few))
    // one distinct key over many partitions: most ranges hold nothing
    val one = Seq((7, 1)).toDF("k", "id")
    assert(ranks(one, numPartitions = 8) === Set((7, 1, 1L)))
  }

  test("globalRowNumber over one hot range numbers it densely and in key order") {
    // 900 rows share k = 0, ranked by k alone: the range partitioner
    // cannot split the hot key, so one range holds at least 900 rows
    val hot = (1 to 1000).map(i => (if (i <= 900) 0 else i, i)).toDF("k", "id")
    val ranked = Ranking.globalRowNumber(hot, Seq($"k"), "rn")
    val sizes = ranked.groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
    assert(sizes.max >= 900, s"range sizes ${sizes.toSeq}")
    val got = ranked.collect().map(r => (r.getInt(0), r.getLong(2)))
    assert(got.map(_._2).sorted.toSeq === (1L to 1000L))
    // the 900 tied rows take ids 1..900, the rest follow in k order
    assert(got.filter(_._1 == 0).map(_._2).max === 900L)
    assert(got.filter(_._1 > 0).sortBy(_._1).map(_._2).toSeq === (901L to 1000L))
  }

  test("globalRowNumber honours the numPartitions override") {
    val ranked = Ranking.globalRowNumber(df, Seq($"k", $"id"), "rn", numPartitions = 3)
    assert(ranked.queryExecution.toRdd.getNumPartitions === 3)
    assert(ranks(df, numPartitions = 3) === oracle(df))
    assert(ranks(df, numPartitions = 11) === oracle(df))
  }

  test("globalRowNumber's id is a non-null bigint, with or without ANSI") {
    val key = "spark.sql.ansi.enabled"
    val prior = spark.conf.getOption(key)
    try {
      for (ansi <- Seq("true", "false")) {
        spark.conf.set(key, ansi)
        val f = Ranking.globalRowNumber(df, Seq($"k", $"id"), "rn").schema("rn")
        assert(f.dataType === LongType, s"ansi=$ansi")
        assert(!f.nullable, s"ansi=$ansi")
      }
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("globalRowNumber's ids match the oracle and stay put across actions") {
    // each action re-reads the pinned ranges: a recomputed range layout
    // would shift the ids between the two collects
    val ranked = Ranking.globalRowNumber(df.repartition(13), Seq($"k", $"id"), "rn")
    def ids = ranked.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSet
    val first = ids
    assert(first === oracle(df))
    assert(ids === first)
  }

  test("globalRowNumber plus its first action runs at most 4 jobs") {
    // measured: 4 — the range sampling, the range exchange's map
    // stage, the count job that materializes the pinned ranges, and
    // the action's job over them. With the counts aggregated and
    // joined back to the ranges as offsets, the call and its first
    // action ran 7.
    val jobs = TestSpark.jobsDuring {
      Ranking.globalRowNumber(df, Seq($"k", $"id"), "rn")
        .write.format("noop").mode("overwrite").save()
    }
    assert(jobs <= 4, s"globalRowNumber launched $jobs jobs")
  }
}
