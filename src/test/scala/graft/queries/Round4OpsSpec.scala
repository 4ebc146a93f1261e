package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

/** Hand-computed invariants for the round-4 query operators, beyond
  * the DuckDB oracle (which proves engine parity, not intent). */
class Round4OpsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"

  test("an17: K4 has exactly 4 triangles under degree-ordered counting") {
    // fabricate a lineitem-shaped K4: one order shared by 4 suppliers
    // gives C(4,2)=6 edges, C(4,3)=4 triangles
    val li = Seq.tabulate(4)(i => (1L, (i + 1).toLong))
      .toDF("l_orderkey", "l_suppkey")
    val dir = tempDir("k4").toString
    li.write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val m = AdvancedOps.an17Triangles(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(m === Map("n_nodes" -> 4L, "n_edges" -> 6L, "n_triangles" -> 4L))
  }

  test("t17: df is exact while postings cap at the 20-smallest doc ids") {
    val out = CurationQueries.t17InvertedIndex(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val df = r.getAs[Long]("df")
      val postings = r.getAs[String]("postings").split(",").map(_.toLong).toSeq
      assert(postings.length === math.min(df, 20L).toInt,
        s"word ${r.getString(0)}: block size vs df")
      assert(postings === postings.sorted, "head block is ordered")
    }
    // a word present in >20 docs must still report the full df
    val hot = rows.filter(_.getAs[Long]("df") > 20)
    assert(hot.nonEmpty, "fixture has at least one hot word")
  }

  test("e10: forward fill carries the last observed value across gaps") {
    val out = AdvancedOps.e10Resample(spark, sf)
      .filter($"user_id" === 7L).orderBy($"slot").collect()
    assert(out.nonEmpty)
    // first slot of every user is observed (grid starts at first event)
    assert(out.head.getAs[Boolean]("observed"))
    // unobserved slots repeat the previous filled value; slots are contiguous
    out.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("slot") === a.getAs[Long]("slot") + 1, "gapless grid")
        if (!b.getAs[Boolean]("observed"))
          assert(b.getAs[Long]("vc_ff") === a.getAs[Long]("vc_ff"), "fill carries")
      case _ =>
    }
  }

  test("e18: interpolation hits the exact line between surrounding observations") {
    val out = AdvancedOps.e18Interpolate(spark, sf)
      .orderBy($"user_id", $"slot").collect()
    assert(out.nonEmpty)
    // replay: per user, collect observed (slot, v) pairs and check every
    // unobserved slot against integer-exact line arithmetic
    out.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("slot"))
      assert(sorted.head.getAs[Boolean]("observed") &&
        sorted.last.getAs[Boolean]("observed"), s"user $u grid endpoints observed")
      val obs = sorted.filter(_.getAs[Boolean]("observed"))
        .map(r => r.getAs[Long]("slot") -> r.getAs[Long]("vc_lin"))
      sorted.filterNot(_.getAs[Boolean]("observed")).foreach { r =>
        val s0 = r.getAs[Long]("slot")
        val (sp, vp) = obs.filter(_._1 < s0).last
        val (sn, vn) = obs.filter(_._1 > s0).head
        val want = (vp * (sn - s0) + vn * (s0 - sp)) / (sn - sp)
        assert(r.getAs[Long]("vc_lin") === want, s"user $u slot $s0")
      }
    }
    // observed slots pass their own value through untouched vs e10
    val ff = AdvancedOps.e10Resample(spark, sf)
      .filter($"observed").orderBy($"user_id", $"slot").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("slot")) -> r.getAs[Long]("vc_ff"))
      .toMap
    out.filter(_.getAs[Boolean]("observed")).foreach { r =>
      assert(r.getAs[Long]("vc_lin") ===
        ff((r.getAs[Long]("user_id"), r.getAs[Long]("slot"))))
    }
  }

  test("an32: skew report metrics on a hand-built key distribution") {
    // user 1 x10, user 2 x5, users 3..7 x1 -> 20 rows over 7 keys
    val rows = (Seq.fill(10)(1L) ++ Seq.fill(5)(2L) ++ (3L to 7L)).zipWithIndex
      .map { case (u, i) => (u, i.toLong, new java.sql.Timestamp(1700000000000L + i)) }
    val dir = tempDir("skew").toString
    rows.toDF("user_id", "event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = AdvancedOps.an32SkewReport(spark, dir).collect()
    assert(out.length === 1)
    val r = out.head
    assert(r.getAs[Long]("n_rows") === 20L)
    assert(r.getAs[Long]("n_keys") === 7L)
    assert(r.getAs[Long]("max_n") === 10L)
    assert(r.getAs[Long]("mean_n") === 2L)       // 20 div 7
    assert(r.getAs[Long]("p99_n") === 10L)       // rank ceil(6.93)=7 of 7 asc
    assert(r.getAs[Long]("top_key") === 1L)
    assert(r.getAs[Long]("skew_bp") === 50000L)  // 10*10000 div 2
    assert(r.getAs[Long]("salt_factor") === 5L)  // ceil(10/2)
  }

  test("d11: injected exact copies are always found as semantic dups") {
    val pairs = AdvancedOps.d11SemanticDedup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = (0L until 500L by 83L).map(id => (id, id + 100000L)).toSet
    val copies = pairs.filter { case (v1, v2, _) => v2 - v1 == 100000L && v1 % 83 == 0 }
    assert(copies.map(p => (p._1, p._2)).toSet === expected,
      "every injected copy pair survives clustering + threshold")
    copies.foreach { case (_, _, cos) => assert(cos === 1.0) }
  }

  test("an18: the lattice has exactly the four requested grouping sets") {
    val rows = CoreRelational.an18GroupingSets(spark, sf).collect()
    val byGid = rows.groupBy(_.getAs[Long]("gid")).view.mapValues(_.length).toMap
    val o = graft.Tables.load(spark, sf, "orders")
    val nSt = o.select("o_orderstatus").distinct().count().toInt
    val nPri = o.select("o_orderpriority").distinct().count().toInt
    val nBoth = o.select("o_orderstatus", "o_orderpriority").distinct().count().toInt
    assert(byGid === Map(0L -> nBoth, 1L -> nSt, 2L -> nPri, 3L -> 1))
    // the grand total row equals the table count
    val total = rows.filter(_.getAs[Long]("gid") == 3L).head.getAs[Long]("n")
    assert(total === o.count())
  }

  test("n8: recall is well-formed and IVF@nProbe=all would be exact") {
    val rows = TextPipeline.n8Recall(spark, sf).collect()
    assert(rows.length === 5)
    rows.foreach { r =>
      val hits = r.getAs[Long]("n_hits")
      assert(hits >= 0 && hits <= 10)
      assert(r.getAs[Long]("recall_bp") === hits * 1000)
    }
  }

  test("j8: diff classes partition both snapshots") {
    val m = CoreRelational.j8SnapshotDiff(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val nBase = graft.Tables.load(spark, sf, "customer").count()
    val nRemoved = m.getOrElse("removed", 0L)
    val nAdded = m.getOrElse("added", 0L)
    // every base row is removed/changed/unchanged; added rows are extra
    assert(m.getOrElse("changed", 0L) + m.getOrElse("unchanged", 0L) + nRemoved === nBase)
    assert(nAdded > 0 && nRemoved > 0)
  }
}
