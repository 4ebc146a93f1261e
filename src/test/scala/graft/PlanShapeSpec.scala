package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regressions: PLANS.md documents the physical plans we
  * want; these tests ENFORCE the load-bearing properties — column
  * pruning at the scan, broadcast dims, and the absence of
  * quadratic join strategies in the dedup path. */
class PlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def sparkPlan(name: String) =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  test("q1 scan reads only the referenced lineitem columns") {
    val scans = sparkPlan("q1_agg").collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq
    }
    assert(scans.nonEmpty)
    // lineitem has 11+ columns; q1 touches 6
    assert(scans.head.size <= 7, s"scan not pruned: ${scans.head}")
  }

  test("fact-dim join broadcasts the dimensions") {
    val p = sparkPlan("j1_fact_dims").toString
    assert(p.contains("BroadcastHashJoin"), s"dims not broadcast:\n$p")
  }

  test("s14 partitioned read prunes at the directory level") {
    val scans = sparkPlan("s14_partition_prune")
      .collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty)
    val scan = scans.head
    // the year predicate must be a PARTITION filter (pruned before
    // listing), not a data filter evaluated per row
    assert(scan.partitionFilters.map(_.toString).exists(_.contains("o_year")),
      s"o_year not a partition filter: ${scan.partitionFilters}")
    assert(!scan.dataFilters.map(_.toString).exists(_.contains("o_year")),
      s"o_year degraded to a data filter: ${scan.dataFilters}")
    // exactly one of the seven year directories survives pruning
    assert(scan.metadata("PartitionFilters").contains("o_year"))
  }

  test("minhash dedup plans no quadratic join strategy") {
    val p = sparkPlan("d2_minhash_lsh").toString
    assert(!p.contains("CartesianProduct"), "cartesian product in d2")
    assert(!p.contains("BroadcastNestedLoopJoin"), "nested-loop join in d2")
  }

  test("as-of join is the single-shuffle union-merge form") {
    val p = sparkPlan("j4_asof_join").toString
    // the naive encoding would show a non-equi join (nested loop /
    // cartesian with a range condition); the union-merge form has none
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"range-join blowup in j4:\n$p")
  }

  test("no query plans a scale-killer shape (executedPlan audit with rationale allowlists)") {
    // r10: the sweep runs on PlanAudit.scan — the POST-
    // EnsureRequirements executedPlan, which CONTAINS the exchanges
    // the planner inserts for distribution requirements. The r9 sweep
    // read sparkPlan, where `Exchange SinglePartition` cannot appear
    // by construction — a vacuous ban (the r9 verdict's audit-gap
    // finding). Allowed shapes carry a per-query boundedness rationale
    // in PlanAudit.singlePartitionAllowed / bnljAllowed (the single
    // canonical copy the PlanAudit main also prints): one-row scalar
    // aggregates, key-cardinality totals, k-item broadcast fan-outs.
    // CartesianProduct has no allowlist — never acceptable. e4-family excluded: constructing a
    // real streaming query returns the memory-sink read plan, not the
    // streaming topology.
    import graft.tools.PlanAudit
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => PlanAudit.excluded.contains(n) }
      .flatMap { case (name, fn) =>
        PlanAudit.scan(fn(spark, sf))
          .filterNot(s => s == "BroadcastNestedLoopJoin" &&
            PlanAudit.bnljAllowed.contains(name))
          .filterNot(s => s == "Exchange SinglePartition" &&
            PlanAudit.singlePartitionAllowed.contains(name))
          .map(s => s"$name: $s")
      }
    assert(offenders.isEmpty, s"scale-killer plans:\n${offenders.mkString("\n")}")
  }

  test("canary: the audit detector FIRES on an injected unpartitioned window") {
    // proves the r10 executedPlan sweep can actually see the shape it
    // bans (the r9 sweep could not): a Window.orderBy with no
    // partitionBy plans `Exchange SinglePartition` — every row through
    // one task — and scan() must report it
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val bad = spark.read.parquet(s"$sf/orders.parquet")
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
    val hits = graft.tools.PlanAudit.scan(bad)
    assert(hits.contains("Exchange SinglePartition"),
      s"audit failed to flag a single-partition window; saw: $hits")
    // and the same query through the two-phase Ranking operator is clean
    val good = graft.operators.Ranking.globalRowNumber(
      spark.read.parquet(s"$sf/orders.parquet"),
      Seq(col("o_orderkey")), "rn")
    // globalRowNumber reads its offsets from the per-range counts the
    // call collected: its plan carries no suspect shape at all
    val goodHits = graft.tools.PlanAudit.scan(good)
    assert(goodHits.isEmpty, s"the two-phase rank plans a suspect shape: $goodHits")
  }

  test("allowlists only name registered queries (no stale entries)") {
    import graft.tools.PlanAudit
    val unknown = (PlanAudit.singlePartitionAllowed.keySet ++
      PlanAudit.bnljAllowed.keySet).filterNot(SparkEntry.queries.contains)
    assert(unknown.isEmpty, s"allowlist entries for unregistered queries: $unknown")
  }

  test("every allowlisted query still plans the shape it is allowed") {
    // an entry whose query no longer plans the shape is a rationale
    // for nothing, and would silently excuse the shape if it returned
    import graft.tools.PlanAudit
    val entries = PlanAudit.singlePartitionAllowed.keySet.map(_ -> "Exchange SinglePartition") ++
      PlanAudit.bnljAllowed.keySet.map(_ -> "BroadcastNestedLoopJoin")
    val stale = entries.toSeq.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (name, shapes) =>
      val hits = PlanAudit.scan(SparkEntry.queries(name)(spark, sf))
      shapes.map(_._2).filterNot(hits.contains).map(s => s"$name: $s")
    }
    assert(stale.isEmpty, s"allowlist entries whose query no longer plans the shape:\n${stale.mkString("\n")}")
  }

  test("every query result is driver-sortable: no complex types at the top level") {
    // the r7 n10 failure mode: the driver's correctness harness
    // lexsorts result rows via pandas factorize, which throws
    // `unhashable type` on array/map/struct cells — a query can be
    // oracle-exact and still red. The gate convention is to flatten
    // before returning (f9 array_join, an24/n10 concat_ws); this pins
    // it. Streaming queries are excluded here (construction executes a
    // real stream); their scalar output schemas are pinned by
    // StreamsSpec/EventQueriesSpec result assertions instead.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => graft.tools.PlanAudit.excluded.contains(n) }
      .flatMap { case (name, fn) =>
        fn(spark, sf).schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
      }
    assert(offenders.isEmpty,
      s"non-driver-sortable result columns:\n${offenders.mkString("\n")}")
  }

  test("s18 html extraction is map-only: the single exchange is the presentation sort") {
    // regex field extraction must stay per-row expression work — a
    // shuffle anywhere before the orderBy means the extractor stopped
    // being embarrassingly parallel
    // sparkPlan is pre-EnsureRequirements: the sort's range exchange is
    // not yet inserted, so any Exchange visible HERE is an explicit
    // extra shuffle the extractor must not have
    val p = sparkPlan("s18_html_extract").toString
    assert("Exchange".r.findAllIn(p).isEmpty, s"extra shuffles in s18:\n$p")
  }

  test("t28: keeper discovery is ONE hash-keyed window; island window doc-partitioned") {
    // r13 shape: the keeper min/count ride a single window partitioned
    // by the fingerprint (one shuffle of the window relation — the old
    // groupBy + join-back shape shuffled it twice and materialized it)
    val p = sparkPlan("t28_exact_spans").toString
    assert(p.contains("windowspecdefinition(h#"),
      s"keeper window not partitioned by the hash key:\n$p")
    // the keeper total order is the type-preserving (doc_id, pos)
    // STRUCT — a rework must not silently reintroduce the retired
    // doc_id*100000+pos long encoding (string-id corruption, overflow)
    assert(p.contains("struct(doc_id"),
      s"keeper not the struct total order:\n$p")
    assert(p.contains("windowspecdefinition(doc_id"),
      s"island window not partitioned by doc:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair blowup in t28:\n$p")
  }

  test("t30 span excision: clean docs pass through byte-identical; n-grams broadcast; fan-out bounded") {
    // the r8 third-pass rework's invariants, pinned so a future edit
    // can't silently regress them: (a) the final projection keeps the
    // ORIGINAL text for uncovered docs (CASE ... THEN __text) instead
    // of re-tokenizing the whole corpus; (b) the benchmark n-gram
    // relation joins as a BROADCAST on the hash key (eval sets are
    // small by definition); (c) coverage expands HITS only, via the
    // bounded explode(sequence(pos, pos+n-1)) — never a corpus-wide
    // word explode into the shuffle
    val p = sparkPlan("t30_decontaminate_spans").toString
    assert(p.contains("THEN __text"),
      s"clean-doc pass-through projection gone from t30:\n$p")
    assert(p.contains("BroadcastHashJoin [h"),
      s"benchmark n-grams not broadcast in t30:\n$p")
    assert(p.contains("explode(sequence(pos"),
      s"coverage fan-out shape changed in t30:\n$p")
  }

  test("t31 excision: ONE hash-keyed keeper window; struct total order; pass-through project") {
    // r13 shape: same keeper-window rework as t28 — one shuffle of the
    // window relation instead of groupBy + join-back + checkpoint
    val p = sparkPlan("t31_excise_duplicates").toString
    assert(p.contains("windowspecdefinition(h#"),
      s"keeper window not partitioned by the hash key:\n$p")
    assert(p.contains("struct(doc_id"),
      s"keeper not the struct total order:\n$p")
    assert(p.contains("THEN __text"),
      s"clean-doc pass-through projection gone from t31:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair blowup in t31:\n$p")
  }

  test("t32 trained classifier: weights join broadcasts; scoring is one map-side-combined doc aggregate") {
    // the trained-weights contract: swapping the stand-in weight
    // expression for a real model changes ONLY an arithmetic column
    // into a broadcast hash join — the corpus side must stay a single
    // explode + per-doc aggregate, exactly t29's shape
    val p = sparkPlan("t32_trained_classifier").toString
    assert(p.contains("BroadcastHashJoin [j"),
      s"weight relation not broadcast in t32:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc sum not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus-sized join in t32 (weights must broadcast):\n$p")
  }

  test("t38 repetition battery: every window is doc-partitioned; gram aggs combine map-side") {
    val p = sparkPlan("t38_gopher_repetition").toString
    // five gram branches, all keyed by the doc: any windowspec must be
    // partitioned (the global audit separately bans the unpartitioned
    // kind); the per-(doc,gram) counts must combine map-side
    assert(p.contains("windowspecdefinition(doc_id"),
      s"top-gram pick lost its doc partitioning:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"gram counts not map-side combined:\n$p")
  }

  test("an33 sketch roll-up: no Expand — the point is avoiding count-distinct's double shuffle") {
    // count(distinct) plans Expand + a (group, key) re-shuffle; the
    // sketch roll-up must not (one fact shuffle to the fine grain,
    // then sketch-table work only)
    val p = sparkPlan("an33_bitmap_rollup").toString
    assert(!p.contains("Expand"), s"Expand in the sketch roll-up:\n$p")
    assert(p.contains("bitmap_sketch") && p.contains("bitmap_merge_count"),
      s"sketch pair missing from plan:\n$p")
  }

  test("an34 retention: distinct-before-count keeps Expand out; matrix aggs combine map-side") {
    val p = sparkPlan("an34_retention").toString
    assert(!p.contains("Expand"), s"Expand in retention matrix:\n$p")
    assert(p.contains("partial_count"), s"matrix counts not map-side combined:\n$p")
  }

  test("t39 novelty: gram counts join as hash equi-joins, per-doc agg combines map-side") {
    val p = sparkPlan("t39_ngram_novelty").toString
    assert(p.contains("partial_count"), s"gram/doc counts not map-side combined:\n$p")
    assert(!p.contains("SortMergeJoin [__text") && !p.contains("CartesianProduct"),
      s"novelty joining on non-key columns:\n$p")
  }

  test("t29 classifier scoring is one map-side-combined doc aggregate") {
    val p = sparkPlan("t29_hashed_classifier").toString
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"per-doc sum not map-side combined:\n$p")
    // explode → agg → sort; pre-EnsureRequirements only explicit
    // shuffles show, and there must be none
    assert("Exchange".r.findAllIn(p).isEmpty, s"extra shuffles in t29:\n$p")
  }

  test("n17 blockwise quantization plans no explicit shuffle (map-only before the sort)") {
    val p = sparkPlan("n17_blockwise_quant").toString
    assert("Exchange".r.findAllIn(p).isEmpty, s"extra shuffles in n17:\n$p")
  }

  test("t7 packing's running sum never funnels rows to one task") {
    // the r2 scale-killer: Window.orderBy with no partitionBy plans an
    // Exchange SinglePartition before the window — every chunk row
    // through a single task. r10: asserted on the EXECUTED plan (the
    // representation that contains exchanges — the sparkPlan version
    // of this assert was near-vacuous, r9 verdict), with NO allowlist
    // entry: t7's two-phase design keeps even the offsets relation off
    // a dedicated single-partition exchange here.
    val p = SparkEntry.queries("t7_packing")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange SinglePartition"),
      s"single-partition exchange in t7:\n$p")
    // and the window itself must be partitioned (by pid)
    assert(p.contains("windowspecdefinition(pid"),
      s"t7 window not partitioned by pid:\n$p")
  }
}
