package graft.tools

import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry}

/** Sweeps EVERY registered query's physical plan for the shapes that
  * die at 100 TB: Exchange SinglePartition (one-task funnels),
  * CartesianProduct, and BroadcastNestedLoopJoin. Prints one line per
  * offender; PlanShapeSpec pins the allowlists.
  *
  * r10: the sweep runs on `executedPlan` — the POST-EnsureRequirements
  * physical plan (under AQE, the adaptive initial plan, which already
  * carries every distribution-requirement exchange). The r9 audit read
  * `sparkPlan`, the pre-EnsureRequirements plan, which by construction
  * cannot contain the `Exchange SinglePartition` it claimed to ban —
  * the 10 bounded funnels PLANS.md showed were invisible to it. Now
  * they are visible, and each is ALLOWLISTED with its boundedness
  * rationale ([[singlePartitionAllowed]]) instead of denied; the
  * PlanShapeSpec canary proves the detector actually fires on an
  * injected unpartitioned window.
  */
object PlanAudit {
  val suspects = Seq("Exchange SinglePartition", "CartesianProduct",
    "BroadcastNestedLoopJoin")

  /** Constructing e4 EXECUTES a real streaming query and its returned
    * plan is the memory-sink read, not the streaming topology — an
    * always-green audit row that costs a full stream run. PlanShapeSpec
    * shares this exclusion; the set itself is the canonical
    * [[graft.streaming.Streams.realStreamingGateQueries]] (also
    * consumed by Bench's streaming split). */
  val excluded: Set[String] =
    graft.streaming.Streams.realStreamingGateQueries

  /** The suspect shapes present in `df`'s final physical plan — the
    * one detector PlanAudit, PlanShapeSpec's global audit, and the
    * canary all share, so "the audit can see the shape" is proven by
    * the same code path that enforces it. */
  def scan(df: DataFrame): Seq[String] = {
    val plan = df.queryExecution.executedPlan.toString
    suspects.filter(plan.contains)
  }

  /** Queries whose executed plan carries an `Exchange SinglePartition`
    * that is BOUNDED BY CONSTRUCTION — a relation whose row count is a
    * scalar, |shuffle partitions|, or a fixed top-k, never data-sized.
    * Every entry names its funnel; anything not listed here is a
    * failure. [[graft.operators.Ranking]]'s two-phase global rank is
    * not among the sources: its per-range counts reach the driver as
    * one long per range, so its plans carry no single-partition
    * exchange. */
  val singlePartitionAllowed: Map[String, String] = Map(
    "a1_count_audit" -> "one-row scalar aggregate merge (|partitions| partials), unpivoted via stack",
    "a3_surrogate_ids" -> "unpartitioned row_number window over the DISTINCT nation names (|nations| rows: key-cardinality, not data-sized)",
    "a4_profile" -> "three one-row scalar profile aggregates, unioned",
    "a6_dq_audit" -> "single one-row scalar aggregate + stack unpivot (one scan, any constraint count)",
    "an17_triangles" -> "three scalar COUNT aggregates unioned as rows",
    "an25_convert_latency" -> "one-row user-count scalar aggregate (feeds the allowed crossJoin)",
    "an27_mix_entropy" -> "unpartitioned total window over the |sources|-row AGGREGATE (key-cardinality, not data-sized)",
    "an32_skew_report" -> "scalar histogram aggregate + one-row p99 pick (feeds the allowed crossJoins)",
    "c2_quality_gate" -> "one-row threshold scalar aggregate (feeds the allowed crossJoin)",
    "c4_curation_funnel" -> "five per-stage one-row attrition scalars unioned (an17 shape) over already-audited stage operators",
    "j15_compat_bridges" -> "eight one-row scalar counts unioned as labeled rows (an17 shape)",
    "s16_compaction" -> "one-row content-preservation scalar (count + key sum) over the compacted output",
    "s17_corrupt_records" -> "one-row quarantine-accounting scalar aggregate",
    "t8_stratified_sample" -> "one-row n_min scalar aggregate (feeds the allowed crossJoin)",
    "u9_time_travel" -> "one-row count + cutoff scalar aggregates (feed the allowed crossJoins)",
    "an3_ntile" -> "globalNtile's one-row total count (feeds the allowed broadcast crossJoin)",
    "an29_decile_lift" -> "inherits an3's globalNtile one-row total count",
    "j6_bloom_semijoin" -> "bloom bitmap built by a one-row aggregate (the no-shuffle probe design)",
    "e8_funnel" -> "one-row scalar funnel totals (conversion denominators)",
    "t9_tfidf" -> "one-row corpus-N scalar aggregate",
    "t12_domain_mix" -> "one-row total for mix shares",
    "t19_bigram_lm" -> "one-row vocabulary scalar crossJoin (t9 pattern)",
    "t33_bm25" -> "one-row (N, sum dl) stats aggregate",
    "n18_rrf_fusion" -> "inherits t33's one-row stats aggregate; fusion joins two top-50 lists",
    "an37_dict_distinct" -> "Dictionary.encode's one-row dict_id identity scalar over the DISTINCT key set",
    "an40_dict_append" -> "one-row identity/audit/max-code/moved-count scalars over the batch-1 dict and the incremental NEW-key set (both dictionary-cardinality)",
    "an48_coded_dict_merge" -> "inherits an40's one-row identity/audit scalars (same two-generation encode path, coded sketch tier)",
    "an44_cms_rollup" -> "one-row corpus-sketch merge (|sources| fixed-size 64 KiB sketches funnel to one row)",
    "an49_cms_probe_multi" -> "an44's one-row corpus-sketch merge + the one-row top-20 key-array collect (both bounded by construction)",
    "an50_kmv_kway" -> "one-row |types| sketch-array collect (key-cardinality, fixed-k sketches — never data-sized)",
    "an51_coded_churn" -> "inherits an37's Dictionary.encode shape: the one-row dict_id identity scalar over the DISTINCT props set",
    "an52_dict_audit" -> "auditCodedTier = two one-row aggregates (dictionary stats + sketch-table stats over per-row byte readers) + an37's encode shapes")

  /** BroadcastNestedLoopJoin sites where the broadcast side is bounded
    * by construction (one-row scalars, fixed query fan-outs, k
    * centroids). CartesianProduct has no allowlist — it is never
    * acceptable. */
  val bnljAllowed: Map[String, String] = Map(
    "n1_cosine_topk" -> "bounded 5-query broadcast fan-out (deliberate brute-force baseline)",
    "n2_ann_ivf" -> "bounded query fan-out against probed cells",
    "n6_quantized_topk" -> "bounded query fan-out over quantized codes",
    "n7_kmeans" -> "Lloyd assignment broadcasts k=8 centroids",
    "d11_semantic_dedup" -> "inherits n7's broadcast k=8 centroid assignment",
    "n8_recall" -> "composes n1's exact side (broadcast 5-query fan-out)",
    "n9_lsh_recall" -> "composes n1's exact side (broadcast 5-query fan-out)",
    "j6_bloom_semijoin" -> "ONE-ROW bloom bitmap relation (ScaleOpsSpec asserts the BNLJ IS the design)",
    "t8_stratified_sample" -> "one-row n_min scalar crossJoin",
    "t9_tfidf" -> "one-row corpus-N scalar crossJoin",
    "t13_decontaminate" -> "one-row planted snippet (test scaffolding; operator join is equi broadcast)",
    "an3_ntile" -> "one-row broadcast total crossJoin for tile boundaries",
    "n10_pq_codes" -> "per-subspace broadcast k=8 sub-codebooks",
    "n11_pq_adc_topk" -> "per-query LUT build: 3 queries x 8 centroids",
    "n12_ivf_pq" -> "composes n2 + n10's bounded broadcasts",
    "n14_jl_recall" -> "composes n1's exact side + jlTopK's 5-query fan-out",
    "t19_bigram_lm" -> "one-row broadcast vocabulary scalar crossJoin (t9 pattern)",
    "c2_quality_gate" -> "one-row broadcast threshold crossJoin",
    "an25_convert_latency" -> "one-row broadcast user-count crossJoin for the ranks",
    "u9_time_travel" -> "one-row broadcast count + cutoff crossJoins",
    "an29_decile_lift" -> "inherits an3's globalNtile one-row boundary crossJoin",
    "n15_rank_metrics" -> "composes n1/n5's bounded 5-query fan-out",
    "t30_decontaminate_spans" -> "t13's one-row planted-snippet scaffolding; operator join is equi broadcast",
    "t33_bm25" -> "one-row (N, sum dl) stats crossJoin; term join is equi broadcast",
    "n18_rrf_fusion" -> "composes t33's one-row stats crossJoin + n1's 1-query fan-out",
    "n19_knn_classify" -> "n1's bounded 20-query fan-out; label join is equi broadcast of top-k",
    "n20_hard_negatives" -> "same bounded 20-query fan-out (n1 scoring + anti-filter + rank cuts)",
    "an32_skew_report" -> "TWO one-row crossJoins: scalar aggregate + one-row p99 pick",
    "an37_dict_distinct" -> "one-row broadcast dict_id identity scalar (Dictionary.encode attaches the lineage id)",
    "an40_dict_append" -> "one-row broadcast crossJoins only: encode's dict_id identity, encodeIncremental's audit (max-code + dup counters + lineage), the appended-block id, and the codes_frozen moved-count scalar",
    "an48_coded_dict_merge" -> "inherits an40's one-row identity/audit broadcast crossJoins (same two-generation encode path)",
    "an44_cms_rollup" -> "one-row broadcast corpus-sketch crossJoin against the exact top-20 keys",
    "an47_kmv_jaccard" -> "inequality self-join of the |event-types|-row sketch relation (key-cardinality, never data-sized)",
    "an49_cms_probe_multi" -> "one-row broadcast crossJoins: the corpus sketch against the one-row top-20 key array, then the bounded top-20 join",
    "an51_coded_churn" -> "inherits an37's one-row broadcast dict_id identity scalar (Dictionary.encode attaches the lineage id)",
    "an52_dict_audit" -> "auditCodedTier's 1-row x 1-row broadcast crossJoin (dictionary stats x sketch stats) + an37's identity scalar")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession("local[4]", 4)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => excluded.contains(name) }
      .foreach { case (name, fn) =>
      try {
        val hits = scan(fn(spark, sfDir))
        val flagged = hits.map {
          case s @ "Exchange SinglePartition" if singlePartitionAllowed.contains(name) =>
            s"$s (allowed: ${singlePartitionAllowed(name)})"
          case s @ "BroadcastNestedLoopJoin" if bnljAllowed.contains(name) =>
            s"$s (allowed: ${bnljAllowed(name)})"
          case s => s"$s (VIOLATION)"
        }
        if (flagged.nonEmpty) println(s"[audit] $name: ${flagged.mkString(", ")}")
      } catch { case e: Throwable =>
        println(s"[audit] $name: ERROR ${e.getClass.getSimpleName}")
      }
    }
    println("[audit] done")
    spark.stop()
  }
}
