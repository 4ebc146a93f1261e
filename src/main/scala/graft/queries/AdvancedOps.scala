package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.Graph

/** Round-4 breadth: the warehouse/pipeline patterns beyond single-pass
  * relational algebra — iterative graph analytics (PageRank), slowly-
  * changing-dimension history (SCD Type 2), ordered funnel conversion,
  * corpus boilerplate stripping, and rolling time-range features.
  * Every one is engine-exact by construction (integer fixed-point,
  * integer microseconds, or shared-IEEE expressions) so the DuckDB
  * oracle replays each bit-for-bit.
  */
object AdvancedOps {

  type Q = (SparkSession, String) => DataFrame

  // ---- an15: PageRank ------------------------------------------------

  /** AN15: 3-iteration PageRank over the customer↔supplier trade graph
    * (distinct (customer, supplier) pairs from orders ⋈ lineitem,
    * materialized in both directions so no node dangles). Fixed-point
    * integer arithmetic end to end — see [[graft.operators.Graph]] —
    * so the iterative result is deterministic on any engine and any
    * partitioning. One |V|-row shuffle per iteration; the |E|-row
    * relation is partitioned once and reused. */
  val an15PageRank: Q = (s, dir) => {
    import s.implicits._
    val o = Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val l = Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
    // ONE exchange for the whole edge build (r14): both directions come
    // from a PER-ROW explode of the raw join output — no union whose
    // second branch re-evaluates the join subplan — and the distinct
    // moved inside pageRank's src-keyed repartition (subset-of-keys
    // dedup, see Graph.pageRank), so the standalone (src, dst) distinct
    // exchange of the raw 600 k-pair fan-out is gone. Same edge set,
    // same fixed-point ranks.
    val edges = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select(explode(array(
        struct(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst")),
        struct(($"l_suppkey" * 2 + 1).as("src"), ($"o_custkey" * 2).as("dst"))))
        .as("e"))
      .select($"e.src", $"e.dst")
    Graph.pageRank(edges, iters = 3)
      .select($"node",
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        $"r".as("rank"))
      .orderBy($"rank".desc, $"node")
  }

  val an15PageRankSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (SELECT src, dst FROM e0
      |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |p AS (SELECT count(*) AS n FROM deg),
      |r0 AS (SELECT src AS node, 1000000000000 // n AS r FROM deg, p),
      |s1 AS (SELECT e.dst AS node, CAST(sum(r0.r // d.deg) AS BIGINT) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |       JOIN r0 ON e.src = r0.node GROUP BY e.dst),
      |r1 AS (SELECT node,
      |         (15 * (1000000000000 // n)) // 100 + (85 * s) // 100 AS r
      |       FROM s1, p),
      |s2 AS (SELECT e.dst AS node, CAST(sum(r1.r // d.deg) AS BIGINT) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |       JOIN r1 ON e.src = r1.node GROUP BY e.dst),
      |r2 AS (SELECT node,
      |         (15 * (1000000000000 // n)) // 100 + (85 * s) // 100 AS r
      |       FROM s2, p),
      |s3 AS (SELECT e.dst AS node, CAST(sum(r2.r // d.deg) AS BIGINT) AS s
      |       FROM edges e JOIN deg d ON e.src = d.src
      |       JOIN r2 ON e.src = r2.node GROUP BY e.dst),
      |r3 AS (SELECT node,
      |         (15 * (1000000000000 // n)) // 100 + (85 * s) // 100 AS r
      |       FROM s3, p)
      |SELECT node,
      |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      |  r AS rank
      |FROM r3 ORDER BY rank DESC, node""".stripMargin

  // ---- an30: k-hop reachability --------------------------------------

  /** AN30: 3-hop BFS over the an15 trade graph — minimum hop distance
    * from the three lowest-key customers (nodes 2/4/6) to every node
    * within three trades, via [[graft.operators.Graph.kHopReach]]'s
    * frontier-expansion loop (each node expanded exactly once, state =
    * |reached| rows, never path counts). The bipartite alternation
    * (even = customer, odd = supplier) makes the expected dist parity
    * a built-in sanity check. The oracle is DuckDB's recursive CTE
    * with UNION-dedup semantics + a final min-group — the same
    * fixpoint by a different engine mechanism. */
  val an30KhopReach: Q = (s, dir) => {
    import s.implicits._
    val o = Tables.load(s, dir, "orders").select($"o_orderkey", $"o_custkey")
    val l = Tables.load(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
    // ONE edge build (r13): seeds and kHopReach's cached edge relation
    // both read this materialization — un-checkpointed, the
    // orders ⋈ lineitem build ran once for the seed job and again for
    // the edge-cache population (two ~15 s-of-task-time stage groups
    // per run in an r13 per-stage trace).
    // NO distinct at all (r14): BFS min-distance is invariant to
    // parallel edges — kHopReach's per-hop frontier is deduped by its
    // own `.distinct()` — so the (src, dst) distinct exchange bought
    // nothing but a 2.5% row reduction (600 000 raw pairs vs 586 871
    // distinct at sf0.1) at the price of a full shuffle + aggregate of
    // the join fan-out. Both directions come from a per-row explode
    // (no union whose second branch re-evaluates the join subplan).
    val edges = o.join(l, $"o_orderkey" === $"l_orderkey")
      .select(explode(array(
        struct(($"o_custkey" * 2).as("src"), ($"l_suppkey" * 2 + 1).as("dst")),
        struct(($"l_suppkey" * 2 + 1).as("src"), ($"o_custkey" * 2).as("dst"))))
        .as("e"))
      .select($"e.src", $"e.dst")
      .localCheckpoint(false)
    val seeds = edges.filter($"src".isin(2, 4, 6))
      .select($"src".as("node")).distinct()
    Graph.kHopReach(edges, seeds, maxHops = 3)
      .select($"node",
        when($"node" % 2 === 0, "customer").otherwise("supplier").as("kind"),
        $"dist")
      .orderBy($"dist", $"node")
  }

  val an30KhopReachSql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |edges AS (SELECT src, dst FROM e0
      |          UNION ALL SELECT dst AS src, src AS dst FROM e0),
      |walk(node, dist) AS (
      |  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
      |  FROM edges WHERE src IN (2, 4, 6)
      |  UNION
      |  SELECT e.dst AS node, w.dist + 1 AS dist
      |  FROM walk w JOIN edges e ON w.node = e.src
      |  WHERE w.dist < 3)
      |SELECT node,
      |  CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
      |  min(dist) AS dist
      |FROM walk GROUP BY node
      |ORDER BY dist, node""".stripMargin

  // ---- u7: SCD Type 2 ------------------------------------------------

  /** U7: SCD Type-2 dimension history — fold a per-user change log
    * (events, attribute = value tier) into validity intervals: only
    * CHANGES open a new version (consecutive same-tier events are
    * compressed away), `valid_to` = next change's timestamp, open
    * interval = current row. The whole build is one key shuffle
    * (window partitioned by user_id); timestamps are integer
    * microseconds, so interval edges are engine-exact. */
  val u7Scd2: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus")
    Tables.load(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"),
        floor($"value" / 10.0).cast("long").as("tier"))
      .withColumn("prev", lag($"tier", 1).over(w))
      .filter($"prev".isNull || $"prev" =!= $"tier")
      .withColumn("valid_to", lead($"tus", 1).over(w))
      .withColumn("version", row_number().over(w))
      .select($"user_id", $"tier", $"tus".as("valid_from"), $"valid_to",
        $"version", $"valid_to".isNull.as("is_current"))
      .orderBy($"user_id", $"version")
  }

  val u7Scd2Sql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |         CAST(floor(value / 10.0) AS BIGINT) AS tier
      |  FROM events),
      |ch AS (
      |  SELECT user_id, tus, tier FROM (
      |    SELECT user_id, tus, tier,
      |           lag(tier) OVER (PARTITION BY user_id ORDER BY tus) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> tier)
      |SELECT user_id, tier, tus AS valid_from,
      |  lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS valid_to,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY tus) AS BIGINT)
      |    AS version,
      |  lead(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
      |    AS is_current
      |FROM ch ORDER BY user_id, version""".stripMargin

  /** J9: point-in-time dimension lookup — each purchase event reads
    * the user's tier AS OF its timestamp from the u7 SCD2 history.
    * The PIT join over [valid_from, valid_to) intervals is exactly an
    * as-of join (versions PARTITION each user's timeline, so "the
    * interval containing t" = "the greatest valid_from <= t"), which
    * the union-merge AsOfJoin answers in ONE user-keyed shuffle — no
    * interval-predicate join, no per-event × per-version fan-out. The
    * oracle is the naive BETWEEN join over the same history. */
  val j9PitLookup: Q = (s, dir) => {
    import s.implicits._
    val dim = u7Scd2(s, dir)
      .select($"user_id", $"valid_from", $"tier".as("tier_at"))
    val facts = Tables.load(s, dir, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"))
    graft.operators.AsOfJoin.leftAsOf(facts, dim,
        keys = Seq("user_id"), leftTime = "tus", rightTime = "valid_from",
        payloadCols = Seq("tier_at"), tieBreaker = "tier_at")
      .select($"event_id", $"user_id", $"tier_at")
      .orderBy($"event_id")
  }

  val j9PitLookupSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus,
      |         CAST(floor(value / 10.0) AS BIGINT) AS tier
      |  FROM events),
      |ch AS (
      |  SELECT user_id, tus, tier FROM (
      |    SELECT user_id, tus, tier,
      |           lag(tier) OVER (PARTITION BY user_id ORDER BY tus) AS prev
      |    FROM e)
      |  WHERE prev IS NULL OR prev <> tier),
      |scd AS (
      |  SELECT user_id, tier, tus AS valid_from,
      |    lead(tus) OVER (PARTITION BY user_id ORDER BY tus) AS valid_to
      |  FROM ch),
      |facts AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tus
      |  FROM events WHERE event_type = 'purchase')
      |SELECT f.event_id, f.user_id, s.tier AS tier_at
      |FROM facts f JOIN scd s ON f.user_id = s.user_id
      |  AND s.valid_from <= f.tus
      |  AND (s.valid_to IS NULL OR f.tus < s.valid_to)
      |ORDER BY f.event_id""".stripMargin

  /** AN24: session path mining — the top event-type journeys. Each e2
    * gap-session's first 4 event types (ts, event_id order) form its
    * path string; paths are counted corpus-wide and the top 10
    * returned with a total order ((n desc, path) — deterministic).
    * One user-keyed shuffle builds sessions + paths (sessionization
    * and the path collect share the same partitioning); the path
    * count is a map-side-combined groupBy on bounded keys. */
  val an24SessionPaths: Q = (s, dir) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"tus", $"event_id")
    val gapUs = 30L * 60L * 1000000L
    val sessions = Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", $"event_type", unix_micros($"ts").as("tus"))
      .withColumn("prev", lag($"tus", 1).over(byUser))
      .withColumn("brk", when($"prev".isNull || $"tus" - $"prev" > gapUs, 1L)
        .otherwise(0L))
      .withColumn("sess", sum($"brk").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessions
      .withColumn("step", row_number().over(
        Window.partitionBy($"user_id", $"sess").orderBy($"tus", $"event_id")))
      .filter($"step" <= 4)
      .groupBy($"user_id", $"sess")
      .agg(concat_ws(">", expr(
        "transform(array_sort(collect_list(struct(step, event_type))), x -> x.event_type)"))
        .as("path"))
      .groupBy($"path").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"path")
      .limit(10)
  }

  val an24SessionPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tus FROM events),
      |g AS (
      |  SELECT *, CASE WHEN prev IS NULL OR tus - prev > 1800000000 THEN 1 ELSE 0 END AS brk
      |  FROM (SELECT *, lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS prev
      |        FROM e)),
      |ss AS (
      |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
      |                           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM g),
      |steps AS (
      |  SELECT *, row_number() OVER (PARTITION BY user_id, sess ORDER BY tus, event_id) AS step
      |  FROM ss),
      |paths AS (
      |  SELECT user_id, sess, string_agg(event_type, '>' ORDER BY step) AS path
      |  FROM steps WHERE step <= 4 GROUP BY 1, 2)
      |SELECT path, count(*) AS n FROM paths
      |GROUP BY path ORDER BY n DESC, path LIMIT 10""".stripMargin

  /** AN25: funnel conversion latency — per user, the gap between the
    * first view and the first purchase AFTER it; reported as discrete
    * p50/p90 (rank-selected actual values — the an23 convention, no
    * interpolation, no float parity risk). The per-user reduction is
    * one user-keyed aggregate; the percentile ranks come from
    * Ranking.globalRowNumber over the USERS-sized latency relation
    * (range-partitioned two-phase — even the user relation never
    * funnels through one task), with the ranks picked against a
    * broadcast 1-row count. */
  val an25ConvertLatency: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", $"event_type", unix_micros($"ts").as("tus"))
    val firstView = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tus").as("tv"))
    val lat = ev.filter($"event_type" === "purchase")
      .join(firstView, "user_id")
      .filter($"tus" > $"tv")
      .groupBy($"user_id", $"tv").agg(min($"tus").as("tp"))
      .select($"user_id", ($"tp" - $"tv").as("lat_us"))
    val ranked = graft.operators.Ranking
      .globalRowNumber(lat, Seq($"lat_us".asc, $"user_id".asc), "rank")
    val counts = lat.agg(count(lit(1)).as("n_users"))
    ranked.crossJoin(broadcast(counts))
      .filter($"rank" === expr("(n_users + 1) DIV 2") ||
        $"rank" === expr("(9 * n_users + 9) DIV 10"))
      .groupBy($"n_users")
      .agg(min(when($"rank" === expr("(n_users + 1) DIV 2"), $"lat_us")).as("p50_us"),
        min(when($"rank" === expr("(9 * n_users + 9) DIV 10"), $"lat_us")).as("p90_us"))
      .select($"n_users", $"p50_us", $"p90_us")
  }

  /** AN28: EXACT per-group P50/P95/P99 — the approx_percentile-free
    * twin of an7 for the observe-style metrics family: rank-selected
    * actual values (the an23/an25 convention — no interpolation, no
    * float arithmetic, the cell is byte-identical to an input cell).
    * One window shuffle keyed by event_type (25 bounded groups) does
    * both the row_number and the per-group count; the rank picks are
    * per-row predicates folded into one map-side-combined aggregate.
    * The honest scale note: an exact per-group order statistic needs
    * a per-group sort — a corpus-sized group pays it; an7
    * (approx_percentile) and an13 (bounded-domain histogram) are the
    * sketch paths when that cost is not worth exactness. */
  val an28ExactP99: Q = (s, dir) => {
    import s.implicits._
    // NULLS LAST pins the rank order across engines: Spark's asc
    // default is NULLS FIRST, DuckDB's is NULLS LAST — a null value
    // row would shift every rank and flip the percentile cell picks
    val byType = Window.partitionBy($"event_type")
      .orderBy($"value".asc_nulls_last, $"event_id")
    Tables.load(s, dir, "events")
      .select($"event_type", $"value", $"event_id")
      .withColumn("rank", row_number().over(byType).cast("long"))
      .withColumn("n",
        count(lit(1)).over(Window.partitionBy($"event_type")).cast("long"))
      .groupBy($"event_type", $"n")
      .agg(
        min(when($"rank" === expr("(n + 1) DIV 2"), $"value")).as("p50"),
        min(when($"rank" === expr("(19 * n + 19) DIV 20"), $"value")).as("p95"),
        min(when($"rank" === expr("(99 * n + 99) DIV 100"), $"value")).as("p99"))
      .select($"event_type", $"n".as("n_events"), $"p50", $"p95", $"p99")
      .orderBy($"event_type")
  }

  val an28ExactP99Sql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rank,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, n AS n_events,
      |  min(CASE WHEN rank = (n + 1) // 2 THEN value END) AS p50,
      |  min(CASE WHEN rank = (19 * n + 19) // 20 THEN value END) AS p95,
      |  min(CASE WHEN rank = (99 * n + 99) // 100 THEN value END) AS p99
      |FROM r GROUP BY event_type, n ORDER BY event_type""".stripMargin

  val an25ConvertLatencySql: String =
    """WITH fv AS (
      |  SELECT user_id, min(epoch_us(ts)) AS tv FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |lat AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) - f.tv AS lat_us
      |  FROM events e JOIN fv f USING (user_id)
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > f.tv
      |  GROUP BY e.user_id, f.tv),
      |ranked AS (
      |  SELECT lat_us,
      |    row_number() OVER (ORDER BY lat_us, user_id) AS rank,
      |    count(*) OVER () AS n_users
      |  FROM lat)
      |SELECT n_users,
      |  min(CASE WHEN rank = (n_users + 1) // 2 THEN lat_us END) AS p50_us,
      |  min(CASE WHEN rank = (9 * n_users + 9) // 10 THEN lat_us END) AS p90_us
      |FROM ranked GROUP BY n_users""".stripMargin

  // ---- e8: funnel ----------------------------------------------------

  /** The ordered-funnel stage machine (view → click → purchase) — the
    * sequential-pattern query (MATCH_RECOGNIZE's common case) in ONE
    * key shuffle: running-min windows over the per-user time order
    * advance the stage machine row by row (a later stage only fires on
    * events after the previous stage fired — `tus > fv` against the
    * running first-view is exactly `tus > tv` against the global one,
    * because in time order any view AFTER a click is larger than it).
    * All three windows share one partitioning+sort, and the groupBy
    * rides the same hash partitioning, so the whole funnel is a single
    * exchange. Per-row window state is O(1) and a pathological hot
    * user (bot traffic, 10^7 events) is just a large sorted partition
    * run in WindowExec's spillable buffer — unlike a
    * collect_list-then-scan form, no aggregate buffer ever holds one
    * user's full event array. The three-self-join formulation the
    * oracle uses is the same answer with |stages| shuffles. All event
    * timestamps are distinct in this corpus, so first-after ==
    * strictly-greater and both formulations agree exactly.
    *
    * Input: raw events (user_id, ts, event_type); output one row per
    * user: (user_id, tv, tc, tp) = first view, first qualifying
    * click, first qualifying purchase (null where never reached).
    * Shared by the e8 gate query and the ScaleStress hot-user harness
    * so the stress curve can never describe a query that drifted from
    * the production one. */
  def funnelPerUser(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("view", "click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("tus"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2).otherwise(3).as("sr"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("fv", min(when(col("sr") === 1, col("tus"))).over(w))
      .withColumn("qc", when(col("sr") === 2 && col("tus") > col("fv"), col("tus")))
      .withColumn("fc", min(col("qc")).over(w))
      .withColumn("qp", when(col("sr") === 3 && col("tus") > col("fc"), col("tus")))
      .groupBy(col("user_id")).agg(
        min(when(col("sr") === 1, col("tus"))).as("tv"),
        min(col("qc")).as("tc"),
        min(col("qp")).as("tp"))
  }

  /** E8: the funnel summary row over [[funnelPerUser]].
    *
    * `sum_lag_us` is an int64 sum of unbounded per-user lags; with
    * ~1e9 converting users and decade-length lags it can exceed 2^63.
    * Both engines fail LOUDLY and identically there — Spark 4 runs
    * ANSI mode (sum overflow throws; no silent wrap) and the oracle's
    * CAST of DuckDB's HUGEINT sum to BIGINT errors the same way. A
    * deployment that needs the metric beyond that bound sums in
    * DECIMAL(38,0); the int64 form is kept because the gate compares
    * exact integers. */
  val e8Funnel: Q = (s, dir) => {
    import s.implicits._
    val perUser = funnelPerUser(Tables.load(s, dir, "events"))
    perUser.agg(
      count(lit(1)).as("n_users"),
      count($"tv").as("n_view"),
      count($"tc").as("n_click"),
      count($"tp").as("n_purchase"),
      coalesce(sum(when($"tp".isNotNull, $"tp" - $"tv")), lit(0L))
        .as("sum_lag_us"))
  }

  val e8FunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_type FROM events
      |  WHERE event_type IN ('view', 'click', 'purchase')),
      |v AS (SELECT user_id, min(tus) AS tv FROM e
      |      WHERE event_type = 'view' GROUP BY 1),
      |c AS (SELECT e.user_id, min(e.tus) AS tc
      |      FROM e JOIN v ON e.user_id = v.user_id
      |      WHERE e.event_type = 'click' AND e.tus > v.tv GROUP BY 1),
      |p AS (SELECT e.user_id, min(e.tus) AS tp
      |      FROM e JOIN c ON e.user_id = c.user_id
      |      WHERE e.event_type = 'purchase' AND e.tus > c.tc GROUP BY 1)
      |SELECT
      |  (SELECT count(DISTINCT user_id) FROM e) AS n_users,
      |  (SELECT count(*) FROM v) AS n_view,
      |  (SELECT count(*) FROM c) AS n_click,
      |  (SELECT count(*) FROM p) AS n_purchase,
      |  (SELECT CAST(coalesce(sum(p.tp - v.tv), 0) AS BIGINT)
      |   FROM p JOIN v ON p.user_id = v.user_id) AS sum_lag_us""".stripMargin

  // ---- t14: boilerplate strip ---------------------------------------

  /** T14: frequent-template boilerplate removal — the CCNet-style
    * curation pass that strips machine-generated template text shared
    * across many documents. Planted: a third of the corpus carries a
    * trailing 5-word template. Detection is a tiny aggregation over
    * trailing 5-grams (one row per doc); any tail shared by ≥ 25 docs
    * is boilerplate, joined back on the tail, and stripped per-row.
    * The template set is corpus-dependent (a web crawl has millions
    * of qualifying templates), so the join-back carries no broadcast
    * hint — AQE broadcasts it while it fits and falls back to a hash
    * join on the tail key when it no longer does. */
  val t14BoilerplateStrip: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id",
        when($"doc_id" % 3 === 0,
          concat($"text", lit(" subscribe to our newsletter today")))
          .otherwise($"text").as("text2"))
      .withColumn("words", split($"text2", " "))
      .withColumn("nw", size($"words"))
      .withColumn("tail",
        when($"nw" >= 5, array_join(slice($"words", -5, 5), " ")))
    val boiler = docs.filter($"tail".isNotNull)
      .groupBy($"tail").agg(count(lit(1)).as("n_docs"))
      .filter($"n_docs" >= 25)
      .select($"tail", lit(true).as("is_boiler"))
    docs.join(boiler, Seq("tail"), "left")
      .select($"doc_id", coalesce($"is_boiler", lit(false)).as("stripped"),
        $"nw".as("n_words"),
        when($"is_boiler", $"nw" - 5).otherwise($"nw").as("n_words_clean"),
        when($"is_boiler", array_join(slice($"words", lit(1), $"nw" - 5), " "))
          .otherwise($"text2").as("text_clean"))
      .orderBy($"doc_id")
  }

  val t14BoilerplateStripSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 3 = 0
      |         THEN text || ' subscribe to our newsletter today'
      |         ELSE text END AS text2
      |  FROM documents),
      |w AS (
      |  SELECT doc_id, text2, string_split(text2, ' ') AS words,
      |         len(string_split(text2, ' ')) AS nw
      |  FROM d),
      |t AS (
      |  SELECT doc_id, text2, words, nw,
      |    CASE WHEN nw >= 5
      |         THEN array_to_string(words[-5:], ' ') END AS tail
      |  FROM w),
      |b AS (
      |  SELECT tail FROM t WHERE tail IS NOT NULL
      |  GROUP BY tail HAVING count(*) >= 25)
      |SELECT t.doc_id, b.tail IS NOT NULL AS stripped,
      |  nw AS n_words,
      |  CASE WHEN b.tail IS NOT NULL THEN nw - 5 ELSE nw END AS n_words_clean,
      |  CASE WHEN b.tail IS NOT NULL
      |       THEN array_to_string(t.words[1:nw - 5], ' ')
      |       ELSE t.text2 END AS text_clean
      |FROM t LEFT JOIN b ON t.tail = b.tail
      |ORDER BY t.doc_id""".stripMargin

  // ---- e9: rolling time-range features ------------------------------

  /** E9: rolling 1-hour per-user features (event count, spend sum)
    * via a RANGE frame over integer microseconds — the time-series
    * feature-engineering staple. The frame is time-based, not
    * row-based, so ties and gaps are handled identically everywhere;
    * the summed measure is integer cents (floor(value·100) — the same
    * IEEE double product on every engine), so the rolling sums are
    * exact. One key shuffle, no self-join: the window frame does the
    * range scan in one sorted pass per user. */
  val e9Rolling: Q = (s, dir) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"tus")
      .rangeBetween(-3600000000L, 0L)
    Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"),
        floor($"value" * 100).cast("long").as("vc"))
      .withColumn("cnt_1h", count(lit(1)).over(w))
      .withColumn("sum_vc_1h", sum($"vc").over(w))
      .select($"event_id", $"user_id", $"tus", $"cnt_1h", $"sum_vc_1h")
      .orderBy($"event_id")
  }

  val e9RollingSql: String =
    """SELECT event_id, user_id, tus,
      |  count(*) OVER w AS cnt_1h,
      |  CAST(sum(vc) OVER w AS BIGINT) AS sum_vc_1h
      |FROM (SELECT event_id, user_id, epoch_us(ts) AS tus,
      |        CAST(floor(value * 100) AS BIGINT) AS vc
      |      FROM events)
      |WINDOW w AS (PARTITION BY user_id ORDER BY tus
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // ---- n7: deterministic k-means ------------------------------------

  /** N7: 2-step deterministic Lloyd k-means (k=8) over the embedding
    * corpus — the index-build/stratification clustering pass, fully
    * engine-replayable: lowest-id seeds, rounded `<c,c> − 2<x,c>`
    * assignment scores (squared-L2 ordering), DECIMAL-exact mean
    * update. See [[graft.operators.Clustering]] for the per-iteration
    * scale shape (broadcast fan-out + k·dim-row partial-sum shuffle;
    * the point set never shuffles). */
  val n7Kmeans: Q = (s, dir) => {
    import s.implicits._
    val points = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    graft.operators.Clustering.lloyd(s, points, k = 8, iters = 2)
      .select($"vec_id", $"cid".as("cluster"), $"score")
      .orderBy($"vec_id")
  }

  /** Two-step Lloyd CTE chain over a `(vec_id, v)` source:
    * `a2(vec_id, cid, score)` = final assignments. Shared by n7 and
    * d11 (which clusters an injected corpus). */
  private def kmeansCtes(eSql: String): String =
    s"""e AS ($eSql),
      |c0 AS (
      |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
      |         v AS cv
      |  FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
      |a1 AS (
      |  SELECT vec_id, v, cid FROM (
      |    SELECT e.vec_id, e.v, c0.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_dot_product(c0.cv, c0.cv)
      |              - 2 * list_dot_product(e.v, c0.cv), 6) ASC,
      |        c0.cid ASC) AS rn
      |    FROM e, c0)
      |  WHERE rn = 1),
      |m1 AS (
      |  SELECT cid, pos,
      |    round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
      |      AS c
      |  FROM (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1)
      |  GROUP BY 1, 2),
      |c1 AS (SELECT cid, list(c ORDER BY pos) AS cv FROM m1 GROUP BY cid),
      |a2 AS (
      |  SELECT vec_id, cid, score FROM (
      |    SELECT e.vec_id, c1.cid,
      |      round(list_dot_product(c1.cv, c1.cv)
      |            - 2 * list_dot_product(e.v, c1.cv), 6) + 0 AS score,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |        round(list_dot_product(c1.cv, c1.cv)
      |              - 2 * list_dot_product(e.v, c1.cv), 6) ASC,
      |        c1.cid ASC) AS rn
      |    FROM e, c1)
      |  WHERE rn = 1)""".stripMargin

  val n7KmeansSql: String =
    s"""WITH ${kmeansCtes("SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings")}
       |SELECT vec_id, cid AS cluster, score FROM a2 ORDER BY vec_id""".stripMargin

  // ---- an16: cohort retention ---------------------------------------

  /** AN16: weekly cohort retention — users grouped by first-activity
    * week, and for offsets k = 0..3 the count still active k weeks
    * later. The product-analytics staple; all integer arithmetic
    * (epoch-microsecond week indices), three key-hash shuffles, each
    * ≤ |users| rows after the initial distinct. Ratios are left to the
    * reader (n_active / n_cohort) so every emitted cell is exact. */
  val an16CohortRetention: Q = (s, dir) => {
    import s.implicits._
    val act = Tables.load(s, dir, "events")
      // floor-division week index (pmod form, as in e10). NOTE the
      // oracle floors EXPLICITLY too: DuckDB's integer `//` TRUNCATES
      // toward zero (verified on the gate's duckdb 1.0.0:
      // -7 // 2 = -3), so its SQL uses the same pmod construction —
      // both engines floor, and pre-1970 timestamps bucket identically
      .select($"user_id",
        expr("(unix_micros(ts) - pmod(unix_micros(ts), 604800000000)) div 604800000000")
          .as("wk"))
      .distinct()
    val first = act.groupBy($"user_id").agg(min($"wk").as("cw"))
    val ret = act.join(first, "user_id")
      .withColumn("k", $"wk" - $"cw")
      .filter($"k".between(0, 3))
      .groupBy($"cw", $"k")
      .agg(count_distinct($"user_id").as("n_active"))
    val sizes = first.groupBy($"cw").agg(count(lit(1)).as("n_cohort"))
    ret.join(sizes, "cw")
      .select($"cw".as("cohort_week"), $"k", $"n_active", $"n_cohort")
      .orderBy($"cohort_week", $"k")
  }

  val an16CohortRetentionSql: String =
    """WITH act AS (
      |  SELECT DISTINCT user_id,
      |    (epoch_us(ts) - ((epoch_us(ts) % 604800000000) + 604800000000) % 604800000000)
      |      // 604800000000 AS wk
      |  FROM events),
      |first AS (SELECT user_id, min(wk) AS cw FROM act GROUP BY user_id),
      |ret AS (
      |  SELECT f.cw, a.wk - f.cw AS k, count(DISTINCT a.user_id) AS n_active
      |  FROM act a JOIN first f ON a.user_id = f.user_id
      |  WHERE a.wk - f.cw BETWEEN 0 AND 3
      |  GROUP BY 1, 2),
      |sizes AS (SELECT cw, count(*) AS n_cohort FROM first GROUP BY cw)
      |SELECT r.cw AS cohort_week, r.k, r.n_active, s.n_cohort
      |FROM ret r JOIN sizes s ON r.cw = s.cw
      |ORDER BY cohort_week, k""".stripMargin
  // ---- e10: resample + forward fill ---------------------------------

  /** E10: per-user time-grid resampling with forward fill — the
    * time-series regularization step (sensor/metric pipelines): events
    * land on a 1-hour slot grid spanning each user's observed range,
    * empty slots carry the last observed value forward. The slot value
    * is the LAST event in the slot (ties: max event_id) picked by ONE
    * `max(struct(tus, event_id, vc))` aggregation — no per-slot sort.
    * Grid generation is per-user arithmetic (`sequence` + explode, ≤
    * 720 slots/user at a 30-day span); everything shuffles once on
    * user_id and the fill is a partition-local running `last(ignore
    * nulls)`. Values are integer cents, so the fill is engine-exact.
    * At 100 TB the grid never materializes the corpus: it is
    * |users|·|slots| rows, independent of event count. */
  val e10Resample: Q = (s, dir) => {
    import s.implicits._
    val W = 3600000000L // 1 h in µs
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"),
        floor($"value" * 100).cast("long").as("vc"))
      // floor-division slot (pmod keeps the numerator an exact multiple
      // of W, where truncation == floor). The oracle uses the SAME
      // pmod form: DuckDB's `//` truncates toward zero (verified,
      // duckdb 1.0.0: -7 // 2 = -3), so a bare `//` there would
      // disagree with this floor for pre-1970 timestamps
      .withColumn("slot", expr(s"(tus - pmod(tus, $W)) div $W"))
    // slotv is MATERIALIZED once (r14, verdict item 3): the r13 form
    // derived the grid bounds from the slotv RELATION, but Catalyst's
    // RemoveRedundantAggregates collapses min/max-over-the-inner-
    // aggregate straight back to min/max over the scan (min/max are
    // duplicate-insensitive), so the physical plan still scanned the
    // events twice and shuffled them twice — the committed r13 plan
    // dumps prove it. The LAZY localCheckpoint pins the per-(user,
    // slot) relation (bounded: one row per user-slot, independent of
    // event count) so BOTH consumers — the grid bounds and the fill
    // join — read one materialization and the events are scanned ONCE.
    // EAGER: with a lazy pin the two consumers race to compute the
    // same partitions inside one job (measured: duplicated compute +
    // block-exists warnings), so the one-job overlap buys nothing here;
    // the construction-time job is the same work the plan saves.
    val slotv = ev.groupBy($"user_id", $"slot")
      .agg(max(struct($"tus", $"event_id", $"vc")).as("w"))
      .select($"user_id", $"slot", $"w.vc".as("vc"))
      .localCheckpoint()
    val grid = slotv.groupBy($"user_id")
      .agg(min($"slot").as("lo"), max($"slot").as("hi"))
      .select($"user_id", explode(sequence($"lo", $"hi")).as("slot"))
    val w = Window.partitionBy($"user_id").orderBy($"slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(slotv, Seq("user_id", "slot"), "left")
      .select($"user_id", $"slot",
        last($"vc", ignoreNulls = true).over(w).as("vc_ff"),
        $"vc".isNotNull.as("observed"))
      .orderBy($"user_id", $"slot")
  }

  val e10ResampleSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         CAST(floor(value * 100) AS BIGINT) AS vc,
      |         (epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000)
      |           // 3600000000 AS slot
      |  FROM events),
      |slotv AS (
      |  SELECT user_id, slot, vc FROM (
      |    SELECT user_id, slot, vc,
      |      row_number() OVER (PARTITION BY user_id, slot
      |                         ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |grid AS (
      |  SELECT user_id, unnest(range(lo, hi + 1)) AS slot
      |  FROM (SELECT user_id, min(slot) AS lo, max(slot) AS hi
      |        FROM ev GROUP BY user_id)),
      |j AS (SELECT g.user_id, g.slot, s.vc
      |      FROM grid g LEFT JOIN slotv s USING (user_id, slot))
      |SELECT user_id, slot,
      |  last_value(vc IGNORE NULLS) OVER (
      |    PARTITION BY user_id ORDER BY slot
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vc_ff,
      |  (vc IS NOT NULL) AS observed
      |FROM j ORDER BY user_id, slot""".stripMargin

  /** E18: time-grid resample with LINEAR interpolation — e10's grid
    * (per-user hourly slots, last-event value per observed slot) but
    * gaps fill with the line between the surrounding observations
    * instead of carrying the last one: `v = (vp·(sn−s) + vn·(s−sp))
    * div (sn−sp)` in exact integer-cent arithmetic (both engines
    * truncate integer division identically, so no rounding-mode
    * hazard — the float form `vp + (vn−vp)·frac` would be an
    * association-order trap). The sensor/feature-store gap-fill
    * discipline: forward-fill says "unchanged since", interpolation
    * says "moving between readings" — both are needed surface.
    * Interior slots always have both neighbors because each user's
    * grid spans [min slot, max slot], whose endpoints are observed.
    * Scale shape identical to e10: one user-keyed shuffle, grid rows
    * = users × their own span, two frame-bounded windows over the
    * same partitioning — no self-join, nothing corpus-wide. */
  val e18Interpolate: Q = (s, dir) => {
    import s.implicits._
    val W = 3600000000L // 1 h in µs
    val ev = Tables.load(s, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts").as("tus"),
        floor($"value" * 100).cast("long").as("vc"))
      .withColumn("slot", expr(s"(tus - pmod(tus, $W)) div $W"))
    // slotv materialized once, eagerly — see e10's comment (r14,
    // verdict item 3): without it the optimizer collapses the
    // grid-bounds aggregate back onto the scan and the events are
    // read and shuffled twice
    val slotv = ev.groupBy($"user_id", $"slot")
      .agg(max(struct($"tus", $"event_id", $"vc")).as("w"))
      .select($"user_id", $"slot", $"w.vc".as("vc"))
      .localCheckpoint()
    val grid = slotv.groupBy($"user_id")
      .agg(min($"slot").as("lo"), max($"slot").as("hi"))
      .select($"user_id", explode(sequence($"lo", $"hi")).as("slot"))
    val back = Window.partitionBy($"user_id").orderBy($"slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // the forward neighbor comes from a RUNNING frame over DESCENDING
    // slot order (r14): `first(...) over [currentRow, unboundedFollowing]`
    // is evaluated by Spark's UnboundedFollowingWindowFunctionFrame,
    // which RECOMPUTES the aggregate from the current row to the
    // partition end for EVERY row — O(rows²) per user partition,
    // measured 38 s for e18 at sf0.1 vs ~2 s for the otherwise
    // identical e10. `last(...)` over the descending running frame
    // [unboundedPreceding, currentRow] is the same value — the row
    // with the smallest slot ≥ current — via the O(rows) sliding
    // accumulation. Slots are unique per user (grid rows), so the
    // descending order is total and the result identical.
    val fwd = Window.partitionBy($"user_id").orderBy($"slot".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(slotv, Seq("user_id", "slot"), "left")
      .select($"user_id", $"slot", $"vc",
        last($"vc", ignoreNulls = true).over(back).as("vp"),
        last(when($"vc".isNotNull, $"slot"), ignoreNulls = true).over(back).as("sp"),
        last($"vc", ignoreNulls = true).over(fwd).as("vn"),
        last(when($"vc".isNotNull, $"slot"), ignoreNulls = true).over(fwd).as("sn"))
      .select($"user_id", $"slot",
        when($"vc".isNotNull, $"vc")
          .otherwise(expr("(vp * (sn - slot) + vn * (slot - sp)) div (sn - sp)"))
          .as("vc_lin"),
        $"vc".isNotNull.as("observed"))
      .orderBy($"user_id", $"slot")
  }

  val e18InterpolateSql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS tus,
      |         CAST(floor(value * 100) AS BIGINT) AS vc,
      |         (epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000)
      |           // 3600000000 AS slot
      |  FROM events),
      |slotv AS (
      |  SELECT user_id, slot, vc FROM (
      |    SELECT user_id, slot, vc,
      |      row_number() OVER (PARTITION BY user_id, slot
      |                         ORDER BY tus DESC, event_id DESC) AS rn
      |    FROM ev) WHERE rn = 1),
      |grid AS (
      |  SELECT user_id, unnest(range(lo, hi + 1)) AS slot
      |  FROM (SELECT user_id, min(slot) AS lo, max(slot) AS hi
      |        FROM ev GROUP BY user_id)),
      |j AS (SELECT g.user_id, g.slot, s.vc
      |      FROM grid g LEFT JOIN slotv s USING (user_id, slot)),
      |n AS (
      |  SELECT user_id, slot, vc,
      |    last_value(vc IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS vp,
      |    last_value(CASE WHEN vc IS NOT NULL THEN slot END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sp,
      |    first_value(vc IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vn,
      |    first_value(CASE WHEN vc IS NOT NULL THEN slot END IGNORE NULLS) OVER (
      |      PARTITION BY user_id ORDER BY slot
      |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sn
      |  FROM j)
      |SELECT user_id, slot,
      |  CASE WHEN vc IS NOT NULL THEN vc
      |       ELSE (vp * (sn - slot) + vn * (slot - sp)) // (sn - sp) END AS vc_lin,
      |  (vc IS NOT NULL) AS observed
      |FROM n ORDER BY user_id, slot""".stripMargin

  /** AN32: key-skew diagnostic report — the pre-flight a 100 TB join
    * or aggregation runs BEFORE choosing a strategy: per-key row
    * counts reduced to one row of integer metrics (total rows, key
    * cardinality, max / floor-mean / discrete-p99 key size, the
    * heaviest key, skew ratio in basis points, and the salt factor
    * `ceil(max/mean)` that [[graft.operators.Skew]] would need to
    * level the hottest key). This is the observability half of the
    * sk1/sk2 salting pair: salting blind costs a shuffle everywhere;
    * this report says WHERE it pays.
    *
    * Scale shape: one key-keyed count aggregation (map-side combined),
    * then everything runs on the |keys|-sized count relation: the p99
    * comes from [[graft.operators.Ranking.globalRowNumber]]'s
    * range-partitioned two-phase rank (no single-task window), the
    * heaviest key from one max(struct), and the final row is a scalar
    * aggregate. Integer arithmetic throughout — `div` floors, the
    * ceil is `(max + mean − 1) div mean` — so the oracle replays
    * bit-for-bit. */
  val an32SkewReport: Q = (s, dir) => {
    import s.implicits._
    val counts = Tables.load(s, dir, "events")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val ranked = graft.operators.Ranking.globalRowNumber(
      counts, Seq(col("n").asc, col("user_id").asc), "rnk")
    val agg = counts.agg(
      sum($"n").as("n_rows"), count(lit(1)).as("n_keys"),
      max($"n").as("max_n"),
      max(struct($"n", (-$"user_id").as("neg"))).as("w"))
    val p99 = ranked.crossJoin(broadcast(agg.select($"n_keys")))
      .filter($"rnk" === expr("(99 * n_keys + 99) div 100"))
      .select($"n".as("p99_n"))
    agg.crossJoin(broadcast(p99))
      .select($"n_rows", $"n_keys", $"max_n",
        expr("n_rows div n_keys").as("mean_n"), $"p99_n",
        (-$"w.neg").as("top_key"),
        expr("(max_n * 10000) div (n_rows div n_keys)").as("skew_bp"),
        expr("(max_n + (n_rows div n_keys) - 1) div (n_rows div n_keys)").as("salt_factor"))
  }

  val an32SkewReportSql: String =
    """WITH c AS (
      |  SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
      |r AS (
      |  SELECT n, row_number() OVER (ORDER BY n ASC, user_id ASC) AS rnk FROM c),
      |a AS (
      |  SELECT CAST(sum(n) AS BIGINT) AS n_rows, count(*) AS n_keys,
      |         max(n) AS max_n
      |  FROM c),
      |tk AS (
      |  SELECT user_id AS top_key FROM c
      |  QUALIFY row_number() OVER (ORDER BY n DESC, user_id ASC) = 1),
      |p AS (
      |  SELECT r.n AS p99_n FROM r, a
      |  WHERE r.rnk = (99 * a.n_keys + 99) // 100)
      |SELECT a.n_rows, a.n_keys, a.max_n,
      |  a.n_rows // a.n_keys AS mean_n, p.p99_n, tk.top_key,
      |  (a.max_n * 10000) // (a.n_rows // a.n_keys) AS skew_bp,
      |  (a.max_n + (a.n_rows // a.n_keys) - 1) // (a.n_rows // a.n_keys)
      |    AS salt_factor
      |FROM a, p, tk""".stripMargin

  // ---- an17: triangle counting --------------------------------------

  /** AN17: triangle counting over the supplier co-fulfilment graph
    * (suppliers adjacent when they ship lines of the same order), by
    * DEGREE-ORDERED orientation — the MapReduce-era standard (Suri &
    * Vassilvitskii, "Counting Triangles and the Curse of the Last
    * Reducer", WWW'11): each undirected edge points from its
    * (degree, id)-smaller endpoint, wedges are built only from
    * out-edges (out-degree is O(√E) on any graph), and a wedge is a
    * triangle iff the undirected edge closing it exists. The wedge
    * join — the only superlinear step — is bounded by Σ outdeg², not
    * Σ deg²: the difference between feasible and last-reducer death
    * on power-law graphs at 100 TB. The degree relation is one row
    * per NODE — sf-proportional, so it is joined plainly (key
    * shuffle); AQE broadcasts it at small scale, and forcing the
    * broadcast would collect a graph-sized relation to the driver at
    * exactly the scale this orientation exists for. */
  val an17Triangles: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
    val e = li.as("a").join(li.as("b"), "ok")
      .filter($"a.sk" < $"b.sk")
      .select($"a.sk".as("u"), $"b.sk".as("v")).distinct()
    val deg = e.select($"u".as("n")).unionByName(e.select($"v".as("n")))
      .groupBy($"n").agg(count(lit(1)).as("d"))
    val ed = e
      .join(deg.select($"n".as("u"), $"d".as("du")), "u")
      .join(deg.select($"n".as("v"), $"d".as("dv")), "v")
    // u < v already, so the equal-degree tie keeps s = u
    val fwd = $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v")
    val orient = ed.select(
      when(fwd, $"u").otherwise($"v").as("s"),
      when(fwd, $"v").otherwise($"u").as("t"))
    val x = orient.select($"s", $"t".as("t1"))
    val y = orient.select($"s", $"t".as("t2"))
    val wedges = x.join(y, "s").filter($"t1" < $"t2")
    val tri = wedges.join(e, $"t1" === $"u" && $"t2" === $"v")
    // three scalar aggregates as ROWS (union, not a 1×1×1 join — the
    // global plan audit forbids nested-loop joins, even trivial ones)
    deg.agg(count(lit(1)).as("value")).select(lit("n_nodes").as("metric"), $"value")
      .unionByName(e.agg(count(lit(1)).as("value"))
        .select(lit("n_edges").as("metric"), $"value"))
      .unionByName(tri.agg(count(lit(1)).as("value"))
        .select(lit("n_triangles").as("metric"), $"value"))
      .orderBy($"metric")
  }

  val an17TrianglesSql: String =
    """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |e AS (SELECT DISTINCT a.sk AS u, b.sk AS v
      |      FROM li a JOIN li b USING (ok) WHERE a.sk < b.sk),
      |deg AS (SELECT n, count(*) AS d
      |        FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e) GROUP BY n),
      |o AS (SELECT
      |        CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS s,
      |        CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS t
      |      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
      |w AS (SELECT x.t AS t1, y.t AS t2 FROM o x JOIN o y ON x.s = y.s AND x.t < y.t)
      |SELECT 'n_nodes' AS metric, count(*) AS value FROM deg
      |UNION ALL
      |SELECT 'n_edges', count(*) FROM e
      |UNION ALL
      |SELECT 'n_triangles', count(*)
      |FROM w JOIN e ON e.u = w.t1 AND e.v = w.t2
      |ORDER BY metric""".stripMargin

  // ---- d11: semantic dedup ------------------------------------------

  /** D11: semantic (embedding-space) dedup, SemDeDup-style (Abbas et
    * al., 2023): k-means clusters ARE the blocking structure — pairs
    * are scored only within a learned cluster, never across the
    * corpus — then cosine ≥ 0.99 within a cluster marks a semantic
    * duplicate. Composes n7's deterministic Lloyd (broadcast
    * centroids, k·dim-row partial-sum shuffles, points never
    * reshuffled) with d5's block-scoped pair scoring; exact copies
    * are injected so true positives exist, and identical vectors
    * provably land in the same cluster (assignment is a rounded
    * score with cid tie-break). At 100 TB the cluster count must
    * GROW with the corpus — `Clustering.blockCount(n)` is the
    * executable sizing rule (k ≈ n/4096 keeps pair work linear); the
    * k=8 here is the fixed-size gate corpus's instance of it, not a
    * constant the operator owns. */
  val d11SemanticDedup: Q = (s, dir) => {
    import s.implicits._
    val e0 = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val e = e0.unionByName(
      e0.filter($"vec_id" % 83 === 0)
        .select(($"vec_id" + 100000).as("vec_id"), $"v"))
    val lab = graft.operators.Clustering.lloyd(s, e, k = 8, iters = 2)
      .select($"vec_id", $"cid")
    val withLab = e.join(lab, "vec_id")
      .select($"vec_id", $"cid", $"v".as("embedding"))
    graft.operators.Similarity.nearDupPairs(withLab, "cid", 0.99)
      .orderBy($"v1", $"v2")
  }

  private val d11InjectedSql: String =
    """SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |UNION ALL
      |SELECT vec_id + 100000, embedding::DOUBLE[]
      |FROM embeddings WHERE vec_id % 83 = 0""".stripMargin

  val d11SemanticDedupSql: String =
    s"""WITH ${kmeansCtes(d11InjectedSql)},
       |sel AS (SELECT a2.vec_id, a2.cid, e.v FROM a2 JOIN e USING (vec_id)),
       |scored AS (
       |  SELECT x.vec_id AS v1, y.vec_id AS v2,
       |    round(list_dot_product(x.v, y.v) /
       |          (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6)
       |      AS cos
       |  FROM sel x JOIN sel y ON x.cid = y.cid AND x.vec_id < y.vec_id)
       |SELECT v1, v2, cos FROM scored WHERE cos >= 0.99
       |ORDER BY v1, v2""".stripMargin

  val defs: Map[String, Q] = Map(
    "e10_resample"     -> e10Resample,
    "e18_interpolate"  -> e18Interpolate,
    "an32_skew_report" -> an32SkewReport,
    "an17_triangles"   -> an17Triangles,
    "d11_semantic_dedup" -> d11SemanticDedup,
    "an15_pagerank"    -> an15PageRank,
    "an30_khop_reach"  -> an30KhopReach,
    "u7_scd2"          -> u7Scd2,
    "e8_funnel"        -> e8Funnel,
    "t14_boilerplate"  -> t14BoilerplateStrip,
    "e9_rolling"       -> e9Rolling,
    "n7_kmeans"        -> n7Kmeans,
    "an16_cohort"      -> an16CohortRetention,
    "j9_pit_lookup"    -> j9PitLookup,
    "an24_session_paths" -> an24SessionPaths,
    "an25_convert_latency" -> an25ConvertLatency,
    "an28_exact_p99" -> an28ExactP99,
  )

  val oracle: Map[String, String] = Map(
    "e10_resample"     -> e10ResampleSql,
    "e18_interpolate"  -> e18InterpolateSql,
    "an32_skew_report" -> an32SkewReportSql,
    "an17_triangles"   -> an17TrianglesSql,
    "d11_semantic_dedup" -> d11SemanticDedupSql,
    "an15_pagerank"    -> an15PageRankSql,
    "an30_khop_reach"  -> an30KhopReachSql,
    "u7_scd2"          -> u7Scd2Sql,
    "e8_funnel"        -> e8FunnelSql,
    "t14_boilerplate"  -> t14BoilerplateStripSql,
    "e9_rolling"       -> e9RollingSql,
    "n7_kmeans"        -> n7KmeansSql,
    "an16_cohort"      -> an16CohortRetentionSql,
    "j9_pit_lookup"    -> j9PitLookupSql,
    "an24_session_paths" -> an24SessionPathsSql,
    "an25_convert_latency" -> an25ConvertLatencySql,
    "an28_exact_p99" -> an28ExactP99Sql,
  )
}
