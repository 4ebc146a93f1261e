package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.RowsBridge
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Distributed graph analytics on edge lists — the iterate-by-join
  * pattern (one key shuffle per iteration) that scales PageRank-style
  * algorithms to edge sets far beyond one machine, without any graph
  * library: the edge relation is partitioned by source, the rank
  * relation by node, and each iteration is a co-partitioned join +
  * aggregation Catalyst plans like any other query.
  *
  * All rank arithmetic is FIXED-POINT INTEGER (`scale` units = rank
  * 1.0): contributions are `rank div out_degree` and the damping step
  * is `(85 * sum) div 100` — BIGINT divisions every engine truncates
  * identically, so after any number of iterations the ranks are
  * bit-equal on Spark and the DuckDB oracle (float summation order,
  * the usual iterative-algorithm hazard, never enters). The deliberate
  * mass leak of truncating division is identical on both sides.
  */
object Graph {

  /** PageRank after `iters` synchronous iterations over a directed
    * edge list (`src`, `dst`), damping 0.85, teleport mass distributed
    * uniformly. Requires every node to appear as a source (no dangling
    * nodes) — true by construction for bipartite graphs materialized
    * in both directions, the shape [[graft.queries.AdvancedOps]]
    * builds. Output: (node, r) with r in fixed-point `scale` units.
    *
    * Scale posture: `edges ⋈ deg` is computed once, hash-partitioned
    * on `src`, and cached; each iteration shuffles only the (node,
    * rank) relation — |V| rows, not |E| — into that partitioning,
    * aggregates contributions map-side, and emits the next rank
    * relation. The driver sees one scalar (|V|); rank state never
    * leaves the cluster.
    */
  def pageRank(edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L): DataFrame = {
    // ONE pass over the upstream edge build (r13): the out-degree is a
    // COUNT OVER the src-keyed window on the already-repartitioned
    // edge relation, so `ed` — the relation every iteration joins — is
    // built and cached in a single edge evaluation. The previous shape
    // cached deg and ed separately, and because cache population
    // happens per JOB, the expensive upstream build (for the gate's
    // an15: orders ⋈ lineitem + distinct) ran TWICE per run — measured
    // as two ~16 s-of-task-time stage groups in an r13 per-stage trace.
    // deg (|V| rows, referenced by the node count, the full node set,
    // and the initial ranks) now derives FROM the cached ed with a
    // co-partitioned aggregate — no extra shuffle, no re-build.
    //
    // Duplicate (src, dst) rows are tolerated and deduped HERE (r14),
    // inside the src-keyed exchange every caller already pays:
    // hash-partitioning on src co-locates equal (src, dst) pairs (a
    // subset of the grouping keys satisfies the aggregate's
    // ClusteredDistribution — the d16 smallStar discipline), so the
    // dedup costs a hash aggregate in the post-shuffle stage, not its
    // own (src, dst) exchange. Callers that used to pre-distinct their
    // edge relation (an15: distinct over the orders ⋈ lineitem fan-out)
    // can feed the raw join output and drop one full shuffle; callers
    // whose edges are already unique pay one idempotent aggregate in
    // an existing stage.
    val ed = edges.repartition(col("src"))
      .dropDuplicates("src", "dst")
      .withColumn("deg", count(lit(1)).over(
        Window.partitionBy(col("src"))))
      .cache()
    val deg = ed.groupBy("src").agg(min(col("deg")).as("deg")).cache()
    val n = deg.count() // one driver scalar, like any COUNT(*)
    val init = scale / n
    val teleport = (15L * init) / 100L
    val nodes = deg.select(col("src").as("node"))
    var ranks = deg.select(col("src").as("node"), lit(init).as("r"))
    (1 to iters).foreach { i =>
      // name-based using-join: `ranks` is derived from `ed`, so
      // cross-DataFrame column references would be ambiguous self-join
      // attributes; the fresh alias keeps resolution unambiguous
      val contribs = ed.join(ranks.select(col("node").as("src"), col("r")), "src")
        .select(col("dst"), expr("r div deg").as("contrib"))
        .groupBy("dst")
        .agg(sum(col("contrib")).as("s"))
      // next ranks come from the FULL node set, not just receivers: a
      // node with out-edges but no in-edges (legal under the stated
      // contract) would otherwise vanish from `ranks` after one
      // iteration — dropped from the output AND silently withholding
      // its contributions from iteration 2 on. It keeps its teleport
      // share (s = 0) like real PageRank. Both sides arrive hashed on
      // the node key, so the left join adds no extra exchange.
      ranks = nodes
        .join(contribs.select(col("dst").as("node"), col("s")), Seq("node"), "left")
        .select(col("node"),
          (lit(teleport) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100")).as("r"))
      // Truncate lineage every 3 rounds: without it the plan nests
      // one join+agg per iteration, so analysis/codegen cost grows
      // with `iters` and real PageRank iteration counts (20-50) die
      // in the optimizer long before any executor works. The
      // checkpoint materializes |V| rows — the same rows the next
      // shuffle moves anyway.
      if (i % 3 == 0 && i < iters) ranks = ranks.localCheckpoint()
    }
    // eager-materialize the result BEFORE releasing the cached edge
    // relation: the tail iterations are still lazy plans over `ed`,
    // and a session-lifetime |E|-sized cache leak evicts everyone else
    val out = ranks.localCheckpoint()
    ed.unpersist(blocking = false)
    deg.unpersist(blocking = false)
    out
  }

  /** Minimum-hop BFS distances from a seed set, capped at `maxHops` —
    * the k-hop neighborhood-expansion primitive ("which suppliers are
    * within 3 trades of these customers", interaction-graph features,
    * blast-radius audits). `seeds`: (node); `edges`: (src, dst).
    * Output: (node, dist), dist = fewest hops from any seed, reached
    * nodes only.
    *
    * Frontier BFS as iterate-by-join: `dist` holds the best-known
    * (node, dist); hop h expands ONLY nodes whose minimum distance is
    * h−1 — after the min-fold, a node sits at its discovery hop, so
    * every node is expanded exactly once across the whole run — joins
    * them against the src-partitioned cached edge relation, and folds
    * the discovered candidates back with a min-aggregate. State is
    * |reached| rows, never paths: total work is Σ frontier-degree ≤
    * |E| — the BFS bound — where a naive transitive closure pays the
    * path-count blowup (deg^k). Each hop shuffles only the dist
    * relation; the oracle replays the same fixpoint as a recursive CTE
    * with UNION-dedup semantics plus a final min-group. */
  def kHopReach(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"kHopReach: maxHops must be >= 0, got $maxHops")
    val ed = edges.repartition(col("src")).cache()
    // checkpoint the seed distances (|seeds| rows — bounded): the dist
    // lineage references them once per hop branch, and when the caller
    // derives seeds from the same expensive edge build (an30), the
    // un-materialized form re-ran that build inside the loop (r13)
    var dist = seeds.select(col("node"), lit(0L).as("dist")).distinct()
      .localCheckpoint()
    (1 to maxHops).foreach { h =>
      val frontier = dist.filter(col("dist") === (h - 1))
        .select(col("node").as("src"))
        .join(ed, "src")
        .select(col("dst").as("node"), lit(h.toLong).as("dist"))
        .distinct()
      dist = dist.unionByName(frontier)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
      // pageRank's lineage-truncation cadence: one join+agg layer per
      // hop otherwise stacks into optimizer-killing plan depth
      if (h % 3 == 0 && h < maxHops) dist = dist.localCheckpoint()
    }
    val out = dist.localCheckpoint()
    ed.unpersist(blocking = false)
    out
  }

  /** Connected components by ALTERNATING STAR CONTRACTION — the
    * two-round large-star / small-star scheme of Kiveris et al.,
    * "Connected Components in MapReduce and Beyond" (SoCC 2014), and
    * the engine's one components operator: near-dup clusters
    * ([[graft.operators.Dedup.dupClusters]], d6/d9/d10/t26/c4) and
    * d16's long chains both run on it. Where min-label propagation
    * pays one shuffle round per hop of graph diameter (a 10,000-link
    * chain = ~10,000 rounds), star contraction halves chain structure
    * every alternation and converges in O(log²) rounds on ANY
    * topology — tiny near-dup cliques and long paths (URL redirect
    * chains, citation chains, linked-page graphs) alike.
    *
    *  - local pass: before the first round, each input partition runs
    *    a union-find over its own pairs ([[localStars]]) and emits its
    *    components as stars on their local minima — a map-side
    *    pre-contraction, the partial aggregate of the rounds below;
    *  - large-star(u): every neighbor v > u re-attaches to
    *    m = min(Γ(u) ∪ u);
    *  - small-star(u): orient edges toward the larger endpoint; every
    *    smaller neighbor (and u itself) re-attaches to the minimum.
    *
    * Each star operation is ONE keyed exchange: a min OVER a window
    * partitioned by the node, the paper's one reducer per node — no
    * join back to the input, no driver state. The local pass needs no
    * exchange at all, and it is duplicate-insensitive, so the input is
    * never `distinct`ed. Edge weights only ever decrease, so the
    * (count, hash-sum) fingerprint is a sound fixpoint test. At
    * convergence every component is a star centered on its minimum
    * node: labels read off as min(self, neighbors). Nodes compare
    * with their column's own ordering — string keys work, ids are
    * never cast.
    *
    * Scale posture: shuffles are sized to the GRAPH (~1M
    * edges/partition, never corpus parallelism); each round moves
    * only the current edge relation, which contraction SHRINKS round
    * over round, through three exchanges (large-star window,
    * small-star window, terminal repartition). A component that one
    * input partition holds whole leaves the local pass finished, so a
    * graph whose partitions hold whole components stops after one
    * confirming round. The
    * local pass holds a bounded number of nodes per task, and the
    * large-star window's row buffer spills, so a hub's task stays
    * memory-bounded (SCALING.md). localCheckpoint per round bounds
    * lineage. Output: (node, component), component = the component's
    * minimum node id.
    *
    * Input `pairs`: (src, dst) — undirected, duplicates and self-loops
    * tolerated. Ids must be non-null. */
  def connectedComponents(pairs: DataFrame, maxRounds: Int = 25): DataFrame = {
    // the convergence fingerprint: count and xxhash-sum of the a ≠ b
    // rows. In the loop every row is an edge; in the local pass's
    // output the (root, root) rows are skipped.
    val isEdge = col("a") =!= col("b")
    def fingerprinted(df: DataFrame, obs: Observation): DataFrame =
      df.observe(obs, count(when(isEdge, lit(1))).as("n"),
        sum(when(isEdge, xxhash64(col("a"), col("b"))).cast("decimal(38,0)")).as("h"))
    def fingerprint(obs: Observation): (Long, java.math.BigDecimal) =
      (obs.get("n").asInstanceOf[Long], obs.get("h").asInstanceOf[java.math.BigDecimal])

    // Before the loop: ONE job, no exchange. The local pass's (node,
    // root) rows are checkpointed once, with their fingerprint riding
    // that job as an Observation. The loop's edges are the a ≠ b rows;
    // the node set is every `a`, because each node the input mentions
    // emits one row — a node appearing only as (x, x) is a singleton
    // component and still gets its output row.
    // The loop starts from the local pass's fingerprint, so an input
    // the pass already reduced to stars stops after round 1.
    val localObs = Observation()
    val local = fingerprinted(localStars(pairs, LocalNodeBudget), localObs)
      .localCheckpoint()
    var prev = fingerprint(localObs)
    val nEdges = prev._1
    val nodes = local.select(col("a").as("node")).distinct()
    val sessParts = local.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt
    val nParts = math.max(1L,
      math.min(sessParts.toLong, nEdges / 1000000L + 1L)).toInt

    // every row (a, b) of nb with b > a becomes (b, m): m ≤ a < b, so
    // no self-loop is emitted. Two centers sharing a neighbor b and a
    // minimum m emit the same (b, m) edge; smallStar's min is
    // duplicate-insensitive and the round's terminal dropDuplicates
    // canonicalizes the edge set the fingerprint sees.
    def largeStar(e: DataFrame): DataFrame = {
      val nb = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      nb.withColumn("m", least(col("a"), min(col("b")).over(Window.partitionBy(col("a")))))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // each row (c, w) emits (w, m) and, through the same explode,
    // (c, m) — once per row rather than once per c; the terminal
    // dropDuplicates removes the copies. That dedup is also the round's
    // repartition: hash-partitioning on `a` alone co-locates equal
    // (a, b) rows (a subset of the grouping keys satisfies the
    // aggregate's ClusteredDistribution), so it needs no exchange of
    // its own.
    def smallStar(e: DataFrame): DataFrame =
      e.select(greatest(col("a"), col("b")).as("c"), least(col("a"), col("b")).as("w"))
        .withColumn("m", min(col("w")).over(Window.partitionBy(col("c"))))
        .select(explode(array(col("w"), col("c"))).as("a"), col("m").as("b"))
        .filter(isEdge)
        .repartition(nParts, col("a"))
        .dropDuplicates("a", "b")

    var e = local.filter(isEdge)
    var r = 0
    var done = false
    while (!done && r < maxRounds) {
      // ONE alternation per checkpoint, and ONE action per round: the
      // convergence fingerprint rides the checkpoint's own
      // materialization job as an Observation. Under AQE each of the
      // round's three exchanges is its own job, so a round is 4 jobs.
      val obs = Observation()
      e = fingerprinted(smallStar(largeStar(e)), obs).localCheckpoint()
      val fp = fingerprint(obs)
      done = fp == prev
      prev = fp
      r += 1
    }
    // CONVERGENCE CONTRACT (r10): a loop that exits at the round cap
    // without the fingerprint fixpoint has NOT computed connected
    // components — labels from a non-converged edge set silently split
    // components. An exactness-everywhere engine fails loudly instead;
    // the measured curves (SCALING.md: 13 rounds, the last one
    // confirming, on a 4096-link chain the local pass cannot shorten;
    // O(log^2) by Kiveris et al.) make the default cap generous for
    // any realistic topology, so tripping this means the caller should
    // raise maxRounds, not that the algorithm stalled. The local pass
    // never changes the components, only how many rounds remain: when
    // it already left stars on the component minima, round 1 is the
    // fixpoint, because the local pass's fingerprint is the first one
    // round 1 is compared with.
    if (!done) throw new IllegalStateException(
      s"connectedComponents did not reach the star fixpoint in $maxRounds rounds " +
        s"(${nEdges} edges after the per-partition local pass) — raise maxRounds")
    // at the fixpoint E is a union of stars: component = min over
    // self ∪ neighbors (centers have only larger neighbors → self)
    val nb = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .groupBy(col("a")).agg(min(col("b")).as("mn"))
    nodes.join(nb.select(col("a").as("node"), col("mn")), Seq("node"), "left")
      .select(col("node"),
        least(col("node"), coalesce(col("mn"), col("node"))).as("component"))
  }

  /** Nodes one task of the local pass holds before it flushes. A node
    * costs about 150 bytes of heap (key row, map entry, parent slot)
    * plus its key's bytes: some 20 MB per task for long ids. */
  private val LocalNodeBudget = 1 << 17

  /** The local pass of [[connectedComponents]]: a union-find over each
    * input partition's (src, dst) pairs, with no exchange. Output:
    * (a, b) = (node, root), one row per node the partition saw, root =
    * the node's local component minimum under Spark's ordering for the
    * column's type (strings compare as UTF-8 bytes, like `least` and
    * `min`); a root emits (root, root). Both columns take the type
    * `least(src, dst)` resolves to.
    *
    * Each partition replaces its pairs by a forest with the same
    * components, so the output has exactly the input's components,
    * whatever the layout; duplicates and self-loops cost nothing. A
    * task holds at most `budget` + 1 nodes: when its map fills, it
    * emits its stars and starts again. That flush is sound for the
    * same reason — every pair lies inside one flush — at the price of
    * a node being emitted once per flush that saw it. */
  private[graft] def localStars(pairs: DataFrame, budget: Int): DataFrame = {
    require(budget >= 1, s"localStars: budget must be >= 1, got $budget")
    val t = pairs.select(least(col("src"), col("dst"))).schema.head.dataType
    val ab = pairs.select(col("src").cast(t).as("a"), col("dst").cast(t).as("b"))
    val nullable = ab.schema.exists(_.nullable)
    val schema = StructType(Seq(StructField("a", t, nullable), StructField("b", t, nullable)))
    val rows = ab.queryExecution.toRdd.mapPartitions(new LocalForest(_, t, budget))
    RowsBridge.dataFrame(ab.sparkSession, rows, schema)
  }
}

/** [[Graph.localStars]]' per-partition union-find. Node keys are
  * one-field UnsafeRows — byte equality, any orderable type — copied
  * out of the projections' reused rows. A union hangs the larger root
  * under the smaller one, so every root is its set's minimum. */
private final class LocalForest(in: Iterator[InternalRow], t: DataType, budget: Int)
    extends Iterator[InternalRow] {
  private val keyOf = Array(0, 1).map(i =>
    UnsafeProjection.create(Seq(BoundReference(i, t, nullable = true))))
  private val ord = LazilyGeneratedOrdering.forSchema(new StructType().add("k", t))
  private val index = new java.util.HashMap[UnsafeRow, Integer]
  private val keys = new ArrayBuffer[UnsafeRow]
  private var parent = new Array[Int](64)
  private var out: Iterator[InternalRow] = Iterator.empty

  private def id(k: UnsafeRow): Int = {
    val i = index.get(k)
    if (i != null) i
    else {
      val n = keys.length
      val owned = k.copy()
      keys += owned
      index.put(owned, n)
      if (n == parent.length) parent = java.util.Arrays.copyOf(parent, 2 * n)
      parent(n) = n
      n
    }
  }

  private def find(x: Int): Int = {
    var y = x
    while (parent(y) != y) { parent(y) = parent(parent(y)); y = parent(y) }
    y
  }

  // reads pairs until the map holds `budget` nodes or the input ends,
  // then hands out one (node, root) row per node
  private def fill(): Unit = {
    index.clear()
    keys.clear()
    while (in.hasNext && keys.length < budget) {
      val row = in.next()
      val a = find(id(keyOf(0)(row)))
      val b = find(id(keyOf(1)(row)))
      if (a != b) {
        if (ord.compare(keys(a), keys(b)) <= 0) parent(b) = a else parent(a) = b
      }
    }
    out = Iterator.tabulate(keys.length)(i =>
      new GenericInternalRow(Array[Any](keys(i).get(0, t), keys(find(i)).get(0, t))))
  }

  override def hasNext: Boolean = out.hasNext || (in.hasNext && { fill(); out.hasNext })
  override def next(): InternalRow = if (hasNext) out.next() else Iterator.empty.next()
}
