package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, TestSpark}
import graft.operators.Graph

/** PageRank, SCD2, funnel, boilerplate strip, rolling features. */
class AdvancedOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // ---- PageRank ------------------------------------------------------

  test("pageRank: symmetric 2-cycle is the stable uniform ranking") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // init = 1e12/2; contrib = full rank (deg 1); damped back to exactly
    // teleport + 0.85 * 5e11 = 5e11 each round — the fixpoint
    assert(r === Map(0L -> 500000000000L, 1L -> 500000000000L))
  }

  test("pageRank: star graph matches the hand-computed fixed-point arithmetic") {
    val e0 = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("src", "dst")
    val edges = e0.unionByName(e0.select($"dst".as("src"), $"src".as("dst")))
    val r = Graph.pageRank(edges, iters = 1).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    // N=4, init=250000000000, teleport=(15*init)/100=37500000000
    // center: 3 leaves contribute init each -> tp + 85*750e9/100
    assert(r(0L) === 37500000000L + 85L * 750000000000L / 100L)
    // leaf: center contributes init/3 (truncated)
    val leaf = 37500000000L + 85L * (250000000000L / 3L) / 100L
    assert(r(1L) === leaf && r(2L) === leaf && r(3L) === leaf)
  }

  test("pageRank: 20-iteration depth converges to the 2-cycle fixpoint (lineage truncated)") {
    // real iteration counts are the operator contract (the r4 verdict's
    // latent hazard): without the per-3-rounds localCheckpoint this
    // nests 20 join+agg layers and dies in the optimizer, not the
    // executors. The 2-cycle is a per-round fixpoint, so depth cannot
    // change the answer — determinism AND completion are the assertion.
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 20).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r === Map(0L -> 500000000000L, 1L -> 500000000000L))
  }

  // ---- k-hop BFS -----------------------------------------------------

  test("kHopReach: path graph — distances count hops, beyond-horizon nodes absent") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("node")
    val d = Graph.kHopReach(edges, seeds, maxHops = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L), s"got $d")
  }

  test("kHopReach: min distance wins when paths of different lengths reach a node") {
    // 0→1→2 (two hops) and 0→2 (one hop): the fold must keep 1
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val d = Graph.kHopReach(edges, Seq(0L).toDF("node"), maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L, 2L -> 1L))
  }

  test("kHopReach: cycles don't inflate distances or loop state") {
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val d = Graph.kHopReach(edges, Seq(0L).toDF("node"), maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d === Map(0L -> 0L, 1L -> 1L))
  }

  test("kHopReach: multiple seeds take the nearest, and hop 4+ stays truncated (lineage checkpoint)") {
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val d = Graph.kHopReach(edges, Seq(0L, 6L).toDF("node"), maxHops = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 7/8 are 1/2 hops from seed 6, not 7/8 hops from seed 0
    assert(d(7L) === 1L && d(8L) === 2L && d(5L) === 5L && d.size === 9)
  }

  test("pageRank: a source-only node keeps its teleport rank and its contributions") {
    // c has out-edges but no in-edges — legal under the operator
    // contract (every node appears as a source). The receiver-only
    // iteration used to drop c from `ranks` after round 1: missing
    // from the output AND withholding its mass from round 2 on.
    val edges = Seq((0L, 1L), (1L, 0L), (2L, 0L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet === Set(0L, 1L, 2L), s"node set $r")
    // N=3, init=333333333333, teleport=(15*init)/100
    val tp = 15L * (1000000000000L / 3L) / 100L
    assert(r(2L) === tp, s"source-only node must sit at teleport rank, got ${r(2L)}")
    // node 0 receives from BOTH 1 and 2 every round; with c dropped it
    // would receive only 1's mass — strictly less than this
    val it1_0 = tp + 85L * (333333333333L + 333333333333L) / 100L
    val it1_1 = tp + 85L * 333333333333L / 100L
    val it2_0 = tp + 85L * (it1_1 + tp) / 100L
    val it3_0 = tp + 85L * ((tp + 85L * (it1_0) / 100L) + tp) / 100L
    assert(r(0L) === it3_0, s"expected $it3_0 got ${r(0L)}")
  }

  test("pageRank: rank mass is conserved up to truncation leak") {
    val df = AdvancedOps.an15PageRank(spark, sf)
    val total = df.agg(sum($"rank")).as[Long].head()
    // truncating divisions only ever LOSE mass: total <= scale, and the
    // per-division loss (< 1 unit each) keeps the leak tiny
    assert(total <= 1000000000000L && total > 990000000000L, s"mass $total")
    // bipartite node ids: even = customer, odd = supplier
    val kinds = df.select($"node" % 2 === 0, $"kind" === "customer")
      .as[(Boolean, Boolean)].collect()
    assert(kinds.forall { case (even, cust) => even === cust })
  }

  // ---- SCD Type 2 ----------------------------------------------------

  test("scd2: versions are consecutive, intervals contiguous, one open row per user") {
    val rows = AdvancedOps.u7Scd2(spark, sf)
      .select($"user_id", $"tier", $"valid_from", $"valid_to", $"version",
        $"is_current")
      .as[(Long, Long, Long, Option[Long], Long, Boolean)]
      .collect().groupBy(_._1)
    assert(rows.nonEmpty)
    rows.foreach { case (_, vs) =>
      val sorted = vs.sortBy(_._5)
      assert(sorted.map(_._5).toSeq === (1L to sorted.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3)) // valid_to == next valid_from
          assert(a._2 !== b._2)       // only CHANGES open versions
        case _ =>
      }
      assert(sorted.count(_._6) === 1 && sorted.last._6) // one open row
      assert(sorted.last._4.isEmpty)
    }
  }

  // ---- funnel --------------------------------------------------------

  test("funnel: single-shuffle sequence scan == three-step min-join formulation") {
    val ev = graft.Tables.load(spark, sf, "events")
      .filter($"event_type".isin("view", "click", "purchase"))
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_type")
      .cache()
    val v = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"tus").as("tv"))
    val c = ev.filter($"event_type" === "click").join(v, "user_id")
      .filter($"tus" > $"tv").groupBy($"user_id").agg(min($"tus").as("tc"))
    val p = ev.filter($"event_type" === "purchase").join(c, "user_id")
      .filter($"tus" > $"tc").groupBy($"user_id").agg(min($"tus").as("tp"))
    val expected = (
      ev.select($"user_id").distinct().count(),
      v.count(), c.count(), p.count(),
      p.join(v, "user_id").agg(coalesce(sum($"tp" - $"tv"), lit(0L)))
        .as[Long].head())
    val got = AdvancedOps.e8Funnel(spark, sf)
      .as[(Long, Long, Long, Long, Long)].head()
    assert(got === expected)
    ev.unpersist()
  }

  // ---- boilerplate strip ---------------------------------------------

  test("boilerplate strip: exactly the planted docs are stripped, and stripping restores the original text") {
    val docs = graft.Tables.load(spark, sf, "documents")
      .select($"doc_id", $"text")
    val out = AdvancedOps.t14BoilerplateStrip(spark, sf)
      .join(docs, "doc_id")
      .select($"doc_id", $"stripped", $"text_clean" === $"text",
        $"n_words" - $"n_words_clean")
      .as[(Long, Boolean, Boolean, Long)].collect()
    assert(out.nonEmpty)
    out.foreach { case (id, stripped, restores, delta) =>
      assert(stripped === (id % 3 === 0), s"doc $id")
      if (stripped) { assert(restores && delta === 5L, s"doc $id") }
      else assert(delta === 0L, s"doc $id")
    }
  }

  // ---- cohort retention ----------------------------------------------

  test("cohort retention: week-0 activity equals cohort size, later weeks never exceed it") {
    val rows = AdvancedOps.an16CohortRetention(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (cw, k, active, cohort) =>
      assert(active <= cohort, s"cohort $cw k=$k")
      if (k === 0L) assert(active === cohort, s"cohort $cw")
    }
    // every user lands in exactly one cohort: sizes sum to the user count
    val users = graft.Tables.load(spark, sf, "events")
      .select($"user_id").distinct().count()
    assert(rows.filter(_._2 === 0L).map(_._4).sum === users)
  }

  // ---- k-means -------------------------------------------------------

  test("kmeans: every point assigned exactly once, to a seed-derived cluster") {
    val out = AdvancedOps.n7Kmeans(spark, sf)
      .as[(Long, Long, Double)].collect()
    val n = graft.Tables.load(spark, sf, "embeddings").count()
    assert(out.length === n)
    assert(out.map(_._1).distinct.length === n)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
  }

  test("kmeans single assignment step == brute-force nearest seed") {
    import graft.operators.Clustering
    val points = graft.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val got = Clustering.lloyd(spark, points, k = 4, iters = 1)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    // brute force on the driver over the same seeds and score formula
    val seeds = points.orderBy($"vec_id").limit(4).collect()
      .map(r => r.getSeq[Double](1).toArray).zipWithIndex
    val pts = points.as[(Long, Seq[Double])].collect()
    pts.foreach { case (id, vs) =>
      val v = vs.toArray
      val best = seeds.map { case (c, i) =>
        val cc = c.zip(c).map { case (a, b) => a * b }.sum
        val xc = v.zip(c).map { case (a, b) => a * b }.sum
        (BigDecimal(cc - 2 * xc).setScale(6, BigDecimal.RoundingMode.HALF_UP), i)
      }.min
      assert(got(id) === best._2.toLong, s"vec $id")
    }
  }

  test("kmeans is invariant to input partitioning") {
    import graft.operators.Clustering
    val points = graft.Tables.load(spark, sf, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val a = Clustering.lloyd(spark, points, k = 8, iters = 2)
      .select($"vec_id", $"cid", $"score").as[(Long, Long, Double)].collect().sortBy(_._1)
    val b = Clustering.lloyd(spark, points.repartition(13), k = 8, iters = 2)
      .select($"vec_id", $"cid", $"score").as[(Long, Long, Double)].collect().sortBy(_._1)
    assert(a.toSeq === b.toSeq)
  }

  // ---- rolling features ----------------------------------------------

  test("rolling 1h features == the quadratic self-join definition") {
    val ev = graft.Tables.load(spark, sf, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"),
        floor($"value" * 100).cast("long").as("vc"))
      .cache()
    val other = ev.select($"user_id", $"tus".as("tus2"), $"vc".as("vc2"))
    val expected = ev.join(other, "user_id")
      .filter($"tus2" <= $"tus" && $"tus2" >= $"tus" - 3600000000L)
      .groupBy($"event_id")
      .agg(count(lit(1)).as("cnt_1h"), sum($"vc2").as("sum_vc_1h"))
    val got = AdvancedOps.e9Rolling(spark, sf)
      .select($"event_id", $"cnt_1h", $"sum_vc_1h")
    assert(got.exceptAll(expected.select($"event_id", $"cnt_1h", $"sum_vc_1h"))
      .count() === 0)
    assert(got.count() === expected.count())
    ev.unpersist()
  }

  test("j9: as-of PIT lookup equals the naive interval join over SCD2") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val dim = AdvancedOps.u7Scd2(spark, sf)
      .select($"user_id", $"tier", $"valid_from", $"valid_to")
    val facts = graft.Tables.load(spark, sf, "events")
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"))
    val naive = facts.as("f").join(dim.as("d"),
        $"f.user_id" === $"d.user_id" && $"d.valid_from" <= $"f.tus" &&
          ($"d.valid_to".isNull || $"f.tus" < $"d.valid_to"))
      .select($"event_id", $"f.user_id", $"tier".as("tier_at"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val asOf = AdvancedOps.j9PitLookup(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(asOf === naive)
    // versions partition each user's timeline: exactly one match per fact
    assert(asOf.size === facts.count())
  }

  test("an24: session paths cover all sessions with at most 4 steps each") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val out = AdvancedOps.an24SessionPaths(spark, sf).collect()
    assert(out.length <= 10)
    out.foreach { r =>
      assert(r.getString(0).split(">").length <= 4)
      assert(r.getLong(1) >= 1L)
    }
    // top-10 ordering is (n desc, path asc)
    val pairs = out.map(r => (r.getLong(1), r.getString(0)))
    assert(pairs.sortBy { case (n, p) => (-n, p) }.toSeq === pairs.toSeq)
  }

  // ---- Graph.connectedComponents (d16: alternating star contraction) --

  /** `links` over `parts` partitions, link i in partition i % parts:
    * no partition holds two adjacent links of a chain, so the local
    * pass contracts nothing and the star rounds do all the work. */
  private def interleaved(links: Seq[(Long, Long)], parts: Int) = {
    import spark.implicits._
    spark.sparkContext.parallelize(0 until parts, parts)
      .flatMap(p => links.indices.filter(_ % parts == p).map(links))
      .toDF("src", "dst")
  }

  /** A driver-side union-find whose roots are their set's minimum:
    * node → component label, one entry per node `pairs` mentions. */
  private def driverComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val next = parent(y); parent(y) = r; y = next }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra max rb) = ra min rb
    }
    parent.keys.toSeq.map(n => n -> find(n)).toMap
  }

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.map(_._1).distinct.length === rows.length, "one row per node")
    rows.toMap
  }

  test("connectedComponents: long chain collapses to its min in logarithmic rounds") {
    // a 200-link chain is the min-label worst case (~100 propagation
    // rounds); star contraction must finish inside 12 alternations.
    // Interleaved over 8 partitions, the local pass leaves the chain
    // whole for the rounds.
    val edges = interleaved((0L until 200L).map(i => (i, i + 1)), 8)
    val out = Graph.connectedComponents(edges, maxRounds = 12).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length === 201)
    assert(out.forall(_._2 === 0L), s"non-root labels: ${out.filterNot(_._2 == 0L).take(5).toSeq}")
  }

  test("connectedComponents fails LOUDLY at the round cap instead of returning split components (r10 contract)") {
    // a 64-link chain cannot reach the star fixpoint in 2 alternations:
    // pre-r10 the loop returned the truncated (wrong) labels silently —
    // the caller could not tell a converged result from a partial one.
    // Interleaved, so the local pass cannot collapse it before round 1.
    val edges = interleaved((0L until 64L).map(i => (i, i + 1)), 8)
    val e = intercept[IllegalStateException] {
      Graph.connectedComponents(edges, maxRounds = 2)
    }
    assert(e.getMessage.contains("fixpoint") && e.getMessage.contains("maxRounds"))
    // the local pass re-orients each link as (node, root) and
    // contracts nothing: 64 edges left for the rounds
    assert(e.getMessage.contains("(64 edges after the per-partition local pass)"), e.getMessage)
    // and the same graph under a sufficient cap converges fine
    val ok = Graph.connectedComponents(edges, maxRounds = 12).collect()
    assert(ok.length === 65 && ok.forall(_.getLong(1) === 0L))
  }

  test("connectedComponents: multiple components, duplicate and self-loop edges tolerated") {
    import spark.implicits._
    val edges = Seq(
      (5L, 9L), (9L, 5L), (9L, 9L),        // pair w/ dup + self-loop
      (20L, 21L), (21L, 22L), (22L, 20L),  // triangle
      (40L, 41L),                          // isolated pair
      (77L, 77L)                           // self-loop-ONLY node: singleton
    ).toDF("src", "dst")
    val out = Graph.connectedComponents(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(out === Map(5L -> 5L, 9L -> 5L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 40L -> 40L, 41L -> 40L,
      77L -> 77L))
  }

  test("connectedComponents: string-keyed nodes order lexicographically, never cast") {
    import spark.implicits._
    val edges = Seq(("url-b", "url-a"), ("url-c", "url-b"), ("zz", "yy"))
      .toDF("src", "dst")
    val out = Graph.connectedComponents(edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(out === Map("url-a" -> "url-a", "url-b" -> "url-a",
      "url-c" -> "url-a", "yy" -> "yy", "zz" -> "yy"))
  }

  test("connectedComponents matches a driver union-find on a hub, a chain, reversed and duplicate edges") {
    // hub 2500 with 5,000 leaves on both sides of its own id; a
    // 300-link chain fed in reversed orientation, reaching the hub
    // through leaf 4000; duplicates in both orientations; a self-loop
    // on a chain node and a self-loop-only singleton
    val hub = (0L to 5000L).filter(_ != 2500L).map(l => (2500L, l))
    val chain = (10000L until 10300L).map(i => (i + 1, i)) :+ ((10000L, 4000L))
    val dups = hub.take(100) ++ hub.takeRight(100).map(_.swap) ++ chain.take(50).map(_.swap)
    val loops = Seq((10100L, 10100L), (30000L, 30000L))
    val pairs = hub ++ chain ++ dups ++ loops
    val out = labels(Graph.connectedComponents(pairs.toDF("src", "dst")))
    val expected = driverComponents(pairs)
    assert(out === expected)
    assert(expected.values.toSet === Set(0L, 30000L))
  }

  test("connectedComponents agrees with dupClusters on a pseudo-random graph") {
    import spark.implicits._
    // deterministic scatter: 300 edges over ~120 nodes, mixed shapes.
    // dupClusters is connectedComponents under the (d1, d2) ->
    // (doc_id, cluster_id) renaming; both must give the union-find's labels
    val edges = (1 to 300).map { i =>
      val a = (i * 37) % 120; val b = (i * i * 13 + 7) % 120
      (a.toLong, b.toLong)
    }.filter { case (a, b) => a != b }
    val stars = labels(Graph.connectedComponents(edges.toDF("src", "dst")))
    val clusters = graft.operators.Dedup.dupClusters(edges.toDF("d1", "d2"))
    assert(clusters.columns.toSeq === Seq("doc_id", "cluster_id"))
    assert(stars === labels(clusters))
    assert(stars === driverComponents(edges))
  }

  // ---- the local pass (per-partition union-find before round 1) ------

  test("connectedComponents matches a driver union-find under every input layout") {
    import spark.implicits._
    // random graphs with duplicates in both orientations and a
    // self-loop-only singleton, laid out on one partition, round-robin
    // over 8, hashed on src; plus a chain no partition holds two
    // adjacent links of
    val rnd = new scala.util.Random(16)
    (1 to 3).foreach { g =>
      val edges = Seq.fill(400)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      val pairs = edges ++ edges.take(60).map(_.swap) ++ edges.slice(100, 140) :+ ((999L, 999L))
      val expected = driverComponents(pairs)
      val df = pairs.toDF("src", "dst")
      Seq("one partition" -> df.repartition(1), "round-robin over 8" -> df.repartition(8),
          "hashed on src" -> df.repartition(8, $"src")).foreach { case (layout, in) =>
        assert(labels(Graph.connectedComponents(in)) === expected, s"graph $g, $layout")
      }
    }
    val chain = (0L until 300L).map(i => if (i % 2 == 0) (i, i + 1) else (i + 1, i))
    assert(labels(Graph.connectedComponents(interleaved(chain, 8))) === driverComponents(chain))
  }

  test("connectedComponents: the same pairs in every partition, and a self-loop-only singleton") {
    import spark.implicits._
    // every partition holds the same triangle and pair in both
    // orientations: each emits the same stars, and the labels and the
    // one row per node must not see the copies
    val block = Seq((3L, 1L), (1L, 2L), (2L, 3L), (8L, 9L)).flatMap(p => Seq(p, p.swap))
    val df = spark.sparkContext.parallelize(0 until 8, 8)
      .flatMap(p => if (p == 5) block :+ ((42L, 42L)) else block)
      .toDF("src", "dst")
    assert(labels(Graph.connectedComponents(df)) ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 8L -> 8L, 9L -> 8L, 42L -> 42L))
  }

  test("connectedComponents: a partition holding whole components converges in one round") {
    // the local pass leaves the stars the first round only confirms;
    // a one-round cap must not trip
    val chain = (0L until 200L).map(i => (i + 1, i)) ++ (500L until 520L).map(i => (i, i + 1))
    val one = interleaved(chain, 1)
    assert(labels(Graph.connectedComponents(one, maxRounds = 1)) === driverComponents(chain))
  }

  test("connectedComponents: string roots follow Spark's UTF-8 order, not UTF-16") {
    import spark.implicits._
    // U+FFFD sorts after U+1F600 in UTF-16 code units (0xFFFD > 0xD83D)
    // and before it in UTF-8 bytes (EF < F0); Spark's min picks U+FFFD.
    // A local pass choosing roots by java.lang.String order would emit
    // stars the first round re-orients, and the one-round cap would trip.
    val (rep, emoji) = ("\uFFFD", "\uD83D\uDE00")
    val pairs = Seq((emoji, rep), (emoji + "x", emoji), ("a" + emoji, "a" + rep))
    val df = pairs.toDF("src", "dst").repartition(1)
    val out = Graph.connectedComponents(df, maxRounds = 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val sparkMin = Seq(rep, emoji).toDF("s").agg(min($"s")).head().getString(0)
    assert(sparkMin === rep)
    assert(out === Map(rep -> sparkMin, emoji -> sparkMin, (emoji + "x") -> sparkMin,
      ("a" + emoji) -> ("a" + rep), ("a" + rep) -> ("a" + rep)))
  }

  test("localStars: a small node budget flushes, and the components survive") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong)) :+ ((500L, 500L))
    val df = pairs.toDF("src", "dst").repartition(2)
    val expected = driverComponents(pairs)
    Seq(1, 4, 16, 1 << 17).foreach { budget =>
      val stars = Graph.localStars(df, budget).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(stars.forall { case (node, root) => root <= node }, s"budget $budget: roots are minima")
      // stars, not deeper trees: every node a row names as its root
      // emits its own (root, root) row
      val roots = stars.collect { case (n, r) if n == r => n }.toSet
      assert(stars.forall { case (_, root) => roots(root) }, s"budget $budget: not stars")
      assert(stars.map(_._1).toSet === expected.keySet, s"budget $budget: a row per node")
      // a node seen by several flushes is emitted once by each
      if (budget < 16) assert(stars.length > 2 * expected.size, s"budget $budget: no flush happened")
      assert(driverComponents(stars.toSeq) === expected, s"budget $budget: components changed")
      // the flushed stars are a valid input of their own
      assert(labels(Graph.connectedComponents(stars.toSeq.toDF("src", "dst").repartition(2))) ===
        expected, s"budget $budget")
    }
  }

  /** Jobs launched while `SparkEntry.queries(q)` builds the query at
    * sf0.001, then while a noop write runs it. */
  private def jobLedger(q: String): (Int, Int) = {
    var df: org.apache.spark.sql.DataFrame = null
    val built = TestSpark.jobsDuring { df = SparkEntry.queries(q)(spark, sf) }
    val ran = TestSpark.jobsDuring { df.write.format("noop").mode("overwrite").save() }
    info(s"$built jobs at construction, $ran at execution")
    (built, ran)
  }

  test("d16_cc_stars runs at most 11 jobs, 5 at construction") {
    // measured at sf0.001: 5 jobs build the query (the local pass's
    // checkpoint and one star round of 4 jobs) and 6 run it. Each
    // partition of d16's input holds whole components, so the local
    // pass leaves the final stars and the one round only confirms
    // them. With the distinct input checkpointed and 8 rounds to the
    // fixpoint the query launched 40; with each star step a groupBy
    // min joined back to its input, 71.
    val (built, ran) = jobLedger("d16_cc_stars")
    assert(built <= 5, s"d16_cc_stars launched $built jobs at construction")
    assert(built + ran <= 11, s"d16_cc_stars launched ${built + ran} jobs")
  }

  test("d6_dup_clusters runs at most 24 jobs, 18 at construction") {
    // measured at sf0.001: the minhash pair pipeline's exchanges and
    // the local pass's checkpoint build the query, with one confirming
    // star round, since the pairs arrive with whole components in one
    // partition. With min-label propagation (a pair count, a
    // checkpoint and a label-sum job per two propagations) the query
    // launched 35 jobs at construction and 38 in total here, and 35
    // at construction at sf0.01.
    val (built, ran) = jobLedger("d6_dup_clusters")
    assert(built <= 18, s"d6_dup_clusters launched $built jobs at construction")
    assert(built + ran <= 24, s"d6_dup_clusters launched ${built + ran} jobs")
  }
}
