package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Bloom, Corpus, Dedup, Quantize, Similarity}

/** Dedup-path scaling experiments over derived corpora (the
  * correctness gate still runs only on driver-generated testdata):
  *
  * 1. LINEAR growth — N disjoint replicas of sf0.1 documents (every
  *    word prefixed with a replica tag, so no cross-replica shingle
  *    collisions). Near-dup density constant; time should grow ~N.
  * 2. PATHOLOGICAL duplicates — N IDENTICAL replicas: every unique
  *    text becomes an (N·dups)-clique, candidate pairs grow ~N², the
  *    hot-bucket regime SCALING.md warns about; measured with and
  *    without the `maxBucket` cap.
  *
  * Results recorded in SCALING.md §"Measured scale curve".
  */
object ScaleStress {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // optional section filter: `runMain graft.tools.ScaleStress d12 t17`
    val only: Set[String] = args.toSet
    def sect(name: String): Boolean = only.isEmpty || only.contains(name)

    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("source"))

    def withDups(d: DataFrame): DataFrame =
      d.unionByName(
        d.filter(col("doc_id") % 97 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(col("text"), lit(" near dup tail")).as("text"),
            col("source")))

    /** N replicas with per-replica word tags → disjoint shingle spaces. */
    def disjoint(replicas: Int): DataFrame =
      (0 until replicas).map { r =>
        withDups(base.select(
          (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${r}_$$1").as("text"),
          col("source")))
      }.reduce(_.unionByName(_))

    /** N byte-identical replicas → duplicate cliques. */
    def identical(replicas: Int): DataFrame =
      (0 until replicas).map { r =>
        withDups(base.select(
          (col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          col("text"), col("source")))
      }.reduce(_.unionByName(_))

    // per-block hypervisor-steal share: on a Firecracker guest the
    // SAME block measured 6.5 s and 71 s across runs with guest
    // loadavg < 1 — a curve datapoint without its steal% is
    // uninterpretable (see Bench.cpuTicks)
    def time(label: String)(df: => DataFrame): Unit = {
      val s0 = graft.Bench.cpuTicks()
      val t0 = System.nanoTime()
      val out = df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      val steal = graft.Bench.stealPct(s0, graft.Bench.cpuTicks())
      println(f"[stress] $label%-36s ${dt}%7.2f s  (out=$out, steal=$steal%.1f%%)")
    }

    if (sect("d2")) Seq(1, 5, 20).foreach { n =>
      // cache (not localCheckpoint): unpersist on a checkpointed
      // Dataset is a no-op — checkpoint blocks outlive the loop and
      // would shrink execution memory for the next, bigger corpus
      val docs = disjoint(n).cache()
      val rows = docs.count()
      time(s"linear n=$n rows=$rows d2") {
        Dedup.minhashNearDups(docs, "doc_id", "text") }
      docs.unpersist(blocking = true)
    }
    if (sect("d2")) {
    val patho = identical(20).cache()
    val rows = patho.count()
    time(s"patho n=20 rows=$rows d2 uncapped") {
      Dedup.minhashNearDups(patho, "doc_id", "text") }
    time(s"patho n=20 rows=$rows d2 cap=10") {
      Dedup.minhashNearDups(patho, "doc_id", "text", maxBucket = Some(10)) }
    patho.unpersist(blocking = true)
    }

    // 3. LSH ANN (n5) — candidate side replicated N×: bucket
    // assignment is per-row, candidate generation joins only the
    // probed buckets, so time should grow ~N while the query side
    // stays fixed.
    val emb = Tables.load(spark, sfDir, "embeddings")
    def embN(replicas: Int): DataFrame =
      (0 until replicas).map { r =>
        emb.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"),
          col("embedding"), col("label"))
      }.reduce(_.unionByName(_))
    if (sect("n5")) Seq(1, 5, 20).foreach { n =>
      val cand = embN(n).cache()
      val nr = cand.count()
      time(s"ann n=$n rows=$nr n5 lshTopK") {
        Similarity.lshTopK(cand, emb.filter(col("vec_id") < 5), dim = 64) }
      cand.unpersist(blocking = true)
    }

    // 4. Decontamination (t13) — corpus replicated N×, benchmark set
    // fixed: the bench n-gram broadcast is constant, the corpus side
    // is a map-side explode + broadcast join, so time should grow ~N.
    def docsN(replicas: Int): DataFrame =
      (0 until replicas).map { r =>
        base.select((col("doc_id") + lit(r.toLong * 10000000L)).as("doc_id"),
          col("text"), col("source"))
      }.reduce(_.unionByName(_))
    val bench = base.filter(col("doc_id") % 211 === 5)
    if (sect("t13")) Seq(1, 5, 20).foreach { n =>
      val corpus = docsN(n).cache()
      val nr = corpus.count()
      time(s"decon n=$n rows=$nr t13") {
        Corpus.decontaminate(corpus, bench, "doc_id", "text") }
      corpus.unpersist(blocking = true)
    }

    // 5. Bloom semi-join reduction (j6) — probe side replicated N×,
    // build side fixed: the filter build is constant work, the probe
    // is per-row arithmetic against a broadcast single row, so time
    // should grow ~N with zero probe-side shuffle at every N.
    val orders = Tables.load(spark, sfDir, "orders")
    val buildKeys = Tables.load(spark, sfDir, "customer")
      .filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
    def ordersN(replicas: Int): DataFrame =
      (0 until replicas).map { r =>
        orders.select((col("o_orderkey") + lit(r.toLong * 100000000L)).as("o_orderkey"),
          col("o_custkey"))
      }.reduce(_.unionByName(_))
    if (sect("j6")) Seq(1, 5, 20).foreach { n =>
      val probe = ordersN(n).cache()
      val nr = probe.count()
      time(s"bloom n=$n rows=$nr j6 reduce") {
        Bloom.semiJoinReduce(probe, "o_custkey", buildKeys, "c_custkey") }
      probe.unpersist(blocking = true)
    }

    // 6. Quantized top-k (n6) — candidate side replicated N×, query
    // side fixed: integer dots against a broadcast query set, per-row
    // work only before the per-query top-k, so time should grow ~N.
    if (sect("n6")) Seq(1, 5, 20).foreach { n =>
      val cand = embN(n).cache()
      val nr = cand.count()
      time(s"qtopk n=$n rows=$nr n6 quantizedTopK") {
        Quantize.quantizedTopK(cand, emb.filter(col("vec_id") < 5), "vec_id", "embedding") }
      cand.unpersist(blocking = true)
    }

    // 7. Sorted-neighborhood (d12) — disjoint replicas: the replica
    // word tag heads every canon key, so each replica sorts into its
    // own prefix blocks; near-dup density constant. MEASURED skew
    // mode: at n=20 the default 2-char prefix collapses replicas
    // r10..r19 into the single "r1" block (11× the rows in one
    // block-local sort) — the canonical too-coarse-block failure.
    // prefixLen=3 restores balance; the knob IS the fix.
    if (sect("d12")) Seq(1, 5, 20).foreach { n =>
      val docs = disjoint(n).cache()
      val nr = docs.count()
      time(s"sn n=$n rows=$nr d12 prefix=2") {
        Dedup.sortedNeighborhoodCandidates(docs, "doc_id", "text") }
      if (n == 20)
        time(s"sn n=$n rows=$nr d12 prefix=3") {
          Dedup.sortedNeighborhoodCandidates(docs, "doc_id", "text", prefixLen = 3) }
      docs.unpersist(blocking = true)
    }

    // 8. Inverted index (t17 shape) — IDENTICAL replicas: constant
    // vocabulary, per-word df grows ~N — the hot-word regime the
    // head-block cap exists for. df stays an exact count; the
    // posting collect is bounded at 20 ids per word regardless of N.
    if (sect("t17")) Seq(1, 5, 20).foreach { n =>
      val corpus = docsN(n).cache()
      val nr = corpus.count()
      time(s"iidx n=$n rows=$nr t17 hot-df") {
        val wd = corpus
          .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "").distinct()
        val dfreq = wd.groupBy(col("word")).agg(count(lit(1)).as("df"))
        val byWord = org.apache.spark.sql.expressions.Window
          .partitionBy(col("word")).orderBy(col("doc_id"))
        val head = wd.withColumn("rn", row_number().over(byWord))
          .filter(col("rn") <= 20)
          .groupBy(col("word"))
          .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
        dfreq.join(head, "word")
      }
      corpus.unpersist(blocking = true)
    }
    // 9b. Funnel (e8) — HOT-USER regime: the sf corpus plus one
    // synthetic bot user with N million view/click events. The
    // window-form stage machine (r5) keeps O(1) per-row state and
    // spills the bot's sorted run; the retired collect_list form held
    // the bot's whole event array in ONE aggregation buffer row. Time
    // should grow ~N and never OOM.
    if (sect("e8")) {
      val ev0 = Tables.load(spark, sfDir, "events")
        .select(col("user_id"), col("ts"), col("event_type"))
      Seq(1, 4, 8).foreach { n =>
        val bot = spark.range(n * 1000000L).select(
          lit(999999999L).as("user_id"),
          timestamp_micros(lit(1600000000000000L) + col("id") * 1000000L).as("ts"),
          when(col("id") % 3 === 0, "view")
            .when(col("id") % 3 === 1, "click").otherwise("purchase").as("event_type"))
        val events = ev0.unionByName(bot).cache()
        val rows = events.count()
        time(s"funnel bot=${n}M rows=$rows e8") {
          import spark.implicits._
          // the PRODUCTION stage machine, not a clone — the curve must
          // describe the query the gate runs
          graft.queries.AdvancedOps.funnelPerUser(events)
            .agg(count(lit(1)).as("n_users"), count($"tp").as("n_purchase"))
        }
        events.unpersist(blocking = true)
      }
    }

    // 9. PageRank (an15) — iteration-depth curve on the fixed trade
    // graph: with per-3-rounds localCheckpoint the per-iteration cost
    // must stay FLAT out to real iteration counts (20-40); without
    // lineage truncation the nested plan makes analysis cost grow
    // with depth and dies long before the executors are the problem.
    if (sect("an15")) {
      val o = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))).cache()
      val ne = edges.count()
      Seq(3, 10, 20, 40).foreach { iters =>
        time(f"pagerank edges=$ne iters=$iters%-3d an15") {
          graft.operators.Graph.pageRank(edges, iters) }
      }
      edges.unpersist(blocking = true)
    }
    // ---- an30: BFS depth over the same trade graph -------------------
    // cost per hop is frontier-degree-bounded and every node expands at
    // most once, so once the reachable set saturates (a dense bipartite
    // graph saturates in ~2-3 hops) additional hops cost ~nothing —
    // depth 12 must NOT cost 4x depth 3. That flatness is the claim.
    if (sect("an30")) {
      val o = Tables.load(spark, sfDir, "orders").select(col("o_orderkey"), col("o_custkey"))
      val l = Tables.load(spark, sfDir, "lineitem").select(col("l_orderkey"), col("l_suppkey"))
      val e0 = o.join(l, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val edges = e0.unionByName(e0.select(col("dst").as("src"), col("src").as("dst"))).cache()
      val ne = edges.count()
      val seeds = edges.filter(col("src").isin(2, 4, 6))
        .select(col("src").as("node")).distinct()
      Seq(1, 3, 6, 12).foreach { hops =>
        time(f"khop edges=$ne hops=$hops%-3d an30") {
          graft.operators.Graph.kHopReach(edges, seeds, hops) }
      }
      edges.unpersist(blocking = true)
    }
    // ---- PQ: encode + ADC at growing corpus sizes --------------------
    // codebooks train ONCE on the base embeddings (the sample-train /
    // full-encode deployment shape); encode and ADC should both be
    // linear in N — encode is m broadcast fan-outs, ADC one
    // broadcast-LUT join over the codes + a skinny aggregation.
    if (sect("pq")) {
      val embBase = Tables.load(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      def embN(replicas: Int): DataFrame =
        (0 until replicas).map { r =>
          embBase.select((col("vec_id") + lit(r.toLong * 10000000L)).as("vec_id"), col("v"))
        }.reduce(_.unionByName(_))
      val books = Quantize.pqCodebooks(embBase, m = 4, dim = 64, k = 8, iters = 2)
        .cache()
      books.count()
      val queries = embBase.filter(col("vec_id") < 3).cache()
      queries.count()
      Seq(1, 5, 20).foreach { n =>
        val emb = embN(n).cache()
        val rows = emb.count()
        val codes = Quantize.pqEncode(emb, books, m = 4, dim = 64).cache()
        time(s"pq encode n=$n rows=$rows") { codes }
        time(s"pq adc-top10 n=$n rows=$rows") {
          Quantize.pqTopK(codes, books, queries, m = 4, dim = 64, k = 10) }
        codes.unpersist(blocking = true)
        emb.unpersist(blocking = true)
      }
      books.unpersist(blocking = true)
      queries.unpersist(blocking = true)
    }

    // d13 prefix-filtered exact similarity join: disjoint replicas →
    // candidates only from shared rarest-prefix shingles, so time
    // should track corpus size ~linearly (prefixes never collide
    // across replicas). identical replicas → duplicate cliques: the
    // EXACT join's output itself is quadratic in clique size, so the
    // curve documents why exact dedup (d1) must run before a
    // threshold join, same pipeline order as d2's hot-bucket story.
    if (sect("d13")) {
      import graft.operators.SetSimJoin
      def tok(d: DataFrame) =
        Dedup.shingles(d, "doc_id", "text", k = 3).withColumnRenamed("shingle", "tok")
      Seq(1, 5, 20).foreach { n =>
        val d = disjoint(n).cache(); val rows = d.count()
        time(s"d13 prefix-join disjoint n=$n rows=$rows") {
          SetSimJoin.jaccardJoin(tok(d), 2, 3) }
        d.unpersist(blocking = true)
      }
      Seq(2, 4).foreach { n =>
        val d = identical(n).cache(); val rows = d.count()
        time(s"d13 prefix-join identical n=$n rows=$rows") {
          SetSimJoin.jaccardJoin(tok(d), 2, 3) }
        d.unpersist(blocking = true)
      }
    }

    // t20 repeated-substring spans: window fingerprint counts are
    // map-side combined and the merge windows partition by doc_id —
    // disjoint replicas (per-replica word tags, so no cross-replica
    // fingerprint collisions) should scale ~linearly.
    if (sect("t20")) Seq(1, 5, 20).foreach { n =>
      val d = disjoint(n).cache(); val rows = d.count()
      time(s"t20 repeated-spans disjoint n=$n rows=$rows") {
        Corpus.repeatedSpans(d, "doc_id", "text", k = 10) }
      d.unpersist(blocking = true)
    }

    // t22 segment dedup: disjoint replicas → unique segments scale
    // linearly (keeper window keyed on content, reassembly on doc_id);
    // identical replicas → every segment value becomes an N-clique but
    // the keeper window per hot segment carries only 8-byte keys, so
    // unlike a pair-emitting join the duplicate regime must stay
    // ~linear too — THE structural advantage of dedup-by-keeper over
    // dedup-by-candidate-pairs.
    if (sect("t22")) {
      Seq(1, 5, 20).foreach { n =>
        val d = disjoint(n).cache(); val rows = d.count()
        time(s"t22 segment-dedup disjoint n=$n rows=$rows") {
          Corpus.segmentDedup(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
      Seq(2, 8, 20).foreach { n =>
        val d = identical(n).cache(); val rows = d.count()
        time(s"t22 segment-dedup identical n=$n rows=$rows") {
          Corpus.segmentDedup(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
    }

    // t28 exact substring spans: disjoint replicas → repeated windows
    // only within a replica (the planted near-dup tails), keeper pairs
    // scale ~linearly. identical replicas → every window an N-clique,
    // but keeper pairing emits N−1 pairs per window, NOT N², so the
    // duplicate regime must also stay ~linear — the same structural
    // advantage t22's keeper window has over pair-emitting joins.
    if (sect("t28")) {
      Seq(1, 5, 20).foreach { n =>
        val d = disjoint(n).cache(); val rows = d.count()
        time(s"t28 exact-spans disjoint n=$n rows=$rows") {
          Corpus.exactSpans(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
      Seq(2, 8, 20).foreach { n =>
        val d = identical(n).cache(); val rows = d.count()
        time(s"t28 exact-spans identical n=$n rows=$rows") {
          Corpus.exactSpans(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
    }

    // t31 excision = t28's keeper machinery + the hits-only coverage
    // aggregate (now cover SUBTRACTION: non-keeper minus keeper spans).
    // identical replicas are the hot regime: every window an N-clique,
    // keeper join emits N−1 non-keeper rows per window (each fanning
    // ≤k positions) plus ONE flagged keeper row — linear in
    // duplication, like t28. disjoint replicas bound the clean path.
    if (sect("t31")) {
      Seq(1, 5, 20).foreach { n =>
        val d = disjoint(n).cache(); val rows = d.count()
        time(s"t31 excise disjoint n=$n rows=$rows") {
          Corpus.exciseExactDuplicates(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
      Seq(2, 8, 20).foreach { n =>
        val d = identical(n).cache(); val rows = d.count()
        time(s"t31 excise identical n=$n rows=$rows") {
          Corpus.exciseExactDuplicates(d, "doc_id", "text") }
        d.unpersist(blocking = true)
      }
    }

    // t33 BM25: the match filter runs inside the token array, so cost
    // must track corpus size, not matched volume — EXCEPT when a hot
    // term matches every document ("the" is in essentially every
    // synthetic doc): then the (doc, term) relation is corpus-sized
    // but map-side-combined on the doc key, so it must stay linear
    // too, just with a bigger constant.
    if (sect("t33")) {
      // disjoint tags every word per replica, so NOTHING matches the
      // query: this measures the pure tokenize+filter cost the
      // non-matching majority pays (the dominant term at corpus scale)
      Seq(1, 5, 20).foreach { n =>
        val d = disjoint(n).cache(); val rows = d.count()
        time(s"t33 bm25 no-match n=$n rows=$rows") {
          Corpus.bm25(d, "doc_id", "text",
            Seq("spark", "window", "hash", "merge", "stream")) }
        d.unpersist(blocking = true)
      }
      // identical replicas keep the vocabulary, so the query terms
      // really match; "the" is in essentially every synthetic doc —
      // the (doc, term) relation goes corpus-sized but stays
      // map-side-combined on the doc key, so it must remain linear
      Seq(2, 8, 20).foreach { n =>
        val d = identical(n).cache(); val rows = d.count()
        time(s"t33 bm25 matched n=$n rows=$rows") {
          Corpus.bm25(d, "doc_id", "text",
            Seq("spark", "window", "hash", "merge", "stream")) }
        time(s"t33 bm25 hot-term n=$n rows=$rows") {
          Corpus.bm25(d, "doc_id", "text", Seq("the", "spark")) }
        d.unpersist(blocking = true)
      }
    }

    // BPE training depth: with the per-8-rounds vocab localCheckpoint
    // the live plan stays O(8) layers deep, so total time must grow
    // ~linearly in rounds (each round = one vocab-sized pair count +
    // one merge apply). Without it, analysis cost compounds with depth
    // — the r7 watch item. Token time-per-round across 10/25/50 is the
    // curve to compare.
    if (sect("bpe")) Seq(10, 25, 50, 100, 200).foreach { rounds =>
      time(f"bpe train rounds=$rounds%-3d t24") {
        Corpus.bpeMerges(base, "text", rounds) }
    }

    // CDC chunking is one doc-keyed window + one (doc, chunk) groupBy:
    // both regimes must be linear in rows. Under identical replicas
    // the DUP-CHUNK OUTPUT grows (every chunk becomes an N-way
    // collision) but the per-fingerprint aggregation stays a count —
    // no pair space exists anywhere, so hot duplication costs the same
    // as clean growth at equal row count.
    if (sect("t34")) Seq(("disjoint", disjoint _), ("identical", identical _))
      .foreach { case (label, mk) =>
        Seq(1, 5, 20).foreach { n =>
          val docs = mk(n).cache()
          val rows = docs.count()
          time(s"t34 $label n=$n rows=$rows") {
            Corpus.cdcChunks(docs, "doc_id", "text")
              .groupBy(col("chunk_fp"))
              .agg(count(lit(1)).as("n_copies"))
              .filter(col("n_copies") > 1) }
          docs.unpersist(blocking = true)
        }
      }
    // depth PAST the base corpus's exhaustion point (r9 measurement:
    // sf0.1 word soup runs out of learnable merges at 89 — out=89 at
    // both rounds=100 and 200, the empty-winner guard stopping with
    // zero wasted rounds). disjoint(4)'s per-replica word tags widen
    // the vocabulary ~4× (and lengthen every word by 3 chars), so
    // 100/200-round marginal cost is measurable without exhaustion —
    // the honest per-round asymptote at tokenizer-scale depth.
    if (sect("bpe-deep")) {
      val deep = disjoint(4).cache(); deep.count()
      Seq(50, 100, 200).foreach { rounds =>
        time(f"bpe-deep train rounds=$rounds%-3d (4x vocab)") {
          Corpus.bpeMerges(deep, "text", rounds) }
      }
      deep.unpersist(blocking = true)
    }

    // Interval-overlap join (j12): bucketWidth sensitivity. Too narrow
    // → both sides explode to ~span/width bucket rows each; too wide →
    // most intervals share every bucket and the residual filter does
    // the work (candidate:result degrades toward the cross product).
    // The sweet spot sits near the wider side's typical span (~250
    // here) — the number to tune per workload, not per engine.
    if (sect("j12")) {
      val left = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderkey").as("lid"),
          pmod(col("o_orderkey"), lit(900000L)).as("l_lo"))
        .withColumn("l_hi", col("l_lo") + lit(1L) + pmod(col("lid"), lit(197L)))
        .cache()
      left.count()
      val right = spark.range(8000).select(col("id").as("rid"),
        (col("id") * 113).as("r_lo"), (col("id") * 113 + 251).as("r_hi"))
      Seq(16L, 64L, 256L, 1024L, 8192L).foreach { w =>
        time(f"j12 intervalOverlap bucketWidth=$w%-5d") {
          graft.operators.RangeJoin.intervalOverlap(left, "l_lo", "l_hi",
            right, "r_lo", "r_hi", w) }
      }
      left.unpersist(blocking = true)
    }

    // Nearest as-of (j14) vs the single-direction carry (j4): the
    // marginal cost of "nearest" is the SECOND window sort over the
    // same hash partition, never a second shuffle or a pair space —
    // both must grow linearly in rows (replicas share user keys, so
    // per-key density grows n×: the sort-cost regime, not the
    // candidate-pair regime a range-join encoding would hit).
    // t38: the Gopher repetition battery is WITHIN-document, so both
    // growth modes must be linear — identical replicas are separate
    // docs and never interact (contrast d2's pair space). The check is
    // that the five gram branches stay linear together.
    if (sect("t38")) Seq(("disjoint", disjoint _), ("identical", identical _))
      .foreach { case (mode, mk) =>
        Seq(1, 5, 20).foreach { n =>
          val d = mk(n).cache(); val rows = d.count()
          time(s"t38 $mode n=$n rows=$rows") {
            Corpus.gopherRepetition(d, "doc_id", "text") }
          d.unpersist(blocking = true)
        }
      }

    // t39: novelty's gram-count relation keys on the gram hash — under
    // identical replication every count row goes hot (count = N) but
    // stays ONE row per distinct gram, so the join fans out linearly
    // (N occurrences × 1 count row), never quadratically. Expected:
    // both modes linear; identical-mode novelty collapses to 0.
    if (sect("t39")) Seq(("disjoint", disjoint _), ("identical", identical _))
      .foreach { case (mode, mk) =>
        Seq(1, 5, 20).foreach { n =>
          val d = mk(n).cache(); val rows = d.count()
          time(s"t39 $mode n=$n rows=$rows") {
            Corpus.ngramNovelty(d, "doc_id", "text") }
          d.unpersist(blocking = true)
        }
      }

    // an33: sketch roll-up vs count-distinct — the claim under test is
    // that answering BOTH grains (day×type and day) from one fact scan
    // via mergeable bitmap sketches beats running count(distinct)
    // twice (each plans Expand + its own (group, key) re-shuffle of
    // the raw user ids). Events replicated N× with shifted event ids
    // but the SAME users/days, so distinct counts stay constant while
    // fact rows grow — the regime where re-shuffling raw keys hurts.
    if (sect("an33")) Seq(1, 5, 20, 50).foreach { n =>
      import org.apache.spark.sql.functions.to_date
      val ev0 = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val evN = (0 until n).map { r =>
        ev0.select((col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
          col("user_id"), col("ts"), col("event_type"))
      }.reduce(_.unionByName(_)).cache()
      val rows = evN.count()
      time(s"an33 sketch-rollup n=$n rows=$rows") {
        val sk = evN.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(graft.functions.BitmapDistinct.bitmap_sketch(col("user_id")).as("sk"))
          .localCheckpoint() // materialize the fine grain ONCE (the
                             // stored-sketch-table discipline)
        sk.groupBy(col("day"), col("event_type"))
          .agg(graft.functions.BitmapDistinct.bitmap_merge_count(col("sk")).as("nu"))
          .unionByName(sk.groupBy(col("day"))
            .agg(graft.functions.BitmapDistinct.bitmap_merge_count(col("sk")).as("nu"))
            .select(col("day"), lit("ALL").as("event_type"), col("nu")))
          .filter(col("nu") > 0)
      }
      time(s"an33 count-distinct n=$n rows=$rows") {
        evN.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count_distinct(col("user_id")).as("nu"))
          .select(col("day"), col("event_type"), col("nu"))
          .unionByName(evN.groupBy(to_date(col("ts")).as("day"))
            .agg(count_distinct(col("user_id")).as("nu"))
            .select(col("day"), lit("ALL").as("event_type"), col("nu")))
          .filter(col("nu") > 0)
      }
      evN.unpersist(blocking = true)
    }

    // b64 (r10): the COMPRESSED bitmap's sparse-key path vs the dense
    // path vs count-distinct. Keys lifted to >= 2^33 and ~2 MiB apart
    // put essentially every key in its own array container — the
    // worst case for the container scheme (max bucket overhead, no
    // dense page amortization) and exactly the snowflake-id shape the
    // r9 dense bitmap rejected outright. The claim under test: sparse
    // keys stay in the same cost regime as dense ones and both beat
    // count-distinct's Expand + (group, key) re-shuffle as fact rows
    // grow over a fixed key population.
    if (sect("b64")) Seq(1, 5, 20, 50).foreach { n =>
      import org.apache.spark.sql.functions.to_date
      val ev0 = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      val evN = (0 until n).map { r =>
        ev0.select((col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
          col("user_id"), col("ts"), col("event_type"))
      }.reduce(_.unionByName(_))
        .withColumn("sparse_id",
          col("user_id") * lit(2097152L) + lit(8589934592L))
        .cache()
      val rows = evN.count()
      time(s"b64 dense  bitmap n=$n rows=$rows") {
        evN.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(graft.functions.BitmapDistinct.bitmap_distinct(col("user_id")).as("nu"))
          .filter(col("nu") > 0)
      }
      time(s"b64 sparse bitmap n=$n rows=$rows") {
        evN.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(graft.functions.BitmapDistinct.bitmap_distinct(col("sparse_id")).as("nu"))
          .filter(col("nu") > 0)
      }
      time(s"b64 count-distinct n=$n rows=$rows") {
        evN.groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count_distinct(col("sparse_id")).as("nu"))
          .filter(col("nu") > 0)
      }
      evN.unpersist(blocking = true)
    }

    // b64size (r11): SERIALIZED sketch bytes per key regime — the RUN
    // container's claim is byte size, not time: consecutive ranges
    // (timestamps, sequential ids) and dense-but-gappy ranges stop
    // paying the 8 KiB bitmap page. The r10 format's cost for the same
    // sets is the closed-form per-container min(5 + 2n [n <= 4096],
    // 8197) — printed next to the measured r11 bytes for the curve.
    if (sect("b64size")) {
      import org.apache.spark.sql.functions.length
      def sketchBytes(label: String, keys: org.apache.spark.sql.DataFrame): Unit = {
        val b = keys.agg(
            graft.functions.BitmapDistinct.bitmap_sketch(col("k")).as("sk"))
          .select(length(col("sk"))).head().getInt(0)
        println(s"[scale] b64size $label -> $b bytes")
      }
      sketchBytes("run    1M consecutive ids        (r10: ~131 KiB)",
        spark.range(1000000L).select(col("id").as("k")))
      sketchBytes("gappy  1M range skip each 100th  (r10: ~131 KiB)",
        spark.range(1000000L).filter(col("id") % 100 =!= 0).select(col("id").as("k")))
      sketchBytes("sparse 100k ids 2MiB apart       (r10: identical)",
        spark.range(100000L).select((col("id") * 2097152L + 8589934592L).as("k")))
    }

    // b64card (r10): the ADVERSARIAL cardinality regime — every key
    // distinct and maximally sparse (one array container per key), a
    // single group. This is where the exact bitmap's per-key cost
    // (container + tree node) is the whole story and the HLL twin's
    // fixed 4 KiB becomes the right tool; the measured crossover backs
    // the documented division of labor.
    if (sect("b64card")) Seq(1000000L, 4000000L).foreach { n =>
      val ids = spark.range(n)
        .select((col("id") * 2097152L + 8589934592L).as("k"))
      time(s"b64card exact bitmap n=$n") {
        ids.agg(graft.functions.BitmapDistinct.bitmap_distinct(col("k")).as("nu"))
          .filter(col("nu") > 0)
      }
      time(s"b64card hll          n=$n") {
        ids.agg(graft.functions.Hll.hll_distinct(col("k")).as("nu"))
          .filter(col("nu") > 0)
      }
    }

    // d16: alternating-star CC on CHAINS — the adversarial-diameter
    // topology. Rounds should grow ~log with chain length.
    if (sect("d16")) {
      def chain(len: Int): DataFrame =
        spark.range(0, len).select(col("id").as("src"), (col("id") + 1).as("dst"))
      Seq(64, 256, 1024, 4096).foreach { len =>
        time(s"d16 stars chain=$len") {
          graft.operators.Graph.connectedComponents(chain(len)) }
      }
    }

    if (sect("j14")) Seq(1, 5, 20).foreach { n =>
      val ev = Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tus"), col("event_type"))
      val evN = (0 until n).map { r =>
        ev.select((col("event_id") + lit(r.toLong * 100000000L)).as("event_id"),
          col("user_id"), (col("tus") + lit(r.toLong)).as("tus"), col("event_type"))
      }.reduce(_.unionByName(_)).cache()
      val rows = evN.count()
      val purchases = evN.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("tus"))
      val clicks = evN.filter(col("event_type") === "click")
        .select(col("user_id"), col("tus").as("c_tus"), col("event_id").as("click_id"))
      // the .filter on the CARRIED column keeps time()'s count from
      // letting Catalyst prune the window away (a bare count is
      // invariant to the carry, so the first cut of this block
      // measured nothing — identical 0.22 s at n=5 and n=20)
      time(s"j4  backward n=$n rows=$rows") {
        graft.operators.AsOfJoin.leftAsOf(purchases, clicks, Seq("user_id"),
          "tus", "c_tus", Seq("click_id"), "click_id")
          .filter(col("click_id").isNotNull) }
      time(s"j14 nearest  n=$n rows=$rows") {
        graft.operators.AsOfJoin.nearestAsOf(purchases, clicks, Seq("user_id"),
          "tus", "c_tus", Seq("click_id"), "click_id")
          .filter(col("click_id").isNotNull) }
      evN.unpersist(blocking = true)
    }

    // kmv (r11): the SAMPLE leg's scale claim — a per-group uniform
    // sample via KMV sketches (bounded per-group state, no sort) vs
    // the plan a warehouse writes without it: distinct → row_number
    // window over (hash, key) per group → rn <= k, which SORTS every
    // group's full distinct key set. Also the sketch-table bytes per k
    // (12 B + key bytes per kept entry — sketch size is k-bounded, not
    // cardinality-bounded).
    if (sect("kmv")) {
      Seq(1000000L, 4000000L).foreach { n =>
        val keyed = spark.range(n)
          .select(pmod(col("id"), lit(64)).as("g"),
            concat(lit("key-"), col("id")).as("k"))
          .cache()
        keyed.count()
        time(s"kmv sketch  k=64  n=$n") {
          keyed.groupBy(col("g"))
            .agg(graft.functions.Kmv.kmv_sketch(col("k"), 64).as("sk"))
            .select(col("g"), graft.functions.Kmv.kmv_estimate(col("sk")).as("est"))
            .filter(col("est") > 0)
        }
        time(s"kmv window  k=64  n=$n") {
          import org.apache.spark.sql.expressions.Window
          keyed.select(col("g"), col("k")).distinct()
            .withColumn("h", graft.functions.Md5Prefix.md5_prefix(col("k"), 15))
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("g")).orderBy(col("h"), col("k"))))
            .filter(col("rn") <= 64)
        }
        keyed.unpersist(blocking = true)
      }
      Seq(16, 64, 256, 1024).foreach { k =>
        val b = spark.range(1000000L)
          .select(concat(lit("key-"), col("id")).as("k"))
          .agg(graft.functions.Kmv.kmv_sketch(col("k"), k).as("sk"))
          .select(length(col("sk"))).head().getInt(0)
        println(s"[scale] kmvsize k=$k over 1M distinct keys -> $b bytes")
      }
    }

    // cms (r11): the FREQUENCY leg's scale claim — per-group count-min
    // sketch INIT (fixed 64 KiB state, map-side partials) vs the exact
    // per-(group, key) count a warehouse pays without it: the exact
    // form shuffles every (group, key) pair; the sketch shuffles
    // |groups| fixed-size byte blobs. Also the serialized bytes per
    // occupancy regime (dense page vs sparse list).
    if (sect("cms")) {
      Seq(1000000L, 4000000L).foreach { n =>
        val keyed = spark.range(n)
          .select(pmod(col("id"), lit(64)).as("g"),
            concat(lit("w"), pmod(col("id"), lit(50000))).as("k"))
          .cache()
        keyed.count()
        time(s"cms sketch  n=$n") {
          keyed.groupBy(col("g"))
            .agg(graft.functions.Cms.cms_sketch(col("k")).as("sk"))
            .select(col("g"), length(col("sk")).as("b"))
            .filter(col("b") > 0)
        }
        time(s"cms exact   n=$n") {
          keyed.groupBy(col("g"), col("k"))
            .agg(count(lit(1)).as("c"))
            .filter(col("c") > 0)
        }
        keyed.unpersist(blocking = true)
      }
      Seq(100L, 2000L, 50000L).foreach { distinct =>
        val b = spark.range(100000L)
          .select(concat(lit("w"), pmod(col("id"), lit(distinct))).as("k"))
          .agg(graft.functions.Cms.cms_sketch(col("k")).as("sk"))
          .select(length(col("sk"))).head().getInt(0)
        println(s"[scale] cmssize $distinct distinct keys -> $b bytes")
      }
    }

    // b64run (r12, verdict optional 7a): is an in-memory RUN container
    // kind justified? RUN is wire-only — deserialize expands each run
    // value-by-value into the array/bitmap kinds (a full bucket = 64k
    // iterations + an 8 KiB page), so an or-heavy merge over
    // run-friendly CONSECUTIVE ranges pays expansion per partial. The
    // scattered control (every key its own container slot) isolates
    // that cost: if consecutive ≈ scattered, the two-kind hot path is
    // already fine and a third kind buys nothing worth its complexity.
    if (sect("b64run")) {
      val B = graft.functions.BitmapDistinct
      Seq(64L, 512L).foreach { groups =>
        val n = 4000000L
        val block = n / groups
        val facts = spark.range(n).select(
          (col("id") / lit(block)).cast("long").as("g"), col("id").as("k"))
          .cache()
        facts.count()
        time(s"b64run consec  groups=$groups n=4M") {
          facts.groupBy(col("g"))
            .agg(B.bitmap_sketch(col("k")).as("sk"))
            .agg(B.bitmap_merge_count(col("sk")).as("c"))
            .filter(col("c") > 0)
        }
        time(s"b64run scatter groups=$groups n=4M") {
          facts.select(col("g"), (col("k") * 2097152L).as("k2"))
            .groupBy(col("g"))
            .agg(B.bitmap_sketch(col("k2")).as("sk"))
            .agg(B.bitmap_merge_count(col("sk")).as("c"))
            .filter(col("c") > 0)
        }
        facts.unpersist(blocking = true)
      }
    }

    // probe (r12): the fact-sized sketch-READ pattern — one DENSE
    // corpus CMS sketch (8,192-long page) probed by a fact relation.
    // The single-key scalar pays one O(sketch) decode per (row × key),
    // so k keys per row cost k decodes; cms_est_all decodes ONCE per
    // row for all k. The curve must be ~flat in k for the multi form
    // and ~linear for the per-key form — the measured crossover that
    // justifies the array-input probes (r11 verdict #4).
    if (sect("probe")) {
      val skDf = spark.range(1000000L)
        .select(concat(lit("w"), pmod(col("id"), lit(50000))).as("k"))
        .agg(graft.functions.Cms.cms_sketch(col("k")).as("sk"))
      val facts = spark.range(200000L)
        .select(pmod(col("id"), lit(99991L)).as("fk")).cache()
      facts.count()
      Seq(1, 4, 16).foreach { k =>
        val keyCols = (0 until k).map(j =>
          concat(lit("w"), pmod(col("fk") + lit(j.toLong), lit(50000L))))
        // force ALL k estimates through the count: a filter on a single
        // output column would let column pruning drop the other k-1
        // probes (and their decodes) from the plan entirely
        time(s"probe cms_est x$k   n=200k") {
          facts.crossJoin(broadcast(skDf))
            .select(keyCols.map(c =>
              graft.functions.Cms.cms_est(col("sk"), c)).reduce(_ + _).as("s"))
            .filter(col("s") >= 0L)
        }
        time(s"probe cms_est_all k=$k n=200k") {
          facts.crossJoin(broadcast(skDf))
            .select(graft.functions.Cms.cms_est_all(col("sk"),
              array(keyCols: _*)).as("es"))
            .filter(expr("aggregate(es, 0L, (a, x) -> a + x)") >= 0L)
        }
      }
      facts.unpersist(blocking = true)
    }

    // dds (r11): the UNBOUNDED-domain quantile leg's scale claim —
    // per-group DDSketch INIT (bounded log-bucket state, map-side
    // partials) + one merged quantile, vs approx_percentile (Spark's
    // own sketch) and the exact vhist on micros (whose state grows
    // with DISTINCT values — here ~one per row, the regime vhist's
    // fail-fast ceiling exists for). Values span 9 decades with ~n
    // distinct points. Also serialized bytes per (alpha, dynamic
    // range): the log-bucket count is range- and alpha-bounded, never
    // row- or distinct-bounded.
    if (sect("dds")) {
      Seq(1000000L, 4000000L).foreach { n =>
        val vals = spark.range(n)
          .select(pmod(col("id"), lit(64)).as("g"),
            (pow(lit(10.0), pmod(col("id"), lit(9000)).cast("double") / lit(1000.0))
              * (lit(1.0) + pmod(col("id"), lit(997)).cast("double") / lit(997.0))).as("v"))
          .cache()
        vals.count()
        time(s"dds sketch+p99 a=0.01 n=$n") {
          vals.groupBy(col("g"))
            .agg(graft.functions.Dds.dds_sketch(col("v"), 0.01).as("sk"))
            .agg(graft.functions.Dds.dds_merge_quantile(col("sk"), 0.99).as("p99"))
            .filter(col("p99") > 0.0)
        }
        time(s"dds approx_percentile n=$n") {
          vals.groupBy(col("g"))
            .agg(expr("approx_percentile(v, 0.99)").as("p99g"))
            .agg(max(col("p99g")).as("p99"))
            .filter(col("p99") > 0.0)
        }
        time(s"dds exact vhist micros n=$n") {
          vals.select(floor(col("v") * lit(1000000.0)).as("m"))
            .agg(graft.functions.Vhist.vhist_quantile(col("m"), 0.99).as("p99"))
            .filter(col("p99") > 0L)
        }
        vals.unpersist(blocking = true)
      }
      for (alpha <- Seq(0.01, 0.001); decades <- Seq(3, 9, 14)) {
        val b = spark.range(1000000L)
          .select((pow(lit(10.0),
              pmod(col("id"), lit(decades * 1000)).cast("double") / lit(1000.0) - lit(4.0))
            * (lit(1.0) + pmod(col("id"), lit(997)).cast("double") / lit(997.0))).as("v"))
          .agg(graft.functions.Dds.dds_sketch(col("v"), alpha).as("sk"))
          .select(length(col("sk"))).head().getInt(0)
        println(s"[scale] ddssize alpha=$alpha decades=$decades over 1M rows -> $b bytes")
      }
    }

    spark.stop()
  }
}
