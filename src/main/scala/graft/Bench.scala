package graft
import org.apache.spark.sql.SparkSession

object Bench {
  /** Representative cross-section of the operator inventory: scan+agg,
    * broadcast joins, explode+bridge, as-of, windowed/sessionized
    * events, top-k window, minhash LSH, dup clusters, ANN (brute +
    * IVF + LSH + quantized), text analysis, chunk/pack, repetition
    * stats, domain mix, int8 quantization, curation capstone, set op,
    * and the scale patterns (bloom semi-join, CDC merge, Z-order,
    * count-min). */
  val headline: Seq[String] = Seq(
    "q1_agg", "j1_fact_dims", "j2_word_bridge", "j4_asof_join",
    "e1_window_agg", "e2_sessionize", "an2_topk_per_group",
    "d2_minhash_lsh", "d6_dup_clusters", "n1_cosine_topk", "n2_ann_ivf",
    "n5_ann_lsh",
    "t3_token_count", "t6_chunking", "t7_packing", "t9_tfidf",
    "t11_repetition", "t12_domain_mix", "n4_quantize", "n6_quantized_topk",
    "c1_curate", "m3_image_meta", "g1_explode_words", "u1_except",
    "j6_bloom_semijoin", "u6_cdc_upsert", "s12_zorder_layout", "an14_cms_topk",
    "an15_pagerank", "e8_funnel",
    "e10_resample", "an18_grouping_sets", "j8_snapshot_diff",
    "d12_sorted_neighborhood", "t18_epoch_shuffle", "n12_ivf_pq",
    "d13_prefix_simjoin", "t19_bigram_lm", "t20_repeated_spans",
    "n14_jl_recall",
    "t22_segment_dedup", "an22_type_overlap", "t23_curriculum",
    "t24_bpe_merges",
    // r8 breadth (the heaviest formerly-absent families): SCD2 history
    // build, REAL outer stream join, leakage-safe split (rides the d2/d6
    // pair machinery), semantic dedup (k-means blocking), exact rolling
    // DAU/WAU, PQ ADC top-k
    "u7_scd2", "e13_stream_outer_join", "t26_leakage_safe_split",
    "d11_semantic_dedup", "an26_rolling_active", "n11_pq_adc_topk",
    "t28_exact_spans", "t30_decontaminate_spans",
    // r9: excision of exact duplicated substrings (t28's end state),
    // BM25 query scoring, hybrid-retrieval RRF fusion, k-hop BFS,
    // content-defined chunking
    "t31_excise_duplicates", "t33_bm25", "n18_rrf_fusion",
    "an30_khop_reach", "t34_cdc_chunks",
    // r9 late additions: bucketed interval-overlap join, URL
    // canonicalization dedup, exact-moment per-group OLS, and the
    // sliding real-streaming window (auto-split into streaming_fixed)
    "j12_interval_join", "t35_url_canon", "an31_regression",
    "e17_stream_sliding", "j14_asof_nearest",
    // r9 second wave: the Gopher repetition battery (five gram
    // families in one query), the bitmap sketch roll-up, and
    // alternating-star connected components on a chain graph
    "t38_gopher_repetition", "an33_bitmap_rollup", "d16_cc_stars",
    "t39_ngram_novelty", "an34_retention",
    // the six-table join-reorder flight through the SQL facade
    "q5_sql",
    // r10: the sparse-64-bit sketch roll-up (array-container path), the
    // dictionary-encode -> sketch composition for string keys, and the
    // RefinedWeb-style curation funnel capstone (gopher rules ->
    // repetition gate -> near-dedup -> excision in one plan)
    "an36_bitmap_sparse", "an37_dict_distinct", "c4_curation_funnel",
    "an38_hll_rollup", "an39_vhist_quantiles",
    // r11: the append-stable dictionary composition (stored batch-1
    // sketches merged with batch-2 sketches coded through the extended
    // dictionary), the tiered daily->weekly stored sketch roll-up
    // (the sketch->sketch merge leg across all three families), and
    // the KMV bottom-k sample leg (deterministic uniform sample +
    // distinct estimate from the sketch table)
    "an40_dict_append", "an42_tiered_rollup", "an43_kmv_sample",
    // the CMS frequency leg as sketch-table bytes (per-source INIT ->
    // corpus MERGE -> cms_est off the bytes, oracle-exact)
    "an44_cms_rollup",
    // r11 second wave: the relative-error DDSketch quantile leg over an
    // unbounded continuous domain (value-cubed, 14 decades), the exact
    // bitmap set-difference (churn) leg, and the KMV cross-set
    // Jaccard/intersection estimator — all answered off sketch tables
    "an45_dds_quantiles", "an46_bitmap_churn", "an47_kmv_jaccard",
    // r12: the dictionary-identity coded-sketch lifecycle (two
    // generations -> stored coded tier -> lineage-checked read), the
    // multi-key CMS probe (one decode for the top-20 key array), and
    // the KMV k-way union/overlap off the sketch-array row
    "an48_coded_dict_merge", "an49_cms_probe_multi", "an50_kmv_kway",
    // r13: coded-tier surface parity — day-over-day churn over CODED
    // (string-keyed) sketches via bitmap_andnot_count_coded — and the
    // dict_audit report over an honest lineage (per-row byte readers)
    "an51_coded_churn", "an52_dict_audit")

  /** EVERY gate query that executes a REAL Structured Streaming run
    * per rep (staging write + stream drain + watermark sentinels) —
    * e1/e2/e8/e10 are their batch twins and time normally. Any member
    * that appears in `headline` (today: e13, e17) is (a) run ONCE —
    * its cost is fixed trigger/drain machinery, and a median of fixed
    * machinery is meaningless (r10: e13+e17 at 3 reps were 29 s = 40%
    * of every bench run, measuring the same constant thrice) — and
    * (b) reported under the separate `streaming_fixed_sec` total, so
    * the comparable-operator `value` carries no harness noise. Listing
    * ALL of them (not just today's members) means a future headline
    * addition is split and capped automatically. The set itself lives
    * in [[graft.streaming.Streams.realStreamingGateQueries]] — one
    * canonical copy shared with PlanAudit's exclusion. */
  val streamingHeadline: Set[String] =
    graft.streaming.Streams.realStreamingGateQueries

  /** Minimum repetitions per query; reported time is the median, so
    * single-run jitter (JIT, GC, page cache) can't masquerade as a
    * regression. Sub-second queries keep running (to maxReps) until
    * ~1.5 s of samples accumulate — relative jitter on a 0.2 s query
    * needs more reps than the same jitter on a 3 s query. */
  val reps: Int = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "5").toInt
  val maxReps: Int = math.max(reps, 9)
  val minSampleSecs: Double = 1.5

  /** Relative-spread acceptance bar ((max-min)/median). The r10 driver
    * artifact passed the steal rule (1.3%) yet carried 2–10×-inflated
    * medians with per-query spreads to 6.4 that nothing acted on: the
    * instrument computed its own uncertainty signal and ignored it.
    * Now any batch query whose spread exceeds this bar keeps re-running
    * (to maxReps) to out-vote the contaminated rep, and if the spread
    * STILL exceeds it the query is stamped `valid: false` and the run
    * `spread_ok: false` — a tail-reader can no longer mistake a noisy
    * artifact for a regression. */
  val spreadLimit: Double =
    sys.env.getOrElse("SPARK_GRAFT_MAX_SPREAD", "1.0").toDouble

  /** Relative spread (max-min)/median of a non-empty sample list — the
    * measurement-uncertainty stat the acceptance bar reads. */
  def relSpread(times: Seq[Double]): Double = {
    val med = times.sorted.apply(times.size / 2)
    if (med <= 0) 0.0 else (times.max - times.min) / med
  }

  /** CALIBRATION-RELATIVE budgets for the queries measured to be
    * environment-sensitive (r13, verdict #1 — the SCALING.md r12 drift
    * diagnosis, previously prose-only, baked into the instrument):
    * c4/t19/t38 drifted 20–40% across rounds while the r10-close
    * BINARY re-run reproduced the "drifted" values — the machine
    * moved, not the code. Absolute seconds therefore cannot judge
    * these queries on a contended host; `median ÷ calib_sec` can
    * (both numerator and denominator scale with effective cpu speed).
    * Bars start from the r12 isolated-run measurements at calib 0.80
    * (c4 7.8×, t19 3.6×, t38 3.0×) widened ~50%: the normalization is
    * imperfect under MULTI-CORE hypervisor steal — the single-thread
    * calibration probe under-measures the slowdown of 32-thread Spark
    * stages (measured r13: a 22.6%-steal run read c4 at 10.3× vs its
    * clean ~8×, a 1.25× skew) — and the stamps must agree between a
    * clean run and a contended one to be the contended-host trust
    * signal. A STRUCTURAL regression (an extra pass ≈ 2×) still blows
    * through every bar. sf0.1 ONLY — the ratio is scale-dependent, and
    * sf0.1 is the SF the graded artifact runs at. */
  val calibBudgets: Map[String, Double] = Map(
    "c4_curation_funnel" -> 12.0,
    "t19_bigram_lm" -> 6.0,
    "t38_gopher_repetition" -> 5.0,
    // streaming-fixed watch items (r13, verdict #3): the r11-close
    // BINARY re-run today measures the same e13/e17 as HEAD (9.7 s /
    // 3.7 s vs 9.6 s / 3.7 s — SCALING.md r13), so the r12 artifact's
    // 15.9 s / 5.2 s was drain-timing environment, not code. Single-rep
    // trigger/drain latency varies ~2.5× between CLEAN runs (it does
    // not scale with cpu speed alone), so these bars are deliberately
    // wide: they catch STRUCTURAL regressions (an extra drain pass,
    // a second sentinel round ≈ 2×), not host noise.
    // r13 optimization round: a QUIET-host run (steal 3.6%, spread_ok
    // true, zero invalid medians) measured e13 at 26.3 s / calib 0.874
    // = 30.1× — on a binary whose e13 staging is strictly FASTER than
    // r12's (same-host A/B: 38.8 → 25.8 s median) — because drain
    // latency tracks host/IO state that the single-thread cpu probe
    // cannot normalize; r13 therefore widened the bar to 40×.
    // r14 TIGHTENED it back (the advisor's r13 note): the drain-cost
    // rework (2 micro-batches instead of 8, tmpfs state scratch,
    // drain-sized state partitions) removed the machinery whose IO
    // sensitivity forced the wide bar — quiet-host clean reads are now
    // e13 4.3× / e17 2.6× (r14 mid-round bench, steal 0.7%), so 15× /
    // 6× catch a structural regression (a second drain pass or a
    // return of the per-partition commit storm ≈ 2–8×) while leaving
    // ~3.5× for the residual drain-latency swing clean hosts show.
    "e13_stream_outer_join" -> 15.0,
    "e17_stream_sliding" -> 6.0)

  /** Per-query budget verdict: Some(median/calib ≤ budget) for
    * budgeted queries, None otherwise. A failed median (−1) is a
    * budget violation, never a vacuous pass. Pure — BenchSpec pins
    * it. */
  private[graft] def budgetOk(name: String, medianSec: Double,
      calibSec: Double): Option[Boolean] =
    calibBudgets.get(name).map(b =>
      medianSec >= 0.0 && calibSec > 0.0 && medianSec / calibSec <= b)

  /** Escalation rule (r13): an UNSETTLED median measured while the
    * hypervisor was visibly stealing cycles is contamination, not
    * signal — worth one full re-sample (fresh reps out-vote the stolen
    * ones) before stamping `valid: false`. A clean-steal unsettled
    * median is NOT retried: it failed on merit. Pure — BenchSpec pins
    * it. */
  private[graft] def shouldRetry(valid: Boolean, queryStealPct: Double,
      stealLimit: Double): Boolean =
    !valid && queryStealPct > stealLimit

  /** The sampling loop, factored out so the escalation/flagging policy
    * is unit-testable with synthetic timings (no Spark): batch queries
    * run at least `nReps` reps, keep running while the accumulated
    * samples are under `minSecs` (sub-second queries need more reps
    * for the same relative jitter) OR the relative spread exceeds
    * `maxSpread` (a contaminated rep must be out-voted, not trusted),
    * hard-capped at `nMax`; streaming queries run ONCE (fixed
    * machinery — see [[streamingHeadline]]). */
  private[graft] def collectTimes(rep: () => Double, isStream: Boolean,
      nReps: Int, nMax: Int, minSecs: Double, maxSpread: Double): Vector[Double] = {
    val times = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spent = 0.0
    val target = if (isStream) 1 else nReps
    val cap = if (isStream) 1 else nMax
    while (times.size < cap &&
           (times.size < target || (!isStream &&
             (spent < minSecs || relSpread(times.toSeq) > maxSpread)))) {
      val dt = rep(); times += dt; spent += dt
    }
    times.toVector
  }

  def loadavg(): Double = try {
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).split(" ").head.toDouble
  } catch { case _: Throwable => -1.0 }

  /** (wantedTicks, stealTicks) from /proc/stat, where wanted =
    * user+nice+system+irq+softirq+steal — the cycles the guest tried
    * to run, EXCLUDING idle/iowait. Guest loadavg is blind to
    * HYPERVISOR contention: on a stolen-cpu host the same query
    * measured 6.5 s and 71 s with guest loadavg < 1 both times (r5,
    * SCALING.md). Steal over WANTED cycles is the honest ratio — on a
    * 32-cpu guest where a query keeps 4 cpus busy, an all-cpu steal
    * average of 9% is really ~45% of the cycles the job asked for. */
  def cpuTicks(): (Long, Long) = try {
    val c = scala.io.Source.fromFile("/proc/stat").getLines()
      .next().trim.split("\\s+").drop(1).map(_.toLong)
    val steal = if (c.length > 7) c(7) else 0L
    (c(0) + c(1) + c(2) + c(5) + c(6) + steal, steal)
  } catch { case _: Throwable => (0L, 0L) }

  /** Stolen share (%) of wanted cpu cycles between two samples. */
  def stealPct(a: (Long, Long), b: (Long, Long)): Double = {
    val dw = b._1 - a._1
    if (dw <= 0) 0.0 else 100.0 * (b._2 - a._2) / dw
  }

  /** Seconds for a fixed 400M-step xorshift loop — a deterministic
    * single-thread probe of EFFECTIVE cpu speed. Steal% misses host
    * slowdowns that aren't accounted as steal (sibling-hyperthread
    * contention, host frequency scaling): r5 measured the same Spark
    * job at 20 s and 44 s with steal at 0.1% both times. Two probes
    * bracketing the run give a reader the normalizer that turns "the
    * number moved" into "the machine moved". ≈0.85 s on this host
    * when healthy (measured r5). */
  def calibrate(): Double = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 400000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("") // defeat dead-code elimination
    dt
  }

  /** A failed query's cause for the artifact: its exception class and
    * the first line of its message, capped at 300 chars. Later lines
    * hold plans and stack traces, which the one-line console JSON has
    * no room for. */
  private[graft] def causeJson(t: Throwable): String = {
    val msg = Option(t.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
    s"""{"class":${JsonText.string(t.getClass.getName)},""" +
      s""""message":${JsonText.string(msg.take(300))}}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Contention guard (r4: a loadavg-6.6 run made t9/an15 medians
    // unattributable): a polluted run must never masquerade as a
    // regression. Wait for the machine to go quiet before timing — up
    // to 10×30 s — then run regardless but flag the JSON so a reader
    // can discard the numbers.
    val loadLimit = sys.env.getOrElse("SPARK_GRAFT_MAX_LOAD", "2.0").toDouble
    val stealLimit = sys.env.getOrElse("SPARK_GRAFT_MAX_STEAL", "5.0").toDouble
    // a 3 s sample window is enough to see double-digit steal
    def sampleSteal(): Double = {
      val a = cpuTicks(); Thread.sleep(3000); stealPct(a, cpuTicks())
    }
    var waits = 0
    var steal = sampleSteal()
    while ((loadavg() > loadLimit || steal > stealLimit) && waits < 10) {
      System.err.println(
        s"[bench] loadavg ${loadavg()} / steal $steal% — waiting 30 s for a quiet machine")
      Thread.sleep(30000)
      steal = sampleSteal()
      waits += 1
    }
    val startLoad = loadavg()
    val busyStart = startLoad > loadLimit || steal > stealLimit
    val runTicks0 = cpuTicks()
    val calib0 = { calibrate(); calibrate() } // first rep pays JIT
    // shuffle parallelism derived from input scale, not pinned to the
    // core count (r14 — see Tables.derivedShuffleParts): on this SF it
    // stops paying ~15 ms × 32 empty-reducer launches per exchange; at
    // 100 TB the same formula grows past the core count to keep
    // partitions in the guide-§2.2 size band. The core count still
    // comes from $SPARK_GRAFT_CPUS (driver contract).
    val shuffleParts =
      Tables.derivedShuffleParts(Tables.inputBytes(sfDir), cpus.toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shuffleParts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // keep events.ts a plain TIMESTAMP regardless of how the parquet
      // was written (isAdjustedToUTC drifted across generator versions)
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      // the 30-query run generates ~600 codegen units; the default
      // 100-entry class cache would evict mid-run and re-pay janino
      // compiles inside timed reps (measured as multi-second spikes
      // in single-task broadcast-build stages)
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Force through the NOOP SINK, never count(): under count() the
    // optimizer deletes the operator under test — column pruning
    // reduced n4's quantization and t3's tokenizers to bare scans,
    // and j4's as-of union-merge constant-folded away entirely — so
    // those medians were scan time misreported as operator cost
    // (verified on the optimized plans, r5). The noop sink consumes
    // every output column, so the full query (including its final
    // sort) executes as a user materializing results would run it.
    def force(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    // untimed warm-up: JIT + codegen + parquet footer caches
    Tables.load(spark, sfDir, "lineitem").count()
    // a renamed/removed headline query must be a hard failure, not a
    // silent drop that a reader mistakes for a cross-round speedup
    val missing = headline.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty,
      s"headline queries missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val qs = headline
    // a query that throws reports the sentinel -1, not its time-to-failure,
    // and its first failure's cause goes to `failures`
    val causes = scala.collection.mutable.LinkedHashMap.empty[String, Throwable]
    val results = qs.map { name =>
      val isStream = streamingHeadline.contains(name)
      def fail(t: Throwable): Unit = if (!causes.contains(name)) {
        System.err.println(s"[bench] $name failed: $t")
        causes(name) = t
      }
      def failed = causes.contains(name)
      // per-query untimed warm-up: the first execution pays plan
      // compilation + codegen; timing it poisons median AND spread
      try force(SparkEntry.queries(name)(spark, sfDir))
      catch { case t: Throwable => fail(t) }
      def sample(): Vector[Double] =
        try {
          collectTimes(() => {
            val t0 = System.nanoTime()
            force(SparkEntry.queries(name)(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          }, isStream, reps, maxReps, minSampleSecs, spreadLimit)
        } catch { case t: Throwable => fail(t); Vector.empty[Double] }
      var qTicks = cpuTicks()
      var times = if (failed) Vector.empty[Double] else sample()
      def settled = failed ||
        (times.nonEmpty && (isStream || relSpread(times) <= spreadLimit))
      // steal-aware escalation (r13): an unsettled median measured
      // under detectable hypervisor steal gets ONE full fresh
      // re-sample before being stamped invalid — [[shouldRetry]]
      if (!settled && shouldRetry(valid = false,
          stealPct(qTicks, cpuTicks()), stealLimit)) {
        System.err.println(
          s"[bench] $name unsettled under steal - re-sampling once")
        qTicks = cpuTicks()
        times = sample()
      }
      val median =
        if (failed) -1.0 // any failed rep poisons the query
        else times.sorted.apply(times.size / 2)
      // relative spread (max-min)/median: the measurement uncertainty a
      // reader needs before calling a cross-round delta a regression
      val spread = if (failed || median <= 0) 0.0 else relSpread(times)
      // valid = the median is trustworthy: the query ran AND its spread
      // settled under the bar (streaming entries run once — fixed
      // machinery has no spread to judge)
      val valid = !failed && (isStream || spread <= spreadLimit)
      (name, median, spread, valid)
    }
    val qjson = results.map { case (k, v, _, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    // console copy of the medians at millisecond precision: the console
    // line must survive a bounded terminal-tail capture (see below), and
    // 17-significant-digit doubles are measurement theater on a bench
    // whose own spread bar is 100% — 3 decimals keeps the line compact
    // while the file artifact carries the full-precision values
    val qjsonShort = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + (if (v < 0) "-1" else
        String.format(java.util.Locale.ROOT, "%.3f", Double.box(v)))
    }.mkString("{", ",", "}")
    // Locale.ROOT: f"" uses the default locale — a comma-decimal locale
    // would emit invalid JSON
    val sjson = results.map { case (k, _, s, _) =>
      "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(s))
    }.mkString("{", ",", "}")
    val vjson = results.map { case (k, _, _, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errors = results.collect { case (k, v, _, _) if v < 0 => "\"" + k + "\"" }
      .mkString("[", ",", "]")
    val fjson = causes.map { case (k, t) => JsonText.string(k) + ":" + causeJson(t) }
      .mkString("{", ",", "}")
    // run-level verdict: every query's median is trustworthy — a
    // tail-reader checks ONE flag before comparing numbers across runs
    val spreadOk = results.forall(_._4)
    // two totals (r9): `value` = the comparable-operator subset —
    // real-streaming entries carry mostly fixed trigger/drain
    // machinery, so their cost is split into streaming_fixed_sec;
    // grand_total_sec = everything, the pre-r9 definition (for
    // cross-round continuity: BENCH_r8's "value" compares to THIS
    // run's grand total minus the r9-added queries)
    val (streamRes, opRes) =
      results.partition { case (k, _, _, _) => streamingHeadline.contains(k) }
    val total = opRes.map(_._2).filter(_ >= 0).sum
    val streamingFixed = streamRes.map(_._2).filter(_ >= 0).sum
    val grandTotal = total + streamingFixed
    val load = loadavg()
    val runSteal = String.format(java.util.Locale.ROOT, "%.1f",
      Double.box(stealPct(runTicks0, cpuTicks())))
    def f3(d: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // calibration reference for the relative stamps: the mean of the
    // bracketing probes — a host that degrades mid-run lands between
    // them, and both probes are already in the artifact for a reader
    // who wants either bound
    val calibEnd = calibrate()
    val calibRef = (calib0 + calibEnd) / 2.0
    // per-query calib_rel (median ÷ calib): the host-speed-normalized
    // number a tail-reader can compare ACROSS machines/rounds even
    // when absolute seconds are inflated (r13, verdict #1); budget_ok
    // stamps the pinned calibration-relative budgets for the known
    // environment-sensitive queries — only meaningful at the graded
    // sf0.1, so the stamps are emitted only there
    val cjson = results.map { case (k, v, _, _) =>
      "\"" + k + "\":" + (if (v < 0 || calibRef <= 0) "-1" else
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(v / calibRef)))
    }.mkString("{", ",", "}")
    val isGradedSf = sfDir.endsWith("sf0.1")
    val bjson = results.flatMap { case (k, v, _, _) =>
      if (!isGradedSf) None
      else budgetOk(k, v, calibRef).map(ok => "\"" + k + "\":" + ok)
    }.mkString("{", ",", "}")
    val budjson = calibBudgets.toSeq.sortBy(_._1)
      .map { case (k, b) => "\"" + k + "\":" + b }.mkString("{", ",", "}")
    // "forcing" stamp: r5 switched count() -> noop write, which makes
    // medians comparable only within runs carrying the same stamp
    val json = s"""{"metric":"total","value":$total,"unit":"sec","streaming_fixed_sec":$streamingFixed,"grand_total_sec":$grandTotal,"queries":$qjson,"spread":$sjson,"valid":$vjson,"calib_rel":$cjson,"budget_ok":$bjson,"budgets":$budjson,"spread_ok":$spreadOk,"spread_limit":$spreadLimit,"errors":$errors,"failures":$fjson,"reps":$reps,"forcing":"noop_write","shuffle_partitions":$shuffleParts,"loadavg":"$load","loadavg_start":"$startLoad","busy_start":$busyStart,"steal_pct_run":$runSteal,"calib_sec_start":${f3(calib0)},"calib_sec_end":${f3(calibEnd)},"sf":"$sfDir"}"""
    // The CONSOLE line is deliberately smaller than the file artifact:
    // the r12 round-over-round comparison died because the driver's
    // terminal-tail capture truncated the ~8 KB one-line JSON mid-map
    // (BENCH_r12 `parsed: null` — every per-query median lost). The
    // console line now carries only the driver-contract fields (metric/
    // value/unit/queries/sf), the two totals, failed queries' causes
    // and the run-health scalars (~2.5 KB); the per-query aux maps (spread/valid/
    // calib_rel/budget_ok/budgets) live in the FILE artifact, which
    // BenchDiff and the round-close workflow read.
    val consoleJson = s"""{"metric":"total","value":$total,"unit":"sec","streaming_fixed_sec":$streamingFixed,"grand_total_sec":$grandTotal,"queries":$qjsonShort,"spread_ok":$spreadOk,"spread_limit":$spreadLimit,"errors":$errors,"failures":$fjson,"reps":$reps,"forcing":"noop_write","shuffle_partitions":$shuffleParts,"loadavg":"$load","loadavg_start":"$startLoad","busy_start":$busyStart,"steal_pct_run":$runSteal,"calib_sec_start":${f3(calib0)},"calib_sec_end":${f3(calibEnd)},"sf":"$sfDir"}"""
    println(consoleJson)
    // ALSO write the artifact to a file: BENCH_r09's per-query medians
    // were lost forever to a console-tail truncation — the artifact
    // must not depend on terminal capture. Overridable for ad-hoc runs.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json")
    try {
      val p = java.nio.file.Paths.get(outPath)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, (json + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] artifact written to $outPath")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] WARNING: could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
