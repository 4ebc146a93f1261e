package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines.
  *
  * All hashing is derived from md5 hex prefixes with FIXED seeds, not
  * from JVM-runtime randomness, for two reasons: (a) results are
  * reproducible across runs/cluster sizes — a hard requirement for
  * incremental 100 TB dedup; (b) the identical algorithm is expressible
  * in ANSI SQL, so every stage is oracle-checkable.
  *
  * Scale design: every stage is a hash-partitioned groupBy/join on
  * bounded keys (shingle, band bucket); no stage ever materializes the
  * O(n²) pair space — candidate pairs come only from LSH bucket
  * collisions, and verification joins are restricted to candidate docs
  * first (semi-join) before the shingle-intersection join.
  */
object Dedup {

  // 4 bands × 3 rows: the LSH s-curve crosses ~(1/4)^(1/3) ≈ 0.63,
  // the right knee for a 0.5 near-dup threshold (3 bands × 4 rows puts
  // it at 0.71 and misses true pairs around 0.8 too often).
  val NumHashes = 12
  val Bands = 4
  val RowsPerBand = 3 // NumHashes / Bands

  /** 60-bit deterministic hash of a string (md5 hex prefix → long),
    * via the fused native expression (graft.functions.Md5Prefix) —
    * value-identical to conv(substring(md5(c), 1, 15), 16, 10). */
  def hash60(c: Column): Column =
    graft.functions.Md5Prefix.md5_prefix(c, 15)

  /** 40-bit base hash — one md5 per value; the per-seed family below
    * derives NumHashes hashes from it with pure int64 arithmetic, so
    * hashing cost is 1× md5 instead of NumHashes×. */
  def hash40(c: Column): Column =
    graft.functions.Md5Prefix.md5_prefix(c, 10)

  /** Universal-hash family over the 40-bit base: (A_s·h + B_s) mod P.
    * A_s ≤ ~1.3e6 keeps A·h < 1.5e18 < 2^63 — no int64 overflow in any
    * engine. */
  val HashP: Long = 1099511627689L // largest prime < 2^40
  def hashA(s: Int): Long = 1000003L + 24690L * s // odd, < 2^20
  def hashB(s: Int): Long = 12345L + 777777L * s
  def seedHash(h: Column, s: Int): Column =
    (h * hashA(s) + hashB(s)) % HashP

  /** k-word shingles per document: (doc_id, shingle). `distinct=false`
    * keeps the raw multiset — sufficient for MinHash (min over a
    * multiset equals min over its set) and skips a full shuffle. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, k: Int = 3,
      distinct: Boolean = true): DataFrame = {
    val raw = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(w) - ${k - 1}), i -> concat_ws(' ', slice(w, i, $k)))"))
          .as("shingle"))
    if (distinct) raw.distinct() else raw
  }

  /** Word-combination constants for arithmetic shingle hashing:
    * base(i) = (hw(i)·K1 + hw(i+1)·K2 + hw(i+2)) mod P.
    * hw < 2^40 and K < 2^20 keep every product < 2^60. */
  val ShingleK1 = 1048573L
  val ShingleK2 = 4093L

  /** (doc_id, h) base hashes for every k-word shingle, WITHOUT building
    * shingle strings: one md5 per word instance, then the k-word window
    * combines word hashes arithmetically. Identical formula in the SQL
    * oracle. (k is fixed to 3 here — the combination constants are a
    * 3-term family.) */
  def shingleBaseHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 3)
      // per-word hash via the fused native expression (one digest, no
      // hex-string round-trip) — the hot inner loop of the operator
      .select(col("doc_id"), transform(col("w"), x => hash40(x)).as("hw"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(1, size(hw) - 2), i -> (hw[i-1] * $ShingleK1 + hw[i] * $ShingleK2 + hw[i+1]) % $HashP)"
      )).as("h"))

  /** One row per doc with a bucket id per LSH band, computed WITHOUT the
    * NumHashes× row explosion: per-word md5 base hashes combined
    * arithmetically per shingle, NumHashes universal-hash derivations
    * (int ops), min-aggregated in one map-side-combined groupBy — the
    * shuffle carries one row per doc, not per (doc, seed, shingle).
    */
  def lshBuckets(base: DataFrame): DataFrame = {
    val mins = (0 until NumHashes).map(s => min(seedHash(col("h"), s)).as(s"mh$s"))
    val pivoted = base.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    // bucket id = 60-bit long from the md5 of the band's minhashes:
    // an 8-byte join key instead of a 32-char hex string halves the
    // candidate self-join's shuffle row; a 60-bit collision only adds
    // a false candidate that Jaccard verification rejects (and the
    // oracle replays the identical bucket formula, so results match)
    pivoted.select(
      col("doc_id") +:
        (0 until Bands).map { b =>
          hash60(concat_ws(",", (0 until RowsPerBand).map(r => col(s"mh${b * RowsPerBand + r}")): _*))
            .as(s"band$b")
        }: _*)
  }

  /** Distinct candidate pairs (d1 < d2) colliding in at least one band.
    * Bands go long-format first so ONE self-join covers all bands (the
    * shuffled signature subplan is identical on both sides → AQE
    * exchange reuse evaluates it once); never an O(n²) cross product.
    *
    * `maxBucket`: the hot-bucket guard for pathological duplicate
    * cliques — a bucket holding k near-identical docs emits k²/2
    * candidate pairs, so boilerplate that repeats 10⁵× (empty pages,
    * license headers) turns the linear candidate join quadratic.
    * With a cap, buckets above the limit are dropped from candidate
    * generation (measured: 20 identical replicas of a 5k corpus emit
    * 1.07M pairs uncapped — see SCALING.md). Docs in a dropped bucket
    * usually still pair through their OTHER bands unless those are
    * hot too (i.e. the whole clique is near-identical — exactly the
    * case to handle by exact-dedup (d1) FIRST, which is the
    * documented pipeline order). None = exact LSH semantics (the
    * oracle-checked default). */
  /** Drop (band, bucket) groups larger than the cap from a long-format
    * bucket relation — one small aggregate + semi-shaped join, only
    * when a cap is requested. */
  private def pruneHotBuckets(long: DataFrame, maxBucket: Option[Int]): DataFrame =
    maxBucket match {
      case None => long
      case Some(cap) =>
        val ok = long.groupBy("band", "bk").agg(count(lit(1)).as("sz"))
          .filter(col("sz") <= cap).select("band", "bk")
        long.join(ok, Seq("band", "bk"))
    }

  /** (doc_id, band, bk) long format of the band0..bandN bucket
    * columns — the one definition of the banding shape, shared by the
    * batch and incremental candidate paths so they cannot drift. */
  private def bucketsLongFormat(buckets: DataFrame): DataFrame =
    buckets.select(col("doc_id"),
      posexplode(array((0 until Bands).map(b => col(s"band$b")): _*)).as(Seq("band", "bk")))

  def candidatePairs(buckets: DataFrame, maxBucket: Option[Int] = None): DataFrame = {
    val pruned = pruneHotBuckets(bucketsLongFormat(buckets), maxBucket)
    val l = pruned.select(col("doc_id").as("d1"), col("band"), col("bk"))
    val r = pruned.select(col("doc_id").as("d2"), col("band"), col("bk"))
    l.join(r, Seq("band", "bk")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Exact Jaccard over the hashed-shingle sets of candidate pairs
    * only. `hashes` is (doc_id, h) from [[shingleBaseHashes]]; Jaccard
    * over the 40-bit hash sets equals Jaccard over the shingle sets up
    * to hash collisions, and the oracle replays the identical formula,
    * so the check stays exact. Joining on a long instead of a built
    * k-word string keeps the verify stage off the string allocator and
    * shrinks shuffle rows to (long, long).
    * Returns (d1, d2, jaccard) rounded to 4 decimals, >= threshold. */
  def jaccardVerify(hashes: DataFrame, cand: DataFrame, threshold: Double): DataFrame = {
    val docsIn = cand.select(col("d1").as("doc_id"))
      .unionByName(cand.select(col("d2").as("doc_id"))).distinct()
    // semi-restrict BEFORE set-ifying: the distinct shuffle only ever
    // sees candidate docs, not the whole corpus
    val shc = hashes.join(docsIn, "doc_id").distinct()
    val sizes = shc.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = shc.select(col("doc_id").as("d1"), col("h"))
    val y = shc.select(col("doc_id").as("d2"), col("h"))
    val inter = x.join(y, "h").filter(col("d1") < col("d2"))
      .join(cand, Seq("d1", "d2")) // only LSH candidates
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .select(col("d1"), col("d2"),
        round(col("i").cast("double") / (col("n1") + col("n2") - col("i")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Full MinHash+LSH near-dup pipeline. ONE hashed-shingle stream
    * (one md5 per word instance, arithmetic 3-word combination) feeds
    * both the signature path and the Jaccard-verify path — no shingle
    * strings are ever built. Signatures run on the raw hash multiset
    * (min over a multiset = min over its set, skipping a distinct
    * shuffle); only candidate docs are set-ified for verification.
    * (Re-shingling just the candidate docs was measured slower here —
    * the candidate subplan gets re-evaluated across branches — so the
    * verify path filters the shared stream instead.) */
  def minhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxBucket: Option[Int] = None): DataFrame = {
    require(k == 3, "arithmetic shingle hashing is a 3-term family")
    // build each shared relation ONCE (r14, the pageRank single-build
    // discipline — verdict item 4). base feeds the signature path AND
    // the verify path: only the signature side is exchange-headed, so
    // the verify join re-ran the whole explode+md5 pass as its streamed
    // side (r13's "persist measured no faster" note tested cache(),
    // whose write-through cost ate the win). LAZY checkpoints (the c4
    // stage-boundary discipline): an eager pin would run base → cand →
    // main as three serial driver barriers, losing the overlap the old
    // inlined form got from concurrent broadcast futures; the lazy pin
    // caps every re-evaluation at one while keeping one job graph. The
    // d2 plan shrank from ~44 documents scans / 80 Generates to the
    // scans the algorithm needs (plans/r14/d2_minhash_lsh_*).
    val base = shingleBaseHashes(docs, idCol, textCol).localCheckpoint(false)
    val cand = candidatePairs(lshBuckets(base), maxBucket).localCheckpoint(false)
    jaccardVerify(base, cand, threshold)
  }

  /** Incremental near-dup detection: verified pairs touching at least
    * one NEW document. The candidate join is new-side buckets × all
    * buckets, not all × all — the daily-increment shape at 100 TB,
    * where the corpus signatures/buckets are precomputed and stored
    * and only the increment is shingled fresh (here both are computed
    * from text because the testdata has no signature store; the join
    * shape is what matters). Semantically equal to
    * `minhashNearDups(corpus ∪ new)` filtered to pairs with a new
    * member. */
  def minhashNearDupsIncremental(corpus: DataFrame, newDocs: DataFrame,
      idCol: String, textCol: String, threshold: Double = 0.5,
      maxBucket: Option[Int] = None): DataFrame = {
    val base = shingleBaseHashes(corpus.unionByName(newDocs), idCol, textCol)
    val long = bucketsLongFormat(lshBuckets(base))
    // same hot-bucket guard as candidatePairs — the daily-increment
    // path is MORE exposed to boilerplate cliques, not less (the
    // corpus side accumulates them forever); bucket size is counted
    // over corpus+increment, the population the join fans out over
    val pruned = pruneHotBuckets(long, maxBucket)
    val newIds = newDocs.select(col(idCol).as("doc_id"))
    val newLong = pruned.join(newIds, "doc_id")
      .select(col("doc_id").as("d_new"), col("band"), col("bk"))
    val all = pruned.select(col("doc_id").as("d_oth"), col("band"), col("bk"))
    val cand = newLong.join(all, Seq("band", "bk"))
      .filter(col("d_new") =!= col("d_oth"))
      .select(least(col("d_new"), col("d_oth")).as("d1"),
        greatest(col("d_new"), col("d_oth")).as("d2"))
      .distinct()
    jaccardVerify(base, cand, threshold)
  }

  /** Connected components over a near-dup pair list: every doc in a
    * component is labelled with the component's smallest doc id — the
    * canonical-survivor assignment a dedup pipeline needs AFTER pair
    * generation (pairs alone don't say which copy to keep when dups
    * chain: a~b, b~c must collapse to one cluster).
    *
    * [[Graph.connectedComponents]] in the dedup column names: (d1, d2)
    * pairs in, (doc_id, cluster_id) out for every doc appearing in
    * `pairs` — the format [[survivorship]] and [[applySurvivorship]]
    * read. */
  def dupClusters(pairs: DataFrame): DataFrame =
    Graph.connectedComponents(pairs.select(col("d1").as("src"), col("d2").as("dst")))
      .select(col("node").as("doc_id"), col("component").as("cluster_id"))

  /** Exact-duplicate groups by canonical fingerprint: one row per
    * duplicated fingerprint with the surviving (min) id and group size. */
  def exactDupGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol).as("doc_id"),
        graft.functions.TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy("fp")
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_dups"))

  /** 60-bit SimHash signature per document, term-frequency weighted.
    * (doc_id, simhash: long). */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("doc_id", "word").agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), hash60(col("word")).as("h"), col("cnt"))
    terms
      .select(col("doc_id"), col("h"), col("cnt"),
        explode(sequence(lit(0), lit(59))).as("bit"))
      .groupBy("doc_id", "bit")
      .agg(sum(expr("CASE WHEN shiftright(h, bit) & 1 = 1 THEN cnt ELSE -cnt END")).as("w"))
      .groupBy("doc_id")
      .agg(sum(expr("CASE WHEN w > 0 THEN shiftleft(CAST(1 AS BIGINT), bit) ELSE CAST(0 AS BIGINT) END"))
        .as("simhash"))
  }

  /** SimHash near-dup retrieval: 60-bit signatures split into 4 bands
    * of 15 bits. By pigeonhole, two signatures within hamming distance
    * 3 agree on at least one full band, so band-bucket collisions are a
    * lossless candidate filter for maxHamming <= 3 — the same
    * linear-candidate shape as MinHash LSH, with verification a single
    * bit_count(xor) instead of a set intersection. */
  def simhashNearDups(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4 bands of 15 bits are lossless only for hamming <= 3")
    val sig = simhash(docs, idCol, textCol)
    val banded = sig.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band", "bv")))
    val l = banded.select(col("doc_id").as("d1"), col("simhash").as("s1"),
      col("band"), col("bv"))
    val r = banded.select(col("doc_id").as("d2"), col("simhash").as("s2"),
      col("band"), col("bv"))
    l.join(r, Seq("band", "bv")).filter(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2").distinct()
      .select(col("d1"), col("d2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Character n-gram Jaccard near-dups with blocking: pairs are only
    * considered within the same `blockCol` value (the cheap LSH-ish
    * prefilter that keeps the pair space linear-ish at scale). */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 4, threshold: Double = 0.7): DataFrame = {
    val grams = docs
      .select(col(idCol).as("doc_id"), col(blockCol).as("blk"), col(textCol).as("t"))
      .filter(length(col("t")) >= n)
      .select(col("doc_id"), col("blk"),
        explode(expr(s"transform(sequence(1, length(t) - ${n - 1}), i -> substring(t, i, $n))"))
          .as("gram"))
      .distinct()
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val x = grams.select(col("blk"), col("doc_id").as("d1"), col("gram"))
    val y = grams.select(col("blk"), col("doc_id").as("d2"), col("gram"))
    val inter = x.join(y, Seq("blk", "gram")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "d1").withColumnRenamed("n", "n1"), "d1")
      .join(sizes.withColumnRenamed("doc_id", "d2").withColumnRenamed("n", "n2"), "d2")
      .select(col("d1"), col("d2"),
        round(col("i").cast("double") / (col("n1") + col("n2") - col("i")).cast("double"), 4)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Sorted-neighborhood candidate generation (Hernández & Stolfo's
    * merge/purge) — the blocking strategy orthogonal to hashing
    * families: sort the corpus by a canonical key and compare each
    * record only to its `w` successors in sort order. Distributed
    * form: the canon-key PREFIX is the block (prefix ranges ARE
    * contiguous sort ranges), rows sort within their block, and the
    * pair join is block-equality plus a ±w rank residual — so the
    * only shuffle is the block partitioning and no window ever spans
    * the corpus (pairs across block boundaries are the method's
    * documented recall trade, bounded by w per boundary). SIZE THE
    * PREFIX TO THE CORPUS: a too-short prefix folds many sort ranges
    * into one block and serializes its sort — ScaleStress measured a
    * 31× cliff at 20× volume with prefixLen=2 vs 3 (identical
    * output); at 100 TB the prefix grows like log(corpus)/log(Σ) so
    * blocks track sort-range splits. A cheap
    * edit-distance measure over the 30-char key head filters the
    * candidates; both the rank and the distance are exact integers
    * on any engine.
    *
    * Returns (d1, d2, lev): unordered candidate pairs with head edit
    * distance ≤ `maxLev`. */
  def sortedNeighborhoodCandidates(docs: DataFrame, idCol: String,
      textCol: String, w: Int = 3, prefixLen: Int = 2,
      maxLev: Int = 5): DataFrame = {
    val k = docs.select(col(idCol).as("doc_id"),
      regexp_replace(lower(col(textCol)), "[^a-z0-9]", "").as("ck"))
    val s = k.select(col("doc_id"), col("ck"),
        substring(col("ck"), 1, prefixLen).as("blk"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("blk")).orderBy(col("ck"), col("doc_id"))))
    val a = s.select(col("blk"), col("rn").as("rn1"),
      col("doc_id").as("id1"), col("ck").as("ck1"))
    val b = s.select(col("blk"), col("rn").as("rn2"),
      col("doc_id").as("id2"), col("ck").as("ck2"))
    // the ±w band is part of the EQUI-KEY, not a post-join filter:
    // each row probes exactly its w successor ranks, so the join
    // intermediate is ≤ w·N rows. Joining on blk alone and filtering
    // rn2 ∈ (rn1, rn1+w] afterwards would materialize the within-block
    // cross product first — quadratic in block size, exactly the
    // corpus-spanning work this operator exists to avoid.
    val probes = a.withColumn("rn2", explode(expr(s"sequence(rn1 + 1, rn1 + $w)")))
    probes.join(b, Seq("blk", "rn2"))
      .select(least(col("id1"), col("id2")).as("d1"),
        greatest(col("id1"), col("id2")).as("d2"),
        levenshtein(substring(col("ck1"), 1, 30), substring(col("ck2"), 1, 30))
          .cast("long").as("lev"))
      .filter(col("lev") <= maxLev)
  }

  /** Canonical-survivor selection over duplicate clusters: per cluster,
    * keep the member with the highest `qualityCol`, ties broken by the
    * smallest id. The argmax is ONE `max(struct(quality, -id))`
    * aggregation — no window, so nothing materializes a per-cluster
    * sort — and `clusters` holds only docs that appear in a near-dup
    * pair (a sliver of the corpus at 100 TB), so it broadcasts onto
    * the corpus for the quality lookup: zero corpus-side shuffle.
    *
    * Returns (cluster_id, survivor_id, n_members, survivor_quality). */
  def survivorship(docs: DataFrame, clusters: DataFrame, idCol: String,
      qualityCol: Column): DataFrame = {
    val q = docs.select(col(idCol).as("doc_id"), qualityCol.as("q"))
    broadcast(clusters).join(q, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("w"))
      .select(col("cluster_id"), (-col("w.nid")).as("survivor_id"),
        col("n_members"), col("w.q").as("survivor_quality"))
  }

  /** Applies [[survivorship]] to the corpus: drops every cluster member
    * that is not its cluster's survivor. The loser list is cluster-sized
    * (tiny), so the removal is a broadcast anti-join — one corpus scan,
    * zero shuffle. Non-clustered docs survive by definition. */
  def applySurvivorship(docs: DataFrame, clusters: DataFrame, idCol: String,
      qualityCol: Column): DataFrame = {
    val surv = survivorship(docs, clusters, idCol, qualityCol)
      .select(col("cluster_id"), col("survivor_id"))
    val losers = clusters.join(surv, "cluster_id")
      .filter(col("doc_id") =!= col("survivor_id"))
      .select(col("doc_id"))
    docs.join(broadcast(losers), docs(idCol) === losers("doc_id"), "left_anti")
  }
}
