package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Dictionary encoding: dense integer codes for an arbitrary-typed key
  * column — the composition that extends the exact bitmap sketch
  * algebra ([[graft.functions.BitmapDistinctExpr]] family) to string /
  * UUID / URL key domains, and the general build-once surrogate-code
  * primitive (feature hashing without collisions, categorical encoders
  * for the training pipeline).
  *
  * Codes are DETERMINISTIC and DENSE in `[0, |distinct|)`: the
  * dictionary is the distinct key set globally ranked by the key's own
  * ordering via [[Ranking.globalRowNumber]] (two-phase range-partition
  * rank — no single-task window), so the same key set always yields
  * the same codes regardless of partitioning. Dense codes are the
  * best case for the bitmap's containers: |keys| bits, zero waste.
  *
  * IDENTITY (r12): every dictionary carries a [[IdCol]] column — a
  * 64-bit order-independent content hash (`bit_xor(xxhash64(key))`) of
  * its FIRST generation's key set, preserved across
  * [[encodeIncremental]] extensions. Coded facts inherit the column
  * through the code join, and the coded sketch family
  * ([[graft.functions.CodedBitmap]]) embeds it in the sketch bytes so
  * merges of sketches coded by different lineages fail loudly — the
  * vhist-unit / dds-alpha params-in-bytes rule applied to codes. The
  * id is a corruption GUARD (deterministic, 2^-64 collision floor),
  * not an identity proof: two independent builds over the SAME key set
  * share both the id and the codes (rank is deterministic), which is
  * exactly when merging is safe. The one divergence it cannot see is
  * SIBLING extensions of one lineage (same first generation, different
  * appended keys) — fork a dictionary and the tag cannot save you;
  * keep one stored lineage per key universe.
  *
  * Scale shape: one distinct (key-hash shuffle sized to the DICTIONARY
  * cardinality, not the fact table), one rank over the distinct set,
  * one 1-row broadcast identity scalar, one equi-join of codes back
  * onto facts — broadcast when the dictionary is small (Catalyst/AQE
  * decides from stats), shuffled hash otherwise. The dictionary is
  * reusable: encode once per key universe, sketch any number of
  * grains.
  */
object Dictionary {

  /** The identity column every dictionary (and coded fact set)
    * carries: the lineage's first-generation key-set content hash. */
  val IdCol = "dict_id"

  /** Order-independent deterministic content hash of a key set as a
    * 1-row aggregate: xor is commutative/associative, xxhash64 is a
    * fixed pure function, so any partitioning yields the same id.
    * Empty set → 0 (the empty lineage). */
  private def keySetId(keys: DataFrame, keyCol: String, as: String): DataFrame =
    keys.agg(coalesce(
      expr(s"bit_xor(xxhash64(`$keyCol`))"), lit(0L)).as(as))

  /** Returns (facts with `codeCol` and [[IdCol]] attached, the
    * dictionary itself as (key, code, dict_id)). Null keys get no row
    * in the dictionary and are DROPPED from the coded facts (inner
    * join) — matching `count(distinct)`'s null rule downstream.
    *
    * APPEND HAZARD: codes are RANK-assigned over THIS key set — calling
    * `encode` again after new keys arrive renumbers every key that
    * sorts after the earliest new one, silently misaligning any STORED
    * plain-sketch/code table built on the old codes. Within one build
    * the codes are stable and dense; across batches, extend the
    * dictionary with [[encodeIncremental]], which freezes existing
    * codes — and sketch through
    * [[graft.functions.CodedBitmap.bitmap_sketch_coded]], which makes
    * the rebuild-vs-extend mistake FAIL LOUDLY instead of mis-counting
    * (a rebuilt dictionary hashes a different key set → different
    * [[IdCol]] → the coded merge throws). */
  def encode(df: DataFrame, keyCol: String, codeCol: String): (DataFrame, DataFrame) = {
    val keys = df.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
    // PERSISTED (r13): a dictionary is a build-once-reuse-everywhere
    // artifact by contract — callers join it onto facts, feed it to
    // encodeIncremental, AND audit it, each reference re-running the
    // distinct + two-phase rank without memoization. The cache entry is
    // dictionary-sized (key universe, never facts) and lazy: no action
    // here, storage populated on first evaluation.
    val dict = Ranking.globalRowNumber(keys, Seq(col(keyCol)), "__rn")
      .select(col(keyCol), (col("__rn") - 1L).as(codeCol))
      .crossJoin(broadcast(keySetId(keys, keyCol, IdCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df.join(dict, keyCol), dict)
  }

  /** APPEND-STABLE dictionary extension — the incremental leg of
    * [[encode]]: every (key, code) pair already in `dict` is FROZEN
    * bit-for-bit, and only keys of `df` ABSENT from `dict` are ranked
    * (among themselves, by the key's own ordering) and appended at
    * `max(existing code) + 1`. Stored sketches built on the old codes
    * stay valid: a bitmap bit keeps meaning the same key forever, so
    * yesterday's sketch table and today's batch-2 sketches merge
    * exactly — the composition the engine's own incremental patterns
    * (u6 CDC upsert, u8 incremental agg, d7 incremental dedup) invite.
    * The [[IdCol]] lineage id is PRESERVED (an extension is the same
    * lineage; an empty starting dictionary degrades to [[encode]]'s
    * id, so the degenerate case is bit-identical to a fresh encode).
    *
    * MALFORMED-DICT GUARD (fail-loud, lazily planned): a dictionary
    * carrying duplicate KEYS would silently fan out the fact join, and
    * duplicate CODES would silently alias two keys in every downstream
    * bitmap; mixed [[IdCol]] values mean two lineages were unioned.
    * All three corrupt every downstream sketch with no error, so the
    * extended dictionary's code column raises on first evaluation when
    * the 1-row audit scalar (count − countDistinct per column, a
    * dictionary-cardinality aggregate broadcast like the max-code
    * base) finds any of them. Construction runs only the NEW-key
    * rank's jobs ([[Ranking.globalRowNumber]] materializes and counts
    * its ranges, and what feeds them); the guards stay lazy.
    *
    * Codes stay DENSE (`[0, |old| + |new|)`) but the ordering guarantee
    * weakens by design: within the appended block codes follow key
    * order, across blocks they follow ARRIVAL order. Re-running with a
    * batch containing no new keys returns `dict` unchanged.
    *
    * Returns (facts with `codeCol` attached via the EXTENDED dictionary,
    * the extended dictionary). Null keys are dropped as in [[encode]].
    *
    * Scale shape: one distinct over the BATCH (batch-cardinality
    * shuffle), one left-anti join against the dictionary (key shuffle
    * sized by dictionary + batch distinct, or broadcast when the
    * smaller side's stats allow), one dictionary-cardinality audit
    * aggregate (broadcast 1-row: max code + dup counters + lineage id),
    * one global rank over only the NEW keys, one equi-join of the
    * extended dictionary back onto facts. */
  def encodeIncremental(dict: DataFrame, df: DataFrame, keyCol: String,
      codeCol: String): (DataFrame, DataFrame) = {
    require(dict.columns.contains(keyCol) && dict.columns.contains(codeCol),
      s"encodeIncremental: dictionary must carry ($keyCol, $codeCol), " +
        s"got [${dict.columns.mkString(", ")}]")
    require(dict.columns.contains(IdCol),
      s"encodeIncremental: dictionary carries no $IdCol identity column - " +
        "build it with Dictionary.encode (pre-identity dictionaries must be " +
        "re-encoded once)")
    val frozen = dict.select(col(keyCol),
      col(codeCol).cast("long").as(codeCol), col(IdCol).cast("long").as(IdCol))
    val newKeys = df.select(col(keyCol)).filter(col(keyCol).isNotNull).distinct()
      .join(frozen.select(col(keyCol)), Seq(keyCol), "left_anti")
    // 1-row audit over the FROZEN dict, broadcast like an40's
    // moved-count scalar: next free code, malformed-dict counters, and
    // the lineage id — lazy, never a driver action here. PERSISTED
    // (r13, verdict #4): the guard rides every code/id evaluation, so
    // without memoization a REUSED extended dictionary re-ran this
    // dictionary-sized aggregate (count + 3 countDistinct = an Expand
    // ×4 over dict rows) on every downstream action — measured as
    // an40's 0.78 → 1.56 s doubling. persist() keeps construction
    // action-free (storage is populated on the FIRST evaluation, the
    // fail-loud semantics unchanged) and later actions read the 1-row
    // cached result. The cache entry is one row and lives for the
    // session — the price of a per-action dictionary re-audit was
    // dictionary-sized, this is constant.
    val audit = frozen.agg(
      coalesce(max(col(codeCol)) + lit(1L), lit(0L)).as("__base"),
      (count(lit(1)) - countDistinct(col(keyCol))).as("__kdup"),
      (count(lit(1)) - countDistinct(col(codeCol))).as("__cdup"),
      countDistinct(col(IdCol)).as("__nids"),
      max(col(IdCol)).as("__did"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // malformed dictionaries raise on the first evaluated code OR
    // dict_id — the guard rides BOTH columns, so any use that evaluates
    // either (coded facts, identity-only reads) trips it with zero
    // extra actions; only a use that prunes both (e.g. a bare key scan
    // or count) passes un-audited
    def guarded(code: Column): Column =
      when(col("__kdup") > 0L, raise_error(lit(
        "encodeIncremental: malformed dictionary - duplicate keys would fan " +
          "out the fact join")).cast("long"))
        .when(col("__cdup") > 0L, raise_error(lit(
          "encodeIncremental: malformed dictionary - duplicate codes alias " +
            "two keys in every downstream bitmap")).cast("long"))
        .when(col("__nids") > 1L, raise_error(lit(
          s"encodeIncremental: malformed dictionary - mixed $IdCol values " +
            "(two lineages unioned)")).cast("long"))
        .otherwise(code)
    val frozenGuarded = frozen.crossJoin(broadcast(audit))
      .select(col(keyCol), guarded(col(codeCol)).as(codeCol),
        guarded(col(IdCol)).as(IdCol))
    // the new-keys identity hash is batch-distinct-sized and referenced
    // per action like the audit — same memoization, same rationale
    val newId = keySetId(newKeys, keyCol, "__nid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val appended = Ranking.globalRowNumber(newKeys, Seq(col(keyCol)), "__rn")
      .crossJoin(broadcast(audit))
      .crossJoin(broadcast(newId))
      .select(col(keyCol),
        guarded(col("__base") + col("__rn") - 1L).as(codeCol),
        guarded(coalesce(col("__did"), col("__nid"))).as(IdCol))
    // same build-once contract as [[encode]]'s dict: the extended
    // dictionary is joined onto facts, audited, and diffed against its
    // parent by callers — memoize it whole (guard semantics unchanged:
    // a malformed dict throws during the first materialization and the
    // failed entry is never cached)
    val extended = frozenGuarded.unionByName(appended)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (df.join(extended, keyCol), extended)
  }

  /** DICT_AUDIT (r13): one-pass, dictionary-sized validation of a
    * STORED coded-sketch table against the dictionary claimed to have
    * coded it — the operational check for the documented SIBLING-FORK
    * blind spot ([[graft.functions.CodedBitmap]] scaladoc: two sketches
    * coded by sibling extensions of one lineage share a dict_id yet
    * alias high codes, and nothing at merge time can see it). The
    * audit reads per-sketch (max set code, embedded lineage id) — each
    * a per-row scalar off the sketch BYTES
    * ([[graft.functions.CodedBitmap.bitmap_max_code_coded]] /
    * [[graft.functions.CodedBitmap.bitmap_dict_id_coded]]), no merge,
    * no fact scan — and checks
    *  (1) `codes_in_range`: max set code < |dict| — a sibling fork that
    *      appended MORE keys than this dictionary is caught here;
    *  (2) `ids_match`: every non-empty sketch carries exactly ONE
    *      lineage id and it is this dictionary's — independent or
    *      rebuilt dictionaries are caught here.
    * Returns a 1-row report `(n_keys, max_code_seen, codes_in_range,
    * n_sketch_ids, ids_match, ok)`; empty/unset sketches audit clean
    * (they are the merge identity). Scale shape: one sketch-table
    * aggregate over two per-row scalars + one dictionary-cardinality
    * aggregate, crossJoined 1-row × 1-row.
    *
    * RESIDUAL blind spot, narrowed but not closed: a sibling whose
    * appended codes all stay BELOW |dict| aliases silently — that case
    * is undetectable from (id, code range) alone. Keep one stored
    * lineage per key universe; run this audit before merging a stored
    * tier with sketches coded by a dictionary you did not extend
    * yourself. */
  def auditCodedTier(dict: DataFrame, sketches: DataFrame,
      sketchCol: String): DataFrame = {
    require(dict.columns.contains(IdCol),
      s"auditCodedTier: dictionary carries no $IdCol identity column - " +
        "build it with Dictionary.encode")
    val CB = graft.functions.CodedBitmap
    val skStats = sketches.agg(
      max(CB.bitmap_max_code_coded(col(sketchCol))).as("max_code_seen"),
      countDistinct(CB.bitmap_dict_id_coded(col(sketchCol))).as("n_sketch_ids"),
      max(CB.bitmap_dict_id_coded(col(sketchCol))).as("__sk_id"))
    val dictStats = dict.agg(
      count(lit(1)).as("n_keys"),
      max(col(IdCol).cast("long")).as("__dict_id"))
    dictStats.crossJoin(broadcast(skStats))
      .select(
        col("n_keys"), col("max_code_seen"),
        coalesce(col("max_code_seen") < col("n_keys"), lit(true))
          .as("codes_in_range"),
        col("n_sketch_ids"),
        (col("n_sketch_ids") === 0L ||
          (col("n_sketch_ids") === 1L &&
            coalesce(col("__sk_id") === col("__dict_id"), lit(false))))
          .as("ids_match"))
      .withColumn("ok", col("codes_in_range") && col("ids_match"))
  }
}
