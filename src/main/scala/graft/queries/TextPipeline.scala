package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.functions.TextFunctions
import graft.operators.{Dedup, Ranking, Similarity}

/** Training-data-pipeline operators over documents/embeddings: text
  * analysis, exact & near dedup, similarity search, multimodal binary
  * plumbing. Every oracle replays the identical fixed-seed algorithm in
  * SQL, so these are exact checks, not smoke tests.
  */
object TextPipeline {

  type Q = (SparkSession, String) => DataFrame

  // ---- text analysis -----------------------------------------------

  /** T1: heuristic language ID via stopword hits. */
  val t1LangId: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", TextFunctions.langId($"text").as("pred_lang"))
      .orderBy($"doc_id")
  }

  val t1LangIdSql: String = {
    val hits = Seq("en", "fr", "de", "es")
      .map(l => s"len(regexp_extract_all(lower(text), '${TextFunctions.langStopwords(l)}')) AS $l")
      .mkString(", ")
    s"""WITH h AS (SELECT doc_id, $hits FROM documents)
       |SELECT doc_id,
       |  CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
       |       WHEN en = greatest(en, fr, de, es) THEN 'en'
       |       WHEN fr = greatest(en, fr, de, es) THEN 'fr'
       |       WHEN de = greatest(en, fr, de, es) THEN 'de'
       |       ELSE 'es' END AS pred_lang
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** T2: quality scoring — length/alpha/stopword blend (exact integer
    * arithmetic; see TextFunctions.qualityScore). */
  val t2Quality: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", TextFunctions.qualityScore($"text").as("quality"))
      .orderBy($"doc_id")
  }

  val t2QualitySql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    least(length(text), 500)::BIGINT * 20 AS len_bp,
      |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT * 10000)
      |      // greatest(length(text), 1)::BIGINT AS alpha_bp,
      |    (least(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) * 10,
      |           len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')))::BIGINT * 10000)
      |      // greatest(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')), 1)::BIGINT AS stop_bp
      |  FROM documents)
      |SELECT doc_id, (len_bp + alpha_bp + stop_bp) // 3 AS quality
      |FROM m ORDER BY doc_id""".stripMargin

  /** C1: the corpus-curation capstone — language filter, quality
    * floor, and exact dedup composed in ONE DataFrame plan (keep
    * English docs with quality >= 3000 bp, first doc per canonical
    * fingerprint). This is the query a training-data engineer actually
    * runs; everything fuses into a single scan + one window shuffle. */
  val c1Curate: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"text",
        TextFunctions.langId($"text").as("lang_pred"),
        TextFunctions.qualityScore($"text").as("quality"),
        TextFunctions.fingerprint($"text").as("fp"))
      .filter($"lang_pred" === "en" && $"quality" >= 3000)
      .withColumn("rn", row_number().over(
        Window.partitionBy($"fp").orderBy($"doc_id")))
      .filter($"rn" === 1)
      .select($"doc_id", $"quality")
      .orderBy($"doc_id")
  }

  val c1CurateSql: String = {
    val hits = Seq("en", "fr", "de", "es")
      .map(l => s"len(regexp_extract_all(lower(text), '${TextFunctions.langStopwords(l)}')) AS $l")
      .mkString(", ")
    s"""WITH h AS (SELECT doc_id, text, $hits FROM documents),
       |langed AS (
       |  SELECT doc_id, text,
       |    CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
       |         WHEN en = greatest(en, fr, de, es) THEN 'en'
       |         WHEN fr = greatest(en, fr, de, es) THEN 'fr'
       |         WHEN de = greatest(en, fr, de, es) THEN 'de'
       |         ELSE 'es' END AS lang_pred
       |  FROM h),
       |parts AS (
       |  SELECT doc_id, text, lang_pred,
       |    least(length(text), 500)::BIGINT * 20 AS len_bp,
       |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT * 10000)
       |      // greatest(length(text), 1)::BIGINT AS alpha_bp,
       |    (least(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b')) * 10,
       |           len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')))::BIGINT * 10000)
       |      // greatest(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')), 1)::BIGINT AS stop_bp
       |  FROM langed),
       |scored AS (
       |  SELECT doc_id, lang_pred,
       |    (len_bp + alpha_bp + stop_bp) // 3 AS quality,
       |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
       |  FROM parts)
       |SELECT doc_id, quality FROM scored
       |WHERE lang_pred = 'en' AND quality >= 3000
       |QUALIFY row_number() OVER (PARTITION BY fp ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin
  }

  /** C3: the curation funnel REPORT — per source, how many documents
    * each c1 gate drops and how many survive: the observability query
    * every production curation pipeline runs next to the filter
    * itself. Stage flags are computed in ONE scan (language → quality
    * → global fingerprint dedup); the dedup rank reuses the c1 rule
    * (first doc_id per fingerprint among docs that passed the earlier
    * gates) via a window partitioned by (fp, passed) so failed docs
    * never steal a keeper slot. Single fp-keyed shuffle plus a 3-row
    * group-by — the funnel adds no pass over the corpus beyond c1's
    * own plan. */
  val c3CurationFunnel: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables.load(s, dir, "documents")
      .select($"doc_id", $"source",
        TextFunctions.langId($"text").as("lang_pred"),
        TextFunctions.qualityScore($"text").as("quality"),
        TextFunctions.fingerprint($"text").as("fp"))
      .withColumn("lang_ok", $"lang_pred" === "en")
      .withColumn("qual_ok", $"lang_ok" && $"quality" >= 3000)
    val ranked = scored.withColumn("rn", row_number().over(
      Window.partitionBy($"fp", $"qual_ok").orderBy($"doc_id")))
    ranked.groupBy($"source")
      .agg(
        count(lit(1)).as("n_total"),
        sum(when(!$"lang_ok", 1L).otherwise(0L)).as("n_lang_fail"),
        sum(when($"lang_ok" && !$"qual_ok", 1L).otherwise(0L)).as("n_quality_fail"),
        sum(when($"qual_ok" && $"rn" > 1, 1L).otherwise(0L)).as("n_dup"),
        sum(when($"qual_ok" && $"rn" === 1, 1L).otherwise(0L)).as("n_survivors"))
      .orderBy($"source")
  }

  val c3CurationFunnelSql: String = {
    val hits = Seq("en", "fr", "de", "es")
      .map(l => s"len(regexp_extract_all(lower(text), '${TextFunctions.langStopwords(l)}')) AS $l")
      .mkString(", ")
    s"""WITH h AS (SELECT doc_id, source, text, $hits FROM documents),
       |langed AS (
       |  SELECT doc_id, source, text,
       |    CASE WHEN greatest(en, fr, de, es) = 0 THEN 'und'
       |         WHEN en = greatest(en, fr, de, es) THEN 'en'
       |         WHEN fr = greatest(en, fr, de, es) THEN 'fr'
       |         WHEN de = greatest(en, fr, de, es) THEN 'de'
       |         ELSE 'es' END AS lang_pred
       |  FROM h),
       |parts AS (
       |  SELECT doc_id, source, lang_pred,
       |    least(length(text), 500)::BIGINT * 20 AS len_bp,
       |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT * 10000)
       |      // greatest(length(text), 1)::BIGINT AS alpha_bp,
       |    (least(len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b')) * 10,
       |           len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')))::BIGINT * 10000)
       |      // greatest(len(regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+')), 1)::BIGINT AS stop_bp,
       |    md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
       |  FROM langed),
       |flags AS (
       |  SELECT doc_id, source, fp,
       |    lang_pred = 'en' AS lang_ok,
       |    lang_pred = 'en' AND (len_bp + alpha_bp + stop_bp) // 3 >= 3000 AS qual_ok
       |  FROM parts),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY fp, qual_ok ORDER BY doc_id) AS rn
       |  FROM flags)
       |SELECT source, count(*) AS n_total,
       |  CAST(sum(CASE WHEN NOT lang_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_lang_fail,
       |  CAST(sum(CASE WHEN lang_ok AND NOT qual_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_fail,
       |  CAST(sum(CASE WHEN qual_ok AND rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |  CAST(sum(CASE WHEN qual_ok AND rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_survivors
       |FROM ranked GROUP BY source ORDER BY source""".stripMargin
  }

  /** T5: deterministic train/val/test split — hash-bucket assignment
    * (md5 of the doc id, 100 buckets: 80/10/10). The reproducible
    * alternative to rand()-sampling: the same doc lands in the same
    * split on every run, cluster size, and engine — the property a
    * 100 TB corpus needs for stable held-out sets. */
  val t5SplitAssign: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .withColumn("bucket",
        pmod(conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10).cast("long"),
          lit(100L)))
      .select($"doc_id", $"bucket",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  val t5SplitAssignSql: String =
    """WITH b AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(doc_id::VARCHAR), 1, 10))::BIGINT % 100 AS bucket
      |  FROM documents)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 80 THEN 'train'
      |       WHEN bucket < 90 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM b ORDER BY doc_id""".stripMargin

  /** D14: blocked fuzzy join — entity-resolution by edit distance,
    * the dedup family member set-similarity (d13) can't express
    * (lev ≤ 1 catches single-typo variants that share almost no
    * shingles at short lengths). ALL-pairs levenshtein is O(n²·len²);
    * the blocking rule makes it linear-ish: a single edit on a word of
    * length ≥ 4 cannot touch BOTH the first two and the last two
    * characters, so every lev ≤ 1 pair (length diff ≤ 1) shares a
    * (prefix2, len-bucket) or (suffix2, len-bucket) blocking key —
    * provably no false negatives (spec checks against brute force).
    * Candidates from a self-join on exploded keys, exact levenshtein
    * verify after. Typos are planted on the vocab (first char → 'z'
    * for every 7th distinct word) since the dictionary corpus has few
    * natural near-words; the oracle replays the same injection. */
  val d14FuzzyJoin: Q = (s, dir) => {
    import s.implicits._
    val vocab0 = Tables.load(s, dir, "documents")
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 4).distinct()
    // rank the vocab (tiny relation) to pick every 7th word for typos
    val typos = graft.operators.Ranking
      .globalRowNumber(vocab0, Seq($"w".asc), "r")
      .filter($"r" % 7 === 0)
      .select(concat(lit("z"), substring($"w", 2, 1000)).as("w"))
    val vocab = vocab0.unionByName(typos).distinct()
    val keys = vocab.select($"w", explode(expr(
      "array(concat('p:', substring(w, 1, 2), ':', CAST(length(w) AS STRING)), " +
        "concat('p:', substring(w, 1, 2), ':', CAST(length(w) + 1 AS STRING)), " +
        "concat('s:', substring(w, -2, 2), ':', CAST(length(w) AS STRING)), " +
        "concat('s:', substring(w, -2, 2), ':', CAST(length(w) + 1 AS STRING)))"))
      .as("k"))
    keys.as("a").join(keys.as("b"), $"a.k" === $"b.k" && $"a.w" < $"b.w")
      .select($"a.w".as("w1"), $"b.w".as("w2")).distinct()
      .filter(levenshtein($"w1", $"w2") <= 1)
      .orderBy($"w1", $"w2")
  }

  val d14FuzzyJoinSql: String =
    """WITH v0 AS (
      |  SELECT DISTINCT word AS w FROM (
      |    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |  WHERE length(word) >= 4),
      |ranked AS (
      |  SELECT w, row_number() OVER (ORDER BY w) AS r FROM v0),
      |typos AS (
      |  SELECT 'z' || substr(w, 2) AS w FROM ranked WHERE r % 7 = 0),
      |vocab AS (SELECT w FROM v0 UNION SELECT w FROM typos),
      |keys AS (
      |  SELECT w, unnest([
      |    'p:' || substr(w, 1, 2) || ':' || length(w)::VARCHAR,
      |    'p:' || substr(w, 1, 2) || ':' || (length(w) + 1)::VARCHAR,
      |    's:' || substr(w, -2) || ':' || length(w)::VARCHAR,
      |    's:' || substr(w, -2) || ':' || (length(w) + 1)::VARCHAR]) AS k
      |  FROM vocab),
      |cand AS (
      |  SELECT DISTINCT a.w AS w1, b.w AS w2
      |  FROM keys a JOIN keys b ON a.k = b.k AND a.w < b.w)
      |SELECT w1, w2 FROM cand WHERE levenshtein(w1, w2) <= 1
      |ORDER BY w1, w2""".stripMargin

  /** M6: media exact dedup by content digest — the LAION-style image
    * dedup step: identical binary payloads collapse to one canonical
    * media row regardless of their metadata. Duplicate payloads are
    * planted (every 9th document's bytes re-registered under a new
    * media id); grouping is ONE map-side-combined aggregate on the
    * 32-byte digest — the payload bytes never shuffle, only digests
    * do, which is what makes content-hash dedup the first pass of any
    * multimodal pipeline at 100 TB. */
  val m6MediaDedup: Q = (s, dir) => {
    import s.implicits._
    val base = Tables.load(s, dir, "documents")
      .select($"doc_id".as("media_id"), encode($"text", "UTF-8").as("payload"))
    val media = base.unionByName(
      base.filter($"media_id" % 9 === 0)
        .select(($"media_id" + 1000000).as("media_id"), $"payload"))
    media
      .select($"media_id", sha2($"payload", 256).as("digest"),
        length($"payload").cast("long").as("n_bytes"))
      .groupBy($"digest", $"n_bytes")
      .agg(min($"media_id").as("canonical_id"), count(lit(1)).as("n_copies"))
      .filter($"n_copies" > 1)
      .orderBy($"canonical_id")
  }

  val m6MediaDedupSql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 9 = 0)
      |SELECT sha256(text) AS digest,
      |  octet_length(text::BLOB) AS n_bytes,
      |  min(media_id) AS canonical_id, count(*) AS n_copies
      |FROM media GROUP BY 1, 2 HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  /** T26: leakage-safe train/val/test split — t5's hash-bucket rule
    * keyed on the NEAR-DUP CLUSTER id instead of the document id, so a
    * near-duplicate pair can never straddle train and test (the eval-
    * contamination path a doc-keyed split leaves open). split_key =
    * the d6 cluster (its smallest member id) for clustered docs, the
    * doc's own id otherwise; every cluster member inherits the same
    * bucket by construction. Cost on top of t5 is the d2/d6 pair machinery the
    * dedup pipeline has already run — the join against the cluster
    * list (pairs-sized, broadcast) is the only addition. */
  val t26LeakageSafeSplit: Q = (s, dir) => {
    import s.implicits._
    val docs = docsWithDups(s, dir)
    val clusters = Dedup.dupClusters(Dedup.minhashNearDups(docs, "doc_id", "text"))
    docs.join(broadcast(clusters), Seq("doc_id"), "left")
      .withColumn("split_key", coalesce($"cluster_id", $"doc_id"))
      .withColumn("bucket",
        pmod(conv(substring(md5($"split_key".cast("string")), 1, 10), 16, 10).cast("long"),
          lit(100L)))
      .select($"doc_id", $"split_key", $"bucket",
        when($"bucket" < 80, "train").when($"bucket" < 90, "val")
          .otherwise("test").as("split"))
      .orderBy($"doc_id")
  }

  // lazy: d2PairsCtes/clusterCtes are defined further down the object;
  // a strict val would capture their pre-init nulls
  lazy val t26LeakageSafeSplitSql: String =
    s"""WITH RECURSIVE $d2PairsCtes,
       |$clusterCtes,
       |keyed AS (
       |  SELECT d.doc_id, coalesce(c.cluster_id, d.doc_id) AS split_key
       |  FROM docs d LEFT JOIN clusters c USING (doc_id)),
       |b AS (
       |  SELECT doc_id, split_key,
       |    ('0x' || substr(md5(split_key::VARCHAR), 1, 10))::BIGINT % 100 AS bucket
       |  FROM keyed)
       |SELECT doc_id, split_key, bucket,
       |  CASE WHEN bucket < 80 THEN 'train'
       |       WHEN bucket < 90 THEN 'val'
       |       ELSE 'test' END AS split
       |FROM b ORDER BY doc_id""".stripMargin

  /** T6: context-window chunking — 50-token windows with stride 40
    * (10-token overlap), the document→training-sample splitting step of
    * an LLM data pipeline. Chunk boundaries are pure token-index
    * arithmetic over the split array, so the oracle replays them
    * exactly; n_tokens comes from the slice itself, not a re-split. */
  val t6Chunking: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", split($"text", " ").as("w"))
      .select($"doc_id", $"w", explode(expr(
        "sequence(0, CASE WHEN size(w) <= 50 THEN 0 " +
          "ELSE CAST(floor((size(w) - 11) / 40) AS INT) END)")).as("chunk_no"))
      .select($"doc_id", $"chunk_no".cast("long").as("chunk_no"),
        expr("concat_ws(' ', slice(w, chunk_no * 40 + 1, 50))").as("chunk"),
        expr("size(slice(w, chunk_no * 40 + 1, 50))").cast("long").as("n_tokens"))
      .orderBy($"doc_id", $"chunk_no")
  }

  val t6ChunkingSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      |c AS (
      |  SELECT doc_id, l,
      |    unnest(range(CASE WHEN len(l) <= 50 THEN 1
      |                      ELSE (len(l) - 11) // 40 + 1 END)) AS chunk_no
      |  FROM w)
      |SELECT doc_id, chunk_no,
      |  array_to_string(l[chunk_no * 40 + 1 : chunk_no * 40 + 50], ' ') AS chunk,
      |  len(l[chunk_no * 40 + 1 : chunk_no * 40 + 50]) AS n_tokens
      |FROM c ORDER BY doc_id, chunk_no""".stripMargin

  /** T7: sequential sample packing — assign t6's chunks to fixed
    * token-budget packs (512 tokens) by running token count in a
    * deterministic global order. The streaming-friendly packing a
    * training pipeline uses when batches must be reproducible; the
    * greedy bin-packing variants trade determinism for fill rate.
    *
    * The running sum is a TWO-PHASE distributed scan, not a global
    * window: range-partition on (doc_id, chunk_no), compute a
    * partition-local running sum (window partitioned by the physical
    * partition id — fully parallel), and add per-partition prefix
    * offsets computed from one tiny row per partition. The global
    * total order makes `cum` invariant to where the range boundaries
    * fall, so the result is identical to the single-task
    * `Window.orderBy(doc_id, chunk_no)` formulation the oracle replays
    * — but no task ever sees more than one partition of chunks.
    * (`localCheckpoint` pins the sampled range boundaries so the
    * offsets branch and the cumsum branch see the same pid mapping.) */
  val t7Packing: Q = (s, dir) => {
    import s.implicits._
    val chunks = t6Chunking(s, dir).select($"doc_id", $"chunk_no", $"n_tokens")
    val nPart = s.sessionState.conf.numShufflePartitions
    val ranged = chunks
      .repartitionByRange(nPart, $"doc_id", $"chunk_no")
      .withColumn("pid", spark_partition_id())
      .localCheckpoint()
    // one row per partition → driver-side exclusive prefix → map literal
    val partials = ranged.groupBy($"pid").agg(sum($"n_tokens").as("tot"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = partials
      .scanLeft((0, 0L)) { case ((_, acc), (pid, tot)) => (pid + 1, acc + tot) }
      .init.zip(partials).map { case ((_, off), (pid, _)) => pid -> off }.toMap
    val offExpr =
      if (offsets.isEmpty) lit(0L) else element_at(typedLit(offsets), $"pid")
    ranged
      .withColumn("cum",
        sum($"n_tokens").over(
          Window.partitionBy($"pid").orderBy($"doc_id", $"chunk_no")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
          + offExpr)
      .select($"doc_id", $"chunk_no",
        expr("(cum - 1) div 512").as("pack_id"))
      .orderBy($"doc_id", $"chunk_no")
  }

  val t7PackingSql: String =
    s"""WITH chunks AS ($t6ChunkingSql),
       |packed AS (
       |  SELECT doc_id, chunk_no,
       |    sum(n_tokens) OVER (ORDER BY doc_id, chunk_no
       |                        ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM chunks)
       |SELECT doc_id, chunk_no, CAST((cum - 1) // 512 AS BIGINT) AS pack_id
       |FROM packed ORDER BY doc_id, chunk_no""".stripMargin

  /** T8: deterministic stratified rebalancing — downsample every
    * language class to the minority-class size, in expectation, with
    * the same md5-bucket trick as t5 (engine/run/cluster-stable; a
    * rand() sample would be none of those). Keep rule is pure integer
    * arithmetic: bucket(doc) · n_class < n_min · 1000. The class-size
    * scan is one extra aggregate, not a per-row shuffle. */
  val t8StratifiedSample: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val counts = docs.groupBy($"lang").agg(count(lit(1)).as("n"))
    val minN = counts.agg(min($"n").as("n_min"))
    docs
      .join(broadcast(counts), "lang")
      .crossJoin(broadcast(minN))
      .withColumn("bucket",
        pmod(conv(substring(md5($"doc_id".cast("string")), 1, 10), 16, 10).cast("long"),
          lit(1000L)))
      .filter($"bucket" * $"n" < $"n_min" * 1000L)
      .select($"doc_id", $"lang")
      .orderBy($"doc_id")
  }

  val t8StratifiedSampleSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |m AS (SELECT min(n) AS n_min FROM c)
      |SELECT d.doc_id, d.lang
      |FROM documents d JOIN c ON d.lang = c.lang CROSS JOIN m
      |WHERE (('0x' || substr(md5(d.doc_id::VARCHAR), 1, 10))::BIGINT % 1000) * c.n
      |      < m.n_min * 1000
      |ORDER BY d.doc_id""".stripMargin

  /** T18: deterministic epoch shuffle — the training-loader primitive
    * "give every document a reproducible pseudo-random position for
    * epoch K, and its round-robin shard". Order key is
    * md5(seed:doc_id): changing the seed permutes the corpus, the same
    * seed reproduces the identical permutation on any cluster, any
    * partitioning, any engine — none of which is true of rand() or of
    * zipWithIndex over an unpinned ordering. Positions come from
    * [[graft.operators.Ranking.globalRowNumber]] (range partition →
    * ≤ numPartitions per-range counts → offset + position in range),
    * NOT a global `row_number() OVER (ORDER BY …)` — the oracle keeps
    * that form, but on Spark it is the move-the-corpus-to-one-task plan
    * that dies first at 100 TB. doc_id tie-break keeps the order total
    * (md5 collisions aside, it is already injective). */
  val t18EpochShuffle: Q = (s, dir) => {
    import s.implicits._
    val seed = "epoch7"
    val docs = Tables.load(s, dir, "documents")
      .select($"doc_id",
        md5(concat(lit(seed), lit(":"), $"doc_id".cast("string"))).as("skey"))
    Ranking.globalRowNumber(docs, Seq(col("skey"), col("doc_id")), "pos")
      .select($"doc_id", $"pos", pmod($"pos" - 1L, lit(8L)).as("shard"))
      .orderBy($"pos")
  }

  val t18EpochShuffleSql: String =
    """SELECT doc_id,
      |  row_number() OVER (ORDER BY md5('epoch7:' || doc_id::VARCHAR), doc_id)
      |    AS pos,
      |  (row_number() OVER (ORDER BY md5('epoch7:' || doc_id::VARCHAR), doc_id)
      |    - 1) % 8 AS shard
      |FROM documents ORDER BY pos""".stripMargin

  /** T9: TF-IDF top terms per document — the classic relevance scoring
    * a retrieval/curation pipeline needs. tf and df are exact integer
    * counts; idf/score use the identical float formula on both sides
    * and are rounded (memory-rule: rank on the ROUNDED score with a
    * word tie-break, so ordering can't diverge on ulps). The df table
    * is one corpus-wide aggregate keyed by word — linear, no pair
    * space; N arrives via a broadcast one-row cross join, not a
    * global window. */
  val t9Tfidf: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val words = docs
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
    val tf = words.groupBy($"doc_id", $"word").agg(count(lit(1)).as("tf"))
    val df = words.select($"doc_id", $"word").distinct()
      .groupBy($"word").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round($"tf" * round(log(($"n_docs" + 1.0) / ($"df" + 1.0)), 6), 4))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score".desc, $"word")))
      .filter($"rn" <= 5)
      .select($"doc_id", $"word", $"score")
      .orderBy($"doc_id", $"word")
  }

  val t9TfidfSql: String =
    """WITH w AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |wf AS (SELECT doc_id, word FROM w WHERE word <> ''),
      |tf AS (SELECT doc_id, word, count(*) AS tf FROM wf GROUP BY 1, 2),
      |df AS (SELECT word, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, word FROM wf) GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.word,
      |    round(tf.tf * round(ln((n.n_docs + 1.0) / (df.df + 1.0)), 6), 4) AS score
      |  FROM tf JOIN df ON tf.word = df.word CROSS JOIN n),
      |ranked AS (
      |  SELECT doc_id, word, score,
      |    row_number() OVER (PARTITION BY doc_id
      |                       ORDER BY score DESC, word) AS rn
      |  FROM scored)
      |SELECT doc_id, word, score FROM ranked WHERE rn <= 5
      |ORDER BY doc_id, word""".stripMargin

  /** T33: BM25 query scoring (Corpus.bm25) — the Okapi ranking
    * function over a fixed 5-term query drawn from the synthetic
    * vocabulary, returning the top-20 documents. Exact integer tf/df/
    * dl; idf and per-term contributions rounded to 6 then summed on
    * DECIMAL (the t9 float discipline); the cut ranks on the ROUNDED
    * score with a doc_id tie-break so the limit is a total order the
    * oracle replays cell-exact. */
  val t33Bm25: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Corpus.bm25(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      terms = Seq("spark", "window", "hash", "merge", "stream"))
  }

  val t33Bm25Sql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM documents),
      |b2 AS (SELECT doc_id, len(w) AS dl, w FROM base),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM b2),
      |tf AS (
      |  SELECT doc_id, dl, term, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM b2)
      |  WHERE term IN ('spark', 'window', 'hash', 'merge', 'stream')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |c AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)), 6)
      |        * tf.tf
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
      |                          / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))),
      |      6) AS DECIMAL(18,6)) AS contrib
      |  FROM tf JOIN df USING (term) CROSS JOIN stats s),
      |agg AS (
      |  SELECT doc_id, count(*) AS n_terms,
      |    CAST(round(sum(contrib), 4) AS DOUBLE) AS bm25
      |  FROM c GROUP BY doc_id)
      |SELECT doc_id, n_terms, bm25 FROM agg
      |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin

  /** N18: hybrid retrieval — t33's BM25 lexical scorer (top-50 for the
    * fixed 5-term query) fused with n1's dense-cosine scorer (top-50
    * around the vec_id=0 probe; documents and embeddings share the id
    * space) by reciprocal-rank fusion, k=60
    * ([[graft.operators.Similarity.rrfFuse]]). Both candidate lists
    * are already rank-cut on (rounded score desc, id) — total orders —
    * so the integer ranks, the round-6 1/(60+rank) contributions, and
    * the DECIMAL sum all replay engine-exact. The oracle rebuilds both
    * rankers (the t33 and n1 SQL chains) and the same fusion. */
  val n18RrfFusion: Q = (s, dir) => {
    import s.implicits._
    val lex = graft.operators.Corpus.bm25(
      Tables.load(s, dir, "documents"), "doc_id", "text",
      terms = Seq("spark", "window", "hash", "merge", "stream"), topK = 50)
      .select($"doc_id", $"bm25".as("score"))
    val emb = Tables.load(s, dir, "embeddings")
    val den = Similarity.cosineTopK(emb, emb.filter($"vec_id" === 0), k = 50)
      .select($"vec_id".as("doc_id"), $"cos".as("score"))
    Similarity.rrfFuse(Seq("lex" -> lex, "dense" -> den), "doc_id", "score")
  }

  val n18RrfFusionSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM documents),
      |b2 AS (SELECT doc_id, len(w) AS dl, w FROM base),
      |stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM b2),
      |tf AS (
      |  SELECT doc_id, dl, term, count(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(w) AS term FROM b2)
      |  WHERE term IN ('spark', 'window', 'hash', 'merge', 'stream')
      |  GROUP BY 1, 2, 3),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |c AS (
      |  SELECT tf.doc_id,
      |    CAST(round(
      |      round(ln(1.0 + (s.n_docs - df.df + 0.5) / (df.df + 0.5)), 6)
      |        * tf.tf
      |        / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl
      |                          / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))),
      |      6) AS DECIMAL(18,6)) AS contrib
      |  FROM tf JOIN df USING (term) CROSS JOIN stats s),
      |lexs AS (
      |  SELECT doc_id, CAST(round(sum(contrib), 4) AS DOUBLE) AS score
      |  FROM c GROUP BY doc_id),
      |lex AS (
      |  SELECT 'lex' AS src, doc_id, score FROM lexs
      |  QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 50),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
      |dens AS (
      |  SELECT e.vec_id AS doc_id,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0
      |      AS score
      |  FROM q, e WHERE e.vec_id <> 0),
      |den AS (
      |  SELECT 'dense' AS src, doc_id, score FROM dens
      |  QUALIFY row_number() OVER (ORDER BY score DESC, doc_id) <= 50),
      |u AS (SELECT * FROM lex UNION ALL SELECT * FROM den),
      |rk AS (
      |  SELECT doc_id,
      |    row_number() OVER (PARTITION BY src ORDER BY score DESC, doc_id) AS rank
      |  FROM u),
      |fused AS (
      |  SELECT doc_id, count(*) AS n_lists,
      |    CAST(round(sum(CAST(round(1.0 / (60 + rank), 6) AS DECIMAL(18,6))), 6)
      |      AS DOUBLE) AS rrf
      |  FROM rk GROUP BY doc_id)
      |SELECT doc_id, n_lists, rrf FROM fused
      |ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin

  /** T3: token counting — whitespace and BPE-ish pre-tokenizer counts. */
  val t3Tokens: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id",
        TextFunctions.wsTokens($"text").as("ws_tokens"),
        TextFunctions.bpeishTokens($"text").as("bpeish_tokens"))
      .orderBy($"doc_id")
  }

  val t3TokensSql: String =
    """SELECT doc_id,
      |  len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')) AS ws_tokens,
      |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 \t\n\x0b\f\r]')) AS bpeish_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** T4: canonical fingerprint (md5 of normalized text). */
  val t4Fingerprint: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", TextFunctions.fingerprint($"text").as("fp"))
      .orderBy($"doc_id")
  }

  val t4FingerprintSql: String =
    """SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- dedup -------------------------------------------------------

  /** Documents plus deterministic injected near-dups (same construction
    * in the oracle), so near-dup detection has true positives to find.
    * (A repartition here — to spread the explode/hash work of a
    * single-split parquet input — was measured 2-3x SLOWER at sf0.1:
    * every downstream branch re-reads the shuffled text payloads,
    * where re-scanning the columnar parquet was nearly free. At real
    * scale the input has thousands of splits and parallelism is not
    * scan-bound anyway.) */
  private def docsWithDups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    d.select($"doc_id", $"text", $"source")
      .unionByName(
        d.filter($"doc_id" % 97 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"),
            concat($"text", lit(" near dup tail")).as("text"), $"source"))
  }

  private val docsWithDupsSql =
    """SELECT doc_id, text, source FROM documents
      |UNION ALL
      |SELECT doc_id + 1000000, text || ' near dup tail', source
      |FROM documents WHERE doc_id % 97 = 0""".stripMargin

  /** T34: content-defined chunking + chunk-level dedup
    * ([[graft.operators.Corpus.cdcChunks]]) — chunk every document at
    * rolling-hash boundaries, then report every chunk fingerprint that
    * occurs more than once across the corpus. Run over the planted
    * near-dup corpus: each planted copy differs from its original only
    * by an appended tail, so CDC boundaries resynchronize and all its
    * interior chunks collide with the original's — the signal a
    * fixed-offset segmenter loses when lengths shift. The oracle
    * replays tokenization (1-based `l[i]`), both lags, the md5-nibble
    * boundary rule, the exclusive running chunk id, and the ordered
    * chunk fingerprint. */
  val t34CdcChunks: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Corpus.cdcChunks(docsWithDups(s, dir), "doc_id", "text")
      .groupBy($"chunk_fp")
      .agg(max($"n_words").as("n_words"),
        count(lit(1)).as("n_copies"),
        countDistinct($"doc_id").as("n_docs"))
      .filter($"n_copies" > 1)
      .orderBy($"chunk_fp")
  }

  val t34CdcChunksSql: String =
    s"""WITH docs AS ($docsWithDupsSql),
       |f AS (
       |  SELECT doc_id,
       |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS l
       |  FROM docs),
       |wd AS (
       |  SELECT doc_id, i, l[i] AS word
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM f)),
       |tri AS (
       |  SELECT doc_id, i, word,
       |    lag(word, 2) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
       |    lag(word, 1) OVER (PARTITION BY doc_id ORDER BY i) AS w2
       |  FROM wd),
       |b AS (
       |  SELECT doc_id, i, word,
       |    CASE WHEN w1 IS NOT NULL
       |           AND substr(md5(w1 || ' ' || w2 || ' ' || word), 1, 1) IN ('0', '8')
       |         THEN 1 ELSE 0 END AS bflag
       |  FROM tri),
       |c AS (
       |  SELECT doc_id, i, word,
       |    coalesce(sum(bflag) OVER (PARTITION BY doc_id ORDER BY i
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
       |  FROM b),
       |ch AS (
       |  SELECT doc_id, chunk_id, count(*) AS n_words,
       |    md5(string_agg(word, ' ' ORDER BY i)) AS chunk_fp
       |  FROM c GROUP BY doc_id, chunk_id)
       |SELECT chunk_fp, max(n_words) AS n_words, count(*) AS n_copies,
       |  count(DISTINCT doc_id) AS n_docs
       |FROM ch GROUP BY chunk_fp HAVING count(*) > 1
       |ORDER BY chunk_fp""".stripMargin

  /** D1: exact-duplicate groups by canonical fingerprint. Exact dups are
    * injected (identical canonical text under punctuation noise). */
  val d1ExactDedup: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    val noisy = d.select($"doc_id", $"text")
      .unionByName(d.filter($"doc_id" % 61 === 0)
        .select(($"doc_id" + 1000000).as("doc_id"),
          concat(lit("  "), upper($"text"), lit("!!")).as("text")))
    Dedup.exactDupGroups(noisy, "doc_id", "text")
      .filter($"n_dups" > 1)
      .orderBy($"canonical_id")
  }

  val d1ExactDedupSql: String =
    """WITH noisy AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, '  ' || upper(text) || '!!'
      |  FROM documents WHERE doc_id % 61 = 0),
      |fps AS (
      |  SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp
      |  FROM noisy)
      |SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_dups
      |FROM fps GROUP BY fp HAVING count(*) > 1
      |ORDER BY canonical_id""".stripMargin

  /** D2: MinHash+LSH near-dup pairs (12 hashes, 4 bands × 3 rows,
    * 3-word shingles), LSH candidates verified by Jaccard ≥ 0.5 over
    * the hashed-shingle sets (same formula in the oracle). */
  val d2Minhash: Q = (s, dir) => {
    import s.implicits._
    Dedup.minhashNearDups(docsWithDups(s, dir), "doc_id", "text")
      .orderBy($"d1", $"d2")
  }

  /** Shared CTE chain producing verified near-dup pairs `res(d1, d2,
    * jaccard)` over an arbitrary `docs(doc_id, text)` source SQL — the
    * body of d2's oracle, reused by d6's clustering oracle and c4's
    * funnel (which feeds its stage-2 survivors in). Mirrors
    * [[graft.operators.Dedup.minhashNearDups]] constant-for-constant. */
  private[queries] def nearDupPairsCtes(docsSql: String): String = {
    val mhCols = (0 until Dedup.NumHashes)
      .map(s => s"min((h * ${Dedup.hashA(s)} + ${Dedup.hashB(s)}) % ${Dedup.HashP}) AS mh$s")
      .mkString(", ")
    val bands = (0 until Dedup.Bands)
      .map { b =>
        val cols = (0 until Dedup.RowsPerBand)
          .map(r => s"mh${b * Dedup.RowsPerBand + r}").mkString(", ")
        s"('0x' || substr(md5(concat_ws(',', $cols)), 1, 15))::BIGINT AS band$b"
      }.mkString(", ")
    val bandEq = (0 until Dedup.Bands).map(b => s"a.band$b = b.band$b").mkString(" OR ")
    s"""docs AS ($docsSql),
       |w AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
       |wh AS (
       |  SELECT doc_id,
       |    list_transform(l, x -> ('0x' || substr(md5(x), 1, 10))::BIGINT) AS hw
       |  FROM w WHERE len(l) >= 3),
       |base AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(hw) - 1),
       |      i -> (hw[i] * ${Dedup.ShingleK1} + hw[i+1] * ${Dedup.ShingleK2} + hw[i+2]) % ${Dedup.HashP}))
       |      AS h
       |  FROM wh),
       |hset AS (SELECT DISTINCT doc_id, h FROM base),
       |sig AS (SELECT doc_id, $mhCols FROM base GROUP BY doc_id),
       |buckets AS (SELECT doc_id, $bands FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM buckets a JOIN buckets b ON a.doc_id < b.doc_id AND ($bandEq)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM hset GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
       |  FROM hset x JOIN hset y ON x.h = y.h AND x.doc_id < y.doc_id
       |  JOIN cand c ON c.d1 = x.doc_id AND c.d2 = y.doc_id
       |  GROUP BY 1, 2),
       |res AS (
       |  SELECT d1, d2,
       |    round(i::DOUBLE / (n1.n + n2.n - i)::DOUBLE, 4) AS jaccard
       |  FROM inter
       |  JOIN sizes n1 ON n1.doc_id = d1
       |  JOIN sizes n2 ON n2.doc_id = d2
       |  WHERE round(i::DOUBLE / (n1.n + n2.n - i)::DOUBLE, 4) >= 0.5)""".stripMargin
  }

  private val d2PairsCtes: String = nearDupPairsCtes(docsWithDupsSql)

  val d2MinhashSql: String =
    s"""WITH $d2PairsCtes
       |SELECT d1, d2, jaccard FROM res ORDER BY d1, d2""".stripMargin

  /** D6: duplicate CLUSTERS from the d2 near-dup pairs — connected
    * components labelled by smallest member id (the canonical-survivor
    * assignment; a~b, b~c collapse to one cluster), by star
    * contraction ([[graft.operators.Graph.connectedComponents]] via
    * Dedup.dupClusters). The oracle replays the same closure with a
    * recursive CTE: min reachable id == the component's minimum. */
  val d6DupClusters: Q = (s, dir) => {
    import s.implicits._
    Dedup.dupClusters(Dedup.minhashNearDups(docsWithDups(s, dir), "doc_id", "text"))
      .orderBy($"doc_id")
  }

  /** Transitive-closure CTE chain over the d2 pair list `res`:
    * `clusters(doc_id, cluster_id)` = min reachable id, the component
    * minimum the Spark star contraction labels each node with. Shared by
    * d6 (cluster listing), d9 (survivor pick) and d10 (applied dedup).
    * Prepend `WITH RECURSIVE $d2PairsCtes,`. */
  private[queries] val clusterCtes: String =
    """nodes AS (SELECT d1 AS id FROM res UNION SELECT d2 FROM res),
      |e2 AS (SELECT d1 AS src, d2 AS dst FROM res
      |       UNION ALL SELECT d2, d1 FROM res),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e2.src, reach.r FROM e2 JOIN reach ON reach.id = e2.dst),
      |clusters AS (SELECT id AS doc_id, min(r) AS cluster_id
      |             FROM reach GROUP BY id)""".stripMargin

  val d6DupClustersSql: String =
    s"""WITH RECURSIVE $d2PairsCtes,
       |$clusterCtes
       |SELECT doc_id, cluster_id FROM clusters ORDER BY doc_id""".stripMargin

  /** D16: connected components by ALTERNATING STAR CONTRACTION
    * ([[graft.operators.Graph.connectedComponents]], Kiveris et al.
    * SoCC'14) — the operator d6's near-dup clusters also run on,
    * exercised on the adversarial-diameter topology: LONG CHAINS. The
    * graph is derived deterministically from document ids: three interleaved 80-link chains (doc_id < 237 → edge
    * (doc_id, doc_id+3), one chain per residue mod 3 — diameter ~79,
    * where min-label propagation would pay ~79 shuffle rounds and
    * contraction pays ~log), plus size-2 components ((doc_id,
    * doc_id+1) for doc_id % 17 == 0 above the chains). The oracle computes the same
    * fixpoint as a recursive-CTE transitive closure with a final
    * min-group (the d6 oracle discipline). */
  val d16CcStars: Q = (s, dir) => {
    import s.implicits._
    val ids = Tables.load(s, dir, "documents").select($"doc_id")
    val chains = ids.filter($"doc_id" < 237)
      .select($"doc_id".as("src"), ($"doc_id" + 3).as("dst"))
    val pairs = ids.filter($"doc_id" % 17 === 0 && $"doc_id" >= 240)
      .select($"doc_id".as("src"), ($"doc_id" + 1).as("dst"))
    graft.operators.Graph.connectedComponents(chains.unionByName(pairs))
      .select($"node".as("doc_id"), $"component".as("cluster_id"))
      .orderBy($"doc_id")
  }

  val d16CcStarsSql: String =
    """WITH RECURSIVE e0 AS (
      |  SELECT doc_id AS d1, doc_id + 3 AS d2 FROM documents WHERE doc_id < 237
      |  UNION ALL
      |  SELECT doc_id, doc_id + 1 FROM documents
      |  WHERE doc_id % 17 = 0 AND doc_id >= 240),
      |nodes AS (SELECT d1 AS id FROM e0 UNION SELECT d2 FROM e0),
      |e2 AS (SELECT d1 AS src, d2 AS dst FROM e0
      |       UNION ALL SELECT d2, d1 FROM e0),
      |reach(id, r) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e2.src, reach.r FROM e2 JOIN reach ON reach.id = e2.dst)
      |SELECT id AS doc_id, min(r) AS cluster_id
      |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  /** D9: canonical-survivor selection — per dup cluster keep the
    * highest-quality member (chars, ties → smallest id). The Spark
    * side is one `max(struct(quality, -id))` aggregation over the
    * broadcast cluster list (Dedup.survivorship): no window, no
    * corpus shuffle. The oracle replays the pick with a row_number
    * window over the same closure. */
  val d9Survivorship: Q = (s, dir) => {
    import s.implicits._
    val docs = docsWithDups(s, dir)
    val clusters = Dedup.dupClusters(Dedup.minhashNearDups(docs, "doc_id", "text"))
    Dedup.survivorship(docs, clusters, "doc_id", length($"text").cast("long"))
      .orderBy($"cluster_id")
  }

  val d9SurvivorshipSql: String =
    s"""WITH RECURSIVE $d2PairsCtes,
       |$clusterCtes,
       |m AS (SELECT c.cluster_id, c.doc_id, length(d.text) AS q
       |      FROM clusters c JOIN docs d USING (doc_id)),
       |sel AS (SELECT cluster_id, doc_id, q,
       |          row_number() OVER (PARTITION BY cluster_id
       |                             ORDER BY q DESC, doc_id) AS rn,
       |          count(*) OVER (PARTITION BY cluster_id) AS n_members
       |        FROM m)
       |SELECT cluster_id, doc_id AS survivor_id, n_members,
       |       q AS survivor_quality
       |FROM sel WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** D10: the dedup APPLIED — corpus minus every non-survivor cluster
    * member (Dedup.applySurvivorship: broadcast anti-join, one corpus
    * scan), summarized per source. This is the operator a training
    * pipeline actually runs: pairs → clusters → survivor keep-list →
    * filtered corpus. */
  val d10DedupApply: Q = (s, dir) => {
    import s.implicits._
    val docs = docsWithDups(s, dir)
    val clusters = Dedup.dupClusters(Dedup.minhashNearDups(docs, "doc_id", "text"))
    Dedup.applySurvivorship(docs, clusters, "doc_id", length($"text").cast("long"))
      .groupBy($"source").agg(count(lit(1)).as("n_docs"))
      .orderBy($"source")
  }

  val d10DedupApplySql: String =
    s"""WITH RECURSIVE $d2PairsCtes,
       |$clusterCtes,
       |m AS (SELECT c.cluster_id, c.doc_id, length(d.text) AS q
       |      FROM clusters c JOIN docs d USING (doc_id)),
       |sel AS (SELECT cluster_id, doc_id,
       |          row_number() OVER (PARTITION BY cluster_id
       |                             ORDER BY q DESC, doc_id) AS rn
       |        FROM m),
       |losers AS (SELECT doc_id FROM sel WHERE rn > 1)
       |SELECT d.source, count(*) AS n_docs
       |FROM docs d LEFT JOIN losers l USING (doc_id)
       |WHERE l.doc_id IS NULL
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** D7: incremental near-dup detection — the injected dups play the
    * daily increment against the original corpus; candidates come only
    * from new-side bucket collisions. Oracle: the full-run pair set
    * restricted to pairs touching a new id (d2 >= 1000000 since d1<d2
    * and all new ids are >= 1000000). */
  val d7Incremental: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    val corpus = d.select($"doc_id", $"text", $"source")
    val fresh = d.filter($"doc_id" % 97 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"),
        concat($"text", lit(" near dup tail")).as("text"), $"source")
    Dedup.minhashNearDupsIncremental(corpus, fresh, "doc_id", "text")
      .orderBy($"d1", $"d2")
  }

  val d7IncrementalSql: String =
    s"""WITH $d2PairsCtes
       |SELECT d1, d2, jaccard FROM res WHERE d2 >= 1000000
       |ORDER BY d1, d2""".stripMargin

  /** D12: sorted-neighborhood dedup candidates — the record-linkage
    * blocking strategy orthogonal to the hashing families (d2 LSH, d3
    * SimHash banding, d4 n-gram, d5/d11 embedding blocks): canon-key
    * prefix blocks = contiguous sort ranges, rows compare only to
    * their w=3 successors in block-local sort order, 30-char-head
    * edit distance ≤ 5 filters candidates. The injected near-dups
    * differ only at the tail, so they sort adjacent and must be
    * caught. All-integer ranks and distances; no corpus-spanning
    * window. */
  val d12SortedNeighborhood: Q = (s, dir) => {
    import s.implicits._
    Dedup.sortedNeighborhoodCandidates(docsWithDups(s, dir), "doc_id", "text")
      .orderBy($"d1", $"d2")
  }

  val d12SortedNeighborhoodSql: String =
    s"""WITH docs AS ($docsWithDupsSql),
       |k AS (SELECT doc_id,
       |        regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS ck
       |      FROM docs),
       |st AS (SELECT doc_id, ck, substr(ck, 1, 2) AS blk,
       |        row_number() OVER (PARTITION BY substr(ck, 1, 2)
       |                           ORDER BY ck, doc_id) AS rn
       |      FROM k),
       |pairs AS (
       |  SELECT least(a.doc_id, b.doc_id) AS d1,
       |         greatest(a.doc_id, b.doc_id) AS d2,
       |         levenshtein(substr(a.ck, 1, 30), substr(b.ck, 1, 30)) AS lev
       |  FROM st a JOIN st b
       |    ON a.blk = b.blk AND b.rn > a.rn AND b.rn <= a.rn + 3)
       |SELECT d1, d2, lev FROM pairs WHERE lev <= 5
       |ORDER BY d1, d2""".stripMargin

  /** D3: SimHash signatures (60-bit, term-frequency weighted). */
  val d3Simhash: Q = (s, dir) => {
    import s.implicits._
    Dedup.simhash(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  /** SimHash-signature CTE chain over an arbitrary (doc_id, text)
    * source — `sims(doc_id, simhash)`; shared by d3 and d8. */
  private def simsCtes(docsSql: String): String =
    s"""terms AS (
       |  SELECT doc_id, word, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
       |        FROM ($docsSql))
       |  WHERE word <> ''
       |  GROUP BY doc_id, word),
       |hashed AS (
       |  SELECT doc_id, ('0x' || substr(md5(word), 1, 15))::BIGINT AS h, cnt
       |  FROM terms),
       |bits AS (
       |  SELECT doc_id, bit,
       |    sum(CASE WHEN (h >> bit) & 1 = 1 THEN cnt ELSE -cnt END) AS w
       |  FROM (SELECT doc_id, h, cnt, unnest(range(60)) AS bit FROM hashed)
       |  GROUP BY doc_id, bit),
       |sims AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN w > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM bits GROUP BY doc_id)""".stripMargin

  val d3SimhashSql: String =
    s"""WITH ${simsCtes("SELECT doc_id, text FROM documents")}
       |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin

  /** D8: SimHash near-dup retrieval — banded hamming search (4 bands ×
    * 15 bits, lossless for hamming ≤ 3), the retrieval step that
    * completes d3's signatures. */
  val d8SimhashNearDups: Q = (s, dir) => {
    import s.implicits._
    Dedup.simhashNearDups(docsWithDups(s, dir), "doc_id", "text")
      .orderBy($"d1", $"d2")
  }

  val d8SimhashNearDupsSql: String =
    s"""WITH ${simsCtes(docsWithDupsSql)},
       |banded AS (
       |  SELECT doc_id, simhash, b, (simhash >> (b * 15)) & 32767 AS bv
       |  FROM sims, (SELECT unnest(range(4)) AS b)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS d1, r.doc_id AS d2,
       |    l.simhash AS s1, r.simhash AS s2
       |  FROM banded l JOIN banded r
       |    ON l.b = r.b AND l.bv = r.bv AND l.doc_id < r.doc_id)
       |SELECT d1, d2, CAST(bit_count(xor(s1, s2)) AS INT) AS hamming
       |FROM cand WHERE bit_count(xor(s1, s2)) <= 3
       |ORDER BY d1, d2""".stripMargin

  /** D4: character-4-gram Jaccard near-dups, blocked by source. */
  val d4NgramJaccard: Q = (s, dir) => {
    import s.implicits._
    Dedup.ngramJaccard(docsWithDups(s, dir), "doc_id", "text", "source")
      .orderBy($"d1", $"d2")
  }

  val d4NgramJaccardSql: String =
    s"""WITH docs AS ($docsWithDupsSql),
       |grams AS (
       |  SELECT DISTINCT doc_id, source AS blk, substr(t, i, 4) AS gram
       |  FROM (SELECT doc_id, source, text AS t, unnest(range(1, length(text) - 2)) AS i
       |        FROM docs WHERE length(text) >= 4)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM grams GROUP BY doc_id),
       |inter AS (
       |  SELECT x.doc_id AS d1, y.doc_id AS d2, count(*) AS i
       |  FROM grams x JOIN grams y
       |    ON x.blk = y.blk AND x.gram = y.gram AND x.doc_id < y.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, round(i::DOUBLE / (n1.n + n2.n - i)::DOUBLE, 4) AS jaccard
       |FROM inter JOIN sizes n1 ON n1.doc_id = d1 JOIN sizes n2 ON n2.doc_id = d2
       |WHERE round(i::DOUBLE / (n1.n + n2.n - i)::DOUBLE, 4) >= 0.7
       |ORDER BY d1, d2""".stripMargin

  /** T20: repeated-substring spans ([[graft.operators.Corpus.repeatedSpans]])
    * over the planted-dup corpus — sub-document dedup: maximal runs of
    * 10-word windows occurring ≥ 2× corpus-wide, merged per doc by a
    * doc-partitioned gaps-and-islands pass. Integer positions + md5
    * fingerprints → the oracle replays every step exactly. */
  val t20RepeatedSpans: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Corpus.repeatedSpans(docsWithDups(s, dir), "doc_id", "text", k = 10)
      .orderBy($"doc_id", $"span_start")
  }

  val t20RepeatedSpansSql: String =
    s"""WITH docs AS ($docsWithDupsSql),
       |w AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
       |wp AS (
       |  SELECT doc_id, i AS pos, md5(array_to_string(l[i : i + 9], ' ')) AS h
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 8)) AS i
       |        FROM w WHERE len(l) >= 10)),
       |rep AS (SELECT h FROM wp GROUP BY h HAVING count(*) >= 2),
       |hits AS (SELECT doc_id, pos FROM wp JOIN rep USING (h)),
       |fl AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
       |           OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 10
       |         THEN 1 ELSE 0 END AS brk
       |  FROM hits),
       |isl AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |  FROM fl)
       |SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
       |  count(*) AS n_windows
       |FROM isl GROUP BY doc_id, island
       |ORDER BY doc_id, span_start""".stripMargin

  /** D13: exact Jaccard set-similarity self-join with prefix filtering
    * (AllPairs/PPJoin, [[graft.operators.SetSimJoin]]) over the 3-word
    * shingle sets at τ = 2/3 — the EXACT counterpart to d2's
    * probabilistic MinHash over the same corpus: candidates come only
    * from shared rarest-first prefix shingles, verification is one
    * intersection join over candidates, and the threshold test is
    * int64 arithmetic the oracle replays verbatim. d2's LSH can miss a
    * true pair (s-curve); this join cannot — on this corpus it is the
    * recall oracle for d2. */
  val d13PrefixSimjoin: Q = (s, dir) => {
    val tok = Dedup.shingles(docsWithDups(s, dir), "doc_id", "text", k = 3)
      .withColumnRenamed("shingle", "tok")
    graft.operators.SetSimJoin.jaccardJoin(tok, tauNum = 2, tauDen = 3)
  }

  val d13PrefixSimjoinSql: String =
    s"""WITH docs AS ($docsWithDupsSql),
       |w AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
       |tok AS (
       |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tok
       |  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
       |        FROM w WHERE len(l) >= 3)),
       |ln AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
       |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
       |pre AS (
       |  SELECT doc_id, tok, len, rn
       |  FROM (
       |    SELECT t.doc_id, t.tok, l.len,
       |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS rn
       |    FROM tok t JOIN df d ON t.tok = d.tok JOIN ln l ON t.doc_id = l.doc_id)
       |  WHERE rn <= len - ((2 * len + 2) // 3) + 1),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.len AS l1, b.len AS l2
       |  FROM pre a JOIN pre b ON a.tok = b.tok
       |  WHERE a.doc_id < b.doc_id
       |    AND 3 * least(a.len, b.len) >= 2 * greatest(a.len, b.len)
       |    AND 5 * (1 + least(a.len - a.rn, b.len - b.rn)) >= 2 * (a.len + b.len)),
       |inter AS (
       |  SELECT c.d1, c.d2, c.l1, c.l2, count(*) AS inter
       |  FROM cand c
       |  JOIN tok t1 ON t1.doc_id = c.d1
       |  JOIN tok t2 ON t2.doc_id = c.d2 AND t2.tok = t1.tok
       |  GROUP BY c.d1, c.d2, c.l1, c.l2)
       |SELECT d1, d2, inter, l1 + l2 - inter AS uni,
       |  round(inter::DOUBLE / (l1 + l2 - inter), 6) AS jaccard
       |FROM inter
       |WHERE 3 * inter >= 2 * (l1 + l2 - inter)
       |ORDER BY d1, d2""".stripMargin

  /** D15: directional set-containment self-join — the quote/excerpt
    * detector ([[graft.operators.SetSimJoin.containmentJoin]]). The
    * corpus plants a 20-word EXCERPT of every doc_id % 53 == 0
    * document (+1000000 id): its 3-shingle set is a strict subset of
    * the source's, so containment(excerpt→source) = 1.0 while Jaccard
    * ≈ 20/len sits far below d13's τ — the pair class the symmetric
    * join structurally cannot emit. τ = 9/10; candidates come from
    * the contained side's rarest-first prefix probing the full token
    * index, verification is one exact intersection count — all int64
    * until the final reported quotient. */
  val d15ContainmentJoin: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    val corpus = d.select($"doc_id", $"text")
      .unionByName(
        d.filter($"doc_id" % 53 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"),
            array_join(slice(split($"text", " "), 1, 20), " ").as("text")))
    val tok = Dedup.shingles(corpus, "doc_id", "text", k = 3)
      .withColumnRenamed("shingle", "tok")
    graft.operators.SetSimJoin.containmentJoin(tok, tauNum = 9, tauDen = 10)
  }

  val d15ContainmentJoinSql: String =
    """WITH docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000,
      |    array_to_string(string_split(text, ' ')[1:20], ' ')
      |  FROM documents WHERE doc_id % 53 = 0),
      |w AS (SELECT doc_id, string_split(text, ' ') AS l FROM docs),
      |tok AS (
      |  SELECT DISTINCT doc_id, l[i] || ' ' || l[i+1] || ' ' || l[i+2] AS tok
      |  FROM (SELECT doc_id, l, unnest(range(1, len(l) - 1)) AS i
      |        FROM w WHERE len(l) >= 3)),
      |ln AS (SELECT doc_id, count(*) AS len FROM tok GROUP BY doc_id),
      |df AS (SELECT tok, count(*) AS df FROM tok GROUP BY tok),
      |pre AS (
      |  SELECT doc_id, tok, len, rn
      |  FROM (
      |    SELECT t.doc_id, t.tok, l.len,
      |      row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df ASC, t.tok ASC) AS rn
      |    FROM tok t JOIN df d ON t.tok = d.tok JOIN ln l ON t.doc_id = l.doc_id)
      |  WHERE rn <= len - ((9 * len + 9) // 10) + 1),
      |cand AS (
      |  SELECT DISTINCT p.doc_id AS a, t.doc_id AS b, p.len AS la, lb.len AS lb
      |  FROM pre p
      |  JOIN tok t ON p.tok = t.tok
      |  JOIN ln lb ON t.doc_id = lb.doc_id
      |  WHERE p.doc_id <> t.doc_id
      |    AND 9 * p.len <= 10 * lb.len
      |    AND 10 * (1 + p.len - p.rn) >= 9 * p.len),
      |inter AS (
      |  SELECT c.a, c.b, c.la, c.lb, count(*) AS inter
      |  FROM cand c
      |  JOIN tok t1 ON t1.doc_id = c.a
      |  JOIN tok t2 ON t2.doc_id = c.b AND t2.tok = t1.tok
      |  GROUP BY c.a, c.b, c.la, c.lb)
      |SELECT a, b, inter, la, lb,
      |  round(inter::DOUBLE / la, 6) AS containment
      |FROM inter
      |WHERE 10 * inter >= 9 * la
      |ORDER BY a, b""".stripMargin

  // ---- similarity search -------------------------------------------

  /** N1: brute-force cosine top-10 for query vectors (vec_id < 5). */
  val n1CosineTopK: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.cosineTopK(emb, emb.filter($"vec_id" < 5), k = 10)
      .orderBy($"qid", $"cos".desc, $"vec_id")
  }

  val n1CosineTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.qid, e.vec_id,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0
      |      AS cos
      |  FROM q, e WHERE e.vec_id <> q.qid)
      |SELECT qid, vec_id, cos FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10
      |ORDER BY qid, cos DESC, vec_id""".stripMargin

  /** N19: k-NN majority-vote classification — each query vector takes
    * the majority label of its 10 nearest cosine neighbors (vote ties
    * → the smaller label id), the classic embedding-space label
    * propagation / eval probe. Rides n1's broadcast top-k machinery
    * (round-6 scores, vec_id tie-break — the engine-exact rank
    * discipline), then joins labels by broadcasting the TINY top-k
    * relation (|queries|·k rows) against the candidate table — the
    * direction that stays broadcastable at any corpus size — and
    * finishes with a |queries|-sized vote window. Nothing corpus-sized
    * shuffles. */
  val n19KnnClassify: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val topk = Similarity.cosineTopK(emb, emb.filter($"vec_id" < 20), k = 10)
    emb.select($"vec_id", $"label")
      .join(broadcast(topk), Seq("vec_id"))
      .groupBy($"qid", $"label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"votes".desc, $"label".asc)))
      .filter($"rn" === 1)
      .select($"qid", $"label".as("pred_label"), $"votes")
      .orderBy($"qid")
  }

  val n19KnnClassifySql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.qid, e.vec_id, e.label,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0
      |      AS cos
      |  FROM q, e WHERE e.vec_id <> q.qid),
      |topk AS (
      |  SELECT qid, vec_id, label FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10),
      |v AS (SELECT qid, label, count(*) AS votes FROM topk GROUP BY 1, 2)
      |SELECT qid, label AS pred_label, votes FROM v
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label) = 1
      |ORDER BY qid""".stripMargin

  /** N20: hard-negative mining ([[graft.operators.Similarity
    * .hardNegatives]]) — for each query vector (vec_id < 20), the 5
    * hardest label-mismatched candidates among its cosine top-20: the
    * DPR contrastive-training negative set. The oracle replays n1's
    * scoring chain, the label anti-filter, and both rank cuts with the
    * same (cos desc, vec_id) tie-break. */
  val n20HardNegatives: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    graft.operators.Similarity.hardNegatives(emb, emb.filter($"vec_id" < 20), k = 20, m = 5)
      .orderBy($"qid", $"rank")
  }

  val n20HardNegativesSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings),
      |q AS (SELECT vec_id AS qid, v AS qv, label AS q_label FROM e WHERE vec_id < 20),
      |scored AS (
      |  SELECT q.qid, q.q_label, e.vec_id, e.label,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0
      |      AS cos
      |  FROM q, e WHERE e.vec_id <> q.qid),
      |topk AS (
      |  SELECT qid, q_label, vec_id, label, cos FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 20),
      |neg AS (
      |  SELECT qid, q_label, vec_id AS neg_id, label AS neg_label, cos,
      |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id)
      |      AS INTEGER) AS rank
      |  FROM topk WHERE label <> q_label)
      |SELECT qid, q_label, neg_id, neg_label, cos, rank
      |FROM neg WHERE rank <= 5
      |ORDER BY qid, rank""".stripMargin

  /** N10/N11: product quantization — split the 64-dim embedding into
    * 4 subspaces, Lloyd-train a k=8 codebook per subspace (lowest-id
    * seeds, 2 iterations — the [[graft.operators.Clustering]]
    * determinism discipline), encode every vector as 4 centroid ids,
    * and answer queries by Asymmetric Distance Computation over the
    * CODES (per-query 4×8 lookup table; float vectors untouched at
    * query time). The oracle replays codebook training, encoding, and
    * the ADC ranking exactly: round-6 assignment scores with cid
    * tie-breaks, DECIMAL means, and a DECIMAL(18,6) ADC sum so
    * addition order can't move a ulp on either engine. */
  val n10PqCodes: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val books = graft.operators.Quantize.pqCodebooks(e, m = 4, dim = 64, k = 8, iters = 2)
    graft.operators.Quantize.pqEncode(e, books, m = 4, dim = 64)
      .groupBy($"vec_id")
      // flatten to a sortable scalar ("0-3-1-7"), the gate-wide
      // convention (f9 array_join, an24 concat_ws) — the driver's
      // checker lexsorts rows and cannot hash array cells
      .agg(concat_ws("-",
        transform(array_sort(collect_list(struct($"sub", $"code"))),
          x => x.getField("code").cast("string"))).as("codes"))
      .orderBy($"vec_id")
  }

  /** One subspace's oracle chain: slice → k=8 lowest-id seeds → assign
    * (round-6, cid tie-break) → DECIMAL mean → final codebook c1_S →
    * nearest-code assignment code_S. Mirrors `Clustering.lloyd` at
    * iters=2 exactly (the n7 replay, per subspace). */
  private def pqSubCtes(sub: Int, subDim: Int): String = {
    val lo = sub * subDim + 1
    val hi = (sub + 1) * subDim
    s"""e$sub AS (SELECT vec_id, v[$lo:$hi] AS v FROM e),
       |c0_$sub AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
       |         v AS cv
       |  FROM (SELECT vec_id, v FROM e$sub ORDER BY vec_id LIMIT 8)),
       |a1_$sub AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e$sub.vec_id, e$sub.v, c0_$sub.cid,
       |      row_number() OVER (PARTITION BY e$sub.vec_id ORDER BY
       |        round(list_dot_product(c0_$sub.cv, c0_$sub.cv)
       |              - 2 * list_dot_product(e$sub.v, c0_$sub.cv), 6) ASC,
       |        c0_$sub.cid ASC) AS rn
       |    FROM e$sub, c0_$sub)
       |  WHERE rn = 1),
       |m1_$sub AS (
       |  SELECT cid, pos,
       |    round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6)
       |      AS c
       |  FROM (SELECT cid, unnest(range(len(v))) AS pos, unnest(v) AS x FROM a1_$sub)
       |  GROUP BY 1, 2),
       |c1_$sub AS (SELECT cid, list(c ORDER BY pos) AS cv FROM m1_$sub GROUP BY cid),
       |code_$sub AS (
       |  SELECT vec_id, cid FROM (
       |    SELECT e$sub.vec_id, c1_$sub.cid,
       |      row_number() OVER (PARTITION BY e$sub.vec_id ORDER BY
       |        round(list_dot_product(c1_$sub.cv, c1_$sub.cv)
       |              - 2 * list_dot_product(e$sub.v, c1_$sub.cv), 6) ASC,
       |        c1_$sub.cid ASC) AS rn
       |    FROM e$sub, c1_$sub)
       |  WHERE rn = 1)""".stripMargin
  }

  private val pqCommonCtes: String =
    (s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)"""
      +: (0 until 4).map(pqSubCtes(_, 16))).mkString(",\n") +
      """,
        |codes AS (
        |  SELECT vec_id, 0 AS sub, cid FROM code_0
        |  UNION ALL SELECT vec_id, 1, cid FROM code_1
        |  UNION ALL SELECT vec_id, 2, cid FROM code_2
        |  UNION ALL SELECT vec_id, 3, cid FROM code_3)""".stripMargin

  val n10PqCodesSql: String =
    s"""WITH $pqCommonCtes
       |SELECT vec_id, string_agg(CAST(cid AS VARCHAR), '-' ORDER BY sub) AS codes
       |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin

  val n11PqAdcTopK: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val books = graft.operators.Quantize.pqCodebooks(e, m = 4, dim = 64, k = 8, iters = 2)
    val codes = graft.operators.Quantize.pqEncode(e, books, m = 4, dim = 64)
    graft.operators.Quantize.pqTopK(codes, books, e.filter($"vec_id" < 3),
        m = 4, dim = 64, k = 10)
      .orderBy($"qid", $"adist", $"vec_id")
  }

  private val pqLutSql: String = {
    val lutSubs = (0 until 4).map { s =>
      val lo = s * 16 + 1
      val hi = (s + 1) * 16
      s"""SELECT q.qid, $s AS sub, c.cid,
         |    round(list_dot_product(c.cv, c.cv)
         |          - 2 * list_dot_product(q.qv[$lo:$hi], c.cv), 6) AS d
         |  FROM q, c1_$s c""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 3),
       |lut AS (
       |  $lutSubs)""".stripMargin
  }

  val n11PqAdcTopKSql: String =
    s"""WITH $pqCommonCtes,
       |$pqLutSql,
       |scored AS (
       |  SELECT l.qid, cd.vec_id,
       |    CAST(sum(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE) AS adist
       |  FROM codes cd JOIN lut l ON l.sub = cd.sub AND l.cid = cd.cid
       |  GROUP BY 1, 2)
       |SELECT qid, vec_id, adist FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) <= 10
       |ORDER BY qid, adist, vec_id""".stripMargin

  /** N12: IVF+PQ — the production ANN composition. The n2 coarse
    * routing (exact per-label centroids, top-2 cells per query by
    * round-6 cosine) restricts scoring to the probed cells' members;
    * ADC over the n10 codes does the scoring — vectors are touched
    * only to build the per-query 4×8 LUT. Corpus-wide codebooks (the
    * no-residual IVFPQ variant; see
    * [[graft.operators.Quantize.ivfPqTopK]]). */
  val n12IvfPq: Q = (s, dir) => {
    import s.implicits._
    val raw = Tables.load(s, dir, "embeddings")
    val e = raw.select($"vec_id", $"label", $"embedding".cast("array<double>").as("v"))
    val books = graft.operators.Quantize.pqCodebooks(
      e.select($"vec_id", $"v"), m = 4, dim = 64, k = 8, iters = 2)
    val codes = graft.operators.Quantize.pqEncode(
      e.select($"vec_id", $"v"), books, m = 4, dim = 64)
    val cents = graft.operators.Similarity.centroidVectors(raw, "label")
    val q = e.filter($"vec_id" < 3).select($"vec_id", $"v")
    val dot = graft.functions.DotProduct.dot_product _
    import org.apache.spark.sql.expressions.Window
    val probes = q.select($"vec_id".as("qid"), $"v".as("qv"))
      .join(broadcast(cents), lit(true))
      .select($"qid", $"cell",
        round(dot($"qv", $"cv") / (sqrt(dot($"qv", $"qv")) * sqrt(dot($"cv", $"cv"))), 6)
          .as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy($"qid").orderBy($"ccos".desc, $"cell".asc)))
      .filter($"rn" <= 2)
      .select($"qid", $"cell")
    graft.operators.Quantize.ivfPqTopK(codes, books, q,
        members = e.select($"vec_id", $"label".as("cell")), probes = probes,
        m = 4, dim = 64, k = 10)
      .orderBy($"qid", $"adist", $"vec_id")
  }

  // lazy: references centroidCtes, declared later in this object —
  // an eager val would capture null at object-init time
  lazy val n12IvfPqSql: String =
    s"""WITH $pqCommonCtes,
       |el AS (SELECT vec_id, label AS cell FROM embeddings),
       |$centroidCtes,
       |$pqLutSql,
       |probes AS (
       |  SELECT qid, cell FROM (
       |    SELECT q.qid, cent.cell,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        round(list_dot_product(q.qv, cent.cv) /
       |              (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
       |        cent.cell) AS rn
       |    FROM q, cent)
       |  WHERE rn <= 2),
       |cands AS (
       |  SELECT p.qid, el.vec_id
       |  FROM el JOIN probes p ON el.cell = p.cell
       |  WHERE el.vec_id <> p.qid),
       |scored AS (
       |  SELECT c.qid, c.vec_id,
       |    CAST(sum(CAST(l.d AS DECIMAL(18,6))) AS DOUBLE) AS adist
       |  FROM cands c
       |  JOIN codes cd ON cd.vec_id = c.vec_id
       |  JOIN lut l ON l.qid = c.qid AND l.sub = cd.sub AND l.cid = cd.cid
       |  GROUP BY 1, 2)
       |SELECT qid, vec_id, adist FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY adist ASC, vec_id ASC) <= 10
       |ORDER BY qid, adist, vec_id""".stripMargin

  /** N13: MMR diversity re-ranking — top-20 cosine candidates for
    * query vec 0, greedily re-ranked to 5 picks by
    * `0.7·rel − 0.3·max-sim-to-picked` (exact DECIMAL scoring over
    * round-6 inputs; see [[graft.operators.Similarity.mmrRerank]]).
    * The oracle unrolls the k=5 greedy steps as chained CTEs — each
    * step's argmax (score desc, vec_id) replays bit-for-bit because
    * every score is exact decimal arithmetic. */
  val n13Mmr: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
    val dot = graft.functions.DotProduct.dot_product _
    val q = e.filter($"vec_id" === 0L).select($"v".as("qv"))
    val cand = e.filter($"vec_id" =!= 0L)
      .join(broadcast(q), lit(true))
      .select($"vec_id", $"v",
        round(dot($"qv", $"v") / (sqrt(dot($"qv", $"qv")) * sqrt(dot($"v", $"v"))), 6)
          .as("rel"))
      .orderBy($"rel".desc, $"vec_id".asc)
      .limit(20)
    graft.operators.Similarity.mmrRerank(cand, k = 5)
      .orderBy($"pick")
  }

  val n13MmrSql: String = {
    val steps = (1 to 5).map { i =>
      val prev = s"sel${i - 1}"
      s"""sc$i AS (
         |  SELECT c.vec_id,
         |    CAST(c.rel AS DECIMAL(18,6)) * 0.7
         |      - 0.3 * CAST(coalesce(
         |          (SELECT max(s.sim) FROM sims s JOIN $prev x ON s.b = x.vec_id
         |           WHERE s.a = c.vec_id), 0) AS DECIMAL(18,6)) AS score
         |  FROM cand c
         |  WHERE c.vec_id NOT IN (SELECT vec_id FROM $prev)),
         |p$i AS (SELECT $i AS pick, vec_id, score FROM sc$i
         |        ORDER BY score DESC, vec_id LIMIT 1),
         |sel$i AS (SELECT vec_id FROM $prev UNION ALL SELECT vec_id FROM p$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |qv AS (SELECT v FROM e WHERE vec_id = 0),
       |cand AS (
       |  SELECT e.vec_id, e.v,
       |    round(list_dot_product(qv.v, e.v) /
       |          (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(e.v, e.v))), 6)
       |      AS rel
       |  FROM e, qv WHERE e.vec_id <> 0
       |  ORDER BY rel DESC, e.vec_id LIMIT 20),
       |sims AS (
       |  SELECT a.vec_id AS a, b.vec_id AS b,
       |    round(list_dot_product(a.v, b.v) /
       |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
       |      AS sim
       |  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
       |sel0 AS (SELECT CAST(NULL AS BIGINT) AS vec_id WHERE 1 = 0),
       |$steps
       |SELECT pick, vec_id, CAST(score AS DOUBLE) AS score
       |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3
       |      UNION ALL SELECT * FROM p4 UNION ALL SELECT * FROM p5)
       |ORDER BY pick""".stripMargin
  }

  /** D5: embedding-cosine near-dup pairs, label-blocked, with injected
    * exact copies so true positives exist (same construction in the
    * oracle). */
  val d5EmbeddingNearDup: Q = (s, dir) => {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val withCopies = e.unionByName(
      e.filter($"vec_id" % 83 === 0)
        .select(($"vec_id" + 100000).as("vec_id"), $"embedding", $"label"))
    Similarity.nearDupPairs(withCopies, "label", 0.99)
      .orderBy($"v1", $"v2")
  }

  val d5EmbeddingNearDupSql: String =
    """WITH e AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v, label FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000, embedding::DOUBLE[], label
      |  FROM embeddings WHERE vec_id % 83 = 0),
      |scored AS (
      |  SELECT a.vec_id AS v1, b.vec_id AS v2,
      |    round(list_dot_product(a.v, b.v) /
      |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) + 0
      |      AS cos
      |  FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id)
      |SELECT v1, v2, cos FROM scored WHERE cos >= 0.99
      |ORDER BY v1, v2""".stripMargin

  /** G2: posexplode — explode with element position (the typed flatMap
    * alternative to the reference's struct-array explode, c39/c43). */
  val g2Posexplode: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "word")))
      .filter($"word" =!= "")
      .select($"doc_id", ($"pos" + 1).as("pos"), $"word")
      .orderBy($"doc_id", $"pos")
  }

  val g2PosexplodeSql: String =
    """SELECT doc_id, pos, word FROM (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents)
      |WHERE word <> ''
      |ORDER BY doc_id, pos""".stripMargin

  /** A4: per-column type/cardinality profiling (the reference's pandas
    * value_counts audit, c8 — as one relation). */
  val a4Profile: Q = (s, dir) => {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    val one = (c: String) => d.select(
      lit(c).as("col_name"),
      count(lit(1)).as("n"),
      count(col(c)).as("n_nonnull"),
      countDistinct(col(c)).as("n_distinct"))
    one("lang").unionByName(one("source")).unionByName(one("n_chars"))
      .orderBy($"col_name")
  }

  val a4ProfileSql: String =
    """SELECT 'lang' AS col_name, count(*) AS n, count(lang) AS n_nonnull,
      |       count(DISTINCT lang) AS n_distinct FROM documents
      |UNION ALL
      |SELECT 'source', count(*), count(source), count(DISTINCT source) FROM documents
      |UNION ALL
      |SELECT 'n_chars', count(*), count(n_chars), count(DISTINCT n_chars) FROM documents
      |ORDER BY col_name""".stripMargin

  /** A6: declared-constraints data-quality audit (the dbt-test /
    * expectations staple): null counts, distinct counts, and
    * primary-key duplicate rows for a declared column set — in ONE
    * scan. Unlike a4's one-agg-per-column union (one pass per
    * column), every metric here is an expression of a single
    * aggregate row, unpivoted with `stack` — at 100 TB the audit
    * costs one read of the table no matter how many constraints are
    * declared. */
  val a6DqAudit: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "orders")
      .agg(
        count(lit(1)).as("n"),
        count($"o_orderkey").as("kn"), countDistinct($"o_orderkey").as("kd"),
        count($"o_custkey").as("cn"), countDistinct($"o_custkey").as("cd"),
        count($"o_orderstatus").as("sn"), countDistinct($"o_orderstatus").as("sd"))
      .select(expr(
        """stack(3,
          |  'o_orderkey',    n - kn, kd, kn - kd,
          |  'o_custkey',     n - cn, cd, CAST(NULL AS BIGINT),
          |  'o_orderstatus', n - sn, sd, CAST(NULL AS BIGINT)
          |) AS (col_name, n_null, n_distinct, pk_dup_rows)""".stripMargin))
      .orderBy($"col_name")
  }

  val a6DqAuditSql: String =
    """WITH m AS (
      |  SELECT count(*) AS n,
      |    count(o_orderkey) AS kn, count(DISTINCT o_orderkey) AS kd,
      |    count(o_custkey) AS cn, count(DISTINCT o_custkey) AS cd,
      |    count(o_orderstatus) AS sn, count(DISTINCT o_orderstatus) AS sd
      |  FROM orders)
      |SELECT 'o_orderkey' AS col_name, n - kn AS n_null, kd AS n_distinct,
      |       kn - kd AS pk_dup_rows FROM m
      |UNION ALL SELECT 'o_custkey', n - cn, cd, CAST(NULL AS BIGINT) FROM m
      |UNION ALL SELECT 'o_orderstatus', n - sn, sd, CAST(NULL AS BIGINT) FROM m
      |ORDER BY col_name""".stripMargin

  /** N2: IVF-style ANN — the 100 TB scale path (probe the nProbe
    * nearest cells only). Centroids are DECIMAL-exact elementwise
    * means rounded to 6 (Similarity.centroidsExact), so cell probing
    * and the final ranking are fully deterministic and the oracle
    * replays them exactly; SimilaritySpec additionally pins
    * nProbe=all ≡ brute force and the partial-probe recall floor. */
  val n2AnnIvf: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Similarity.ivfTopK(emb, emb.filter($"vec_id" < 5), "label", k = 10, nProbe = 2)
      .orderBy($"qid", $"cos".desc, $"vec_id")
  }

  /** Shared centroid CTEs: exact elementwise mean per cell (DECIMAL
    * summation, rounded to 6), long format `cm` + assembled `cent`. */
  private val centroidCtes: String =
    """cm AS (
      |  SELECT label AS cell, pos,
      |    round(CAST(sum(CAST(x AS DECIMAL(28,10))) AS DOUBLE) / count(*), 6) AS c
      |  FROM (SELECT label, unnest(range(len(embedding))) AS pos,
      |               unnest(embedding::DOUBLE[]) AS x FROM embeddings)
      |  GROUP BY 1, 2),
      |cent AS (SELECT cell, list(c ORDER BY pos) AS cv FROM cm GROUP BY cell)""".stripMargin

  /** The IVF probe-and-score CTE chain up to `scored(qid, vec_id,
    * cos)` — shared by n2 (top-10 listing) and n8 (recall vs brute
    * force). */
  private val ivfScoredCtes: String =
    s"""e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
       |$centroidCtes,
       |probes AS (
       |  SELECT qid, cell, qv FROM (
       |    SELECT q.qid, cent.cell, q.qv,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        round(list_dot_product(q.qv, cent.cv) /
       |              (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))), 6) DESC,
       |        cent.cell) AS rn
       |    FROM q, cent)
       |  WHERE rn <= 2),
       |scored AS (
       |  SELECT p.qid, e.vec_id,
       |    round(list_dot_product(p.qv, e.v) /
       |          (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0 AS cos
       |  FROM e JOIN probes p ON e.label = p.cell
       |  WHERE e.vec_id <> p.qid)""".stripMargin

  val n2AnnIvfSql: String =
    s"""WITH $ivfScoredCtes
       |SELECT qid, vec_id, cos FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10
       |ORDER BY qid, cos DESC, vec_id""".stripMargin

  /** N8: recall@10 of the IVF index against exact brute force — the
    * evaluation metric every ANN deployment tunes nProbe/cell-count
    * by, as a query over the same deterministic rankings n1 and n2
    * gate on. Both top-10 sets are fully tie-broken, so recall is an
    * exact integer (basis points). The exact side pays one broadcast
    * fan-out over the (tiny) query set — the same cost n1 already
    * pays; the IVF side probes 2 cells. At scale this runs on a
    * SAMPLE of queries (here: the 5 gate queries). */
  val n8Recall: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val exact = Similarity.cosineTopK(emb, q, k = 10).select($"qid", $"vec_id")
    val approx = Similarity.ivfTopK(emb, q, "label", k = 10, nProbe = 2)
      .select($"qid", $"vec_id").withColumn("hit", lit(1))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy($"qid")
      .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
      .select($"qid", $"n_hits", ($"n_hits" * 1000).as("recall_bp"))
      .orderBy($"qid")
  }

  val n8RecallSql: String =
    s"""WITH $ivfScoredCtes,
       |approx AS (
       |  SELECT qid, vec_id FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10),
       |escored AS (
       |  SELECT q.qid, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0 AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM escored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10)
       |SELECT x.qid, count(a.vec_id) AS n_hits,
       |       count(a.vec_id) * 1000 AS recall_bp
       |FROM exact x LEFT JOIN approx a USING (qid, vec_id)
       |GROUP BY x.qid ORDER BY x.qid""".stripMargin

  /** N3: the IVF index build itself — exact per-cell centroids (the
    * deterministic distributed mean every clustering/IVF pipeline
    * needs), hash-checked cell-by-dimension. */
  val n3Centroids: Q = (s, dir) => {
    import s.implicits._
    Similarity.centroidsExact(Tables.load(s, dir, "embeddings"), "label")
      .select($"cell", $"pos".cast("long").as("pos"), $"c")
      .orderBy($"cell", $"pos")
  }

  val n3CentroidsSql: String =
    s"""WITH $centroidCtes
       |SELECT cell, pos, c FROM cm ORDER BY cell, pos""".stripMargin

  // ---- multimodal plumbing -----------------------------------------

  /** M1: opaque-binary column plumbing — text encoded to a binary
    * payload column; byte length, content digest, and a deterministic
    * "decode stub" (hex of the first 8 bytes) computed without leaving
    * codegen. The real decode would be a library call at this exact
    * seam (see graft.operators.Multimodal). */
  val m1BinaryMeta: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .withColumn("payload", encode($"text", "UTF-8"))
      .select(
        $"doc_id",
        length($"payload").as("n_bytes"),
        sha2($"payload", 256).as("digest"),
        hex(encode(substring($"text", 1, 8), "UTF-8")).as("header_hex"))
      .orderBy($"doc_id")
  }

  val m1BinaryMetaSql: String =
    """SELECT doc_id,
      |  octet_length(text::BLOB) AS n_bytes,
      |  sha256(text) AS digest,
      |  hex(encode(substr(text, 1, 8))) AS header_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  /** M2: frame sampling over the opaque binary payload — every 2nd
    * 64-byte window per media row (the typed-Dataset flatMap path of
    * Multimodal.sampleFrames). Frame boundaries are pure byte
    * arithmetic, so the oracle replays them exactly. */
  val m2FrameSample: Q = (s, dir) => {
    import s.implicits._
    val media = graft.operators.Multimodal
      .mediaFromText(Tables.load(s, dir, "documents"), "doc_id", "text")
      .as[graft.operators.Multimodal.MediaRow]
    graft.operators.Multimodal.sampleFrames(media, frameBytes = 64, everyN = 2)
      .orderBy($"media_id", $"frame_no")
  }

  val m2FrameSampleSql: String =
    """WITH m AS (SELECT doc_id AS media_id, octet_length(text::BLOB) AS n
      |           FROM documents),
      |f AS (SELECT media_id, unnest(range((n + 63) // 64)) AS frame_no, n FROM m)
      |SELECT media_id, frame_no,
      |  CAST(least(64, n - frame_no * 64) AS INT) AS frame_bytes
      |FROM f WHERE frame_no % 2 = 0
      |ORDER BY media_id, frame_no""".stripMargin

  /** M3: REAL bytes→metadata decode through the mapPartitions seam.
    * Each doc synthesizes a valid PNG, BMP, or GIF header (by
    * doc_id % 3) with known dimensions around its utf8 bytes;
    * `Multimodal.decodeHeaders` then parses width/height back OUT OF
    * THE BYTES (PNG IHDR big-endian / BMP InfoHeader little-endian /
    * GIF screen descriptor little-endian u16, format sniffed from
    * magic numbers, not the kind column). The oracle replays the
    * dimension arithmetic and header sizes — any endianness/offset
    * bug in the parser flips cells. */
  val m3ImageMeta: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = Tables.load(s, dir, "documents")
      .select($"doc_id", coalesce($"text", lit("")).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val w = (id % 3000 + 16).toInt
        val h = (id % 2000 + 16).toInt
        val body = text.getBytes("UTF-8")
        id % 3 match {
          case 0 => Multimodal.MediaRow(id, "image/png", Multimodal.pngBytes(w, h, body))
          case 1 => Multimodal.MediaRow(id, "image/bmp", Multimodal.bmpBytes(w, h, body))
          case _ => Multimodal.MediaRow(id, "image/gif", Multimodal.gifBytes(w, h, body))
        }
      }
    Multimodal.decodeHeaders(media)
      .select($"media_id", $"kind", $"n_bytes".cast("long").as("n_bytes"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"))
      .orderBy($"media_id")
  }

  val m3ImageMetaSql: String =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image/png' WHEN 1 THEN 'image/bmp'
      |       ELSE 'image/gif' END AS kind,
      |  CAST(CASE doc_id % 3 WHEN 0 THEN 33 WHEN 1 THEN 54 ELSE 13 END
      |       + octet_length(coalesce(text, '')::BLOB) AS BIGINT) AS n_bytes,
      |  CAST(doc_id % 3000 + 16 AS BIGINT) AS width,
      |  CAST(doc_id % 2000 + 16 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** M7: REAL JPEG bytes→metadata — the single most common image
    * format in web corpora, previously the gap in m3's PNG/BMP/GIF
    * rotation. Each doc synthesizes a JFIF JPEG (SOI + APP0 + SOF0 or
    * progressive SOF2 by doc_id parity) with known dimensions around
    * its utf8 bytes; `Multimodal.decodeHeaders` walks the marker
    * stream back out of the bytes (big-endian segment lengths, SOFn
    * height/width). The oracle replays the byte-window arithmetic —
    * a walk/offset/endianness bug flips cells. */
  val m7JpegMeta: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = Tables.load(s, dir, "documents")
      .select($"doc_id", coalesce($"text", lit("")).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val w = (id % 3000 + 16).toInt
        val h = (id % 2000 + 16).toInt
        Multimodal.MediaRow(id, "image/jpeg",
          Multimodal.jpegBytes(w, h, text.getBytes("UTF-8"),
            progressive = id % 2 == 1))
      }
    Multimodal.decodeHeaders(media)
      .select($"media_id", $"kind", $"n_bytes".cast("long").as("n_bytes"),
        $"width".cast("long").as("width"), $"height".cast("long").as("height"))
      .orderBy($"media_id")
  }

  val m7JpegMetaSql: String =
    """SELECT doc_id AS media_id, 'image/jpeg' AS kind,
      |  CAST(39 + octet_length(coalesce(text, '')::BLOB) AS BIGINT) AS n_bytes,
      |  CAST(doc_id % 3000 + 16 AS BIGINT) AS width,
      |  CAST(doc_id % 2000 + 16 AS BIGINT) AS height
      |FROM documents ORDER BY doc_id""".stripMargin

  /** M4: REAL audio bytes→metadata through the same seam — each doc
    * synthesizes a canonical 44-byte PCM WAV header (channels, rate,
    * bit depth varied by doc_id) around its utf8 bytes;
    * `Multimodal.decodeWavs` parses the RIFF/fmt/data layout back out
    * of the bytes (little-endian u16/u32 fields) and derives sample
    * count and duration. The oracle replays the header arithmetic —
    * an offset or endianness bug flips cells. */
  val m4AudioMeta: Q = (s, dir) => {
    import s.implicits._
    import graft.operators.Multimodal
    val media = Tables.load(s, dir, "documents")
      .select($"doc_id", coalesce($"text", lit("")).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val channels = (id % 2 + 1).toInt
        val rate = (id % 3) match { case 0 => 8000; case 1 => 16000; case _ => 44100 }
        val bits = if (id % 4 < 2) 16 else 8
        Multimodal.MediaRow(id, "audio/wav",
          Multimodal.wavBytes(channels, rate, bits, text.getBytes("UTF-8")))
      }
    Multimodal.decodeWavs(media)
      .select($"media_id", $"kind", $"n_bytes".cast("long").as("n_bytes"),
        $"channels".cast("long").as("channels"),
        $"sample_rate".cast("long").as("sample_rate"),
        $"bits".cast("long").as("bits"), $"n_samples")
      .withColumn("duration_ms", expr("n_samples * 1000 div sample_rate"))
      .orderBy($"media_id")
  }

  val m4AudioMetaSql: String =
    """WITH w AS (
      |  SELECT doc_id AS media_id, 'audio/wav' AS kind,
      |    CAST(44 + octet_length(coalesce(text, '')::BLOB) AS BIGINT) AS n_bytes,
      |    CAST(doc_id % 2 + 1 AS BIGINT) AS channels,
      |    CAST(CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
      |         ELSE 44100 END AS BIGINT) AS sample_rate,
      |    CAST(CASE WHEN doc_id % 4 < 2 THEN 16 ELSE 8 END AS BIGINT) AS bits,
      |    octet_length(coalesce(text, '')::BLOB) AS body_len
      |  FROM documents),
      |s AS (
      |  SELECT media_id, kind, n_bytes, channels, sample_rate, bits,
      |    CAST(body_len // (channels * (bits // 8)) AS BIGINT) AS n_samples
      |  FROM w)
      |SELECT media_id, kind, n_bytes, channels, sample_rate, bits, n_samples,
      |  CAST(n_samples * 1000 // sample_rate AS BIGINT) AS duration_ms
      |FROM s ORDER BY media_id""".stripMargin

  /** M5: interleaved multimodal sequence assembly (MMC4/OBELICS
    * shape — Multimodal.interleave): 20-word text chunks at even
    * sequence positions, the document's m2-sampled frames as "image"
    * items at odd positions, one ordered sequence per document.
    * Frame boundaries and anchors are pure integer arithmetic, so the
    * oracle replays them exactly; content digests are md5 over the
    * same ASCII bytes on both engines. */
  val m5Interleave: Q = (s, dir) => {
    import s.implicits._
    graft.operators.Multimodal
      .interleave(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id", $"seq_no")
  }

  val m5InterleaveSql: String =
    """WITH base AS (
      |  SELECT doc_id, text AS t, string_split(text, ' ') AS w,
      |    CAST(ceil(len(string_split(text, ' ')) / 20.0) AS BIGINT) AS n_chunks,
      |    least(CAST(ceil(ceil(length(text) / 64.0) / 2.0) AS BIGINT),
      |          CAST(ceil(len(string_split(text, ' ')) / 20.0) AS BIGINT)) AS n_frames
      |  FROM documents),
      |txt AS (
      |  SELECT doc_id, i * 2 AS seq_no, 'text' AS item_type,
      |    array_to_string(w[i*20+1 : i*20+20], ' ') AS content,
      |    CAST(length(array_to_string(w[i*20+1 : i*20+20], ' ')) AS BIGINT) AS n_bytes
      |  FROM (SELECT doc_id, w, unnest(range(n_chunks)) AS i FROM base)),
      |img AS (
      |  SELECT doc_id, d * 2 + 1 AS seq_no, 'image' AS item_type,
      |    md5(substr(t, CAST(d * 128 + 1 AS INT), 64)) AS content,
      |    CAST(length(substr(t, CAST(d * 128 + 1 AS INT), 64)) AS BIGINT) AS n_bytes
      |  FROM (SELECT doc_id, t, unnest(range(n_frames)) AS d FROM base))
      |SELECT doc_id, seq_no, item_type, content, n_bytes FROM txt
      |UNION ALL
      |SELECT doc_id, seq_no, item_type, content, n_bytes FROM img
      |ORDER BY doc_id, seq_no""".stripMargin

  /** T23: curriculum ordering — the full corpus globally sorted by
    * quality (easy→hard export order) with a contiguous global rank
    * and a round-robin shard assignment. The global rank comes from
    * Ranking.globalRowNumber: range-repartition by the sort key, count
    * per partition, add each range's offset to the row's position in
    * it — the scale-correct form of row_number() over an unpartitioned
    * window (which would funnel the corpus through ONE task). */
  val t23Curriculum: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables.load(s, dir, "documents")
      .select($"doc_id",
        graft.functions.TextFunctions.qualityScore($"text").as("quality"))
    graft.operators.Ranking
      .globalRowNumber(scored, Seq($"quality".desc, $"doc_id".asc), "rank")
      .withColumn("shard", ($"rank" - 1) % 8)
      .orderBy($"rank")
  }

  val t23CurriculumSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    least(length(text), 500)::BIGINT * 20 AS len_bp,
      |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT * 10000)
      |      // greatest(length(text), 1)::BIGINT AS alpha_bp,
      |    (least(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) * 10,
      |           len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')))::BIGINT * 10000)
      |      // greatest(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')), 1)::BIGINT AS stop_bp
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, (len_bp + alpha_bp + stop_bp) // 3 AS quality FROM m)
      |SELECT doc_id, quality,
      |  row_number() OVER (ORDER BY quality DESC, doc_id) AS rank,
      |  (row_number() OVER (ORDER BY quality DESC, doc_id) - 1) % 8 AS shard
      |FROM scored ORDER BY rank""".stripMargin

  val defs: Map[String, Q] = Map(
    "t1_lang_id"       -> t1LangId,
    "t2_quality_score" -> t2Quality,
    "t3_token_count"   -> t3Tokens,
    "t4_fingerprint"   -> t4Fingerprint,
    "t5_split_assign"  -> t5SplitAssign,
    "t6_chunking"      -> t6Chunking,
    "t7_packing"       -> t7Packing,
    "t8_stratified_sample" -> t8StratifiedSample,
    "t18_epoch_shuffle" -> t18EpochShuffle,
    "t9_tfidf"         -> t9Tfidf,
    "t33_bm25"         -> t33Bm25,
    "n18_rrf_fusion"   -> n18RrfFusion,
    "t34_cdc_chunks"   -> t34CdcChunks,
    "c1_curate"        -> c1Curate,
    "c3_curation_funnel" -> c3CurationFunnel,
    "t26_leakage_safe_split" -> t26LeakageSafeSplit,
    "m6_media_dedup" -> m6MediaDedup,
    "d14_fuzzy_join" -> d14FuzzyJoin,
    "d1_exact_dedup"   -> d1ExactDedup,
    "d2_minhash_lsh"   -> d2Minhash,
    "d3_simhash"       -> d3Simhash,
    "d6_dup_clusters"  -> d6DupClusters,
    "d16_cc_stars"     -> d16CcStars,
    "d7_incremental_dedup" -> d7Incremental,
    "d9_survivorship"  -> d9Survivorship,
    "d10_dedup_apply"  -> d10DedupApply,
    "d12_sorted_neighborhood" -> d12SortedNeighborhood,
    "d8_simhash_neardups"  -> d8SimhashNearDups,
    "d4_ngram_jaccard" -> d4NgramJaccard,
    "d13_prefix_simjoin" -> d13PrefixSimjoin,
    "d15_containment_join" -> d15ContainmentJoin,
    "t20_repeated_spans" -> t20RepeatedSpans,
    "d5_embedding_neardup" -> d5EmbeddingNearDup,
    "g2_posexplode"    -> g2Posexplode,
    "a4_profile"       -> a4Profile,
    "a6_dq_audit"      -> a6DqAudit,
    "n1_cosine_topk"   -> n1CosineTopK,
    "n19_knn_classify" -> n19KnnClassify,
    "n20_hard_negatives" -> n20HardNegatives,
    "n10_pq_codes"     -> n10PqCodes,
    "n11_pq_adc_topk"  -> n11PqAdcTopK,
    "n12_ivf_pq"       -> n12IvfPq,
    "n13_mmr"          -> n13Mmr,
    "n2_ann_ivf"       -> n2AnnIvf,
    "n3_centroids"     -> n3Centroids,
    "n8_recall"        -> n8Recall,
    "m1_binary_meta"   -> m1BinaryMeta,
    "m2_frame_sample"  -> m2FrameSample,
    "m3_image_meta"    -> m3ImageMeta,
    "m7_jpeg_meta"     -> m7JpegMeta,
    "m4_audio_meta"    -> m4AudioMeta,
    "m5_interleave"    -> m5Interleave,
    "t23_curriculum"   -> t23Curriculum,
  )

  val oracle: Map[String, String] = Map(
    "t1_lang_id"       -> t1LangIdSql,
    "t2_quality_score" -> t2QualitySql,
    "t3_token_count"   -> t3TokensSql,
    "t4_fingerprint"   -> t4FingerprintSql,
    "t5_split_assign"  -> t5SplitAssignSql,
    "t6_chunking"      -> t6ChunkingSql,
    "t7_packing"       -> t7PackingSql,
    "t8_stratified_sample" -> t8StratifiedSampleSql,
    "t18_epoch_shuffle" -> t18EpochShuffleSql,
    "t9_tfidf"         -> t9TfidfSql,
    "t33_bm25"         -> t33Bm25Sql,
    "n18_rrf_fusion"   -> n18RrfFusionSql,
    "t34_cdc_chunks"   -> t34CdcChunksSql,
    "c1_curate"        -> c1CurateSql,
    "c3_curation_funnel" -> c3CurationFunnelSql,
    "t26_leakage_safe_split" -> t26LeakageSafeSplitSql,
    "m6_media_dedup" -> m6MediaDedupSql,
    "d14_fuzzy_join" -> d14FuzzyJoinSql,
    "d1_exact_dedup"   -> d1ExactDedupSql,
    "d2_minhash_lsh"   -> d2MinhashSql,
    "d3_simhash"       -> d3SimhashSql,
    "d6_dup_clusters"  -> d6DupClustersSql,
    "d16_cc_stars"     -> d16CcStarsSql,
    "d7_incremental_dedup" -> d7IncrementalSql,
    "d9_survivorship"  -> d9SurvivorshipSql,
    "d10_dedup_apply"  -> d10DedupApplySql,
    "d12_sorted_neighborhood" -> d12SortedNeighborhoodSql,
    "d8_simhash_neardups"  -> d8SimhashNearDupsSql,
    "d4_ngram_jaccard" -> d4NgramJaccardSql,
    "d13_prefix_simjoin" -> d13PrefixSimjoinSql,
    "d15_containment_join" -> d15ContainmentJoinSql,
    "t20_repeated_spans" -> t20RepeatedSpansSql,
    "d5_embedding_neardup" -> d5EmbeddingNearDupSql,
    "g2_posexplode"    -> g2PosexplodeSql,
    "a4_profile"       -> a4ProfileSql,
    "a6_dq_audit"      -> a6DqAuditSql,
    "n1_cosine_topk"   -> n1CosineTopKSql,
    "n19_knn_classify" -> n19KnnClassifySql,
    "n20_hard_negatives" -> n20HardNegativesSql,
    "n10_pq_codes"     -> n10PqCodesSql,
    "n11_pq_adc_topk"  -> n11PqAdcTopKSql,
    "n12_ivf_pq"       -> n12IvfPqSql,
    "n13_mmr"          -> n13MmrSql,
    "n2_ann_ivf"       -> n2AnnIvfSql,
    "n3_centroids"     -> n3CentroidsSql,
    "n8_recall"        -> n8RecallSql,
    "m1_binary_meta"   -> m1BinaryMetaSql,
    "m2_frame_sample"  -> m2FrameSampleSql,
    "m3_image_meta"    -> m3ImageMetaSql,
    "m7_jpeg_meta"     -> m7JpegMetaSql,
    "m4_audio_meta"    -> m4AudioMetaSql,
    "m5_interleave"    -> m5InterleaveSql,
    "t23_curriculum"   -> t23CurriculumSql,
  )
}
