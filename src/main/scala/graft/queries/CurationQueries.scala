package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{Corpus, Quantize}

/** Round-4 curation breadth: PII redaction, repetition-quality
  * signals, domain-mix rebalancing, int8 embedding quantization —
  * the training-data-pipeline operators beyond dedup/similarity.
  * Each query pairs a library operator (graft.operators.Corpus /
  * Quantize) with an exactly-equivalent DuckDB oracle.
  */
object CurationQueries {
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** T10: PII redaction. The synthetic corpus contains no PII, so the
    * query plants deterministic emails/phones first (same construction
    * in the oracle — the d5 injected-copies pattern), then redacts and
    * counts. Patterns are ASCII-only and lookaround-free so Java regex
    * and RE2 agree (see Corpus.emailPattern). */
  val t10PiiRedact: Q = (s, dir) => {
    import s.implicits._
    val injected = Tables.load(s, dir, "documents")
      .withColumn("text", concat($"text",
        when($"doc_id" % 7 === 0,
          concat(lit(" contact user"), $"doc_id".cast("string"), lit("@example.com now")))
          .otherwise(lit("")),
        when($"doc_id" % 11 === 0,
          concat(lit(" call 555-"), lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
            lit(" today")))
          .otherwise(lit(""))))
    Corpus.redactPii(injected, "text")
      .select($"doc_id", $"n_emails", $"n_phones", $"redacted")
      .orderBy($"doc_id")
  }

  val t10PiiRedactSql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' contact user' || doc_id::VARCHAR || '@example.com now'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 11 = 0
      |         THEN ' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') || ' today'
      |         ELSE '' END AS text
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
      |  CAST(len(regexp_extract_all(text, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
      |  regexp_replace(
      |    regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
      |FROM inj ORDER BY doc_id""".stripMargin

  /** T36: credit-card PII with Luhn validation — detection beyond
    * pattern matching. The corpus has no cards, so the query plants a
    * Luhn-VALID card on every doc_id % 5 == 0 (15 payload digits from
    * the doc id, check digit computed by the mod-10 rule) and a
    * checksum-INVALID lookalike (check digit shifted +5) on every
    * doc_id % 13 == 0; `Corpus.redactCards` must then redact exactly
    * the valid ones and leave the lookalikes — the candidate/valid
    * split the gate pins. Check-digit construction is pure integer
    * expression arithmetic, replayed digit-for-digit by the oracle. */
  val t36LuhnCards: Q = (s, dir) => {
    import s.implicits._
    // Luhn sum over the 15 payload digits (positions 1..15 of the
    // final 16-digit number: odd positions double, >9 drops 9)
    def luhnSum15(d15: org.apache.spark.sql.Column) =
      aggregate(transform(sequence(lit(1), lit(15)), i => {
        val d = ascii(d15.substr(i, lit(1))) - lit(48)
        val dbl = d * 2
        when(i % 2 === 1, when(dbl > 9, dbl - 9).otherwise(dbl)).otherwise(d)
      }), lit(0), (a, x) => a + x)
    def dashed(d16: org.apache.spark.sql.Column) = concat_ws("-",
      d16.substr(1, 4), d16.substr(5, 4), d16.substr(9, 4), d16.substr(13, 4))
    val d15 = lpad((($"doc_id" * 37) % 100000000).cast("string"), 15, "4")
    val check = (lit(10) - (luhnSum15(d15) % 10)) % 10
    val good = dashed(concat(d15, check.cast("string")))
    val bad = dashed(concat(d15, ((check + 5) % 10).cast("string")))
    val injected = Tables.load(s, dir, "documents")
      .withColumn("text", concat($"text",
        when($"doc_id" % 5 === 0, concat(lit(" pay "), good, lit(" ok")))
          .otherwise(lit("")),
        when($"doc_id" % 13 === 0, concat(lit(" ref "), bad))
          .otherwise(lit(""))))
    Corpus.redactCards(injected, "text")
      .select($"doc_id", $"n_card_candidates", $"n_cards_valid", $"redacted")
      .orderBy($"doc_id")
  }

  val t36LuhnCardsSql: String =
    """WITH base AS (
      |  SELECT doc_id, text,
      |    lpad(((doc_id * 37) % 100000000)::VARCHAR, 15, '4') AS d15
      |  FROM documents),
      |chk AS (
      |  SELECT doc_id, text, d15,
      |    (10 - list_sum(list_transform(range(1, 16), i ->
      |       CASE WHEN i % 2 = 1
      |         THEN CASE WHEN 2 * (ascii(substr(d15, i, 1)) - 48) > 9
      |                THEN 2 * (ascii(substr(d15, i, 1)) - 48) - 9
      |                ELSE 2 * (ascii(substr(d15, i, 1)) - 48) END
      |         ELSE ascii(substr(d15, i, 1)) - 48 END)) % 10) % 10 AS ck
      |  FROM base),
      |cards AS (
      |  SELECT doc_id, text,
      |    substr(d15 || ck::VARCHAR, 1, 4) || '-' ||
      |    substr(d15 || ck::VARCHAR, 5, 4) || '-' ||
      |    substr(d15 || ck::VARCHAR, 9, 4) || '-' ||
      |    substr(d15 || ck::VARCHAR, 13, 4) AS good,
      |    substr(d15 || ((ck + 5) % 10)::VARCHAR, 1, 4) || '-' ||
      |    substr(d15 || ((ck + 5) % 10)::VARCHAR, 5, 4) || '-' ||
      |    substr(d15 || ((ck + 5) % 10)::VARCHAR, 9, 4) || '-' ||
      |    substr(d15 || ((ck + 5) % 10)::VARCHAR, 13, 4) AS bad
      |  FROM chk),
      |inj AS (
      |  SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 5 = 0 THEN ' pay ' || good || ' ok' ELSE '' END
      |    || CASE WHEN doc_id % 13 = 0 THEN ' ref ' || bad ELSE '' END AS text
      |  FROM cards),
      |found AS (
      |  SELECT doc_id, text,
      |    regexp_extract_all(text, '[0-9]{4}-[0-9]{4}-[0-9]{4}-[0-9]{4}') AS cands
      |  FROM inj),
      |v AS (
      |  SELECT doc_id, text, cands,
      |    list_filter(cands, c ->
      |      list_sum(list_transform(range(1, 17), i ->
      |        CASE WHEN i % 2 = 1
      |          THEN CASE WHEN 2 * (ascii(substr(replace(c, '-', ''), i, 1)) - 48) > 9
      |                 THEN 2 * (ascii(substr(replace(c, '-', ''), i, 1)) - 48) - 9
      |                 ELSE 2 * (ascii(substr(replace(c, '-', ''), i, 1)) - 48) END
      |          ELSE ascii(substr(replace(c, '-', ''), i, 1)) - 48 END)) % 10 = 0)
      |      AS valid
      |  FROM found)
      |SELECT doc_id,
      |  CAST(len(cands) AS BIGINT) AS n_card_candidates,
      |  CAST(len(valid) AS BIGINT) AS n_cards_valid,
      |  list_reduce(list_prepend(text, valid),
      |    (acc, c) -> replace(acc, c, '<CARD>')) AS redacted
      |FROM v ORDER BY doc_id""".stripMargin

  /** T37: the full Gopher rule gate (Rae et al. 2021 §A.1.1) with
    * per-rule attribution. The word-soup corpus is single-line and
    * near-uniform, so the query plants each violation class
    * deterministically: doc_id % 29 truncated to 10 words (word-count
    * rule), % 17 given 10 appended bullet lines (10/11 > 90%), % 19
    * given 30 '#' tokens (symbol ratio and alpha share), % 23 given
    * two ellipsis-final lines (2/3 > 30%). Every ratio is an integer
    * cross-multiplication both engines replay exactly. */
  val t37GopherRules: Q = (s, dir) => {
    import s.implicits._
    val bullets = (1 to 10).map(i => s"- bullet item $i").mkString("\n", "\n", "")
    val base = when($"doc_id" % 29 === 0,
        array_join(slice(split($"text", " "), 1, 10), " ")).otherwise($"text")
    val withBul = when($"doc_id" % 17 === 0, concat(base, lit(bullets))).otherwise(base)
    val withSym = when($"doc_id" % 19 === 0, concat(withBul, repeat(lit(" #"), 30)))
      .otherwise(withBul)
    val withEll = when($"doc_id" % 23 === 0,
        concat(withSym, lit("\nread more...\nsee details..."))).otherwise(withSym)
    val injected = Tables.load(s, dir, "documents")
      .select($"doc_id", withEll.as("text"))
    Corpus.gopherRules(injected, "text")
      .select($"doc_id", $"n_words", $"n_lines", $"sum_len", $"sym_hits",
        $"bullet_lines", $"ellipsis_lines", $"alpha_words", $"stop_hits",
        $"r_count", $"r_mean_len", $"r_symbol", $"r_bullet", $"r_ellipsis",
        $"r_alpha", $"r_stop", $"keep")
      .orderBy($"doc_id")
  }

  val t37GopherRulesSql: String = {
    val bullets = (1 to 10).map(i => s"- bullet item $i")
      .map(b => s"chr(10) || '$b'").mkString(" || ")
    s"""WITH inj AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 29 = 0
       |       THEN array_to_string(string_split(text, ' ')[1:10], ' ')
       |       ELSE text END)
       |    AS t0
       |  FROM documents),
       |i2 AS (
       |  SELECT doc_id,
       |    t0 || CASE WHEN doc_id % 17 = 0 THEN $bullets ELSE '' END AS t1
       |  FROM inj),
       |i3 AS (
       |  SELECT doc_id,
       |    t1 || CASE WHEN doc_id % 19 = 0 THEN repeat(' #', 30) ELSE '' END AS t2
       |  FROM i2),
       |i4 AS (
       |  SELECT doc_id,
       |    t2 || CASE WHEN doc_id % 23 = 0
       |      THEN chr(10) || 'read more...' || chr(10) || 'see details...'
       |      ELSE '' END AS text
       |  FROM i3),
       |m AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(text, '[ \\n]+'), w -> w <> '') AS words,
       |    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
       |    CAST(len(regexp_extract_all(text, '#')) +
       |         len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS sym_hits
       |  FROM i4),
       |x AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT)
       |      AS sum_len,
       |    sym_hits,
       |    CAST(len(list_filter(lines, l ->
       |      l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS bullet_lines,
       |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT)
       |      AS ellipsis_lines,
       |    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
       |      AS alpha_words,
       |    CAST(len(list_intersect(list_distinct(words),
       |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
       |  FROM m)
       |SELECT doc_id, n_words, n_lines, sum_len, sym_hits, bullet_lines,
       |  ellipsis_lines, alpha_words, stop_hits,
       |  (n_words >= 50 AND n_words <= 100000) AS r_count,
       |  (3 * n_words <= sum_len AND sum_len <= 10 * n_words) AS r_mean_len,
       |  (10 * sym_hits < n_words) AS r_symbol,
       |  (10 * bullet_lines < 9 * n_lines) AS r_bullet,
       |  (10 * ellipsis_lines < 3 * n_lines) AS r_ellipsis,
       |  (5 * alpha_words >= 4 * n_words) AS r_alpha,
       |  (stop_hits >= 2) AS r_stop,
       |  ((n_words >= 50 AND n_words <= 100000)
       |   AND (3 * n_words <= sum_len AND sum_len <= 10 * n_words)
       |   AND (10 * sym_hits < n_words)
       |   AND (10 * bullet_lines < 9 * n_lines)
       |   AND (10 * ellipsis_lines < 3 * n_lines)
       |   AND (5 * alpha_words >= 4 * n_words)
       |   AND (stop_hits >= 2)) AS keep
       |FROM x ORDER BY doc_id""".stripMargin
  }

  /** T11: Gopher-style repetition signals per document (duplicate-token
    * and top-bigram fractions, integer basis points). */
  val t11Repetition: Q = (s, dir) => {
    import s.implicits._
    Corpus.repetitionStats(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t11RepetitionSql: String =
    """WITH w AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
      |    unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |ww AS (SELECT * FROM w WHERE word <> ''),
      |ws AS (
      |  SELECT doc_id, count(*) AS n_words, count(DISTINCT word) AS n_distinct
      |  FROM ww GROUP BY 1),
      |bg AS (
      |  SELECT doc_id,
      |    word || ' ' || lead(word) OVER (PARTITION BY doc_id ORDER BY pos) AS bigram
      |  FROM ww QUALIFY bigram IS NOT NULL),
      |bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |tb AS (
      |  SELECT doc_id, bigram AS top_bigram, cnt AS top_n FROM bc
      |  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram) = 1)
      |SELECT ws.doc_id,
      |  CAST(n_words AS BIGINT) AS n_words,
      |  CAST(n_distinct AS BIGINT) AS n_distinct,
      |  CAST((n_words - n_distinct) * 10000 // n_words AS BIGINT) AS dup_bp,
      |  top_bigram,
      |  CAST(top_n AS BIGINT) AS top_n,
      |  CAST(top_n * 10000 // (n_words - 1) AS BIGINT) AS top_bp
      |FROM ws JOIN tb USING (doc_id)
      |WHERE n_words >= 2
      |ORDER BY doc_id""".stripMargin

  /** T12: domain-mix rebalancing — sample each source toward a target
    * mixture share of half the corpus, keep rule = salted md5 bucket.
    * Weights come from the source index (a stand-in for a mixture
    * spec: w = 100 + 50*(idx mod 8)). */
  val t12DomainMix: Q = (s, dir) => {
    import s.implicits._
    Corpus.domainMix(Tables.load(s, dir, "documents"), "doc_id", "source",
        expr("100 + 50 * (cast(substr(src, 4) as bigint) % 8)"))
      .select($"doc_id", $"source", $"bucket")
      .orderBy($"doc_id")
  }

  val t12DomainMixSql: String =
    """WITH counts AS (
      |  SELECT source AS src, count(*) AS n_s,
      |    100 + 50 * (CAST(substr(source, 4) AS BIGINT) % 8) AS w_s
      |  FROM documents GROUP BY 1),
      |rates AS (
      |  SELECT src,
      |    least(10000,
      |      ((sum(n_s) OVER () // 2) * w_s // sum(w_s) OVER ()) * 10000 // n_s)
      |      AS keep_bp
      |  FROM counts),
      |b AS (
      |  SELECT doc_id, source,
      |    ('0x' || substr(md5('mix:' || doc_id::VARCHAR), 1, 10))::BIGINT % 10000 AS bucket
      |  FROM documents)
      |SELECT doc_id, source, bucket
      |FROM b JOIN rates ON b.source = rates.src
      |WHERE bucket < keep_bp
      |ORDER BY doc_id""".stripMargin

  /** N4: symmetric int8 quantization of the embedding column with
    * exact integer self-dot and round-6 max reconstruction error
    * (floor-quantization — engine round() ties can't diverge). The
    * library operator emits `q` as array<bigint>; the GATE projection
    * joins it to a canonical comma string because the driver's pandas
    * verifier cannot sort/hash array cells — the check stays exact
    * (same digits, same order) while the harness sees a scalar. */
  val n4Quantize: Q = (s, dir) => {
    import s.implicits._
    Quantize.quantize(Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .withColumn("q", array_join($"q", ","))
      .orderBy($"vec_id")
  }

  val n4QuantizeSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (
      |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e),
      |qq AS (
      |  SELECT vec_id, v, max_abs,
      |    CASE WHEN max_abs = 0 THEN list_transform(v, x -> 0::BIGINT)
      |         ELSE list_transform(v, x -> greatest(-127, CAST(floor(x * 127.0 / max_abs) AS BIGINT)))
      |    END AS q
      |  FROM m)
      |SELECT vec_id, max_abs, array_to_string(q, ',') AS q,
      |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qdot,
      |  CASE WHEN max_abs = 0 THEN 0.0
      |       ELSE round(list_max(list_transform(range(len(v)),
      |              i -> abs(v[i + 1] - q[i + 1] * max_abs / 127.0))), 6)
      |  END AS err
      |FROM qq ORDER BY vec_id""".stripMargin

  /** T30: decontamination by SPAN EXCISION
    * (Corpus.decontaminateSpans) — t13's construction (benchmark =
    * every 211th doc, the first 8 words of bench doc 5 appended to
    * every 89th corpus doc) but instead of flagging whole documents,
    * the benchmark-overlapping word spans are CUT OUT and the
    * remainder reassembled: contaminated docs come back with exactly
    * the planted snippet removed, clean docs untouched. The oracle
    * replays the construction, the n-gram marking, the ≤n× coverage
    * fan-out, and the ordered reassembly. */
  val t30DecontaminateSpans: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.loadSpread(s, dir, "documents")
    val bench = docs.filter($"doc_id" % 211 === 5)
    val snip = bench.filter($"doc_id" === 5)
      .select(array_join(
        slice(filter(split($"text", " "), x => x =!= ""), 1, 8), " ").as("snip"))
    val corpus = docs.filter($"doc_id" % 211 =!= 5)
      .crossJoin(broadcast(snip))
      .withColumn("text", concat($"text",
        when($"doc_id" % 89 === 3, concat(lit(" "), $"snip")).otherwise(lit(""))))
    Corpus.decontaminateSpans(corpus, bench, "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  val t30DecontaminateSpansSql: String =
    """WITH snip AS (
      |  SELECT array_to_string(
      |    list_filter(string_split(text, ' '), x -> x <> '')[1:8], ' ') AS s
      |  FROM documents WHERE doc_id = 5),
      |bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 211 = 5),
      |corpus AS (
      |  SELECT doc_id,
      |    text || CASE WHEN doc_id % 89 = 3 THEN ' ' || s ELSE '' END AS text
      |  FROM documents, snip WHERE doc_id % 211 <> 5),
      |bg AS (
      |  SELECT DISTINCT md5(array_to_string(w[i+1 : i+8], ' ')) AS h
      |  FROM (SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
      |        FROM bench) b,
      |       LATERAL (SELECT unnest(range(len(b.w) - 7)) AS i) x
      |  WHERE len(b.w) >= 8),
      |base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM corpus),
      |wp AS (
      |  SELECT doc_id, i + 1 AS pos, md5(array_to_string(w[i+1 : i+8], ' ')) AS h
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
      |        FROM base WHERE len(w) >= 8)),
      |cov AS (
      |  SELECT DISTINCT wp.doc_id, wp.pos + d.d AS pos
      |  FROM wp JOIN bg USING (h), (SELECT unnest(range(8)) AS d) d),
      |covn AS (SELECT doc_id, count(*) AS nrem FROM cov GROUP BY doc_id),
      |words AS (
      |  SELECT b.doc_id, x.i + 1 AS pos, b.w[x.i + 1] AS word
      |  FROM base b JOIN covn USING (doc_id),
      |       LATERAL (SELECT unnest(range(len(b.w))) AS i) x),
      |kept AS (
      |  SELECT wo.doc_id, wo.pos, wo.word
      |  FROM words wo LEFT JOIN cov ON wo.doc_id = cov.doc_id AND wo.pos = cov.pos
      |  WHERE cov.pos IS NULL),
      |re AS (
      |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS ct
      |  FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS total_words,
      |  CAST(coalesce(covn.nrem, 0) AS BIGINT) AS removed_words,
      |  CASE WHEN covn.doc_id IS NOT NULL THEN coalesce(re.ct, '')
      |       ELSE coalesce(b.text, '') END AS cleaned_text
      |FROM base b LEFT JOIN covn USING (doc_id) LEFT JOIN re USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** N17: BLOCKWISE int8 quantization (Quantize.quantizeBlockwise) —
    * n4's per-vector scale replaced by one scale per 16-dim block, the
    * bitsandbytes/GGUF-Q8 production layout (an outlier dimension
    * costs only its own block). Same floor/clamp determinism as n4;
    * the oracle replays the block slicing and every formula. */
  val n17BlockwiseQuant: Q = (s, dir) => {
    import s.implicits._
    Quantize.quantizeBlockwise(
        Tables.load(s, dir, "embeddings"), "vec_id", "embedding")
      .withColumn("q", array_join($"q", ","))
      .withColumn("scale", round($"scale", 6))
      .orderBy($"vec_id", $"block")
  }

  val n17BlockwiseQuantSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |blk AS (
      |  SELECT vec_id, b AS block, v[b*16+1 : b*16+16] AS bv
      |  FROM e, LATERAL (SELECT unnest(range(CAST(ceil(len(v) / 16.0) AS BIGINT))) AS b)),
      |m AS (
      |  SELECT vec_id, block, bv,
      |    list_max(list_transform(bv, x -> abs(x))) AS ms
      |  FROM blk),
      |qq AS (
      |  SELECT vec_id, block, bv, ms,
      |    CASE WHEN ms = 0 THEN list_transform(bv, x -> 0::BIGINT)
      |         ELSE list_transform(bv, x -> greatest(-127, CAST(floor(x * 127.0 / ms) AS BIGINT)))
      |    END AS q
      |  FROM m)
      |SELECT vec_id, block, round(ms, 6) AS scale,
      |  array_to_string(q, ',') AS q,
      |  CAST(list_sum(list_transform(q, x -> x * x)) AS BIGINT) AS qdot,
      |  CASE WHEN ms = 0 THEN 0.0
      |       ELSE round(list_max(list_transform(range(len(bv)),
      |              i -> abs(bv[i + 1] - q[i + 1] * ms / 127.0))), 6)
      |  END AS err
      |FROM qq ORDER BY vec_id, block""".stripMargin

  /** T38: the full Gopher REPETITION battery
    * (Corpus.gopherRepetition, Rae et al. 2021 Table A1). The
    * word-soup corpus is single-line and near-duplicate-free, so the
    * query plants each repetition class deterministically from the
    * doc's OWN words: doc_id % 13 == 2 re-appends its first 10 words
    * (a duplicated 10-gram, which also covers 5-grams), % 19 == 6
    * appends its first 5 words TWICE (a dup 5-gram + a top-gram spike
    * without any 10-gram), % 17 == 0 appends three identical nav
    * lines (duplicate-line fractions). The oracle replays the
    * injection, the per-doc gram counting, the tie-broken top pick,
    * and the covered-position union character sums. */
  val t38GopherRepetition: Q = (s, dir) => {
    import s.implicits._
    val w0 = filter(split($"text", " "), x => x =!= "")
    val first10 = array_join(slice(w0, 1, 10), " ")
    val first5 = array_join(slice(w0, 1, 5), " ")
    val nav = "\nnav menu item\nnav menu item\nnav menu item"
    val injected = Tables.load(s, dir, "documents")
      .select($"doc_id", concat($"text",
        when($"doc_id" % 13 === 2, concat(lit(" "), first10)).otherwise(lit("")),
        when($"doc_id" % 19 === 6,
          concat(lit(" "), first5, lit(" "), first5)).otherwise(lit("")),
        when($"doc_id" % 17 === 0, lit(nav)).otherwise(lit(""))).as("text"))
    Corpus.gopherRepetition(injected, "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t38GopherRepetitionSql: String =
    """WITH w0 AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ww
      |  FROM documents),
      |inj AS (
      |  SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 13 = 2
      |         THEN ' ' || array_to_string(ww[1:10], ' ') ELSE '' END
      |    || CASE WHEN doc_id % 19 = 6
      |         THEN ' ' || array_to_string(ww[1:5], ' ')
      |           || ' ' || array_to_string(ww[1:5], ' ') ELSE '' END
      |    || CASE WHEN doc_id % 17 = 0
      |         THEN chr(10) || 'nav menu item' || chr(10) || 'nav menu item'
      |           || chr(10) || 'nav menu item' ELSE '' END AS text
      |  FROM w0),
      |base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), chr(10)), l -> l <> '') AS lines,
      |    list_filter(string_split_regex(coalesce(text, ''), '[ \n]+'), x -> x <> '') AS w
      |  FROM inj),
      |b3 AS (
      |  SELECT doc_id, lines, w,
      |    CAST(len(lines) AS BIGINT) AS n_lines,
      |    CAST(len(w) AS BIGINT) AS n_words,
      |    CAST(coalesce(list_sum(list_transform(w, x -> len(x))), 0) AS BIGINT)
      |      AS total_chars,
      |    CAST(coalesce(list_sum(list_transform(lines, l -> len(l))), 0) AS BIGINT)
      |      AS line_chars,
      |    CAST(len(list_distinct(lines)) AS BIGINT) AS n_dls,
      |    CAST(coalesce(list_sum(list_transform(list_distinct(lines),
      |      l -> len(l))), 0) AS BIGINT) AS distinct_line_chars
      |  FROM base),
      |g2 AS (SELECT doc_id, total_chars,
      |         array_to_string(w[i+1:i+2], ' ') AS gram
      |       FROM (SELECT doc_id, total_chars, w, unnest(range(len(w) - 1)) AS i
      |             FROM b3 WHERE len(w) >= 2)),
      |g3 AS (SELECT doc_id, total_chars,
      |         array_to_string(w[i+1:i+3], ' ') AS gram
      |       FROM (SELECT doc_id, total_chars, w, unnest(range(len(w) - 2)) AS i
      |             FROM b3 WHERE len(w) >= 3)),
      |g4 AS (SELECT doc_id, total_chars,
      |         array_to_string(w[i+1:i+4], ' ') AS gram
      |       FROM (SELECT doc_id, total_chars, w, unnest(range(len(w) - 3)) AS i
      |             FROM b3 WHERE len(w) >= 4)),
      |t2c AS (SELECT doc_id, total_chars, gram, count(*) AS cnt
      |        FROM g2 GROUP BY doc_id, total_chars, gram),
      |t2 AS (SELECT doc_id,
      |         least(10000, (cnt * (len(gram) - 1) * 10000) // total_chars)
      |           AS top2gram_bp
      |       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |               ORDER BY cnt DESC, gram) AS rn FROM t2c)
      |       WHERE rn = 1),
      |t3c AS (SELECT doc_id, total_chars, gram, count(*) AS cnt
      |        FROM g3 GROUP BY doc_id, total_chars, gram),
      |t3 AS (SELECT doc_id,
      |         least(10000, (cnt * (len(gram) - 2) * 10000) // total_chars)
      |           AS top3gram_bp
      |       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |               ORDER BY cnt DESC, gram) AS rn FROM t3c)
      |       WHERE rn = 1),
      |t4c AS (SELECT doc_id, total_chars, gram, count(*) AS cnt
      |        FROM g4 GROUP BY doc_id, total_chars, gram),
      |t4 AS (SELECT doc_id,
      |         least(10000, (cnt * (len(gram) - 3) * 10000) // total_chars)
      |           AS top4gram_bp
      |       FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
      |               ORDER BY cnt DESC, gram) AS rn FROM t4c)
      |       WHERE rn = 1),
      |g5 AS (SELECT doc_id, i + 1 AS pos,
      |         md5(array_to_string(w[i+1:i+5], ' ')) AS h
      |       FROM (SELECT doc_id, w, unnest(range(len(w) - 4)) AS i
      |             FROM b3 WHERE len(w) >= 5)),
      |d5 AS (SELECT doc_id, h FROM
      |         (SELECT doc_id, h, count(*) AS c FROM g5 GROUP BY doc_id, h)
      |       WHERE c >= 2),
      |c5 AS (SELECT DISTINCT g5.doc_id, g5.pos + o.o AS p
      |       FROM g5 JOIN d5 USING (doc_id, h),
      |            (SELECT unnest(range(5)) AS o) o),
      |s5 AS (SELECT c5.doc_id, CAST(sum(len(b3.w[c5.p])) AS BIGINT) AS cchars
      |       FROM c5 JOIN b3 USING (doc_id) GROUP BY c5.doc_id),
      |g10 AS (SELECT doc_id, i + 1 AS pos,
      |          md5(array_to_string(w[i+1:i+10], ' ')) AS h
      |        FROM (SELECT doc_id, w, unnest(range(len(w) - 9)) AS i
      |              FROM b3 WHERE len(w) >= 10)),
      |d10 AS (SELECT doc_id, h FROM
      |          (SELECT doc_id, h, count(*) AS c FROM g10 GROUP BY doc_id, h)
      |        WHERE c >= 2),
      |c10 AS (SELECT DISTINCT g10.doc_id, g10.pos + o.o AS p
      |        FROM g10 JOIN d10 USING (doc_id, h),
      |             (SELECT unnest(range(10)) AS o) o),
      |s10 AS (SELECT c10.doc_id, CAST(sum(len(b3.w[c10.p])) AS BIGINT) AS cchars
      |        FROM c10 JOIN b3 USING (doc_id) GROUP BY c10.doc_id)
      |SELECT b3.doc_id, n_words, n_lines,
      |  CAST(CASE WHEN n_lines > 0
      |    THEN ((n_lines - n_dls) * 10000) // n_lines ELSE 0 END AS BIGINT)
      |    AS dup_line_bp,
      |  CAST(CASE WHEN line_chars > 0
      |    THEN ((line_chars - distinct_line_chars) * 10000) // line_chars
      |    ELSE 0 END AS BIGINT) AS dup_line_char_bp,
      |  CAST(coalesce(t2.top2gram_bp, 0) AS BIGINT) AS top2gram_bp,
      |  CAST(coalesce(t3.top3gram_bp, 0) AS BIGINT) AS top3gram_bp,
      |  CAST(coalesce(t4.top4gram_bp, 0) AS BIGINT) AS top4gram_bp,
      |  CAST(CASE WHEN s5.cchars IS NULL THEN 0
      |    ELSE (s5.cchars * 10000) // total_chars END AS BIGINT) AS dup5gram_bp,
      |  CAST(CASE WHEN s10.cchars IS NULL THEN 0
      |    ELSE (s10.cchars * 10000) // total_chars END AS BIGINT) AS dup10gram_bp
      |FROM b3
      |LEFT JOIN t2 USING (doc_id) LEFT JOIN t3 USING (doc_id)
      |LEFT JOIN t4 USING (doc_id) LEFT JOIN s5 USING (doc_id)
      |LEFT JOIN s10 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** T39: n-gram novelty audit (Corpus.ngramNovelty) — the share of
    * each document's 8-grams that occur nowhere else in the corpus.
    * The word-soup corpus is near-fully novel, so the query plants
    * SHARED text deterministically: every 7th doc gets pangram tail A,
    * every doc ≡ 1 (mod 3) gets pangram tail B — tail grams (and, for
    * docs carrying both, the A→B boundary grams shared by the mod-21
    * class) are non-novel, and each doc's novelty drops by its length.
    * The oracle replays the injection, the md5 gram counting, and the
    * count==1 filter. */
  val t39NgramNovelty: Q = (s, dir) => {
    import s.implicits._
    val tailA = " the quick brown fox jumps over lazy dogs"
    val tailB = " pack my box with five dozen liquor jugs"
    val injected = Tables.loadSpread(s, dir, "documents")
      .select($"doc_id", concat($"text",
        when($"doc_id" % 7 === 0, lit(tailA)).otherwise(lit("")),
        when($"doc_id" % 3 === 1, lit(tailB)).otherwise(lit(""))).as("text"))
    Corpus.ngramNovelty(injected, "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  val t39NgramNoveltySql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 7 = 0
      |         THEN ' the quick brown fox jumps over lazy dogs' ELSE '' END
      |    || CASE WHEN doc_id % 3 = 1
      |         THEN ' pack my box with five dozen liquor jugs' ELSE '' END AS text
      |  FROM documents),
      |base AS (
      |  SELECT doc_id,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM inj),
      |wp AS (
      |  SELECT doc_id, md5(array_to_string(w[i+1:i+8], ' ')) AS h
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 7)) AS i
      |        FROM base WHERE len(w) >= 8)),
      |c AS (SELECT h, count(*) AS c FROM wp GROUP BY h),
      |pd AS (SELECT doc_id, count(*) AS n_ngrams,
      |         CAST(sum(CASE WHEN c.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
      |       FROM wp JOIN c USING (h) GROUP BY doc_id)
      |SELECT b.doc_id,
      |  CAST(coalesce(pd.n_ngrams, 0) AS BIGINT) AS n_ngrams,
      |  CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
      |  CAST(CASE WHEN coalesce(pd.n_ngrams, 0) > 0
      |    THEN (pd.n_novel * 10000) // pd.n_ngrams ELSE 0 END AS BIGINT)
      |    AS novelty_bp
      |FROM base b LEFT JOIN pd USING (doc_id) ORDER BY doc_id""".stripMargin

  /** T13: benchmark decontamination. Benchmark items = every 211th
    * document; contamination is planted by appending the first 8 words
    * of benchmark doc 5 to every 89th corpus doc (same construction in
    * the oracle — the d5 injected-copies pattern). A doc is flagged if
    * any of its word 8-grams appears in any benchmark item. */
  val t13Decontaminate: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val bench = docs.filter($"doc_id" % 211 === 5)
    val snip = bench.filter($"doc_id" === 5)
      .select(array_join(
        slice(filter(split($"text", " "), x => x =!= ""), 1, 8), " ").as("snip"))
    val corpus = docs.filter($"doc_id" % 211 =!= 5)
      .crossJoin(broadcast(snip))
      .withColumn("text", concat($"text",
        when($"doc_id" % 89 === 3, concat(lit(" "), $"snip")).otherwise(lit(""))))
    Corpus.decontaminate(corpus, bench, "doc_id", "text", n = 8)
      .orderBy($"doc_id")
  }

  val t13DecontaminateSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents),
      |snip AS (SELECT array_to_string(ws[1:8], ' ') AS s FROM w WHERE doc_id = 5),
      |bn AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(range(0, greatest(len(ws) - 7, 0)),
      |      i -> array_to_string(ws[i+1:i+8], ' '))) AS ngram
      |  FROM w WHERE doc_id % 211 = 5),
      |corpus AS (
      |  SELECT d.doc_id,
      |    d.text || CASE WHEN d.doc_id % 89 = 3
      |                   THEN ' ' || (SELECT s FROM snip) ELSE '' END AS text
      |  FROM documents d WHERE d.doc_id % 211 <> 5),
      |cw AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM corpus),
      |cn AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(0, greatest(len(ws) - 7, 0)),
      |      i -> array_to_string(ws[i+1:i+8], ' '))) AS ngram
      |  FROM cw)
      |SELECT cn.doc_id, count(*) AS n_hits, min(cn.ngram) AS sample_ngram
      |FROM cn JOIN bn USING (ngram)
      |GROUP BY cn.doc_id ORDER BY doc_id""".stripMargin

  /** N5: LSH-bucketed ANN (signed random projections) — the second
    * scale path next to IVF (n2). Buckets are per-row expression work
    * (no index-build shuffle); queries multi-probe their bucket plus
    * the 6 hamming-1 flips; exact cosine rerank inside probed buckets.
    * The hyperplane matrix is md5-seeded integers, so the oracle
    * rebuilds it bit-identically, and elements are floor-quantized to
    * 2^20 so every projection term and sum is an exact integer in
    * doubles — a sign bit can never flip from float summation order,
    * and the whole bucket assignment stays in codegen (native
    * dot_product; no decimal, no interpreted lambda). */
  val n5AnnLsh: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    graft.operators.Similarity
      .lshTopK(emb, emb.filter($"vec_id" < 5), dim = 64, nBits = 6, k = 10)
      .orderBy($"qid", $"cos".desc, $"vec_id")
  }

  /** The SRP-LSH probe-and-score CTE chain up to `scored(qid, vec_id,
    * cos)` — shared by n5 (top-10 listing) and n9 (recall vs brute
    * force), mirroring TextPipeline's ivfScoredCtes/n8 pairing. */
  private val lshScoredCtes: String =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planes AS (
      |  SELECT j, i,
      |    ('0x' || substr(md5('lsh:' || j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT
      |      % 2001 - 1000 AS k
      |  FROM range(0, 6) t1(j), range(0, 64) t2(i)),
      |proj AS (
      |  SELECT e.vec_id, p.j,
      |    sum(floor(e.v[p.i + 1] * 1048576.0) * p.k) AS pr
      |  FROM e, planes p GROUP BY 1, 2),
      |bk AS (
      |  SELECT vec_id,
      |    sum(CASE WHEN pr >= 0 THEN CAST(round(pow(2, j)) AS BIGINT) ELSE 0 END) AS bucket
      |  FROM proj GROUP BY 1),
      |c AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id)),
      |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qb FROM c WHERE vec_id < 5),
      |probes AS (
      |  SELECT qid, qv,
      |    unnest(list_distinct(list_prepend(qb, list_transform(range(0, 6),
      |      j -> xor(qb, CAST(round(pow(2, j)) AS BIGINT)))))) AS bucket
      |  FROM q),
      |scored AS (
      |  SELECT p.qid, c.vec_id,
      |    round(list_dot_product(p.qv, c.v) /
      |          (sqrt(list_dot_product(p.qv, p.qv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos
      |  FROM c JOIN probes p USING (bucket)
      |  WHERE c.vec_id <> p.qid)""".stripMargin

  val n5AnnLshSql: String =
    s"""WITH $lshScoredCtes
       |SELECT qid, vec_id, cos FROM scored
       |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10
       |ORDER BY qid, cos DESC, vec_id""".stripMargin

  /** N15: retrieval ranking metrics — where does the approximate
    * (LSH) ranking place each query's TRUE nearest neighbor? Emits
    * the rank-of-true (0 = missed), reciprocal rank in integer basis
    * points (MRR's per-query term), and the round-6 DCG discount
    * 1/log2(rank+1) — the eval harness an ANN pipeline runs next to
    * its recall gate (n8/n9). Ranks are total-ordered (cos desc,
    * vec_id) on both engines; the discount is log2 of a small
    * identical integer, the t19-proven parity pattern. */
  val n15RankMetrics: Q = (s, dir) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val rel = graft.operators.Similarity.cosineTopK(emb, q, k = 1)
      .select($"qid", $"vec_id".as("rel_id"))
    val approx = graft.operators.Similarity
      .lshTopK(emb, q, dim = 64, nBits = 6, k = 10)
      .withColumn("r", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"vec_id")).cast("long"))
      .select($"qid".as("aqid"), $"vec_id", $"r")
    rel.join(approx, $"qid" === $"aqid" && $"rel_id" === $"vec_id", "left")
      .select($"qid",
        coalesce($"r", lit(0L)).as("rank_of_true"),
        when($"r".isNotNull, expr("10000 DIV r")).otherwise(lit(0L)).as("rr_bp"),
        when($"r".isNotNull,
          expr("round(1.0 / log2(CAST(r + 1 AS DOUBLE)), 6)"))
          .otherwise(lit(0.0)).as("dcg"))
      .orderBy($"qid")
  }

  lazy val n15RankMetricsSql: String =
    s"""WITH $lshScoredCtes,
       |approx AS (
       |  SELECT qid, vec_id,
       |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS r
       |  FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10),
       |escored AS (
       |  SELECT q.qid, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |rel AS (
       |  SELECT qid, vec_id AS rel_id FROM escored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) = 1)
       |SELECT rel.qid, coalesce(a.r, 0) AS rank_of_true,
       |  CASE WHEN a.r IS NOT NULL THEN 10000 // a.r ELSE 0 END AS rr_bp,
       |  CASE WHEN a.r IS NOT NULL
       |       THEN round(1.0 / log2(CAST(a.r + 1 AS DOUBLE)), 6) ELSE 0.0 END AS dcg
       |FROM rel LEFT JOIN approx a ON rel.qid = a.qid AND rel.rel_id = a.vec_id
       |ORDER BY rel.qid""".stripMargin

  /** N9: recall@10 of the SRP-LSH index against exact brute force —
    * n8's quality gate for the SECOND ANN path: hamming-1 multiprobe
    * over 6-bit sign buckets, measured against the same fully
    * tie-broken exact ranking, so recall is an exact integer (basis
    * points). Pins SRP-LSH retrieval QUALITY, not just its plan shape;
    * at scale this runs on a sample of queries (here: the 5 gate
    * queries). */
  val n9LshRecall: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val exact = graft.operators.Similarity.cosineTopK(emb, q, k = 10)
      .select($"qid", $"vec_id")
    val approx = graft.operators.Similarity
      .lshTopK(emb, q, dim = 64, nBits = 6, k = 10)
      .select($"qid", $"vec_id").withColumn("hit", lit(1))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy($"qid")
      .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
      .select($"qid", $"n_hits", ($"n_hits" * 1000).as("recall_bp"))
      .orderBy($"qid")
  }

  val n9LshRecallSql: String =
    s"""WITH $lshScoredCtes,
       |approx AS (
       |  SELECT qid, vec_id FROM scored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10),
       |escored AS (
       |  SELECT q.qid, e.vec_id,
       |    round(list_dot_product(q.qv, e.v) /
       |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
       |  FROM e, q WHERE e.vec_id <> q.qid),
       |exact AS (
       |  SELECT qid, vec_id FROM escored
       |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10)
       |SELECT x.qid, count(a.vec_id) AS n_hits,
       |       count(a.vec_id) * 1000 AS recall_bp
       |FROM exact x LEFT JOIN approx a USING (qid, vec_id)
       |GROUP BY x.qid ORDER BY x.qid""".stripMargin

  /** N14: Johnson–Lindenstrauss projection + exact re-rank recall —
    * project the 64-dim embeddings to 16 exact-integer dims with the
    * deterministic ±[0,1000] md5 matrix ([[graft.operators.Similarity.jlPlanes]]),
    * prefilter to the top-50 per query in SKETCH space (the only
    * corpus-sized scoring pass — on 4× smaller vectors), exact-re-rank
    * those 50 in full space, and report recall@10 against the
    * full-space exact top-10. The dimensionality-reduction leg of the
    * ANN family: IVF partitions, SRP-LSH buckets, PQ encodes, JL
    * shrinks. Quantized projection arithmetic is exact integer (see
    * srpBucket's analysis), so the oracle rebuilds the identical
    * matrix, sketches, and both rankings from the seed strings. */
  val n14JlRecall: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    val q = emb.filter($"vec_id" < 5)
    val exact = graft.operators.Similarity.cosineTopK(emb, q, k = 10)
      .select($"qid", $"vec_id")
    val approx = graft.operators.Similarity
      .jlRerankTopK(emb, q, dim = 64, kDim = 16, k0 = 50, k = 10)
      .select($"qid", $"vec_id").withColumn("hit", lit(1))
    exact.join(approx, Seq("qid", "vec_id"), "left")
      .groupBy($"qid")
      .agg(sum(coalesce($"hit", lit(0))).as("n_hits"))
      .select($"qid", $"n_hits", ($"n_hits" * 1000).as("recall_bp"))
      .orderBy($"qid")
  }

  val n14JlRecallSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |planes AS (
      |  SELECT j, i,
      |    ('0x' || substr(md5('jl:' || j::VARCHAR || ':' || i::VARCHAR), 1, 8))::BIGINT % 2001 - 1000 AS c
      |  FROM range(16) t1(j), range(64) t2(i)),
      |vq AS (
      |  SELECT vec_id, i, CAST(floor(v[i + 1] * 1048576.0) AS BIGINT) AS x
      |  FROM e, range(64) t(i)),
      |proj AS (
      |  SELECT vec_id, j, sum(x * c) AS p
      |  FROM vq JOIN planes USING (i) GROUP BY vec_id, j),
      |pv AS (
      |  SELECT vec_id, (list(p::DOUBLE ORDER BY j)) AS v FROM proj GROUP BY vec_id),
      |pq AS (SELECT vec_id AS qid, v AS qv FROM pv WHERE vec_id < 5),
      |ascored AS (
      |  SELECT pq.qid, pv.vec_id,
      |    round(list_dot_product(pq.qv, pv.v) /
      |          (sqrt(list_dot_product(pq.qv, pq.qv)) * sqrt(list_dot_product(pv.v, pv.v))), 6) + 0 AS cos
      |  FROM pq, pv WHERE pv.vec_id <> pq.qid),
      |cand AS (
      |  SELECT qid, vec_id FROM ascored
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 50),
      |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 5),
      |rerank AS (
      |  SELECT c.qid, c.vec_id,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) + 0 AS cos
      |  FROM cand c JOIN e ON e.vec_id = c.vec_id JOIN q ON q.qid = c.qid),
      |approx AS (
      |  SELECT qid, vec_id FROM rerank
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10),
      |escored AS (
      |  SELECT q.qid, e.vec_id,
      |    round(list_dot_product(q.qv, e.v) /
      |          (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(e.v, e.v))), 6) AS cos
      |  FROM q, e WHERE e.vec_id <> q.qid),
      |exact AS (
      |  SELECT qid, vec_id FROM escored
      |  QUALIFY row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) <= 10)
      |SELECT x.qid, count(a.vec_id) AS n_hits,
      |       count(a.vec_id) * 1000 AS recall_bp
      |FROM exact x LEFT JOIN approx a USING (qid, vec_id)
      |GROUP BY x.qid ORDER BY x.qid""".stripMargin

  /** T15: URL/domain extraction — the web-corpus provenance op:
    * pull URLs out of text, reduce to domains, count per domain.
    * URLs are planted deterministically (same construction in the
    * oracle); the patterns are ASCII-only and lookaround-free so Java
    * regex and RE2 agree. Per-row extract + one small groupBy on
    * domains — no corpus-sized shuffle beyond the domain counts. */
  val t15UrlExtract: Q = (s, dir) => {
    import s.implicits._
    val urlPat = "https?://[A-Za-z0-9._/-]+"
    val injected = Tables.load(s, dir, "documents")
      .withColumn("text", concat($"text",
        when($"doc_id" % 13 === 2,
          concat(lit(" see https://site"), ($"doc_id" % 50).cast("string"),
            lit(".example.com/p/"), $"doc_id".cast("string"), lit(" now")))
          .otherwise(lit("")),
        when($"doc_id" % 17 === 3,
          concat(lit(" ref http://www.test"), ($"doc_id" % 20).cast("string"),
            lit(".org/x")))
          .otherwise(lit(""))))
    injected
      .select($"doc_id", explode(expr(s"regexp_extract_all(text, '$urlPat', 0)")).as("url"))
      .select($"doc_id", $"url",
        regexp_extract($"url", "https?://([A-Za-z0-9._-]+)", 1).as("domain"))
      .groupBy($"domain")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("first_doc"))
      .orderBy($"domain")
  }

  val t15UrlExtractSql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    text
      |    || CASE WHEN doc_id % 13 = 2
      |         THEN ' see https://site' || (doc_id % 50)::VARCHAR
      |              || '.example.com/p/' || doc_id::VARCHAR || ' now'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 17 = 3
      |         THEN ' ref http://www.test' || (doc_id % 20)::VARCHAR || '.org/x'
      |         ELSE '' END AS text
      |  FROM documents),
      |u AS (
      |  SELECT doc_id,
      |    unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9._/-]+')) AS url
      |  FROM inj)
      |SELECT regexp_extract(url, 'https?://([A-Za-z0-9._-]+)', 1) AS domain,
      |  count(*) AS n, min(doc_id) AS first_doc
      |FROM u GROUP BY 1 ORDER BY domain""".stripMargin

  /** T35: URL canonicalization ([[Corpus.normalizeUrl]]) — provenance
    * dedup: four planted crawl variants per page (clean; upper-cased
    * scheme/host + `www.` + default port + trailing slash; unordered
    * params + `utm_` tracker; tracker + fragment) collapse to two
    * canonical keys per page, then group to (occurrences, distinct raw
    * forms). The page key derives from `doc_id div 4` and the variant
    * from `doc_id % 4`, so every run of four ids is one page in four
    * spellings — the collapse is non-vacuous at every scale factor.
    * One codegen'd per-row expression chain + one small groupBy on the
    * canonical key — the same shape URL-level dedup has at crawl
    * scale. Oracle replays the construction and every normalization
    * rule in DuckDB's list/regex dialect. */
  val t35UrlCanon: Q = (s, dir) => {
    import s.implicits._
    // page identity from doc_id div 4, variant from doc_id % 4: the
    // four consecutive ids 4t..4t+3 are the SAME page in four crawl
    // spellings, so the collapse is exercised at every scale factor
    val k = expr("(doc_id div 4) % 97").cast("string")
    val m = expr("(doc_id div 4) % 23").cast("string")
    val v = $"doc_id" % 4
    val url = when(v === 0,
        concat(lit("https://example"), k, lit(".com/a/"), m))
      .when(v === 1,
        concat(lit("HTTPS://WWW.EXAMPLE"), k, lit(".COM:443/a/"), m, lit("/")))
      .when(v === 2,
        concat(lit("https://example"), k, lit(".com/a/"), m,
          lit("?utm_source=x&b=2&a=1")))
      .otherwise(
        concat(lit("https://www.example"), k, lit(".com/a/"), m,
          lit("/?a=1&b=2&utm_campaign=z#frag")))
    Tables.load(s, dir, "documents")
      .select($"doc_id", url.as("url"))
      .select($"url", Corpus.normalizeUrl($"url").as("canon_url"))
      .groupBy($"canon_url")
      .agg(count(lit(1)).as("n"), countDistinct($"url").as("n_raw_forms"))
      .orderBy($"canon_url")
  }

  val t35UrlCanonSql: String =
    """WITH u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'https://example' || ((doc_id // 4) % 97)::VARCHAR
      |        || '.com/a/' || ((doc_id // 4) % 23)::VARCHAR
      |      WHEN 1 THEN 'HTTPS://WWW.EXAMPLE' || ((doc_id // 4) % 97)::VARCHAR
      |        || '.COM:443/a/' || ((doc_id // 4) % 23)::VARCHAR || '/'
      |      WHEN 2 THEN 'https://example' || ((doc_id // 4) % 97)::VARCHAR
      |        || '.com/a/' || ((doc_id // 4) % 23)::VARCHAR || '?utm_source=x&b=2&a=1'
      |      ELSE 'https://www.example' || ((doc_id // 4) % 97)::VARCHAR
      |        || '.com/a/' || ((doc_id // 4) % 23)::VARCHAR || '/?a=1&b=2&utm_campaign=z#frag'
      |    END AS url
      |  FROM documents),
      |norm AS (
      |  SELECT url,
      |    lower(coalesce(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1), '')) AS scheme,
      |    lower(coalesce(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '')) AS hostport,
      |    regexp_replace(coalesce(regexp_extract(url,
      |      '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1), ''), '/+$', '') AS tpath,
      |    coalesce(regexp_extract(url, '^[^#?]*\?([^#]*)', 1), '') AS q
      |  FROM u),
      |qn AS (
      |  -- coalesce: duckdb's array_to_string is NULL on an empty list
      |  SELECT *, coalesce(array_to_string(list_sort(list_filter(string_split(q, '&'),
      |      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&'), '') AS qs
      |  FROM norm),
      |canon AS (
      |  SELECT url,
      |    scheme || '://'
      |    || regexp_replace(
      |         CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
      |              WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
      |              ELSE hostport END, '^www\.', '')
      |    || CASE WHEN tpath = '' THEN '/' ELSE tpath END
      |    || CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url
      |  FROM qn)
      |SELECT canon_url, count(*) AS n, count(DISTINCT url) AS n_raw_forms
      |FROM canon GROUP BY 1 ORDER BY canon_url""".stripMargin

  /** T16: HTML strip + entity decode — the first cleaning pass of any
    * web-scraped corpus: planted markup (tags, attribute quotes,
    * escaped entities) is stripped by a global tag regex and the five
    * standard entities decoded, named entities BEFORE `&amp;` so
    * decoding cannot manufacture new entities (`&amp;lt;` must yield
    * `&lt;`, not `<`). Pure per-row regex/replace chains — codegen'd,
    * shuffle-free, embarrassingly parallel. */
  val t16HtmlStrip: Q = (s, dir) => {
    import s.implicits._
    val html = Tables.load(s, dir, "documents")
      .withColumn("html", concat(
        lit("<p class=\"d\">"), substring($"text", 1, 60), lit("</p>"),
        when($"doc_id" % 3 === 0,
          concat(lit(" <a href=\"/doc/"), $"doc_id".cast("string"),
            lit("\">link&amp;ref</a>"))).otherwise(lit("")),
        when($"doc_id" % 5 === 1,
          lit(" <br/>&lt;escaped&gt; &quot;q&quot; it&#39;s")).otherwise(lit(""))))
    html.select($"doc_id",
      expr("CAST(regexp_count(html, '<[^>]*>') AS BIGINT)").as("n_tags"),
      expr("replace(replace(replace(replace(replace(" +
        "regexp_replace(html, '<[^>]*>', ''), " +
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), '&#39;', chr(39)), " +
        "'&amp;', '&')").as("clean"))
      .orderBy($"doc_id")
  }

  val t16HtmlStripSql: String =
    """WITH inj AS (
      |  SELECT doc_id,
      |    '<p class="d">' || substr(text, 1, 60) || '</p>'
      |    || CASE WHEN doc_id % 3 = 0
      |         THEN ' <a href="/doc/' || doc_id::VARCHAR || '">link&amp;ref</a>'
      |         ELSE '' END
      |    || CASE WHEN doc_id % 5 = 1
      |         THEN ' <br/>&lt;escaped&gt; &quot;q&quot; it&#39;s'
      |         ELSE '' END AS html
      |  FROM documents),
      |s AS (SELECT doc_id, html,
      |        regexp_replace(html, '<[^>]*>', '', 'g') AS stripped FROM inj)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(html, '<[^>]*>')) AS BIGINT) AS n_tags,
      |  replace(replace(replace(replace(replace(stripped,
      |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', chr(39)),
      |    '&amp;', '&') AS clean
      |FROM s ORDER BY doc_id""".stripMargin

  /** N6: quantized top-k retrieval — n4's int8 vectors actually used
    * for scoring: exact integer dots, rank de-quantized by the scale
    * product (identical doubles on both engines order identically).
    * Only integer columns are emitted, so the check is fully exact. */
  val n6QuantizedTopK: Q = (s, dir) => {
    import s.implicits._
    val emb = Tables.load(s, dir, "embeddings")
    Quantize.quantizedTopK(emb, emb.filter($"vec_id" < 5), "vec_id", "embedding", k = 10)
      .orderBy($"qid", $"qd".desc, $"vec_id")
  }

  val n6QuantizedTopKSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS max_abs FROM e),
      |qq AS (
      |  SELECT vec_id, max_abs,
      |    CASE WHEN max_abs = 0 THEN list_transform(v, x -> 0::BIGINT)
      |         ELSE list_transform(v, x -> greatest(-127, CAST(floor(x * 127.0 / max_abs) AS BIGINT)))
      |    END AS q
      |  FROM m),
      |qry AS (SELECT vec_id AS qid, q AS quq, max_abs AS mq FROM qq WHERE vec_id < 5),
      |scored AS (
      |  SELECT qry.qid, c.vec_id,
      |    CAST(list_sum(list_transform(range(len(c.q)), i -> c.q[i+1] * qry.quq[i+1])) AS BIGINT) AS qd,
      |    qry.mq * c.max_abs AS scale
      |  FROM qq c, qry WHERE c.vec_id <> qry.qid)
      |SELECT qid, vec_id, qd FROM scored
      |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY qd * scale DESC, vec_id) <= 10
      |ORDER BY qid, qd DESC, vec_id""".stripMargin

  /** T17: inverted-index build — word → (document frequency, head
    * posting block), the IR/retrieval structure over the corpus. The
    * posting list is capped at a 20-id head BLOCK the scale-safe way:
    * a per-word `row_number ≤ 20` BEFORE the collect, so no aggregate
    * buffer ever holds a hot word's full posting list (a stopword at
    * 100 TB has billions of postings; block-based storage is how real
    * indexes shard them). `df` stays exact over the full list via a
    * separate count aggregate — two shuffles over the deduplicated
    * (word, doc) stream, both map-side combined. The posting block is
    * emitted as a canonical comma-joined string (the driver's pandas
    * verifier cannot sort/hash array cells; same digits either way). */
  val t17InvertedIndex: Q = (s, dir) => {
    import s.implicits._
    val wd = Tables.load(s, dir, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("word"))
      .filter($"word" =!= "")
      .distinct()
    val dfreq = wd.groupBy($"word").agg(count(lit(1)).as("df"))
    val byWord = org.apache.spark.sql.expressions.Window
      .partitionBy($"word").orderBy($"doc_id")
    val head = wd
      .withColumn("rn", row_number().over(byWord))
      .filter($"rn" <= 20)
      .groupBy($"word")
      .agg(array_join(sort_array(collect_list($"doc_id")), ",").as("postings"))
    dfreq.join(head, "word").orderBy($"word")
  }

  val t17InvertedIndexSql: String =
    """SELECT word, count(DISTINCT doc_id) AS df,
      |  array_to_string((list(DISTINCT doc_id ORDER BY doc_id))[1:20], ',') AS postings
      |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word ORDER BY word""".stripMargin

  /** T19: corpus-trained add-one-smoothed bigram LM scores
    * ([[Corpus.bigramLmScores]]) — the perplexity-style quality
    * signal. Exact int64 counts; per-bigram log2 rounded to 6
    * decimals and summed as DECIMAL so addition order can't move a
    * ulp; final mean divided in double from the exact decimal sum. */
  val t19BigramLm: Q = (s, dir) => {
    import s.implicits._
    Corpus.bigramLmScores(Tables.loadSpread(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t19BigramLmSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS l
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, l[i] AS w1, l[i] || ' ' || l[i+1] AS bigram
      |  FROM (SELECT doc_id, l, unnest(range(1, len(l))) AS i
      |        FROM w WHERE len(l) >= 2)),
      |c2 AS (SELECT bigram, count(*) AS c2 FROM bg GROUP BY bigram),
      |c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY w1),
      |v AS (SELECT count(DISTINCT x) AS v FROM (SELECT unnest(l) AS x FROM w)),
      |sc AS (
      |  SELECT doc_id,
      |    round(log2((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)), 6)::DECIMAL(18,6) AS logp
      |  FROM bg JOIN c2 USING (bigram) JOIN c1 USING (w1) CROSS JOIN v)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  round(CAST(sum(logp) AS DOUBLE) / count(*), 6) + 0 AS avg_log2p
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T21: deterministic weighted sampling without replacement
    * ([[Corpus.weightedSample]], Efraimidis–Spirakis A-ES) — top-100
    * by ln(u)/w over a salted-md5 uniform, weighted by document
    * length. The plan is a per-row expression pass + global top-m
    * (TakeOrderedAndProject — per-partition heaps, never a corpus
    * sort). The exact dyadic uniform + round-6 key with id tiebreak
    * makes the selection engine-exact. */
  val t21WeightedSample: Q = (s, dir) => {
    import s.implicits._
    Corpus.weightedSample(Tables.load(s, dir, "documents"),
      "doc_id", $"n_chars", m = 100)
  }

  val t21WeightedSampleSql: String =
    """SELECT doc_id, n_chars::DOUBLE AS weight,
      |  round(ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 6))::BIGINT % 16777216 + 1)::DOUBLE
      |        / 16777216.0) / n_chars::DOUBLE, 6) + 0 AS key
      |FROM documents
      |ORDER BY key DESC, doc_id LIMIT 100""".stripMargin

  /** C2: exact quality-percentile gate — drop the bottom decile by
    * integer quality score. The percentile is EXACT and scale-correct
    * for integer scores: the distinct-score histogram is bounded by
    * the score domain (basis points, ≤ 10001 rows), so it collapses
    * to ONE row via sort_array(collect_list) and a HOF fold picks the
    * smallest score whose cumulative count reaches ceil(n/10) — no
    * corpus sort, no unpartitioned window, just two aggregations and
    * a broadcast threshold filter. The lloyd-seeds bounded-collect
    * discipline. */
  val c2QualityGate: Q = (s, dir) => {
    import s.implicits._
    val scored = Tables.load(s, dir, "documents")
      .select($"doc_id", graft.functions.TextFunctions.qualityScore($"text").as("quality"))
    val hist = scored.groupBy($"quality").agg(count(lit(1)).as("n"))
    val thr = hist
      .agg(sort_array(collect_list(struct($"quality", $"n"))).as("h"))
      .withColumn("total", expr("aggregate(h, CAST(0 AS BIGINT), (a, x) -> a + x.n)"))
      .select(expr(
        """aggregate(h,
          |  named_struct('cum', CAST(0 AS BIGINT), 'thr', CAST(-1 AS BIGINT)),
          |  (a, x) -> IF(a.thr >= 0, a,
          |    named_struct('cum', a.cum + x.n,
          |      'thr', IF((a.cum + x.n) * 10 >= total, x.quality, CAST(-1 AS BIGINT))))
          |).thr""".stripMargin).as("thr"))
    scored.crossJoin(broadcast(thr))
      .filter($"quality" >= $"thr")
      .select($"doc_id", $"quality", $"thr")
      .orderBy($"doc_id")
  }

  val c2QualityGateSql: String =
    """WITH m AS (
      |  SELECT doc_id,
      |    least(length(text), 500)::BIGINT * 20 AS len_bp,
      |    (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT * 10000)
      |      // greatest(length(text), 1)::BIGINT AS alpha_bp,
      |    (least(len(regexp_extract_all(lower(text), '\b(the|a|of|and|to|in|is)\b')) * 10,
      |           len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')))::BIGINT * 10000)
      |      // greatest(len(regexp_split_to_array(trim(text), '[ \t\n\x0b\f\r]+')), 1)::BIGINT AS stop_bp
      |  FROM documents),
      |scored AS (SELECT doc_id, (len_bp + alpha_bp + stop_bp) // 3 AS quality FROM m),
      |hist AS (SELECT quality, count(*) AS n FROM scored GROUP BY quality),
      |cum AS (
      |  SELECT quality,
      |    sum(n) OVER (ORDER BY quality ROWS UNBOUNDED PRECEDING) AS cum,
      |    sum(n) OVER () AS total
      |  FROM hist),
      |thr AS (SELECT min(quality) AS thr FROM cum WHERE cum * 10 >= total)
      |SELECT s.doc_id, s.quality, t.thr
      |FROM scored s, thr t WHERE s.quality >= t.thr
      |ORDER BY s.doc_id""".stripMargin

  /** T22: corpus-level segment dedup (the C4 "deduplicate by line" /
    * RefinedWeb exact-substring rule — Corpus.segmentDedup). The
    * synthetic corpus is random word soup with near-zero natural
    * 10-word collisions, so the query plants guaranteed duplicates
    * the e12 way: full copies of every 10th document at doc_id +
    * 1000000 (the planted-duplicate offset convention every dup query
    * shares — past any real doc_id). A copy's every segment loses
    * first-occurrence to its
    * original, so copies come back with kept_segments = 0 and empty
    * cleaned_text while originals survive intact — duplicated SPANS
    * are removed surgically, not whole documents (contrast d1). */
  val t22SegmentDedup: Q = (s, dir) => {
    import s.implicits._
    val d0 = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val src = d0.unionByName(
      d0.filter($"doc_id" % 10 === 0)
        .select(($"doc_id" + 1000000L).as("doc_id"), $"text"))
    Corpus.segmentDedup(src, "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t22SegmentDedupSql: String =
    """WITH src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |base AS (
      |  SELECT doc_id, string_split(text, ' ') AS w,
      |    CAST(ceil(len(string_split(text, ' ')) / 10.0) AS BIGINT) AS n_seg
      |  FROM src),
      |seg AS (
      |  SELECT doc_id, seg_no,
      |    array_to_string(w[seg_no*10+1 : seg_no*10+10], ' ') AS segment
      |  FROM (SELECT doc_id, w, unnest(range(n_seg)) AS seg_no
      |        FROM base WHERE n_seg > 0)),
      |kept AS (
      |  SELECT doc_id, seg_no, segment
      |  FROM (SELECT doc_id, seg_no, segment,
      |          row_number() OVER (PARTITION BY segment ORDER BY doc_id, seg_no) AS rn
      |        FROM seg)
      |  WHERE rn = 1),
      |reasm AS (
      |  SELECT doc_id, count(*) AS kept_segments,
      |    string_agg(segment, ' ' ORDER BY seg_no) AS cleaned_text
      |  FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, b.n_seg AS total_segments,
      |  coalesce(r.kept_segments, 0) AS kept_segments,
      |  coalesce(r.cleaned_text, '') AS cleaned_text
      |FROM base b LEFT JOIN reasm r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The planted duplicate corpus t28 AND t31 run on (one copy: the
    * two gates must stay synchronized by construction): full copies of
    * every 10th document at +1000000, head-30 chimeras (doc d's first
    * 30 words glued to doc d+7's) at +2000000. Null text coalesces
    * into the head-30 slice on BOTH engines so Spark's null-skipping
    * concat_ws and DuckDB's null-propagating || can't diverge. */
  private def plantedDupCorpus(d0: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import d0.sparkSession.implicits._
    val head30 = (c: org.apache.spark.sql.Column) =>
      concat_ws(" ", slice(split(coalesce(c, lit("")), " "), 1, 30))
    val copies = d0.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000L).as("doc_id"), $"text")
    val chimeras = d0.filter($"doc_id" % 25 === 0)
      .select($"doc_id".as("a_id"), head30($"text").as("a_txt"))
      .join(d0.select(($"doc_id" - 7).as("a_id"), head30($"text").as("b_txt")),
        "a_id")
      .select(($"a_id" + 2000000L).as("doc_id"),
        concat_ws(" ", $"a_txt", $"b_txt").as("text"))
    d0.unionByName(copies).unionByName(chimeras)
  }

  /** The oracle-side replay of [[plantedDupCorpus]], shared by the
    * t28/t31 SQL as their leading `src` CTE. Interpolated into
    * stripMargin'd strings, so no line here may START with `|` after
    * this constant's own strip (the outer strip would eat the first
    * pipe of a leading `||` concat). */
  private val plantedSrcCte: String =
    """src AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      |  UNION ALL
      |  SELECT a.doc_id + 2000000,
      |    array_to_string(string_split(coalesce(a.text, ''), ' ')[1:30], ' ') ||
      |    ' ' || array_to_string(string_split(coalesce(b.text, ''), ' ')[1:30], ' ')
      |  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 7
      |  WHERE a.doc_id % 25 = 0)""".stripMargin

  /** T28: EXACT duplicated-substring spans (Corpus.exactSpans) — the
    * suffix-array-fidelity upgrade over t20's windowed approximation:
    * every output row is a provably exact duplicate of its reported
    * source span (keeper-aligned window chains; see the operator
    * scaladoc). Plants two duplicate shapes the word-soup corpus
    * lacks: FULL copies of every 10th document (t22's convention,
    * +1000000) — each must come back as ONE whole-document span
    * attributed to its original at delta 0 — and CHIMERA documents
    * (+2000000): the first 30 words of doc d glued to the first 30
    * words of doc d+7, which must come back as TWO sub-document spans
    * with different sources and a clean split at the junction (no
    * junction window is repeated, so no span may bridge it). */
  val t28ExactSpans: Q = (s, dir) => {
    import s.implicits._
    val d0 = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    Corpus.exactSpans(plantedDupCorpus(d0), "doc_id", "text")
      .orderBy($"doc_id", $"span_start", $"src_doc")
  }

  val t28ExactSpansSql: String =
    s"""WITH $plantedSrcCte,
      |ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM src
      |       WHERE len(string_split(text, ' ')) >= 10),
      |wp AS (
      |  SELECT doc_id, i + 1 AS pos,
      |    md5(array_to_string(w[i+1 : i+10], ' ')) AS h
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 9)) AS i FROM ws)),
      |kp AS (
      |  SELECT h, doc_id AS src_doc, pos AS kpos
      |  FROM (SELECT h, doc_id, pos,
      |          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      |          count(*) OVER (PARTITION BY h) AS cnt
      |        FROM wp)
      |  WHERE rn = 1 AND cnt >= 2),
      |pairs AS (
      |  SELECT wp.doc_id, wp.pos, kp.src_doc,
      |    wp.pos - kp.kpos AS delta
      |  FROM wp JOIN kp USING (h)
      |  WHERE NOT (wp.doc_id = kp.src_doc AND wp.pos = kp.kpos)),
      |isl AS (
      |  SELECT *, pos - row_number() OVER (
      |    PARTITION BY doc_id, src_doc, delta ORDER BY pos) AS grp
      |  FROM pairs)
      |SELECT doc_id, min(pos) AS span_start, max(pos) + 9 AS span_end,
      |  max(pos) + 9 - min(pos) + 1 AS span_words,
      |  src_doc, min(pos) - delta AS src_start
      |FROM isl GROUP BY doc_id, src_doc, delta, grp
      |ORDER BY doc_id, span_start, src_doc""".stripMargin

  /** T29: hashed linear classifier scoring (Corpus.hashedLinearScores)
    * — the fastText-style quality-model scoring pass, integer-exact:
    * word bigrams hash into 64 slots (8 hex chars of md5 → BIGINT →
    * pmod, the j6 bloom-hash arithmetic pattern), each slot carries a
    * deterministic weight (slot % 7 − 3), and each document's logit is
    * the exact integer sum over its bigram instances. The oracle
    * replays the identical hash and weights. */
  val t29HashedClassifier: Q = (s, dir) => {
    import s.implicits._
    Corpus.hashedLinearScores(Tables.load(s, dir, "documents"), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t29HashedClassifierSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bigram
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
      |        FROM w WHERE len(w) >= 2)),
      |sc AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(bigram), 1, 8))::BIGINT % 64 AS j
      |  FROM bg)
      |SELECT doc_id, count(*) AS n_bigrams,
      |  CAST(sum(j % 7 - 3) AS BIGINT) AS logit,
      |  CAST(CASE WHEN sum(j % 7 - 3) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
      |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** T31: EXCISE exact duplicated substrings
    * (Corpus.exciseExactDuplicates) — the end state of the Lee et al.
    * exact-substring discipline t28 only reports: t28's planted
    * construction (full copies at +1000000, chimeras at +2000000), but
    * every non-keeper duplicated window is CUT and the remainder
    * reassembled. Full copies and chimeras come back empty (all their
    * text first appeared elsewhere); keeper originals and every clean
    * doc pass through byte-identical. The oracle replays the keeper
    * total order, the ≤k× coverage fan-out, and the ordered
    * reassembly. */
  val t31ExciseDuplicates: Q = (s, dir) => {
    import s.implicits._
    val d0 = Tables.loadSpread(s, dir, "documents").select($"doc_id", $"text")
    Corpus.exciseExactDuplicates(plantedDupCorpus(d0), "doc_id", "text")
      .orderBy($"doc_id")
  }

  val t31ExciseDuplicatesSql: String =
    s"""WITH $plantedSrcCte,
      |base AS (
      |  SELECT doc_id, text,
      |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS w
      |  FROM src),
      |wp AS (
      |  SELECT doc_id, i + 1 AS pos, md5(array_to_string(w[i+1 : i+10], ' ')) AS h
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 9)) AS i
      |        FROM base WHERE len(w) >= 10)),
      |marked AS (
      |  SELECT doc_id, pos, rn
      |  FROM (SELECT doc_id, pos,
      |          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      |          count(*) OVER (PARTITION BY h) AS cnt
      |        FROM wp)
      |  WHERE cnt >= 2),
      |cov AS (
      |  SELECT DISTINCT doc_id, pos + d.d AS pos
      |  FROM marked, (SELECT unnest(range(10)) AS d) d WHERE rn > 1
      |  EXCEPT
      |  SELECT DISTINCT doc_id, pos + d.d AS pos
      |  FROM marked, (SELECT unnest(range(10)) AS d) d WHERE rn = 1),
      |covn AS (SELECT doc_id, count(*) AS nrem FROM cov GROUP BY doc_id),
      |words AS (
      |  SELECT b.doc_id, x.i + 1 AS pos, b.w[x.i + 1] AS word
      |  FROM base b JOIN covn USING (doc_id),
      |       LATERAL (SELECT unnest(range(len(b.w))) AS i) x),
      |kept AS (
      |  SELECT wo.doc_id, wo.pos, wo.word
      |  FROM words wo LEFT JOIN cov ON wo.doc_id = cov.doc_id AND wo.pos = cov.pos
      |  WHERE cov.pos IS NULL),
      |re AS (
      |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS ct
      |  FROM kept GROUP BY doc_id)
      |SELECT b.doc_id, CAST(len(b.w) AS BIGINT) AS total_words,
      |  CAST(coalesce(covn.nrem, 0) AS BIGINT) AS removed_words,
      |  CASE WHEN covn.doc_id IS NOT NULL THEN coalesce(re.ct, '')
      |       ELSE coalesce(b.text, '') END AS cleaned_text
      |FROM base b LEFT JOIN covn USING (doc_id) LEFT JOIN re USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** T32: TRAINED-weights hashed classifier
    * (Corpus.hashedLinearScoresWeighted) — t29's plan with the
    * stand-in weight expression swapped for a broadcast weight
    * relation, proving a real trained model drops in without a plan
    * change. The weights here are DATA-DERIVED so the oracle can
    * replay them exactly: slot j's weight is the corpus-wide bigram
    * count in that slot, mod 7, minus 3 — a frequency-trained stand-in
    * with the same integer-exact arithmetic. */
  val t32TrainedClassifier: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val slots = docs
      .select(expr("filter(split(text, ' '), x -> x != '')").as("w"))
      .filter(size($"w") >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> concat(w[i], ' ', w[i + 1]))"))
        .as("bigram"))
      .select(pmod(conv(substring(md5($"bigram"), 1, 8), 16, 10).cast("long"),
        lit(64L)).as("j"))
    val weights = slots.groupBy($"j")
      .agg((count(lit(1)) % 7 - 3).as("wt"))
    Corpus.hashedLinearScoresWeighted(docs, "doc_id", "text", weights)
      .orderBy($"doc_id")
  }

  val t32TrainedClassifierSql: String =
    """WITH w AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      |  FROM documents),
      |bg AS (
      |  SELECT doc_id, w[i+1] || ' ' || w[i+2] AS bigram
      |  FROM (SELECT doc_id, w, unnest(range(len(w) - 1)) AS i
      |        FROM w WHERE len(w) >= 2)),
      |sc AS (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(bigram), 1, 8))::BIGINT % 64 AS j
      |  FROM bg),
      |wt AS (SELECT j, count(*) % 7 - 3 AS wt FROM sc GROUP BY j)
      |SELECT sc.doc_id, count(*) AS n_bigrams,
      |  CAST(sum(coalesce(wt.wt, 0)) AS BIGINT) AS logit,
      |  CAST(CASE WHEN sum(coalesce(wt.wt, 0)) > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
      |FROM sc LEFT JOIN wt USING (j)
      |GROUP BY sc.doc_id ORDER BY sc.doc_id""".stripMargin

  /** T24: distributed BPE tokenizer training — the first 3 learned
    * merges over the corpus (Corpus.bpeMerges). The oracle unrolls
    * each round: winner by (weight desc, pair) over adjacent-pair
    * weighted counts, then the greedy non-overlapping merge replayed
    * with the window-island formulation (runs of consecutive match
    * positions take every other) — proven equivalent to the
    * operator's fold in CorpusQuantizeSpec. */
  val t24BpeMerges: Q = (s, dir) =>
    Corpus.bpeMerges(Tables.load(s, dir, "documents"), "text", rounds = 3)

  /** One unrolled BPE merge round (winner wN + applied vocabOUT) —
    * shared scaffolding of the t24 and t25 oracles. */
  private def bpeRound(n: Int, vin: String, vout: String): String =
    s"""w$n AS (
       |  SELECT syms[i+1] AS p1, syms[i+2] AS p2, sum(n)::BIGINT AS weight
       |  FROM (SELECT syms, n, unnest(range(len(syms) - 1)) AS i
       |        FROM $vin WHERE len(syms) >= 2)
       |  GROUP BY 1, 2 ORDER BY weight DESC, p1, p2 LIMIT 1),
       |m$n AS (
       |  SELECT v.word, v.n, v.syms, x.i,
       |    (x.i < len(v.syms) - 1 AND v.syms[x.i+1] = w.p1
       |       AND v.syms[x.i+2] = w.p2) AS ism
       |  FROM $vin v, w$n w, LATERAL (SELECT unnest(range(len(v.syms))) AS i) x),
       |r$n AS (
       |  SELECT *, CASE WHEN ism
       |    THEN i - row_number() OVER (PARTITION BY word, ism ORDER BY i) END AS grp
       |  FROM m$n),
       |t$n AS (
       |  SELECT *, ism AND ((i - min(i) OVER (PARTITION BY word, grp)) % 2 = 0) AS take
       |  FROM r$n),
       |p$n AS (
       |  SELECT *, coalesce(lag(take) OVER (PARTITION BY word ORDER BY i), false) AS ptake
       |  FROM t$n),
       |$vout AS (
       |  SELECT word, any_value(n) AS n,
       |    list(CASE WHEN take THEN syms[i+1] || syms[i+2] ELSE syms[i+1] END
       |         ORDER BY i) FILTER (NOT ptake) AS syms
       |  FROM p$n GROUP BY word)""".stripMargin

  /** vocab0 + rounds 1..3 (winners w1..w3, applied vocab1..vocab3). */
  private val bpeCtes: String =
    s"""WITH vocab0 AS (
       |  SELECT word, regexp_split_to_array(word, '') AS syms, count(*)::BIGINT AS n
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY word),
       |${bpeRound(1, "vocab0", "vocab1")},
       |${bpeRound(2, "vocab1", "vocab2")},
       |${bpeRound(3, "vocab2", "vocab3")}""".stripMargin

  val t24BpeMergesSql: String =
    s"""$bpeCtes
       |SELECT 1::BIGINT AS round, p1, p2, weight FROM w1
       |UNION ALL SELECT 2::BIGINT, p1, p2, weight FROM w2
       |UNION ALL SELECT 3::BIGINT, p1, p2, weight FROM w3
       |ORDER BY round""".stripMargin

  /** T25: tokenize with the learned merges — per document word, char,
    * and post-merge token counts (Corpus.bpeTokenCounts). The corpus
    * side joins each word instance to the trained vocab's symbol
    * count; the merge fold never re-runs per instance. */
  val t25BpeTokenize: Q = (s, dir) =>
    Corpus.bpeTokenCounts(Tables.load(s, dir, "documents"), "doc_id", "text",
        rounds = 3)
      .orderBy(org.apache.spark.sql.functions.col("doc_id"))

  val t25BpeTokenizeSql: String =
    s"""$bpeCtes,
       |inst AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |inst2 AS (SELECT doc_id, word FROM inst WHERE word <> '')
       |SELECT i.doc_id, count(*) AS n_words,
       |  sum(length(i.word))::BIGINT AS n_chars,
       |  sum(len(v.syms))::BIGINT AS n_tokens
       |FROM inst2 i JOIN vocab3 v USING (word)
       |GROUP BY i.doc_id ORDER BY i.doc_id""".stripMargin

  /** T40: tokenizer FERTILITY per source — tokens/word and
    * chars/token (integer basis points: 13500 = 1.35 tokens per word)
    * of the t24-trained BPE tokenizer, aggregated per corpus source.
    * Fertility is the metric tokenizer and mixture decisions actually
    * key on: a source whose fertility is far above the corpus mean is
    * expensive to train on (more tokens per unit text) and usually
    * signals domain mismatch with the tokenizer's training corpus
    * (non-English, code, tables). Rides [[Corpus.bpeTokenCounts]]'
    * per-doc counts — the corpus side stays one explode + vocab join
    * + two bounded aggregates; the oracle replays the full 3-round
    * BPE train (the t24/t25 CTE scaffolding) and the per-source
    * roll-up. */
  val t40TokenizerFertility: Q = (s, dir) => {
    import s.implicits._
    val docs = Tables.load(s, dir, "documents")
    val perDoc = Corpus.bpeTokenCounts(docs, "doc_id", "text", rounds = 3)
    docs.select($"doc_id", $"source").join(perDoc, "doc_id")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_words"),
        sum($"n_chars").as("n_chars"), sum($"n_tokens").as("n_tokens"))
      .select($"source", $"n_docs", $"n_words", $"n_chars", $"n_tokens",
        expr("(n_tokens * 10000) div n_words").as("tokens_per_word_bp"),
        expr("(n_chars * 10000) div n_tokens").as("chars_per_token_bp"))
      .orderBy($"source")
  }

  val t40TokenizerFertilitySql: String =
    s"""$bpeCtes,
       |inst AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
       |inst2 AS (SELECT doc_id, word FROM inst WHERE word <> ''),
       |per AS (
       |  SELECT i.doc_id, count(*) AS n_words,
       |    sum(length(i.word))::BIGINT AS n_chars,
       |    sum(len(v.syms))::BIGINT AS n_tokens
       |  FROM inst2 i JOIN vocab3 v USING (word)
       |  GROUP BY i.doc_id)
       |SELECT d.source, count(*) AS n_docs,
       |  sum(per.n_words)::BIGINT AS n_words,
       |  sum(per.n_chars)::BIGINT AS n_chars,
       |  sum(per.n_tokens)::BIGINT AS n_tokens,
       |  (sum(per.n_tokens)::BIGINT * 10000) // sum(per.n_words)::BIGINT
       |    AS tokens_per_word_bp,
       |  (sum(per.n_chars)::BIGINT * 10000) // sum(per.n_tokens)::BIGINT
       |    AS chars_per_token_bp
       |FROM per JOIN documents d USING (doc_id)
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  /** T27: epoch upsampling plan — the data-recipe counterpart of t12's
    * downsampling: high-value sources REPEAT across training epochs
    * (factor 1.0×/1.5×/2.0× by source index here). The integer part of
    * the factor repeats every document; the fractional part selects a
    * deterministic md5-bucket subset (the t5/t12 salted-hash rule), so
    * the same doc gets the same repeat count on every run, engine, and
    * partitioning. The plan MATERIALIZES as one row per repeat (the
    * explode a training loader consumes) and is reported per source:
    * effective factor must hit the requested one in expectation. */
  val t27UpsamplePlan: Q = (s, dir) => {
    import s.implicits._
    val plan = Tables.load(s, dir, "documents")
      .select($"doc_id", $"source")
      .withColumn("factor_bp",
        expr("10000 + 5000 * (CAST(substr(source, 4) AS BIGINT) % 3)"))
      .withColumn("bucket",
        pmod(conv(substring(md5(concat(lit("up:"), $"doc_id".cast("string"))), 1, 10),
          16, 10).cast("long"), lit(10000L)))
      .withColumn("n_repeats",
        expr("factor_bp DIV 10000 + CASE WHEN bucket < factor_bp % 10000 THEN 1 ELSE 0 END"))
    plan
      .select($"doc_id", $"source", $"factor_bp",
        explode(expr("sequence(1, CAST(n_repeats AS INT))")).as("copy_no"))
      .groupBy($"source", $"factor_bp")
      .agg(countDistinct($"doc_id").as("n_docs"),
        count(lit(1)).as("n_rows"))
      .select($"source", $"factor_bp", $"n_docs", $"n_rows",
        expr("n_rows * 10000 DIV n_docs").as("effective_bp"))
      .orderBy($"source")
  }

  val t27UpsamplePlanSql: String =
    """WITH p AS (
      |  SELECT doc_id, source,
      |    10000 + 5000 * (CAST(substr(source, 4) AS BIGINT) % 3) AS factor_bp,
      |    ('0x' || substr(md5('up:' || doc_id::VARCHAR), 1, 10))::BIGINT % 10000 AS bucket
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, factor_bp,
      |    factor_bp // 10000
      |      + CASE WHEN bucket < factor_bp % 10000 THEN 1 ELSE 0 END AS n_repeats
      |  FROM p),
      |x AS (
      |  SELECT doc_id, source, factor_bp
      |  FROM r, (SELECT unnest(range(2)) AS c) c
      |  WHERE c.c < n_repeats)
      |SELECT source, factor_bp,
      |  count(DISTINCT doc_id) AS n_docs, count(*) AS n_rows,
      |  count(*) * 10000 // count(DISTINCT doc_id) AS effective_bp
      |FROM x GROUP BY 1, 2 ORDER BY source""".stripMargin

  /** C4: the CURATION FUNNEL CAPSTONE — the full RefinedWeb-style
    * recipe (Penedo et al. 2023: quality rules → repetition gate →
    * fuzzy dedup → exact-substring removal) composed as ONE DataFrame
    * plan with per-stage attrition, each stage the engine's own
    * operator:
    *
    *   0 input            — documents + planted hazards (see below)
    *   1 gopher_rules     — [[graft.operators.Corpus.gopherRules]],
    *                        the applicable subset (r_stop is skipped:
    *                        the synthetic word-soup corpus contains no
    *                        English stopwords, so the stopword rule
    *                        would void the funnel rather than filter
    *                        it — a real corpus would include it)
    *   2 repetition       — [[graft.operators.Corpus.gopherRepetition]]
    *                        gated at the Rae et al. Table A1 thresholds
    *                        (dup-line 30%, dup-line-char 20%, top-2/3/4
    *                        gram 20/18/16%, dup-5/10-gram 15/10%)
    *   3 near_dedup       — [[graft.operators.Dedup.minhashNearDups]] →
    *                        [[graft.operators.Dedup.dupClusters]],
    *                        min-id survivor per cluster (fuzzy doc drop)
    *   4 excision         — [[graft.operators.Corpus.exciseExactDuplicates]]
    *                        over the survivors (cross-doc boilerplate
    *                        spans removed in place, keeper protected)
    *
    * Planted hazards exercise every stage: doc_id % 29 truncated to 10
    * words (dies at the word-count rule), % 17 + three duplicate nav
    * lines (dies at dup-line 50% > 30%), % 31 ≡ 1 cloned with an
    * appended tail (the clone dies at near-dedup — min-id keeps the
    * original), % 11 ≡ 3 + a shared 12-word boilerplate tail (survives;
    * its non-keeper copies are excised at stage 4). The oracle replays
    * the whole funnel: the gopher metrics, the full repetition battery,
    * the minhash/LSH/Jaccard chain + recursive-CTE clustering, and the
    * keeper-protected cover subtraction — per-stage (n_docs, n_chars)
    * equality pins every stage boundary, not just the final survivors.
    *
    * Scale shape: each stage is the already-audited operator plan (no
    * new shuffles added by the composition); the only materialization
    * is the lazy-checkpointed source (one pass) and dupClusters' own
    * graph-sized star contraction. Attrition rows are five bounded
    * scalar aggregates unioned (the an17 shape — allowlisted
    * same-commit). */
  val c4CurationFunnel: Q = (s, dir) => {
    import s.implicits._
    val Corpus = graft.operators.Corpus
    val Dedup = graft.operators.Dedup
    val d0 = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val w0 = filter(split($"text", " "), x => x =!= "")
    val nav = "\nnav menu item\nnav menu item\nnav menu item"
    val boiler = " subscribe to our newsletter for updates and offers from the example site"
    val tBase = when($"doc_id" % 29 === 0,
      array_join(slice(w0, 1, 10), " ")).otherwise($"text")
    val tNav = concat(tBase, when($"doc_id" % 17 === 0, lit(nav)).otherwise(lit("")))
    val tBoil = concat(tNav, when($"doc_id" % 11 === 3, lit(boiler)).otherwise(lit("")))
    val injected = d0.select($"doc_id", tBoil.as("text"))
    val src = injected.unionByName(
        injected.filter($"doc_id" % 31 === 1)
          .select(($"doc_id" + 1000000).as("doc_id"),
            concat($"text", lit(" near dup tail")).as("text")))
      .localCheckpoint(false) // lazy: five stage scalars share ONE pass

    val g = Corpus.gopherRules(src, "text")
    val s1 = g.filter($"r_count" && $"r_mean_len" && $"r_symbol" &&
        $"r_bullet" && $"r_ellipsis" && $"r_alpha")
      .select($"doc_id", $"text")
    val rep = Corpus.gopherRepetition(s1, "doc_id", "text")
      .filter($"dup_line_bp" <= 3000 && $"dup_line_char_bp" <= 2000 &&
        $"top2gram_bp" <= 2000 && $"top3gram_bp" <= 1800 &&
        $"top4gram_bp" <= 1600 && $"dup5gram_bp" <= 1500 &&
        $"dup10gram_bp" <= 1000)
      .select($"doc_id")
    // lazy-checkpoint each stage BOUNDARY: the attrition branches and
    // the downstream stages both read s2/s3, and without the pin the
    // repetition battery re-ran three times per execution (its cost
    // dominated the un-pinned funnel — measured 14.2 s vs the pinned
    // form at sf0.1). Same inlining hazard the oracle's MATERIALIZED
    // hints fix on the DuckDB side.
    val s2 = s1.join(rep, "doc_id").localCheckpoint(false)
    val clusters = Dedup.dupClusters(
      Dedup.minhashNearDups(s2, "doc_id", "text"))
    val s3 = s2.join(
        clusters.filter($"doc_id" =!= $"cluster_id").select($"doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    val s4 = Corpus.exciseExactDuplicates(s3, "doc_id", "text")
      .select($"doc_id", $"cleaned_text".as("text"))
    def m(stage: String, df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(length($"text")), lit(0L)).as("n_chars"))
        .select(lit(stage).as("stage"), $"n_docs", $"n_chars")
    m("0_input", src)
      .unionByName(m("1_gopher_rules", s1))
      .unionByName(m("2_repetition", s2))
      .unionByName(m("3_near_dedup", s3))
      .unionByName(m("4_excision", s4))
      .orderBy($"stage")
  }

  /** The c4 oracle: every stage recomputed from first principles in one
    * WITH RECURSIVE chain — gopher metrics, the full repetition
    * battery, the minhash/LSH/Jaccard pair chain + transitive-closure
    * clustering (shared with d2/d6 via
    * [[TextPipeline.nearDupPairsCtes]]/[[TextPipeline.clusterCtes]]),
    * and the keeper-protected excision. */
  val c4CurationFunnelSql: String = {
    val pairs = TextPipeline.nearDupPairsCtes("SELECT doc_id, text FROM s2")
    val clusters = TextPipeline.clusterCtes
    val raw = s"""WITH RECURSIVE fw0 AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(text, ' '), x -> x <> '') AS ww
       |  FROM documents),
       |finj AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 29 = 0
       |       THEN array_to_string(ww[1:10], ' ') ELSE text END)
       |    || (CASE WHEN doc_id % 17 = 0
       |          THEN chr(10) || 'nav menu item' || chr(10) || 'nav menu item'
       |            || chr(10) || 'nav menu item' ELSE '' END)
       |    || (CASE WHEN doc_id % 11 = 3
       |          THEN ' subscribe to our newsletter for updates and offers from the example site'
       |          ELSE '' END) AS text
       |  FROM fw0),
       |src AS (
       |  SELECT doc_id, text FROM finj
       |  UNION ALL
       |  SELECT doc_id + 1000000, text || ' near dup tail'
       |  FROM finj WHERE doc_id % 31 = 1),
       |gm AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split_regex(text, '[ \\n]+'), w -> w <> '') AS words,
       |    list_filter(string_split(text, chr(10)), l -> l <> '') AS lines,
       |    CAST(len(regexp_extract_all(text, '#')) +
       |         len(regexp_extract_all(text, '\\.\\.\\.')) AS BIGINT) AS sym_hits
       |  FROM src),
       |gx AS (
       |  SELECT doc_id, text,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    CAST(len(lines) AS BIGINT) AS n_lines,
       |    CAST(coalesce(list_sum(list_transform(words, w -> len(w))), 0) AS BIGINT)
       |      AS sum_len,
       |    sym_hits,
       |    CAST(len(list_filter(lines, l ->
       |      l LIKE '- %' OR l LIKE '* %')) AS BIGINT) AS bullet_lines,
       |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS BIGINT)
       |      AS ellipsis_lines,
       |    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT)
       |      AS alpha_words
       |  FROM gm),
       |s1 AS (
       |  SELECT doc_id, text FROM gx
       |  WHERE n_words >= 50 AND n_words <= 100000
       |    AND 3 * n_words <= sum_len AND sum_len <= 10 * n_words
       |    AND 10 * sym_hits < n_words
       |    AND 10 * bullet_lines < 9 * n_lines
       |    AND 10 * ellipsis_lines < 3 * n_lines
       |    AND 5 * alpha_words >= 4 * n_words),
       |rb3 AS (
       |  SELECT doc_id,
       |    list_filter(string_split(coalesce(text, ''), chr(10)), l -> l <> '') AS rlines,
       |    list_filter(string_split_regex(coalesce(text, ''), '[ \\n]+'), x -> x <> '') AS rw
       |  FROM s1),
       |rb4 AS (
       |  SELECT doc_id, rlines, rw,
       |    CAST(len(rlines) AS BIGINT) AS n_lines,
       |    CAST(coalesce(list_sum(list_transform(rw, x -> len(x))), 0) AS BIGINT)
       |      AS total_chars,
       |    CAST(coalesce(list_sum(list_transform(rlines, l -> len(l))), 0) AS BIGINT)
       |      AS line_chars,
       |    CAST(len(list_distinct(rlines)) AS BIGINT) AS n_dls,
       |    CAST(coalesce(list_sum(list_transform(list_distinct(rlines),
       |      l -> len(l))), 0) AS BIGINT) AS distinct_line_chars
       |  FROM rb3),
       |rg2 AS (SELECT doc_id, total_chars,
       |          array_to_string(rw[i+1:i+2], ' ') AS gram
       |        FROM (SELECT doc_id, total_chars, rw, unnest(range(len(rw) - 1)) AS i
       |              FROM rb4 WHERE len(rw) >= 2)),
       |rt2 AS (SELECT doc_id,
       |          least(10000, (cnt * (len(gram) - 1) * 10000) // total_chars)
       |            AS top2gram_bp
       |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                ORDER BY cnt DESC, gram) AS rn
       |              FROM (SELECT doc_id, total_chars, gram, count(*) AS cnt
       |                    FROM rg2 GROUP BY doc_id, total_chars, gram))
       |        WHERE rn = 1),
       |rg3 AS (SELECT doc_id, total_chars,
       |          array_to_string(rw[i+1:i+3], ' ') AS gram
       |        FROM (SELECT doc_id, total_chars, rw, unnest(range(len(rw) - 2)) AS i
       |              FROM rb4 WHERE len(rw) >= 3)),
       |rt3 AS (SELECT doc_id,
       |          least(10000, (cnt * (len(gram) - 2) * 10000) // total_chars)
       |            AS top3gram_bp
       |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                ORDER BY cnt DESC, gram) AS rn
       |              FROM (SELECT doc_id, total_chars, gram, count(*) AS cnt
       |                    FROM rg3 GROUP BY doc_id, total_chars, gram))
       |        WHERE rn = 1),
       |rg4 AS (SELECT doc_id, total_chars,
       |          array_to_string(rw[i+1:i+4], ' ') AS gram
       |        FROM (SELECT doc_id, total_chars, rw, unnest(range(len(rw) - 3)) AS i
       |              FROM rb4 WHERE len(rw) >= 4)),
       |rt4 AS (SELECT doc_id,
       |          least(10000, (cnt * (len(gram) - 3) * 10000) // total_chars)
       |            AS top4gram_bp
       |        FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
       |                ORDER BY cnt DESC, gram) AS rn
       |              FROM (SELECT doc_id, total_chars, gram, count(*) AS cnt
       |                    FROM rg4 GROUP BY doc_id, total_chars, gram))
       |        WHERE rn = 1),
       |rg5 AS (SELECT doc_id, i + 1 AS pos,
       |          md5(array_to_string(rw[i+1:i+5], ' ')) AS h
       |        FROM (SELECT doc_id, rw, unnest(range(len(rw) - 4)) AS i
       |              FROM rb4 WHERE len(rw) >= 5)),
       |rd5 AS (SELECT doc_id, h FROM
       |          (SELECT doc_id, h, count(*) AS c FROM rg5 GROUP BY doc_id, h)
       |        WHERE c >= 2),
       |rc5 AS (SELECT DISTINCT rg5.doc_id, rg5.pos + o.o AS p
       |        FROM rg5 JOIN rd5 USING (doc_id, h),
       |             (SELECT unnest(range(5)) AS o) o),
       |rs5 AS (SELECT rc5.doc_id, CAST(sum(len(rb4.rw[rc5.p])) AS BIGINT) AS cchars
       |        FROM rc5 JOIN rb4 USING (doc_id) GROUP BY rc5.doc_id),
       |rg10 AS (SELECT doc_id, i + 1 AS pos,
       |           md5(array_to_string(rw[i+1:i+10], ' ')) AS h
       |         FROM (SELECT doc_id, rw, unnest(range(len(rw) - 9)) AS i
       |               FROM rb4 WHERE len(rw) >= 10)),
       |rd10 AS (SELECT doc_id, h FROM
       |           (SELECT doc_id, h, count(*) AS c FROM rg10 GROUP BY doc_id, h)
       |         WHERE c >= 2),
       |rc10 AS (SELECT DISTINCT rg10.doc_id, rg10.pos + o.o AS p
       |         FROM rg10 JOIN rd10 USING (doc_id, h),
       |              (SELECT unnest(range(10)) AS o) o),
       |rs10 AS (SELECT rc10.doc_id, CAST(sum(len(rb4.rw[rc10.p])) AS BIGINT) AS cchars
       |         FROM rc10 JOIN rb4 USING (doc_id) GROUP BY rc10.doc_id),
       |rmet AS (
       |  SELECT rb4.doc_id,
       |    CASE WHEN n_lines > 0
       |      THEN ((n_lines - n_dls) * 10000) // n_lines ELSE 0 END AS dup_line_bp,
       |    CASE WHEN line_chars > 0
       |      THEN ((line_chars - distinct_line_chars) * 10000) // line_chars
       |      ELSE 0 END AS dup_line_char_bp,
       |    coalesce(rt2.top2gram_bp, 0) AS top2gram_bp,
       |    coalesce(rt3.top3gram_bp, 0) AS top3gram_bp,
       |    coalesce(rt4.top4gram_bp, 0) AS top4gram_bp,
       |    CASE WHEN rs5.cchars IS NULL THEN 0
       |      ELSE (rs5.cchars * 10000) // total_chars END AS dup5gram_bp,
       |    CASE WHEN rs10.cchars IS NULL THEN 0
       |      ELSE (rs10.cchars * 10000) // total_chars END AS dup10gram_bp
       |  FROM rb4
       |  LEFT JOIN rt2 USING (doc_id) LEFT JOIN rt3 USING (doc_id)
       |  LEFT JOIN rt4 USING (doc_id) LEFT JOIN rs5 USING (doc_id)
       |  LEFT JOIN rs10 USING (doc_id)),
       |s2 AS (
       |  SELECT s1.doc_id, s1.text FROM s1 JOIN rmet USING (doc_id)
       |  WHERE dup_line_bp <= 3000 AND dup_line_char_bp <= 2000
       |    AND top2gram_bp <= 2000 AND top3gram_bp <= 1800
       |    AND top4gram_bp <= 1600 AND dup5gram_bp <= 1500
       |    AND dup10gram_bp <= 1000),
       |$pairs,
       |$clusters,
       |s3 AS (
       |  SELECT s2.doc_id, s2.text FROM s2 LEFT JOIN clusters USING (doc_id)
       |  WHERE clusters.cluster_id IS NULL OR clusters.cluster_id = s2.doc_id),
       |eb AS (
       |  SELECT doc_id, text,
       |    list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '') AS ew
       |  FROM s3),
       |ewp AS (
       |  SELECT doc_id, i + 1 AS pos, md5(array_to_string(ew[i+1 : i+10], ' ')) AS h
       |  FROM (SELECT doc_id, ew, unnest(range(len(ew) - 9)) AS i
       |        FROM eb WHERE len(ew) >= 10)),
       |emk AS (
       |  SELECT doc_id, pos, rn
       |  FROM (SELECT doc_id, pos,
       |          row_number() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
       |          count(*) OVER (PARTITION BY h) AS cnt
       |        FROM ewp)
       |  WHERE cnt >= 2),
       |ecand AS (
       |  SELECT DISTINCT doc_id, pos + d.d AS pos
       |  FROM emk, (SELECT unnest(range(10)) AS d) d WHERE rn > 1),
       |ekpr AS (
       |  SELECT DISTINCT doc_id, pos + d.d AS pos
       |  FROM emk, (SELECT unnest(range(10)) AS d) d WHERE rn = 1),
       |-- EXCEPT spelled as an anti-join: DuckDB rejects setops other
       |-- than UNION in any CTE of a WITH RECURSIVE chain
       |ecov AS (
       |  SELECT c.doc_id, c.pos FROM ecand c
       |  LEFT JOIN ekpr k ON k.doc_id = c.doc_id AND k.pos = c.pos
       |  WHERE k.pos IS NULL),
       |ecovn AS (SELECT doc_id, count(*) AS nrem FROM ecov GROUP BY doc_id),
       |ewd AS (
       |  SELECT b.doc_id, x.i + 1 AS pos, b.ew[x.i + 1] AS word
       |  FROM eb b JOIN ecovn USING (doc_id),
       |       LATERAL (SELECT unnest(range(len(b.ew))) AS i) x),
       |ekept AS (
       |  SELECT wo.doc_id, wo.pos, wo.word
       |  FROM ewd wo LEFT JOIN ecov ON wo.doc_id = ecov.doc_id AND wo.pos = ecov.pos
       |  WHERE ecov.pos IS NULL),
       |ere AS (
       |  SELECT doc_id, string_agg(word, ' ' ORDER BY pos) AS ct
       |  FROM ekept GROUP BY doc_id),
       |s4 AS (
       |  SELECT b.doc_id,
       |    CASE WHEN ecovn.doc_id IS NOT NULL THEN coalesce(ere.ct, '')
       |         ELSE coalesce(b.text, '') END AS text
       |  FROM eb b LEFT JOIN ecovn USING (doc_id) LEFT JOIN ere USING (doc_id))
       |SELECT '0_input' AS stage, count(*) AS n_docs,
       |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) AS n_chars FROM src
       |UNION ALL SELECT '1_gopher_rules', count(*),
       |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) FROM s1
       |UNION ALL SELECT '2_repetition', count(*),
       |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) FROM s2
       |UNION ALL SELECT '3_near_dedup', count(*),
       |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) FROM s3
       |UNION ALL SELECT '4_excision', count(*),
       |  CAST(coalesce(sum(len(text)), 0) AS BIGINT) FROM s4
       |ORDER BY stage""".stripMargin
    // Force DuckDB to evaluate each stage ONCE: under a WITH RECURSIVE
    // chain DuckDB inlines multiply-referenced CTEs, so every stage
    // branch (and the recursive closure itself) re-ran the 13 s
    // minhash chain — the un-hinted oracle measured >10 min; with
    // MATERIALIZED on the shared stages it is 0.3 s at sf0.001.
    Seq("src", "s1", "rb4", "s2", "hset", "sig", "buckets", "cand", "res",
      "clusters", "s3", "eb", "ewp", "emk", "ecand", "ekpr", "ecov",
      "ecovn", "ewd", "ekept", "ere", "s4")
      .foldLeft(raw)((acc, c) =>
        acc.replaceAll(s"(?<![A-Za-z0-9_])$c AS \\(", s"$c AS MATERIALIZED ("))
  }

  val defs: Map[String, Q] = Map(
    "c4_curation_funnel" -> c4CurationFunnel,
    "t27_upsample_plan" -> t27UpsamplePlan,
    "t24_bpe_merges" -> t24BpeMerges,
    "t25_bpe_tokenize" -> t25BpeTokenize,
    "t22_segment_dedup" -> t22SegmentDedup,
    "t28_exact_spans" -> t28ExactSpans,
    "t29_hashed_classifier" -> t29HashedClassifier,
    "t31_excise_duplicates" -> t31ExciseDuplicates,
    "t32_trained_classifier" -> t32TrainedClassifier,
    "c2_quality_gate" -> c2QualityGate,
    "t21_weighted_sample" -> t21WeightedSample,
    "t19_bigram_lm"   -> t19BigramLm,
    "t17_inverted_index" -> t17InvertedIndex,
    "t10_pii_redact"  -> t10PiiRedact,
    "t36_luhn_cards"  -> t36LuhnCards,
    "t37_gopher_rules" -> t37GopherRules,
    "t38_gopher_repetition" -> t38GopherRepetition,
    "t39_ngram_novelty" -> t39NgramNovelty,
    "t40_tokenizer_fertility" -> t40TokenizerFertility,
    "t11_repetition"  -> t11Repetition,
    "t12_domain_mix"  -> t12DomainMix,
    "n4_quantize"     -> n4Quantize,
    "n17_blockwise_quant" -> n17BlockwiseQuant,
    "t30_decontaminate_spans" -> t30DecontaminateSpans,
    "n5_ann_lsh"      -> n5AnnLsh,
    "n9_lsh_recall"   -> n9LshRecall,
    "n15_rank_metrics" -> n15RankMetrics,
    "n14_jl_recall"   -> n14JlRecall,
    "t13_decontaminate" -> t13Decontaminate,
    "t15_url_extract" -> t15UrlExtract,
    "t35_url_canon"   -> t35UrlCanon,
    "n6_quantized_topk" -> n6QuantizedTopK,
    "t16_html_strip"  -> t16HtmlStrip,
  )

  val oracle: Map[String, String] = Map(
    "c4_curation_funnel" -> c4CurationFunnelSql,
    "t27_upsample_plan" -> t27UpsamplePlanSql,
    "t24_bpe_merges" -> t24BpeMergesSql,
    "t25_bpe_tokenize" -> t25BpeTokenizeSql,
    "t22_segment_dedup" -> t22SegmentDedupSql,
    "t28_exact_spans" -> t28ExactSpansSql,
    "t29_hashed_classifier" -> t29HashedClassifierSql,
    "t31_excise_duplicates" -> t31ExciseDuplicatesSql,
    "t32_trained_classifier" -> t32TrainedClassifierSql,
    "c2_quality_gate" -> c2QualityGateSql,
    "t21_weighted_sample" -> t21WeightedSampleSql,
    "t19_bigram_lm"   -> t19BigramLmSql,
    "t10_pii_redact"  -> t10PiiRedactSql,
    "t36_luhn_cards"  -> t36LuhnCardsSql,
    "t37_gopher_rules" -> t37GopherRulesSql,
    "t38_gopher_repetition" -> t38GopherRepetitionSql,
    "t39_ngram_novelty" -> t39NgramNoveltySql,
    "t40_tokenizer_fertility" -> t40TokenizerFertilitySql,
    "t11_repetition"  -> t11RepetitionSql,
    "t12_domain_mix"  -> t12DomainMixSql,
    "n4_quantize"     -> n4QuantizeSql,
    "n17_blockwise_quant" -> n17BlockwiseQuantSql,
    "t30_decontaminate_spans" -> t30DecontaminateSpansSql,
    "n5_ann_lsh"      -> n5AnnLshSql,
    "n9_lsh_recall"   -> n9LshRecallSql,
    "n15_rank_metrics" -> n15RankMetricsSql,
    "n14_jl_recall"   -> n14JlRecallSql,
    "t13_decontaminate" -> t13DecontaminateSql,
    "t15_url_extract" -> t15UrlExtractSql,
    "t35_url_canon"   -> t35UrlCanonSql,
    "n6_quantized_topk" -> n6QuantizedTopKSql,
    "t16_html_strip"  -> t16HtmlStripSql,
    "t17_inverted_index" -> t17InvertedIndexSql,
  )
}
