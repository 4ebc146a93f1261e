package graft.queries

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.DecimalType

import graft.Tables
import graft.operators.AsOfJoin
import graft.streaming.Streams

/** Temporal operators over the events table: the as-of join (SURVEY §2.4
  * J4 — the quartile "greatest year <= article year" lookup), event-time
  * windowed aggregation, and gap-based sessionization (the batch form of
  * the streaming state operators in graft.streaming).
  */
object EventQueries {

  type Q = (SparkSession, String) => DataFrame

  private val dec = DecimalType(18, 4)

  /** J4: left as-of join — for each click event, the most recent error
    * event of the same user at or before its timestamp. Implemented with
    * the union-merge AsOfJoin operator (single shuffle; no range-join
    * pair blowup), verified against the naive range-join+top-1 oracle. */
  val j4AsOf: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
    val clicks = ev.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts".as("err_ts"), $"event_id".as("err_id"), $"value".as("err_value"))
    AsOfJoin.leftAsOf(clicks, errors,
        keys = Seq("user_id"), leftTime = "ts", rightTime = "err_ts",
        payloadCols = Seq("err_id", "err_value"), tieBreaker = "err_id")
      .select($"event_id", $"user_id", $"err_id", $"err_value")
      .orderBy($"event_id")
  }

  val j4AsOfSql: String =
    """SELECT c.event_id, c.user_id, e.event_id AS err_id, e.value AS err_value
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON c.user_id = e.user_id AND e.ts <= c.ts
      |QUALIFY row_number() OVER (PARTITION BY c.event_id
      |                           ORDER BY e.ts DESC, e.event_id DESC) = 1
      |ORDER BY c.event_id""".stripMargin

  /** E1: event-time tumbling-window aggregation (Structured Streaming's
    * windowed agg, run on the same data in batch; SURVEY §2.9). */
  val e1WindowAgg: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy(window($"ts", "1 hour").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"),
        round(sum($"value".cast(dec)), 2).cast("double").as("total_value"))
      .select(unix_micros($"w.start").as("hour_start"), $"event_type", $"n", $"total_value")
      .orderBy($"hour_start", $"event_type")
  }

  val e1WindowAggSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_start, event_type,
      |  count(*) AS n,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin

  /** E2: gap-based sessionization (30-min inactivity gap) via
    * lag + running sum — the batch equivalent of
    * flatMapGroupsWithState sessionizing (graft.streaming). */
  val e2Sessionize: Q = (s, dir) => {
    import s.implicits._
    val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    Tables.load(s, dir, "events")
      .withColumn("prev_ts", lag($"ts", 1).over(byUser))
      .withColumn("is_new",
        when($"prev_ts".isNull ||
          unix_micros($"ts") - unix_micros($"prev_ts") > 1800L * 1000000L, 1L)
          .otherwise(0L))
      .withColumn("session_no", sum($"is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"session_no")
      .agg(
        count(lit(1)).as("n_events"),
        unix_micros(min($"ts")).as("session_start"),
        unix_micros(max($"ts")).as("session_end"),
        round(sum($"value".cast(dec)), 2).cast("double").as("session_value"))
      .orderBy($"user_id", $"session_no")
  }

  /** E5: the BUILT-IN `session_window` API — same gap sessionization
    * as e2 but via Spark's native session windows (one groupBy, no
    * lag/running-sum windows; the form that also runs under Structured
    * Streaming state). Boundary semantics verified empirically on this
    * Spark build: two events EXACTLY gap apart merge into one session
    * (touching windows coalesce), i.e. the split condition is
    * `diff > gap` — identical to e2's. The only output delta vs e2 is
    * window end = last event + gap, not last event. */
  val e5SessionWindow: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy($"user_id", session_window($"ts", "30 minutes").as("w"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum($"value".cast(dec)), 2).cast("double").as("session_value"))
      .select($"user_id",
        unix_micros($"w.start").as("session_start"),
        unix_micros($"w.end").as("session_end"),
        $"n_events", $"session_value")
      .orderBy($"user_id", $"session_start")
  }

  val e5SessionWindowSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM marked)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start,
      |  epoch_us(max(ts)) + 1800 * 1000000 AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value
      |FROM sessions GROUP BY user_id, session_no
      |ORDER BY user_id, session_start""".stripMargin

  val e2SessionizeSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM marked)
      |SELECT user_id, CAST(session_no AS BIGINT) AS session_no, count(*) AS n_events,
      |  epoch_us(min(ts)) AS session_start,
      |  epoch_us(max(ts)) AS session_end,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value
      |FROM sessions
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_no""".stripMargin

  /** E3: sliding event-time windows (1 h length, 30 min slide) — each
    * event lands in two windows; the oracle enumerates the two aligned
    * starts per event. Spark's `window()` FLOOR-aligns to the epoch,
    * so the oracle's alignment uses the exact pmod floor form — a bare
    * `//` would truncate toward zero (duckdb 1.0.0: -7 // 2 = -3) and
    * drop one of the two windows for every pre-1970 event. */
  val e3SlidingWindow: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy(window($"ts", "1 hour", "30 minutes").as("w"), $"event_type")
      .agg(count(lit(1)).as("n"))
      .select(unix_micros($"w.start").as("win_start"), $"event_type", $"n")
      .orderBy($"win_start", $"event_type")
  }

  val e3SlidingWindowSql: String =
    """WITH placed AS (
      |  SELECT event_type,
      |    epoch_us(ts) - ((epoch_us(ts) % 1800000000) + 1800000000) % 1800000000
      |      - off AS win_start,
      |    epoch_us(ts) AS t
      |  FROM events, (SELECT unnest([0, 1800000000]) AS off))
      |SELECT win_start, event_type, count(*) AS n
      |FROM placed
      |WHERE t >= win_start AND t < win_start + 3600000000
      |GROUP BY 1, 2
      |ORDER BY win_start, event_type""".stripMargin

  /** AN4: HLL profiling — approx_count_distinct per group (the sketch
    * path for 100 TB cardinality audits). The raw sketch estimate is
    * engine-specific, so the HARD-checked output is the bounded-error
    * RELATION: exact distinct counts plus booleans asserting the HLL
    * estimate landed within 3× the default rsd (0.05 → 15%). The
    * oracle replays the exact counts and TRUE literals, so any
    * out-of-bound sketch flips a cell and fails the hash — a real
    * correctness gate, not a rows-only smoke check. Integer-only
    * comparison (abs·100 ≤ exact·15) keeps both engines exact. */
  val an4ApproxDistinct: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("exact_parts"),
        countDistinct($"l_orderkey").as("exact_orders"),
        approx_count_distinct($"l_partkey").as("ap"),
        approx_count_distinct($"l_orderkey").as("ao"))
      .select($"l_returnflag", $"exact_parts", $"exact_orders",
        (abs($"ap" - $"exact_parts") * 100 <= $"exact_parts" * 15)
          .as("parts_within_bound"),
        (abs($"ao" - $"exact_orders") * 100 <= $"exact_orders" * 15)
          .as("orders_within_bound"))
      .orderBy($"l_returnflag")
  }

  val an4ApproxDistinctSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS exact_parts,
      |  count(DISTINCT l_orderkey) AS exact_orders,
      |  TRUE AS parts_within_bound,
      |  TRUE AS orders_within_bound
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** AN7: approximate quantiles (KLL/GK-style sketch via
    * percentile_approx) with a HARD bound, like an4: accuracy=100
    * guarantees rank error <= 1% of n, so the estimate must land
    * between the exact discrete quantiles at ranks 48% and 52%+1 —
    * both engine-exact rank selections (no float interpolation). The
    * oracle replays the exact bounds and a TRUE literal; a sketch
    * outside its guarantee flips the boolean and fails the hash. */
  val an7ApproxQuantiles: Q = (s, dir) => {
    import s.implicits._
    val li = Tables.load(s, dir, "lineitem")
    // rank-selected VALUES from the per-(group, value) histogram: the
    // value at rank r is the first whose cumulative count reaches r,
    // so the only window runs over distinct values per group (the
    // value DOMAIN — 50 for l_quantity), never the raw corpus under a
    // 3-value partition key. The oracle keeps the row-window form;
    // the selected values agree exactly.
    val hist = li.groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("c"))
    val cumw = Window.partitionBy($"l_returnflag").orderBy($"l_quantity")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum($"c").over(cumw))
      .withColumn("n", sum($"c").over(Window.partitionBy($"l_returnflag")))
    def atRank(rank: org.apache.spark.sql.Column, out: String) =
      cum.filter($"cum" - $"c" < rank && $"cum" >= rank)
        .select($"l_returnflag", $"l_quantity".as(out))
    val lo = atRank(expr("greatest(1, (n * 48) div 100)"), "q48")
    val hi = atRank(expr("least(n, (n * 52) div 100 + 1)"), "q52")
    val apx = li.groupBy($"l_returnflag")
      .agg(expr("percentile_approx(l_quantity, 0.5, 100)").as("apx"))
    lo.join(hi, "l_returnflag").join(apx, "l_returnflag")
      .select($"l_returnflag", $"q48", $"q52",
        ($"apx" >= $"q48" && $"apx" <= $"q52").as("median_within_bound"))
      .orderBy($"l_returnflag")
  }

  val an7ApproxQuantilesSql: String =
    """WITH r AS (
      |  SELECT l_returnflag, l_quantity,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
      |    count(*) OVER (PARTITION BY l_returnflag) AS n
      |  FROM lineitem),
      |lo AS (SELECT l_returnflag, l_quantity AS q48 FROM r
      |       WHERE rn = greatest(1, (n * 48) // 100)),
      |hi AS (SELECT l_returnflag, l_quantity AS q52 FROM r
      |       WHERE rn = least(n, (n * 52) // 100 + 1))
      |SELECT lo.l_returnflag, q48, q52, TRUE AS median_within_bound
      |FROM lo JOIN hi ON lo.l_returnflag = hi.l_returnflag
      |ORDER BY lo.l_returnflag""".stripMargin

  /** E4: the STREAMING sessionizer inside the correctness gate. Events
    * are replayed through a real file-source stream into
    * Streams.sessionizeStreamExact (watermark + EventTimeTimeout,
    * long-scaled exact value accumulation); a far-future sentinel
    * staged with the real rows plus one sentinel round advance the
    * watermark so every real session flushes ([[runShiftedGate]]). The
    * oracle is the BATCH gap-sessionization SQL — proving streaming ==
    * batch semantics on the full events table, not a toy fixture. */
  val e4StreamSessions: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").select($"user_id", $"ts", $"value")
    // pre-epoch option: 0 on the driver's post-epoch testdata (inert);
    // on historical fixtures it translates event time past epoch 0 so
    // watermarking doesn't birth the rows late, and the session bounds
    // are shifted back below — gap clustering is translation-invariant
    val (table, off) = runShiftedGate(s, ev, 3600L, "e4_sessions",
      eventSentinel(s))(df => Streams.sessionizeStreamExact(df.as[Streams.Event]))
    table.filter($"user_id" =!= -1L)
      .select($"user_id", ($"session_start" - off).as("session_start"),
        ($"session_end" - off).as("session_end"),
        $"n_events", $"value_scaled")
      .orderBy($"user_id", $"session_start")
  }

  /** The stage and flush steps of the gates that flush on event time
    * (e4, e11, e17 and the daily tiers; see Streams.gateDrain for the
    * sentinel policy): stage `ev` to `<scratch>/staged` with the epoch
    * shift at `granularitySeconds` (a multiple of every window, gap or
    * day the producer keys on, so the shift is translation-exact),
    * append `sentinel`'s 2100-01-01 row so it rides batch 0, and run
    * `producer` over the shifted replay; the flush appends the row a
    * minute later. Returns the sink table, sentinel rows included, and
    * the shift in micros to subtract from its instants. */
  private def runShiftedGate(s: SparkSession, ev: DataFrame,
      granularitySeconds: Long, queryName: String,
      sentinel: java.sql.Timestamp => DataFrame)(
      producer: DataFrame => Dataset[_]): (DataFrame, Long) = {
    def append(scratch: Path, sec: Long): Unit = {
      val row = sentinel(new java.sql.Timestamp(sec * 1000L))
      // the sentinel shares the replay dir: a differently-shaped row
      // would fail obscurely mid-drain, so the shape is checked here
      require(row.columns.toSeq == ev.columns.toSeq,
        s"$queryName: sentinel columns [${row.columns.mkString(", ")}] " +
          s"differ from the staged [${ev.columns.mkString(", ")}]")
      row.write.mode("append").parquet(scratch.resolve("staged").toString)
    }
    var off = 0L
    val table = Streams.gateDrain(queryName, OutputMode.Append,
        Some(append(_, 4102444860L))) { scratch =>
      val staged = scratch.resolve("staged").toString
      off = Streams.stageWithEpochShift(ev, "ts", staged, granularitySeconds)
      append(scratch, 4102444800L)
      producer(Streams.shiftTs(s.readStream.schema(ev.schema).parquet(staged), "ts", off))
    }
    (table, off)
  }

  /** The watermark sentinel of the (user_id, ts, value) event gates:
    * user -1, which the daily tiers skip and e4 filters from its sink. */
  private def eventSentinel(s: SparkSession)(ts: java.sql.Timestamp): DataFrame = {
    import s.implicits._
    Seq((-1L, ts, 0.0)).toDF("user_id", "ts", "value")
  }

  val e4StreamSessionsSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sessions AS (
      |  SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                              ROWS UNBOUNDED PRECEDING) AS session_no
      |  FROM marked)
      |SELECT user_id,
      |  epoch_us(min(ts)) AS session_start,
      |  epoch_us(max(ts)) AS session_end,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_scaled
      |FROM sessions
      |GROUP BY user_id, session_no
      |ORDER BY user_id, session_start""".stripMargin

  /** E6: stream-stream event-time interval join run as a REAL
    * Structured Streaming query inside the gate — clicks and purchases
    * are replayed through two file-source streams into
    * Streams.attributionJoin (watermarks + two-sided time constraint =
    * bounded join state). Inner-join matches emit within the
    * micro-batch, so one drain suffices (no watermark sentinels like
    * e4). The oracle is the equivalent BATCH interval join — streaming
    * == batch on the full events table. */
  val e6StreamJoin: Q = (s, dir) => {
    import s.implicits._
    Streams.gateDrain("e6_attrib", OutputMode.Append, None) { scratch =>
      val (clicks, purchases) = stageClicksPurchases(s, dir, scratch)
      Streams.attributionJoin(clicks, purchases)
    }
      .select($"purchase_id", $"click_id", $"user_id", $"lag_us")
      .orderBy($"purchase_id", $"click_id")
  }

  /** The stage step of e6 and the attribution gates: clicks and
    * purchases of the events table to `<scratch>/staged` in ONE
    * partitionBy write (r13; the partition column stays out of the
    * data files, so the staged schema is unchanged — the two filtered
    * writes it replaced scanned the events table twice), returned as
    * the (click, purchase) replay streams. */
  private def stageClicksPurchases(s: SparkSession, dir: String, scratch: Path)
      : (DataFrame, DataFrame) = {
    val ev = Tables.load(s, dir, "events")
      .select("event_id", "user_id", "ts", "event_type")
    ev.filter(col("event_type").isin("click", "purchase"))
      .write.mode("overwrite").partitionBy("event_type")
      .parquet(scratch.resolve("staged").toString)
    val sch = ev.drop("event_type").schema
    // a side with zero staged rows writes no partition directory; the
    // stream reader needs the path to exist (sentinels may append into
    // it later)
    def side(eventType: String): DataFrame = {
      val d = sideDir(scratch, eventType)
      Files.createDirectories(Paths.get(d))
      s.readStream.schema(sch).parquet(d)
    }
    (side("click"), side("purchase"))
  }

  /** A staged side's partition dir. Literal partition paths are safe
    * ONLY for the two fixed values above (advisor note, r13): Spark
    * percent-escapes special characters in partition directory names,
    * so a value like "a b" would land in "event_type=a%20b" — a new
    * event_type must extend the isin list AND this pairing together. */
  private def sideDir(scratch: Path, eventType: String): String =
    scratch.resolve("staged").resolve(s"event_type=$eventType").toString

  val e6StreamJoinSql: String =
    """SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |JOIN (SELECT * FROM events WHERE event_type = 'click') c
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      | AND epoch_us(p.ts) - epoch_us(c.ts) <= 7200::BIGINT * 1000000
      |ORDER BY purchase_id, click_id""".stripMargin

  /** AN20: exact distinct users per event type via the custom
    * [[graft.functions.BitmapDistinctExpr]] TypedImperativeAggregate —
    * partial bitmaps build map-side and merge by OR, so the distinct
    * VALUES never travel the shuffle (count-distinct's Expand + second
    * shuffle does ship them). Order-independent merge ⇒ oracle-exact
    * against COUNT(DISTINCT). */
  val an20BitmapDistinct: Q = (s, dir) => {
    import s.implicits._
    Tables.load(s, dir, "events")
      .groupBy($"event_type")
      .agg(
        graft.functions.BitmapDistinct.bitmap_distinct($"user_id").as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy($"event_type")
  }

  val an20BitmapDistinctSql: String =
    """SELECT event_type, count(DISTINCT user_id) AS n_users,
      |  count(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN33: sketch ROLL-UP — the re-aggregation discipline that makes
    * distinct counts cheap at 100 TB: materialize one exact bitmap
    * sketch per FINE grain (day × event_type,
    * [[graft.functions.BitmapSketchExpr]]), then answer the coarser
    * per-day distinct-user question by MERGING sketches
    * ([[graft.functions.BitmapMergeCountExpr]]) over the
    * |days × types|-sized sketch table. The fact table is scanned and
    * shuffled ONCE for any number of coarser grains; a per-grain
    * `count(distinct)` would re-shuffle the raw user ids for every
    * grain (Spark plans Expand + a (group, user) shuffle each time).
    * The Druid / BigQuery `HLL_COUNT.INIT → MERGE` pattern, exact for
    * dense int keys. Null ts/event_type rows are excluded identically
    * on both engines (the adversarial-fixture guard); null user_ids
    * set no bit, matching count(DISTINCT)'s null rule. The oracle
    * computes the end value directly — equality IS the proof that the
    * OR-merge loses nothing. */
  val an33BitmapRollup: Q = (s, dir) => {
    import s.implicits._
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"event_type".isNotNull)
      .groupBy(to_date($"ts").as("day"), $"event_type")
      .agg(graft.functions.BitmapDistinct.bitmap_sketch($"user_id").as("sk"))
    sk.groupBy($"day")
      .agg(count(lit(1)).as("n_types"),
        graft.functions.BitmapDistinct.bitmap_merge_count($"sk").as("distinct_users"))
      .orderBy($"day")
  }

  val an33BitmapRollupSql: String =
    """SELECT date_trunc('day', ts)::DATE AS day,
      |  count(DISTINCT event_type) AS n_types,
      |  count(DISTINCT user_id) AS distinct_users
      |FROM events
      |WHERE ts IS NOT NULL AND event_type IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN35: day-over-day retained users from the SKETCH TABLE —
    * [[graft.functions.BitmapAndCountExpr]], the intersection leg of
    * the sketch algebra (an33 is INIT→MERGE/union): per-day user
    * bitmaps self-join on consecutive days and every overlap count is
    * per-row bit arithmetic — the fact table is scanned once to build
    * the sketches, and the retention question (an34 answers it from
    * facts) re-reads only the |days|-sized sketch relation. Exact,
    * where HLL-style sketches can only estimate intersections via
    * compounding inclusion-exclusion. `bitmap_and_count(sk, sk)`
    * doubles as each day's own cardinality, so the whole output is
    * one join + three scalar expressions. */
  val an35BitmapOverlap: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .groupBy(to_date($"ts").as("day"))
      .agg(B.bitmap_sketch($"user_id").as("sk"))
    val nxt = sk.select(date_sub($"day", 1).as("day"), $"sk".as("sk_next"))
    sk.join(nxt, "day")
      .select($"day",
        B.bitmap_and_count($"sk", $"sk").as("n_day"),
        B.bitmap_and_count($"sk_next", $"sk_next").as("n_next"),
        B.bitmap_and_count($"sk", $"sk_next").as("n_retained"))
      .orderBy($"day")
  }

  val an35BitmapOverlapSql: String =
    """WITH a AS (
      |  SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY day),
      |r AS (SELECT a1.day, CAST(count(*) AS BIGINT) AS n_retained
      |      FROM a a1 JOIN a a2
      |        ON a2.user_id = a1.user_id AND a2.day = a1.day + 1
      |      GROUP BY a1.day)
      |SELECT d.day, d.n AS n_day, d2.n AS n_next,
      |  CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_retained
      |FROM d JOIN d d2 ON d2.day = d.day + 1
      |LEFT JOIN r ON r.day = d.day
      |ORDER BY d.day""".stripMargin

  /** AN46: day-over-day audience CHURN from the sketch table —
    * [[graft.functions.BitmapAndNotCountExpr]], the SET-DIFFERENCE leg
    * that completes the exact audience algebra (union = the an33
    * MERGE, intersection = the an35 AND): per-day user bitmaps
    * self-join on consecutive days and `n_new` (active tomorrow, not
    * today) / `n_churned` (active today, not tomorrow) are per-row bit
    * arithmetic off the |days|-sized sketch relation — the fact table
    * is scanned once when the sketch table is built, and every
    * new/churned/retained question for any day pair reuses it. The
    * oracle computes both differences from first principles
    * (|B|−|A∩B| via the distinct-activity self-join), so equality
    * proves the ANDNOT identity end-to-end. */
  val an46BitmapChurn: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .groupBy(to_date($"ts").as("day"))
      .agg(B.bitmap_sketch($"user_id").as("sk"))
    val nxt = sk.select(date_sub($"day", 1).as("day"), $"sk".as("sk_next"))
    sk.join(nxt, "day")
      .select($"day",
        B.bitmap_andnot_count($"sk_next", $"sk").as("n_new"),
        B.bitmap_andnot_count($"sk", $"sk_next").as("n_churned"))
      .orderBy($"day")
  }

  val an46BitmapChurnSql: String =
    """WITH a AS (
      |  SELECT DISTINCT date_trunc('day', ts)::DATE AS day, user_id
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY day),
      |r AS (SELECT a1.day, CAST(count(*) AS BIGINT) AS n_retained
      |      FROM a a1 JOIN a a2
      |        ON a2.user_id = a1.user_id AND a2.day = a1.day + 1
      |      GROUP BY a1.day)
      |SELECT d.day,
      |  d2.n - CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_new,
      |  d.n - CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_churned
      |FROM d JOIN d d2 ON d2.day = d.day + 1
      |LEFT JOIN r ON r.day = d.day
      |ORDER BY d.day""".stripMargin

  /** AN47: cross-SET estimates from the KMV sketch table — the
    * [[graft.functions.KmvJaccardBpExpr]] /
    * [[graft.functions.KmvIntersectEstimateExpr]] leg (Beyer et al.,
    * SIGMOD 2007): the pairwise Jaccard/intersection matrix over
    * per-type `props` vocabularies, computed entirely from the
    * |types|-row sketch relation — the segment-similarity question HLL
    * cannot answer (it only unions) and the exact bitmap needs a
    * dictionary for. The estimator is pure sample membership + integer
    * arithmetic over the engine's md5-prefix hash, so the oracle
    * replays the bottom-k union walk, the both-samples membership
    * count m, and both pinned outputs (m·10000/kL basis points,
    * m·U/kL intersection) BIT-FOR-BIT — a full hash match, not a
    * bound check. The pair join is an inequality self-join of the
    * |types|-row sketch table (bounded by key cardinality, never
    * data-sized). */
  val an47KmvJaccard: Q = (s, dir) => {
    import s.implicits._
    val K = graft.functions.Kmv
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"props".isNotNull)
      .groupBy($"event_type")
      .agg(K.kmv_sketch($"props", 64).as("sk"))
    val a = sk.select($"event_type".as("type_a"), $"sk".as("sk_a"))
    val b = sk.select($"event_type".as("type_b"), $"sk".as("sk_b"))
    a.join(b, $"type_a" < $"type_b")
      .select($"type_a", $"type_b",
        K.kmv_jaccard_bp($"sk_a", $"sk_b").as("jaccard_bp"),
        K.kmv_intersect_estimate($"sk_a", $"sk_b").as("est_inter"))
      .orderBy($"type_a", $"type_b")
  }

  val an47KmvJaccardSql: String =
    """WITH keys AS (
      |  SELECT DISTINCT event_type, props AS k
      |  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL),
      |h AS (
      |  SELECT event_type, k,
      |    ('0x' || substr(md5(k), 1, 15))::BIGINT AS h
      |  FROM keys),
      |s AS (
      |  SELECT event_type, k, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, k) AS rn
      |  FROM h),
      |sk AS (SELECT * FROM s WHERE rn <= 64),
      |pairs AS (
      |  SELECT DISTINCT a.event_type AS ta, b.event_type AS tb
      |  FROM keys a JOIN keys b ON a.event_type < b.event_type),
      |u0 AS (
      |  SELECT p.ta, p.tb, x.k, x.h
      |  FROM pairs p JOIN sk x ON x.event_type IN (p.ta, p.tb)
      |  GROUP BY 1, 2, 3, 4),
      |l AS (
      |  SELECT ta, tb, k, h,
      |    row_number() OVER (PARTITION BY ta, tb ORDER BY h, k) AS rn
      |  FROM u0),
      |mm AS (
      |  SELECT l.ta, l.tb, count(*) AS kl,
      |    count(*) FILTER (WHERE
      |      EXISTS (SELECT 1 FROM sk x WHERE x.event_type = l.ta AND x.k = l.k)
      |      AND EXISTS (SELECT 1 FROM sk y WHERE y.event_type = l.tb AND y.k = l.k)
      |    ) AS m,
      |    max(CASE WHEN l.rn = 64 THEN l.h END) AS hk
      |  FROM l WHERE l.rn <= 64 GROUP BY 1, 2),
      |est AS (
      |  SELECT ta, tb, kl, m,
      |    CASE WHEN kl < 64 THEN kl
      |      ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT)
      |           // greatest(hk, 1) AS BIGINT) END AS u_est
      |  FROM mm)
      |SELECT ta AS type_a, tb AS type_b,
      |  m * 10000 // kl AS jaccard_bp,
      |  CAST((m::HUGEINT * u_est::HUGEINT) // kl::HUGEINT AS BIGINT) AS est_inter
      |FROM est ORDER BY 1, 2""".stripMargin

  /** AN50: K-WAY set operations off the KMV sketch table — an47's
    * pairwise Beyer estimators generalized to ALL segments at once
    * (r11 verdict optional item 7b): `kmv_union_estimate` /
    * `kmv_intersect_all_estimate` take an ARRAY of same-k sketches
    * and answer j-way reach ("distinct props across every event
    * type") and j-way overlap ("props common to every type") from the
    * |types|-row sketch relation — one row of sketch bytes in, two
    * integers out, the facts never rescanned. The estimators stay
    * sample membership + integer arithmetic over the md5-prefix hash
    * (the j-way union sample L is the bottom-k of the union of
    * bottom-k's; m counts L entries present in EVERY per-type
    * sample), so the oracle replays both estimates BIT-FOR-BIT — the
    * k-way question HLL answers only for unions and the bitmap only
    * with a shared dictionary. */
  val an50KmvKway: Q = (s, dir) => {
    import s.implicits._
    val K = graft.functions.Kmv
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"props".isNotNull)
      .groupBy($"event_type")
      .agg(K.kmv_sketch($"props", 64).as("sk"))
    // ONE canonical row: the |types| sketches as a type-sorted array
    sk.agg(sort_array(collect_list(struct($"event_type", $"sk"))).as("arr"))
      .select(
        size($"arr").cast("long").as("n_types"),
        K.kmv_union_estimate(expr("transform(arr, x -> x.sk)")).as("est_union"),
        K.kmv_intersect_all_estimate(expr("transform(arr, x -> x.sk)"))
          .as("est_inter"))
  }

  val an50KmvKwaySql: String =
    """WITH keys AS (
      |  SELECT DISTINCT event_type, props AS k
      |  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL),
      |h AS (
      |  SELECT event_type, k,
      |    ('0x' || substr(md5(k), 1, 15))::BIGINT AS h
      |  FROM keys),
      |s AS (
      |  SELECT event_type, k, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, k) AS rn
      |  FROM h),
      |sk AS (SELECT * FROM s WHERE rn <= 64),
      |nt AS (SELECT count(DISTINCT event_type) AS n_types FROM keys),
      |u0 AS (SELECT k, h FROM sk GROUP BY 1, 2),
      |l AS (
      |  SELECT k, h, row_number() OVER (ORDER BY h, k) AS rn
      |  FROM u0),
      |mm AS (
      |  SELECT count(*) AS kl,
      |    count(*) FILTER (WHERE
      |      (SELECT count(DISTINCT x.event_type) FROM sk x WHERE x.k = l.k)
      |        = (SELECT n_types FROM nt)) AS m,
      |    max(CASE WHEN rn = 64 THEN h END) AS hk
      |  FROM l WHERE rn <= 64),
      |est AS (
      |  SELECT kl, m,
      |    CASE WHEN kl < 64 THEN kl
      |      ELSE CAST((63::HUGEINT * 1152921504606846976::HUGEINT)
      |           // greatest(hk, 1) AS BIGINT) END AS u_est
      |  FROM mm)
      |SELECT CAST((SELECT n_types FROM nt) AS BIGINT) AS n_types,
      |  u_est AS est_union,
      |  CAST((m::HUGEINT * u_est::HUGEINT) // kl::HUGEINT AS BIGINT) AS est_inter
      |FROM est""".stripMargin

  /** AN36: the sketch roll-up over a SPARSE 64-bit key domain — the r9
    * algebra's one real capability cliff, closed. User ids are lifted
    * into snowflake-id territory (`uid * 2^21 + 2^33` — every key
    * ≥ 2^33, ~2 MiB apart, so nearly every key owns its own bitmap
    * container) and a second leg uses NEGATIVE keys; both flow
    * INIT → MERGE exactly. On the r9 dense-domain bitmap this query
    * fails fast at the first key; on [[graft.functions.Bitmap64]]'s
    * array containers each isolated key costs ~2 bytes, and the merge
    * stays an exact OR. Oracle equality against COUNT(DISTINCT) over
    * the same lifted expressions IS the sparse-domain proof. */
  val an36BitmapSparse: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val lifted = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull)
      .select($"event_type", $"ts",
        ($"user_id" * lit(2097152L) + lit(8589934592L)).as("sid"),
        (lit(-1L) - $"user_id" * lit(8589934592L)).as("nid"))
    val sk = lifted
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(B.bitmap_sketch($"sid").as("sk_pos"),
        B.bitmap_sketch($"nid").as("sk_neg"))
    sk.groupBy($"event_type")
      .agg(B.bitmap_merge_count($"sk_pos").as("n_sparse"),
        B.bitmap_merge_count($"sk_neg").as("n_neg"))
      .orderBy($"event_type")
  }

  val an36BitmapSparseSql: String =
    """SELECT event_type,
      |  count(DISTINCT user_id * 2097152 + 8589934592) AS n_sparse,
      |  count(DISTINCT -1 - user_id * 8589934592) AS n_neg
      |FROM events WHERE ts IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN37: STRING-keyed exact distinct via dictionary-encode → sketch —
    * the composition that covers key domains the bitmap can't hold
    * directly (URLs, UUIDs, raw text): [[graft.operators.Dictionary]]
    * assigns dense deterministic codes `[0, |dict|)` (distinct → two-
    * phase global rank — dictionary-cardinality work, never a corpus
    * sort), the codes join back as an ordinary equi-join, and the
    * bitmap algebra proceeds as if the keys were ints — dense codes
    * are its best case (1 bit/key). Build the dictionary once, sketch
    * any number of grains. Oracle: COUNT(DISTINCT props) per type —
    * code-space distinct equals key-space distinct because the
    * encoding is injective. */
  val an37DictDistinct: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val ev = Tables.load(s, dir, "events")
      .select($"event_type", $"props")
    val (coded, _) = graft.operators.Dictionary.encode(ev, "props", "code")
    coded.groupBy($"event_type")
      .agg(B.bitmap_distinct($"code").as("n_props"),
        count(lit(1)).as("n_rows"))
      .orderBy($"event_type")
  }

  val an37DictDistinctSql: String =
    """SELECT event_type, count(DISTINCT props) AS n_props,
      |  count(*) AS n_rows
      |FROM events WHERE props IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN38: the HLL twin of an33 — the same INIT → MERGE roll-up
    * discipline over a STRING key (`props`, an unbounded domain the
    * exact bitmap can't hold without a dictionary): one 4 KiB
    * [[graft.functions.HllSketchExpr]] per (day, type) fine grain,
    * per-type distinct estimated by max-merging sketches. Estimates
    * can't hash-match COUNT(DISTINCT), so the gate uses the n8/n9
    * recall-gate pattern: output the EXACT count (oracle-pinned) next
    * to `est_ok` = the estimate landing within ±5% (≈3σ of the p=12
    * sketch; deterministic hash ⇒ no flake), which the oracle pins to
    * TRUE. The deliberate division of labor stays visible: bitmap for
    * exactness and intersections, HLL for unbounded domains at fixed
    * state. */
  val an38HllRollup: Q = (s, dir) => {
    import s.implicits._
    val H = graft.functions.Hll
    val base = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"props".isNotNull)
      .select($"event_type", $"ts", $"props")
    val est = base
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(H.hll_sketch($"props").as("sk"))
      .groupBy($"event_type")
      .agg(H.hll_merge_count($"sk").as("est"))
    val exact = base.groupBy($"event_type")
      .agg(countDistinct($"props").as("n_exact"))
    exact.join(est, "event_type")
      .select($"event_type", $"n_exact",
        ($"est" >= $"n_exact" * 0.95 && $"est" <= $"n_exact" * 1.05).as("est_ok"))
      .orderBy($"event_type")
  }

  val an38HllRollupSql: String =
    """SELECT event_type,
      |  count(DISTINCT props) AS n_exact, TRUE AS est_ok
      |FROM events WHERE ts IS NOT NULL AND props IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN39: EXACT re-aggregable quantiles — the QUANTILE leg of the
    * sketch algebra ([[graft.functions.VhistSketchExpr]] /
    * [[graft.functions.VhistMergeQuantileExpr]]): one value-histogram
    * sketch per (day, type) fine grain over value-cents, then exact
    * per-type P50/P95/P99 by count-ADDING sketches — the fact table is
    * scanned once for any number of coarser quantile grains, where a
    * direct exact percentile re-sorts the raw values per grain (and
    * `approx_percentile` gives up exactness). Values are pre-bucketed
    * to cents via floor(value × 100) — the sketch's resolution knob;
    * the quantile rule (smallest value with cumulative count ≥
    * ceil(q·N), exact-decimal rank arithmetic) replays identically in
    * the oracle's rank SQL, with DECIMAL literals so q·N never takes a
    * float detour. */
  val an39VhistQuantiles: Q = (s, dir) => {
    import s.implicits._
    val V = graft.functions.Vhist
    val sk = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select($"event_type", $"ts", floor($"value" * 100).as("cents"))
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(V.vhist_sketch($"cents").as("sk"))
    sk.groupBy($"event_type")
      .agg(V.vhist_merge_quantile($"sk", 0.5).as("p50_cents"),
        V.vhist_merge_quantile($"sk", 0.95).as("p95_cents"),
        V.vhist_merge_quantile($"sk", 0.99).as("p99_cents"))
      .orderBy($"event_type")
  }

  val an39VhistQuantilesSql: String =
    """WITH v AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |r AS (
      |  SELECT event_type, cents,
      |    row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM v)
      |SELECT event_type,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.50 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN cents END) AS p50_cents,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN cents END) AS p95_cents,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN cents END) AS p99_cents
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN40: APPEND-STABLE dictionary codes — the incremental-warehouse
    * composition [[graft.operators.Dictionary.encodeIncremental]]
    * exists for, replayed end-to-end: events split into two disjoint
    * arrival batches (by user-id parity), batch 1 encoded and sketched
    * as "yesterday's" STORED sketch table, batch 2 encoded through the
    * EXTENDED dictionary (existing codes frozen bit-for-bit, new keys
    * appended at max+1), and the two sketch generations merged as one
    * INIT → MERGE roll-up. The oracle pins the whole contract: the
    * merged exact distinct must equal COUNT(DISTINCT props) over the
    * UNION of both batches — true ONLY if every code kept meaning the
    * same key across the append (a rank re-encode renumbers mid-sort
    * keys and the merged bitmaps double- or under-count) — and
    * `codes_frozen` (zero batch-1 pairs moved in the extended
    * dictionary, a one-row scalar) must be TRUE. */
  val an40DictAppend: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val D = graft.operators.Dictionary
    val ev = Tables.load(s, dir, "events")
      .filter($"user_id".isNotNull)
      .select($"event_type", $"props", $"user_id")
    val b1 = ev.filter(pmod($"user_id", lit(2)) === 0).select($"event_type", $"props")
    val b2 = ev.filter(pmod($"user_id", lit(2)) === 1).select($"event_type", $"props")
    val (coded1, dict1) = D.encode(b1, "props", "code")
    val stored = coded1.groupBy($"event_type").agg(B.bitmap_sketch($"code").as("sk"))
    val (coded2, dict2) = D.encodeIncremental(dict1, b2, "props", "code")
    val today = coded2.groupBy($"event_type").agg(B.bitmap_sketch($"code").as("sk"))
    // one-row append-stability audit: batch-1 pairs that MOVED in the
    // extended dictionary (must be zero; broadcast as a scalar)
    val moved = dict1.as("o").join(dict2.as("n"), "props")
      .filter($"o.code" =!= $"n.code")
      .agg(count(lit(1)).as("__moved"))
    stored.unionByName(today)
      .groupBy($"event_type")
      .agg(B.bitmap_merge_count($"sk").as("n_props"))
      .crossJoin(broadcast(moved))
      .select($"event_type", $"n_props", ($"__moved" === 0L).as("codes_frozen"))
      .orderBy($"event_type")
  }

  val an40DictAppendSql: String =
    """SELECT event_type, count(DISTINCT props) AS n_props,
      |  TRUE AS codes_frozen
      |FROM events WHERE props IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN48: DICTIONARY-IDENTITY tags in coded sketch bytes — the
    * params-in-bytes discipline (vhist unit, dds alpha, kmv k) closing
    * its last seam: an40 proved codes stay FROZEN across an
    * [[graft.operators.Dictionary.encodeIncremental]] extension, but a
    * plain `bitmap_sketch` over codes carries no record of WHICH
    * dictionary produced its bits — merging sketches coded by a
    * REBUILT or independent dictionary mis-counts silently. Here the
    * full coded lifecycle runs tagged: batch-1 facts coded by
    * generation 1 and sketched with `bitmap_sketch_coded(code,
    * dict_id)` (the lineage id Dictionary.encode attaches, embedded in
    * the V2 sketch bytes), batch-2 coded through the EXTENDED
    * dictionary (same lineage id by construction), the two generations
    * OR-merged into one STORED coded sketch per type
    * (`bitmap_merge_sketch_coded` — id reconciled FAIL-LOUD at every
    * merge), and the answer read off the stored tier with the
    * lineage-checked scalar `bitmap_and_count_coded(sk, sk)`. The
    * oracle pins the merged exact distinct to COUNT(DISTINCT props)
    * over the union — true only if the extension preserved both the
    * codes AND the id (a rebuilt dictionary throws; CodedBitmapSpec
    * pins that loud failure, which a gate query cannot express). */
  val an48CodedDictMerge: Q = (s, dir) => {
    import s.implicits._
    val CB = graft.functions.CodedBitmap
    val D = graft.operators.Dictionary
    val ev = Tables.load(s, dir, "events")
      .filter($"user_id".isNotNull)
      .select($"event_type", $"props", $"user_id")
    val b1 = ev.filter(pmod($"user_id", lit(2)) === 0).select($"event_type", $"props")
    val b2 = ev.filter(pmod($"user_id", lit(2)) === 1).select($"event_type", $"props")
    val (coded1, dict1) = D.encode(b1, "props", "code")
    val stored = coded1.groupBy($"event_type")
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)).as("sk"))
    val (coded2, _) = D.encodeIncremental(dict1, b2, "props", "code")
    val today = coded2.groupBy($"event_type")
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)).as("sk"))
    stored.unionByName(today)
      .groupBy($"event_type")
      .agg(CB.bitmap_merge_sketch_coded($"sk").as("tier"))
      .select($"event_type",
        CB.bitmap_and_count_coded($"tier", $"tier").as("n_props"))
      .orderBy($"event_type")
  }

  val an48CodedDictMergeSql: String =
    """SELECT event_type, count(DISTINCT props) AS n_props
      |FROM events WHERE props IS NOT NULL AND user_id IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN41: the SKEW DISPATCHER's routing decisions, oracle-replayed —
    * [[graft.operators.Skew.dispatchJoin]] measures the left side's key
    * histogram and routes plain / hot-cold / salted; SkewSpec pins the
    * three regimes against the plain join, but a spec can drift from
    * the gate, so this query makes the ROUTE ITSELF an oracle-checked
    * output: two legs over events — a collapsed-bucket key where one
    * bucket owns ~80% of rows (must route `hotcold`: max/mean ≈ 2.4 at
    * every SF, one hot key) and the raw user-id residue where the ten
    * buckets are near-uniform (must route `plain`: max/mean ≈ 1) —
    * each reporting per-key join parity (count + weighted sum through
    * a derived dim) next to the literal route string the oracle pins.
    * A routing-threshold regression now fails the GATE, not just the
    * spec. Keys are data-determined (seed-42 testdata, read-only), so
    * the decisions are stable at sf0.001/0.01/0.1 — measured margins
    * ≥ 20% on the tightest leg. */
  val an41SkewDispatch: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .filter($"user_id".isNotNull)
      .select($"user_id", $"event_id", $"value")
    def leg(keyed: org.apache.spark.sql.DataFrame, legName: String) = {
      val dim = keyed.select($"k").distinct()
        .withColumn("w", (pmod($"k", lit(97)) + 1).cast("long"))
      val (joined, route) = graft.operators.Skew.dispatchJoin(
        keyed, dim, "k", saltCarrier = "event_id",
        skewRatio = 2, maxHotKeys = 3, salts = 8)
      joined.groupBy($"k")
        .agg(count(lit(1)).as("n_rows"),
          sum(expr("w * CAST(floor(value) AS BIGINT)")).as("wv"))
        .select(lit(legName).as("leg"), $"k", $"n_rows", $"wv",
          lit(route).as("route"))
    }
    val skewed = leg(ev.select(
      when(pmod($"user_id", lit(10)) < 8, 0L)
        .otherwise(pmod($"user_id", lit(10))).as("k"),
      $"event_id", $"value"), "skewed")
    val uniform = leg(ev.select(pmod($"user_id", lit(10)).as("k"),
      $"event_id", $"value"), "uniform")
    // the third regime (r11): MORE hot keys than the maxHotKeys=3
    // IN-list carries — event_id is a SEQUENTIAL surrogate, so the
    // residue classes are exact fractions at every SF: residues 0..43
    // collapse onto four 22% keys (hot: 22% ≥ 2 × the 10% mean, and
    // FOUR of them > 3) and 44..49 stay six 2% cold keys → must route
    // `salted`, the only weapon whose cost is independent of how many
    // keys are hot. Deterministic 1.1× threshold margin by arithmetic,
    // not by data luck (n ≡ 0 mod 50 in the generated testdata).
    val spread = leg(ev.select(
      when(pmod($"event_id", lit(50)) < 44, pmod(pmod($"event_id", lit(50)), lit(4)))
        .otherwise(pmod($"event_id", lit(50)) + 100).as("k"),
      $"event_id", $"value"), "spread")
    skewed.unionByName(uniform).unionByName(spread).orderBy($"leg", $"k")
  }

  val an41SkewDispatchSql: String =
    """WITH base AS (
      |  SELECT event_id, user_id, value FROM events WHERE user_id IS NOT NULL),
      |sk AS (
      |  -- pmod form: DuckDB % truncates toward zero on negatives,
      |  -- Spark pmod floors — identical on this data, pinned anyway
      |  SELECT CASE WHEN ((user_id % 10) + 10) % 10 < 8 THEN 0
      |              ELSE ((user_id % 10) + 10) % 10 END AS k,
      |    value FROM base),
      |un AS (SELECT ((user_id % 10) + 10) % 10 AS k, value FROM base),
      |sp AS (
      |  SELECT CASE WHEN event_id % 50 < 44 THEN (event_id % 50) % 4
      |              ELSE 100 + (event_id % 50) END AS k,
      |    value FROM base)
      |SELECT 'skewed' AS leg, k, count(*) AS n_rows,
      |  CAST(sum((((k % 97) + 97) % 97 + 1) * CAST(floor(value) AS BIGINT))
      |    AS BIGINT) AS wv,
      |  'hotcold' AS route
      |FROM sk GROUP BY k
      |UNION ALL
      |SELECT 'uniform' AS leg, k, count(*) AS n_rows,
      |  CAST(sum((((k % 97) + 97) % 97 + 1) * CAST(floor(value) AS BIGINT))
      |    AS BIGINT) AS wv,
      |  'plain' AS route
      |FROM un GROUP BY k
      |UNION ALL
      |SELECT 'spread' AS leg, k, count(*) AS n_rows,
      |  CAST(sum((((k % 97) + 97) % 97 + 1) * CAST(floor(value) AS BIGINT))
      |    AS BIGINT) AS wv,
      |  'salted' AS route
      |FROM sp GROUP BY k
      |ORDER BY 1, 2""".stripMargin

  /** AN42: the TIERED stored roll-up — the sketch→sketch MERGE leg
    * (`bitmap_merge_sketch` / `hll_merge_sketch` / `vhist_merge_sketch`)
    * exercised as a warehouse would: daily sketches over three key
    * domains (exact bitmap on user ids, HLL on the unbounded props
    * domain, exact value histogram on cents) roll into a STORED weekly
    * sketch tier, and the final answers come from THAT tier — the fact
    * table is scanned once, each hierarchy level built only from the
    * level below. Because all three merges are associative and
    * canonical, the stored weekly sketches are byte-identical to
    * sketching the facts directly (spec-pinned), so the oracle can pin
    * the tiered answers to first-principles SQL: exact weekly distinct
    * users, exact distinct props next to the HLL `est_ok` bound
    * (n8/n9 recall-gate pattern, deterministic hash ⇒ no flake), and
    * the exact P95 via an39's discrete-lower rank rule. */
  val an42TieredRollup: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val H = graft.functions.Hll
    val V = graft.functions.Vhist
    val base = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull &&
        $"props".isNotNull && $"value".isNotNull)
      .select($"ts", $"user_id", $"props", floor($"value" * 100).as("cents"))
    val daily = base
      .groupBy(to_date($"ts").as("day"))
      .agg(B.bitmap_sketch($"user_id").as("bsk"),
        H.hll_sketch($"props").as("hsk"),
        V.vhist_sketch($"cents").as("vsk"))
    val weekly = daily // the STORED coarser tier, built from days only
      .groupBy(date_trunc("week", $"day").cast("date").as("week"))
      .agg(B.bitmap_merge_sketch($"bsk").as("bsk"),
        H.hll_merge_sketch($"hsk").as("hsk"),
        V.vhist_merge_sketch($"vsk").as("vsk"))
    val fromWeekly = weekly.groupBy($"week")
      .agg(B.bitmap_merge_count($"bsk").as("n_users"),
        H.hll_merge_count($"hsk").as("props_est"),
        V.vhist_merge_quantile($"vsk", 0.95).as("p95_cents"))
    val exact = base
      .groupBy(date_trunc("week", $"ts").cast("date").as("week"))
      .agg(countDistinct($"props").as("n_props"))
    exact.join(fromWeekly, "week")
      .select($"week", $"n_users", $"n_props",
        ($"props_est" >= $"n_props" * 0.95 &&
          $"props_est" <= $"n_props" * 1.05).as("est_ok"),
        $"p95_cents")
      .orderBy($"week")
  }

  val an42TieredRollupSql: String =
    """WITH base AS (
      |  SELECT date_trunc('week', ts)::DATE AS week, user_id, props,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL
      |    AND props IS NOT NULL AND value IS NOT NULL),
      |agg AS (
      |  SELECT week, count(DISTINCT user_id) AS n_users,
      |    count(DISTINCT props) AS n_props
      |  FROM base GROUP BY 1),
      |r AS (
      |  SELECT week, cents,
      |    row_number() OVER (PARTITION BY week ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY week) AS n
      |  FROM base),
      |q AS (
      |  SELECT week,
      |    min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(8,6)) * n) AS BIGINT)
      |             THEN cents END) AS p95_cents
      |  FROM r GROUP BY 1)
      |SELECT agg.week, agg.n_users, agg.n_props, TRUE AS est_ok, q.p95_cents
      |FROM agg JOIN q USING (week) ORDER BY 1""".stripMargin

  /** AN43: the SAMPLE leg of the sketch algebra — KMV bottom-k
    * sketches ([[graft.functions.Kmv]]) as a warehouse would use them:
    * per-day sketches over two key domains (props at k=16, user ids at
    * k=32) roll into per-type merged sketches, and each merged sketch
    * answers BOTH "show me k example keys" (a deterministic uniform
    * sample — the k smallest md5-prefix hashes) and "how many distinct
    * keys, roughly" (exact below k, the integer-exact (k-1)·2^60/h_k
    * rule at k) — one fact scan, every coarser sample a sketch merge,
    * no per-group sort or LIMIT window over the facts. Unlike HLL, the
    * whole surface is oracle-EXACT: the hash is
    * `('0x' || substr(md5(key), 1, 15))::BIGINT`, so DuckDB replays
    * sample membership, order, and estimate bit-for-bit. The two legs
    * pin both estimate regimes: props (~100 distinct ≥ k) exercises
    * the k-th-hash formula; users at sf0.001 (15 < 32) the exact-count
    * path. */
  val an43KmvSample: Q = (s, dir) => {
    import s.implicits._
    val K = graft.functions.Kmv
    val base = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"props".isNotNull)
    def leg(name: String, key: org.apache.spark.sql.Column, k: Int) = {
      val daily = base
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(K.kmv_sketch(key, k).as("sk"))
      daily.groupBy($"event_type")
        .agg(K.kmv_merge_sketch($"sk").as("sk"))
        .select(lit(name).as("leg"), $"event_type",
          K.kmv_estimate($"sk").as("est_keys"),
          posexplode(K.kmv_keys($"sk")).as(Seq("pos", "sample_key")))
        .select($"leg", $"event_type", $"est_keys",
          ($"pos" + 1).cast("long").as("sample_rank"), $"sample_key")
    }
    leg("props", $"props", 16)
      .unionByName(leg("users", $"user_id".cast("string"), 32))
      .orderBy($"leg", $"event_type", $"sample_rank")
  }

  val an43KmvSampleSql: String =
    """WITH base AS (
      |  SELECT event_type, props, CAST(user_id AS VARCHAR) AS ukey
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND props IS NOT NULL),
      |pd AS (
      |  SELECT DISTINCT event_type, props AS k,
      |    ('0x' || substr(md5(props), 1, 15))::BIGINT AS h
      |  FROM base),
      |ud AS (
      |  SELECT DISTINCT event_type, ukey AS k,
      |    ('0x' || substr(md5(ukey), 1, 15))::BIGINT AS h
      |  FROM base),
      |pr AS (
      |  SELECT event_type, k, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, k) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS nd
      |  FROM pd),
      |ur AS (
      |  SELECT event_type, k, h,
      |    row_number() OVER (PARTITION BY event_type ORDER BY h, k) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS nd
      |  FROM ud),
      |pe AS (
      |  SELECT event_type,
      |    CAST(CASE WHEN max(nd) < 16 THEN max(nd)
      |      ELSE (15::HUGEINT * 1152921504606846976::HUGEINT)
      |           // greatest(max(CASE WHEN rn = 16 THEN h END), 1) END
      |      AS BIGINT) AS est_keys
      |  FROM pr GROUP BY 1),
      |ue AS (
      |  SELECT event_type,
      |    CAST(CASE WHEN max(nd) < 32 THEN max(nd)
      |      ELSE (31::HUGEINT * 1152921504606846976::HUGEINT)
      |           // greatest(max(CASE WHEN rn = 32 THEN h END), 1) END
      |      AS BIGINT) AS est_keys
      |  FROM ur GROUP BY 1)
      |SELECT 'props' AS leg, pr.event_type, pe.est_keys,
      |  pr.rn AS sample_rank, pr.k AS sample_key
      |FROM pr JOIN pe USING (event_type) WHERE pr.rn <= 16
      |UNION ALL
      |SELECT 'users' AS leg, ur.event_type, ue.est_keys,
      |  ur.rn AS sample_rank, ur.k AS sample_key
      |FROM ur JOIN ue USING (event_type) WHERE ur.rn <= 32
      |ORDER BY 1, 2, 4""".stripMargin

  /** AN45: RELATIVE-error mergeable quantiles over an UNBOUNDED
    * continuous domain — [[graft.functions.DdsSketchExpr]] /
    * [[graft.functions.DdsMergeQuantileExpr]], the approximate twin of
    * the exact an39 leg exactly as the HLL (an38) twins the exact
    * bitmap: where [[graft.functions.Vhist]] needs an integral domain
    * and a single ABSOLUTE pre-bucket unit, the DDSketch's log-spaced
    * buckets give a RELATIVE guarantee (every quantile within alpha =
    * 1% multiplicatively) over values spanning arbitrary orders of
    * magnitude at ~75k buckets worst-case. The probe metric is value³
    * (one/two IEEE multiplies, replayed identically by the oracle),
    * stretching the 0.01..490 domain across 14 decades. Estimates
    * can't hash-match an exact engine, so the gate uses the an38
    * est_ok pattern with EXACT anchors: the exact P50/P95/P99 (the
    * house discrete-lower rank rule, computed via the exact vhist leg
    * on floor(metric·1e6) — micros-resolution, no corpus-wide window)
    * are oracle-replayed in rank SQL, and each `*_ok` flag pins the
    * DDSketch estimate within the alpha envelope (plus micro-flooring
    * and StrictMath-ulp slack). Deterministic bucketing (StrictMath
    * only) ⇒ the flags cannot flake. The estimate side rides the FULL
    * sketch lifecycle: INIT per (day, type) → `dds_merge_sketch` into
    * a stored per-type tier → `dds_quantile_of` per-row scalar reads
    * — the composition a warehouse actually materializes. */
  val an45DdsQuantiles: Q = (s, dir) => {
    import s.implicits._
    val D = graft.functions.Dds
    val V = graft.functions.Vhist
    val alpha = 0.01
    val base = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select($"event_type", $"ts",
        ($"value" * $"value" * $"value").as("metric"))
    // fine grain -> STORED coarser sketch (dds_merge_sketch, the
    // stored-tier leg) -> per-row scalar reads (dds_quantile_of): the
    // whole INIT -> MERGE-to-stored -> read surface rides one gate row
    val est = base
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(D.dds_sketch($"metric", alpha).as("sk"))
      .groupBy($"event_type")
      .agg(D.dds_merge_sketch($"sk").as("msk"))
      .select($"event_type",
        D.dds_quantile_of($"msk", 0.5).as("p50_est"),
        D.dds_quantile_of($"msk", 0.95).as("p95_est"),
        D.dds_quantile_of($"msk", 0.99).as("p99_est"),
        // r12 multi-probe read: one decode, three rank walks — pinned
        // element-for-element to the single-q scalars off the SAME bytes
        D.dds_quantiles($"msk", Seq(0.5, 0.95, 0.99)).as("multi_est"))
    val exact = base
      .select($"event_type", floor($"metric" * lit(1000000.0)).as("micros"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_rows"),
        V.vhist_quantile($"micros", 0.5).as("p50_micros"),
        V.vhist_quantile($"micros", 0.95).as("p95_micros"),
        V.vhist_quantile($"micros", 0.99).as("p99_micros"))
    // |est - x| <= alpha·x and micros = floor(x·1e6) ∈ (x·1e6 - 1, x·1e6]
    // ⇒ |est·1e6 - micros| <= alpha·(micros + 1) + 1, plus ulp headroom
    def ok(e: org.apache.spark.sql.Column, m: org.apache.spark.sql.Column) =
      abs(e * lit(1000000.0) - m) <= lit(alpha * 1.000001) * (abs(m) + lit(1.0)) + lit(1.0)
    exact.join(est, "event_type")
      .select($"event_type", $"n_rows",
        $"p50_micros", $"p95_micros", $"p99_micros",
        ok($"p50_est", $"p50_micros").as("p50_ok"),
        ok($"p95_est", $"p95_micros").as("p95_ok"),
        ok($"p99_est", $"p99_micros").as("p99_ok"),
        ($"multi_est" === array($"p50_est", $"p95_est", $"p99_est"))
          .as("multi_ok"))
      .orderBy($"event_type")
  }

  val an45DdsQuantilesSql: String =
    """WITH v AS (
      |  SELECT event_type,
      |    CAST(floor(value * value * value * 1000000.0) AS BIGINT) AS micros
      |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |r AS (
      |  SELECT event_type, micros,
      |    row_number() OVER (PARTITION BY event_type ORDER BY micros) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM v)
      |SELECT event_type, max(n) AS n_rows,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.50 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN micros END) AS p50_micros,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN micros END) AS p95_micros,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN micros END) AS p99_micros,
      |  TRUE AS p50_ok, TRUE AS p95_ok, TRUE AS p99_ok, TRUE AS multi_ok
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN34: cohort retention matrix — the canonical product-analytics
    * warehouse query: users are grouped into cohorts by FIRST-ACTIVE
    * day, and each (cohort, day-offset) cell counts how many of that
    * cohort were active again `offset` days later, as an integer
    * basis-point share of the cohort. Three user/cohort-keyed
    * map-side-combined aggregations and one broadcast-sized join —
    * the (user, day) activity relation is the only corpus-scale
    * shuffle, and it is deduplicated BEFORE the matrix so n_active is
    * a distinct-user count without a count(distinct) expand. Null
    * ts/user rows are excluded identically on both engines (the
    * adversarial-fixture guard). Integer floor division — oracle
    * replays bit-for-bit. */
  val an34Retention: Q = (s, dir) => {
    import s.implicits._
    val activity = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull)
      .select($"user_id", to_date($"ts").as("day"))
      .distinct()
    val cohorts = activity.groupBy($"user_id").agg(min($"day").as("cohort_day"))
    val sizes = cohorts.groupBy($"cohort_day").agg(count(lit(1)).as("cohort_n"))
    activity.join(cohorts, "user_id")
      .select($"cohort_day", datediff($"day", $"cohort_day").cast("long").as("day_offset"))
      .groupBy($"cohort_day", $"day_offset")
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_day")
      .select($"cohort_day", $"day_offset", $"n_active", $"cohort_n",
        expr("(n_active * 10000) div cohort_n").as("retention_bp"))
      .orderBy($"cohort_day", $"day_offset")
  }

  val an34RetentionSql: String =
    """WITH a AS (
      |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
      |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY user_id),
      |s AS (SELECT cohort_day, count(*) AS cohort_n FROM c GROUP BY cohort_day),
      |m AS (SELECT c.cohort_day, CAST(a.day - c.cohort_day AS BIGINT) AS day_offset,
      |        count(*) AS n_active
      |      FROM a JOIN c USING (user_id) GROUP BY 1, 2)
      |SELECT m.cohort_day, m.day_offset, m.n_active, s.cohort_n,
      |  (m.n_active * 10000) // s.cohort_n AS retention_bp
      |FROM m JOIN s USING (cohort_day) ORDER BY 1, 2""".stripMargin

  /** AN21: first-order Markov transition matrix over per-user event
    * sequences — the session-flow analysis behind "what do users do
    * after an error?". lead() over a window PARTITIONED BY user_id
    * (shuffle keyed on users — even the busiest user's event list is
    * tiny, no skew hazard), then a 25-row group-by. Probabilities are
    * integer basis points via floor division: bit-identical on both
    * engines, no float row-order sensitivity. Ties in ts break on
    * event_id, making the sequence — and thus every transition — a
    * total order. */
  val an21TransitionMatrix: Q = (s, dir) => {
    import s.implicits._
    val seq = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val pairs = Tables.load(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type".as("from_type"))
      .withColumn("to_type", lead($"from_type", 1).over(seq))
      .filter($"to_type".isNotNull)
      .groupBy($"from_type", $"to_type")
      .agg(count(lit(1)).as("n"))
    val byFrom = Window.partitionBy($"from_type")
    pairs
      .withColumn("from_total", sum($"n").over(byFrom))
      .select($"from_type", $"to_type", $"n",
        expr("n * 10000 DIV from_total").as("prob_bp"))
      .orderBy($"from_type", $"to_type")
  }

  val an21TransitionMatrixSql: String =
    """WITH seqd AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
      |  FROM events),
      |pairs AS (
      |  SELECT from_type, to_type, count(*) AS n
      |  FROM seqd WHERE to_type IS NOT NULL GROUP BY 1, 2)
      |SELECT from_type, to_type, n,
      |  n * 10000 // CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_bp
      |FROM pairs ORDER BY from_type, to_type""".stripMargin

  /** AN22: exact audience overlap between event types — for every
    * ordered type pair, how many distinct users did BOTH, plus the
    * Jaccard overlap in basis points. The scale-correct shape for a
    * small type domain: reduce the fact table to distinct (user,
    * type) pairs FIRST (one user-keyed shuffle, output ≤ |users| ×
    * |types| rows), self-join those on user_id, then a 25-row
    * group-by. No bitmap materialization on the driver, no
    * |types|²-pass over the corpus. Jaccard's denominator comes from
    * the same distinct relation re-aggregated (tiny, broadcast). */
  val an22TypeOverlap: Q = (s, dir) => {
    import s.implicits._
    val ut = Tables.load(s, dir, "events")
      .select($"user_id", $"event_type").distinct()
    val perType = ut.groupBy($"event_type").agg(count(lit(1)).as("n_type"))
    val pairs = ut.as("a")
      .join(ut.as("b"), "user_id")
      .groupBy($"a.event_type".as("t1"), $"b.event_type".as("t2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(perType.select($"event_type".as("t1"), $"n_type".as("n1"))), "t1")
      .join(broadcast(perType.select($"event_type".as("t2"), $"n_type".as("n2"))), "t2")
      .select($"t1", $"t2", $"n_both",
        expr("n_both * 10000 DIV (n1 + n2 - n_both)").as("jaccard_bp"))
      .orderBy($"t1", $"t2")
  }

  val an22TypeOverlapSql: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |pt AS (SELECT event_type, count(*) AS n_type FROM ut GROUP BY 1),
      |pairs AS (
      |  SELECT a.event_type AS t1, b.event_type AS t2, count(*) AS n_both
      |  FROM ut a JOIN ut b USING (user_id) GROUP BY 1, 2)
      |SELECT p.t1, p.t2, p.n_both,
      |  p.n_both * 10000 // (x.n_type + y.n_type - p.n_both) AS jaccard_bp
      |FROM pairs p
      |  JOIN pt x ON p.t1 = x.event_type
      |  JOIN pt y ON p.t2 = y.event_type
      |ORDER BY p.t1, p.t2""".stripMargin

  /** AN23: robust outlier detection per event type — median/MAD
    * (median absolute deviation) gating, the standard heavy-tail-safe
    * alternative to mean/stddev z-scores. Both medians are DISCRETE
    * (the rank-⌈n/2⌉ element under a (value, event_id) total order),
    * never interpolated: the selected values are actual input doubles,
    * so med, mad, and every |x−med| > 3·mad comparison are bit-exact
    * on both engines — no float-formula parity risk. Two passes over
    * the fact (median, then deviations), each a window PARTITIONED BY
    * event_type; the 5-row med/mad relations broadcast back. */
  val an23RobustOutliers: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_type", $"event_id", $"value")
    def discMedian(df: DataFrame, valueCol: String, out: String): DataFrame = {
      val w = Window.partitionBy($"event_type")
      val o = Window.partitionBy($"event_type")
        .orderBy(col(valueCol), $"event_id")
      df.withColumn("rn", row_number().over(o))
        .withColumn("n", count(lit(1)).over(w))
        // (n+1) DIV 2 = lower median rank; Column./ would be DOUBLE
        // division and silently select no row for even-sized groups
        .filter($"rn" === expr("(n + 1) DIV 2"))
        .select($"event_type", col(valueCol).as(out))
    }
    val med = discMedian(ev, "value", "med")
    val dev = ev.join(broadcast(med), "event_type")
      .withColumn("ad", abs($"value" - $"med"))
    val mad = discMedian(dev.select($"event_type", $"event_id", $"ad"), "ad", "mad")
    dev.join(broadcast(mad), "event_type")
      .groupBy($"event_type", $"med", $"mad")
      .agg(sum(when($"ad" > $"mad" * 3, 1L).otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_events"))
      .select($"event_type", $"med", $"mad", $"n_outliers", $"n_events")
      .orderBy($"event_type")
  }

  val an23RobustOutliersSql: String =
    """WITH r1 AS (
      |  SELECT event_type, value,
      |    row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |med AS (SELECT event_type, value AS med FROM r1 WHERE rn = (n + 1) // 2),
      |dev AS (
      |  SELECT e.event_type, e.event_id, abs(e.value - m.med) AS ad, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |r2 AS (
      |  SELECT event_type, ad,
      |    row_number() OVER (PARTITION BY event_type ORDER BY ad, event_id) AS rn,
      |    count(*) OVER (PARTITION BY event_type) AS n
      |  FROM dev),
      |mad AS (SELECT event_type, ad AS mad FROM r2 WHERE rn = (n + 1) // 2)
      |SELECT d.event_type, d.med, x.mad,
      |  CAST(sum(CASE WHEN d.ad > x.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |  count(*) AS n_events
      |FROM dev d JOIN mad x USING (event_type)
      |GROUP BY 1, 2, 3 ORDER BY d.event_type""".stripMargin

  /** E14: streaming CDC landing with an idempotent foreachBatch MERGE
    * sink (Streams.mergeSinkOnce) — a REAL streaming query in the
    * gate: the events table becomes a change log (U rows from normal
    * events, D tombstone-requests from 'error' events, version =
    * event-time micros, pre-deduped to one row per (user, instant) so
    * versions totally order each key), streamed in multiple
    * micro-batches with EVERY batch applied twice (simulated
    * at-least-once redelivery). The published snapshot must equal the
    * batch last-writer-wins oracle — proving the sink is idempotent
    * and batch-order-free, the two properties recovery replay needs. */
  val e14StreamMergeSink: Q = (s, dir) => {
    import s.implicits._
    val byInstant = Window.partitionBy($"user_id", $"tus")
      .orderBy($"event_id".desc)
    val log = Tables.load(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        floor($"value" / 10.0).cast("long").as("tier"),
        when($"event_type" === "error", "D").otherwise("U").as("op"))
      .withColumn("rn", row_number().over(byInstant))
      .filter($"rn" === 1)
      .select($"user_id", $"tier", $"tus".as("version"), $"op")
    // the state mergeSinkOnce returns is localCheckpointed, so it
    // outlives the scratch dir
    Streams.withGateScratch("graft-e14") { scratch =>
      val staged = scratch.resolve("staged").toString
      log.write.mode("overwrite").parquet(staged)
      val stream = s.readStream.schema(log.schema)
        .option("maxFilesPerTrigger", "8") // force several micro-batches
        .parquet(staged)
      Streams.withGateDrainConf(s) {
        Streams.mergeSinkOnce(stream, keys = Seq("user_id"),
          redeliver = true, checkpointDir = Some(scratch.resolve("ckpt").toString))
      }
    }
      .filter($"op" =!= "D")
      .select($"user_id", $"tier", $"version")
      .orderBy($"user_id")
  }

  val e14StreamMergeSinkSql: String =
    """WITH log AS (
      |  SELECT user_id, tier, tus AS version, op FROM (
      |    SELECT user_id, epoch_us(ts) AS tus,
      |      CAST(floor(value / 10.0) AS BIGINT) AS tier,
      |      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |      row_number() OVER (PARTITION BY user_id, epoch_us(ts)
      |                         ORDER BY event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |last AS (
      |  SELECT user_id, tier, version, op,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY version DESC, op DESC) AS rn
      |  FROM log)
      |SELECT user_id, tier, version FROM last
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** AN26: exact rolling active users — DAU and trailing-7-day WAU per
    * day, the product-analytics staple. The EXACT distributed form:
    * reduce to distinct (user, day) first (the only corpus-sized
    * shuffle), then fan each activity day out to the ≤7 window days it
    * contributes to and count distinct per window day — a bounded 7×
    * expansion of the already-deduplicated relation, never a
    * collect_set over users. Days are integer epoch days, identical
    * arithmetic on both engines; window days with no direct activity
    * drop out of the inner join on both sides. */
  val an26RollingActive: Q = (s, dir) => {
    import s.implicits._
    val ud = Tables.load(s, dir, "events")
      .select($"user_id",
        expr("CAST(floor(unix_micros(ts) / 86400000000.0) AS BIGINT)").as("dd"))
      .distinct()
    val dau = ud.groupBy($"dd").agg(countDistinct($"user_id").as("dau"))
    val wau = ud
      .select($"user_id", explode(expr("sequence(dd, dd + 6)")).as("wd"))
      .distinct()
      .groupBy($"wd").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, $"dd" === $"wd")
      .select($"dd".as("day_no"), $"dau", $"wau")
      .orderBy($"day_no")
  }

  val an26RollingActiveSql: String =
    """WITH ud AS (
      |  SELECT DISTINCT user_id,
      |    CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) AS dd
      |  FROM events),
      |dau AS (SELECT dd, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
      |fan AS (
      |  SELECT DISTINCT user_id, dd + x.x AS wd
      |  FROM ud, (SELECT unnest([0, 1, 2, 3, 4, 5, 6]) AS x) x),
      |wau AS (SELECT wd, count(DISTINCT user_id) AS wau FROM fan GROUP BY 1)
      |SELECT d.dd AS day_no, d.dau, w.wau
      |FROM dau d JOIN wau w ON d.dd = w.wd
      |ORDER BY day_no""".stripMargin

  /** E15: checkpointed source progress — exactly-once across RESTARTS.
    * Two separate streaming runs share one checkpointLocation: the
    * first drains phase-A files, the query STOPS, phase-B files land,
    * and the resumed query processes ONLY the new files (the source's
    * committed offsets live in the checkpoint). Batch partial
    * aggregates fold into the running state with Cdc.mergePartialAggs
    * (the u8 algebraic merge — O(batch + groups), no rescan). The
    * oracle is the batch aggregate over ALL events: if the resumed run
    * re-processed phase A, every phase-A row would double-count and
    * the hash compare would fail — the gate itself proves the
    * exactly-once property. */
  val e15CheckpointResume: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"event_type",
        expr("CAST(round(value * 10000) AS BIGINT)").as("v_scaled"))
    // the scratch dir holds both the replay data and the SHARED
    // checkpoint the two runs resume across; the state is
    // localCheckpointed per batch, so it outlives the dir
    Streams.withGateScratch("graft-e15") { scratch =>
      val data = scratch.resolve("data").toString
      val ckpt = scratch.resolve("ckpt").toString
      ev.filter($"event_id" % 2 === 0).drop("event_id")
        .write.mode("overwrite").parquet(data)
      var state: DataFrame = null
      def drain(): Unit = Streams.withGateDrainConf(s) {
        val stream = s.readStream.schema(ev.drop("event_id").schema).parquet(data)
        val q = stream.writeStream
          .option("checkpointLocation", ckpt)
          .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: java.lang.Long) =>
            val part = batch.groupBy($"event_type")
              .agg(count(lit(1)).as("cnt_n"), sum($"v_scaled").as("sum_v"))
              .localCheckpoint()
            state = (if (state == null) part
              else graft.operators.Cdc.mergePartialAggs(state, part, Seq("event_type")))
              .localCheckpoint()
            ()
          }
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      drain() // run 1: phase A only
      ev.filter($"event_id" % 2 === 1).drop("event_id")
        .write.mode("append").parquet(data)
      drain() // run 2 resumes from the checkpoint: ONLY phase B
      state
    }
      .select($"event_type", $"cnt_n".as("n"), $"sum_v".as("value_scaled"))
      .orderBy($"event_type")
  }

  val e15CheckpointResumeSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_scaled
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  /** U9: time-travel read — the state of the e14 change log AS OF a
    * past version cutoff (Delta/Iceberg "VERSION AS OF" semantics on
    * a raw CDC log): filter the log to versions <= the cutoff, then
    * last-writer-wins with tombstones dropped. The cutoff itself is
    * data-derived (the median event instant — a 1-row broadcast), so
    * the query replays identically on both engines. One key shuffle
    * for the per-key compaction; the filter prunes BEFORE the shuffle,
    * so reading an old snapshot costs less than reading the head. */
  val u9TimeTravel: Q = (s, dir) => {
    import s.implicits._
    val byInstant = Window.partitionBy($"user_id", $"tus")
      .orderBy($"event_id".desc)
    val log = Tables.load(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("tus"), $"event_id",
        floor($"value" / 10.0).cast("long").as("tier"),
        when($"event_type" === "error", "D").otherwise("U").as("op"))
      .withColumn("rn", row_number().over(byInstant))
      .filter($"rn" === 1)
      .select($"user_id", $"tier", $"tus".as("version"), $"op")
    val cutoff = graft.operators.Ranking
      .globalRowNumber(log.select($"version"), Seq($"version".asc), "r")
      .crossJoin(broadcast(log.agg(count(lit(1)).as("n"))))
      .filter($"r" === expr("(n + 1) DIV 2"))
      .select($"version".as("cut"))
    graft.operators.Cdc
      .compact(log.crossJoin(broadcast(cutoff)).filter($"version" <= $"cut")
        .drop("cut"), Seq("user_id"))
      .filter($"op" =!= "D")
      .select($"user_id", $"tier", $"version")
      .orderBy($"user_id")
  }

  val u9TimeTravelSql: String =
    """WITH log AS (
      |  SELECT user_id, tier, tus AS version, op FROM (
      |    SELECT user_id, epoch_us(ts) AS tus,
      |      CAST(floor(value / 10.0) AS BIGINT) AS tier,
      |      CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |      row_number() OVER (PARTITION BY user_id, epoch_us(ts)
      |                         ORDER BY event_id DESC) AS rn
      |    FROM events) WHERE rn = 1),
      |cut AS (
      |  SELECT version AS cut FROM (
      |    SELECT version, row_number() OVER (ORDER BY version) AS r,
      |      count(*) OVER () AS n
      |    FROM log)
      |  WHERE r = (n + 1) // 2),
      |hist AS (SELECT l.* FROM log l, cut c WHERE l.version <= c.cut),
      |last AS (
      |  SELECT user_id, tier, version, op,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY version DESC, op DESC) AS rn
      |  FROM hist)
      |SELECT user_id, tier, version FROM last
      |WHERE rn = 1 AND op <> 'D'
      |ORDER BY user_id""".stripMargin

  /** SK2: salted replicate join — the sk1 pattern's JOIN form. The
    * events fact joins a per-type dim through Skew.saltedJoin: the
    * fact side gets a deterministic salt from hash(event_id), the dim
    * is replicated once per salt, and the equi-join runs on
    * (event_type, salt) so a hot event type spreads over `salts`
    * reducers instead of one. The spec pins plan equivalence with the
    * plain join; the oracle is that plain join. DECIMAL sum keeps the
    * post-join aggregate order-independent. */
  val sk2SaltedJoin: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_type", $"event_id", $"value".cast(dec).as("v"))
    // deterministic dim derived from the fact's own key domain: a
    // per-type integer weight (no external table needed, same rows on
    // both engines)
    val dim = ev.select($"event_type").distinct()
      .withColumn("weight", length($"event_type").cast("long"))
    graft.operators.Skew.saltedJoin(ev, dim, key = "event_type",
        saltCarrier = "event_id")
      .groupBy($"event_type", $"weight")
      .agg(round(sum($"v" * $"weight"), 2).cast("double").as("weighted_value"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  val sk2SaltedJoinSql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type, CAST(len(event_type) AS BIGINT) AS weight
      |  FROM events)
      |SELECT e.event_type, d.weight,
      |  CAST(round(sum(CAST(e.value AS DECIMAL(18,4)) * d.weight), 2) AS DOUBLE)
      |    AS weighted_value,
      |  count(*) AS n
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY 1, 2 ORDER BY 1""".stripMargin

  /** The daily-tier streaming gates' drain (e19, e21–e27): `producer`
    * over the events replay shifted at DAY granularity (a day
    * multiple, so day indexes translate exactly) through
    * [[runShiftedGate]]. Returns the sink table and the day offset to
    * subtract on the way out. */
  private def runDailyStreamGate(s: SparkSession, ev: DataFrame, queryName: String)(
      producer: Dataset[Streams.Event] => Dataset[_]): (DataFrame, Long) = {
    import s.implicits._
    val (table, off) = runShiftedGate(s, ev, 86400L, queryName, eventSentinel(s))(
      df => producer(df.as[Streams.Event]))
    (table, off / (86400L * 1000000L))
  }

  /** E19: STREAMING exact distinct users per day —
    * [[graft.streaming.Streams.dailyDistinctStream]], the an33 bitmap
    * sketch as flatMapGroupsWithState state: per-day bitmaps OR-update
    * each micro-batch and flush once the watermark passes the day
    * (state bounded by the watermark horizon, never the stream
    * length; no count-distinct Expand anywhere). Rows with null
    * ts/user/value are excluded on both engines (the `Dataset[Event]`
    * encoder contract — primitive fields reject nulls by design).
    * Oracle = batch count(DISTINCT) per day: equality proves
    * streaming ≡ batch. */
  val e19StreamDailyDistinct: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull)
      .select($"user_id", $"ts", $"value")
    val (streamed, offDays) = runDailyStreamGate(s, ev, "e19_daily")(
      graft.streaming.Streams.dailyDistinctStream(_))
    streamed.filter($"distinct_users" > 0)
      .select(expr(s"date_add(DATE '1970-01-01', CAST(day - $offDays AS INT))")
        .as("day"), $"distinct_users")
      .orderBy($"day")
  }

  val e19StreamDailyDistinctSql: String =
    """SELECT date_trunc('day', ts)::DATE AS day,
      |  count(DISTINCT user_id) AS distinct_users
      |FROM events
      |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** E21: STREAMING SKETCH-TABLE PARITY — the lambda-architecture
    * equivalence, gate-pinned: the stream
    * ([[graft.streaming.Streams.dailySketchStream]]) flushes each
    * day's serialized bitmap SKETCH when the watermark passes the day,
    * and this query compares those bytes against the sketch tier a
    * batch backfill builds with `bitmap_sketch` over the same facts.
    * Because Bitmap64 serialization is canonical (a pure function of
    * the key set — micro-batch arrival order, state round-trips, and
    * partitioning all invisible), `bytes_equal` must be TRUE on every
    * day — a warehouse can build sketch tables live and backfill them
    * from batch with no format seam. `distinct_users` is read off the
    * STREAMED bytes (self-AND cardinality, no re-scan) and
    * oracle-matched to batch COUNT(DISTINCT); the e19 harness (file
    * replay, day-granularity epoch shift, far-future sentinels,
    * memory sink) drives the stream. */
  val e21StreamSketchParity: Q = (s, dir) => {
    import s.implicits._
    val B = graft.functions.BitmapDistinct
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e21_sketches")(
      graft.streaming.Streams.dailySketchStream(_))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    // the batch backfill tier: same floorDiv day key (exact pmod form)
    val batch = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(B.bitmap_sketch($"user_id").as("bsk"))
    streamed.join(batch, "day")
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        B.bitmap_and_count($"sketch", $"sketch").as("distinct_users"),
        ($"sketch" === $"bsk").as("bytes_equal"))
      .filter($"distinct_users" > 0)
      .orderBy($"day")
  }

  val e21StreamSketchParitySql: String =
    """SELECT date_trunc('day', ts)::DATE AS day,
      |  count(DISTINCT user_id) AS distinct_users,
      |  TRUE AS bytes_equal
      |FROM events
      |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |  AND user_id >= 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** E22: STREAMING DDSKETCH-TIER PARITY — e21's lambda-architecture
    * equivalence extended to the relative-error quantile leg
    * ([[graft.streaming.Streams.dailyValueSketchStream]]): the stream
    * flushes each day's serialized [[graft.functions.Dds]] sketch over
    * event VALUES when the watermark passes the day, and the gate
    * compares those bytes to the tier a batch backfill builds with
    * `dds_sketch(value, 0.01)` over the same facts — `bytes_equal`
    * oracle-pinned TRUE on every day (canonical bucket serialization
    * makes micro-batch arrival order and state round-trips invisible).
    * The streamed bytes are also READ per row with the
    * `dds_quantile_of` scalar and `p99_ok` pins the estimate inside
    * the an45 alpha envelope against the EXACT per-day P99 (vhist
    * micros, rank rule replayed in the oracle) — parity AND
    * correctness off one streamed sketch table. e19/e21 harness:
    * file replay, day-granularity epoch shift, far-future sentinels,
    * memory sink. */
  val e22StreamDdsParity: Q = (s, dir) => {
    import s.implicits._
    val D = graft.functions.Dds
    val V = graft.functions.Vhist
    val alpha = 0.01
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e22_sketches")(
      graft.streaming.Streams.dailyValueSketchStream(_, alpha))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    // the batch backfill tier + the exact anchors, one scan
    val batch = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(D.dds_sketch($"value", alpha).as("bsk"),
        count(lit(1)).as("n_rows"),
        V.vhist_quantile(floor($"value" * lit(1000000.0)), 0.99).as("p99_micros"))
    streamed.join(batch, "day")
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        $"n_rows", $"p99_micros",
        (abs(D.dds_quantile_of($"sketch", 0.99) * lit(1000000.0) - $"p99_micros")
          <= lit(alpha * 1.000001) * (abs($"p99_micros") + lit(1.0)) + lit(1.0))
          .as("p99_ok"),
        ($"sketch" === $"bsk").as("bytes_equal"))
      .orderBy($"day")
  }

  val e22StreamDdsParitySql: String =
    """WITH v AS (
      |  SELECT date_trunc('day', ts)::DATE AS day,
      |    CAST(floor(value * 1000000.0) AS BIGINT) AS micros
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |    AND user_id >= 0),
      |r AS (
      |  SELECT day, micros,
      |    row_number() OVER (PARTITION BY day ORDER BY micros) AS rn,
      |    count(*) OVER (PARTITION BY day) AS n
      |  FROM v)
      |SELECT day, max(n) AS n_rows,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.99 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN micros END) AS p99_micros,
      |  TRUE AS p99_ok, TRUE AS bytes_equal
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** E23: STREAMING HLL-TIER PARITY — the generic per-day tier
    * producer ([[graft.streaming.Streams.dailyHllSketchStream]], the
    * r12 (init, add, serialize) parameterization that replaced the
    * e21/e22 copy-paste twins) flushing the UNBOUNDED-domain distinct
    * leg: per-day HLL registers over user ids, `bytes_equal`
    * oracle-pinned TRUE against a batch `hll_sketch(user_id)` backfill
    * (register-wise max is order-independent and the serialized form —
    * sparse below m/8 occupancy — is canonical, so micro-batch arrival
    * and state round-trips are invisible). The streamed bytes are also
    * READ (hll_merge_count over each day's single flushed row) and
    * `est_ok` pins the ±5% envelope (≈3σ at p=12; deterministic hash ⇒
    * no flake) against the exact per-day count the oracle replays.
    * e19/e21 harness: file replay, day-granularity epoch shift,
    * far-future sentinels, memory sink. */
  val e23StreamHllParity: Q = (s, dir) => {
    import s.implicits._
    val H = graft.functions.Hll
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e23_sketches")(
      graft.streaming.Streams.dailyHllSketchStream(_))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    val batch = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(H.hll_sketch($"user_id").as("bsk"),
        countDistinct($"user_id").as("n_exact"))
    streamed.join(batch, "day")
      .groupBy($"day", $"n_exact", ($"sketch" === $"bsk").as("bytes_equal"))
      .agg(H.hll_merge_count($"sketch").as("est")) // read the STREAMED bytes
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        $"n_exact",
        ($"est" >= $"n_exact" * 0.95 && $"est" <= $"n_exact" * 1.05).as("est_ok"),
        $"bytes_equal")
      .filter($"n_exact" > 0)
      .orderBy($"day")
  }

  val e23StreamHllParitySql: String =
    """SELECT date_trunc('day', ts)::DATE AS day,
      |  count(DISTINCT user_id) AS n_exact,
      |  TRUE AS est_ok, TRUE AS bytes_equal
      |FROM events
      |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |  AND user_id >= 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** E24: STREAMING VHIST-TIER PARITY — the fourth leg through the
    * generic producer ([[graft.streaming.Streams.dailyVhistSketchStream]]):
    * per-day EXACT value histograms over value-cents
    * (floor(value × 100), the an39 pre-bucket rule pinned identically
    * in the streaming add, the batch INIT, and the oracle),
    * `bytes_equal` oracle-pinned TRUE against a batch
    * `vhist_sketch(floor(value*100))` backfill (count addition is
    * order-independent, serialization canonical), and the streamed
    * bytes READ back as exact P50/P95 per day via vhist_merge_quantile
    * over each day's single flushed row — the oracle replays both
    * quantiles exactly with the house discrete-lower rank SQL. Exact
    * quantiles off a LIVE stream with batch-repairable state: the
    * strongest form of the lambda equivalence (hash-equal answers, not
    * just bounds). */
  val e24StreamVhistParity: Q = (s, dir) => {
    import s.implicits._
    val V = graft.functions.Vhist
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e24_sketches")(
      graft.streaming.Streams.dailyVhistSketchStream(_))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    val batch = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(V.vhist_sketch(floor($"value" * 100)).as("bsk"),
        count(lit(1)).as("n_rows"))
    streamed.join(batch, "day")
      .groupBy($"day", $"n_rows", ($"sketch" === $"bsk").as("bytes_equal"))
      .agg(V.vhist_merge_quantile($"sketch", 0.5).as("p50_cents"),
        V.vhist_merge_quantile($"sketch", 0.95).as("p95_cents"))
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        $"n_rows", $"p50_cents", $"p95_cents", $"bytes_equal")
      .orderBy($"day")
  }

  val e24StreamVhistParitySql: String =
    """WITH v AS (
      |  SELECT date_trunc('day', ts)::DATE AS day,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |    AND user_id >= 0),
      |r AS (
      |  SELECT day, cents,
      |    row_number() OVER (PARTITION BY day ORDER BY cents) AS rn,
      |    count(*) OVER (PARTITION BY day) AS n
      |  FROM v)
      |SELECT day, max(n) AS n_rows,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.50 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN cents END) AS p50_cents,
      |  min(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DECIMAL(8,6)) * n) AS BIGINT)
      |           THEN cents END) AS p95_cents,
      |  TRUE AS bytes_equal
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** E25: STREAMING KMV-TIER PARITY — the SAMPLE leg's lambda
    * equivalence through the generic producer
    * ([[graft.streaming.Streams.dailyKmvSketchStream]]): per-day
    * bottom-32 KMV sketches over user-id STRINGS flush when the
    * watermark passes the day, `bytes_equal` oracle-pinned TRUE
    * against a batch `kmv_sketch(cast(user_id as string), 32)`
    * backfill (bottom-k of a union of bottom-k's = bottom-k of the
    * union, and the (hash, key)-ordered serialization is canonical, so
    * micro-batch arrival and state round-trips are invisible). The
    * streamed bytes are READ back with `kmv_estimate` and the oracle
    * replays the pinned estimate rule EXACTLY (the md5-prefix hash and
    * the (k−1)·2^60/h_k HUGEINT arithmetic, the an43 SQL) — both
    * regimes exercised across days as per-day distinct counts cross
    * k = 32. e19/e21 harness: file replay, day-granularity epoch
    * shift, far-future sentinels, memory sink. */
  val e25StreamKmvParity: Q = (s, dir) => {
    import s.implicits._
    val K = graft.functions.Kmv
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e25_sketches")(
      graft.streaming.Streams.dailyKmvSketchStream(_, k = 32))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    val batch = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(K.kmv_sketch($"user_id".cast("string"), 32).as("bsk"),
        countDistinct($"user_id").as("n_exact"))
    streamed.join(batch, "day")
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        $"n_exact",
        K.kmv_estimate($"sketch").as("est_users"), // read the STREAMED bytes
        ($"sketch" === $"bsk").as("bytes_equal"))
      .filter($"n_exact" > 0)
      .orderBy($"day")
  }

  val e25StreamKmvParitySql: String =
    """WITH u AS (
      |  SELECT DISTINCT date_trunc('day', ts)::DATE AS day,
      |    CAST(user_id AS VARCHAR) AS k
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |    AND user_id >= 0),
      |r AS (
      |  SELECT day, k, ('0x' || substr(md5(k), 1, 15))::BIGINT AS h,
      |    row_number() OVER (PARTITION BY day
      |      ORDER BY ('0x' || substr(md5(k), 1, 15))::BIGINT, k) AS rn,
      |    count(*) OVER (PARTITION BY day) AS nd
      |  FROM u)
      |SELECT day, max(nd) AS n_exact,
      |  CAST(CASE WHEN max(nd) < 32 THEN max(nd)
      |    ELSE (31::HUGEINT * 1152921504606846976::HUGEINT)
      |         // greatest(max(CASE WHEN rn = 32 THEN h END), 1) END
      |    AS BIGINT) AS est_users,
      |  TRUE AS bytes_equal
      |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  /** E26: STREAMING CMS-TIER PARITY — the FREQUENCY leg's lambda
    * equivalence, the last sketch family without a streaming producer
    * (r12 verdict #2, closed): per-day count-min cells over user-id
    * STRINGS ([[graft.streaming.Streams.dailyCmsSketchStream]]) flush
    * when the watermark passes the day, `bytes_equal` oracle-pinned
    * TRUE against a batch `cms_sketch(cast(user_id as string))`
    * backfill (cell addition is order-independent, the dense/sparse
    * serialization rule a pure function of the cell vector). The
    * streamed bytes are READ back per day with `cms_est` probing the
    * day's MINIMUM user id (a deterministic key both engines derive),
    * and the oracle rebuilds the day's cells with the an44 md5-probe
    * SQL and replays the min-of-d-cells estimate EXACTLY —
    * `lower_bounded` is computed and the CMS guarantee makes it TRUE.
    * e19/e21 harness throughout. */
  val e26StreamCmsParity: Q = (s, dir) => {
    import s.implicits._
    val C = graft.functions.Cms
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    val (table, offDays) = runDailyStreamGate(s, ev, "e26_sketches")(
      graft.streaming.Streams.dailyCmsSketchStream(_))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    val byDay = ev
      .withColumn("us", expr("unix_micros(ts)"))
      .withColumn("day", (($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long"))
    val batch = byDay.groupBy($"day")
      .agg(C.cms_sketch($"user_id".cast("string")).as("bsk"),
        min($"user_id").as("mu"))
    // exact row count of the probed (day, min-user) pair — the anchor
    // the oracle replays; day count is tiny, so the join broadcasts
    val tru = byDay.join(broadcast(batch.select($"day", $"mu")), "day")
      .filter($"user_id" === $"mu")
      .groupBy($"day").agg(count(lit(1)).as("n_true"))
    streamed.join(batch, "day").join(tru, "day")
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        $"n_true",
        C.cms_est($"sketch", $"mu".cast("string")).as("est"), // STREAMED bytes
        ($"sketch" === $"bsk").as("bytes_equal"))
      .select($"day", $"n_true", $"est", ($"est" >= $"n_true").as("lower_bounded"),
        $"bytes_equal")
      .orderBy($"day")
  }

  val e26StreamCmsParitySql: String =
    """WITH e AS (
      |  SELECT date_trunc('day', ts)::DATE AS day, user_id,
      |    CAST(user_id AS VARCHAR) AS k
      |  FROM events
      |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |    AND user_id >= 0),
      |kc AS (SELECT day, k, count(*) AS n FROM e GROUP BY 1, 2),
      |cells AS (
      |  SELECT day, t.j,
      |    ('0x' || substr(md5('cms:' || t.j::VARCHAR || ':' || k), 1, 8))::BIGINT % 2048 AS pos,
      |    CAST(sum(n) AS BIGINT) AS cell
      |  FROM kc, range(4) t(j) GROUP BY 1, 2, 3),
      |probe AS (SELECT day, min(user_id) AS mu FROM e GROUP BY 1),
      |tru AS (
      |  SELECT e.day, CAST(count(*) AS BIGINT) AS n_true
      |  FROM e JOIN probe p ON e.day = p.day AND e.user_id = p.mu
      |  GROUP BY 1),
      |est AS (
      |  SELECT p.day, min(c.cell) AS est
      |  FROM probe p, range(4) t(j)
      |  JOIN cells c ON c.day = p.day AND c.j = t.j AND c.pos =
      |    ('0x' || substr(md5('cms:' || t.j::VARCHAR || ':' || CAST(p.mu AS VARCHAR)), 1, 8))::BIGINT % 2048
      |  GROUP BY 1)
      |SELECT t.day, t.n_true, est.est, est.est >= t.n_true AS lower_bounded,
      |  TRUE AS bytes_equal
      |FROM tru t JOIN est ON est.day = t.day
      |ORDER BY 1""".stripMargin

  /** E27: STREAMING CODED-TIER PARITY — the lambda equivalence for
    * the DICTIONARY-CODED bitmap leg (the an48/an51/an52 family),
    * completing streaming parity across all seven tier producers:
    * the stream ([[graft.streaming.Streams.dailyCodedSketchStream]])
    * codes each event by a STREAM-STATIC broadcast join against the
    * one dictionary [[graft.operators.Dictionary.encode]] built
    * (fail-loud LEFT join — an un-dictionaried key raises instead of
    * silently vanishing), keeps per-day [[graft.functions.Bitmap64]]
    * state over the CODES, and flushes each day's V2-tagged bytes —
    * the dictionary's lineage id riding IN the streamed bytes exactly
    * as in the stored tier. `bytes_equal` is oracle-pinned TRUE
    * against a batch `bitmap_sketch_coded(code, dict_id)` backfill
    * over the same facts coded by the same relation (canonical
    * container serialization + same codes + same id ⇒ byte
    * identity), `distinct_users` is read off the STREAMED bytes with
    * the lineage-checked `bitmap_and_count_coded`, and `id_ok` pins
    * that the id survived the stream (read back with
    * `bitmap_dict_id_coded`). A live coded sketch table and its batch
    * backfill therefore merge with full lineage protection — the
    * an48 guarantee, now with no batch/stream seam. e19/e21 harness
    * throughout. */
  val e27StreamCodedParity: Q = (s, dir) => {
    import s.implicits._
    val CB = graft.functions.CodedBitmap
    val D = graft.operators.Dictionary
    val dayUs = 86400L * 1000000L
    val ev = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"user_id".isNotNull && $"value".isNotNull &&
        $"user_id" >= 0L) // negative ids are the e-family's sentinel space
      .select($"user_id", $"ts", $"value")
    // ONE dictionary codes both engines; its identity scalar is the
    // only driver materialization (1 row, the an48 class) and doubles
    // as a mixed-lineage audit.
    val (coded, dict) = D.encode(
      ev.withColumn("k", $"user_id".cast("string")), "k", "code")
    val ids = dict.select(col(D.IdCol)).distinct().as[Long].collect()
    require(ids.length == 1,
      s"e27: dictionary carries ${ids.length} lineage ids - corrupt build")
    val dictId = ids.head
    val (table, offDays) = runDailyStreamGate(s, ev, "e27_sketches")(
      graft.streaming.Streams.dailyCodedSketchStream(_, dict, "k", "code", dictId))
    val streamed = table.select(($"day" - offDays).as("day"), $"sketch")
    val batch = coded
      .withColumn("us", expr("unix_micros(ts)"))
      .groupBy((($"us" - pmod($"us", lit(dayUs))) / lit(dayUs))
        .cast("long").as("day"))
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)).as("bsk"))
    streamed.join(batch, "day")
      .select(
        expr("date_add(DATE '1970-01-01', CAST(day AS INT))").as("day"),
        CB.bitmap_and_count_coded($"sketch", $"sketch").as("distinct_users"),
        ($"sketch" === $"bsk").as("bytes_equal"),
        (CB.bitmap_dict_id_coded($"sketch") === lit(dictId)).as("id_ok"))
      .filter($"distinct_users" > 0)
      .orderBy($"day")
  }

  val e27StreamCodedParitySql: String =
    """SELECT date_trunc('day', ts)::DATE AS day,
      |  count(DISTINCT user_id) AS distinct_users,
      |  TRUE AS bytes_equal, TRUE AS id_ok
      |FROM events
      |WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
      |  AND user_id >= 0
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** AN51: day-over-day CHURN from the CODED sketch table — the an46
    * set-difference question asked of a STRING key domain (props),
    * which the plain bitmap cannot key: props are dictionary-encoded
    * once ([[graft.operators.Dictionary.encode]]), per-day coded
    * sketches built with `bitmap_sketch_coded` (lineage id in the
    * bytes), and `n_new` / `n_churned` are per-row
    * `bitmap_andnot_count_coded` arithmetic off the |days|-sized coded
    * sketch relation — lineage reconciled fail-loud at every read, so
    * a rebuilt-dictionary mistake throws instead of mis-counting
    * (r12 verdict #6: the coded tier previously answered merge/AND
    * only). The oracle computes both differences from first principles
    * over the distinct (day, props) activity, so equality proves the
    * coded ANDNOT identity end-to-end. */
  val an51CodedChurn: Q = (s, dir) => {
    import s.implicits._
    val CB = graft.functions.CodedBitmap
    val D = graft.operators.Dictionary
    val base = Tables.load(s, dir, "events")
      .filter($"ts".isNotNull && $"props".isNotNull)
      .select(to_date($"ts").as("day"), $"props")
    val (coded, _) = D.encode(base, "props", "code")
    val sk = coded.groupBy($"day")
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)).as("sk"))
    val nxt = sk.select(date_sub($"day", 1).as("day"), $"sk".as("sk_next"))
    sk.join(nxt, "day")
      .select($"day",
        CB.bitmap_andnot_count_coded($"sk_next", $"sk").as("n_new"),
        CB.bitmap_andnot_count_coded($"sk", $"sk_next").as("n_churned"))
      .orderBy($"day")
  }

  val an51CodedChurnSql: String =
    """WITH a AS (
      |  SELECT DISTINCT date_trunc('day', ts)::DATE AS day, props
      |  FROM events WHERE ts IS NOT NULL AND props IS NOT NULL),
      |d AS (SELECT day, CAST(count(*) AS BIGINT) AS n FROM a GROUP BY day),
      |r AS (SELECT a1.day, CAST(count(*) AS BIGINT) AS n_retained
      |      FROM a a1 JOIN a a2
      |        ON a2.props = a1.props AND a2.day = a1.day + 1
      |      GROUP BY a1.day)
      |SELECT d.day,
      |  d2.n - CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_new,
      |  d.n - CAST(coalesce(r.n_retained, 0) AS BIGINT) AS n_churned
      |FROM d JOIN d d2 ON d2.day = d.day + 1
      |LEFT JOIN r ON r.day = d.day
      |ORDER BY d.day""".stripMargin

  /** AN52: the DICT_AUDIT report, oracle-pinned — the r13 sibling-fork
    * tool ([[graft.operators.Dictionary.auditCodedTier]]) run over an
    * HONEST lineage so its every output is deterministic and
    * SQL-derivable: per-type coded sketches over ALL coded facts mean
    * the max set code is exactly |dict| − 1 (codes are dense), exactly
    * one lineage id appears, and every verdict column is TRUE. The
    * fork-catching negative cases cannot appear in a gate query
    * (they THROW or report false by design) and are spec-pinned in
    * DictionarySpec instead; this gate keeps the audit's happy-path
    * arithmetic honest round over round. */
  val an52DictAudit: Q = (s, dir) => {
    import s.implicits._
    val CB = graft.functions.CodedBitmap
    val D = graft.operators.Dictionary
    val base = Tables.load(s, dir, "events")
      .filter($"props".isNotNull)
      .select($"event_type", $"props")
    val (coded, dict) = D.encode(base, "props", "code")
    val sk = coded.groupBy($"event_type")
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)).as("sk"))
    D.auditCodedTier(dict, sk, "sk")
  }

  val an52DictAuditSql: String =
    """SELECT count(DISTINCT props) AS n_keys,
      |  count(DISTINCT props) - 1 AS max_code_seen,
      |  TRUE AS codes_in_range,
      |  CAST(1 AS BIGINT) AS n_sketch_ids,
      |  TRUE AS ids_match,
      |  TRUE AS ok
      |FROM events WHERE props IS NOT NULL""".stripMargin

  /** SK3: HOT/COLD SPLIT join ([[graft.operators.Skew.hotColdJoin]])
    * — the third skew weapon next to sk1's salted agg and sk2's
    * replicated salted join: a synthetic 70%-hot key (user_id % 10 < 7
    * collapses to key 0) would pin a plain equi-join's hottest task at
    * ~70% of the data; the split joins the hot keys' tiny right rows
    * by BROADCAST and only the cold majority through the shuffle. The
    * result is exactly the plain inner join (the oracle IS the plain
    * join); only the physical distribution differs — SkewSpec pins the
    * two-join plan shape and the disjoint-key no-dup invariant. The
    * hotThreshold sits so the hot branch engages at sf0.01+ and the
    * no-hot-keys fallback is exercised at sf0.001. */
  val sk3HotColdJoin: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"event_type", $"value",
        when($"user_id" % 10 < 7, 0L).otherwise($"user_id").as("k"))
    val dim = ev.select($"k").distinct()
      .withColumn("w", (pmod($"k", lit(97)) + 1).cast("long"))
    graft.operators.Skew.hotColdJoin(ev, dim, "k", hotThreshold = 1000)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        sum(expr("w * CAST(floor(value) AS BIGINT)")).as("wv"))
      .orderBy($"event_type")
  }

  val sk3HotColdJoinSql: String =
    """WITH ev AS (
      |  SELECT event_id, event_type, value,
      |    CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k
      |  FROM events),
      |dim AS (SELECT DISTINCT k,
      |          CAST(((k % 97) + 97) % 97 + 1 AS BIGINT) AS w FROM ev)
      |SELECT e.event_type, count(*) AS n,
      |  CAST(sum(d.w * CAST(floor(e.value) AS BIGINT)) AS BIGINT) AS wv
      |FROM ev e JOIN dim d ON e.k = d.k
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared machinery for the REAL outer and semi stream-stream
    * attribution joins (e13 leftOuter, e16 fullOuter, e20 leftSemi):
    * [[stageClicksPurchases]], the far-future sentinel staged on BOTH
    * sides and a click-side flush row (see Streams.gateDrain for why
    * one side suffices), then the sink minus the self-matching
    * sentinel (filtered on the user key, which attributionJoin
    * coalesces across sides for outer types). */
  private def runAttributionStream(s: SparkSession, dir: String,
      joinType: String, queryName: String): DataFrame = {
    import s.implicits._
    def sentinel(sec: Long): DataFrame =
      Seq((-1L, -1L, new java.sql.Timestamp(sec * 1000L)))
        .toDF("event_id", "user_id", "ts")
    val out = Streams.gateDrain(queryName, OutputMode.Append,
        Some(scratch => sentinel(4102444860L).write.mode("append")
          .parquet(sideDir(scratch, "click")))) { scratch =>
      val (clicks, purchases) = stageClicksPurchases(s, dir, scratch)
      Seq("click", "purchase").foreach { side => // rides batch 0
        sentinel(4102444800L).write.mode("append").parquet(sideDir(scratch, side))
      }
      if (joinType == "leftSemi") Streams.attributionSemiJoin(clicks, purchases)
      else Streams.attributionJoin(clicks, purchases, joinType = joinType)
    }.filter($"user_id" =!= -1L)
    if (joinType == "leftSemi")
      out.select($"click_id", $"user_id").orderBy($"click_id")
    else out
      .select($"click_id", $"user_id", $"purchase_id", $"lag_us")
      .orderBy($"click_id", $"purchase_id")
  }

  /** E13: stream-stream LEFT OUTER interval join run as a REAL
    * streaming query — the watermark-expiry path e6's inner join
    * never exercises: a click with no purchase in its 2-hour window
    * emits a null-purchase row only when BOTH watermarks pass the
    * whole window, i.e. unmatched-click detection with bounded state.
    * Machinery in [[runAttributionStream]]. Oracle: the batch LEFT
    * JOIN under the identical interval condition. */
  val e13StreamOuterJoin: Q = (s, dir) =>
    runAttributionStream(s, dir, joinType = "leftOuter",
      queryName = "e13_outer")

  /** E20: stream-stream LEFT SEMI interval join run as a REAL
    * streaming query ([[graft.streaming.Streams.attributionSemiJoin]])
    * — the conversion FLAG: each click emits at most once when any
    * purchase lands in its window, never fanning out on multi-purchase
    * users. Completes the streaming join-type matrix (inner e6,
    * leftOuter e13, fullOuter e16, stream-static e7, semi here).
    * Machinery shared via [[runAttributionStream]]. Oracle: the batch
    * EXISTS under the identical interval condition. */
  val e20StreamSemiJoin: Q = (s, dir) =>
    runAttributionStream(s, dir, joinType = "leftSemi",
      queryName = "e20_semi")

  val e20StreamSemiJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |WHERE EXISTS (
      |  SELECT 1 FROM events p
      |  WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      |    AND c.ts <= p.ts
      |    AND epoch_us(p.ts) - epoch_us(c.ts) <= 7200::BIGINT * 1000000)
      |ORDER BY click_id""".stripMargin

  val e13StreamOuterJoinSql: String =
    """SELECT c.event_id AS click_id, c.user_id, p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      | AND epoch_us(p.ts) - epoch_us(c.ts) <= 7200::BIGINT * 1000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** E16: stream-stream FULL OUTER interval join run as a REAL
    * streaming query — the one join direction e13 leaves out: besides
    * unmatched clicks (null purchase), a purchase NO click preceded
    * within the window emits a null-click row once both watermarks
    * pass — direct-purchase detection with the same bounded state.
    * Machinery in [[runAttributionStream]] (identical staging,
    * sentinel, and drain discipline); the batch oracle is the FULL
    * JOIN under the identical interval condition. */
  val e16StreamFullOuterJoin: Q = (s, dir) =>
    runAttributionStream(s, dir, joinType = "fullOuter",
      queryName = "e16_full_outer")

  val e16StreamFullOuterJoinSql: String =
    """SELECT c.event_id AS click_id,
      |  coalesce(c.user_id, p.user_id) AS user_id,
      |  p.event_id AS purchase_id,
      |  epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON p.user_id = c.user_id AND c.ts <= p.ts
      | AND epoch_us(p.ts) - epoch_us(c.ts) <= 7200::BIGINT * 1000000
      |ORDER BY click_id, purchase_id""".stripMargin

  /** E7: stream-static enrichment join run as a REAL streaming query —
    * the events stream decorated with a static dimension (event types
    * weighted by name length, derived from the same batch table so the
    * oracle can rebuild it). Complete output mode: the aggregate over
    * the whole (finite) stream must equal the batch formulation. */
  val e7StreamStatic: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_type", $"value")
    Streams.gateDrain("e7_enriched", OutputMode.Complete, None) { scratch =>
      val staged = scratch.resolve("staged").toString
      ev.write.mode("overwrite").parquet(staged)
      val typeDim = ev.select($"event_type").distinct()
        .withColumn("weight", length($"event_type").cast("long"))
      Streams.enrichedTypeTotals(s.readStream.schema(ev.schema).parquet(staged), typeDim)
    }
      .select($"event_type", $"weight", $"n", $"value_scaled")
      .orderBy($"event_type")
  }

  val e7StreamStaticSql: String =
    """SELECT event_type,
      |  CAST(length(event_type) AS BIGINT) AS weight,
      |  count(*) AS n,
      |  CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS value_scaled
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** SK1: two-phase salted aggregation over the skewed event stream —
    * identical result to the plain groupBy (the oracle IS the plain
    * aggregation), but a hot event_type spreads across `salts`
    * reducers. Values are summed on DECIMAL so both phases are
    * partition-order exact. */
  val sk1SaltedAgg: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_type", $"user_id", $"value".cast("decimal(18,4)").as("v"))
    graft.operators.Skew.saltedSum(ev, Seq("event_type"), "v", saltCarrier = "user_id")
      .select($"event_type",
        round($"sum_v", 2).cast("double").as("total_value"),
        $"n")
      .orderBy($"event_type")
  }

  val sk1SaltedAggSql: String =
    """SELECT event_type,
      |  CAST(round(sum(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
      |  count(*) AS n
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** E11: watermarked tumbling-window aggregation run as a REAL
    * streaming query in APPEND mode — the strictest streaming
    * contract: a window row may only be emitted once the watermark
    * has passed its end, so the result set is exactly the finalized
    * windows. A far-future sentinel staged with the real rows plus one
    * sentinel round advance the watermark past every real window and
    * fire the evictions ([[runShiftedGate]], shared with e4).
    * Counts only — a streamed double sum accumulates in arrival
    * order and can never be hash-compared across engines. Oracle:
    * the batch tumbling aggregation (window starts are clock hours,
    * compared as exact epoch micros). */
  val e11StreamTumbling: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").select($"ts", $"event_type", $"value")
    // pre-epoch option (see e4): the hour-multiple offset keeps the
    // tumbling windows aligned, so shifting back recovers the batch
    // window starts exactly; 0 (inert) on post-epoch data
    val (table, off) = runShiftedGate(s, ev, 3600L, "e11_win",
      windowSentinel(s))(Streams.windowedCounts)
    table.filter($"event_type" =!= "__sentinel")
      .select((unix_micros($"hour_start") - off).as("hs_us"), $"event_type", $"n")
      .orderBy($"hs_us", $"event_type")
  }

  /** The watermark sentinel of the (ts, event_type, value) window
    * gates e11 and e17: its own event type, filtered from the sink. */
  private def windowSentinel(s: SparkSession)(ts: java.sql.Timestamp): DataFrame = {
    import s.implicits._
    Seq((ts, "__sentinel", 0.0)).toDF("ts", "event_type", "value")
  }

  val e11StreamTumblingSql: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hs_us, event_type,
      |       count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** E17: watermarked SLIDING-window aggregation as a REAL streaming
    * query in Append mode — e11's discipline applied to OVERLAPPING
    * windows (1 hour every 30 minutes), the streaming path where each
    * event updates TWO window states and eviction must finalize both.
    * Same [[runShiftedGate]] stage and flush steps as e11 (the shift's
    * 1-hour granularity is a multiple of the 30-minute slide, so
    * window starts translate exactly). Oracle: e3's batch sliding
    * enumeration — two floor-aligned starts per event. */
  val e17StreamSliding: Q = (s, dir) => {
    import s.implicits._
    val ev = Tables.load(s, dir, "events").select($"ts", $"event_type", $"value")
    val (table, off) = runShiftedGate(s, ev, 3600L, "e17_win",
      windowSentinel(s))(Streams.slidingCounts)
    table.filter($"event_type" =!= "__sentinel")
      .select((unix_micros($"win_start") - off).as("ws_us"), $"event_type", $"n")
      .orderBy($"ws_us", $"event_type")
  }

  val e17StreamSlidingSql: String =
    """WITH placed AS (
      |  SELECT event_type,
      |    epoch_us(ts) - ((epoch_us(ts) % 1800000000) + 1800000000) % 1800000000
      |      - off AS ws_us,
      |    epoch_us(ts) AS t
      |  FROM events, (SELECT unnest([0, 1800000000]) AS off))
      |SELECT ws_us, event_type, count(*) AS n
      |FROM placed
      |WHERE t >= ws_us AND t < ws_us + 3600000000
      |GROUP BY 1, 2
      |ORDER BY ws_us, event_type""".stripMargin

  /** J11: point-in-time feature lookup with MAX STALENESS — the
    * feature-store "ASOF ... TOLERANCE" rule on [[AsOfJoin.leftAsOf]]'s
    * new tolerance parameter: each purchase attaches its user's latest
    * click feature, but only if that click is at most 1 hour old —
    * training-serving skew protection (a stale feature is worse than
    * no feature, which must surface as NULL, not as the old value).
    * Same single-shuffle union-merge plan as j4; the match's own
    * timestamp rides inside the payload struct for the post-carry
    * staleness test. Oracle: the windowed top-1 formulation under the
    * identical bounded interval, left-joined back so no-match and
    * stale-match purchases keep their NULL row. */
  val j11AsOfTolerance: Q = (s, dir) => {
    import s.implicits._
    val (purchases, clicks) = purchaseClick(s, dir)
    graft.operators.AsOfJoin.leftAsOf(
        purchases, clicks, keys = Seq("user_id"),
        leftTime = "tus", rightTime = "c_tus",
        payloadCols = Seq("click_id", "feat"), tieBreaker = "click_id",
        tolerance = Some(3600L * 1000000L))
      .select($"purchase_id", $"user_id", $"tus", $"click_id", $"feat")
      .orderBy($"purchase_id")
  }

  val j11AsOfToleranceSql: String =
    s"""WITH $purchaseClickCtes,
       |m AS (
      |  SELECT p.purchase_id, c.click_id, c.feat
      |  FROM p JOIN c ON p.user_id = c.user_id
      |    AND c.c_tus <= p.tus AND p.tus - c.c_tus <= 3600000000
      |  QUALIFY row_number() OVER (PARTITION BY p.purchase_id
      |                             ORDER BY c.c_tus DESC, c.click_id DESC) = 1)
      |SELECT p.purchase_id, p.user_id, p.tus, m.click_id, m.feat
      |FROM p LEFT JOIN m USING (purchase_id)
      |ORDER BY purchase_id""".stripMargin

  /** Shared j11/j13/j14 input shape: purchases probe clicks per user
    * on numeric event-time micros. ONE construction (and one `ev` CTE
    * text below) so the three direction variants cannot drift. */
  private def purchaseClick(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val ev = Tables.load(s, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("tus"),
        $"event_type", expr("CAST(round(value * 10000) AS BIGINT)").as("feat"))
    (ev.filter($"event_type" === "purchase")
        .select($"event_id".as("purchase_id"), $"user_id", $"tus"),
      ev.filter($"event_type" === "click")
        .select($"user_id", $"tus".as("c_tus"), $"event_id".as("click_id"), $"feat"))
  }

  /** Pre-stripped `ev`/`p`/`c` CTEs shared by the j11/j13/j14 oracles
    * (no margin pipes — safe to interpolate into stripMargin'd SQL). */
  private def purchaseClickCtes: String =
    """ev AS (
      |  SELECT event_id, user_id, epoch_us(ts) AS tus, event_type,
      |    CAST(round(value * 10000) AS BIGINT) AS feat
      |  FROM events),
      |p AS (SELECT event_id AS purchase_id, user_id, tus FROM ev
      |      WHERE event_type = 'purchase'),
      |c AS (SELECT user_id, tus AS c_tus, event_id AS click_id, feat FROM ev
      |      WHERE event_type = 'click')""".stripMargin

  /** J13: FORWARD as-of — each purchase attaches its user's FIRST
    * click at-or-after the purchase, at most 1 hour ahead (the
    * "next-action" lookup: post-purchase behavior attribution, the
    * pandas merge_asof direction="forward" surface). Same
    * single-shuffle union-merge plan as j4/j11 with the window scan
    * reversed; among equal-timestamp clicks the LEAST click_id wins
    * (first row in scan direction). Oracle: windowed top-1 under the
    * mirrored bounded interval, left-joined back so no-match
    * purchases keep their NULL row. */
  val j13AsOfForward: Q = (s, dir) => {
    import s.implicits._
    val (purchases, clicks) = purchaseClick(s, dir)
    graft.operators.AsOfJoin.leftAsOf(
        purchases, clicks, keys = Seq("user_id"),
        leftTime = "tus", rightTime = "c_tus",
        payloadCols = Seq("click_id", "feat"), tieBreaker = "click_id",
        tolerance = Some(3600L * 1000000L), direction = "forward")
      .select($"purchase_id", $"user_id", $"tus", $"click_id", $"feat")
      .orderBy($"purchase_id")
  }

  val j13AsOfForwardSql: String =
    s"""WITH $purchaseClickCtes,
       |m AS (
       |  SELECT p.purchase_id, c.click_id, c.feat
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND c.c_tus >= p.tus AND c.c_tus - p.tus <= 3600000000
       |  QUALIFY row_number() OVER (PARTITION BY p.purchase_id
       |                             ORDER BY c.c_tus ASC, c.click_id ASC) = 1)
       |SELECT p.purchase_id, p.user_id, p.tus, m.click_id, m.feat
       |FROM p LEFT JOIN m USING (purchase_id)
       |ORDER BY purchase_id""".stripMargin

  /** J14: NEAREST as-of — each purchase attaches its user's closest
    * click within 30 minutes on EITHER side; an equidistant pair
    * prefers the backward (at-or-before) match. One tagged union, ONE
    * hash partition, two window sorts over it (one per scan
    * direction), winner picked by comparing the two carried deltas —
    * no pair space, no second shuffle ([[AsOfJoin.nearestAsOf]]).
    * Oracle: rank over all in-tolerance candidates by (distance,
    * backward-preferred, per-side tie rule — greatest id backward,
    * least id forward), which selects exactly the same row. */
  val j14AsOfNearest: Q = (s, dir) => {
    import s.implicits._
    val (purchases, clicks) = purchaseClick(s, dir)
    graft.operators.AsOfJoin.nearestAsOf(
        purchases, clicks, keys = Seq("user_id"),
        leftTime = "tus", rightTime = "c_tus",
        payloadCols = Seq("click_id", "feat"), tieBreaker = "click_id",
        tolerance = Some(1800L * 1000000L))
      .select($"purchase_id", $"user_id", $"tus", $"click_id", $"feat")
      .orderBy($"purchase_id")
  }

  val j14AsOfNearestSql: String =
    s"""WITH $purchaseClickCtes,
       |m AS (
       |  SELECT p.purchase_id, c.click_id, c.feat
       |  FROM p JOIN c ON p.user_id = c.user_id
       |    AND abs(c.c_tus - p.tus) <= 1800000000
       |  QUALIFY row_number() OVER (PARTITION BY p.purchase_id
       |    ORDER BY abs(c.c_tus - p.tus) ASC, (c.c_tus <= p.tus) DESC,
       |      CASE WHEN c.c_tus <= p.tus THEN -c.click_id ELSE c.click_id END ASC) = 1)
       |SELECT p.purchase_id, p.user_id, p.tus, m.click_id, m.feat
       |FROM p LEFT JOIN m USING (purchase_id)
       |ORDER BY purchase_id""".stripMargin

  /** E12: streaming dedup in the gate — documents (with injected
    * exact duplicates) replayed through `dropDuplicatesWithinWatermark`
    * on the canonical fingerprint. WHICH copy survives depends on
    * arrival order (legitimately nondeterministic), so the gate
    * checks the arrival-order-free contract instead: exactly ONE
    * survivor per batch-distinct fingerprint, none missing, none
    * extra. The oracle replays the fingerprint (shared md5 canon
    * formula with t4) over the same injected corpus. */
  val e12StreamDedup: Q = (s, dir) => {
    import s.implicits._
    val d0 = Tables.load(s, dir, "documents").select($"doc_id", $"text")
    val docs = d0.unionByName(
        d0.filter($"doc_id" % 10 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"), $"text"))
      // deterministic synthetic event time inside one dedup horizon;
      // offset past epoch 0 (a row AT the initial watermark is late)
      .withColumn("ts", timestamp_micros(($"doc_id" % 600L + 3600L) * 1000000L))
    Streams.gateDrain("e12_dedup", OutputMode.Append, None) { scratch =>
      val staged = scratch.resolve("staged").toString
      docs.write.mode("overwrite").parquet(staged)
      Streams.dedupStream(s.readStream.schema(docs.schema).parquet(staged))
    }
      .groupBy($"fp").agg(count(lit(1)).as("n_survivors"))
      .orderBy($"fp")
  }

  val e12StreamDedupSql: String =
    """SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp,
      |       1::BIGINT AS n_survivors
      |FROM (SELECT text FROM documents
      |      UNION ALL SELECT text FROM documents WHERE doc_id % 10 = 0)
      |ORDER BY fp""".stripMargin

  val defs: Map[String, Q] = Map(
    "e11_stream_tumbling" -> e11StreamTumbling,
    "e17_stream_sliding" -> e17StreamSliding,
    "e12_stream_dedup" -> e12StreamDedup,
    "j4_asof_join"  -> j4AsOf,
    "j11_asof_tolerance" -> j11AsOfTolerance,
    "j13_asof_forward" -> j13AsOfForward,
    "j14_asof_nearest" -> j14AsOfNearest,
    "e1_window_agg" -> e1WindowAgg,
    "e2_sessionize" -> e2Sessionize,
    "e3_sliding_window" -> e3SlidingWindow,
    "e5_session_window" -> e5SessionWindow,
    "an4_approx_distinct" -> an4ApproxDistinct,
    "an7_approx_quantiles" -> an7ApproxQuantiles,
    "sk1_salted_agg" -> sk1SaltedAgg,
    "e4_stream_sessions" -> e4StreamSessions,
    "e6_stream_join" -> e6StreamJoin,
    "e13_stream_outer_join" -> e13StreamOuterJoin,
    "e16_stream_full_outer_join" -> e16StreamFullOuterJoin,
    "an20_bitmap_distinct" -> an20BitmapDistinct,
    "an33_bitmap_rollup" -> an33BitmapRollup,
    "an34_retention" -> an34Retention,
    "an35_bitmap_overlap" -> an35BitmapOverlap,
    "an36_bitmap_sparse" -> an36BitmapSparse,
    "an37_dict_distinct" -> an37DictDistinct,
    "an38_hll_rollup" -> an38HllRollup,
    "an39_vhist_quantiles" -> an39VhistQuantiles,
    "an40_dict_append" -> an40DictAppend,
    "an48_coded_dict_merge" -> an48CodedDictMerge,
    "an41_skew_dispatch" -> an41SkewDispatch,
    "an42_tiered_rollup" -> an42TieredRollup,
    "an43_kmv_sample" -> an43KmvSample,
    "an45_dds_quantiles" -> an45DdsQuantiles,
    "an46_bitmap_churn" -> an46BitmapChurn,
    "an47_kmv_jaccard" -> an47KmvJaccard,
    "an50_kmv_kway" -> an50KmvKway,
    "an21_transitions" -> an21TransitionMatrix,
    "an22_type_overlap" -> an22TypeOverlap,
    "an23_robust_outliers" -> an23RobustOutliers,
    "sk2_salted_join" -> sk2SaltedJoin,
    "sk3_hotcold_join" -> sk3HotColdJoin,
    "e19_stream_daily_distinct" -> e19StreamDailyDistinct,
    "e21_stream_sketch_parity" -> e21StreamSketchParity,
    "e22_stream_dds_parity" -> e22StreamDdsParity,
    "e23_stream_hll_parity" -> e23StreamHllParity,
    "e24_stream_vhist_parity" -> e24StreamVhistParity,
    "e25_stream_kmv_parity" -> e25StreamKmvParity,
    "e26_stream_cms_parity" -> e26StreamCmsParity,
    "e27_stream_coded_parity" -> e27StreamCodedParity,
    "an51_coded_churn" -> an51CodedChurn,
    "an52_dict_audit" -> an52DictAudit,
    "e20_stream_semi_join" -> e20StreamSemiJoin,
    "e7_stream_static" -> e7StreamStatic,
    "e14_stream_merge_sink" -> e14StreamMergeSink,
    "u9_time_travel" -> u9TimeTravel,
    "an26_rolling_active" -> an26RollingActive,
    "e15_checkpoint_resume" -> e15CheckpointResume,
  )

  val oracle: Map[String, String] = Map(
    "e11_stream_tumbling" -> e11StreamTumblingSql,
    "e17_stream_sliding" -> e17StreamSlidingSql,
    "e12_stream_dedup" -> e12StreamDedupSql,
    "j4_asof_join"  -> j4AsOfSql,
    "j11_asof_tolerance" -> j11AsOfToleranceSql,
    "j13_asof_forward" -> j13AsOfForwardSql,
    "j14_asof_nearest" -> j14AsOfNearestSql,
    "e1_window_agg" -> e1WindowAggSql,
    "e2_sessionize" -> e2SessionizeSql,
    "e3_sliding_window" -> e3SlidingWindowSql,
    "e5_session_window" -> e5SessionWindowSql,
    "sk1_salted_agg" -> sk1SaltedAggSql,
    "e4_stream_sessions" -> e4StreamSessionsSql,
    "e6_stream_join" -> e6StreamJoinSql,
    "e13_stream_outer_join" -> e13StreamOuterJoinSql,
    "e16_stream_full_outer_join" -> e16StreamFullOuterJoinSql,
    "an20_bitmap_distinct" -> an20BitmapDistinctSql,
    "an33_bitmap_rollup" -> an33BitmapRollupSql,
    "an34_retention" -> an34RetentionSql,
    "an35_bitmap_overlap" -> an35BitmapOverlapSql,
    "an36_bitmap_sparse" -> an36BitmapSparseSql,
    "an37_dict_distinct" -> an37DictDistinctSql,
    "an38_hll_rollup" -> an38HllRollupSql,
    "an39_vhist_quantiles" -> an39VhistQuantilesSql,
    "an40_dict_append" -> an40DictAppendSql,
    "an48_coded_dict_merge" -> an48CodedDictMergeSql,
    "an41_skew_dispatch" -> an41SkewDispatchSql,
    "an42_tiered_rollup" -> an42TieredRollupSql,
    "an43_kmv_sample" -> an43KmvSampleSql,
    "an45_dds_quantiles" -> an45DdsQuantilesSql,
    "an46_bitmap_churn" -> an46BitmapChurnSql,
    "an47_kmv_jaccard" -> an47KmvJaccardSql,
    "an50_kmv_kway" -> an50KmvKwaySql,
    "an21_transitions" -> an21TransitionMatrixSql,
    "an22_type_overlap" -> an22TypeOverlapSql,
    "an23_robust_outliers" -> an23RobustOutliersSql,
    "sk2_salted_join" -> sk2SaltedJoinSql,
    "sk3_hotcold_join" -> sk3HotColdJoinSql,
    "e19_stream_daily_distinct" -> e19StreamDailyDistinctSql,
    "e21_stream_sketch_parity" -> e21StreamSketchParitySql,
    "e22_stream_dds_parity" -> e22StreamDdsParitySql,
    "e23_stream_hll_parity" -> e23StreamHllParitySql,
    "e24_stream_vhist_parity" -> e24StreamVhistParitySql,
    "e25_stream_kmv_parity" -> e25StreamKmvParitySql,
    "e26_stream_cms_parity" -> e26StreamCmsParitySql,
    "e27_stream_coded_parity" -> e27StreamCodedParitySql,
    "an51_coded_churn" -> an51CodedChurnSql,
    "an52_dict_audit" -> an52DictAuditSql,
    "e20_stream_semi_join" -> e20StreamSemiJoinSql,
    "e14_stream_merge_sink" -> e14StreamMergeSinkSql,
    "u9_time_travel" -> u9TimeTravelSql,
    "an26_rolling_active" -> an26RollingActiveSql,
    "e15_checkpoint_resume" -> e15CheckpointResumeSql,
    "e7_stream_static" -> e7StreamStaticSql,
    "an4_approx_distinct" -> an4ApproxDistinctSql,
    "an7_approx_quantiles" -> an7ApproxQuantilesSql,
  )
}
