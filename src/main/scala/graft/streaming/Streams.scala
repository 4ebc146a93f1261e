package graft.streaming

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.etl.Schemas

/** Structured Streaming layer (SURVEY §2.9): the reference's only
  * "streaming" is the scrapers' per-article JSON append with
  * corrupt-file recovery (ScienceDirect.py:457-488). Its exactly-once
  * upgrade is a file-source stream over the landing directory; windowed
  * aggregation and stateful sessionization cover the event-analytics
  * surface the batch queries (e1/e2) expose, with identical semantics.
  */
object Streams {

  /** THE canonical set of gate queries that execute a REAL Structured
    * Streaming run when constructed (staging write + stream drain +
    * watermark sentinels). Single source of truth consumed by BOTH
    * `Bench.streamingHeadline` (cap reps, report under the separate
    * `streaming_fixed_sec` total) and `PlanAudit.excluded` (plan audit
    * must not execute a stream; the returned plan would be the
    * memory-sink read anyway). Keeping one set means a future
    * streaming gate query added here is split, capped, and
    * audit-excluded automatically — the two copies this replaces had
    * to be edited in lockstep. */
  val realStreamingGateQueries: Set[String] = Set(
    "e4_stream_sessions", "e6_stream_join", "e7_stream_static",
    "e11_stream_tumbling", "e12_stream_dedup", "e13_stream_outer_join",
    "e14_stream_merge_sink", "e15_checkpoint_resume",
    "e16_stream_full_outer_join", "e17_stream_sliding",
    "e19_stream_daily_distinct", "e20_stream_semi_join",
    "e21_stream_sketch_parity", "e22_stream_dds_parity",
    "e23_stream_hll_parity", "e24_stream_vhist_parity",
    "e25_stream_kmv_parity", "e26_stream_cms_parity",
    "e27_stream_coded_parity")

  /** Exactly-once incremental article ingest: JSONL landing dir →
    * stream with the explicit article schema. */
  def articleStream(spark: SparkSession, landingDir: String): DataFrame =
    spark.readStream
      .schema(Schemas.articleSchema)
      .json(landingDir)

  // ---- the gate-drain harness --------------------------------------

  /** Where [[withGateScratch]] makes its dirs: $SPARK_GRAFT_STREAM_SCRATCH
    * when set, else /dev/shm when writable (Linux tmpfs), else
    * java.io.tmpdir. */
  private[graft] def gateScratchRoot: Path =
    sys.env.get("SPARK_GRAFT_STREAM_SCRATCH").map(Paths.get(_))
      .orElse(Some(Paths.get("/dev/shm"))
        .filter(p => Files.isDirectory(p) && Files.isWritable(p)))
      .getOrElse(Paths.get(System.getProperty("java.io.tmpdir")))

  /** Run `body` on a fresh `prefix*` dir under [[gateScratchRoot]] and
    * delete the dir when `body` returns or throws. It holds a finite
    * gate drain's transient state: the staged replay files and the
    * state-store checkpoint. Both live for exactly one query run, so
    * they belong on the fastest local medium: on an ext4-on-virtio
    * disk the HDFS-backed state store's many small atomic file
    * commits (4 stores × |shuffle partitions| per micro-batch for a
    * stream-stream join) measured ~600 ms EACH, ~75 s of summed commit
    * time per micro-batch and the dominant share of e13's fixed drain
    * cost, against ~1.4 s summed on tmpfs (r14 A/B: e13 12.4 s → 5.6 s
    * end to end; `perfbench/run.py --workload stream_drains --trace 1`
    * re-measures it as `stream.commit_s`). /dev/shm is RAM, so a dir
    * left behind by a failed drain costs memory until reboot: the
    * delete is in a `finally`, and no caller gets a dir without it.
    * Production streams checkpoint to reliable shared storage; this is
    * for the single-node stage-drain-delete gate harness, where
    * recovery is meaningless. */
  def withGateScratch[T](prefix: String)(body: Path => T): T = {
    val dir = Files.createTempDirectory(gateScratchRoot, prefix)
    try body(dir)
    finally graft.etl.Writers.deleteRecursively(dir.toFile)
  }

  /** Run `body` (a finite gate drain) with the drain's session conf, set
    * before `start()` (a streaming query CLONES the session conf at
    * start, so the settings apply to exactly this query) and restored
    * after. Only the stream runs under it: staging writes before and
    * sink read-backs after a drain keep the session's batch
    * parallelism.
    *  - A small state-partition count, min(session shuffle partitions,
    *    4). Every state partition costs fixed machinery per
    *    micro-batch, a shuffle file pair plus one commit per state
    *    store (a stream-stream join carries FOUR stores per
    *    partition), measured ~linear in the partition count and
    *    independent of data: e13's two-batch drain timed 9.7 s at 32
    *    state partitions vs 4.0 s at 4 (quiet host, tmpfs scratch,
    *    r14). The drains process one bounded staged relation and die,
    *    so the count is derived, not configured. Production streams
    *    size state partitions to state volume per executor through
    *    the same conf.
    *  - No-data micro-batches off. Every micro-batch of a stateful
    *    query pays fixed planning plus a full state-store commit round
    *    across all shuffle partitions, so batches that carry no data
    *    are pure overhead here. That is safe because every gate fires
    *    its final state eviction from a DATA batch (the flush step of
    *    [[gateDrain]]), never from a watermark-only empty batch.
    *    Long-lived production streams keep the default: their
    *    evictions DO ride no-data batches. */
  def withGateDrainConf[T](spark: SparkSession)(body: => T): T = {
    val parts = "spark.sql.shuffle.partitions"
    val drainConf = Seq(
      parts -> math.min(spark.conf.getOption(parts).map(_.toInt).getOrElse(200), 4).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
    val prev = drainConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    drainConf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** THE gate drain: run a finite streaming query to completion in a
    * memory sink named `queryName` and return that sink's table. The
    * steps, each written only here:
    *  1. in a [[withGateScratch]] dir `graft-<queryName>*`, `stage`
    *     writes the input (by convention under `<scratch>/staged`, so
    *     the file source never lists checkpoint files as input), plus
    *     any first sentinel that rides batch 0, and returns the stream;
    *  1. under [[withGateDrainConf]], the stream `start()`s into the
    *     memory sink in `mode`, its checkpoint at `<scratch>/ckpt`;
    *  1. `processAllAvailable`;
    *  1. `flush`, if given, writes the second sentinel, then
    *     `processAllAvailable` again;
    *  1. the query stops in a `finally`, and the scratch dir is deleted
    *     in one, so a stage step or a drain that throws leaves neither
    *     a live query in the session nor staged input on the medium.
    *
    * Sentinels. A gate that flushes on event time (an Append-mode
    * window, a session or day timeout, an outer join's unmatched rows)
    * stages a far-future sentinel row (2100-01-01) WITH the real rows:
    * the watermark computed at the END of batch 0 then already passes
    * every real row's window, so ONE flush round, whose data batch
    * fires the evictions, replaces the two sentinel rounds the gates
    * ran before r14 (each extra round is a parquet write plus a full
    * stateful micro-batch of fixed machinery). The two-sided
    * attribution joins stage sentinel 1 on BOTH sides, so the
    * min-policy query watermark advances; their flush writes a single
    * click-side row, since the watermark it applies was set by batch
    * 0. Their old drain ran EIGHT micro-batches (real data, two
    * sentinel rounds whose two per-side appends even split into
    * separate batches under the trigger poll race, plus no-data
    * batches) at a profiled ~3-4 s of fixed state-store machinery per
    * batch, data or not; `perfbench/run.py --workload stream_drains
    * --trace 1` re-measures them as `stream.batches` and
    * `stream.commit_s`. Gates whose output emits within the batch (an
    * inner or stream-static join, dedup, a Complete aggregate) pass no
    * flush.
    *
    * Scope. The scratch-dir replay and the memory-sink collect exist to
    * hand the verifier a comparable DataFrame: they are the gate's test
    * rig, not the deployment topology. The operators in this object
    * are source- and sink-agnostic; production reads a durable shared
    * source (object store, Kafka), writes a checkpointed parquet or
    * foreachBatch sink, and no result relation is collected
    * (StreamsSpec's restart tests run that shape). */
  def gateDrain(queryName: String, mode: OutputMode, flush: Option[Path => Unit])(
      stage: Path => Dataset[_]): DataFrame =
    withGateScratch(s"graft-$queryName") { scratch =>
      val stream = stage(scratch)
      val spark = stream.sparkSession
      withGateDrainConf(spark) {
        val q = stream.writeStream
          .outputMode(mode)
          .option("checkpointLocation", scratch.resolve("ckpt").toString)
          .format("memory").queryName(queryName).start()
        try {
          q.processAllAvailable()
          flush.foreach { f => f(scratch); q.processAllAvailable() }
        } finally q.stop()
      }
      spark.table(queryName)
    }

  /** e1's streaming form: event-time tumbling window with watermark.
    *
    * Domain boundary (found by the full-gate adversarial sweep): ANY
    * watermarked operator starts with the watermark at epoch 0, so
    * events with NEGATIVE epoch timestamps (pre-1970) are born late
    * and silently dropped in the first batch — a batch oracle counts
    * them, the stream doesn't. Watermarked streaming here is defined
    * for post-epoch event time only; pre-epoch history belongs to the
    * batch operators (e1/e2/e3), which handle it exactly (their floor-
    * aligned oracles are adversarially tested on pre-1970 rows) — or
    * to the OPT-IN translation [[epochShiftMicros]]/[[shiftTs]], which
    * moves historical event time past epoch 0 on the way in and back
    * on the way out (e4/e11 use it; inert on post-epoch data). */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"), col("total_value"))

  /** e3's streaming form: OVERLAPPING (sliding) event-time windows —
    * 1-hour windows advancing every 30 minutes, so each event lands in
    * exactly two windows and the streaming state holds two open
    * windows per slide boundary instead of one. Same watermark/Append
    * eviction contract as [[windowedCounts]]; counts only (a streamed
    * double sum accumulates in arrival order). Window starts align to
    * multiples of the SLIDE, so [[epochShiftMicros]]'s default 1-hour
    * granularity (a slide multiple) keeps the shift translation-exact
    * for pre-epoch replays. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Opt-in PRE-EPOCH support for watermarked streaming (the r7
    * documented boundary above, made optional): when historical
    * (pre-1970) event time matters, derive a whole-granularity offset
    * that translates the stream into post-epoch time. Watermarks,
    * session gaps, and tumbling windows are all translation-invariant
    * as long as the offset is a multiple of every window duration
    * involved (default granularity: 1 hour, e11's window), so
    * `shift in → operate → shift out` is batch-exact. Returns 0 for
    * post-epoch data — the option is inert unless the data needs it,
    * and default behavior is unchanged. In production the offset is
    * CONFIGURATION (the pipeline's history horizon), not a data scan;
    * this helper derives it from the staged batch for gate/test use. */
  def epochShiftMicros(events: DataFrame, tsCol: String,
      granularitySeconds: Long = 3600L): Long = {
    val row = events.agg(min(unix_micros(col(tsCol)))).head()
    epochShiftForMin(if (row.isNullAt(0)) 0L else row.getLong(0),
      granularitySeconds)
  }

  /** The pure arithmetic behind [[epochShiftMicros]], for callers that
    * already know min event time (e.g. via an `Observation` riding an
    * existing action — zero extra scans). STRICTLY-past-epoch contract:
    * the shifted minimum must land > 0, never AT 0 — a row exactly at
    * the initial watermark is born late and dropped, so when -min is an
    * exact granularity multiple the offset takes one more step. */
  def epochShiftForMin(minMicros: Long, granularitySeconds: Long = 3600L): Long =
    if (minMicros >= 0L) 0L
    else {
      val g = granularitySeconds * 1000000L
      ((-minMicros) / g + 1) * g
    }

  /** Apply [[epochShiftMicros]]'s offset to a (possibly streaming)
    * relation's event-time column; a zero offset is the identity. */
  def shiftTs(df: DataFrame, tsCol: String, offsetMicros: Long): DataFrame =
    if (offsetMicros == 0L) df
    else df.withColumn(tsCol,
      timestamp_micros(unix_micros(col(tsCol)) + offsetMicros))

  /** Stage a batch to `dir` as a streaming replay source while deriving
    * the epoch-shift offset from the SAME write via an `Observation` —
    * zero extra scans. Returns the offset (0 = inert, post-epoch data);
    * pass it to [[shiftTs]] on the stream and subtract it from output
    * instants. The shifted stream gates (e4, e11, e17, the daily tiers)
    * stage through it. */
  def stageWithEpochShift(df: DataFrame, tsCol: String, dir: String,
      granularitySeconds: Long = 3600L): Long = {
    val obs = org.apache.spark.sql.Observation()
    df.observe(obs, min(unix_micros(col(tsCol))).as("min_tus"))
      .write.mode("overwrite").parquet(dir)
    epochShiftForMin(
      Option(obs.get("min_tus")).map(_.asInstanceOf[Long]).getOrElse(0L),
      granularitySeconds)
  }

  // ---- stateful sessionization (e2's streaming form) ---------------

  case class Event(user_id: Long, ts: Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: Long, session_end: Long,
      n_events: Long, session_value: Double)

  val gapMicros: Long = 1800L * 1000000L

  /** Full-precision epoch micros from a Timestamp (getTime alone drops
    * the sub-millisecond part that TIMESTAMP(MICROS) columns carry). */
  def tsMicros(t: Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** Batch-exact placement of one time-sorted micro-batch of
    * (t, value) events against the open session (start, last, n, acc)
    * — the ONE session state machine all three sessionizers share.
    * Returns (new open session, closed sessions in time order).
    *
    * Late-but-within-watermark events (t before the open session)
    * get BATCH semantics, not a blind fold: events before `start`
    * cluster by the same gap rule, the last cluster chains into the
    * open session when it lands within one gap of `start` — lowering
    * session_start exactly as a global sort would — and earlier
    * clusters emit as their own sessions. Interior events
    * (start ≤ t ≤ last) only count; events after `last` extend or
    * roll over as usual. */
  private def placeBatch[A](open: Option[(Long, Long, Long, A)],
      sorted: Seq[(Long, A)], add: (A, A) => A)
      : (Option[(Long, Long, Long, A)], Vector[(Long, Long, Long, A)]) = {
    val closed = Vector.newBuilder[(Long, Long, Long, A)]
    val (pre, rest) = open match {
      case Some((st, _, _, _)) => sorted.span(_._1 < st)
      case None => (Seq.empty[(Long, A)], sorted)
    }
    var preCur: Option[(Long, Long, Long, A)] = None
    pre.foreach { case (t, v) =>
      preCur match {
        case Some((s0, l0, n0, a0)) if t - l0 <= gapMicros =>
          preCur = Some((s0, t, n0 + 1, add(a0, v)))
        case Some(c) =>
          closed += c; preCur = Some((t, t, 1L, v))
        case None => preCur = Some((t, t, 1L, v))
      }
    }
    var cur = (open, preCur) match {
      case (Some((st, la, n, a)), Some((s0, l0, n0, a0))) =>
        if (st - l0 <= gapMicros) Some((s0, la, n + n0, add(a, a0)))
        else { closed += ((s0, l0, n0, a0)); open }
      case _ => open
    }
    rest.foreach { case (t, v) =>
      cur match {
        case Some((st, la, n, a)) if t <= la => // interior: count only
          cur = Some((st, la, n + 1, add(a, v)))
        case Some((st, la, n, a)) if t - la <= gapMicros =>
          cur = Some((st, t, n + 1, add(a, v)))
        case Some(c) =>
          closed += c; cur = Some((t, t, 1L, v))
        case None => cur = Some((t, t, 1L, v))
      }
    }
    (cur, closed.result())
  }

  /** Batch-harness sessionizer: emits a session when a gap exceeds 30
    * minutes; the final open session per user stays in state (single
    * batch, no timeout fires). Production streams use
    * [[sessionizeStream]], which flushes open sessions via watermark +
    * event-time timeout and bounds state. */
  def sessionize(events: Dataset[Event]): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[SessionState]) =>
          val sorted = it.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
            .map(e => (tsMicros(e.ts), e.value))
          val (cur, closed) = placeBatch(
            state.getOption.map(s => (s.start, s.last, s.n, s.total)),
            sorted, (a: Double, b: Double) => a + b)
          cur.foreach { case (s0, l0, n0, a0) =>
            state.update(SessionState(s0, l0, n0, a0))
          }
          closed.iterator.map { case (s0, l0, n0, a0) =>
            Session(uid, s0, l0, n0, a0)
          }
      }
  }

  // ---- streaming exact distinct (the an33 sketch, stateful) --------

  case class DayDistinct(day: Long, distinct_users: Long)

  private val dayMicros: Long = 86400L * 1000000L

  /** Streaming EXACT distinct users per event-time day — the an33
    * bitmap-sketch discipline crossed into Structured Streaming.
    * State per day is the SERIALIZED BITMAP (bounded by the key
    * domain, not the stream length — 10M users ≈ 1.25 MB per open
    * day), OR-updated each micro-batch; the day's count is emitted
    * ONCE as an Append row when the watermark passes the day's end
    * (EventTimeTimeout), then state drops — an unbounded stream holds
    * state only for days inside the watermark horizon. The streaming
    * twin of `count(distinct)` exactly as e11 is the streaming twin
    * of a tumbling count, with none of count-distinct's Expand: the
    * distinct values never re-shuffle, they set bits.
    *
    * Day keys are `floorDiv(event micros, 86400e6)` — pre-epoch-safe
    * (pair with the e11 epoch shift at 86400 s granularity, a day
    * multiple, so day boundaries translate exactly). State buffers on
    * the compressed [[graft.functions.Bitmap64]], so ANY 64-bit user
    * id is legal (sparse snowflake ids pay ~2 bytes/key, dense
    * surrogate ints 1 bit/key) — EXCEPT the negative ids the e-family
    * reserves for watermark sentinels, which advance time without
    * setting bits (their day emits 0 if it ever flushes; gates filter
    * `distinct_users > 0`).
    * Timeout-timestamp safety: any row reaching the function satisfies
    * ts ≥ watermark, and its day's end > ts, so the day-end timeout is
    * always strictly ahead of the watermark.
    *
    * FORMAT BREAK (r10, deliberate): state bytes switched from
    * `java.util.BitSet.toByteArray` to the magic-prefixed
    * [[graft.functions.Bitmap64]] format with NO legacy fallback — a
    * pre-r10 streaming checkpoint (or a persisted pre-r10
    * `bitmap_sketch` column) fails loudly with "bad magic" rather than
    * being silently misread: BitSet bytes carry no self-describing
    * header, so "migrate on magic mismatch" would accept ARBITRARY
    * corrupt bytes as legacy state. Restarting across the break means
    * replaying the stream from a fresh checkpoint (all e-family gates
    * stage their own input, so the engine's own queries are
    * unaffected). */
  def dailyDistinctStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[DayDistinct] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => Math.floorDiv(tsMicros(e.ts), dayMicros))
      .flatMapGroupsWithState[Array[Byte], DayDistinct](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, it, state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            val n = graft.functions.Bitmap64.deserialize(state.get).cardinality
            state.remove()
            Iterator.single(DayDistinct(day, n))
          } else {
            val bits = state.getOption.map(graft.functions.Bitmap64.deserialize)
              .getOrElse(new graft.functions.Bitmap64())
            it.foreach { e =>
              if (e.user_id >= 0L) bits.add(e.user_id)
            }
            state.update(bits.serialize())
            // flush when the watermark passes the day's end (ms)
            state.setTimeoutTimestamp((day + 1L) * 86400000L)
            Iterator.empty
          }
      }
  }

  case class DaySketch(day: Long, sketch: Array[Byte])

  /** THE generic streaming SKETCH-TABLE producer — one per-day flush
    * state machine shared by every sketch leg of the algebra (r12;
    * replaces the copy-paste bitmap/DDSketch twins): per-day sketch
    * state parameterized by (init, add, serialize, deserialize),
    * flushed as the day's serialized sketch when the watermark passes
    * the day's end (EventTimeTimeout), state dropped after the flush —
    * bounded by the watermark horizon on an unbounded stream.
    *
    * Because every leg's serialization is CANONICAL (bytes a pure
    * function of the summarized set/multiset + params — never arrival
    * order, state round-trips, or partitioning), the rows any
    * instantiation appends are BYTE-IDENTICAL to the sketch tier a
    * batch backfill writes with the corresponding INIT aggregate over
    * the same facts — the lambda-architecture equivalence the
    * e21/e22/e23/e24 gates pin through the oracle. State stays in the
    * leg's own wire format, so a streaming checkpoint and a persisted
    * sketch column share one validation path (hostile-byte rejection
    * included).
    *
    * Shared e-family conventions: negative user_ids are watermark
    * SENTINELS (advance event time, contribute nothing — their day
    * flushes the leg's empty sketch; gates filter it), day keys are
    * pre-epoch-safe via floorDiv, and the timeout timestamp (day end)
    * is strictly ahead of the watermark for any row that reaches the
    * function. */
  private def dailyTierStream[S](events: Dataset[Event], watermarkDelay: String,
      init: () => S, add: (S, Event) => Unit,
      ser: S => Array[Byte], deser: Array[Byte] => S): Dataset[DaySketch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(e => Math.floorDiv(tsMicros(e.ts), dayMicros))
      .flatMapGroupsWithState[Array[Byte], DaySketch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (day, it, state: GroupState[Array[Byte]]) =>
          if (state.hasTimedOut) {
            val bytes = state.get
            state.remove()
            Iterator.single(DaySketch(day, bytes))
          } else {
            val sk = state.getOption.map(deser).getOrElse(init())
            it.foreach { e =>
              if (e.user_id >= 0L) add(sk, e)
            }
            state.update(ser(sk))
            state.setTimeoutTimestamp((day + 1L) * 86400000L)
            Iterator.empty
          }
      }
  }

  /** Exact-distinct tier: per-day [[graft.functions.Bitmap64]] over
    * user ids — bytes ≡ batch `bitmap_sketch(user_id)` (gate e21). */
  def dailySketchStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] =
    dailyTierStream[graft.functions.Bitmap64](events, watermarkDelay,
      () => new graft.functions.Bitmap64(),
      (s, e) => s.add(e.user_id),
      _.serialize(),
      graft.functions.Bitmap64.deserialize)

  /** Unbounded-domain distinct tier: per-day [[graft.functions.Hll]]
    * registers over user ids (fixed 4 KiB state per open day,
    * sparse-serialized when near-empty) — bytes ≡ batch
    * `hll_sketch(user_id)` (gate e23). */
  def dailyHllSketchStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] =
    dailyTierStream[Array[Byte]](events, watermarkDelay,
      () => new Array[Byte](graft.functions.Hll.M),
      (regs, e) => graft.functions.Hll.update(regs, e.user_id),
      graft.functions.Hll.serialize,
      graft.functions.Hll.toDense)

  /** Exact-quantile tier: per-day [[graft.functions.Vhist]] histogram
    * over value CENTS (floor(value × 100) — SQL FLOOR semantics, the
    * an39 pre-bucket rule) — bytes ≡ batch
    * `vhist_sketch(floor(value * 100))` (gate e24). */
  def dailyVhistSketchStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] =
    dailyTierStream[graft.functions.Vhist.Hist](events, watermarkDelay,
      () => graft.functions.Vhist.newHist(),
      (h, e) => graft.functions.Vhist.add(h,
        math.floor(e.value * 100.0).toLong, 1L),
      graft.functions.Vhist.serialize,
      graft.functions.Vhist.deserialize)

  /** Bottom-k SAMPLE tier: per-day [[graft.functions.Kmv]] sketches
    * over user-id STRINGS (the KMV key contract — the hash must see
    * the exact bytes the oracle hashes) — bytes ≡ batch
    * `kmv_sketch(cast(user_id as string), k)` (gate e25). The bounded
    * bottom-k insert keeps per-open-day state at ≤ k entries, and the
    * canonical (hash, key)-ordered serialization makes micro-batch
    * arrival order and state round-trips invisible. */
  def dailyKmvSketchStream(events: Dataset[Event], k: Int = 32,
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] =
    dailyTierStream[graft.functions.Kmv.State](events, watermarkDelay,
      () => new graft.functions.Kmv.State(k),
      (s, e) => s.addKey(
        org.apache.spark.unsafe.types.UTF8String.fromString(e.user_id.toString)),
      graft.functions.Kmv.serialize,
      graft.functions.Kmv.deserialize)

  /** FREQUENCY tier: per-day [[graft.functions.Cms]] count-min cells
    * over user-id STRINGS — bytes ≡ batch
    * `cms_sketch(cast(user_id as string))` (gate e26). Fixed d × w
    * cell state per open day; cell-wise count addition is
    * order-independent and the dense/sparse serialization rule is a
    * pure function of the cell vector, so streamed bytes equal the
    * batch backfill's. */
  def dailyCmsSketchStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] =
    dailyTierStream[Array[Long]](events, watermarkDelay,
      () => graft.functions.Cms.newCells(),
      (c, e) => graft.functions.Cms.update(c,
        org.apache.spark.unsafe.types.UTF8String.fromString(e.user_id.toString)),
      graft.functions.Cms.serialize,
      graft.functions.Cms.deserialize)

  /** CODED exact-distinct tier: per-day dictionary-coded
    * [[graft.functions.Bitmap64]] sketches with the dictionary's
    * lineage id IN the bytes (the V2 tagged wire format) — bytes ≡
    * batch `bitmap_sketch_coded(code, dict_id)` over the same facts
    * coded by the SAME dictionary (gate e27). The dictionary arrives
    * as the relation [[graft.operators.Dictionary.encode]] returns
    * (`keyCol`, `codeCol`, dict_id) and is applied as a STREAM-STATIC
    * broadcast join per micro-batch — no driver collect, so the
    * static side stays an executor relation at any size Spark can
    * broadcast (and the r13 dictionary persist makes the per-batch
    * re-read a cache hit). Extending the key universe composes by
    * restart: stop, [[graft.operators.Dictionary.encodeIncremental]]
    * the lineage, resume — old codes frozen, id preserved, stored
    * days still merge.
    *
    * FAIL-LOUD on un-coded keys: an inner join would silently DROP a
    * streamed key absent from the dictionary (an undercount with no
    * error anywhere), so the join is LEFT and a missing code raises
    * with the extend-the-lineage message instead. Watermark sentinels
    * (user_id < 0, the e-family contract) pass through uncoded. */
  def dailyCodedSketchStream(events: Dataset[Event], dict: DataFrame,
      keyCol: String, codeCol: String, dictId: Long,
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] = {
    import events.sparkSession.implicits._
    val d = broadcast(dict.select(col(keyCol).as("__k"),
      col(codeCol).cast("long").as("__code")))
    val coded = events.toDF()
      .join(d, col("user_id").cast("string") === col("__k"), "left")
      .select(
        when(col("user_id") < 0L, col("user_id"))
          .when(col("__code").isNotNull, col("__code"))
          .otherwise(raise_error(concat(
            lit("dailyCodedSketchStream: streamed key "),
            col("user_id").cast("string"),
            lit(" is not in the dictionary - extend the lineage with " +
              "Dictionary.encodeIncremental and restart the producer")))
            .cast("long"))
          .as("user_id"),
        col("ts"), col("value"))
      .as[Event]
    // full-path lambdas, never eta-expanded refs off a local alias: an
    // alias val is CAPTURED by the closure and the module object is not
    // serializable; a static module call inside the body is
    dailyTierStream[graft.functions.CodedBitmap.CodedBm](coded, watermarkDelay,
      () => new graft.functions.CodedBitmap.CodedBm(
        java.lang.Long.valueOf(dictId), new graft.functions.Bitmap64()),
      (s, e) => s.bm.add(e.user_id),
      b => graft.functions.CodedBitmap.serializeBuf(b),
      bytes => graft.functions.CodedBitmap.deserializeBuf(bytes))
  }

  /** Relative-error quantile tier: per-day [[graft.functions.Dds]]
    * over event values at the pinned alpha — bytes ≡ batch
    * `dds_sketch(value, alpha)` (gate e22). */
  def dailyValueSketchStream(events: Dataset[Event], alpha: Double = 0.01,
      watermarkDelay: String = "30 minutes"): Dataset[DaySketch] = {
    val alphaBits = java.lang.Double.doubleToLongBits(alpha)
    dailyTierStream[graft.functions.Dds.DState](events, watermarkDelay,
      () => new graft.functions.Dds.DState(alphaBits),
      (s, e) => graft.functions.Dds.add(s, e.value),
      graft.functions.Dds.serialize,
      graft.functions.Dds.deserialize)
  }

  /** Production sessionizer: watermark + EventTimeTimeout, so the final
    * open session per user IS emitted (once the watermark passes
    * last-event + gap) and state is dropped — bounded memory on an
    * unbounded stream.
    *
    * Ordering is guarded inside the group, not assumed from upstream:
    * each micro-batch is sorted by event time, and a
    * late-but-within-watermark event at `t <= state.last` is placed
    * by BATCH semantics — interior (`t >= start`): counted into the
    * open session; within one gap before `start`: the session extends
    * BACKWARD (session_start lowers to t, exactly what a global sort
    * would produce); more than a gap before `start`: it belongs to an
    * earlier, already-passed session and is emitted as its own
    * session immediately. The one residual divergence from batch:
    * two such ancient-late events within a gap of EACH OTHER arriving
    * in different micro-batches emit as two sessions where batch
    * would merge them — keeping every passed session open in state
    * until its watermark horizon would be the cost of closing that
    * window (same-batch ancient-late events DO merge, because the
    * batch is processed in sorted order). Events later than the
    * watermark are dropped by Spark before the function runs. */
  def sessionizeStream(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed last + gap: nothing can extend this
            // session any more — flush it and clear state
            val s = state.get
            state.remove()
            Iterator.single(Session(uid, s.start, s.last, s.n, s.total))
          } else {
            val sorted = it.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
              .map(e => (tsMicros(e.ts), e.value))
            val (cur, closed) = placeBatch(
              state.getOption.map(s => (s.start, s.last, s.n, s.total)),
              sorted, (a: Double, b: Double) => a + b)
            cur.foreach { case (s0, l0, n0, a0) =>
              state.update(SessionState(s0, l0, n0, a0))
              // flush once the watermark passes the session's close
              state.setTimeoutTimestamp(l0 / 1000L + gapMicros / 1000L)
            }
            closed.iterator.map { case (s0, l0, n0, a0) =>
              Session(uid, s0, l0, n0, a0)
            }
          }
      }
  }

  // ---- exact-arithmetic variant (oracle-comparable) ----------------

  case class SessionExact(user_id: Long, session_start: Long,
      session_end: Long, n_events: Long, value_scaled: Long)
  case class SessionStateExact(start: Long, last: Long, n: Long,
      totalScaled: Long)

  /** [[sessionizeStream]] with exact integer value accumulation: each
    * event's value is scaled to 1e-4 units and summed as a long, so
    * session totals are bit-identical to a batch DECIMAL(18,4) sum
    * regardless of accumulation order, engine, or retry — which makes
    * the STREAMING result hash-comparable against a batch SQL oracle
    * (query e4_stream_sessions). */
  def sessionizeStreamExact(events: Dataset[Event],
      watermarkDelay: String = "30 minutes"): Dataset[SessionExact] = {
    import events.sparkSession.implicits._
    // half AWAY FROM ZERO, matching SQL round() on both engines:
    // math.round alone is half-toward-+infinity, which differs on
    // negative exact halves (-0.03125 · 1e4 = -312.5 → SQL -313,
    // math.round -312) — the gate data is positive so only a spec
    // pins this, but the "bit-identical to batch" contract must hold
    // for negative values too
    def scaled(v: Double): Long = {
      val x = v * 10000d
      if (x >= 0) math.round(x) else -math.round(-x)
    }
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionStateExact, SessionExact](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[SessionStateExact]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionExact(uid, s.start, s.last, s.n, s.totalScaled))
          } else {
            val sorted = it.toSeq.sortBy(e => (tsMicros(e.ts), e.value))
              .map(e => (tsMicros(e.ts), scaled(e.value)))
            val (cur, closed) = placeBatch(
              state.getOption.map(s => (s.start, s.last, s.n, s.totalScaled)),
              sorted, (a: Long, b: Long) => a + b)
            cur.foreach { case (s0, l0, n0, a0) =>
              state.update(SessionStateExact(s0, l0, n0, a0))
              state.setTimeoutTimestamp(l0 / 1000L + gapMicros / 1000L)
            }
            closed.iterator.map { case (s0, l0, n0, a0) =>
              SessionExact(uid, s0, l0, n0, a0)
            }
          }
      }
  }

  /** Streaming exact dedup — the incremental-crawl shape of D1: the
    * first document per canonical fingerprint passes, later copies are
    * dropped. `dropDuplicatesWithinWatermark` keys state by
    * fingerprint and EXPIRES it once the watermark passes, so state
    * stays bounded on an unbounded stream (a crawler re-fetching the
    * same page weeks later re-admits it — the at-scale contract is
    * "no dup within the dedup horizon", not "no dup ever", which
    * would need unbounded state or the batch d1/d7 jobs). Input must
    * carry an event-time column `ts`. */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", graft.functions.TextFunctions.fingerprint(col(textCol)))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Stream-stream event-time interval join — purchase attribution:
    * each purchase joins every same-user click in the preceding
    * `window`. The two-sided time constraint in the join condition is
    * what lets Spark BOUND the join state: with both watermarks set,
    * a click older than watermark + window can never match a future
    * purchase and its state row is dropped — the join runs forever on
    * bounded memory. Inner-join matches emit in the micro-batch where
    * both sides are present (no watermark wait — the watermark only
    * gates state eviction, unlike append-mode aggregations).
    *
    * Output: (click_id, user_id, c_ts, purchase_id, p_ts, lag_us);
    * lag_us is exact integer micros, so the result is hash-comparable
    * with a batch oracle. */
  /** `joinType` "inner" (default), "leftOuter", or "fullOuter":
    * leftOuter emits a null-purchase row for a click once the
    * watermark passes its whole join window — unmatched-click
    * detection with BOUNDED state, the streaming form of "which
    * clicks never converted"; fullOuter ALSO emits a null-click row
    * for a purchase no click preceded (direct/organic purchases),
    * covering both unmatched directions in one pass. Outer rows only
    * flush when the watermark advances in a LATER micro-batch; a
    * finite run must push sentinel batches through both sides (the
    * e2/e4 far-future-sentinel pattern). `user_id` is coalesced from
    * whichever side is present (identical to the click's user for
    * inner/leftOuter). */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      window: String = "2 hours", watermarkDelay: String = "1 hour",
      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    c.join(p, expr(
        s"user_id = p_user AND c_ts <= p_ts AND p_ts <= c_ts + INTERVAL $window"),
        joinType)
      .select(col("click_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"), col("c_ts"),
        col("purchase_id"), col("p_ts"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("lag_us"))
  }

  /** Left SEMI stream-stream interval join — "which clicks converted
    * at all": each click emits AT MOST ONCE, as soon as any purchase
    * lands in its 2-hour window — no purchase columns, no fan-out on
    * multi-purchase users, and the smallest state and output of the
    * join family (the conversion-FLAG complement to e6's inner
    * attribution fan-out and e13's unmatched-click detection). The
    * same two-sided time constraint bounds the join state under the
    * watermarks. */
  def attributionSemiJoin(clicks: DataFrame, purchases: DataFrame,
      window: String = "2 hours", watermarkDelay: String = "1 hour"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", watermarkDelay)
    c.join(p, expr(
        s"user_id = p_user AND c_ts <= p_ts AND p_ts <= c_ts + INTERVAL $window"),
        "left_semi")
      .select(col("click_id"), col("user_id"), col("c_ts"))
  }

  /** Stream-static enrichment join — the third streaming join shape
    * next to the stateful stream-stream interval join: each streaming
    * event picks up its dimension row from a STATIC (batch) table.
    * No watermark and no join state at all — the static side is
    * broadcast/rescanned per micro-batch, which is why stream-static
    * is the default way to decorate a stream with slowly-changing
    * dims at any scale. Values are accumulated as exact scaled longs
    * so the streamed aggregate is hash-comparable to a batch oracle. */
  def enrichedTypeTotals(events: DataFrame, typeDim: DataFrame): DataFrame =
    events
      .join(typeDim, Seq("event_type"))
      .groupBy(col("event_type"), col("weight"))
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(round(value * 10000) AS BIGINT)")).as("value_scaled"))

  /** foreachBatch idempotent MERGE sink — exactly-once TABLE semantics
    * on top of at-least-once micro-batch delivery, the production way
    * to land a CDC stream in a lake table. Each micro-batch folds into
    * the running state with [[graft.operators.Cdc.compact]]: one winner
    * per key by (version desc, op desc), DELETE rows retained as
    * tombstones — withOUT tombstones, a redelivered batch carrying an
    * older update would resurrect a deleted key. Because the fold is a
    * per-key max, it is idempotent (`redeliver = true` applies every
    * batch twice to prove it) and batch-ORDER-free (versions come from
    * the data, not arrival), which is exactly what recovery replay
    * requires. State lineage is truncated per batch (localCheckpoint);
    * at cluster scale the same fold is a MERGE INTO against the lake
    * table, partitioned by the merge key.
    *
    * Returns the final compacted state INCLUDING tombstones; publish
    * with `filter(op != 'D')`. */
  def mergeSinkOnce(log: DataFrame, keys: Seq[String],
      redeliver: Boolean = true,
      checkpointDir: Option[String] = None): DataFrame = {
    var state: DataFrame = null
    val w0 = log.writeStream
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: java.lang.Long) =>
        // the batch Dataset is only valid inside this callback —
        // materialize it before folding it into the cross-batch state
        val b = batch.localCheckpoint()
        def applyOnce(): Unit = {
          val cur = if (state == null) b else state.unionByName(b)
          state = graft.operators.Cdc.compact(cur, keys).localCheckpoint()
        }
        applyOnce()
        if (redeliver) applyOnce() // simulated at-least-once redelivery
        ()
      }
    val q = checkpointDir.fold(w0)(d => w0.option("checkpointLocation", d))
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // no batches ⇒ return an empty frame CARRYING log's schema, so
    // downstream column references (e14's filter/select) still resolve
    if (state == null)
      log.sparkSession.createDataFrame(
        log.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row], log.schema)
    else state
  }
}
