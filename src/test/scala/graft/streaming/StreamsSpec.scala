package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.{TempDirs, TestSpark}

class StreamsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("article file stream ingests incrementally with the explicit schema") {
    def land(scratch: Path, name: String, lines: String*): Unit =
      Files.write(Files.createDirectories(scratch.resolve("landing")).resolve(name),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    def count(): Long = spark.sql("SELECT count(*) FROM arts1").collect().head.getLong(0)
    // the flush step lands the second file while the query runs
    val landSecond = (scratch: Path) => {
      assert(count() === 2)
      land(scratch, "batch2.json",
        """{"title": "S3", "doi": "d3", "topic": "AI", "citations": 3}""")
    }
    Streams.gateDrain("arts1", OutputMode.Append, Some(landSecond)) { scratch =>
      land(scratch, "batch1.json",
        """{"title": "S1", "doi": "d1", "topic": "AI", "citations": 1}""",
        """{"title": "S2", "doi": "d2", "topic": "IoT", "citations": 2}""")
      val stream = Streams.articleStream(spark, scratch.resolve("landing").toString)
      assert(stream.isStreaming)
      stream.select("doi", "topic", "citations")
    }
    // second file landed → incremental pickup, no reprocessing
    assert(count() === 3)
  }

  test("article stream restart from checkpoint is exactly-once") {
    // the reference's one resilience behavior is the scrapers'
    // corrupt-file reset; the streaming upgrade's contract is stronger:
    // kill the query, restart it on the SAME checkpoint, and every
    // landed article is emitted exactly once — no loss, no reprocessing
    val root = tempDir("restart")
    val land = root.resolve("landing"); Files.createDirectories(land)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def landFile(name: String, lines: String*): Unit =
      Files.write(land.resolve(name),
        lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
    def runPass(): Unit = {
      // a FRESH query object each pass — recovery state comes only
      // from the checkpoint dir, exactly like a process restart
      val q = Streams.articleStream(spark, land.toString)
        .select("doi", "topic", "citations")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop() // kill
    }
    landFile("b1.json",
      """{"title": "S1", "doi": "d1", "topic": "AI", "citations": 1}""",
      """{"title": "S2", "doi": "d2", "topic": "IoT", "citations": 2}""")
    runPass() // ingests b1, then dies
    landFile("b2.json",
      """{"title": "S3", "doi": "d3", "topic": "AI", "citations": 3}""")
    runPass() // resumes from checkpoint: must pick up ONLY b2
    runPass() // restart with nothing new: must emit nothing
    // batch read honors the sink's _spark_metadata commit log, so only
    // committed files count — exactly-once is what this asserts
    val dois = spark.read.parquet(out).select("doi")
      .collect().map(_.getString(0)).toSeq
    assert(dois.length === 3, s"expected exactly-once output, got $dois")
    assert(dois.toSet === Set("d1", "d2", "d3"))
  }

  test("stateful sessionization matches hand-computed sessions") {
    def ts(min: Long) = new Timestamp(min * 60000L)
    val events = Seq(
      Streams.Event(1L, ts(0), 1.0),
      Streams.Event(1L, ts(10), 2.0),   // same session (gap 10m)
      Streams.Event(1L, ts(50), 3.0),   // new session (gap 40m)
      Streams.Event(2L, ts(5), 5.0)     // other user
    ).toDS()
    val sessions = Streams.sessionize(events).collect()
      .map(s => (s.user_id, s.n_events, s.session_value)).toSet
    // NoTimeout + batch: the still-open session per user is held in
    // state, so only CLOSED sessions are emitted
    assert(sessions === Set((1L, 2L, 3.0)))
  }

  test("event-time-timeout sessionizer flushes open sessions and drops state") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    // offset from epoch 0 so the initial watermark (0) can't clip events
    def ts(min: Long) = new Timestamp((1000 + min) * 60000L)
    val src = MemoryStream[Streams.Event]
    val q = Streams.sessionizeStream(src.toDS(), "10 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("sess").start()
    // batch 1: user 1 gets two sessions' worth; user 2 one event
    src.addData(
      Streams.Event(1L, ts(0), 1.0),
      Streams.Event(1L, ts(10), 2.0),
      Streams.Event(2L, ts(5), 5.0))
    q.processAllAvailable()
    // batch 2: gap > 30m closes user 1's first session inline; the far
    // future event pushes the watermark past every open session's
    // close, so the event-time timeout fires for users 1 and 2
    src.addData(Streams.Event(1L, ts(50), 3.0))
    q.processAllAvailable()
    src.addData(Streams.Event(3L, ts(10000), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(3L, ts(10001), 0.0)) // advance batch to fire timeouts
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT user_id, n_events, session_value FROM sess")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // user 1: closed (2 events) + timed-out (1 event); user 2: timed-out
    assert(got.contains((1L, 2L, 3.0)))   // closed by gap
    assert(got.contains((1L, 1L, 3.0)))   // open session flushed by timeout
    assert(got.contains((2L, 1L, 5.0)))   // open session flushed by timeout
  }

  test("exact sessionizer rounds half AWAY FROM ZERO on negative values (SQL round parity)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp((1000 + min) * 60000L)
    val src = MemoryStream[Streams.Event]
    val q = Streams.sessionizeStreamExact(src.toDS(), "10 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("sessneg").start()
    // -0.03125 · 1e4 = -312.5 exactly: SQL round (both engines) gives
    // -313; bare math.round would give -312 — the gate corpus is
    // all-positive, so only this spec pins the negative contract
    src.addData(Streams.Event(7L, ts(0), -0.03125), Streams.Event(7L, ts(1), 0.03125))
    q.processAllAvailable()
    src.addData(Streams.Event(8L, ts(10000), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(8L, ts(10001), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("SELECT user_id, value_scaled FROM sessneg WHERE user_id = 7")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((7L, -313L + 313L)))  // -313 + 313 = 0: both halves away from zero
  }

  test("late events get batch placement: backward extension and pre-session split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    def ts(min: Long) = new Timestamp((5000 + min) * 60000L)
    val src = MemoryStream[Streams.Event]
    // long watermark delay so the late events stay admissible
    val q = Streams.sessionizeStream(src.toDS(), "10 hours").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("late_sess").start()
    // batch 1: open session [100, 110] for user 1
    src.addData(
      Streams.Event(1L, ts(100), 1.0),
      Streams.Event(1L, ts(110), 2.0))
    q.processAllAvailable()
    // batch 2, all late-but-within-watermark for user 1:
    //  ts(80): 20m before start — chains (gap 30m) → start lowers to 80
    //  ts(10), ts(30): > gap before start, 20m apart — ONE pre-session
    src.addData(
      Streams.Event(1L, ts(80), 4.0),
      Streams.Event(1L, ts(10), 8.0),
      Streams.Event(1L, ts(30), 16.0))
    q.processAllAvailable()
    // far-future watermark push fires the open session's timeout
    src.addData(Streams.Event(9L, ts(100000), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(9L, ts(100001), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql(
      "SELECT session_start, session_end, n_events, session_value FROM late_sess WHERE user_id = 1")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    def us(min: Long) = (5000 + min) * 60000000L
    // pre-session: the two ancient events merged (same batch, 20m gap)
    assert(got.contains((us(10), us(30), 2L, 24.0)), s"pre-session missing: $got")
    // main session: start lowered to 80 by the chained late event
    assert(got.contains((us(80), us(110), 3L, 7.0)), s"backward extension missing: $got")
  }

  test("stateful sessionizer recovers open-session state across restart") {
    // stronger than source-offset recovery: the OPEN session built in
    // pass 1 lives only in the state store; after a kill, pass 2's gap
    // closure can only produce the right session if that state was
    // checkpointed and recovered
    val root = tempDir("state-restart")
    val land = root.resolve("landing"); Files.createDirectories(land)
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def ts(min: Long) = new Timestamp((1000 + min) * 60000L)
    var batchNo = 0
    def landEvents(evs: Streams.Event*): Unit = {
      batchNo += 1
      // ONE part-file per land: with maxFilesPerTrigger=1 a multi-file
      // land would split one logical batch across micro-batches, and
      // the watermark from the first fragment can drop the second
      // fragment's earlier events as late
      evs.toSeq.toDS().coalesce(1)
        .write.mode("append").parquet(land.resolve(s"b$batchNo").toString)
    }
    val schema = Seq.empty[Streams.Event].toDS().schema
    def runPass(): Unit = {
      val src = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1") // one landed dir per micro-batch
        .parquet(land.toString + "/*")
      val q = Streams.sessionizeStream(src.as[Streams.Event], "10 minutes")
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop() // kill
    }
    // pass 1: u1 has an open 2-event session, u2 an open 1-event one —
    // nothing emits; all of it is state
    landEvents(
      Streams.Event(1L, ts(0), 1.0),
      Streams.Event(1L, ts(10), 2.0),
      Streams.Event(2L, ts(5), 5.0))
    runPass()
    // (Try: an emit-nothing pass may leave the sink dir absent or
    // metadata-only, where a parquet read cannot infer a schema)
    val pass1Rows =
      scala.util.Try(spark.read.parquet(out).count()).getOrElse(0L)
    assert(pass1Rows === 0L, "pass 1 must emit nothing")
    // pass 2 (recovered state): gap > 30m closes u1's first session;
    // the far-future events advance the watermark and fire timeouts.
    // Two trailing batches: timeouts fire in a batch AFTER the one
    // that advanced the watermark, and a data batch is a firing
    // opportunity processAllAvailable is guaranteed to wait for (a
    // watermark-triggered no-data batch can race q.stop()).
    landEvents(Streams.Event(1L, ts(50), 3.0))
    landEvents(Streams.Event(3L, ts(10000), 0.0))
    landEvents(Streams.Event(3L, ts(10001), 0.0))
    landEvents(Streams.Event(3L, ts(10002), 0.0))
    runPass()
    val got = spark.read.parquet(out)
      .select($"user_id", $"n_events", $"session_value")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // (1,2,3.0) is provable ONLY from recovered state: start/last/total
    // of the pre-kill open session
    assert(got.contains((1L, 2L, 3.0)), s"recovered gap closure missing: $got")
    assert(got.contains((2L, 1L, 5.0)), s"recovered timeout flush missing: $got")
  }

  test("streaming dedup passes exactly one doc per fingerprint (== batch distinct)") {
    val docs = graft.Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select($"doc_id", $"text")
      // deterministic synthetic event time (documents carry none),
      // all inside one dedup horizon so every duplicate must be caught;
      // offset past epoch 0 — a row AT the initial watermark (epoch 0)
      // is discarded as late by the stateful operator
      .withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(($"doc_id" % 600L + 3600L) * 1000000L))
    val out = Streams.gateDrain("deduped", OutputMode.Append, None) { scratch =>
      val staged = scratch.resolve("staged").toString
      docs.write.mode("overwrite").parquet(staged)
      Streams.dedupStream(spark.readStream.schema(docs.schema).parquet(staged))
    }
    // one survivor per fingerprint, covering every batch-distinct fp
    val dupFps = out.groupBy("fp").count().filter($"count" > 1)
      .select("fp").collect().map(_.getString(0))
    val dups = out.filter($"fp".isin(dupFps.toSeq: _*))
      .select("fp", "doc_id", "ts").collect()
    assert(dups.isEmpty, s"duplicate fps in stream output:\n${dups.mkString("\n")}")
    val batchFps = docs.select(
      graft.functions.TextFunctions.fingerprint($"text").as("fp")).distinct()
    val extra = out.select("fp").exceptAll(batchFps).collect()
    val missing = batchFps.exceptAll(out.select("fp")).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"out=${out.count()} batchDistinct=${batchFps.count()} " +
      s"extra=${extra.mkString(",")} missing=${missing.mkString(",")}")
  }

  /** Names of the scratch dirs a gate drain called `queryName` left. */
  private def leftScratch(queryName: String): Seq[String] = {
    val ls = Files.list(Streams.gateScratchRoot)
    try ls.iterator.asScala.map(_.getFileName.toString)
      .filter(_.startsWith(s"graft-$queryName")).toSeq
    finally ls.close()
  }

  test("gateDrain: a stage step that throws leaves no query and no scratch dir") {
    val e = intercept[IllegalStateException] {
      Streams.gateDrain("gate_stage_throws", OutputMode.Append, None) { scratch =>
        Seq(1L).toDF("x").write.parquet(scratch.resolve("staged").toString)
        throw new IllegalStateException("stage failed")
      }
    }
    assert(e.getMessage === "stage failed")
    assert(spark.streams.active.isEmpty)
    assert(leftScratch("gate_stage_throws").isEmpty)
  }

  test("gateDrain: a stream that throws mid-drain leaves no query and no scratch dir") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    def stage(scratch: Path, x: Long): Unit =
      Seq(x).toDF("x").write.mode("append").parquet(scratch.resolve("staged").toString)
    // batch 0 drains; the flush's row makes batch 1 fail
    val e = intercept[Exception] {
      Streams.gateDrain("gate_drain_throws", OutputMode.Append, Some(stage(_, 2L))) { scratch =>
        stage(scratch, 1L)
        spark.readStream.schema("x BIGINT").parquet(scratch.resolve("staged").toString)
          .select(when(col("x") === 2L, raise_error(lit("drain failed")))
            .otherwise(col("x")).as("x"))
      }
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(c => c.getMessage != null && c.getMessage.contains("drain failed")),
      s"expected the drain's own error in: ${causes(e).map(_.getMessage)}")
    assert(spark.table("gate_drain_throws").collect().map(_.getLong(0)).toSeq === Seq(1L))
    assert(spark.streams.active.isEmpty)
    assert(leftScratch("gate_drain_throws").isEmpty)
  }

  test("dedupStream resumes from its checkpoint: one survivor per fingerprint across a kill") {
    import org.apache.spark.sql.functions.{concat, lit, timestamp_micros}
    // 400 docs over 300 texts: ids i and i + 300 are exact duplicates
    val d0 = spark.range(0L, 400L).select($"id".as("doc_id"),
      concat(lit("Doc "), ($"id" % 300L).cast("string"), lit(" body")).as("text"))
    // e12's synthetic event time: every row of both phases sits inside
    // one dedup horizon and past epoch 0
    def timed(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("ts", timestamp_micros(($"doc_id" % 600L + 3600L) * 1000000L))
    val phaseA = timed(d0.filter($"doc_id" % 2 === 0))
    // phase B: new docs, plus exact re-sends of every tenth phase-A doc
    // under new ids — only the recovered dedup state can drop those
    val phaseB = timed(d0.filter($"doc_id" % 2 === 1).unionByName(
      d0.filter($"doc_id" % 10 === 0).select(($"doc_id" + 1000000).as("doc_id"), $"text")))
    val root = tempDir("dedup-restart")
    val land = root.resolve("landing")
    val ckpt = root.resolve("ckpt").toString
    val out = root.resolve("out").toString
    def runPass(): Unit = {
      // a FRESH query each pass: state comes only from the checkpoint
      val q = Streams.dedupStream(
          spark.readStream.schema(phaseA.schema).parquet(land.toString + "/*"))
        .writeStream.format("parquet")
        .option("checkpointLocation", ckpt)
        .option("path", out)
        .outputMode("append")
        .start()
      q.processAllAvailable()
      q.stop() // kill
    }
    phaseA.write.parquet(land.resolve("a").toString)
    runPass()
    val afterA = spark.read.parquet(out).count()
    phaseB.write.parquet(land.resolve("b").toString)
    runPass() // resumes: phase B only, against phase A's state
    val got = spark.read.parquet(out)
    assert(got.count() > afterA, "the resumed run emitted none of phase B's new docs")
    val dupFps = got.groupBy("fp").count().filter($"count" > 1).count()
    assert(dupFps === 0L, "a fingerprint survived twice across the kill")
    assert(got.filter($"doc_id" >= 1000000L).count() === 0L,
      "a re-sent phase-A doc survived the resumed run")
    val batchFps = phaseA.unionByName(phaseB)
      .select(graft.functions.TextFunctions.fingerprint($"text").as("fp")).distinct()
    assert(got.select("fp").exceptAll(batchFps).isEmpty)
    assert(batchFps.exceptAll(got.select("fp")).isEmpty)
  }

  test("EventQueries drains every stream gate through gateDrain or withGateScratch") {
    val code = Files.readAllLines(Paths.get("src/main/scala/graft/queries/EventQueries.scala"))
      .asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    def sites(needle: String): Int = code.count(_.contains(needle))
    assert(sites("scratchTempDir") === 0)
    assert(sites("deleteRecursively") === 0)
    // e15's restart pair runs two queries on one checkpoint with its
    // own foreachBatch sink; every other gate starts in gateDrain
    assert(sites(".writeStream") === 1)
  }

  test("stream-stream attribution join: closed window boundary, ordering, fan-out") {
    import org.apache.spark.sql.functions.timestamp_micros
    val h2us = 7200L * 1000000L
    // (event_id, user_id, ts_micros)
    val clicks = Seq(
      (101L, 1L, 1000L * 1000000L),          // u1: purchase lands exactly at +2h
      (102L, 2L, 1000L * 1000000L),          // u2: purchase at +2h + 1us -> excluded
      (103L, 3L, 9000L * 1000000L),          // u3: purchase BEFORE click -> excluded
      (104L, 4L, 500L * 1000000L),           // u4: two clicks, one purchase
      (105L, 4L, 600L * 1000000L))
    val purchases = Seq(
      (201L, 1L, 1000L * 1000000L + h2us),
      (202L, 2L, 1000L * 1000000L + h2us + 1L),
      (203L, 3L, 8000L * 1000000L),
      (204L, 4L, 700L * 1000000L))
    val sch = clicks.toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts")).schema
    val out = Streams.gateDrain("e6spec", OutputMode.Append, None) { scratch =>
      def side(rows: Seq[(Long, Long, Long)], name: String) = {
        val dir = scratch.resolve(name).toString
        rows.toDF("event_id", "user_id", "us")
          .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
          .write.mode("overwrite").parquet(dir)
        spark.readStream.schema(sch).parquet(dir)
      }
      val joined = Streams.attributionJoin(side(clicks, "clicks"), side(purchases, "purchases"))
      assert(joined.isStreaming)
      joined
    }
    val got = out
      .select($"purchase_id", $"click_id", $"lag_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (201L, 101L, h2us),                 // boundary: exactly +2h included
      (204L, 104L, 200L * 1000000L),      // fan-out: both of u4's clicks match
      (204L, 105L, 100L * 1000000L)))
  }

  test("left-outer stream join emits null rows only after watermark expiry") {
    import org.apache.spark.sql.functions.timestamp_micros
    val h2us = 7200L * 1000000L
    val clicks = Seq(
      (101L, 1L, 1000L * 1000000L),   // matched at +1h
      (102L, 2L, 1000L * 1000000L))   // never matched -> null row
    val purchases = Seq(
      (201L, 1L, 1000L * 1000000L + h2us / 2))
    def write(rows: Seq[(Long, Long, Long)], name: String): String = {
      val dir = tempDir("e13-spec").resolve(name).toString
      rows.toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val cDir = write(clicks, "clicks")
    val pDir = write(purchases, "purchases")
    val sch = clicks.toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts")).schema
    val joined = Streams.attributionJoin(
      spark.readStream.schema(sch).parquet(cDir),
      spark.readStream.schema(sch).parquet(pDir),
      joinType = "leftOuter")
    val q = joined.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("e13spec").start()
    def sentinel(sec: Long): Unit =
      Seq((-1L, -1L, sec * 1000000L)).toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("append").parquet(cDir)
    try {
      q.processAllAvailable()
      // BEFORE the watermark advances, the unmatched click must NOT
      // have produced a premature null row
      val early = spark.table("e13spec")
        .filter($"click_id" === 102L).count()
      assert(early === 0L, "null row emitted before watermark expiry")
      // purchase-side sentinels advance the purchase watermark; the
      // click side needs them too for the overall eviction watermark
      Seq((-2L, -1L, 4102444800L * 1000000L)).toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("append").parquet(pDir)
      sentinel(4102444800L)
      q.processAllAvailable()
      Seq((-3L, -1L, 4102444860L * 1000000L)).toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("append").parquet(pDir)
      sentinel(4102444860L)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("e13spec").filter($"user_id" =!= -1L)
      .select($"click_id", $"purchase_id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
      .toSet
    assert(got === Set((101L, Some(201L)), (102L, None)))
  }

  test("semi stream join: one row per converted click, never a multi-purchase fan-out") {
    import org.apache.spark.sql.functions.timestamp_micros
    val h2us = 7200L * 1000000L
    val clicks = Seq(
      (101L, 1L, 1000L * 1000000L),  // TWO purchases in window → ONE row
      (102L, 2L, 1000L * 1000000L),  // no purchase → no row
      (103L, 3L, 1000L * 1000000L))  // purchase outside window → no row
    val purchases = Seq(
      (201L, 1L, 1000L * 1000000L + h2us / 4),
      (202L, 1L, 1000L * 1000000L + h2us / 2),
      (203L, 3L, 1000L * 1000000L + h2us + 1L))
    def write(rows: Seq[(Long, Long, Long)], name: String): String = {
      val dir = tempDir("e20-spec").resolve(name).toString
      rows.toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val cDir = write(clicks, "clicks")
    val pDir = write(purchases, "purchases")
    val sch = clicks.toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts")).schema
    val joined = Streams.attributionSemiJoin(
      spark.readStream.schema(sch).parquet(cDir),
      spark.readStream.schema(sch).parquet(pDir))
    val q = joined.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("e20spec").start()
    try {
      q.processAllAvailable()
      // drain once more so late state changes (none expected) settle
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("e20spec")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((101L, 1L))) // at-most-once, in-window only
  }

  test("full-outer stream join emits both unmatched directions after expiry") {
    import org.apache.spark.sql.functions.timestamp_micros
    val h2us = 7200L * 1000000L
    val clicks = Seq(
      (101L, 1L, 1000L * 1000000L),   // matched at +1h
      (102L, 2L, 1000L * 1000000L))   // never matched -> null-purchase row
    val purchases = Seq(
      (201L, 1L, 1000L * 1000000L + h2us / 2),
      (202L, 3L, 1000L * 1000000L))   // no preceding click -> null-click row
    def write(rows: Seq[(Long, Long, Long)], name: String): String = {
      val dir = tempDir("e16-spec").resolve(name).toString
      rows.toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    val cDir = write(clicks, "clicks")
    val pDir = write(purchases, "purchases")
    val sch = clicks.toDF("event_id", "user_id", "us")
      .select($"event_id", $"user_id", timestamp_micros($"us").as("ts")).schema
    val joined = Streams.attributionJoin(
      spark.readStream.schema(sch).parquet(cDir),
      spark.readStream.schema(sch).parquet(pDir),
      joinType = "fullOuter")
    val q = joined.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("e16spec").start()
    def sentinel(id: Long, sec: Long, dir: String): Unit =
      Seq((id, -1L, sec * 1000000L)).toDF("event_id", "user_id", "us")
        .select($"event_id", $"user_id", timestamp_micros($"us").as("ts"))
        .write.mode("append").parquet(dir)
    try {
      q.processAllAvailable()
      sentinel(-2L, 4102444800L, cDir); sentinel(-3L, 4102444800L, pDir)
      q.processAllAvailable()
      sentinel(-4L, 4102444860L, cDir); sentinel(-5L, 4102444860L, pDir)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("e16spec").filter($"user_id" =!= -1L)
      .select($"click_id", $"user_id", $"purchase_id")
      .collect().map(r => (
        if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
      .toSet
    // the user key must survive from WHICHEVER side is present
    assert(got === Set(
      (Some(101L), 1L, Some(201L)),
      (Some(102L), 2L, None),
      (None, 3L, Some(202L))))
  }

  test("windowed streaming agg equals the batch window query") {
    val batch = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"ts", $"event_type", $"value")
    val streamed = Streams.gateDrain("winagg", OutputMode.Complete, None) { scratch =>
      val staged = scratch.resolve("staged").toString
      batch.write.mode("overwrite").parquet(staged)
      Streams.windowedCounts(spark.readStream.schema(batch.schema).parquet(staged))
    }.select("hour_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    // batch path: same aggregation expressed in batch mode
    val batchAgg = batch
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour"), $"event_type")
      .count()
      .select($"window.start".as("hour_start"), $"event_type", $"count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batchAgg)
  }

  test("sliding streaming agg equals the batch sliding window (two windows per event)") {
    val batch = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select($"ts", $"event_type", $"value")
    val streamed = Streams.gateDrain("slideagg", OutputMode.Complete, None) { scratch =>
      val staged = scratch.resolve("staged").toString
      batch.write.mode("overwrite").parquet(staged)
      Streams.slidingCounts(spark.readStream.schema(batch.schema).parquet(staged))
    }.select("win_start", "event_type", "n")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val batchAgg = batch
      .groupBy(org.apache.spark.sql.functions.window($"ts", "1 hour", "30 minutes"),
        $"event_type")
      .count()
      .select($"window.start".as("win_start"), $"event_type", $"count")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batchAgg)
    // overlap sanity: every event is in two windows, so total mass doubles
    val total = streamed.toSeq.map(_._3).sum
    assert(total === 2 * batch.count())
  }

  test("epochShiftForMin lands the minimum STRICTLY past epoch, even at exact multiples") {
    val g = 3600L * 1000000L
    assert(Streams.epochShiftForMin(0L) === 0L)   // post-epoch: inert
    assert(Streams.epochShiftForMin(5L) === 0L)
    assert(Streams.epochShiftForMin(-1L) === g)
    // the boundary the old round-up-to-multiple form got wrong: -min an
    // exact granularity multiple would shift the earliest row to event
    // time 0 = the initial watermark, where it is born late and dropped
    assert(Streams.epochShiftForMin(-g) === 2 * g)
    assert(-g + Streams.epochShiftForMin(-g) > 0L)
    assert(Streams.epochShiftForMin(-g - 1) === 2 * g)
    assert(Streams.epochShiftForMin(-2 * g) === 3 * g)
    // offsets stay hour multiples (window alignment invariant)
    Seq(-1L, -g, -g - 1, -7L * g + 3).foreach { m =>
      assert(Streams.epochShiftForMin(m) % g === 0L)
    }
  }

  test("daily distinct stream: bitmap state dedups across batches, emits once per closed day") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000L // ms
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val src = MemoryStream[Streams.Event]
    val q = Streams.dailyDistinctStream(src.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily").start()
    // batch 1 stays inside day 10 (a day-11 event would advance the
    // watermark past day 10's end and late-drop batch 2's rows):
    // users 1,2,1 — dup within the batch
    src.addData(
      Streams.Event(1L, ts(10, 1), 0.0),
      Streams.Event(2L, ts(10, 2), 0.0),
      Streams.Event(1L, ts(10, 3), 0.0))
    q.processAllAvailable()
    // nothing closed yet — Append emits only on watermark flush
    assert(spark.table("daily").count() === 0)
    // batch 2: day 10 again (user 2 dups ACROSS batches, user 4 new)
    // plus day 11's user 3 — its watermark advance closes day 10
    src.addData(
      Streams.Event(2L, ts(10, 4), 0.0),
      Streams.Event(4L, ts(10, 5), 0.0),
      Streams.Event(3L, ts(11, 1), 0.0))
    q.processAllAvailable()
    // sentinel far future (negative user = no bit), then the firing batch
    src.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("daily")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(10L -> 3L, 11L -> 1L)) // users {1,2,4}, {3}
  }

  test("daily sketch stream: flushed bytes identical to the batch-built sketch (r11)") {
    // lambda-architecture equivalence: cross-micro-batch arrival order
    // and state serialize/deserialize round-trips must be invisible in
    // the flushed bytes — canonical Bitmap64 serialization makes the
    // streamed sketch tier byte-identical to a batch backfill's
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val src = MemoryStream[Streams.Event]
    val q = Streams.dailySketchStream(src.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_sk").start()
    val big = 1L << 33
    // same key set split across batches in shuffled order, with dups
    src.addData(
      Streams.Event(7L, ts(10, 1), 0.0),
      Streams.Event(big + 3L, ts(10, 2), 0.0),
      Streams.Event(7L, ts(10, 3), 0.0))
    q.processAllAvailable()
    src.addData(
      Streams.Event(2L, ts(10, 4), 0.0),
      Streams.Event(big + 3L, ts(10, 5), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("daily_sk")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batch = Seq(7L, big + 3L, 7L, 2L, big + 3L).toDF("user_id")
      .agg(graft.functions.BitmapDistinct.bitmap_sketch($"user_id"))
      .head().getAs[Array[Byte]](0)
    assert(streamed.toSeq === batch.toSeq)
    assert(graft.functions.Bitmap64.deserialize(streamed).cardinality === 3L)
  }

  test("daily value-sketch stream: flushed DDSketch bytes identical to the batch-built tier (r11)") {
    // e21's lambda-architecture equivalence for the quantile leg:
    // values arriving across micro-batches in shuffled order, with
    // state serialize/deserialize round-trips between them, must
    // flush the SAME canonical bytes a batch dds_sketch builds —
    // and the sentinel rows (negative user_id) add no values
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val src = MemoryStream[Streams.Event]
    val q = Streams.dailyValueSketchStream(src.toDS(), 0.01, "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_vsk").start()
    // 9 decades, a zero, a negative, and a duplicate — split shuffled
    src.addData(
      Streams.Event(1L, ts(10, 1), 12345.678),
      Streams.Event(2L, ts(10, 2), 0.0001),
      Streams.Event(3L, ts(10, 3), -42.5))
    q.processAllAvailable()
    src.addData(
      Streams.Event(4L, ts(10, 4), 0.0),
      Streams.Event(5L, ts(10, 5), 12345.678),
      Streams.Event(6L, ts(10, 6), 9.9e8))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("daily_vsk")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batch = Seq(12345.678, 0.0001, -42.5, 0.0, 12345.678, 9.9e8).toDF("v")
      .agg(graft.functions.Dds.dds_sketch($"v", 0.01))
      .head().getAs[Array[Byte]](0)
    assert(streamed.toSeq === batch.toSeq)
    // the streamed bytes answer quantiles via the per-row scalar
    val p50 = Seq(Tuple1(streamed)).toDF("sk")
      .select(graft.functions.Dds.dds_quantile_of($"sk", 0.5))
      .head().getDouble(0)
    // rank ceil(0.5*6)=3 of [-42.5, 0, 0.0001, 12345.678, 12345.678, 9.9e8]
    assert(math.abs(p50 - 0.0001) <= 0.01 * 0.0001 * 1.000001)
  }

  test("daily HLL and vhist tier streams: flushed bytes identical to batch-built tiers (r12 generic producer)") {
    // the generic (init, add, serialize) producer's two NEW legs must
    // honor the same lambda equivalence as the bitmap/DDSketch legs:
    // shuffled cross-batch arrival + state round-trips flush the SAME
    // canonical bytes the batch INIT aggregate builds
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val big = 1L << 33
    // HLL leg: ids across batches with dups and a sparse 64-bit key
    val srcH = MemoryStream[Streams.Event]
    val qH = Streams.dailyHllSketchStream(srcH.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_hll").start()
    srcH.addData(Streams.Event(7L, ts(10, 1), 0.0),
      Streams.Event(big + 3L, ts(10, 2), 0.0))
    qH.processAllAvailable()
    srcH.addData(Streams.Event(7L, ts(10, 3), 0.0),
      Streams.Event(2L, ts(10, 4), 0.0))
    qH.processAllAvailable()
    srcH.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    qH.processAllAvailable()
    srcH.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    qH.processAllAvailable()
    qH.stop()
    val streamedH = spark.table("daily_hll")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batchH = Seq(7L, big + 3L, 7L, 2L).toDF("user_id")
      .agg(graft.functions.Hll.hll_sketch($"user_id"))
      .head().getAs[Array[Byte]](0)
    assert(streamedH.toSeq === batchH.toSeq)
    // 3 distinct keys: linear counting is exact at this range
    val estH = Seq(Tuple1(streamedH)).toDF("sk")
      .agg(graft.functions.Hll.hll_merge_count($"sk")).head().getLong(0)
    assert(estH === 3L)
    // vhist leg: cents pre-bucketing pinned in the streaming add
    val srcV = MemoryStream[Streams.Event]
    val qV = Streams.dailyVhistSketchStream(srcV.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_vhist").start()
    srcV.addData(Streams.Event(1L, ts(10, 1), 12.345),
      Streams.Event(2L, ts(10, 2), -0.011)) // floor(-1.1) = -2 cents
    qV.processAllAvailable()
    srcV.addData(Streams.Event(3L, ts(10, 3), 12.345),
      Streams.Event(4L, ts(10, 4), 700.0))
    qV.processAllAvailable()
    srcV.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    qV.processAllAvailable()
    srcV.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    qV.processAllAvailable()
    qV.stop()
    val streamedV = spark.table("daily_vhist")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batchV = Seq(12.345, -0.011, 12.345, 700.0).toDF("v")
      .agg(graft.functions.Vhist.vhist_sketch(floor($"v" * 100)))
      .head().getAs[Array[Byte]](0)
    assert(streamedV.toSeq === batchV.toSeq)
    // exact P50 off the streamed bytes: rank ceil(0.5*4)=2 of
    // [-2, 1234, 1234, 70000] cents = 1234
    val p50 = Seq(Tuple1(streamedV)).toDF("sk")
      .agg(graft.functions.Vhist.vhist_merge_quantile($"sk", 0.5))
      .head().getLong(0)
    assert(p50 === 1234L)
  }

  test("daily distinct stream: sparse 64-bit user ids are legal state keys (r10 Bitmap64)") {
    // the r9 state capped ids at the dense int domain and FAILED on a
    // snowflake-scale id; the compressed-bitmap state must count them
    // exactly (each id lands in its own array container)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val big = 1L << 33
    val src = MemoryStream[Streams.Event]
    val q = Streams.dailyDistinctStream(src.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_sparse").start()
    src.addData(
      Streams.Event(big + 5L, ts(10, 1), 0.0),
      Streams.Event(big * 7L, ts(10, 2), 0.0),
      Streams.Event(big + 5L, ts(10, 3), 0.0), // dup
      Streams.Event(Long.MaxValue - 1L, ts(10, 4), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("daily_sparse")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(10L -> 3L))
  }

  test("daily KMV and CMS tier streams: flushed bytes identical to batch-built tiers (r13, the last two legs)") {
    // the generic producer's final two legs (e25/e26) honor the same
    // lambda equivalence: shuffled cross-batch arrival + state
    // round-trips flush the SAME canonical bytes the batch INIT
    // aggregate builds over user-id STRINGS
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    // KMV leg: dups across batches, k = 4 so the bounded insert evicts
    val srcK = MemoryStream[Streams.Event]
    val qK = Streams.dailyKmvSketchStream(srcK.toDS(), k = 4, "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_kmv").start()
    srcK.addData(Streams.Event(7L, ts(10, 1), 0.0),
      Streams.Event(901L, ts(10, 2), 0.0),
      Streams.Event(7L, ts(10, 3), 0.0))
    qK.processAllAvailable()
    srcK.addData(Streams.Event(2L, ts(10, 4), 0.0),
      Streams.Event(445L, ts(10, 5), 0.0),
      Streams.Event(88L, ts(10, 6), 0.0),
      Streams.Event(901L, ts(10, 7), 0.0))
    qK.processAllAvailable()
    srcK.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    qK.processAllAvailable()
    srcK.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    qK.processAllAvailable()
    qK.stop()
    val streamedK = spark.table("daily_kmv")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batchK = Seq(7L, 901L, 7L, 2L, 445L, 88L, 901L).toDF("user_id")
      .agg(graft.functions.Kmv.kmv_sketch($"user_id".cast("string"), 4))
      .head().getAs[Array[Byte]](0)
    assert(streamedK.toSeq === batchK.toSeq)
    // 5 distinct keys > k=4: the estimate regime engaged, read back
    val estK = Seq(Tuple1(streamedK)).toDF("sk")
      .select(graft.functions.Kmv.kmv_estimate($"sk")).head().getLong(0)
    assert(estK >= 1L) // exact value pinned by the e25 oracle; here: it reads
    // CMS leg: occurrence counts (not distinct) across batches
    val srcC = MemoryStream[Streams.Event]
    val qC = Streams.dailyCmsSketchStream(srcC.toDS(), "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_cms").start()
    srcC.addData(Streams.Event(7L, ts(10, 1), 0.0),
      Streams.Event(901L, ts(10, 2), 0.0))
    qC.processAllAvailable()
    srcC.addData(Streams.Event(7L, ts(10, 3), 0.0),
      Streams.Event(7L, ts(10, 4), 0.0))
    qC.processAllAvailable()
    srcC.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
    qC.processAllAvailable()
    srcC.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    qC.processAllAvailable()
    qC.stop()
    val streamedC = spark.table("daily_cms")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batchC = Seq(7L, 901L, 7L, 7L).toDF("user_id")
      .agg(graft.functions.Cms.cms_sketch($"user_id".cast("string")))
      .head().getAs[Array[Byte]](0)
    assert(streamedC.toSeq === batchC.toSeq)
    // the streamed bytes answer frequency reads: "7" appeared 3 times
    val est7 = Seq(Tuple1(streamedC)).toDF("sk")
      .select(graft.functions.Cms.cms_est($"sk", lit("7"))).head().getLong(0)
    assert(est7 >= 3L) // >= by the CMS one-sided guarantee; exact in the e26 gate
  }

  test("daily CODED tier stream: tagged bytes identical to the batch coded tier; un-coded key fails loud (r13 e27)") {
    // the seventh and last tier producer: dictionary codes ride a
    // stream-static join, the lineage id rides IN the flushed bytes,
    // and a streamed key outside the dictionary must RAISE (an inner
    // join would silently undercount instead)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val CB = graft.functions.CodedBitmap
    val D = graft.operators.Dictionary
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val (_, dict) = D.encode(Seq("7", "901", "2").toDF("k"), "k", "code")
    val dictId = dict.select(col(D.IdCol)).distinct().as[Long].head()
    val src = MemoryStream[Streams.Event]
    val q = Streams.dailyCodedSketchStream(src.toDS(), dict, "k", "code",
      dictId, "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_coded").start()
    src.addData(Streams.Event(7L, ts(10, 1), 0.0),
      Streams.Event(901L, ts(10, 2), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(7L, ts(10, 3), 0.0), // dup across batches
      Streams.Event(2L, ts(10, 4), 0.0))
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 0), 0.0)) // sentinel: uncoded
    q.processAllAvailable()
    src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("daily_coded")
      .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
    val batch = Seq(7L, 901L, 7L, 2L).toDF("user_id")
      .withColumn("k", $"user_id".cast("string")).join(dict, "k")
      .agg(CB.bitmap_sketch_coded($"code", col(D.IdCol)))
      .head().getAs[Array[Byte]](0)
    assert(streamed.toSeq === batch.toSeq,
      "streamed coded bytes differ from the batch coded tier")
    // the id survived the stream and the bytes answer lineage-checked reads
    val row = Seq(Tuple1(streamed)).toDF("sk")
      .select(CB.bitmap_and_count_coded($"sk", $"sk"),
        CB.bitmap_dict_id_coded($"sk")).head()
    assert(row.getLong(0) === 3L)
    assert(row.getLong(1) === dictId)
    // fail-loud: a key the dictionary never saw kills the query with
    // the extend-the-lineage message, never a silent drop
    val srcBad = MemoryStream[Streams.Event]
    val qBad = Streams.dailyCodedSketchStream(srcBad.toDS(), dict, "k", "code",
      dictId, "30 minutes").writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
      .format("memory").queryName("daily_coded_bad").start()
    srcBad.addData(Streams.Event(999L, ts(10, 1), 0.0))
    val ex = intercept[Exception] { qBad.processAllAvailable() }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(c => c.getMessage != null &&
      c.getMessage.contains("not in the dictionary")),
      s"expected the un-coded-key message in: ${causes(ex).map(_.getMessage)}")
    qBad.stop()
  }

  test("CHAOS: daily-tier parity holds on a deliberately contended host (r13 verdict 7a)") {
    // the e-family is the one gate surface whose execution interleaves
    // with wall-clock (micro-batch drains, state round-trips) - this
    // pins that CORRECTNESS never depends on timing: with every core
    // oversubscribed by busy-spin threads, the flushed bytes must
    // still be byte-identical to the batch tier. Latency may move;
    // bytes may not.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val day = 86400000L
    def ts(d: Long, h: Long) = new Timestamp(d * day + h * 3600000L)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val burners = (1 to Runtime.getRuntime.availableProcessors()).map { _ =>
      val t = new Thread(() => {
        var x = 1L
        while (!stop.get()) { x = x * 6364136223846793005L + 1442695040888963407L }
        if (x == 42L) println("") // keep the loop alive
      })
      t.setDaemon(true); t.start(); t
    }
    try {
      val src = MemoryStream[Streams.Event]
      val q = Streams.dailySketchStream(src.toDS(), "30 minutes").writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .format("memory").queryName("daily_chaos").start()
      // many small batches maximize drain/timing interleavings
      val keys = (1 to 40).map(i => (i * 2654435761L) % 100000L)
      keys.grouped(3).zipWithIndex.foreach { case (g, i) =>
        src.addData(g.map(k => Streams.Event(k, ts(10, (i % 20).toLong), 0.0)): _*)
        q.processAllAvailable()
      }
      src.addData(Streams.Event(-1L, ts(1000, 0), 0.0))
      q.processAllAvailable()
      src.addData(Streams.Event(-1L, ts(1000, 1), 0.0))
      q.processAllAvailable()
      q.stop()
      val streamed = spark.table("daily_chaos")
        .filter($"day" === 10L).head().getAs[Array[Byte]]("sketch")
      val batch = keys.toDF("user_id")
        .agg(graft.functions.BitmapDistinct.bitmap_sketch($"user_id"))
        .head().getAs[Array[Byte]](0)
      assert(streamed.toSeq === batch.toSeq,
        "contention changed the flushed sketch bytes - drain-timing dependence")
    } finally {
      stop.set(true)
      burners.foreach(_.join(2000))
    }
  }
}
