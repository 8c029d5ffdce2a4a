package graft

import org.apache.spark.sql.{Dataset, Encoder}
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingEvents

/** Streaming smoke: the file-source stream over the testdata events
  * drives the watermarked hourly aggregate through a memory sink, and
  * its totals agree with the batch twin.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SharedSpark.spark

  test("watermarked hourly counts over a file-source stream match batch") {
    // file stream sources need a directory: stage the single parquet file
    val streamDir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      streamDir.resolve("part-00000.parquet"))
    val stream = StreamingEvents.readEventStream(spark, streamDir.toString)
    val agg = StreamingEvents.hourlyCounts(stream)
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("hourly_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.sql(
        "SELECT CAST(SUM(n_events) AS BIGINT) FROM hourly_out").head.getLong(0)
      val batch = graft.operators.Events.tumblingHourly(spark, "/root/testdata/sf0.001")
        .agg(org.apache.spark.sql.functions.sum("n_events")).head.getLong(0)
      assert(streamed === batch)
      assert(streamed === 1000L)
    } finally q.stop()
  }

  /** Shared by the default-backend and RocksDB dedup tests: stage the
    * events file as a stream, run the watermarked dedup to a memory
    * sink, assert against the batch distinct count.
    */
  private def runDedupStream(queryName: String): Unit = {
    val streamDir = java.nio.file.Files.createTempDirectory(s"graft-$queryName")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      streamDir.resolve("part-00000.parquet"))
    val stream = StreamingEvents.readEventStream(spark, streamDir.toString)
    val q = StreamingEvents.dedupWithinWatermark(stream)
      .writeStream.outputMode("append")
      .format("memory").queryName(queryName).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table(queryName).count()
      val batch = graft.Tables.load(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type").distinct().count()
      assert(streamed === batch)
    } finally q.stop()
  }

  test("watermarked streaming dedup matches batch distinct count") {
    runDedupStream("dedup_out")
  }

  test("streaming dedup runs on the RocksDB state store backend") {
    // at 100 TB/day the HDFS-backed in-memory state store OOMs; the
    // spill-to-disk RocksDB provider is the production backend — prove
    // the watermarked dedup state machine is backend-portable
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try runDedupStream("rocks_dedup_out")
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("kafka-shaped records parse, drop poison pills, drive the aggregate") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    // payloads arrive as the broker record contract: binary value +
    // (topic, partition, offset, timestamp) metadata
    val records = input.toDF().select(
      lit(null).cast("binary").as("key"),
      col("value").cast("binary").as("value"),
      lit("events").as("topic"), lit(0).as("partition"),
      lit(0L).as("offset"), current_timestamp().as("timestamp"))
    val agg = StreamingEvents.hourlyCounts(graft.streaming.KafkaShaped.parseEvents(records))
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("kafka_out").start()
    try {
      input.addData(
        """{"event_id":1,"user_id":10,"event_type":"click","value":1.0,"ts_ms":3600000}""",
        """{"event_id":2,"user_id":11,"event_type":"click","value":2.0,"ts_ms":3700000}""",
        """{"event_id":3,"user_id":12,"event_type":"buy","value":9.0,"ts_ms":7300000}""",
        "not json at all") // poison pill: must be dropped, not crash
      q.processAllAvailable()
      val rows = spark.sql(
        "SELECT event_type, n_events, sum_value FROM kafka_out ORDER BY event_type")
        .as[(String, Long, Double)].collect().toSeq
      assert(rows === Seq(("buy", 1L, 9.0), ("click", 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming CDC apply: tombstones, versions, and replay idempotency") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long, Long)]
    val df = input.toDF().toDF("k", "v", "op", "ver", "seq")
    val dest = java.nio.file.Files.createTempDirectory("graft-scdc").toString + "/snap"
    val q = graft.streaming.StreamingCdc.cdcStream(
      df, dest, Seq("k"), "op", "ver", seqCol = Some("seq"))
    try {
      // batch 1 bootstraps: inserts + an in-batch same-version pair
      // resolved by the seq tiebreak
      input.addData(
        (1L, "a", "I", 1L, 10L),
        (2L, "b-early", "U", 5L, 20L),
        (2L, "b-late", "U", 5L, 21L))
      q.processAllAvailable()
      val boot = spark.read.parquet(dest).as[(Long, String, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(boot === Seq((1L, "a", 1L), (2L, "b-late", 5L)))
      // batch 2: delete key 1, update key 2, insert key 3
      val b2 = Seq(
        (1L, "x", "D", 2L, 30L),
        (2L, "b2", "U", 6L, 31L),
        (3L, "c", "I", 1L, 32L))
      input.addData(b2: _*)
      q.processAllAvailable()
      val after = spark.read.parquet(dest).as[(Long, String, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(after === Seq((2L, "b2", 6L), (3L, "c", 1L)))
      // replay the SAME batch (the recovery contract): snapshot unchanged
      input.addData(b2: _*)
      q.processAllAvailable()
      val replayed = spark.read.parquet(dest).as[(Long, String, Long)]
        .collect().toSeq.sortBy(_._1)
      assert(replayed === after)
    } finally q.stop()
  }

  test("streaming micro-batches merge into the date-partitioned destination") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, java.sql.Timestamp, Long, String, Double, String, Int)]
    val df = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "__v")
    val dest = java.nio.file.Files.createTempDirectory("graft-smerge").toString + "/events"
    val q = graft.streaming.StreamingMerge.mergeStream(
      df, dest, Seq("event_id"), "ts", "__v")
    try {
      // batch 1 bootstraps the destination — including last-writer-wins
      // dedup of an in-batch key duplicate (__v 0 loses to __v 1)
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 7.0, "{}", 0),
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0, "{}", 1),
        (2L, ts("2024-01-02 10:00:00"), 1L, "buy", 2.0, "{}", 1))
      q.processAllAvailable()
      val boot = spark.read.parquet(dest)
      assert(boot.count() === 2)
      assert(boot.filter($"event_id" === 1L).select($"value").as[Double].head() === 1.0)
      // batch 2: update event 1 in place, insert event 3 on a new day
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 99.0, "{}", 1),
        (3L, ts("2024-03-05 00:00:00"), 2L, "signup", 3.0, "{}", 1))
      q.processAllAvailable()
      val out = spark.read.parquet(dest)
      assert(out.count() === 3)
      assert(out.filter($"event_id" === 1L).select($"value").as[Double].head() === 99.0)
      assert(out.filter($"event_id" === 3L).count() === 1)
      val image = out.orderBy($"event_id").collect().map(_.toString).toSeq
      // replay the same batch (the foreachBatch recovery scenario):
      // last-writer-wins merge must be idempotent — same post-image
      input.addData(
        (1L, ts("2024-01-01 10:00:00"), 1L, "click", 99.0, "{}", 1),
        (3L, ts("2024-03-05 00:00:00"), 2L, "signup", 3.0, "{}", 1))
      q.processAllAvailable()
      val replayed = spark.read.parquet(dest)
        .orderBy($"event_id").collect().map(_.toString).toSeq
      assert(replayed === image)
    } finally q.stop()
  }

  test("streaming ordered analytics matches the batch window twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the same crafted events as the batch boundary test: ts tie on
    // user 1 (event_id tiebreak), single-event user 2
    val rows = Seq(
      (1L, 1000L, 1L, "click", 1.5, "{}"),
      (2L, 4000L, 1L, "view", 2.25, "{}"),
      (3L, 4000L, 1L, "buy", 0.25, "{}"),
      (4L, 9000L, 2L, "click", 3.0, "{}"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sord").toString
    rows.map { case (e, ts, u, t, v, p) => (e, new java.sql.Timestamp(ts), u, t, v, p) }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.windowAnalytics(spark, dir)
      .select($"user_id", $"event_id", $"seq", $"gap_ms", $"running_value")
      .as[(Long, Long, Int, Option[Long], Double)].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamingEvents.SessionInput]
    val q = StreamingEvents.orderedAnalytics(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ordered_out").start()
    try {
      // split across micro-batches so state carries the frontier
      input.addData(
        StreamingEvents.SessionInput(1L, 1L, 1000L, 1.5),
        StreamingEvents.SessionInput(1L, 2L, 4000L, 2.25))
      q.processAllAvailable()
      input.addData(
        StreamingEvents.SessionInput(1L, 3L, 4000L, 0.25),
        StreamingEvents.SessionInput(2L, 4L, 9000L, 3.0))
      q.processAllAvailable()
      val streamed = spark.table("ordered_out")
        .select($"user_id", $"event_id", $"seq", $"gap_ms", $"running_value")
        .as[(Long, Long, Int, Option[Long], Double)].collect().toSeq
        .sortBy(r => (r._1, r._3))
      assert(streamed === batch)
      // late events are dropped, not re-sequenced: below the frontier
      // ts AND at the frontier ts with a lower event_id (the batch
      // tiebreak would have placed it EARLIER — emitting it now would
      // diverge from the batch order)
      input.addData(
        StreamingEvents.SessionInput(1L, 9L, 500L, 7.0),
        StreamingEvents.SessionInput(1L, 0L, 4000L, 7.0))
      q.processAllAvailable()
      assert(spark.table("ordered_out").count() === 4)
    } finally q.stop()
  }

  test("streaming last-touch attribution matches the batch q91 rollup") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingAttribution.{Attribution, TouchInput}
    // u1: view -> purchase -> click -> purchase; u2: direct purchase;
    // u1's error event must not become a channel
    val rows = Seq(
      (1L, 1000L, 1L, "view", 0.0), (2L, 2000L, 1L, "purchase", 10.0),
      (3L, 3000L, 1L, "error", 0.0), (4L, 4000L, 1L, "click", 0.0),
      (5L, 5000L, 1L, "purchase", 20.0),
      (6L, 1000L, 2L, "purchase", 5.0))
    val dir = java.nio.file.Files.createTempDirectory("graft-sattr").toString
    rows.map { case (e, ts, u, t, v) => (e, new java.sql.Timestamp(ts), u, t, v, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.lastTouchAttribution(spark, dir)
      .as[(String, Long, Double)].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[TouchInput]
    val q = graft.streaming.StreamingAttribution.attribute(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    try {
      // split so the touch state must survive a micro-batch boundary
      input.addData(
        TouchInput(1L, 1L, 1000L, "view", 0.0),
        TouchInput(1L, 2L, 2000L, "purchase", 10.0),
        TouchInput(1L, 3L, 3000L, "error", 0.0))
      q.processAllAvailable()
      input.addData(
        TouchInput(1L, 4L, 4000L, "click", 0.0),
        TouchInput(1L, 5L, 5000L, "purchase", 20.0),
        TouchInput(2L, 6L, 1000L, "purchase", 5.0))
      q.processAllAvailable()
      val streamedAgg = spark.table("attr_out").as[Attribution].collect().toSeq
        .groupBy(_.channel).map { case (c, as) =>
          (c, as.length.toLong, as.map(_.value).sum) }
        .toSeq.sortBy(_._1)
      assert(streamedAgg === batch)
      // a late purchase (below the frontier) is dropped, not re-attributed
      input.addData(TouchInput(1L, 0L, 500L, "purchase", 99.0))
      q.processAllAvailable()
      assert(spark.table("attr_out").count() === 3)
    } finally q.stop()
  }

  test("streaming LOCF gap-fill matches the batch q194 grid row-for-row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingGapFill.{DayInput, FillOut}
    // the q194 spec fixture: user 1 days 10 (sum 2.5) and 13, user 2
    // day 5 — batch grid = 5 rows with two carried gap days
    val dir = java.nio.file.Files.createTempDirectory("graft-slocf").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    Seq((1L, ts(10), 1L, "click", 1.0, "{}"),
        (2L, ts(10), 1L, "click", 1.5, "{}"),
        (3L, ts(13), 1L, "purchase", 4.0, "{}"),
        (4L, ts(5), 2L, "click", 7.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Temporal.gapFillLocf(spark, dir)
      .as[(Long, Long, Double, Boolean, Long)].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DayInput]
    val q = graft.streaming.StreamingGapFill.fill(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("locf_out").start()
    try {
      // batch boundary between the observations: the carry state must
      // survive it (the gap rows for days 11-12 emit in micro-batch 2)
      input.addData(DayInput(1L, 10L, 2.5), DayInput(2L, 5L, 7.0))
      q.processAllAvailable()
      input.addData(DayInput(1L, 13L, 4.0))
      q.processAllAvailable()
      val streamed = spark.table("locf_out").as[FillOut].collect().toSeq
        .map(f => (f.user_id, f.day, f.v_filled, f.is_observed, f.gap_age))
        .sortBy(r => (r._1, r._2))
      assert(streamed === batch)
      // a duplicate day is dropped, not re-emitted
      input.addData(DayInput(1L, 13L, 99.0))
      q.processAllAvailable()
      assert(spark.table("locf_out").count() === 5)
    } finally q.stop()
  }

  test("stateful sessionization emits closed sessions, keeps open ones in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamingEvents.SessionInput]
    val gapMs = 1000L
    // idleTimeout off: wall-clock timeouts would race the assertions
    val sessions = StreamingEvents.sessionize(input.toDS(), gapMs, idleTimeout = false)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    try {
      // batch 1: two events in one session, then a gap-crossing event
      input.addData(
        StreamingEvents.SessionInput(1L, 1L, 0L, 1.0),
        StreamingEvents.SessionInput(1L, 2L, 500L, 2.0))
      q.processAllAvailable()
      assert(spark.table("sessions_out").count() === 0) // still open

      input.addData(StreamingEvents.SessionInput(1L, 3L, 5000L, 4.0))
      q.processAllAvailable()
      val closed = spark.table("sessions_out")
        .as[StreamingEvents.SessionOut].collect().toSeq
      assert(closed === Seq(StreamingEvents.SessionOut(1L, 0L, 500L, 2L, 3.0)))
    } finally q.stop()
  }

  test("streaming session trigrams match the batch q132 multiset") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPaths.{PathInput, PathOut}
    // same fixture shape as the batch sessionPaths spec: u1 has two
    // sessions (4-event, then 3-event past the 30-min gap), u2 too short
    val rows = Seq(
      (1L, 1000L, 1L, "view"), (2L, 2000L, 1L, "click"),
      (3L, 3000L, 1L, "view"), (4L, 4000L, 1L, "click"),
      (5L, 4000000L, 1L, "view"), (6L, 4001000L, 1L, "click"),
      (7L, 4002000L, 1L, "purchase"),
      (8L, 1000L, 2L, "view"), (9L, 2000L, 2L, "click"))
    val dir = java.nio.file.Files.createTempDirectory("graft-spaths").toString
    rows.map { case (id, ms, user, typ) =>
      (id, new java.sql.Timestamp(ms), user, typ, 0.0, "{}") }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.sessionPaths(spark, dir)
      .select($"e1", $"e2", $"e3", $"support")
      .as[(String, String, String, Long)].collect().toSeq.sortBy(identity)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[PathInput]
    val q = graft.streaming.StreamingPaths.sessionTrigrams(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("paths_out").start()
    try {
      // split mid-session across micro-batches so the predecessor pair
      // must survive in state
      input.addData(rows.take(3).map { case (id, ms, u, t) =>
        PathInput(u, id, ms, t) }: _*)
      q.processAllAvailable()
      input.addData(rows.drop(3).map { case (id, ms, u, t) =>
        PathInput(u, id, ms, t) }: _*)
      q.processAllAvailable()
      val streamed = spark.table("paths_out").as[PathOut].collect().toSeq
        .groupBy(p => (p.e1, p.e2, p.e3)).view
        .map { case ((a, b, c), v) => (a, b, c, v.size.toLong) }
        .toSeq.sortBy(identity)
      assert(streamed === batch)
      // a late event below the frontier adds nothing
      input.addData(PathInput(1L, 0L, 500L, "view"))
      q.processAllAvailable()
      assert(spark.table("paths_out").count() === streamed.map(_._4).sum)
    } finally q.stop()
  }

  test("streaming EWMA chart matches batch q173 v/ewma/dev across a batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEwma.{DailyInput, EwmaOut}
    // fixture: one type, daily totals 10, 20, 5, 20 -> the batch chart
    // folds ewma (v + 4*prev) div 5 in e6 units
    val dir = java.nio.file.Files.createTempDirectory("graft-sewma").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    Seq((1L, ts(0), 1L, "m", 10.0, "{}"), (2L, ts(1), 1L, "m", 20.0, "{}"),
        (3L, ts(2), 1L, "m", 5.0, "{}"), (4L, ts(3), 1L, "m", 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.ewmaControl(spark, dir)
      .select($"event_type", $"day", $"v", $"ewma", $"dev")
      .as[(String, Long, Double, Double, Option[Double])].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyInput]
    val q = graft.streaming.StreamingEwma.chart(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("ewma_out").start()
    try {
      // batch boundary mid-series: the EWMA state must carry across
      input.addData(DailyInput("m", 0L, 10000000L), DailyInput("m", 1L, 20000000L))
      q.processAllAvailable()
      input.addData(DailyInput("m", 2L, 5000000L), DailyInput("m", 3L, 20000000L))
      q.processAllAvailable()
      val streamed = spark.table("ewma_out").as[EwmaOut].collect().toSeq
        .sortBy(_.day)
        .map(r => (r.event_type, r.day, r.v_e6 / 1e6, r.ewma_e6 / 1e6,
          r.dev_e6.map(_ / 1e6)))
      assert(streamed === batch)
      // running alert: day 2's |dev| (13) vs running mean |dev|
      // ((6+13)/2=9.5): 13*2 > 19*3 is false -> 0; duplicate day dropped
      val alerts = spark.table("ewma_out").as[EwmaOut].collect().toSeq
        .sortBy(_.day).map(_.alert_running)
      assert(alerts === Seq(None, Some(0), Some(0), Some(0)))
      input.addData(DailyInput("m", 3L, 99L))
      q.processAllAvailable()
      assert(spark.table("ewma_out").count() === 4)
    } finally q.stop()
  }

  test("streaming CUSUM chart matches batch q364 across a batch boundary; uncalibrated types drop") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingCusum.{DailyInput, CusumOut}
    // fixture: one type, daily totals 10, 20, 5, 20 -> batch stats
    // mu = 55e6 div 4, d = mean |dev| (both integer floor-divisions)
    val dir = java.nio.file.Files.createTempDirectory("graft-scusum").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    Seq((1L, ts(0), 1L, "m", 10.0, "{}"), (2L, ts(1), 1L, "m", 20.0, "{}"),
        (3L, ts(2), 1L, "m", 5.0, "{}"), (4L, ts(3), 1L, "m", 20.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.cusumChart(spark, dir)
      .select($"event_type", $"day", $"v", $"s_hi", $"s_lo", $"is_alert")
      .as[(String, Long, Double, Double, Double, Int)].collect().toSeq
    // calibration = the batch stats, exactly as q364 derives them
    val vs = Seq(10000000L, 20000000L, 5000000L, 20000000L)
    val mu = vs.sum / vs.length
    val d = vs.map(v => math.abs(v - mu)).sum / vs.length

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyInput]
    val q = graft.streaming.StreamingCusum
      .chart(input.toDS(), Map("m" -> ((mu, d))))
      .writeStream.outputMode("append").format("memory")
      .queryName("cusum_out").start()
    try {
      // batch boundary mid-series: both accumulators must carry across
      input.addData(DailyInput("m", 0L, vs(0)), DailyInput("m", 1L, vs(1)))
      q.processAllAvailable()
      input.addData(DailyInput("m", 2L, vs(2)), DailyInput("m", 3L, vs(3)),
        DailyInput("zzz_uncalibrated", 0L, 1L))
      q.processAllAvailable()
      val streamed = spark.table("cusum_out").as[CusumOut].collect().toSeq
        .sortBy(_.day)
        .map(r => (r.event_type, r.day, r.v_e6 / 1e6, r.s_hi / 1e6,
          r.s_lo / 1e6, r.is_alert))
      assert(streamed === batch)
      // duplicate day dropped; uncalibrated type never emitted
      input.addData(DailyInput("m", 3L, 99L))
      q.processAllAvailable()
      assert(spark.table("cusum_out").count() === 4)
    } finally q.stop()
  }

  test("streaming Page-Hinkley folds to the batch q432 summary across a batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPageHinkley.{DailyInput, PhOut}
    // fixture: 10 gapless days with a level shift at day 5 — one event
    // per (day, count) unit so the batch daily counts equal `vs`
    val vs = Seq(3L, 4L, 3L, 4L, 3L, 9L, 10L, 9L, 10L, 9L)
    val dir = java.nio.file.Files.createTempDirectory("graft-sph").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    vs.zipWithIndex.flatMap { case (v, d) =>
      (1L to v).map(i => (d * 100L + i, ts(d.toLong), 1L, "m", 1.0, "{}"))
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.pageHinkley(spark, dir)
      .select($"event_type", $"n_days", $"lambda", $"max_ph", $"alarm_day")
      .as[(String, Long, Double, Double, Option[Long])].collect().head
    assert(batch._2 === 10L)

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyInput]
    val q = graft.streaming.StreamingPageHinkley
      .detect(input.toDS(), Map("m" -> batch._3))
      .writeStream.outputMode("append").format("memory")
      .queryName("ph_out").start()
    try {
      // boundary mid-series: prefix mean, m and runmin must carry over
      input.addData(vs.take(4).zipWithIndex.map { case (v, d) =>
        DailyInput("m", d.toLong, v) }: _*)
      q.processAllAvailable()
      input.addData(vs.drop(4).zipWithIndex.map { case (v, d) =>
        DailyInput("m", (d + 4).toLong, v) }: _*)
      input.addData(DailyInput("zzz_uncalibrated", 0L, 1L))
      q.processAllAvailable()
      val rows = spark.table("ph_out").as[PhOut].collect().toSeq
        .sortBy(_.day)
      assert(rows.size === 10)
      // the streamed per-day fold reproduces the batch summary exactly
      assert(rows.map(_.ph).max === batch._4)
      assert(rows.find(_.is_alarm === 1).map(_.day) === batch._5)
      // duplicate day dropped
      input.addData(DailyInput("m", 9L, 99L))
      q.processAllAvailable()
      assert(spark.table("ph_out").count() === 10)
    } finally q.stop()
  }

  test("streaming pinball losses aggregate to the batch q369 relation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingPinball.{DailyInput, PbOut}
    // 35 consecutive days, one event per day, values 1..35: the batch
    // relation scores days 29..35 against the trailing-28 quantiles
    val dir = java.nio.file.Files.createTempDirectory("graft-spin").toString
    def ts(d: Long) = new java.sql.Timestamp(d * 86400000L)
    (1 to 35).map(d => (d.toLong, ts(d - 1), 1L, "m", d.toDouble, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.pinballBacktest(spark, dir)
      .select($"event_type", $"quantile", $"n_days", $"mean_pinball",
        $"coverage")
      .as[(String, Double, Long, Double, Double)].collect().toSeq.sorted

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[DailyInput]
    val q = graft.streaming.StreamingPinball.losses(input.toDS())
      .writeStream.outputMode("append").format("memory")
      .queryName("pb_out").start()
    val streamed = try {
      // batch boundary mid-series: the 28-slot history must carry
      input.addData((0 until 30).map(d =>
        DailyInput("m", d.toLong, (d + 1).toDouble)): _*)
      q.processAllAvailable()
      input.addData((30 until 35).map(d =>
        DailyInput("m", d.toLong, (d + 1).toDouble)): _*)
      q.processAllAvailable()
      spark.table("pb_out").as[PbOut].collect().toSeq
    } finally q.stop()
    // aggregate the per-day rows the way the batch relation does
    val agg = streamed.groupBy(r => (r.event_type, r.quantile))
      .map { case ((t, qq), rs) =>
        val n = rs.length.toLong
        val mean = ((rs.map(r => BigDecimal(r.loss)).sum / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP)).toDouble
        val cov = BigDecimal(rs.count(r => r.v <= r.f).toDouble / n)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (t, qq, n, mean, cov)
      }.toSeq.sorted
    assert(agg === batch)
  }

  test("streaming transition pairs match the batch q92 lead() pairs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingTransitions
    import graft.streaming.StreamingTransitions.{TrInput, TrOut}
    // u1's journey crosses the micro-batch boundary mid-stream: the
    // last-event state must carry "view" over to pair with "purchase"
    val batch1 = Seq(
      TrInput(1L, 1L, 0L, "signup"), TrInput(1L, 2L, 10L, "view"),
      TrInput(2L, 3L, 0L, "view"))
    val batch2 = Seq(
      TrInput(1L, 4L, 20L, "purchase"),
      TrInput(2L, 5L, 10L, "error"), TrInput(2L, 6L, 20L, "view"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[TrInput]
    val q = StreamingTransitions.pairs(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName("tr_out").start()
    val streamed = try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      spark.table("tr_out").as[TrOut].collect().toSeq
    } finally q.stop()
    assert(streamed.toSet === Set(
      TrOut(1L, "signup", "view"), TrOut(1L, "view", "purchase"),
      TrOut(2L, "view", "error"), TrOut(2L, "error", "view")))
    // batch q92 over the same events produces the same (from, to, n)
    val dir = java.nio.file.Files.createTempDirectory("graft-tr").toString
    (batch1 ++ batch2)
      .map(e => (e.event_id, new java.sql.Timestamp(e.ts_ms), e.user_id,
        e.event_type, 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batchPairs = graft.operators.Events.eventTransitions(spark, dir)
      .select($"from_type", $"to_type", $"n")
      .as[(String, String, Long)].collect().toSeq.sorted
    val rolled = streamed.groupBy(p => (p.from_type, p.to_type))
      .map { case ((f, t), ps) => (f, t, ps.size.toLong) }.toSeq.sorted
    assert(rolled === batchPairs)
  }

  test("streaming entry/exit sessions match the batch q246 table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingEntryExit
    import graft.streaming.StreamingEntryExit.{EEInput, EEOut}
    val min = 60000L
    // u1: 3-event session (view->purchase), later a 2-event view session
    // crossing the micro-batch boundary; u2: two single-event bounces
    val batch1 = Seq(
      EEInput(1L, 1L, 0L, "view"), EEInput(1L, 2L, 1 * min, "click"),
      EEInput(1L, 3L, 2 * min, "purchase"),
      EEInput(1L, 4L, 60 * min, "view"),
      EEInput(2L, 5L, 0L, "error"))
    val batch2 = Seq(
      EEInput(1L, 6L, 61 * min, "view"),
      EEInput(2L, 7L, 90 * min, "signup"))
    // sentinels open a throwaway session so every REAL session closes
    val sentinels = Seq(EEInput(1L, 98L, 1000 * min, "__end"),
      EEInput(2L, 99L, 1000 * min, "__end"))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[EEInput]
    val out = StreamingEntryExit.sessions(input.toDS(), gapMs = 30 * min,
      idleTimeout = false)
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("ee_out").start()
    val streamed = try {
      input.addData(batch1: _*); q.processAllAvailable()
      input.addData(batch2: _*); q.processAllAvailable()
      input.addData(sentinels: _*); q.processAllAvailable()
      spark.table("ee_out").as[EEOut].collect().toSeq
        .filter(_.entry_type != "__end")
    } finally q.stop()
    assert(streamed.toSet === Set(
      EEOut(1L, "view", "purchase", 3L), EEOut(1L, "view", "view", 2L),
      EEOut(2L, "error", "error", 1L), EEOut(2L, "signup", "signup", 1L)))
    // the batch q246 over the same events agrees on the rollup
    val dir = java.nio.file.Files.createTempDirectory("graft-ee").toString
    (batch1 ++ batch2)
      .map(e => (e.event_id, new java.sql.Timestamp(e.ts_ms), e.user_id,
        e.event_type, 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batchTable = graft.operators.Events.entryExit(spark, dir)
      .as[(String, Long, Long, Double, String, Double)].collect().toSeq
    assert(batchTable === Seq(
      ("error", 1L, 1L, 1.0, "error", 1.0),
      ("signup", 1L, 1L, 1.0, "signup", 1.0),
      ("view", 2L, 0L, 0.0, "purchase", 0.5)))
    // streamed emissions roll up to the same (entry, n_sessions, n_bounce)
    val rolled = streamed.groupBy(_.entry_type).map { case (e, ss) =>
      (e, ss.size.toLong, ss.count(_.n_events == 1L).toLong)
    }.toSeq.sortBy(_._1)
    assert(rolled === batchTable.map(r => (r._1, r._2, r._3)))
  }

  test("streaming as-of enrichment: replay matches the native batch operator") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.StreamRow
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val staticDf = Seq(
      (1L, 90L, 900L), (1L, 100L, 1000L), (1L, 180L, 1800L),
      (2L, 151L, 1510L), (1L, 100L, 1001L)) // tie on (1,100): max id wins
      .toDF("key", "ms", "id")
    val lookup = StreamingAsof.buildLookup(staticDf)
    val rows = Seq(StreamRow(1L, 50L, 1L), StreamRow(1L, 100L, 2L),
      StreamRow(1L, 200L, 3L), StreamRow(2L, 150L, 4L),
      StreamRow(3L, 500L, 5L))
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamRow]
    val q = StreamingAsof.enrich(input.toDS(), lookup)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_out").start()
    try {
      input.addData(rows.take(2): _*); q.processAllAvailable()
      input.addData(rows.drop(2): _*); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM asof_out")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(got === Set(
        (1L, 50L, 1L, None, None),
        (1L, 100L, 2L, Some(100L), Some(1001L)), // tie: max id
        (1L, 200L, 3L, Some(180L), Some(1800L)),
        (2L, 150L, 4L, None, None),
        (3L, 500L, 5L, None, None)))
      // batch twin through the NATIVE operator: same relation (dedup
      // the static tie first, the documented discipline)
      val staticDedup = staticDf.groupBy($"key", $"ms")
        .agg(org.apache.spark.sql.functions.max($"id").as("id"))
      val batch2 = graft.plans.AsofJoinOps.asofJoin(
          rows.toDF(),
          staticDedup.withColumnRenamed("ms", "s_ms"),
          Seq("key"), "ms", "s_ms")
        .select($"key", $"ms", $"row_id", $"s_ms", $"id")
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(batch2 === got)
    } finally q.stop()
  }

  test("streaming as-of tolerance mirrors the batch max-gap: stale matches null out") {
    import graft.streaming.StreamingAsof
    import graft.streaming.StreamingAsof.StreamRow
    import spark.implicits._
    val staticDf = Seq((1L, 100L, 1000L), (1L, 500L, 5000L))
      .toDF("key", "ms", "id")
    val lookup = StreamingAsof.buildLookup(staticDf)
    val rows = Seq(StreamRow(1L, 120L, 1L),   // gap 20: in tolerance
      StreamRow(1L, 400L, 2L),                // gap 300: stale
      StreamRow(1L, 530L, 3L))                // gap 30: boundary inclusive
    val got = StreamingAsof.enrich(rows.toDS(), lookup,
        toleranceMs = Some(30L))
      .collect().map(o => (o.row_id, o.asof_ms, o.asof_id)).toSet
    assert(got === Set(
      (1L, Some(100L), Some(1000L)),
      (2L, None, None),
      (3L, Some(500L), Some(5000L))))
    // no tolerance: the stale match comes back
    val open = StreamingAsof.enrich(rows.toDS(), lookup)
      .collect().map(o => (o.row_id, o.asof_ms)).toSet
    assert(open === Set((1L, Some(100L)), (2L, Some(100L)), (3L, Some(500L))))
  }

  test("streaming as-of lookup guard: an oversized static side fails fast with a pointer to the batch operator") {
    import spark.implicits._
    val staticDf = (1L to 10L).map(i => (i, i * 10L, i * 100L))
      .toDF("key", "ms", "id")
    // within the bound: builds fine
    assert(graft.streaming.StreamingAsof
      .buildLookup(staticDf, maxStaticRows = 10L).size === 10)
    // one row over: refuses to collect, names the distributed operator
    val e = intercept[IllegalArgumentException] {
      graft.streaming.StreamingAsof.buildLookup(staticDf, maxStaticRows = 9L)
    }
    assert(e.getMessage.contains("maxStaticRows"))
    assert(e.getMessage.contains("asofJoin"))
  }

  test("streaming bottom-k sample: replay equals the batch selection at every prefix") {
    import graft.streaming.StreamingBottomK
    import graft.streaming.StreamingBottomK.DocIn
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[DocIn]
    val q = StreamingBottomK.sample(input.toDS(), k = 3)
      .writeStream.outputMode("update")
      .format("memory").queryName("bk_out").start()
    try {
      val b1 = (1L to 10L).map(DocIn(_, "en")) ++
        (11L to 13L).map(DocIn(_, "de"))
      val b2 = (14L to 25L).map(DocIn(_, "en")) ++ Seq(DocIn(26L, "de"))
      def batchPick(docs: Seq[DocIn]): Map[String, Set[Long]] =
        docs.groupBy(_.lang).view.mapValues(
          _.map(d => (StreamingBottomK.hashOf(d.doc_id), d.doc_id))
            .sorted.take(3).map(_._2).toSet).toMap
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val raw = spark.sql(
        "SELECT lang, doc_id, hash, stratum_processed FROM bk_out")
        .as[(String, Long, Long, Long)].collect().toSeq
      // prefix property: batch-1's snapshot is the batch selection
      // over b1 alone; the final snapshot matches b1 ++ b2
      val afterB1 = raw.filter(r => r._4 == b1.count(_.lang == r._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(afterB1 === batchPick(b1))
      val latest = raw.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
      val finalSnap = raw.filter(r => r._4 == latest(r._1))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(finalSnap === batchPick(b1 ++ b2))
      // state bound: never more than k rows per stratum in a snapshot
      finalSnap.values.foreach(s => assert(s.size <= 3))
      // mergeability: bottom-k of unioned samples == union's bottom-k
      val merged = (batchPick(b1)("en") ++ batchPick(b2)("en"))
        .map(id => (StreamingBottomK.hashOf(id), id))
        .toSeq.sorted.take(3).map(_._2).toSet
      assert(merged === batchPick(b1 ++ b2)("en"))
    } finally q.stop()
  }

  test("streaming count-min: never undercounts, exact when collision-free, bounded state") {
    import graft.streaming.StreamingCountMin
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val depth = 4
    val width = 8 // tiny on purpose: batch-2 chaff forces collisions
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val out = StreamingCountMin.sketch(input.toDS(), depth, width)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("cm_out").start()
    try {
      val b1 = Seq.fill(10)("aa") ++ Seq.fill(4)("bb") ++ Seq("cc")
      val b2 = Seq.fill(6)("aa") ++ (1 to 12).map(i => s"chaff$i")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      val raw = spark.sql(
        "SELECT row, col, count, row_processed FROM cm_out")
        .as[(Int, Int, Long, Long)].collect().toSeq
      // current sketch: per (row, col), that CELL's latest emission —
      // Update mode only re-emits touched columns, so a cell quiet in
      // the last batch still carries its batch-1 value
      val latest = raw.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
      val snap = raw.groupBy(r => (r._1, r._2)).view
        .mapValues(rs => rs.maxBy(_._4)._3).toMap
      val all = b1 ++ b2
      val trueCounts = all.groupBy(identity).view.mapValues(_.size.toLong)
      // every row processed every token once; state stays width-bounded
      assert(latest.values.toSet === Set(all.size.toLong))
      raw.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).distinct.size <= width) }
      // CM guarantee: estimates never undercount any token
      trueCounts.foreach { case (tok, t) =>
        val est = StreamingCountMin.estimateJvm(snap, tok, depth, width)
        assert(est >= t, s"$tok underestimated: $est < $t")
        assert(est <= all.size, s"$tok estimate above processed total")
      }
      // replaying the same stream into a wide sketch is collision-free
      // at this vocabulary: estimates are EXACT
      val wide = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
      val w2 = 4096
      val q2 = StreamingCountMin.sketch(wide.toDS(), depth, w2)
        .writeStream.outputMode("update")
        .format("memory").queryName("cm_wide").start()
      try {
        wide.addData(all: _*); q2.processAllAvailable()
        val wraw = spark.sql("SELECT row, col, count, row_processed FROM cm_wide")
          .as[(Int, Int, Long, Long)].collect().toSeq
        val wsnap = wraw.map(r => (r._1, r._2) -> r._3).toMap
        trueCounts.foreach { case (tok, t) =>
          assert(StreamingCountMin.estimateJvm(wsnap, tok, depth, w2) === t)
        }
        // an unseen token reads 0 (all its cells untouched)
        assert(StreamingCountMin.estimateJvm(wsnap, "never-seen", depth, w2) === 0L)
      } finally q2.stop()
    } finally q.stop()
  }

  test("streaming heavy hitters: bounded MG state honors presence and undercount bounds") {
    import graft.streaming.StreamingHeavyHitters
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[String]
    val out = StreamingHeavyHitters.topTokens(input.toDS(), k = 3, nShards = 2)
    val q = out.writeStream.outputMode("update")
      .format("memory").queryName("hh_out").start()
    try {
      // batch 1: hot 'aa' + chaff; batch 2: more hot + fresh chaff --
      // state must carry 'aa' across batches and stay <= k counters
      val b1 = Seq.fill(20)("aa") ++ Seq("b1", "b2", "b3", "b4")
      val b2 = Seq.fill(15)("aa") ++ Seq.fill(8)("cc") ++ Seq("d1", "d2")
      input.addData(b1: _*); q.processAllAvailable()
      input.addData(b2: _*); q.processAllAvailable()
      // latest snapshot per shard: Update-mode sinks keep superseded
      // rows (an evicted token is not retracted), so the CURRENT
      // counter set is exactly the rows carrying the shard's max
      // processed watermark
      val raw = spark.sql(
        "SELECT shard, token, est_count, shard_processed FROM hh_out")
        .as[(Int, String, Long, Long)].collect().toSeq
      val latest = raw.groupBy(_._1).view.mapValues(_.map(_._4).max).toMap
      val snap = raw.filter(r => r._4 == latest(r._1))
      val all = b1 ++ b2
      val trueCounts = all.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val byShard = all.groupBy(t => StreamingHeavyHitters.shardOf(t, 2))
        .view.mapValues(_.size.toLong).toMap
      // per-shard state bound: <= k counters survive
      snap.groupBy(_._1).foreach { case (_, rows) => assert(rows.size <= 3) }
      snap.foreach { case (shard, tok, est, processed) =>
        assert(processed === byShard(shard))
        val t = trueCounts(tok)
        assert(est <= t, s"$tok overestimated: $est > $t")
        assert(t - est <= processed / 4, s"$tok undercount bound broken")
      }
      // MG presence guarantee: count > processed/(k+1) in its shard
      val hot = trueCounts.filter { case (tok, c) =>
        c > byShard(StreamingHeavyHitters.shardOf(tok, 2)) / 4 }
      hot.keys.foreach { tok =>
        assert(snap.exists(_._2 == tok), s"hot token $tok missing") }
    } finally q.stop()
  }

  test("stream-stream interval join: pairs match the batch range join, late clicks drop") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamingIntervalJoin.clicksBeforePurchase(
      clicks.toDF().toDF("c_user", "c_id", "c_ts"),
      purchases.toDF().toDF("p_user", "p_id", "p_ts"),
      windowMs = 60000L, delay = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      // user 1: clicks at 10:00:00 and 10:00:30; purchase at 10:00:50
      //   -> both clicks inside the 60 s window
      // user 2: click at 09:58:00; purchase at 10:00:00 -> outside
      clicks.addData((1L, 101L, ts("2026-01-01 10:00:00")),
        (1L, 102L, ts("2026-01-01 10:00:30")),
        (2L, 201L, ts("2026-01-01 09:58:00")))
      purchases.addData((1L, 11L, ts("2026-01-01 10:00:50")),
        (2L, 21L, ts("2026-01-01 10:00:00")))
      q.processAllAvailable()
      val pairs = spark.sql("SELECT p_id, c_id FROM ssj_out")
        .as[(Long, Long)].collect().toSet
      assert(pairs === Set((11L, 101L), (11L, 102L)))
      // advance both watermarks far ahead, evicting click state
      clicks.addData((9L, 901L, ts("2026-01-01 11:00:00")))
      purchases.addData((9L, 91L, ts("2026-01-01 11:00:00")))
      q.processAllAvailable()
      // a click far behind the watermark targeting an in-window (old)
      // purchase produces nothing: the join state for that region is gone
      clicks.addData((1L, 103L, ts("2026-01-01 10:00:40")))
      q.processAllAvailable()
      val after = spark.sql("SELECT c_id FROM ssj_out").as[Long].collect()
      assert(!after.contains(103L), "late click must be dropped")
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER: the null-padded row waits for the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val purchases = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val joined = graft.streaming.StreamingIntervalJoin.purchasesWithClicks(
      clicks.toDF().toDF("c_user", "c_id", "c_ts"),
      purchases.toDF().toDF("p_user", "p_id", "p_ts"),
      windowMs = 60000L, delay = "10 seconds")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_outer").start()
    try {
      // user 1 purchases with a matching click; user 2 purchases alone
      clicks.addData((1L, 101L, ts("2026-01-01 10:00:40")))
      purchases.addData((1L, 11L, ts("2026-01-01 10:00:50")),
        (2L, 21L, ts("2026-01-01 10:00:50")))
      q.processAllAvailable()
      val early = spark.sql("SELECT p_id, c_id FROM ssj_outer")
        .as[(Long, Option[Long])].collect().toSet
      // the matched pair may emit immediately; the OUTER row for user 2
      // must NOT exist yet — its no-click claim is not yet provable
      assert(early.contains((11L, Some(101L))))
      assert(!early.exists(r => r._1 == 21L))
      // advance both watermarks well past the join window
      clicks.addData((9L, 901L, ts("2026-01-01 11:00:00")))
      purchases.addData((9L, 91L, ts("2026-01-01 11:00:00")))
      q.processAllAvailable()
      clicks.addData((8L, 801L, ts("2026-01-01 11:30:00")))
      purchases.addData((8L, 81L, ts("2026-01-01 11:30:00")))
      q.processAllAvailable()
      val late = spark.sql("SELECT p_id, c_id FROM ssj_outer")
        .as[(Long, Option[Long])].collect().toSet
      assert(late.contains((21L, None)), s"outer row missing: $late")
    } finally q.stop()
  }

  test("streaming forward as-of: first at-or-after match emits at window close; no-match resolves null") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val lefts = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val rights = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long, java.sql.Timestamp)]
    val out = graft.streaming.StreamingForwardAsof.nextMatch(
      lefts.toDF().toDF("l_key", "l_id", "l_ts"),
      rights.toDF().toDF("r_key", "r_id", "r_ts"),
      horizonMs = 60000L, delay = "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("fwd_asof").start()
    try {
      // key 1: left at 10:00:00; rights at 10:00:20 and 10:00:40 —
      //   the EARLIEST at-or-after (id 201, 10:00:20) must win even
      //   though the later right arrives first
      // key 2: left at 10:00:00, no right inside the 60 s horizon
      rights.addData((1L, 202L, ts("2026-01-01 10:00:40")))
      lefts.addData((1L, 11L, ts("2026-01-01 10:00:00")),
        (2L, 21L, ts("2026-01-01 10:00:00")))
      rights.addData((1L, 201L, ts("2026-01-01 10:00:20")),
        (2L, 299L, ts("2026-01-01 10:05:00"))) // past key 2's horizon
      q.processAllAvailable()
      // nothing final yet: the hour window hasn't closed
      assert(spark.sql("SELECT * FROM fwd_asof").count() === 0L)
      // push both watermarks past the 10:00 hour + delay
      lefts.addData((9L, 91L, ts("2026-01-01 11:30:00")))
      rights.addData((9L, 991L, ts("2026-01-01 11:30:00")))
      q.processAllAvailable()
      lefts.addData((8L, 81L, ts("2026-01-01 12:30:00")))
      rights.addData((8L, 881L, ts("2026-01-01 12:30:00")))
      q.processAllAvailable()
      val got = spark.sql("SELECT key, row_id, match_id FROM fwd_asof")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(got.contains((1L, 11L, Some(201L))), s"got $got")
      assert(got.contains((2L, 21L, None)), s"got $got")
      // batch parity on the same resolved rows: the native forward
      // operator picks the same matches (horizon stated as tolerance)
      val l = Seq((1L, 11L, 0L), (2L, 21L, 0L)).toDF("key", "row_id", "ms")
      val r = Seq((1L, 201L, 20000L), (1L, 202L, 40000L),
        (2L, 299L, 300000L)).toDF("key", "match_id", "r_ms")
      val batch = graft.plans.AsofJoinOps.asofJoin(l, r, Seq("key"),
          "ms", "r_ms", direction = "forward", tolerance = Some(60000L))
        .select($"key", $"row_id", $"match_id")
        .as[(Long, Long, Option[Long])].collect().toSet
      assert(batch === got.filter(x => x._1 == 1L || x._1 == 2L))
    } finally q.stop()
  }

  test("streaming burst compaction: closed bursts equal the batch rows; open bursts wait") {
    import graft.streaming.StreamingBurst
    import graft.streaming.StreamingBurst.BurstInput
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the q354 spec fixture: u1/view bursts {0,30s,90s} then {151s};
    // u1/click single; plus a far trailing event per chain so every
    // earlier burst CLOSES deterministically (no processing-time
    // flush in tests)
    val evs = Seq(
      BurstInput(1L, 1L, 0L, "view"), BurstInput(1L, 2L, 30000L, "view"),
      BurstInput(1L, 3L, 90000L, "view"), BurstInput(1L, 4L, 151000L, "view"),
      BurstInput(1L, 5L, 10000L, "click"),
      BurstInput(1L, 6L, 999000L, "view"), BurstInput(1L, 7L, 999000L, "click"))
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[BurstInput]
    val q = StreamingBurst.compact(input.toDS(), gapMs = 60000L,
        idleTimeout = false)
      .writeStream.outputMode("append")
      .format("memory").queryName("burst_out").start()
    try {
      input.addData(evs.take(5): _*); q.processAllAvailable()
      input.addData(evs.drop(5): _*); q.processAllAvailable()
      val got = spark.sql("SELECT * FROM burst_out")
        .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSet
      // batch rows on the SAME events, minus each key's final
      // still-open burst
      val dir = java.nio.file.Files.createTempDirectory("graft-sb").toString
      evs.map(e => (e.event_id, new java.sql.Timestamp(e.ts_ms), e.user_id,
          e.event_type, 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val batch = graft.operators.Events.burstCompaction(spark, dir)
        .as[(Long, String, Long, Long, Long, Long, Long)].collect().toSeq
      val lastStart = batch.groupBy(r => (r._1, r._2))
        .view.mapValues(_.map(_._4).max).toMap
      val closed = batch.filterNot(r => lastStart((r._1, r._2)) == r._4).toSet
      assert(got === closed)
      assert(got.nonEmpty)
      // the island absorption is visible in the stream too: the
      // first view burst spans 0..90s with 2 dropped
      assert(got.contains((1L, "view", 1L, 0L, 90000L, 3L, 2L)))
    } finally q.stop()
  }

  test("streaming content dedup: q25 fingerprint parity, then the horizon FORGETS") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "event_ts")
    val q = graft.streaming.StreamingDedup
      .firstInHorizon(docs, delay = "10 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sdedup_out").start()
    try {
      // b1: doc 3 is doc 1 after whitespace/case normalization —
      // exactly one of the pair may pass
      val b1 = Seq(
        (1L, "hello world", ts("2026-01-01 10:00:00")),
        (2L, "foo bar", ts("2026-01-01 10:00:00")),
        (3L, "  Hello   WORLD ", ts("2026-01-01 10:00:01")))
      input.addData(b1: _*); q.processAllAvailable()
      // b2 inside the horizon: the repeat is suppressed, fresh passes
      input.addData(
        (4L, "hello world", ts("2026-01-01 10:00:05")),
        (5L, "fresh text", ts("2026-01-01 10:00:05")))
      q.processAllAvailable()
      val mid = spark.sql("SELECT doc_id, content_fp FROM sdedup_out")
        .as[(Long, String)].collect().toSeq
      // emitted fingerprints == batch q25's distinct fingerprints
      val batchFps = (b1 :+ ((4L, "hello world", ts("2026-01-01 10:00:05")))
        :+ ((5L, "fresh text", ts("2026-01-01 10:00:05"))))
        .map(_._2).toDF("text")
        .select(graft.functions.TextFunctions.contentFingerprint(col("text")))
        .distinct().as[String].collect().toSet
      assert(mid.map(_._2).toSet === batchFps)
      assert(mid.size === 3) // one per distinct content
      assert(mid.exists(r => r._1 == 1L || r._1 == 3L)) // the 1/3 pair kept once
      assert(!mid.exists(_._1 == 4L)) // in-horizon repeat suppressed
      // advance the watermark far past 10:00 + 10s, evicting the state
      input.addData((6L, "padding doc", ts("2026-01-01 10:10:00")))
      q.processAllAvailable()
      // the SAME content re-sent after eviction re-emits: horizon
      // dedup trades recall beyond the delay for bounded state
      input.addData((7L, "hello world", ts("2026-01-01 10:10:01")))
      q.processAllAvailable()
      val all = spark.sql("SELECT doc_id FROM sdedup_out")
        .as[Long].collect().toSet
      assert(all.contains(7L), "post-eviction duplicate must re-emit")
    } finally q.stop()
  }

  test("streaming Shapley coalition state folds to the batch q466 attribution across a batch boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamingShapley.{EventInput, UserOut}
    // fixture: u1 click+purchase, u2 click+view, u3 view+purchase,
    // u4 error only, u5 click+view+purchase
    val evs = Seq(
      (1L, "click"), (1L, "purchase"),
      (2L, "click"), (2L, "view"),
      (3L, "view"), (3L, "purchase"),
      (4L, "error"),
      (5L, "click"), (5L, "view"), (5L, "purchase"))
    val dir = java.nio.file.Files.createTempDirectory("graft-sshap").toString
    def ts(i: Int) = new java.sql.Timestamp(86400000L + i * 1000L)
    evs.zipWithIndex.map { case ((u, t), i) =>
      (i.toLong, ts(i), u, t, 1.0, "{}")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val batch = graft.operators.Events.shapleyFunnel(spark, dir)
      .as[(String, Long, Double)].collect().toSeq

    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[EventInput]
    val q = graft.streaming.StreamingShapley.userMasks(input.toDS())
      .writeStream.outputMode("update").format("memory")
      .queryName("shap_users").start()
    try {
      // split mid-user: u3's purchase and u5 entirely in batch 2 —
      // state must carry and re-emission must supersede batch-1 rows
      input.addData(evs.take(5).map { case (u, t) => EventInput(u, t) }: _*)
      q.processAllAvailable()
      input.addData(evs.drop(5).map { case (u, t) => EventInput(u, t) }: _*)
      q.processAllAvailable()
      val streamed = graft.streaming.StreamingShapley
        .shapleyFromSnapshot(spark, spark.table("shap_users"))
        .as[(String, Long, Double)].collect().toSeq
      assert(streamed === batch)
      // replay idempotence: re-sending everything changes nothing
      input.addData(evs.map { case (u, t) => EventInput(u, t) }: _*)
      q.processAllAvailable()
      val replayed = graft.streaming.StreamingShapley
        .shapleyFromSnapshot(spark, spark.table("shap_users"))
        .as[(String, Long, Double)].collect().toSeq
      assert(replayed === batch)
    } finally q.stop()
  }

  test("every gap-session twin drops a row below its open session's last ts") {
    import spark.implicits._
    import graft.streaming.{StreamingBurst, StreamingEntryExit}
    import StreamingEvents.{SessionInput, SessionOut}
    import StreamingBurst.{BurstInput, BurstOut}
    import StreamingEntryExit.{EEInput, EEOut}
    // a folded late row would show in the closed session: its count,
    // its last ts, its value sum or its exit type
    val problems = Seq(
      lateSessionProblems[SessionInput, SessionOut]("sessionize",
        StreamingEvents.sessionize(_, 1000L, idleTimeout = false),
        ts => SessionInput(1L, ts, ts, ts.toDouble),
        SessionOut(1L, 5000L, 5000L, 1L, 5000.0)),
      lateSessionProblems[BurstInput, BurstOut]("burst",
        StreamingBurst.compact(_, 1000L, idleTimeout = false),
        ts => BurstInput(1L, ts, ts, "view"),
        BurstOut(1L, "view", 5000L, 5000L, 5000L, 1L, 0L)),
      lateSessionProblems[EEInput, EEOut]("entry_exit",
        StreamingEntryExit.sessions(_, 1000L, idleTimeout = false),
        ts => EEInput(1L, ts, ts, if (ts == 100L) "late" else "view"),
        EEOut(1L, "view", "view", 1L))
    ).flatten
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  /** One gap-session twin's late-row case, gap 1000 ms: micro-batches
    * with ts 5000, then 100, then 10000. The second must emit nothing
    * and leave the open session as it was, so the third closes it as
    * `closed`. Returns the problems found, empty when the twin holds.
    */
  private def lateSessionProblems[I: Encoder, O: Encoder](name: String,
      fold: Dataset[I] => Dataset[O], at: Long => I, closed: O): Seq[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[I]
    val q = fold(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName(s"late_session_$name").start()
    try {
      val emitted = Seq(5000L, 100L, 10000L).map { ts =>
        input.addData(at(ts))
        q.processAllAvailable()
        spark.table(s"late_session_$name").as[O].collect().toSeq
      }
      (if (emitted(1).isEmpty) Nil
       else Seq(s"$name: the late batch emitted ${emitted(1)}")) ++
        (if (emitted(2) == Seq(closed)) Nil
         else Seq(s"$name: the third batch emitted ${emitted(2)}, expected $closed"))
    } finally q.stop()
  }

  /** One ordered twin's late-row case: after two micro-batches, a
    * third holding a row at the key's frontier and one below it must
    * emit nothing, and the next in-order row must emit `expected`.
    * Returns the problems found, empty when the twin holds.
    */
  private def lateRowProblems[I: Encoder, O: Encoder](name: String,
      fold: Dataset[I] => Dataset[O], first: Seq[I], second: Seq[I],
      atFrontier: I, below: I, next: I, expected: Seq[O]): Seq[String] = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[I]
    val q = fold(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName(s"late_$name").start()
    def emitted = spark.table(s"late_$name").as[O].collect().toSeq
    try {
      Seq(first, second).foreach { b => input.addData(b); q.processAllAvailable() }
      val before = emitted
      input.addData(atFrontier, below)
      q.processAllAvailable()
      val late = emitted.diff(before)
      input.addData(next)
      q.processAllAvailable()
      val after = emitted.diff(before).diff(late)
      (if (late.isEmpty) Nil else Seq(s"$name: the late rows emitted $late")) ++
        (if (after == expected) Nil
         else Seq(s"$name: the next row emitted $after, expected $expected"))
    } finally q.stop()
  }

  test("every ordered twin drops a row at or below its frontier and folds on unchanged") {
    import spark.implicits._
    import graft.streaming._
    import StreamingEvents.{OrdOut, SessionInput}
    import StreamingAttribution.{Attribution, TouchInput}
    import StreamingFunnel.{FunnelInput, FunnelUpdate}
    import StreamingPaths.{PathInput, PathOut}
    import StreamingCroston.{CrostonOut, WeeklyDemand}
    import StreamingGapFill.{DayInput, FillOut}
    import StreamingTransitions.{TrInput, TrOut}
    import StreamingEwma.{DailyInput => Ewma}
    import StreamingCusum.{DailyInput => Cusum}
    import StreamingPinball.{DailyInput => Pinball}
    import StreamingPageHinkley.{DailyInput => Ph}
    val problems = Seq(
      lateRowProblems[SessionInput, OrdOut]("ordered",
        StreamingEvents.orderedAnalytics,
        Seq(SessionInput(1L, 1L, 1000L, 1.0)), Seq(SessionInput(1L, 2L, 2000L, 2.0)),
        SessionInput(1L, 2L, 2000L, 5.0), SessionInput(1L, 0L, 500L, 7.0),
        SessionInput(1L, 3L, 3000L, 0.5),
        Seq(OrdOut(1L, 3L, 3000L, 3, Some(1000L), 3.5))),
      lateRowProblems[TouchInput, Attribution]("attribution",
        StreamingAttribution.attribute,
        Seq(TouchInput(1L, 1L, 1000L, "view", 0.0)),
        Seq(TouchInput(1L, 2L, 2000L, "click", 0.0)),
        TouchInput(1L, 2L, 2000L, "purchase", 9.0),
        TouchInput(1L, 0L, 500L, "purchase", 9.0),
        TouchInput(1L, 3L, 3000L, "purchase", 10.0),
        Seq(Attribution(1L, 3L, 3000L, "click", 10.0))),
      // the frontier is a non-advancing signup, so both late purchases
      // would advance the funnel if they were folded
      lateRowProblems[FunnelInput, FunnelUpdate]("funnel", StreamingFunnel.track,
        Seq(FunnelInput(1L, 1L, 1000L, "signup")),
        Seq(FunnelInput(1L, 2L, 2000L, "click"), FunnelInput(1L, 3L, 3000L, "signup")),
        FunnelInput(1L, 3L, 3000L, "purchase"), FunnelInput(1L, 0L, 2500L, "purchase"),
        FunnelInput(1L, 4L, 4000L, "purchase"),
        Seq(FunnelUpdate(1L, 1000L, Some(2000L), Some(4000L), 3))),
      lateRowProblems[PathInput, PathOut]("paths", StreamingPaths.sessionTrigrams(_),
        Seq(PathInput(1L, 1L, 1000L, "a"), PathInput(1L, 2L, 2000L, "b")),
        Seq(PathInput(1L, 3L, 3000L, "c")),
        PathInput(1L, 3L, 3000L, "x"), PathInput(1L, 0L, 500L, "y"),
        PathInput(1L, 4L, 4000L, "d"),
        Seq(PathOut(1L, "b", "c", "d"))),
      lateRowProblems[Ewma, StreamingEwma.EwmaOut]("ewma", StreamingEwma.chart,
        Seq(Ewma("m", 0L, 10000000L)), Seq(Ewma("m", 1L, 20000000L)),
        Ewma("m", 1L, 99000000L), Ewma("m", 0L, 5000000L),
        Ewma("m", 2L, 5000000L),
        Seq(StreamingEwma.EwmaOut("m", 2L, 5000000L, 10600000L, Some(-7000000L), Some(0)))),
      lateRowProblems[Cusum, StreamingCusum.CusumOut]("cusum",
        StreamingCusum.chart(_, Map("m" -> (10000000L, 2000000L))),
        Seq(Cusum("m", 0L, 10000000L)), Seq(Cusum("m", 1L, 15000000L)),
        Cusum("m", 1L, 99000000L), Cusum("m", 0L, 99000000L),
        Cusum("m", 2L, 20000000L),
        Seq(StreamingCusum.CusumOut("m", 2L, 20000000L, 13000000L, 0L, 1))),
      lateRowProblems[Pinball, StreamingPinball.PbOut]("pinball",
        StreamingPinball.losses(_, window = 2, quantiles = Seq(0.5)),
        Seq(Pinball("m", 0L, 1.0)), Seq(Pinball("m", 1L, 3.0)),
        Pinball("m", 1L, 100.0), Pinball("m", 0L, 100.0),
        Pinball("m", 2L, 2.0),
        Seq(StreamingPinball.PbOut("m", 2L, 0.5, 2.0, 1.0, 0.5))),
      lateRowProblems[Ph, StreamingPageHinkley.PhOut]("page_hinkley",
        StreamingPageHinkley.detect(_, Map("m" -> 1.0)),
        Seq(Ph("m", 0L, 10L)), Seq(Ph("m", 1L, 2L)),
        Ph("m", 1L, 50L), Ph("m", 0L, 50L),
        Ph("m", 2L, 20L),
        Seq(StreamingPageHinkley.PhOut("m", 2L, 20L, 9.333333, 1))),
      lateRowProblems[WeeklyDemand, CrostonOut]("croston", StreamingCroston.forecasts,
        Seq(WeeklyDemand(1L, 0L, 4.0)), Seq(WeeklyDemand(1L, 2L, 2.0)),
        WeeklyDemand(1L, 2L, 9.0), WeeklyDemand(1L, 1L, 9.0),
        WeeklyDemand(1L, 5L, 6.0),
        Seq(CrostonOut(1L, 5L, 3L, 4.5, Some(2.5), Some(1.8)))),
      lateRowProblems[DayInput, FillOut]("gap_fill", StreamingGapFill.fill,
        Seq(DayInput(1L, 10L, 2.5)), Seq(DayInput(1L, 11L, 3.0)),
        DayInput(1L, 11L, 9.0), DayInput(1L, 10L, 9.0),
        DayInput(1L, 13L, 4.0),
        Seq(FillOut(1L, 12L, 3.0, is_observed = false, 1L),
          FillOut(1L, 13L, 4.0, is_observed = true, 0L))),
      lateRowProblems[TrInput, TrOut]("transitions", StreamingTransitions.pairs,
        Seq(TrInput(1L, 1L, 1000L, "a")), Seq(TrInput(1L, 2L, 2000L, "b")),
        TrInput(1L, 2L, 2000L, "x"), TrInput(1L, 0L, 500L, "y"),
        TrInput(1L, 3L, 3000L, "c"),
        Seq(TrOut(1L, "b", "c")))
    ).flatten
    assert(problems.isEmpty, problems.mkString("\n"))
  }
}
