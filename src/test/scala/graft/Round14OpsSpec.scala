package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Multimodal

/** Round-14 wave part 1.
  *
  *  - q551/q552: the two newly GRADED streaming replays
  *    (stream-stream interval join, dropDuplicatesWithinWatermark
  *    eviction) asserted against independently-built batch relations
  *    at sf0.001, plus the micro-batch boundary-cut helper.
  *  - q536/q537/q538 round-trips against INDEPENDENTLY-assembled
  *    bytes (round-13 verdict item 5): the FLAC/OGG/EBML walkers had
  *    only been proven against their own fixture encoders; these
  *    fixtures are hand-built with a separate byte ledger, hitting
  *    the bit-level traps — FLAC's 20/3/5/36 packing with a >32-bit
  *    total-samples, OGG's 255-lacing packet continuation with a
  *    0-terminator, EBML's ID-keeps-marker / size-strips-marker
  *    asymmetry at 1/2/3-byte widths — plus rejection cases.
  */
class Round14OpsSpec extends AnyFunSuite {

  // ---------------- cutAtBoundary ----------------

  test("cutAtBoundary never splits a key run, covers all rows in order") {
    val rows = Seq((1, "a"), (1, "b"), (2, "a"), (2, "b"), (2, "c"),
      (3, "a"), (4, "a"), (4, "b"), (5, "a"))
    val cuts = graft.streaming.StreamingGraded.cutAtBoundary(rows, 4)(_._1)
    assert(cuts.flatten === rows, "concatenation must reproduce the input")
    assert(cuts.size > 1 && cuts.size <= 5)
    cuts.sliding(2).foreach {
      case Seq(a, b) =>
        assert(a.last._1 != b.head._1, "a key run must not straddle a cut")
      case _ => ()
    }
    assert(graft.streaming.StreamingGraded
      .cutAtBoundary(Seq.empty[Int], 4)(identity).isEmpty)
    // one giant run: everything lands in one batch despite n = 3
    val one = graft.streaming.StreamingGraded
      .cutAtBoundary(Seq.fill(10)(7), 3)(identity)
    assert(one.size === 1 && one.head.size === 10)
  }

  // ---------------- q551 streaming interval join ----------------

  test("q551: ordered stream-stream replay emits exactly the batch θ-join pairs") {
    val spark = SharedSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingGraded
      .intervalJoinReplay(spark, dir)
      .select(col("purchase_id"), col("click_id"), col("p_ms"), col("c_ms"))
      .as[(Long, Long, Long, Long)].collect().toSet
    // independently-built batch θ-join over the same md5 sample
    val ev = Tables.load(spark, dir, "events")
      .withColumn("ms", graft.operators.Relational.tsMs("ts"))
    val users = ev.select(col("user_id")).distinct()
      .orderBy(md5(col("user_id").cast("string")), col("user_id"))
      .limit(512)
    val c = ev.join(users, "user_id").filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ms").as("c_ms"))
    val p = ev.join(users, "user_id").filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ms").as("p_ms"))
    val batch = p.join(c, Seq("user_id"))
      .filter(col("c_ms") >= col("p_ms") - 21600000L &&
        col("c_ms") <= col("p_ms"))
      .select(col("purchase_id"), col("click_id"), col("p_ms"), col("c_ms"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty, "the graded relation must not be vacuous")
  }

  // ---------------- q552 dedup-eviction replay ----------------

  test("q552: every sampled fingerprint emits exactly twice (dedup + eviction)") {
    val spark = SharedSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = graft.streaming.StreamingGraded
      .dedupEvictionReplay(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(out.values.forall(_ == 2L),
      "n=1 would mean eviction failed; n>2 would mean dedup failed")
    // the emitted fingerprint set IS the sampled set
    val fps = Tables.load(spark, dir, "documents")
      .select(graft.functions.TextFunctions
        .contentFingerprint(col("text")).as("fp"))
      .distinct()
      .orderBy(md5(col("fp")), col("fp")).limit(96)
      .as[String].collect().toSet
    assert(out.keySet === fps)
    assert(out.size === 96,
      "every sampled fingerprint must appear exactly once in the output")
    // suppression is non-vacuous BY CONSTRUCTION: the replay injects a
    // whitespace-twin duplicate per original (the corpus has none), so
    // n_emits = 2 everywhere already witnesses twin suppression; pin
    // the twin perturbation's fingerprint-neutrality here
    val t = Seq("a b", "x  y z").toDF("text")
      .select(graft.functions.TextFunctions.contentFingerprint(col("text"))
        .as("a"),
        graft.functions.TextFunctions.contentFingerprint(
          concat(lit("  "), regexp_replace(col("text"), " ", "  "),
            lit(" "))).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(t === 0L, "the twin perturbation must preserve the fingerprint")
  }

  // ---------------- q553 Allan variance ----------------

  test("q553: tau=1 Allan variance equals the direct two-sample form") {
    val spark = SharedSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val out = graft.operators.Events.allanVariance(spark, dir)
      .as[(Long, Long, Option[Double], Option[Double])].collect()
      .map(r => r._1 -> r).toMap
    assert(out.keySet === Set(1L, 2L, 4L, 8L))
    // independent tau=1 computation: daily counts on the dense spine,
    // avar = sum of successive diffs squared / (2(M-1))
    val daily = Tables.load(spark, dir, "events")
      .groupBy(expr("unix_micros(ts) div 1000 div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("day"))
      .as[(Long, Long)].collect()
    val span = (daily.head._1 to daily.last._1)
      .map(d => daily.toMap.getOrElse(d, 0L))
    val diffs = span.sliding(2).map { case Seq(a, b) => (b - a).toDouble }
      .toSeq
    val expected = diffs.map(d => d * d).sum / (2.0 * diffs.size)
    assert(math.abs(out(1L)._3.get - expected) < 1e-5)
    assert(out(1L)._2 === span.size.toLong)
    // adev^2 == avar at displayed precision
    out.values.foreach { case (_, _, Some(av), Some(ad)) =>
      assert(math.abs(ad * ad - av) < 1e-4 * math.max(1.0, av))
    case _ => ()
    }
  }

  // ---------------- q554 session-window replay ----------------

  test("q554: streamed session_window sessions equal the batch islands relation") {
    val spark = SharedSpark.spark
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.streaming.StreamingGraded
      .sessionWindowReplay(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    // independently-built islands: same sample, lag-break + cumsum
    val ev = Tables.load(spark, dir, "events")
    val users = ev.select(col("user_id")).distinct()
      .orderBy(md5(col("user_id").cast("string")), col("user_id"))
      .limit(256)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ms"))
    val batch = ev.join(users, "user_id")
      .select(col("user_id"),
        graft.operators.Relational.tsMs("ts").as("ms"), col("value"))
      .withColumn("brk", when(col("ms") - lag(col("ms"), 1).over(w)
        < 1800000L, 0).otherwise(1))
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Long.MinValue, 0)))
      .groupBy(col("user_id"), col("sid"))
      .agg(min(col("ms")).as("session_start_ms"),
        (max(col("ms")) + 1800000L).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("session_value"))
      .select(col("user_id"), col("session_start_ms"),
        col("session_end_ms"), col("n_events"), col("session_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // multi-event sessions exist, so the MERGING half is non-vacuous
    assert(streamed.exists(_._4 > 1),
      "sample must contain at least one multi-event session")
  }

  test("q554 on an empty events table returns the empty relation") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-q554").toString
    Seq.empty[(Long, java.sql.Timestamp, Long, String, Double, String)]
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val empty = graft.streaming.StreamingGraded.sessionWindowReplay(spark, dir)
    assert(empty.collect().isEmpty)
    val graded = graft.streaming.StreamingGraded
      .sessionWindowReplay(spark, SharedSpark.sf0001)
    assert(empty.schema.map(f => (f.name, f.dataType)) ===
      graded.schema.map(f => (f.name, f.dataType)))
  }

  // ---------------- q536 FLAC independent round-trip ----------------

  /** Hand-assembled FLAC: STREAMINFO packing 96000 Hz / 6 ch / 24 bps
    * / total-samples 0x800000001 (36 bits — above any 32-bit reader's
    * reach). The 8 packed bytes are a HAND-KEPT ledger, not a shift
    * expression: rate 96000 = 0x17700 → 20 bits 0001_0111_0111_0000_
    * 0000; ch−1 = 5 → 101; bps−1 = 23 → 1_0111; total = 36 bits
    * 1000…0001 ⇒ bytes 17 70 0B 78 00 00 00 01.
    */
  private def independentFlac(lastFlagOnFinal: Boolean = true): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    out.write(0x00); out.write(0x00); out.write(0x00); out.write(34)
    out.write(0x12); out.write(0x00) // min blocksize 4608
    out.write(0x12); out.write(0x00) // max blocksize 4608
    Seq(0, 0, 0, 0, 0, 0).foreach(out.write) // min/max framesize
    Seq(0x17, 0x70, 0x0B, 0x78, 0x00, 0x00, 0x00, 0x01).foreach(out.write)
    (0 until 16).foreach(_ => out.write(0xAB)) // md5 (opaque)
    // PADDING block, 5 bytes, carrying the last flag
    out.write(if (lastFlagOnFinal) 0x81 else 0x01)
    out.write(0x00); out.write(0x00); out.write(5)
    (0 until 5).foreach(_ => out.write(0))
    out.toByteArray
  }

  test("q536 round-trip: sniffFlac unpacks an independently-packed STREAMINFO") {
    val parsed = Multimodal.sniffFlac(independentFlac())
    assert(parsed === Some((2, 96000, 6, 24, 0x800000001L, 4L + 34 + 4 + 5)))
  }

  test("q536 rejections: missing last flag, non-STREAMINFO first block, short length, bad magic") {
    assert(Multimodal.sniffFlac(independentFlac(lastFlagOnFinal = false)).isEmpty,
      "a walk that never sees the last flag must fail, not loop or accept")
    val swapped = independentFlac()
    swapped(4) = 0x01 // first block claims PADDING
    assert(Multimodal.sniffFlac(swapped).isEmpty)
    val short = independentFlac()
    short(7) = 33 // STREAMINFO length must be exactly 34
    assert(Multimodal.sniffFlac(short).isEmpty)
    val magic = independentFlac()
    magic(0) = 'F'
    assert(Multimodal.sniffFlac(magic).isEmpty)
  }

  // ---------------- q537 OGG independent round-trip ----------------

  private def putLe(out: java.io.ByteArrayOutputStream, v: Long,
                    bytes: Int): Unit =
    (0 until bytes).foreach(i => out.write(((v >> (8 * i)) & 0xFF).toInt))

  /** Hand-assembled 2-page OGG stream. Page 0 (BOS) carries ONE
    * 510-byte packet laced 255,255,0 — two full segments continued
    * into an explicit 0-terminator, the continuation case the fixture
    * encoder's `plen % 255` formula almost never lands on. Page 1
    * (EOS) carries two small packets (laces 10, 20).
    */
  private def independentOgg(serial: Long = 77777L): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    // page 0
    out.write("OggS".getBytes("US-ASCII")); out.write(0); out.write(0x02)
    putLe(out, 4800L, 8); putLe(out, serial, 4); putLe(out, 0L, 4)
    putLe(out, 0L, 4) // crc unset
    out.write(3); out.write(255); out.write(255); out.write(0)
    (0 until 510).foreach(j => out.write(j % 7))
    // page 1
    out.write("OggS".getBytes("US-ASCII")); out.write(0); out.write(0x04)
    putLe(out, 9600L, 8); putLe(out, serial, 4); putLe(out, 1L, 4)
    putLe(out, 0L, 4)
    out.write(2); out.write(10); out.write(20)
    (0 until 30).foreach(j => out.write(j % 5))
    out.toByteArray
  }

  test("q537 round-trip: sniffOgg reassembles a 255-laced packet across segments") {
    // 510-byte packet = exactly ONE packet (the 0 lacing terminates
    // it), not two — the reassembly contract
    assert(Multimodal.sniffOgg(independentOgg()) ===
      Some((2, 3, 540L, 9600L, 77777L)))
  }

  test("q537 rejections: sequence gap, BOS repeat, serial switch, trailing bytes") {
    val ogg = independentOgg()
    val seqOff = 27 + 3 + 510 + 18 // page 1 header's sequence field
    val gap = ogg.clone(); gap(seqOff) = 5
    assert(Multimodal.sniffOgg(gap).isEmpty)
    val bosOff = 27 + 3 + 510 + 5
    val bos = ogg.clone(); bos(bosOff) = (0x02 | 0x04).toByte
    assert(Multimodal.sniffOgg(bos).isEmpty, "BOS on a later page must fail")
    val serOff = 27 + 3 + 510 + 14
    val ser = ogg.clone(); ser(serOff) = (ser(serOff) ^ 0x01).toByte
    assert(Multimodal.sniffOgg(ser).isEmpty, "mid-stream serial switch must fail")
    assert(Multimodal.sniffOgg(ogg ++ Array[Byte](1, 2, 3)).isEmpty,
      "bytes after the EOS page must fail")
  }

  // ---------------- q538 EBML independent round-trip ----------------

  /** Hand-assembled EBML walk hitting all three vint widths the
    * fixture encoder never combines: the 4-byte magic ID with a
    * 1-byte size, a 1-byte class-A ID (0xBF) with a THREE-byte size
    * (0x20 0x20 0x00 → marker 001 stripped → 0x002000 = 8192), and a
    * 2-byte class-B ID (0x42F5) with a 1-byte size.
    */
  private def independentEbml(): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x1A); out.write(0x45); out.write(0xDF); out.write(0xA3)
    out.write(0x84) // size 4, marker stripped
    (0 until 4).foreach(_ => out.write(0x11))
    out.write(0xBF) // 1-byte ID: marker KEPT, id = BF
    out.write(0x20); out.write(0x20); out.write(0x00) // 3-byte size 8192
    (0 until 8192).foreach(j => out.write(j % 11))
    out.write(0x42); out.write(0xF5) // 2-byte ID: id = 42F5
    out.write(0x85) // size 5
    (0 until 5).foreach(_ => out.write(0x22))
    out.toByteArray
  }

  test("q538 round-trip: sniffEbml walks hand-built vints (ID keeps marker, size strips it)") {
    assert(Multimodal.sniffEbml(independentEbml()) ===
      Some((3, 4L + 8192L + 5L, "1A45DFA3", "42F5")))
  }

  test("q538 rejections: zero lead byte, overrun, off-boundary walk") {
    val e = independentEbml()
    val zero = e.clone(); zero(0) = 0x00
    assert(Multimodal.sniffEbml(zero).isEmpty, "vint width > 8 must fail")
    // inflate the final size so the element overruns the buffer
    val over = e.clone(); over(over.length - 6) = 0x87.toByte
    assert(Multimodal.sniffEbml(over).isEmpty)
    // drop the final byte: the walk must land exactly on the boundary
    assert(Multimodal.sniffEbml(e.dropRight(1)).isEmpty)
  }
}
