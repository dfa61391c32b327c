package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

import graft.streaming.StreamingJobs

case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
              event_type: String, value: Double)
case class Click(user_id: Long, click_id: Long, click_ts: Timestamp)
case class Purchase(p_user_id: Long, purchase_id: Long,
                    purchase_ts: Timestamp, value: Double)

/** Structured Streaming jobs against MemoryStream, with the batch
  * computation on the same rows as the oracle. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val rows = Seq(
    Ev(1, ts("2024-01-01 00:05:00"), 1, "click", 10.0),
    Ev(2, ts("2024-01-01 00:45:00"), 1, "click", 20.0),
    Ev(3, ts("2024-01-01 01:05:00"), 2, "view", 5.0),
    Ev(4, ts("2024-01-01 01:15:00"), 1, "click", 2.5),
    Ev(5, ts("2024-01-01 01:20:00"), 2, "view", 7.5))

  test("tumblingAgg over a stream equals the batch window agg") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamingJobs.tumblingAgg(ms.toDF())
      .writeStream.format("memory").queryName("t_agg").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("t_agg")
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    val batch = rows.toDF()
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("sum_value"))
      .select(col("window.start"), col("event_type"), col("cnt"), col("sum_value"))
      .orderBy("start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == 3) // (00h click), (01h click), (01h view)
  }

  test("curateStream over a stream equals the batch run of the same function") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), "the quick brown fox jumps over the lazy dog " * 12, "en"),
      (2L, ts("2024-01-01 00:10:00"), "a b", "en"),                 // short → fails quality
      (3L, ts("2024-01-01 00:40:00"), "der schnelle braune fuchs", "de"), // wrong lang
      (4L, ts("2024-01-01 01:05:00"), "data table join scan filter " * 20, "en"),
      (5L, ts("2024-01-01 01:30:00"), "!!! ??? ,,, ...", "en"))     // punct → fails quality
    val quality = {
      import graft.functions.{TextFunctions => TF}
      val toks = TF.tokens(col("text"))
      val nTok = size(toks)
      val stopRatio = TF.tokenCountIn(toks,
        Seq("the", "a", "of", "and", "to", "in")).cast("double") / nTok
      val punctRatio = length(regexp_replace(col("text"), "[a-z0-9\\s]", ""))
        .cast("double") / length(col("text"))
      lit(0.5) * least(lit(1.0), nTok / lit(100.0)) +
        lit(0.3) * (lit(1.0) - stopRatio) - lit(0.2) * punctRatio
    }
    val ms = MemoryStream[(Long, Timestamp, String, String)]
    ms.addData(docs)
    val q = StreamingJobs.curateStream(
        ms.toDF().toDF("doc_id", "ts", "text", "lang"), quality)
      .writeStream.format("memory").queryName("t_curate").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("t_curate").orderBy("window_start", "lang")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    val batch = StreamingJobs.curateStream(
        docs.toDF("doc_id", "ts", "text", "lang"), quality)
      .orderBy("window_start", "lang")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(streamed == batch)
    // hour 0: en {1 kept of 2}, de {0 of 1}; hour 1: en {1 kept of 2}
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "de", 1L, 0L),
      (ts("2024-01-01 00:00:00"), "en", 2L, 1L),
      (ts("2024-01-01 01:00:00"), "en", 2L, 1L)))
  }

  test("tokenVolumeStream: incremental run equals batch; frozen vocab prices both") {
    implicit val sqlCtx = spark.sqlContext
    val vocab = Seq("ab", "abc", "cd")
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), "abcd abab", "web"),  // 2 + 2 pieces
      (2L, ts("2024-01-01 00:20:00"), "qq", "web"),         // 2 fallbacks
      (3L, ts("2024-01-01 00:45:00"), "abc", "books"),      // 1 piece
      (4L, ts("2024-01-01 01:10:00"), "cd cd cd", "web"))   // 3 pieces
    val ms = MemoryStream[(Long, Timestamp, String, String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // second micro-batch: cross-batch window merge
    val q = StreamingJobs.tokenVolumeStream(
        ms.toDF().toDF("doc_id", "ts", "text", "source"), vocab)
      .writeStream.format("memory").queryName("t_tokvol").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_tokvol").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    val batch = StreamingJobs.tokenVolumeStream(
        docs.toDF("doc_id", "ts", "text", "source"), vocab)
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 1L, 1L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 6L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 3L)))
  }

  test("scd2EnrichStream: event-time version lookup, incremental equals batch") {
    implicit val sqlCtx = spark.sqlContext
    // user 1 has two versions (v10 until Jan 3, v11 after); user 2 none
    val dim = Seq(
      (1L, 10L, "LOW", ts("2024-01-01 00:00:00"), Some(ts("2024-01-03 00:00:00"))),
      (1L, 11L, "HIGH", ts("2024-01-03 00:00:00"), None: Option[Timestamp]))
      .toDF("d_user_id", "version_key", "priority", "valid_from", "valid_to")
    val events = Seq(
      (100L, 1L, ts("2023-12-30 12:00:00"), 1.0), // before any version
      (101L, 1L, ts("2024-01-02 08:00:00"), 2.0), // inside v10
      (102L, 1L, ts("2024-01-03 00:00:00"), 3.0), // boundary → v11 ([from, to))
      (103L, 2L, ts("2024-01-05 00:00:00"), 4.0)) // user with no versions
    val ms = MemoryStream[(Long, Long, Timestamp, Double)]
    ms.addData(events.take(2))
    ms.addData(events.drop(2)) // cross-batch: the join is stateless
    val q = StreamingJobs.scd2EnrichStream(
        ms.toDF().toDF("event_id", "user_id", "ts", "value"), dim)
      .writeStream.format("memory").queryName("t_scd2").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_scd2").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.get(4), r.getString(5))).toSeq
    val batch = StreamingJobs.scd2EnrichStream(
        events.toDF("event_id", "user_id", "ts", "value"), dim)
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.get(4), r.getString(5))).toSeq
    assert(streamed == batch, "stream and batch code path must agree")
    assert(streamed == Seq(
      (100L, null, "UNVERSIONED"),
      (101L, 10L, "LOW"),
      (102L, 11L, "HIGH"), // [from, to): the boundary belongs to the NEW version
      (103L, null, "UNVERSIONED")))
  }

  test("distDriftStream: incremental equals batch; chi-square terms pinned by hand") {
    implicit val sqlCtx = spark.sqlContext
    // frozen baseline: counts (2,1,1,1), N1 = 5 — every level E > 0
    val baseline = Seq(2L, 1L, 1L, 1L)
    val rows = Seq(
      (ts("2024-01-05 00:00:00"), 50000.0),   // L1 — window A
      (ts("2024-01-10 00:00:00"), 150000.0),  // L2 — window A
      (ts("2024-02-20 00:00:00"), 400000.0))  // L4 — window B (batch 2)
    val ms = MemoryStream[(Timestamp, Double)]
    ms.addData(rows.take(2))
    ms.addData(rows.drop(2))
    val q = StreamingJobs.distDriftStream(
        ms.toDF().toDF("ts", "price"), baseline)
      .writeStream.format("memory").queryName("t_drift")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_drift").orderBy("window_start")
      .select("window_start", "o1", "o2", "o3", "o4", "n_cur", "chi2_micro", "drift")
      .collect().toSeq
    val batch = StreamingJobs.distDriftStream(
        rows.toDF("ts", "price"), baseline)
      .orderBy("window_start")
      .select("window_start", "o1", "o2", "o3", "o4", "n_cur", "chi2_micro", "drift")
      .collect().toSeq
    assert(streamed == batch, "stream and batch code path must agree")
    // window A: O=(1,1,0,0), N2=2 →
    //   (1·5−2·2)²·1e6/(2·5·2)=50000, (5−2)²·1e6/10=900000,
    //   (0−2)²·1e6/10=400000, 400000 → 1 750 000
    assert(streamed(0).getLong(6) == 1750000L && !streamed(0).getBoolean(7))
    // window B: O=(0,0,0,1), N2=1 →
    //   (0−2)²·1e6/10=400000, 200000, 200000, (5−1)²·1e6/5=3200000 → 4 000 000
    assert(streamed(1).getLong(6) == 4000000L && !streamed(1).getBoolean(7))
  }

  test("audioQcStream: incremental equals batch; clipping at full scale; junk in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Multimodal
    // mono 8-bit: codes 00 (amp −128, FULL SCALE → clipped window),
    // 80 (0), C0 (+64) → samples 3, energy 128²+0+64², peak 1000‰
    val hot = Multimodal.encodeWavPcm(1, 8000, 8, 0, Array(0x00, 0x80, 0xC0))
    // stereo 16-bit, quiet: ±256 at most → peak 256*1000/32768 = 7‰,
    // no clipped windows
    val quiet = Multimodal.encodeWavPcm(2, 44100, 16, 3,
      Array(256, 65280, 128, 65408)) // +256, −256, +128, −128
    val junk = "not RIFF at all".getBytes
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), hot, "web"),
      (2L, ts("2024-01-01 00:20:00"), junk, "web"),
      (3L, ts("2024-01-01 01:10:00"), quiet, "books"))
    val ms = MemoryStream[(Long, Timestamp, Array[Byte], String)]
    ms.addData(docs.take(1))
    ms.addData(docs.drop(1)) // cross-batch window merge
    val q = StreamingJobs.audioQcStream(
        ms.toDF().toDF("doc_id", "ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_audioqc").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_audioqc").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.audioQcStream(
        docs.toDF("doc_id", "ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "web", 2L, 1L, 3L,
        128L * 128 + 64L * 64, 1L, 1000L),
      (ts("2024-01-01 01:00:00"), "books", 1L, 0L, 4L,
        2L * 256 * 256 + 2L * 128 * 128, 0L, 7L)))
  }

  test("mediaIntakeStream: incremental equals batch; junk surfaces in n_unparseable") {
    implicit val sqlCtx = spark.sqlContext
    def hx(s: String): Array[Byte] =
      s.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    val monoFmt = "666D7420 10000000 0100 0100 401F0000 401F0000 0100 0800"
    val stereoFmt = "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000"
    // headers declare the data size; bodies stream later (the probe
    // trusts the header — the streaming-intake convention)
    val mono16k = hx(s"52494646 00000000 57415645 $monoFmt 64617461 803E0000") // 16000 B → 2000 ms
    val stereo = hx(s"52494646 00000000 57415645 $stereoFmt 64617461 88580100") // 88200 B → 500 ms
    val mono8k = hx(s"52494646 00000000 57415645 $monoFmt 64617461 401F0000") // 8000 B → 1000 ms
    val junk = "definitely not RIFF".getBytes
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), mono16k, "web"),
      (2L, ts("2024-01-01 00:20:00"), junk, "web"),
      (3L, ts("2024-01-01 00:45:00"), stereo, "books"),
      (4L, ts("2024-01-01 01:10:00"), mono8k, "web"))
    val ms = MemoryStream[(Long, Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.mediaIntakeStream(
        ms.toDF().toDF("doc_id", "ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_media").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_media").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.mediaIntakeStream(
        docs.toDF("doc_id", "ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 1L, 0L, 88200L, 500L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 1L, 16000L, 2000L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 8000L, 1000L)))
  }

  test("gzipIntakeStream: incremental equals batch; corrupt members in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Inflate
    def gz(text: String, mode: Int, hcrc: Boolean) =
      Inflate.gzipMember(text.getBytes("UTF-8"), mode,
        fname = if (mode == 1) Some("f.txt") else None, hcrc = hcrc)
    val corrupt = { // valid member with its CRC-32 trailer flipped
      val g = gz("will not survive", 2, hcrc = false)
      g(g.length - 5) = (g(g.length - 5) ^ 0x1).toByte; g
    }
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), gz("hello stream", 0, hcrc = true), "web"),
      (2L, ts("2024-01-01 00:20:00"), corrupt, "web"),
      (3L, ts("2024-01-01 00:45:00"), gz("fixed huffman body", 1, hcrc = false), "books"),
      (4L, ts("2024-01-01 01:10:00"), gz("dynamic huffman body here", 2, hcrc = true), "web"))
    val ms = MemoryStream[(Long, Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.gzipIntakeStream(
        ms.toDF().toDF("doc_id", "ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_gzip").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_gzip").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.gzipIntakeStream(
        docs.toDF("doc_id", "ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 1L, 0L, 18L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 1L, 12L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 25L)))
  }

  test("jsonlIntakeStream: incremental equals batch; corrupt records AND members accounted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Inflate
    import graft.sources.Jsonl
    def gz(lines: Seq[String], mode: Int) =
      Inflate.gzipMember(lines.mkString("\n").getBytes("UTF-8"), mode)
    val healthy = gz(Seq(
      Jsonl.record(1, 0, "first half"), Jsonl.record(1, 1, "second half")), 0)
    val recCorrupt = gz(Seq( // one record loses its closing quote+brace,
      Jsonl.record(2, 0, "survives"), // one parses but claims doc 9
      Jsonl.record(2, 1, "does not").dropRight(2),
      Jsonl.record(9, 3, "wrong doc"),
      Jsonl.record(2, 2, "also survives")), 1)
    val memCorrupt = { // whole member dies: CRC-32 trailer flipped
      val g = gz(Seq(Jsonl.record(3, 0, "never seen")), 2)
      g(g.length - 5) = (g(g.length - 5) ^ 0x1).toByte; g
    }
    val laterHour = gz(Seq(Jsonl.record(4, 0, "hour two")), 2)
    val docs = Seq(
      (1L, ts("2024-01-01 00:05:00"), healthy, "web"),
      (2L, ts("2024-01-01 00:20:00"), recCorrupt, "web"),
      (3L, ts("2024-01-01 00:45:00"), memCorrupt, "books"),
      (4L, ts("2024-01-01 01:10:00"), laterHour, "web"))
    val ms = MemoryStream[(Long, Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.jsonlIntakeStream(
        ms.toDF().toDF("doc_id", "ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_jsonl").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_jsonl").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.jsonlIntakeStream(
        docs.toDF("doc_id", "ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      // books hour 0: the member itself is undecodable
      (ts("2024-01-01 00:00:00"), "books", 1L, 1L, 0L, 0L, 0L),
      // web hour 0: 2 members, 4 accepted records, 2 malformed (one
      // unterminated, one claiming doc 9 inside doc 2's member),
      // chars = "first half"+"second half"+"survives"+"also survives"
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 4L, 2L, 42L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 0L, 8L)))
  }

  test("zstdIntakeStream: incremental equals batch; series walked; corrupt/invalid in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    def z(s: String, level: Int) =
      com.github.luben.zstd.Zstd.compress(s.getBytes("UTF-8"), level)
    def skippable(content: String): Array[Byte] = {
      val c = content.getBytes("UTF-8")
      Array[Byte](0x52, 0x2a, 0x4d, 0x18) ++
        (0 until 4).map(k => ((c.length >> (8 * k)) & 0xff).toByte) ++ c
    }
    val corrupt = {
      val g = z("never seen at all", 3)
      g(g.length / 2) = (g(g.length / 2) ^ 0x55).toByte
      // a mid-frame flip may still decode to different bytes; kill the
      // magic too so the frame is undecodable by construction
      g(0) = 0x29.toByte; g
    }
    // a VALID zstd frame whose content is invalid UTF-8 (stray
    // continuation byte): decodes, fails the strict text gate
    val invalidUtf8 = com.github.luben.zstd.Zstd.compress(
      Array[Byte](0x61, 0xc3.toByte, 0x28, 0x62), 3)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), z("first text", 1), "web"),
      // a real frame SERIES: frame + skippable + frame
      (ts("2024-01-01 00:20:00"),
        z("second ", 19) ++ skippable("seek table") ++ z("document body", 3),
        "web"),
      (ts("2024-01-01 00:45:00"), corrupt, "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), z("hour two", 7), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.zstdIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_zstd").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_zstd").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.zstdIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 2L, 2L, 0L, 0L, 0L),
      // web hour 0: 1 + 2 frames, 1 skippable, 10 + 20 chars
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 3L, 1L, 30L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 0L, 8L)))
  }

  test("brotliIntakeStream: incremental equals batch; corrupt/invalid payloads in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Brotli
    def br(s: String, v: Long) = Brotli.compress(s.getBytes("UTF-8"), v)
    // a VALID brotli stream of invalid UTF-8: fails the strict text gate
    val invalidUtf8 = Brotli.compress(Array[Byte](0x61, 0xc3.toByte, 0x28), 0)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), br("first text", 0), "web"),
      (ts("2024-01-01 00:20:00"), br("second document body", 1), "web"),
      (ts("2024-01-01 00:45:00"), br("never seen", 2).dropRight(4), "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), br("hour two", 2), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.brotliIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_brotli").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_brotli").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.brotliIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 2L, 2L, 0L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 30L), // 10 + 20 chars
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 8L)))
  }

  test("bzip2IntakeStream: incremental equals batch; corrupt/invalid payloads in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    def bz(raw: Array[Byte], level: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new org.apache.commons.compress.compressors.bzip2
        .BZip2CompressorOutputStream(bos, level)
      z.write(raw); z.close()
      bos.toByteArray
    }
    def bzs(s: String, level: Int) = bz(s.getBytes("UTF-8"), level)
    val corrupt = {
      val g = bzs("never seen at all", 1)
      g(g.length / 2) = (g(g.length / 2) ^ 0x55).toByte; g
    }
    // a VALID bzip2 stream of invalid UTF-8: fails the strict text gate
    val invalidUtf8 = bz(Array[Byte](0x61, 0xc3.toByte, 0x28), 1)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), bzs("first text", 1), "web"),
      (ts("2024-01-01 00:20:00"), bzs("second document body", 5), "web"),
      (ts("2024-01-01 00:45:00"), corrupt, "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), bzs("hour two", 9), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.bzip2IntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_bz2").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_bz2").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.bzip2IntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 2L, 2L, 0L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 30L), // 10 + 20 chars
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 8L)))
  }

  test("lz4IntakeStream: incremental equals batch; corrupt/invalid payloads in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    import net.jpountz.lz4.LZ4FrameOutputStream
    import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    def lz(raw: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new LZ4FrameOutputStream(bos, BLOCKSIZE.SIZE_64KB, -1L,
        FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.CONTENT_CHECKSUM)
      z.write(raw); z.close()
      bos.toByteArray
    }
    def lzs(s: String) = lz(s.getBytes("UTF-8"))
    val corrupt = {
      val g = lzs("never seen at all")
      g(g.length / 2) = (g(g.length / 2) ^ 0x55).toByte; g
    }
    // a VALID frame of invalid UTF-8: fails the strict text gate
    val invalidUtf8 = lz(Array[Byte](0x61, 0xc3.toByte, 0x28))
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), lzs("first text"), "web"),
      (ts("2024-01-01 00:20:00"), lzs("second document body"), "web"),
      (ts("2024-01-01 00:45:00"), corrupt, "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), lzs("hour two"), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.lz4IntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_lz4").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_lz4").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.lz4IntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 2L, 2L, 0L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 30L), // 10 + 20 chars
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 8L)))
  }

  test("xzIntakeStream: incremental equals batch; corrupt/invalid payloads in n_undecodable") {
    implicit val sqlCtx = spark.sqlContext
    def xz(raw: Array[Byte], preset: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new org.tukaani.xz.XZOutputStream(bos,
        new org.tukaani.xz.LZMA2Options(preset))
      z.write(raw); z.finish()
      bos.toByteArray
    }
    def xzs(s: String, preset: Int) = xz(s.getBytes("UTF-8"), preset)
    val corrupt = {
      val g = xzs("never seen at all", 1)
      g(g.length / 2) = (g(g.length / 2) ^ 0x55).toByte; g
    }
    // a VALID xz stream of invalid UTF-8: fails the strict text gate
    val invalidUtf8 = xz(Array[Byte](0x61, 0xc3.toByte, 0x28), 1)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), xzs("first text", 0), "web"),
      (ts("2024-01-01 00:20:00"), xzs("second document body", 6), "web"),
      (ts("2024-01-01 00:45:00"), corrupt, "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), xzs("hour two", 9), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.xzIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_xz").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_xz").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.xzIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 2L, 2L, 0L),
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 30L), // 10 + 20 chars
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 8L)))
  }

  test("zipIntakeStream: incremental equals batch; bad index vs bad member accounted at the right level") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sources.Zip
    def arch(ms: Seq[(String, String)], corrupt: Int = -1): Array[Byte] =
      Zip.encodeZip(ms.map { case (n, t) => (n, t.getBytes("UTF-8")) },
        methods = j => j % 3, corrupt = corrupt)
    // a walkable archive holding a member whose BYTES are valid zip
    // but invalid UTF-8: the member decodes, the text gate counts it
    val invalidUtf8 = Zip.encodeZip(
      Seq("bin.dat" -> Array[Byte](0x61, 0xc3.toByte, 0x28)), methods = _ => 1)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"),
        arch(Seq("a.txt" -> "first text", "b.txt" -> "ten chars!")), "web"),
      (ts("2024-01-01 00:20:00"),
        arch(Seq("c.txt" -> "keep me", "d.txt" -> "drop me"), corrupt = 1), "web"),
      // index-level: truncated EOCD — nothing safe to enumerate
      (ts("2024-01-01 00:45:00"),
        arch(Seq("x.txt" -> "never seen")).dropRight(5), "books"),
      (ts("2024-01-01 00:50:00"), invalidUtf8, "books"),
      (ts("2024-01-01 01:10:00"), arch(Seq("h2.txt" -> "hour two")), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.zipIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_zip").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_zip").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.zipIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      // books hour 0: one unusable INDEX, one walkable archive whose
      // single member fails the strict text gate
      (ts("2024-01-01 00:00:00"), "books", 2L, 1L, 1L, 1L, 0L),
      // web hour 0: 4 members, 1 bad CRC, chars = 10 + 10 + 7
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 4L, 1L, 27L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 0L, 8L)))
  }

  test("tarIntakeStream: incremental equals batch; a bad header counts the whole archive") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Inflate
    import graft.sources.Tar
    def targz(fs: Seq[(String, String)], corrupt: Int = -1): Array[Byte] =
      Inflate.gzipMember(
        Tar.encodeTar(fs.map { case (n, t) => (n, t.getBytes("UTF-8")) },
          dir = Some("doc/"), corruptHeader = corrupt),
        deflateMode = 2)
    val docs = Seq(
      (ts("2024-01-01 00:05:00"),
        targz(Seq("doc/a.txt" -> "first text", "doc/b.txt" -> "ten chars!")), "web"),
      // a bad header checksum poisons the whole archive (no resync)
      (ts("2024-01-01 00:20:00"),
        targz(Seq("doc/c.txt" -> "keep me", "doc/d.txt" -> "drop me"), corrupt = 1), "web"),
      // valid tar, file body invalid UTF-8 → archive counted
      (ts("2024-01-01 00:45:00"), Inflate.gzipMember(
        Tar.encodeTar(Seq("doc/x.bin" -> Array[Byte](0x61, 0xc3.toByte, 0x28))),
        deflateMode = 1), "books"),
      (ts("2024-01-01 01:10:00"),
        targz(Seq("doc/h2.txt" -> "hour two")), "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.tarIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_tar").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_tar").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.tarIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 1L, 1L, 0L, 0L),
      // web hour 0: one clean archive (2 files, 20 chars), one poisoned
      (ts("2024-01-01 00:00:00"), "web", 2L, 1L, 2L, 20L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 8L)))
  }

  test("warcIntakeStream: incremental equals batch; corrupt records AND shards accounted") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Inflate
    import graft.sources.Warc
    val date = "2024-01-01T00:00:00Z"
    def respRec(id: String, body: String): Array[Byte] = {
      val b = body.getBytes("UTF-8")
      val http = (s"HTTP/1.1 200 OK\r\nContent-Length: ${b.length}\r\n\r\n")
        .getBytes("UTF-8") ++ b
      Warc.render("response", id, date,
        Seq("Content-Type" -> "application/http; msgtype=response"), http)
    }
    def shard(recs: Seq[Array[Byte]]): Array[Byte] =
      recs.zipWithIndex.flatMap { case (r, k) =>
        Inflate.gzipMember(r, k % 3)
      }.toArray
    val info = Warc.render("warcinfo", "<urn:uuid:i>", date,
      Seq("Content-Type" -> "application/warc-fields"),
      "software: graft".getBytes("UTF-8"))
    val healthy = shard(Seq(info, respRec("<urn:uuid:a>", "first body"),
      respRec("<urn:uuid:b>", "second")))
    val recCorrupt = shard(Seq( // one record loses its terminator+block tail
      respRec("<urn:uuid:c>", "survives"),
      respRec("<urn:uuid:d>", "does not").dropRight(6)))
    val memCorrupt = { // whole shard dies: a member's CRC-32 flipped
      val g = shard(Seq(respRec("<urn:uuid:e>", "never seen")))
      g(g.length - 5) = (g(g.length - 5) ^ 0x1).toByte; g
    }
    val laterHour = shard(Seq(respRec("<urn:uuid:f>", "hour two")))
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), healthy, "web"),
      (ts("2024-01-01 00:20:00"), recCorrupt, "web"),
      (ts("2024-01-01 00:45:00"), memCorrupt, "books"),
      (ts("2024-01-01 01:10:00"), laterHour, "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2)) // cross-batch window merge
    val q = StreamingJobs.warcIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_warc").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_warc").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.warcIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      // books hour 0: the shard itself is undecodable
      (ts("2024-01-01 00:00:00"), "books", 1L, 1L, 0L, 0L, 0L, 0L),
      // web hour 0: 2 shards, 4 valid records (1 warcinfo + 3
      // responses), 1 malformed record, chars =
      // "first body"+"second"+"survives" = 10+6+8
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 4L, 1L, 3L, 24L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 0L, 1L, 8L)))
  }

  test("wetIntakeStream: incremental equals batch; conversion bodies decode charset-aware") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Inflate
    import graft.sources.Warc
    val date = "2024-01-01T00:00:00Z"
    def convRec(id: String, body: Array[Byte], ctype: String): Array[Byte] =
      Warc.render("conversion", id, date,
        Seq("WARC-Target-URI" -> "http://example.com/x",
          "Content-Type" -> ctype), body)
    def shard(recs: Seq[Array[Byte]]): Array[Byte] =
      recs.zipWithIndex.flatMap { case (r, k) =>
        Inflate.gzipMember(r, k % 3)
      }.toArray
    val info = Warc.render("warcinfo", "<urn:uuid:wi>", date,
      Seq("Content-Type" -> "application/warc-fields"),
      "software: graft-wet".getBytes("UTF-8"))
    // one UTF-8 body, one DECLARED-cp1252 body with a non-ASCII byte —
    // both decode; chars count code points, not bytes
    val healthy = shard(Seq(info,
      convRec("<urn:uuid:a>", "first body".getBytes("UTF-8"), "text/plain"),
      convRec("<urn:uuid:b>", graft.sources.Charset.encodeWindows1252("café").get,
        "text/plain; charset=windows-1252")))
    val recCorrupt = shard(Seq(
      convRec("<urn:uuid:c>", "survives".getBytes("UTF-8"), "text/plain"),
      convRec("<urn:uuid:d>", "does not".getBytes("UTF-8"), "text/plain").dropRight(6)))
    val memCorrupt = {
      val g = shard(Seq(convRec("<urn:uuid:e>", "never".getBytes("UTF-8"), "text/plain")))
      g(g.length - 5) = (g(g.length - 5) ^ 0x1).toByte; g
    }
    val laterHour = shard(Seq(convRec("<urn:uuid:f>", "hour two".getBytes("UTF-8"), "text/plain")))
    val docs = Seq(
      (ts("2024-01-01 00:05:00"), healthy, "web"),
      (ts("2024-01-01 00:20:00"), recCorrupt, "web"),
      (ts("2024-01-01 00:45:00"), memCorrupt, "books"),
      (ts("2024-01-01 01:10:00"), laterHour, "web"))
    val ms = MemoryStream[(Timestamp, Array[Byte], String)]
    ms.addData(docs.take(2))
    ms.addData(docs.drop(2))
    val q = StreamingJobs.wetIntakeStream(
        ms.toDF().toDF("ts", "payload", "source"))
      .writeStream.format("memory").queryName("t_wet").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_wet").orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    val batch = StreamingJobs.wetIntakeStream(
        docs.toDF("ts", "payload", "source"))
      .orderBy("window_start", "source")
      .as[(Timestamp, String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(streamed == batch)
    assert(streamed == Seq(
      (ts("2024-01-01 00:00:00"), "books", 1L, 1L, 0L, 0L, 0L, 0L),
      // web hour 0: 2 shards, 4 valid records (1 warcinfo + 3
      // conversions), 1 malformed; chars = "first body"(10) +
      // "café"(4 code points) + "survives"(8) = 22
      (ts("2024-01-01 00:00:00"), "web", 2L, 0L, 4L, 1L, 3L, 22L),
      (ts("2024-01-01 01:00:00"), "web", 1L, 0L, 1L, 0L, 1L, 8L)))
  }

  test("cmsStream: incremental sketch equals the batch sketch, state bounded at depth*width") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val b1 = Seq("the cat sat on the mat", "the dog ran")
    val b2 = Seq("the cat ran far", "a dog and a cat")
    val ms = MemoryStream[String]
    val q = StreamingJobs.cmsStream(ms.toDF().toDF("text"), depth = 3, width = 512)
      .writeStream.format("memory").queryName("t_cms").outputMode("complete").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_cms").orderBy("r", "bucket")
      .as[(Int, Int, Long)].collect().toSeq
    val batch = StreamingJobs.cmsStream((b1 ++ b2).toDF("text"), depth = 3, width = 512)
      .orderBy("r", "bucket").as[(Int, Int, Long)].collect().toSeq
    assert(streamed == batch, "counters merge by addition: stream == batch")
    assert(streamed.nonEmpty && streamed.size <= 3 * 512,
      "state is the counter table — bounded by geometry, not stream length")
    // every counter cell ≥ the true count of any token hashing into it
    val totalTokens = (b1 ++ b2).flatMap(_.split(" ")).count(_.nonEmpty).toLong * 3
    assert(streamed.map(_._3).sum == totalTokens,
      "each token increments exactly depth cells")
  }

  test("latencyExact: cross-batch state carry, per-batch tie order, stream == batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StreamingJobs.LatRow
    def r(u: Long, id: Long, t: String, typ: String) =
      LatRow(u, id, java.sql.Timestamp.valueOf(t), typ)
    val b1 = Seq(
      r(1, 10, "2024-01-01 00:00:00", "click"),
      r(1, 11, "2024-01-01 00:00:30", "view"),
      r(2, 20, "2024-01-01 00:01:00", "purchase")) // no prior click → silent
    val b2 = Seq(
      r(1, 12, "2024-01-01 00:02:00", "purchase"), // click is in BATCH 1 state
      r(2, 21, "2024-01-01 00:03:00", "click"),
      r(2, 22, "2024-01-01 00:03:00", "purchase")) // same-ts tie: click id < purchase id → counts
    val ms = MemoryStream[LatRow]
    val q = StreamingJobs.latencyExact(ms.toDS())
      .writeStream.format("memory").queryName("t_lat").outputMode("append").start()
    try {
      ms.addData(b1); q.processAllAvailable()
      ms.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_lat")
      .select("user_id", "event_id", "proc_sec")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == Set((1L, 12L, 120L), (2L, 22L, 0L)),
      s"got $streamed — batch-1 click must serve batch-2's purchase; same-ts lower-id click counts")
    val batch = StreamingJobs.latencyExact((b1 ++ b2).toDS())
      .select("user_id", "event_id", "proc_sec")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == batch, "in-order stream == one-batch run of the same code path")
  }

  test("sessionizeStream closes sessions on gap and on watermark timeout") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingJobs.EventRow
    val ms = MemoryStream[EventRow]
    val q = StreamingJobs.sessionizeStream(spark, ms.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("t_sess").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then one 2 h
      // later (gap-closes the first, opens a second)
      ms.addData(
        EventRow(1, ts("2024-01-01 00:00:00"), 1.0),
        EventRow(1, ts("2024-01-01 00:10:00"), 2.0))
      q.processAllAvailable()
      ms.addData(EventRow(1, ts("2024-01-01 02:00:00"), 5.0))
      q.processAllAvailable()
      // far-future event advances the watermark past session 2's
      // timeout, flushing it via EventTimeTimeout
      ms.addData(EventRow(2, ts("2024-01-02 12:00:00"), 0.5))
      q.processAllAvailable()
      ms.addData(EventRow(2, ts("2024-01-03 12:00:00"), 0.5))
      q.processAllAvailable()

      val sessions = spark.table("t_sess")
        .as[StreamingJobs.SessionOut].collect().filter(_.user_id == 1L)
        .sortBy(_.session_start.getTime)
      assert(sessions.length == 2, s"expected both sessions closed, got ${sessions.toSeq}")
      assert(sessions(0).n_events == 2 && sessions(0).sum_value == 3.0)
      assert(sessions(0).session_end == ts("2024-01-01 00:10:00"))
      assert(sessions(1).n_events == 1 && sessions(1).sum_value == 5.0)
    } finally q.stop()
  }

  test("attributionJoin stream-stream interval join equals the batch run") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = Seq(
      Click(1, 101, ts("2024-01-01 00:05:00")),
      Click(1, 102, ts("2024-01-01 00:45:00")),
      Click(2, 103, ts("2024-01-01 01:05:00")),
      Click(2, 104, ts("2024-01-01 03:00:00"))) // > 1 h before any purchase
    val purchases = Seq(
      Purchase(1, 201, ts("2024-01-01 01:00:00"), 30.0),  // matches 101+102
      Purchase(1, 202, ts("2024-01-01 02:30:00"), 10.0),  // no click within 1 h
      Purchase(2, 203, ts("2024-01-01 01:30:00"), 5.0))   // matches 103
    val mc = MemoryStream[Click]; val mp = MemoryStream[Purchase]
    mc.addData(clicks); mp.addData(purchases)
    val q = StreamingJobs.attributionJoin(mc.toDF(), mp.toDF())
      .writeStream.format("memory").queryName("t_attr").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val streamed = spark.table("t_attr")
      .orderBy("purchase_id", "click_id")
      .as[(Long, Long, Long, Timestamp, Timestamp, Double)].collect().toSeq
    val batch = StreamingJobs.attributionJoin(clicks.toDF(), purchases.toDF())
      .orderBy("purchase_id", "click_id")
      .as[(Long, Long, Long, Timestamp, Timestamp, Double)].collect().toSeq
    assert(streamed == batch)
    assert(streamed.map(r => (r._2, r._3)) == Seq((201L, 101L), (201L, 102L), (203L, 103L)))
  }

  test("cmsStream runs from a parquet file source (multi-file trigger ordering cannot matter: counters add)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cmsfile").toString
    val docs = Seq("the cat sat", "a dog ran far", "the dog and the cat")
    // three files → three micro-batches under maxFilesPerTrigger=1
    docs.zipWithIndex.foreach { case (t, i) =>
      Seq(t).toDF("text").write.parquet(s"$dir/docs/part_$i") }
    val stream = spark.readStream.schema("text string")
      .option("maxFilesPerTrigger", "1").option("recursiveFileLookup", "true")
      .parquet(s"$dir/docs")
    val q = StreamingJobs.cmsStream(stream, depth = 3, width = 512)
      .writeStream.format("memory").queryName("t_cms_file").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_cms_file").orderBy("r", "bucket")
      .as[(Int, Int, Long)].collect().toSeq
    val batch = StreamingJobs.cmsStream(docs.toDF("text"), depth = 3, width = 512)
      .orderBy("r", "bucket").as[(Int, Int, Long)].collect().toSeq
    assert(streamed == batch, "file-fed incremental counters == one-batch counters")
  }

  test("tumblingAgg runs from a parquet file source (deployment topology, not just MemoryStream)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_filestream").toString
    val src = s"$dir/events"
    rows.toDF().write.parquet(src)
    val stream = spark.readStream
      .schema(rows.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(src)
    val q = StreamingJobs.tumblingAgg(stream)
      .writeStream.format("memory").queryName("t_file_agg").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("t_file_agg")
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    val batch = StreamingJobs.tumblingAgg(rows.toDF())
      .orderBy("window_start", "event_type")
      .as[(Timestamp, String, Long, Double)].collect().toSeq
    assert(streamed == batch && streamed.size == 3)
  }

  test("migrateStream keeps the mart current across batches (upserts, tombstones, snapshots)") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_stream").toString + "/mart"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mart_ckpt").toString
    case class Change(k: Long, ver: Long, v: String, deleted: Boolean)
    val ms = MemoryStream[(Long, Long, String, Boolean)]
    val q = StreamingJobs.migrateStream(
      ms.toDF().toDF("k", "ver", "v", "deleted"),
      root, keys = Seq("k"), versionCol = "ver", tieBreakCol = "v", checkpoint = ckpt)
    try {
      // batch 0: initial load
      ms.addData((1L, 1L, "a1", false), (2L, 1L, "b1", false))
      q.processAllAvailable()
      def mart() = StreamingJobs.readMartLatest(spark, root).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(mart() == Set((1L, "a1"), (2L, "b1")))
      // batch 1: re-submit key 1, tombstone key 2, insert key 3
      ms.addData((1L, 2L, "a2", false), (2L, 2L, "b-del", true), (3L, 1L, "c1", false))
      q.processAllAvailable()
      assert(mart() == Set((1L, "a2"), (3L, "c1")))
      // prior snapshot still readable (time travel), manifest moved on
      val tag = StreamingJobs.ensureRunTag(spark, ckpt)
      assert(spark.read.parquet(s"$root/${StreamingJobs.snapshotName(tag, 0)}").count() == 2)
      assert(StreamingJobs.readManifest(spark, root).map(_.applied)
        .contains(StreamingJobs.snapshotName(tag, 1)))
      // first-class time travel: the previous manifest version reads
      // back the EXACT pre-batch state (key 2 alive, key 3 absent)
      val versions = StreamingJobs.martVersions(spark, root)
      assert(versions.size >= 2 && versions == versions.sorted.reverse)
      val before = StreamingJobs.readMartAt(spark, root, versions(1)).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(before == Set((1L, "a1"), (2L, "b1")),
        s"version ${versions(1)} must be the pre-batch mart, got $before")
      assert(StreamingJobs.readMartAt(spark, root, versions.head).get
        .select("k", "v").as[(Long, String)].collect().toSet == mart())
      assert(StreamingJobs.readMartAt(spark, root, 999999L).isEmpty)
    } finally q.stop()
  }

  test("applyMigrateBatch replay guard is checkpoint-scoped: same-run replay skips, new-run batch 0 merges") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_replay").toString + "/mart"
    def mart() = StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    val b0 = Seq((1L, 1L, "a1", false)).toDF("k", "ver", "v", "deleted")
    // run 1, batch 0 applies
    assert(StreamingJobs.applyMigrateBatch(b0, 0L, "run1", root,
      Seq("k"), "ver", "v"))
    assert(mart() == Set((1L, "a1")))
    // crash window between publish and checkpoint commit: Spark
    // replays batch 0 from the SAME checkpoint — the applied marker
    // matches (runTag, batchId) and the merge must be skipped
    assert(!StreamingJobs.applyMigrateBatch(b0, 0L, "run1", root,
      Seq("k"), "ver", "v"))
    assert(mart() == Set((1L, "a1")))
    // a FRESH checkpoint restarts batch ids at 0: its batch 0 is
    // genuinely new data and MUST merge — a bare batch-id guard would
    // silently discard it (the round-3 advice scenario)
    val b0run2 = Seq((2L, 1L, "b1", false)).toDF("k", "ver", "v", "deleted")
    assert(StreamingJobs.applyMigrateBatch(b0run2, 0L, "run2", root,
      Seq("k"), "ver", "v"))
    assert(mart() == Set((1L, "a1"), (2L, "b1")),
      "new run's first batch must merge, not be mistaken for a replay")
    assert(StreamingJobs.readManifest(spark, root).map(_.applied)
      .contains(StreamingJobs.snapshotName("run2", 0)))
  }

  test("incremental publish: untouched buckets keep their files byte-identical across batches") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_incr").toString + "/mart"
    val nBuckets = 4
    // find two keys landing in different buckets with the engine's own
    // bucket function
    val buckets = spark.range(1, 50).toDF("k")
      .withColumn("b", StreamingJobs.bucketExpr(Seq("k"), nBuckets))
      .as[(Long, Int)].collect().toMap
    val k1 = 1L
    val k2 = (2L to 49L).find(k => buckets(k) != buckets(k1)).get
    def batchDF(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("k", "ver", "v", "deleted")
    assert(StreamingJobs.applyMigrateBatch(
      batchDF((k1, 1L, "a1", false), (k2, 1L, "b1", false)),
      0L, "t", root, Seq("k"), "ver", "v", nBuckets))
    val m0 = StreamingJobs.readManifest(spark, root).get
    val untouchedDir = s"$root/${m0.buckets(buckets(k2))}"
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def fileState(dir: String) =
      fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
        .filter(_.isFile)
        .map(f => (f.getPath.getName, f.getLen, f.getModificationTime)).sortBy(_._1)
    val before = fileState(untouchedDir)
    // batch 1 touches only k1's bucket
    assert(StreamingJobs.applyMigrateBatch(
      batchDF((k1, 2L, "a2", false)),
      1L, "t", root, Seq("k"), "ver", "v", nBuckets))
    val m1 = StreamingJobs.readManifest(spark, root).get
    // k2's bucket still references the batch-0 snapshot dir, unrewritten
    assert(m1.buckets(buckets(k2)) == m0.buckets(buckets(k2)),
      s"untouched bucket must keep its directory: $m0 -> $m1")
    assert(m1.buckets(buckets(k1)) != m0.buckets(buckets(k1)),
      "touched bucket must move to the new snapshot")
    assert(fileState(untouchedDir) == before,
      "untouched bucket files must be byte-identical (same name/len/mtime)")
    // and the merged mart equals the full-recompute semantics
    val mart = StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(mart == Set((k1, "a2"), (k2, "b1")))
  }

  test("manifest publish is single-failure-safe: versioned files, previous version is the crash fallback") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_vers").toString + "/mart"
    def batchDF(rows: (Long, Long, String, Boolean)*) =
      rows.toDF("k", "ver", "v", "deleted")
    assert(StreamingJobs.applyMigrateBatch(
      batchDF((1L, 1L, "a1", false)), 0L, "t", root, Seq("k"), "ver", "v", 2))
    assert(StreamingJobs.applyMigrateBatch(
      batchDF((1L, 2L, "a2", false)), 1L, "t", root, Seq("k"), "ver", "v", 2))
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("_LATEST")).sorted.toSeq
    // each publish lands as ONE atomic rename to a fresh _LATEST.<n>;
    // the immediately previous version is retained as the fallback
    assert(manifests == Seq("_LATEST.1", "_LATEST.2"), manifests.toString)
    assert(StreamingJobs.readManifest(spark, root).map(_.applied)
      .contains(StreamingJobs.snapshotName("t", 1L)))
    // crash simulation: at no point during a publish does the root lack
    // a resolvable manifest — if the newest were lost mid-publish, the
    // previous version still resolves to the pre-batch state (so a
    // replay merges against the REAL prior mart, not an empty one)
    fs.delete(new org.apache.hadoop.fs.Path(root, "_LATEST.2"), false)
    assert(StreamingJobs.readManifest(spark, root).map(_.applied)
      .contains(StreamingJobs.snapshotName("t", 0L)),
      "previous manifest version must remain resolvable")
    val mart = StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(mart == Set((1L, "a1")), "fallback reads the pre-batch mart state")
    // and the replayed batch now re-merges (its marker was in the lost
    // version), converging to the post-batch state — no data loss
    assert(StreamingJobs.applyMigrateBatch(
      batchDF((1L, 2L, "a2", false)), 1L, "t", root, Seq("k"), "ver", "v", 2))
    assert(StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet == Set((1L, "a2")))
  }

  test("bucket-scheme change re-buckets once instead of leaving stale rows reachable (latest-state and OLAP marts)") {
    implicit val sqlCtx = spark.sqlContext
    // (mart kind, apply a (k, x) batch under nBuckets, the mart as
    // (k, value), the value of key k after both batches below)
    val marts = Seq[(String, (org.apache.spark.sql.DataFrame, Long, String, Int) => Boolean,
                     org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame, Long => Double)](
      ("latest-state",
        (b, id, root, n) => StreamingJobs.applyMigrateBatch(
          b.withColumn("ver", lit(id)).withColumn("deleted", lit(false)),
          id, "runA", root, Seq("k"), "ver", "x", nBuckets = n),
        _.select("k", "x"), _ => 100.0),
      ("OLAP-partials",
        (b, id, root, n) => StreamingJobs.applyOlapBatch(
          b, id, "runA", root, Seq("k"), "x", nBuckets = n),
        StreamingJobs.olapDerive(_, Seq("k")).select("k", "sum_value"), k => k + 100.0))
    val keys = 1L to 20L
    for ((kind, apply, view, expected) <- marts) {
      val root = java.nio.file.Files.createTempDirectory("graft_rebucket").toString + "/mart"
      def mart() = view(StreamingJobs.readMartLatest(spark, root).get)
        .as[(Long, Double)].collect().toSeq.sorted
      assert(apply(keys.map(k => (k, k.toDouble)).toDF("k", "x"), 0L, root, 4))
      assert(StreamingJobs.readManifest(spark, root).get.scheme == 4)
      // scheme change (4 → 2 buckets) with every key updated: without
      // re-bucketing, the rows in old buckets 2 and 3 would stay
      // reachable beside their replacements (latest-state) or unmerged
      // with them (OLAP)
      assert(apply(keys.map(k => (k, 100.0)).toDF("k", "x"), 1L, root, 2))
      assert(mart() == keys.map(k => (k, expected(k))),
        s"$kind: an nBuckets change must re-bucket, not strand old-scheme rows")
      assert(StreamingJobs.readManifest(spark, root).get.scheme == 2)
    }
  }

  test("migrateStream expiry hook keeps snapshot count bounded with readers unbroken") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_expire").toString + "/mart"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mart_expck").toString
    val ms = MemoryStream[(Long, Long, String, Boolean)]
    val q = StreamingJobs.migrateStream(
      ms.toDF().toDF("k", "ver", "v", "deleted"),
      root, keys = Seq("k"), versionCol = "ver", tieBreakCol = "v",
      checkpoint = ckpt, nBuckets = 2, expireEvery = 1, expireKeep = 0)
    try {
      (1L to 5L).foreach { i =>
        ms.addData((i % 2, i, s"v$i", false))
        q.processAllAvailable()
      }
    } finally q.stop()
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .map(_.getPath.getName).filter(_.startsWith("v_")).toSet
    val referenced = StreamingJobs.readManifest(spark, root).get
      .buckets.values.map(_.split("/")(0)).toSet
    // every surviving dir is manifest-referenced or the applied marker:
    // expiry deleted the orphans but never a dir a reader can reach
    assert(snapDirs.size <= referenced.size + 1,
      s"unreferenced snapshots must be expired: $snapDirs vs $referenced")
    val mart = StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(mart == Set((0L, "v4"), (1L, "v5")))
  }

  test("retainVersions=k time travel: every retained version reads back exactly, older ones expire") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_mart_depthk").toString + "/mart"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mart_dkck").toString
    val ms = MemoryStream[(Long, Long, String, Boolean)]
    // aggressive dir expiry (keep 0 unreferenced) every batch: the
    // depth-4 window must survive on manifest references alone
    val q = StreamingJobs.migrateStream(
      ms.toDF().toDF("k", "ver", "v", "deleted"),
      root, keys = Seq("k"), versionCol = "ver", tieBreakCol = "v",
      checkpoint = ckpt, nBuckets = 2, expireEvery = 1, expireKeep = 0,
      retainVersions = 4)
    def mart() = StreamingJobs.readMartLatest(spark, root).get
      .select("k", "v").as[(Long, String)].collect().toSet
    val observed = scala.collection.mutable.ArrayBuffer.empty[(Long, Set[(Long, String)])]
    try {
      (1L to 6L).foreach { i =>
        ms.addData((i % 3, i, s"v$i", false))
        q.processAllAvailable()
        observed += ((StreamingJobs.martVersions(spark, root).head, mart()))
      }
    } finally q.stop()
    // exactly the 4 newest manifest versions resolve, newest first
    val versions = StreamingJobs.martVersions(spark, root)
    assert(versions == observed.toSeq.reverse.take(4).map(_._1),
      s"retained window must be the 4 newest published versions, got $versions")
    // and each reads back EXACTLY the state observed when it was live
    observed.toSeq.reverse.take(4).foreach { case (ver, state) =>
      val got = StreamingJobs.readMartAt(spark, root, ver).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(got == state, s"version $ver must read back $state, got $got")
    }
    // versions that fell out of the window are gone, not half-readable
    observed.toSeq.dropRight(4).foreach { case (ver, _) =>
      assert(StreamingJobs.readMartAt(spark, root, ver).isEmpty,
        s"expired version $ver must no longer resolve")
    }
  }

  test("multi-tenant continuous migrate: concurrent tenant streams are byte-level isolated") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_mt_mart").toString + "/mart"
    val rootA = StreamingJobs.tenantMartRoot(base, "CA")
    val rootB = StreamingJobs.tenantMartRoot(base, "TX")
    val ckA = java.nio.file.Files.createTempDirectory("graft_mt_ckA").toString
    val ckB = java.nio.file.Files.createTempDirectory("graft_mt_ckB").toString
    val msA = MemoryStream[(Long, Long, String, Boolean)]
    val msB = MemoryStream[(Long, Long, String, Boolean)]
    def start(ms: MemoryStream[(Long, Long, String, Boolean)], root: String, ck: String) =
      StreamingJobs.migrateStream(ms.toDF().toDF("k", "ver", "v", "deleted"),
        root, keys = Seq("k"), versionCol = "ver", tieBreakCol = "v",
        checkpoint = ck, nBuckets = 4)
    val qA = start(msA, rootA, ckA)
    val qB = start(msB, rootB, ckB)
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def tree(root: String): Seq[(String, Long, Long)] = {
      def walk(p: org.apache.hadoop.fs.Path): Seq[(String, Long, Long)] =
        fs.listStatus(p).toSeq.flatMap { st =>
          if (st.isDirectory) walk(st.getPath)
          else Seq((st.getPath.toString, st.getLen, st.getModificationTime))
        }
      walk(new org.apache.hadoop.fs.Path(root)).sortBy(_._1)
    }
    try {
      // both tenants ingest concurrently
      msA.addData((1L, 1L, "ca1", false)); msB.addData((1L, 1L, "tx1", false))
      qA.processAllAvailable(); qB.processAllAvailable()
      val aAfterOwnWrites = tree(rootA)
      // only tenant B advances — same natural keys, different payloads
      msB.addData((1L, 2L, "tx2", false), (2L, 1L, "tx3", false))
      qB.processAllAvailable()
      assert(tree(rootA) == aAfterOwnWrites,
        "tenant B's batches must not touch one byte of tenant A's tree")
      // per-tenant reads resolve only their own manifests: same key,
      // different state per tenant
      def mart(root: String) = StreamingJobs.readMartLatest(spark, root).get
        .select("k", "v").as[(Long, String)].collect().toSet
      assert(mart(rootA) == Set((1L, "ca1")))
      assert(mart(rootB) == Set((1L, "tx2"), (2L, "tx3")))
      // every file a tenant read touches lives under that tenant's
      // root — isolation is structural (the directory), not a filter
      val aFiles = StreamingJobs.readMartLatest(spark, rootA).get
        .inputFiles.toSeq
      assert(aFiles.nonEmpty && aFiles.forall(_.contains("tenant=CA")),
        s"tenant A read escaped its root: $aFiles")
    } finally { qA.stop(); qB.stop() }
  }

  test("olapMigrateStream: mart maintained across batches == full recompute; replay can't double-count") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_olap_mart").toString + "/mart"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_olap_ck1").toString
    def feed(ms: MemoryStream[Ev], evs: Seq[Ev], q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      ms.addData(evs); q.processAllAvailable()
    }
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.olapMigrateStream(
      ms.toDF().withColumn("mart_hour", date_trunc("hour", col("ts"))),
      root, keys = Seq("mart_hour", "event_type"), valueCol = "value",
      checkpoint = ckpt)
    try {
      feed(ms, rows.take(3), q)
      feed(ms, rows.drop(3), q)
    } finally q.stop()
    def derived = StreamingJobs.olapDerive(
      StreamingJobs.readMartLatest(spark, root).get,
      Seq("mart_hour", "event_type"))
      .orderBy("mart_hour", "event_type")
      .as[(Timestamp, String, Double, Long, Double)].collect().toSeq
    val full = StreamingJobs.olapDerive(
      StreamingJobs.olapPartials(
        rows.toDF().withColumn("mart_hour", date_trunc("hour", col("ts"))),
        Seq("mart_hour", "event_type"), "value"),
      Seq("mart_hour", "event_type"))
      .orderBy("mart_hour", "event_type")
      .as[(Timestamp, String, Double, Long, Double)].collect().toSeq
    assert(derived == full,
      s"mart after 2 delta merges must equal the full recompute:\n$derived\n$full")
    assert(StreamingJobs.readManifest(spark, root).map(_.applied)
      .contains(StreamingJobs.snapshotName(StreamingJobs.ensureRunTag(spark, ckpt), 1)))
    // crash replay within the SAME run (same checkpoint → same runTag):
    // the applied marker matches, so re-merging the partials — which
    // would double-count — must be skipped
    val before = derived
    val replay = rows.drop(3).toDF()
      .withColumn("mart_hour", date_trunc("hour", col("ts")))
    assert(!StreamingJobs.applyOlapBatch(replay, 1L,
      StreamingJobs.ensureRunTag(spark, ckpt), root,
      Seq("mart_hour", "event_type"), "value"))
    assert(derived == before, "an already-applied (run, batch) must not re-merge")
    // a DIFFERENT run's batch 1 (fresh checkpoint, ids restart) is new
    // data and must merge — checkpoint-scoped guard, not bare batch id
    assert(StreamingJobs.applyOlapBatch(replay, 1L, "otherrun", root,
      Seq("mart_hour", "event_type"), "value"))
    assert(derived != before, "a new run's delta must merge into the mart")
  }

  test("sessionizeExact: incremental stream equals the batch run (trailing session via timeout)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingJobs.SessRow
    val evs = Seq(
      SessRow(1, ts("2024-01-01 00:00:00"), 1000),
      SessRow(1, ts("2024-01-01 00:10:00"), 250),   // same session (gap 30 min)
      SessRow(1, ts("2024-01-01 01:30:00"), 700),   // new session
      SessRow(2, ts("2024-01-01 00:05:00"), 50))
    val batch = StreamingJobs.sessionizeExact(evs.toDS(), gapSeconds = 1800)
      .collect().toSet
    assert(batch.size == 3, s"expected 3 sessions incl. trailing ones: $batch")
    assert(batch.exists(s => s.user_id == 1 && s.n_events == 2 && s.cents == 1250))
    val ms = MemoryStream[SessRow]
    val q = StreamingJobs.sessionizeExact(ms.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("t_sess_exact")
      .outputMode("append").start()
    try {
      // user 2's 00:05 event must ride the FIRST batch — in a later
      // batch it would sit below the watermark and be dropped as late
      ms.addData(Seq(evs(0), evs(1), evs(3)))
      q.processAllAvailable()
      ms.addData(Seq(evs(2)))
      q.processAllAvailable()
      // push the watermark far forward so open sessions time out
      ms.addData(SessRow(99, ts("2024-01-02 12:00:00"), 1))
      q.processAllAvailable()
      ms.addData(SessRow(98, ts("2024-01-03 12:00:00"), 1))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_sess_exact")
      .as[StreamingJobs.SessAgg].collect().toSet
      .filter(s => s.user_id == 1 || s.user_id == 2)
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("nearDupStream: stream == batch code path == declarative self-join oracle") {
    implicit val sqlCtx = spark.sqlContext
    // duplicate pair within the horizon (docs 10/11, hamming 0 → hits
    // on all 4 chunks), unrelated doc 12, and doc 13 textually equal
    // to 10 but OUTSIDE the 1 h horizon — the horizon must exclude it
    // from pairing with 10/11
    val near = "alpha beta gamma delta epsilon zeta eta theta"
    val mk = Seq(
      (10L, ts("2024-01-01 00:00:00"), near),
      (11L, ts("2024-01-01 00:10:00"), near),
      (12L, ts("2024-01-01 00:20:00"), "one two three four five six seven eight"),
      (13L, ts("2024-01-01 02:00:00"), near))
    val docs = mk.toDF("doc_id", "ts", "text")
    val horizon = 3600L

    // 1) batch run of the exact streaming code path
    val batch = StreamingJobs.nearDupStream(
      StreamingJobs.simhashChunks(docs), horizon)
      .collect().toSet

    // 2) declarative oracle: bucket self-join with the same horizon
    val ch = StreamingJobs.simhashChunks(docs).toDF()
    val a = ch.select(col("chunk"), col("cv"), col("doc_id").as("a_id"),
      col("ts").as("a_ts"), col("sig").as("a_sig"))
    val b = ch.select(col("chunk"), col("cv"), col("doc_id").as("b_id"),
      col("ts").as("b_ts"), col("sig").as("b_sig"))
    val decl = a.join(b, Seq("chunk", "cv"))
      .filter((col("a_ts") < col("b_ts")) ||
        (col("a_ts") === col("b_ts") && col("a_id") < col("b_id")))
      .filter(col("a_ts") >= col("b_ts") - expr(s"INTERVAL $horizon SECOND"))
      .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))))
      .filter(col("hamming") <= 3 && col("a_id") =!= col("b_id"))
      .select(col("chunk"), col("a_id"), col("b_id"), col("hamming"))
      .as[StreamingJobs.NearDupHit].collect().toSet
    assert(batch == decl, s"batch path $batch != declarative $decl")
    assert(batch.size == 4 && batch.forall(h =>
      h.a_id == 10 && h.b_id == 11 && h.hamming == 0),
      s"expected the 10-11 pair on all 4 chunks (13 is outside the horizon): $batch")

    // 3) incremental MemoryStream run, fed across two micro-batches
    val ms = MemoryStream[(Long, Timestamp, String)]
    val stream = StreamingJobs.nearDupStream(
      StreamingJobs.simhashChunks(ms.toDF().toDF("doc_id", "ts", "text")), horizon)
    val q = stream.writeStream.format("memory").queryName("t_neardup")
      .outputMode("append").start()
    try {
      ms.addData(mk.take(2).map(r => (r._1, r._2, r._3)))
      q.processAllAvailable()
      ms.addData(mk.drop(2).map(r => (r._1, r._2, r._3)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_neardup")
      .as[StreamingJobs.NearDupHit].collect().toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("nearDupStream orients same-timestamp pairs by doc_id even when split across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    // two near-dup docs with the SAME timestamp; the LARGER doc_id
    // arrives in the FIRST micro-batch. A stored-entry-is-always-'a'
    // assumption would emit (20, 7) and diverge from the batch run,
    // which sorts by (ts, doc_id) and emits (7, 20).
    val near = "alpha beta gamma delta epsilon zeta eta theta"
    val t0 = ts("2024-01-01 00:00:00")
    val docs = Seq((20L, t0, near), (7L, t0, near))
    val batch = StreamingJobs.nearDupStream(
      StreamingJobs.simhashChunks(docs.toDF("doc_id", "ts", "text")), 3600L)
      .collect().toSet
    assert(batch.nonEmpty && batch.forall(h => h.a_id == 7L && h.b_id == 20L),
      s"batch orientation must be (7, 20): $batch")
    val ms = MemoryStream[(Long, Timestamp, String)]
    val q = StreamingJobs.nearDupStream(
        StreamingJobs.simhashChunks(ms.toDF().toDF("doc_id", "ts", "text")), 3600L)
      .writeStream.format("memory").queryName("t_neardup_tie")
      .outputMode("append").start()
    try {
      ms.addData(Seq(docs(0))) // doc 20 first
      q.processAllAvailable()
      ms.addData(Seq(docs(1))) // doc 7 in a LATER batch
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("t_neardup_tie")
      .as[StreamingJobs.NearDupHit].collect().toSet
    assert(streamed == batch,
      s"tie split across micro-batches must keep the oracle's pair direction: $streamed vs $batch")
  }

  test("dedupe keeps one row per (user_id, event_type)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    ms.addData(rows)
    val q = StreamingJobs.dedupe(ms.toDF())
      .writeStream.format("memory").queryName("t_dedup").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.table("t_dedup").select("user_id", "event_type")
      .as[(Long, String)].collect().toSet
    assert(got == Set((1L, "click"), (2L, "view")))
    assert(spark.table("t_dedup").count() == 2)
  }

  test("dedupe state is evicted once the watermark passes (bounded state, key re-emits later)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = StreamingJobs.dedupe(ms.toDF())
      .writeStream.format("memory").queryName("t_dedup_wm").outputMode("append").start()
    try {
      // duplicate inside the 2 h watermark window → deduped
      ms.addData(Ev(1, ts("2024-01-01 00:00:00"), 1, "click", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(2, ts("2024-01-01 00:30:00"), 1, "click", 2.0))
      q.processAllAvailable()
      // advance the watermark far past the key's expiry, then re-send
      // the SAME key: with dropDuplicatesWithinWatermark its state was
      // evicted, so the re-submission is a NEW row (plain
      // dropDuplicates would hold the state forever and swallow it)
      ms.addData(Ev(3, ts("2024-01-02 00:00:00"), 9, "view", 0.0))
      q.processAllAvailable()
      ms.addData(Ev(4, ts("2024-01-02 00:00:01"), 1, "click", 3.0))
      q.processAllAvailable()
      val clicks = spark.table("t_dedup_wm")
        .filter(col("user_id") === 1).select("event_id").as[Long].collect().toSet
      assert(clicks == Set(1L, 4L),
        s"expected eviction + re-emit for the late re-submission, got $clicks")
    } finally q.stop()
  }

  test("sessionizeStream survives an event at-or-below the watermark (timeout clamp)") {
    implicit val sqlCtx = spark.sqlContext
    import StreamingJobs.EventRow
    val ms = MemoryStream[EventRow]
    val q = StreamingJobs.sessionizeStream(spark, ms.toDS(), gapSeconds = 1800)
      .writeStream.format("memory").queryName("t_sess_late").outputMode("append").start()
    try {
      // push the watermark far ahead
      ms.addData(EventRow(1, ts("2024-01-02 00:00:00"), 1.0))
      q.processAllAvailable()
      // straggler whose last + gap is far BELOW the watermark: without
      // the clamp setTimeoutTimestamp throws and kills the query
      ms.addData(EventRow(2, ts("2024-01-01 00:00:00"), 2.0))
      q.processAllAvailable()
      // advance the watermark again to flush any admitted state
      ms.addData(EventRow(3, ts("2024-01-03 00:00:00"), 3.0))
      q.processAllAvailable()
      assert(q.exception.isEmpty, s"query died: ${q.exception}")
      // Spark 4.1 drops the below-watermark row before it reaches the
      // state function, so the straggler produces no session; the
      // clamp guards the remaining at-the-boundary case. The contract
      // under test: a straggler NEVER kills the query.
      val flushed = spark.table("t_sess_late")
        .as[StreamingJobs.SessionOut].collect().filter(_.user_id == 2L)
      assert(flushed.isEmpty || flushed.head.n_events == 1)
    } finally q.stop()
  }
}
