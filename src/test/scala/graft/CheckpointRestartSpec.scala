package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Exactly-once across restart: a watermarked windowed aggregation over
  * a file source, stopped and restarted from its checkpoint, emits each
  * closed window exactly once to the parquet sink.
  */
class CheckpointRestartSpec extends SparkSuite {

  private def writeEvents(dir: Path, name: String, rows: Seq[(String, Double)]): Unit = {
    val body = rows.map { case (ts, v) => s"""{"ts":"$ts","v":$v}""" }.mkString("\n")
    Files.writeString(dir.resolve(name), body)
  }

  test("windowed aggregation restart emits each window exactly once") {
    val src = tmpDir("cpr_src"); val out = tmpDir("cpr_out"); val ckpt = tmpDir("cpr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, v DOUBLE")

    def startQuery() = spark.readStream.schema(schema).json(src.toString)
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "10 seconds"))
      .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("n"))
      .select(col("window.start").as("w"), col("sum_v"), col("n"))
      .writeStream
      .format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .start()

    // phase 1: events up to t=25 close windows [0,10) and [10,20)
    writeEvents(src, "f1.json", Seq(
      ("2024-01-01T00:00:02Z", 1.0), ("2024-01-01T00:00:07Z", 2.0),
      ("2024-01-01T00:00:12Z", 4.0), ("2024-01-01T00:00:25Z", 8.0)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()

    // phase 2: restart from the checkpoint; t=100 closes [20,30)
    writeEvents(src, "f2.json", Seq(("2024-01-01T00:01:40Z", 16.0)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .select(date_format(col("w"), "HH:mm:ss").as("w"), col("sum_v"), col("n"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSeq.sorted
    // each closed window appears exactly once, with the full sums
    assert(got == Seq(
      ("00:00:00", 3.0, 2L),
      ("00:00:10", 4.0, 1L),
      ("00:00:20", 8.0, 1L)))
  }

  test("abMonitor restart from checkpoint emits each experiment window exactly once") {
    val src = tmpDir("abr_src"); val out = tmpDir("abr_out"); val ckpt = tmpDir("abr_ckpt")
    val schema = StructType.fromDDL(
      "user_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE")
    def writeRows(name: String, rows: Seq[(Long, String, String, Double)]): Unit = {
      val body = rows.map { case (u, ts, et, v) =>
        s"""{"user_id":$u,"ts":"$ts","event_type":"$et","value":$v}"""
      }.mkString("\n")
      java.nio.file.Files.writeString(src.resolve(name), body)
    }
    def startQuery() = graft.streaming.StatefulOps.abMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "0 seconds", "10 seconds", 150.0)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // users 0,1,2 land in md5-variant 0; 3,4 in variant 1 (pinned below).
    // phase 1: window [0,10) gets a variant-0 conversion + a variant-1
    // view; the t=25 event closes it
    writeRows("f1.json", Seq(
      (0L, "2024-01-01T00:00:02Z", "purchase", 999.0),
      (3L, "2024-01-01T00:00:04Z", "view", 1.0),
      (4L, "2024-01-01T00:00:25Z", "view", 1.0)))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — its row must appear
    // exactly once and phase-1 windows must NOT re-emit
    writeRows("f2.json", Seq((1L, "2024-01-01T00:01:40Z", "view", 1.0)))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).sortBy(_._1).toSeq
    val base = 1704067200000L // 2024-01-01T00:00:00Z epoch ms
    // [0,10): u0 (arm 0) converts, u3 (arm 1) views → n0=1,c0=1,n1=1,c1=0,
    //   z = (0/1 - 1/1) / sqrt(0.5·0.5·(1/1 + 1/1)) = -√2
    // [20,30): u4 (arm 1) views → n0=0 triggers the empty-arm guard, z=0
    assert(got.map(t => (t._1, t._2, t._3, t._4, t._5)) == Seq(
      (base, 1L, 1L, 1L, 0L), (base + 20000L, 0L, 0L, 1L, 0L)),
      s"each closed window exactly once with full counts: ${got.mkString(", ")}")
    assert(math.abs(got(0)._6 - (-math.sqrt(2.0))) < 1e-12 && got(1)._6 == 0.0,
      s"z values: ${got.map(_._6)}")
  }

  test("dqMonitor restart emits each window's report exactly once") {
    val src = tmpDir("dqr_src"); val out = tmpDir("dqr_out"); val ckpt = tmpDir("dqr_ckpt")
    val schema = StructType.fromDDL(
      "ts TIMESTAMP, event_type STRING, value DOUBLE, props STRING")
    def writeRows(name: String, rows: Seq[(String, String, Double, String)]): Unit = {
      val body = rows.map { case (ts, et, v, p) =>
        s"""{"ts":"$ts","event_type":"$et","value":$v,"props":${p}}"""
      }.mkString("\n")
      java.nio.file.Files.writeString(src.resolve(name), body)
    }
    def startQuery() = graft.streaming.StatefulOps.dqMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "0 seconds", "10 seconds", 100.0, Seq("view", "purchase"))
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) has one clean row and one range violation;
    // the t=25 row closes it
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:02Z", "view", 10.0, "\"{\\\"k\\\": 1}\""),
      ("2024-01-01T00:00:04Z", "view", 500.0, "\"{\\\"k\\\": 2}\""),
      ("2024-01-01T00:00:25Z", "view", 1.0, "\"{\\\"k\\\": 3}\"")))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — exactly one new report
    // per check, and the phase-1 window must NOT re-emit
    writeRows("f2.json", Seq(
      ("2024-01-01T00:01:40Z", "view", 1.0, "\"{\\\"k\\\": 4}\"")))
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getBoolean(4))).sortBy(t => (t._1, t._2)).toSeq
    val base = 1704067200000L // 2024-01-01T00:00:00Z epoch ms
    assert(got == Seq(
      (base, "props_parse", 0L, 2L, true),
      (base, "type_domain", 0L, 2L, true),
      (base, "value_range", 1L, 2L, false),
      (base + 20000L, "props_parse", 0L, 1L, true),
      (base + 20000L, "type_domain", 0L, 1L, true),
      (base + 20000L, "value_range", 0L, 1L, true)),
      s"each closed window's report exactly once: ${got.mkString(", ")}")
  }

  test("calibrationMonitor restart emits each (window, bin) exactly once") {
    val src = tmpDir("calr_src"); val out = tmpDir("calr_out"); val ckpt = tmpDir("calr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    def writeRows(name: String, rows: Seq[(String, String, Double)]): Unit =
      java.nio.file.Files.writeString(src.resolve(name), rows.map { case (ts, et, v) =>
        s"""{"ts":"$ts","event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.calibrationMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "0 seconds", "10 seconds", binCents = 5000L, maxBin = 4)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) fills bins 0 (one view) and 1 (one
    // purchase); the t=25 row closes it
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:02Z", "view", 10.0),
      ("2024-01-01T00:00:04Z", "purchase", 60.0),
      ("2024-01-01T00:00:25Z", "view", 1.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — the phase-1 window must
    // NOT re-emit and the restored state must carry the t=25 row
    writeRows("f2.json", Seq(("2024-01-01T00:01:40Z", "view", 1.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).sortBy(t => (t._1, t._2)).toSeq
    val base = 1704067200000L
    assert(got == Seq(
      (base, 0L, 1L, 0L, 1000L, 0.0),
      (base, 1L, 1L, 1L, 6000L, 1.0),
      (base + 20000L, 0L, 1L, 0L, 100L, 0.0)),
      s"each (window, bin) exactly once: ${got.mkString(", ")}")
  }

  test("gainsMonitor restart emits each (window, bin) gains row exactly once") {
    val src = tmpDir("gnr_src"); val out = tmpDir("gnr_out"); val ckpt = tmpDir("gnr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    def writeRows(name: String, rows: Seq[(String, String, Double)]): Unit =
      java.nio.file.Files.writeString(src.resolve(name), rows.map { case (ts, et, v) =>
        s"""{"ts":"$ts","event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.gainsMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "0 seconds", "10 seconds", binCents = 5000L, maxBin = 4)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) fills bin 0 (one view) and bin 1 (one
    // purchase) — best-first: b1 capture 1 lift 2, b0 capture 1 lift 0;
    // the t=25 row stays open state
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:02Z", "view", 10.0),
      ("2024-01-01T00:00:04Z", "purchase", 60.0),
      ("2024-01-01T00:00:25Z", "view", 1.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — phase-1 rows must NOT
    // re-emit; the restored window has no positive → NULL capture/lift
    writeRows("f2.json", Seq(("2024-01-01T00:01:40Z", "view", 1.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) None else Some(r.getDouble(6)),
        if (r.isNullAt(7)) None else Some(r.getDouble(7))))
      .sortBy(t => (t._1, -t._2)).toSeq
    val base = 1704067200000L
    assert(got == Seq(
      (base, 1L, 1L, 1L, 1L, 1L, Some(1.0), Some(2.0)),
      (base, 0L, 1L, 0L, 2L, 1L, Some(1.0), Some(0.0)),
      (base + 20000L, 0L, 1L, 0L, 1L, 0L, None, None)),
      s"each (window, bin) exactly once: ${got.mkString(", ")}")
  }

  test("activeUsersMonitor restart emits each window's actives exactly once") {
    val src = tmpDir("aur_src"); val out = tmpDir("aur_out"); val ckpt = tmpDir("aur_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, user_id BIGINT")
    def writeRows(name: String, rows: Seq[(String, Long)]): Unit =
      java.nio.file.Files.writeString(src.resolve(name), rows.map { case (ts, u) =>
        s"""{"ts":"$ts","user_id":$u}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.activeUsersMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "ts", "user_id", latenessSec = 0L, winSec = 10L, roll = 2)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: users 1,2 in [0,10); the t=35 pusher's own coverage
    // advances the watermark to 35, closing [0,10) (dau 2, wau 2) and
    // [10,20) (dau 0, wau 2 — roll-2 trailing coverage)
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:02Z", 1L),
      ("2024-01-01T00:00:04Z", 2L),
      ("2024-01-01T00:00:35Z", 9L)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; the t=100 pusher closes the pusher's own
    // [30,40) and [40,50) — phase-1 windows must NOT re-emit
    writeRows("f2.json", Seq(("2024-01-01T00:01:40Z", 9L)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3))))
      .sortBy(_._1).toSeq
    val base = 1704067200000L
    assert(got == Seq(
      (base, 2L, 2L, Some(1.0)),
      (base + 10000L, 0L, 2L, Some(0.0)),
      (base + 30000L, 1L, 1L, Some(1.0)),
      (base + 40000L, 0L, 1L, Some(0.0))),
      s"each window exactly once: ${got.mkString(", ")}")
  }

  test("aucMonitor restart emits each window's AUC exactly once") {
    val src = tmpDir("aucr_src"); val out = tmpDir("aucr_out"); val ckpt = tmpDir("aucr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    def writeRows(name: String, rows: Seq[(String, String, Double)]): Unit =
      java.nio.file.Files.writeString(src.resolve(name), rows.map { case (ts, et, v) =>
        s"""{"ts":"$ts","event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.aucMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "0 seconds", "10 seconds", binCents = 5000L, maxBin = 4)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) has a low-bucket view and a high-bucket
    // purchase (perfect separation, 2U = 2); t=25 closes it
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:02Z", "view", 10.0),
      ("2024-01-01T00:00:04Z", "purchase", 60.0),
      ("2024-01-01T00:00:25Z", "view", 1.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — the phase-1 window must
    // NOT re-emit; the restored state carries the t=25 all-neg row
    writeRows("f2.json", Seq(("2024-01-01T00:01:40Z", "view", 1.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), if (r.isNullAt(4)) None else Some(r.getDouble(4))))
      .sortBy(_._1).toSeq
    val base = 1704067200000L
    assert(got == Seq(
      (base, 1L, 1L, 2L, Some(1.0)),
      (base + 20000L, 0L, 1L, 0L, None)),
      s"each window's AUC exactly once: ${got.mkString(", ")}")
  }

  test("quantileMonitor restart emits each window exactly once with full sketches") {
    val src = tmpDir("qmr_src"); val out = tmpDir("qmr_out"); val ckpt = tmpDir("qmr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, event_type STRING, value DOUBLE")
    def writeRows(name: String, rows: Seq[(String, String, Double)]): Unit =
      java.nio.file.Files.writeString(src.resolve(name), rows.map { case (ts, et, v) =>
        s"""{"ts":"$ts","event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.quantileMonitor(
        spark.readStream.schema(schema).json(src.toString), "0 seconds", "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) collects values 1..4; t=25 closes it
    writeRows("f1.json", Seq(
      ("2024-01-01T00:00:01Z", "api", 1.0), ("2024-01-01T00:00:02Z", "api", 2.0),
      ("2024-01-01T00:00:03Z", "api", 3.0), ("2024-01-01T00:00:04Z", "api", 4.0),
      ("2024-01-01T00:00:25Z", "api", 50.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — the restored sketch state
    // must hold the value 50 and neither window may re-emit
    writeRows("f2.json", Seq(("2024-01-01T00:01:40Z", "api", 1.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3),
        r.getDouble(5), r.getDouble(6))).sortBy(_._1).toSeq
    val base = 1704067200000L
    assert(got == Seq((base, 4L, 2.0, 1.0, 4.0), (base + 20000L, 1L, 50.0, 50.0, 50.0)),
      s"each closed window exactly once with full stats: ${got.mkString(", ")}")
  }

  private val docSchema = StructType.fromDDL(
    "ts TIMESTAMP, source STRING, text STRING")

  private def writeDocRows(dir: Path, name: String,
      rows: Seq[(String, String)]): Unit =
    Files.writeString(dir.resolve(name), rows.map { case (ts, text) =>
      s"""{"ts":"$ts","source":"s0","text":"$text"}"""
    }.mkString("\n"))

  test("topkMonitor restart emits each window's candidates exactly once") {
    val src = tmpDir("tkr_src"); val out = tmpDir("tkr_out"); val ckpt = tmpDir("tkr_ckpt")
    def startQuery() = graft.streaming.StatefulOps.topkMonitor(
        spark.readStream.schema(docSchema).json(src.toString),
        "text", "ts", "0 seconds", "10 seconds", capacity = 3)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) holds 8 tokens, 'hot' 4x (> 8/4 — MG
    // guarantees it survives); the t=25 doc stays open state
    writeDocRows(src, "f1.json", Seq(
      ("2024-01-01T00:00:02Z", "hot hot hot cold1 cold2"),
      ("2024-01-01T00:00:04Z", "hot warm warm"),
      ("2024-01-01T00:00:25Z", "late late")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — the phase-1 window must
    // NOT re-emit and the restored MG buffer must hold the t=25 tokens
    writeDocRows(src, "f2.json", Seq(("2024-01-01T00:01:40Z", "flush")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[String](2).toSet)).sortBy(_._1).toSeq
    val base = 1704067200000L
    assert(got.map(t => (t._1, t._2)) == Seq((base, 8L), (base + 20000L, 2L)),
      s"each window exactly once: ${got.mkString(", ")}")
    assert(got.head._3.contains("hot"), s"guaranteed heavy hitter: ${got.head}")
    assert(got(1)._3 == Set("late"), s"restored state window: ${got(1)}")
  }

  test("topkMonitorGrouped restart emits each (window, key) board exactly once") {
    val src = tmpDir("tkg_src"); val out = tmpDir("tkg_out"); val ckpt = tmpDir("tkg_ckpt")
    def startQuery() = graft.streaming.StatefulOps.topkMonitorGrouped(
        spark.readStream.schema(docSchema).json(src.toString),
        "text", "ts", "source", "0 seconds", "10 seconds", capacity = 3)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) holds two keys — s0: 'hot' 3x + 2 singles
    // (5 tokens, bar 5/4 → hot guaranteed); s1: 'own' 2x (2 tokens,
    // bar 1/2 → own guaranteed); the t=25 doc (key s1) stays open state
    Files.writeString(src.resolve("f1.json"), Seq(
      """{"ts":"2024-01-01T00:00:02Z","source":"s0","text":"hot hot hot cold1 cold2"}""",
      """{"ts":"2024-01-01T00:00:04Z","source":"s1","text":"own own"}""",
      """{"ts":"2024-01-01T00:00:25Z","source":"s1","text":"late late"}"""
    ).mkString("\n"))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — neither phase-1 board
    // may re-emit and the restored per-key MG buffer carries the t=25
    // tokens under ITS key
    Files.writeString(src.resolve("f2.json"),
      """{"ts":"2024-01-01T00:01:40Z","source":"s0","text":"flush"}""")
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getSeq[String](3).toSet)).sortBy(t => (t._1, t._2)).toSeq
    val base = 1704067200000L
    assert(got.map(t => (t._1, t._2, t._3)) ==
      Seq((base, "s0", 5L), (base, "s1", 2L), (base + 20000L, "s1", 2L)),
      s"each (window, key) exactly once: ${got.mkString(", ")}")
    assert(got.head._4.contains("hot"), s"s0 heavy hitter: ${got.head}")
    assert(got(1)._4 == Set("own"), s"s1 board: ${got(1)}")
    assert(got(2)._4 == Set("late"), s"restored-state board: ${got(2)}")
  }

  test("madMonitor restart emits each window's robust stats exactly once") {
    val src = tmpDir("mdr_src"); val out = tmpDir("mdr_out"); val ckpt = tmpDir("mdr_ckpt")
    def startQuery() = graft.streaming.StatefulOps.madMonitor(
        spark.readStream.schema(docSchema).json(src.toString),
        "text", "ts", "source", "0 seconds", "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: window [0,10) holds q236's planted-tail lengths
    // (8,9,10,10,10,11,12,30 -> med 10, MAD 1, one outlier); the t=25
    // doc (5 tokens) stays open
    val lens = Seq(8, 9, 10, 10, 10, 11, 12, 30)
    writeDocRows(src, "f1.json",
      lens.zipWithIndex.map { case (n, i) =>
        (f"2024-01-01T00:00:0${i % 8}Z", Seq.fill(n)("w").mkString(" "))
      } :+ ("2024-01-01T00:00:25Z", "a b c d e"))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) — phase-1 window must NOT
    // re-emit; the restored histogram yields med 5, MAD 0, 0 outliers
    writeDocRows(src, "f2.json", Seq(("2024-01-01T00:01:40Z", "flush")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._1).toSeq
    val base = 1704067200000L
    assert(got == Seq(
      (base, "s0", 8L, 10L, 1L, 1L),
      (base + 20000L, "s0", 1L, 5L, 0L, 0L)),
      s"each window's stats exactly once: ${got.mkString(", ")}")
  }

  private val evSchema = StructType.fromDDL(
    "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING")

  private def writeEvRows(dir: Path, name: String,
      rows: Seq[(Long, String, Long, String)]): Unit = {
    val body = rows.map { case (u, ts, id, et) =>
      s"""{"user_id":$u,"ts":"$ts","event_id":$id,"event_type":"$et"}"""
    }.mkString("\n")
    Files.writeString(dir.resolve(name), body)
  }

  test("transitionMonitor restart bridges the stored last-event state exactly once") {
    val src = tmpDir("tmr_src"); val out = tmpDir("tmr_out"); val ckpt = tmpDir("tmr_ckpt")
    def startQuery() = graft.streaming.StatefulOps.transitionMonitor(
        spark.readStream.schema(evSchema).json(src.toString), "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: A@2 then B@4 emits (A→B); state stores lastType=B
    writeEvRows(src, "f1.json", Seq(
      (1L, "2024-01-01T00:00:02Z", 1L, "A"),
      (1L, "2024-01-01T00:00:04Z", 2L, "B")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; C@8 must emit the BRIDGING (B→C) exactly once —
    // lost state would emit nothing, replayed state would re-emit (A→B)
    writeEvRows(src, "f2.json", Seq((1L, "2024-01-01T00:00:08Z", 3L, "C")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .select(col("user_id"), col("prev"), col("next"),
        date_format(col("ts"), "ss").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).sortBy(_._4).toSeq
    assert(got == Seq((1L, "A", "B", "04"), (1L, "B", "C", "08")),
      s"expected exactly the two transitions, got: ${got.mkString(", ")}")
  }

  test("scd2Monitor restart closes the restored open interval exactly once") {
    val src = tmpDir("scd_src"); val out = tmpDir("scd_out"); val ckpt = tmpDir("scd_ckpt")
    def startQuery() = graft.streaming.StatefulOps.scd2Monitor(
        spark.readStream.schema(evSchema).json(src.toString), "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: A@2, A@4 — interval (A, n=2) stays OPEN in state, no rows
    writeEvRows(src, "f1.json", Seq(
      (1L, "2024-01-01T00:00:02Z", 1L, "A"),
      (1L, "2024-01-01T00:00:04Z", 2L, "A")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; B@8 must close the RESTORED interval exactly once
    // with the restored run count — lost state closes nothing (B opens
    // silently), replayed state would duplicate the close
    writeEvRows(src, "f2.json", Seq((1L, "2024-01-01T00:00:08Z", 3L, "B")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)), r.getLong(4),
        r.getBoolean(5))).toSeq
    assert(got == Seq((1L, "A", base + 2000000L, Some(base + 8000000L), 2L, false)),
      s"expected exactly the one restored close, got: ${got.mkString(", ")}")
  }

  test("cdcMonitor restart keeps latest-wins against the restored sequence") {
    val src = tmpDir("cdc_src"); val out = tmpDir("cdc_out"); val ckpt = tmpDir("cdc_ckpt")
    def writeRows(name: String, rows: Seq[(Long, String, Long, String, Double)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (u, ts, id, et, v) =>
        s"""{"user_id":$u,"ts":"$ts","event_id":$id,"event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.cdcMonitor(
        spark.readStream.schema(cdcSchema).json(src.toString), "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: A@4 wins the first batch — one upsert, sequence stored
    writeRows("f1.json", Seq((1L, "2024-01-01T00:00:04Z", 2L, "A", 1.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; a LOWER-sequence op @2 must lose against the
    // RESTORED winner (lost state would emit it as a fresh upsert), then
    // a higher-sequence op @8 re-upserts exactly once
    writeRows("f2.json", Seq((1L, "2024-01-01T00:00:02Z", 1L, "B", 9.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()
    writeRows("f3.json", Seq((1L, "2024-01-01T00:00:08Z", 3L, "C", 2.0)))
    val q3 = startQuery(); try q3.processAllAvailable() finally q3.stop()

    val base = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime * 1000L
    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getDouble(3), r.getLong(4))).sortBy(_._5).toSeq
    assert(got == Seq((1L, "upsert", "A", 1.0, base + 4000000L),
      (1L, "upsert", "C", 2.0, base + 8000000L)),
      s"expected the restored winner to absorb the late op: ${got.mkString(", ")}")
  }

  private val cdcSchema = StructType.fromDDL(
    "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE")

  private val attrSchema = StructType.fromDDL(
    "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, event_type STRING, value DOUBLE")

  test("attributionMonitor restart attributes from the restored touch exactly once") {
    val src = tmpDir("amr_src"); val out = tmpDir("amr_out"); val ckpt = tmpDir("amr_ckpt")
    def writeRows(name: String, rows: Seq[(Long, String, Long, String, Double)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (u, ts, id, et, v) =>
        s"""{"user_id":$u,"ts":"$ts","event_id":$id,"event_type":"$et","value":$v}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.attributionMonitor(
        spark.readStream.schema(attrSchema).json(src.toString), "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: click@2 then purchase@4 emits (click, 10.0); the click
    // stays in state as the last touch
    writeRows("f1.json", Seq(
      (1L, "2024-01-01T00:00:02Z", 1L, "click", 0.0),
      (1L, "2024-01-01T00:00:04Z", 2L, "purchase", 10.0)))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; purchase@8 must attribute to the RESTORED click
    // exactly once — lost state would emit 'none', replay would
    // duplicate the phase-1 row
    writeRows("f2.json", Seq((1L, "2024-01-01T00:00:08Z", 3L, "purchase", 5.0)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .select(col("user_id"), col("touch_type"), col("value"),
        date_format(col("ts"), "ss").as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).sortBy(_._4).toSeq
    assert(got == Seq((1L, "click", 10.0, "04"), (1L, "click", 5.0, "08")),
      s"expected exactly the two attributed purchases, got: ${got.mkString(", ")}")
  }

  test("funnelProgress restart resumes the stored step index exactly once") {
    val src = tmpDir("fpr_src"); val out = tmpDir("fpr_out"); val ckpt = tmpDir("fpr_ckpt")
    def startQuery() = graft.streaming.StatefulOps.funnelProgress(
        spark.readStream.schema(evSchema).json(src.toString),
        Seq("signup", "view", "purchase"), "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: signup@2 (step 1), view@4 (step 2); state stores step=2
    writeEvRows(src, "f1.json", Seq(
      (1L, "2024-01-01T00:00:02Z", 1L, "signup"),
      (1L, "2024-01-01T00:00:04Z", 2L, "view")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; purchase@8 completes step 3 exactly once — lost
    // state would treat it as step-1-pending and emit nothing, replayed
    // state would re-emit steps 1–2
    writeEvRows(src, "f2.json", Seq((1L, "2024-01-01T00:00:08Z", 3L, "purchase")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Int]("step"),
        r.getAs[String]("step_name"))).sortBy(_._2).toSeq
    assert(got == Seq((1L, 1, "signup"), (1L, 2, "view"), (1L, 3, "purchase")),
      s"expected each funnel step exactly once, got: ${got.mkString(", ")}")
  }

  test("qualityMonitor restart emits each (window, key) exactly once") {
    val src = tmpDir("qmr_src"); val out = tmpDir("qmr_out"); val ckpt = tmpDir("qmr_ckpt")
    val schema = StructType.fromDDL("text STRING, ts TIMESTAMP, src STRING")
    def writeDocs(name: String, rows: Seq[(String, String)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (t, ts) =>
        s"""{"text":"$t","ts":"$ts","src":"feed"}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.qualityMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "text", "ts", "src", "0 seconds", "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    // keep needs top1 <= 0.20 AND top2 <= 0.20 — i.e. >= 6 distinct
    // tokens (top2 of a 6-token all-distinct doc is exactly 1/5)
    val phase1 = Seq(
      ("aa aa aa aa aa aa", "2024-01-01T00:00:02Z"), // stutter — flagged
      ("alpha bravo charlie delta echo foxtrot", "2024-01-01T00:00:04Z"),
      ("echo foxtrot golf hotel india juliet", "2024-01-01T00:00:25Z"))
    val phase2 = Seq(
      ("kilo lima mike november oscar papa", "2024-01-01T00:01:40Z"))
    writeDocs("f1.json", phase1)
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    writeDocs("f2.json", phase2)
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == got.map(_._1).distinct,
      s"a (window, key) re-emitted after restart: $got")
    // values pinned against the SAME kernel run in batch over the
    // union of both phases (the stream≡batch contract across a restart)
    import spark.implicits._
    val batch = graft.streaming.StatefulOps.qualityMonitor(
        (phase1 ++ phase2).map { case (t, ts) =>
          (t, java.sql.Timestamp.from(java.time.Instant.parse(ts)), "feed")
        }.toDF("text", "ts", "src"), "text", "ts", "src",
        "0 seconds", "10 seconds")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3), r.getDouble(4)))
      .filter(b => got.exists(_._1 == b._1)).sortBy(_._1).toSeq
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.map(t => (t._3, t._4)) == Seq((2L, 1L), (1L, 0L)),
      s"window doc/flag counts: $got")
  }

  test("funnelMonitor restart emits each (window, key) funnel exactly once") {
    val src = tmpDir("fmr_src"); val out = tmpDir("fmr_out"); val ckpt = tmpDir("fmr_ckpt")
    val schema = StructType.fromDDL("text STRING, ts TIMESTAMP, src STRING")
    def writeDocs(name: String, rows: Seq[(String, String)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (t, ts) =>
        s"""{"text":"$t","ts":"$ts","src":"feed"}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.funnelMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "text", "ts", "src", "0 seconds", "10 seconds")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    val phase1 = Seq(
      ("the quick brown fox jumps over the lazy dog and it is a good day",
        "2024-01-01T00:00:02Z"),
      ("zz zz zz zz zz zz", "2024-01-01T00:00:04Z"),
      ("the cat sat on the mat and it was warm", "2024-01-01T00:00:25Z"))
    val phase2 = Seq(("done", "2024-01-01T00:01:40Z"))
    writeDocs("f1.json", phase1)
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    writeDocs("f2.json", phase2)
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .sortBy(_._1).toSeq
    assert(got.map(_._1) == got.map(_._1).distinct,
      s"a (window, key) re-emitted after restart: $got")
    import spark.implicits._
    val batch = graft.streaming.StatefulOps.funnelMonitor(
        (phase1 ++ phase2).map { case (t, ts) =>
          (t, java.sql.Timestamp.from(java.time.Instant.parse(ts)), "feed")
        }.toDF("text", "ts", "src"), "text", "ts", "src",
        "0 seconds", "10 seconds")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .filter(b => got.exists(_._1 == b._1)).sortBy(_._1).toSeq
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got.map(_._3) == Seq(2L, 1L), s"window doc counts: $got")
  }

  test("driftMonitor restart emits each closed window exactly once") {
    val src = tmpDir("dmr_src"); val out = tmpDir("dmr_out"); val ckpt = tmpDir("dmr_ckpt")
    val schema = StructType.fromDDL("text STRING, ts TIMESTAMP, src STRING")
    def writeDocs(name: String, rows: Seq[(String, String)]): Unit = {
      val body = rows.map { case (t, ts) =>
        s"""{"text":"$t","ts":"$ts","src":"feed"}"""
      }.mkString("\n")
      Files.writeString(src.resolve(name), body)
    }
    // ref model: uniform over {a, b} → text "a a" has TVD 0.5 (> tau),
    // text "a b" has TVD 0.0
    val ref = Map("a" -> 0.5, "b" -> 0.5)
    def startQuery() = graft.streaming.StatefulOps.driftMonitor(
        spark.readStream.schema(schema).json(src.toString),
        "text", "ts", "src", "0 seconds", "10 seconds", ref, 0.25)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: two docs in [0,10), closed by the t=25 doc
    writeDocs("f1.json", Seq(
      ("a a", "2024-01-01T00:00:02Z"), ("a b", "2024-01-01T00:00:04Z"),
      ("a b", "2024-01-01T00:00:25Z")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart; t=100 closes [20,30) exactly once, [0,10) must
    // not re-emit
    writeDocs("f2.json", Seq(("a b", "2024-01-01T00:01:40Z")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .select(date_format(col("w_start"), "ss").as("w"), col("n_docs"),
        col("mean_tvd"), col("n_drifted"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).sortBy(_._1).toSeq
    assert(got == Seq(("00", 2L, 0.25, 1L), ("20", 1L, 0.0, 0L)),
      s"expected each closed window exactly once, got: ${got.mkString(", ")}")
  }

  test("simhashDedup restart suppresses a near-dup of a PRE-restart doc") {
    // the Spark-managed dropDuplicatesWithinWatermark state must
    // survive the checkpoint: a post-restart arrival whose SimHash
    // equals a phase-1 doc's (here a word PERMUTATION — SimHash is
    // order-free) must NOT re-emit
    val src = tmpDir("sdr_src"); val out = tmpDir("sdr_out"); val ckpt = tmpDir("sdr_ckpt")
    val schema = StructType.fromDDL("text STRING, ts TIMESTAMP")
    def writeDocs(name: String, rows: Seq[(String, String)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (t, ts) =>
        s"""{"text":"$t","ts":"$ts"}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.simhashDedup(
        spark.readStream.schema(schema).json(src.toString),
        "text", "ts", "1 hour")
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    writeDocs("f1.json", Seq(
      ("alpha bravo charlie delta", "2024-01-01T00:00:02Z"),
      ("echo foxtrot golf", "2024-01-01T00:00:04Z")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    writeDocs("f2.json", Seq(
      ("delta charlie bravo alpha", "2024-01-01T00:00:30Z"), // permutation — dup
      ("hotel india juliet", "2024-01-01T00:00:31Z")))       // genuinely new
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(got == Seq("alpha bravo charlie delta", "echo foxtrot golf",
      "hotel india juliet"),
      s"restored fingerprint state must suppress the permuted re-arrival: $got")
  }

  test("srpDedup restart suppresses a rescaled re-embedding of a PRE-restart vector") {
    val src = tmpDir("srr_src"); val out = tmpDir("srr_out"); val ckpt = tmpDir("srr_ckpt")
    val schema = StructType.fromDDL(
      "vec_id BIGINT, v ARRAY<DOUBLE>, ts TIMESTAMP")
    def writeVecs(name: String, rows: Seq[(Long, Seq[Double], String)]): Unit =
      Files.writeString(src.resolve(name), rows.map { case (id, v, ts) =>
        s"""{"vec_id":$id,"v":[${v.mkString(",")}],"ts":"$ts"}"""
      }.mkString("\n"))
    def startQuery() = graft.streaming.StatefulOps.srpDedup(
        spark.readStream.schema(schema).json(src.toString),
        "v", "ts", "1 hour", bits = 32)
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()
    writeVecs("f1.json", Seq(
      (1L, Seq(1.0, 2.0, -3.0), "2024-01-01T00:00:02Z"),
      (2L, Seq(-4.0, 0.5, 2.0), "2024-01-01T00:00:04Z")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    writeVecs("f2.json", Seq(
      (3L, Seq(2.0, 4.0, -6.0), "2024-01-01T00:00:30Z"),  // 2x vec 1 — same sketch
      (4L, Seq(4.0, -0.5, -2.0), "2024-01-01T00:00:31Z"))) // negated vec 2 — differs
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out.toString)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 4L),
      s"restored sketch state must suppress the rescaled re-embedding: $got")
  }

  test("minhashPairsStream restart restores the bucket ledger and re-emits nothing") {
    val src = tmpDir("mpr_src"); val out = tmpDir("mpr_out"); val ckpt = tmpDir("mpr_ckpt")
    val schema = StructType.fromDDL("ts TIMESTAMP, doc_id BIGINT, text STRING")
    val base = "alpha bravo charlie delta echo foxtrot golf hotel"
    def writeDocs(name: String, rows: Seq[(String, Long, String)]): Unit = {
      val body = rows.map { case (ts, id, t) =>
        s"""{"ts":"$ts","doc_id":$id,"text":"$t"}"""
      }.mkString("\n")
      Files.writeString(src.resolve(name), body)
    }
    def startQuery() = graft.streaming.StatefulOps.minhashPairsStream(
        spark.readStream.schema(schema).json(src.toString), "text", "ts",
        "10 minutes")
      .toDF().writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").start()

    // phase 1: doc 1 seeds the buckets, doc 5 (near-dup) pairs with it
    writeDocs("f1.json", Seq(
      ("2024-01-01T00:00:02Z", 1L, base),
      ("2024-01-01T00:00:04Z", 5L, base + " mike")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    def rows() = spark.read.parquet(out.toString)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val phase1 = rows()
    assert(phase1.toSet == Set((1L, 5L)), s"phase 1 pairs: $phase1")

    // phase 2: restart; an exact dup of doc 1 must pair against the
    // RESTORED ledger (lost state would emit nothing) and phase-1 pair
    // rows must not re-emit (their multiset is unchanged)
    writeDocs("f2.json", Seq(("2024-01-01T00:00:06Z", 6L, base)))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()
    val phase2 = rows()
    assert(phase2.toSet == Set((1L, 5L), (1L, 6L), (5L, 6L)),
      s"phase 2 pairs: ${phase2.toSet}")
    assert(phase2.count(_ == ((1L, 5L))) == phase1.size,
      s"phase-1 (1,5) emissions changed across restart: " +
        s"${phase1.size} -> ${phase2.count(_ == ((1L, 5L)))}")
    val jac = spark.read.parquet(out.toString)
      .filter(col("doc_a") === 1 && col("doc_b") === 6)
      .select("jaccard").collect().map(_.getDouble(0))
    assert(jac.nonEmpty && jac.forall(_ == 1.0),
      s"exact dup must verify at jaccard 1.0 against restored state: ${jac.toSeq}")
  }

  test("fuzzyGate restart gates each batch exactly once against the static index") {
    val src = tmpDir("fgr_src"); val out = tmpDir("fgr_out"); val ckpt = tmpDir("fgr_ckpt")
    val schema = StructType.fromDDL("doc_id BIGINT, text STRING")
    val corpusText = "t1 t2 t3 t4 t5 t6 t7 t8"
    import spark.implicits._
    val idx = queries.Dedup.bandIndex(
      Seq((1L, corpusText)).toDF("doc_id", "text"), queries.Dedup.BucketCap)
    def writeDocs(name: String, rows: Seq[(Long, String)]): Unit = {
      val body = rows.map { case (id, t) => s"""{"doc_id":$id,"text":"$t"}""" }
        .mkString("\n")
      Files.writeString(src.resolve(name), body)
    }
    def startQuery() = graft.streaming.StatefulOps.fuzzyGate(
      spark.readStream.schema(schema).json(src.toString), () => idx, ckpt.toString)(
      (df, _) => df.write.mode("append").parquet(out.toString))

    // phase 1: one exact corpus copy (gated) + one unrelated doc (kept)
    writeDocs("f1.json", Seq(
      (100L, corpusText), (101L, "u1 u2 u3 u4 u5 u6 u7 u8")))
    val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
    // phase 2: restart from the checkpoint — phase-1 files must NOT be
    // re-gated (no duplicate verdicts), the new file exactly once
    writeDocs("f2.json", Seq(
      (102L, corpusText), (103L, "w1 w2 w3 w4 w5 w6 w7 w8")))
    val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

    val got = spark.read.parquet(out.toString)
      .collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Int]("n_corpus_dups"), r.getAs[Boolean]("keep")))
      .sortBy(_._1).toSeq
    assert(got == Seq((100L, 1, false), (101L, 0, true),
      (102L, 1, false), (103L, 0, true)),
      s"expected each doc gated exactly once, got: ${got.mkString(", ")}")
  }

  test("ewmaMonitor restart folds from the restored baseline exactly once") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val src = tmpDir("ewr_src"); val out = tmpDir("ewr_out"); val ckpt = tmpDir("ewr_ckpt")
      val schema = StructType.fromDDL("ts TIMESTAMP")
      def writeRows(name: String, stamps: Seq[String]): Unit =
        Files.writeString(src.resolve(name),
          stamps.map(t => s"""{"ts":"$t"}""").mkString("\n"))
      def startQuery() = graft.streaming.StatefulOps.ewmaMonitor(
          spark.readStream.schema(schema).json(src.toString), "0 seconds")
        .writeStream.format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()

      def day(d: Int, h: Int) = f"2024-01-$d%02dT$h%02d:00:00Z"
      // phase 1: day 1 ×4, day 2 ×8; one day-3 event closes both days
      // and leaves day 3 open with state ewma = 5242880 (= (4+1)<<20)
      writeRows("f1.json",
        (0 until 4).map(h => day(1, h)) ++ (0 until 8).map(h => day(2, h)) :+
          day(3, 0))
      val q1 = startQuery(); try q1.processAllAvailable() finally q1.stop()
      // phase 2: restart; a second day-3 event (n=2) plus a far pusher
      // close day 3 — its EWMA must chain from the RESTORED baseline
      // (lost state would re-seed at 2<<20 with resid 0; replayed state
      // would re-emit days 1-2)
      writeRows("f2.json", Seq(day(3, 2), day(30, 0)))
      val q2 = startQuery(); try q2.processAllAvailable() finally q2.stop()

      val got = spark.read.parquet(out.toString)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n"), col("ewma_fp"), col("resid_fp"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).sortBy(_._1).toSeq
      assert(got == Seq(
        ("2024-01-01", 4L, 4194304L, 0L),
        ("2024-01-02", 8L, 5242880L, 4194304L),
        ("2024-01-03", 2L, 4456448L, -3145728L)),
        s"each day exactly once, day 3 chained across the restart: $got")
    } finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}
