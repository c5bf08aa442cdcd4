package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StatefulOps

/** Long-horizon soak for the stateful dedup/monitor family: the short
  * StatefulOpsSpec streams prove semantics; this proves the property a
  * standing deployment actually depends on — STATE SIZE PLATEAUS. Each
  * op runs 100+ micro-batches under the RocksDB provider with event
  * time advancing well past the watermark horizon, and the per-batch
  * `stateOperators.numRowsTotal` series must flatten at the horizon
  * working-set instead of growing with stream history. Every bound
  * below is pinned from the op's own state contract (buckets or open
  * windows per horizon), with ~2× slack for expiry lag — NOT from
  * observed values, so a state leak (dropped timeout, watermark
  * regression) fails loudly.
  */
class StreamingSoakSpec extends SparkSuite {

  /** The soaks' state settings: the RocksDB provider with changelog
    * checkpointing (each commit writes the batch's changes instead of
    * uploading a full snapshot of every partition), and one state
    * partition per core of the suite's local[4] session instead of two.
    * A batch's cost is almost all per-partition state commits: on a
    * 4-core host the spec went from about 11 to 7 minutes. The asserted
    * row counts are totals over all partitions, and every state series
    * printed the same under the old settings.
    */
  private def withSoakConf[T](body: => T): T = {
    val settings = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "4")
    val prior = settings.map { case (k, _) => k -> spark.conf.getOption(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  /** Drive `batches` micro-batches through `mkRows`, recording the
    * summed numRowsTotal across state operators after each batch.
    */
  private def soak[A](in: MemoryStream[A], q: org.apache.spark.sql.streaming.StreamingQuery,
      batches: Int)(mkRows: Int => Seq[A]): Vector[Long] = {
    val state = Vector.newBuilder[Long]
    for (b <- 0 until batches) {
      in.addData(mkRows(b): _*)
      q.processAllAvailable()
      val p = q.lastProgress
      if (p != null && p.stateOperators.nonEmpty)
        state += p.stateOperators.map(_.numRowsTotal).sum
    }
    state.result()
  }

  test("soak: minhashPairsStream bucket state plateaus at the watermark horizon (120 batches)") {
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[(Long, String, Timestamp)]
      val docs = in.toDF().toDF("doc_id", "text", "ts")
      val q = StatefulOps.minhashPairsStream(docs, "text", "ts", "60 seconds")
        .writeStream.format("memory").queryName("soak_pairs")
        .outputMode(OutputMode.Append).start()
      try {
        val docsPerBatch = 5
        var id = 0L
        val series = soak(in, q, 120) { b =>
          (0 until docsPerBatch).map { _ =>
            id += 1
            // unique 8-token texts (distinct shingle sets → distinct
            // buckets — the worst case for state growth)
            val words = (0 until 8).map(w => s"w${(id * 13 + w * 7) % 997}_$id")
            (id, words.mkString(" "), ts(b * 10L))
          }
        }
        // contract: live buckets ∝ docs-per-horizon × NumBands, never
        // stream length. Horizon = 60 s delay + 1 batch step at 10 s/batch
        // → ≤ ~8 live batches × 5 docs × 8 bands = 320; pinned at 2×.
        val bound = 640L
        info(s"state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
        assert(series.max <= bound,
          s"bucket state exceeded the horizon bound $bound: max=${series.max}")
        val inserted = 120L * docsPerBatch * graft.queries.Dedup.NumBands
        assert(inserted >= 4 * series.max,
          "soak too short to prove expiry: lengthen the run or tighten the bound")
        // plateau, not growth: the last quarter must not exceed the peak
        // of the middle of the run (state stops growing once the first
        // horizon has expired)
        assert(series.takeRight(30).max <= series.slice(30, 90).max,
          s"state still growing in the last quarter: ${series.takeRight(30).max} > " +
            s"${series.slice(30, 90).max}")
      } finally q.stop()
    }
  }

  test("soak: windowed quality + funnel monitors hold open-window state only (100 batches)") {
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[(Timestamp, String, String)]
      val docs = in.toDF().toDF("ts", "source", "text")
      val ql = StatefulOps.qualityMonitor(docs, "text", "ts", "source",
          "60 seconds", "30 seconds")
        .writeStream.format("memory").queryName("soak_quality")
        .outputMode(OutputMode.Append).start()
      val fn = StatefulOps.funnelMonitor(docs, "text", "ts", "source",
          "60 seconds", "30 seconds")
        .writeStream.format("memory").queryName("soak_funnel")
        .outputMode(OutputMode.Append).start()
      try {
        val qlState = Vector.newBuilder[Long]
        val fnState = Vector.newBuilder[Long]
        for (b <- 0 until 100) {
          val rows = Seq("src0", "src1").map { src =>
            (ts(b * 10L), src, s"the quick document $b from $src of the corpus")
          }
          in.addData(rows: _*)
          ql.processAllAvailable(); fn.processAllAvailable()
          Seq(ql -> qlState, fn -> fnState).foreach { case (q, buf) =>
            val p = q.lastProgress
            if (p != null && p.stateOperators.nonEmpty)
              buf += p.stateOperators.map(_.numRowsTotal).sum
          }
        }
        // contract: state = open (window × key) rows. 30 s windows under
        // a 60 s watermark at 10 s/batch → ≤ ~4 open windows × 2 keys
        // = 8 agg rows; pinned generously at 64 to absorb the provider's
        // internal rows — still 25× below the 1,600 windows the run
        // creates, so unbounded growth cannot pass.
        for ((name, series) <- Seq("quality" -> qlState.result(), "funnel" -> fnState.result())) {
          info(s"$name state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
          assert(series.max <= 64L,
            s"$name monitor state exceeded the open-window bound: max=${series.max}")
          assert(series.takeRight(25).max <= series.slice(25, 75).max,
            s"$name monitor state still growing in the last quarter")
        }
        // both monitors must have emitted closed windows (soak is not vacuous)
        assert(spark.table("soak_quality").count() > 50)
        assert(spark.table("soak_funnel").count() > 50)
      } finally { ql.stop(); fn.stop() }
    }
  }

  test("soak: AUC + calibration monitors hold open-window × bin state only (100 batches)") {
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[(Timestamp, String, Option[Double])]
      val ev = in.toDF().toDF("ts", "event_type", "value")
      val auc = StatefulOps.aucMonitor(ev, "60 seconds", "30 seconds",
          binCents = 5000L, maxBin = 8)
        .writeStream.format("memory").queryName("soak_auc")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_auc").toString).start()
      val cal = StatefulOps.calibrationMonitor(ev, "60 seconds", "30 seconds",
          binCents = 5000L, maxBin = 8)
        .writeStream.format("memory").queryName("soak_cal")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_cal").toString).start()
      try {
        val aState = Vector.newBuilder[Long]
        val cState = Vector.newBuilder[Long]
        for (b <- 0 until 100) {
          // spread across buckets, keep both classes present, and keep
          // exercising the NULL-score arm every batch
          in.addData(
            (ts(b * 10L), "view", Some((b % 8) * 50.0 + 10.0)),
            (ts(b * 10L + 1), "purchase", Some(360.0)),
            (ts(b * 10L + 2), "view", None))
          auc.processAllAvailable(); cal.processAllAvailable()
          Seq(auc -> aState, cal -> cState).foreach { case (q, buf) =>
            val p = q.lastProgress
            if (p != null && p.stateOperators.nonEmpty)
              buf += p.stateOperators.map(_.numRowsTotal).sum
          }
        }
        // contract: AUC state = open-window × bin rows (first agg) +
        // open-window rows (the chained reduction); calibration = open
        // windows × (bins + NULL bin). 30 s windows under a 60 s
        // watermark at 10 s/batch → ≤ ~4 open windows × ≤ 9 bins ≈ 36
        // + 4 ≈ 40; pinned at 128 with provider slack — the run
        // creates ~33 windows × 9 bins ≈ 300 total rows, so unbounded
        // growth cannot pass.
        for ((name, series) <- Seq("auc" -> aState.result(), "cal" -> cState.result())) {
          info(s"$name state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
          assert(series.max <= 128L,
            s"$name monitor state exceeded the open-window bound: max=${series.max}")
          assert(series.takeRight(25).max <= series.slice(25, 75).max,
            s"$name monitor state still growing in the last quarter")
        }
        // soak is not vacuous: closed windows emitted, AUC defined on them
        val aucRows = spark.table("soak_auc").collect()
        assert(aucRows.length > 20)
        assert(aucRows.count(r => !r.isNullAt(4)) > 20,
          "both classes present per window -> AUC must be defined")
        assert(spark.table("soak_cal").count() > 50)
      } finally { auc.stop(); cal.stop() }
    }
  }

  test("soak: per-user transition + funnel state expires with the user churn (100 batches)") {
    // the round-9 per-user ops (transitionMonitor, funnelProgress) keep
    // ONE state row per ACTIVE user with an event-time timeout; a user
    // population that churns (2 new users per batch, each active for 5
    // batches) must plateau at the active+expiry-lag working set, not
    // accumulate all 200+ users ever seen.
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val inT = MemoryStream[(Long, Timestamp, Long, String)]
      val inF = MemoryStream[(Long, Timestamp, Long, String)]
      val types = Seq("signup", "view", "purchase", "click")
      def events(b: Int, eidBase: Long): Seq[(Long, Timestamp, Long, String)] = {
        // users 2b..2b+9 are active in batch b → each user lives 5 batches
        (0 until 10).map { i =>
          val uid = (b * 2 + i).toLong
          (uid, ts(b * 10L), eidBase + b * 100 + i, types((b + i) % types.size))
        }
      }
      val qT = graft.streaming.StatefulOps
        .transitionMonitor(inT.toDF().toDF("user_id", "ts", "event_id", "event_type"),
          "60 seconds")
        .writeStream.format("memory").queryName("soak_trans")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_trans").toString).start()
      val qF = graft.streaming.StatefulOps
        .funnelProgress(inF.toDF().toDF("user_id", "ts", "event_id", "event_type"),
          Seq("signup", "view", "purchase"), "60 seconds")
        .writeStream.format("memory").queryName("soak_funnelp")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_funnelp").toString).start()
      try {
        val tState = Vector.newBuilder[Long]
        val fState = Vector.newBuilder[Long]
        for (b <- 0 until 100) {
          inT.addData(events(b, 0L): _*)
          inF.addData(events(b, 1000000L): _*)
          qT.processAllAvailable(); qF.processAllAvailable()
          Seq(qT -> tState, qF -> fState).foreach { case (q, buf) =>
            val p = q.lastProgress
            if (p != null && p.stateOperators.nonEmpty)
              buf += p.stateOperators.map(_.numRowsTotal).sum
          }
        }
        // contract: ~10 active users + a 60 s (6-batch) expiry lag of 2
        // users/batch = ~22 rows; pinned at 64 (≈3× slack) — 200+ users
        // are created over the run, so a dropped timeout cannot pass
        for ((name, series) <- Seq("transition" -> tState.result(),
            "funnelProgress" -> fState.result())) {
          info(s"$name state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
          assert(series.max <= 64L,
            s"$name state exceeded the active-user bound: max=${series.max}")
          assert(series.takeRight(25).max <= series.slice(25, 75).max,
            s"$name state still growing in the last quarter")
        }
        assert(spark.table("soak_trans").count() > 100, "transitions must flow")
        assert(spark.table("soak_funnelp").count() > 20, "steps must complete")
      } finally { qT.stop(); qF.stop() }
    }
  }

  test("soak: scd2 + cdc per-user state expires with the churn (100 batches)") {
    // the round-12 per-user ops (scd2Monitor, cdcMonitor) keep ONE
    // small state row per ACTIVE user with an event-time timeout — the
    // same contract as transition/funnelProgress: a churning population
    // (2 new users per batch, each active 5 batches) must plateau at
    // the active+expiry-lag working set, never accumulate all 200+
    // users ever seen.
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val inS = MemoryStream[(Long, Timestamp, Long, String)]
      val inC = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val types = Seq("signup", "view", "purchase", "click")
      def events(b: Int): Seq[(Long, Timestamp, Long, String)] =
        (0 until 10).map { i =>
          val uid = (b * 2 + i).toLong
          (uid, ts(b * 10L), (b * 100 + i).toLong, types((b + i) % types.size))
        }
      val qS = graft.streaming.StatefulOps
        .scd2Monitor(inS.toDF().toDF("user_id", "ts", "event_id", "event_type"),
          "60 seconds")
        .writeStream.format("memory").queryName("soak_scd2")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_scd2").toString).start()
      val qC = graft.streaming.StatefulOps
        .cdcMonitor(inC.toDF()
          .toDF("user_id", "ts", "event_id", "event_type", "value"),
          "60 seconds")
        .writeStream.format("memory").queryName("soak_cdc")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_cdc").toString).start()
      try {
        val sState = Vector.newBuilder[Long]
        val cState = Vector.newBuilder[Long]
        for (b <- 0 until 100) {
          inS.addData(events(b): _*)
          inC.addData(events(b).map(e => (e._1, e._2, e._3 + 1000000L, e._4,
            (b % 7).toDouble)): _*)
          qS.processAllAvailable(); qC.processAllAvailable()
          Seq(qS -> sState, qC -> cState).foreach { case (q, buf) =>
            val p = q.lastProgress
            if (p != null && p.stateOperators.nonEmpty)
              buf += p.stateOperators.map(_.numRowsTotal).sum
          }
        }
        for ((name, series) <- Seq("scd2" -> sState.result(),
            "cdc" -> cState.result())) {
          info(s"$name state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
          assert(series.max <= 64L,
            s"$name state exceeded the active-user bound: max=${series.max}")
          assert(series.takeRight(25).max <= series.slice(25, 75).max,
            s"$name state still growing in the last quarter")
        }
        // non-vacuous: runs close (every user's type alternates per
        // batch) and TTL-finalized is_current rows appear; the CDC
        // changelog advances each batch
        assert(spark.table("soak_scd2").count() > 100, "closed intervals must flow")
        assert(spark.table("soak_scd2").filter(col("is_current")).count() > 50,
          "TTL must finalize open intervals for churned users")
        assert(spark.table("soak_cdc").count() > 100, "changelog must flow")
      } finally { qS.stop(); qC.stop() }
    }
  }

  test("soak: attribution state expires at the 24h touch horizon (100 batches)") {
    // attributionMonitor's contract: state = the last touch per user,
    // expiring at touch-time + AttrWindowUs (+ delay) — so the working
    // set is users with a touch inside the last ~24 h of EVENT time,
    // not all users ever seen. Event time advances 2.4 h per batch so
    // the horizon actually engages: users live 5 batches (12 h), state
    // survives ~10 more (24 h), then must vanish. 200 users are created
    // over the run; the bound is active + expiry lag ≈ 30, pinned at 64.
    withSoakConf {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val in = MemoryStream[(Long, Timestamp, Long, String, Double)]
      val stepSec = 8640L // 2.4 h of event time per batch
      def events(b: Int): Seq[(Long, Timestamp, Long, String, Double)] =
        (0 until 10).flatMap { i =>
          val uid = (b * 2 + i).toLong
          val t = ts(b * stepSec)
          Seq((uid, t, b * 1000L + i * 2, "click", 0.0),
            (uid, t, b * 1000L + i * 2 + 1, "purchase", 9.0))
        }
      val q = graft.streaming.StatefulOps
        .attributionMonitor(
          in.toDF().toDF("user_id", "ts", "event_id", "event_type", "value"),
          "60 seconds")
        .writeStream.format("memory").queryName("soak_attr")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("soak_attr").toString).start()
      try {
        val aState = Vector.newBuilder[Long]
        for (b <- 0 until 100) {
          in.addData(events(b): _*)
          q.processAllAvailable()
          val p = q.lastProgress
          if (p != null && p.stateOperators.nonEmpty)
            aState += p.stateOperators.map(_.numRowsTotal).sum
        }
        val series = aState.result()
        info(s"attribution state series (every 10th): ${series.grouped(10).map(_.last).mkString(", ")}")
        assert(series.max <= 64L,
          s"attribution state exceeded the touch-horizon bound: max=${series.max}")
        assert(series.takeRight(25).max <= series.slice(25, 75).max,
          "attribution state still growing in the last quarter")
        // same-ts click attributes the purchase (event_id orders them)
        val out = spark.table("soak_attr")
        assert(out.count() > 500, "attributed purchases must flow")
        assert(out.filter(org.apache.spark.sql.functions.col("touch_type") =!= "click").count() == 0,
          "every purchase follows its user's click at the same event time")
      } finally q.stop()
    }
  }
}
