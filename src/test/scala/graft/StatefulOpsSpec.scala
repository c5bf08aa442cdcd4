package graft

import java.sql.Timestamp

import graft.streaming.StatefulOps
import graft.streaming.StatefulOps.{Attempt, LedgerOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Q36 stateful streaming: the retry ledger (R13 generalized with
  * max-attempts eviction) driven through MemoryStream microbatches.
  */
class StatefulOpsSpec extends SparkSuite {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("retry ledger: delivery, dlq after max attempts, state dropped on terminal outcome") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[Attempt]
    val q = StatefulOps.retryLedger(in.toDS(), maxAttempts = 3)
      .writeStream.format("memory").queryName("ledger")
      .outputMode(OutputMode.Append).start()
    try {
      // batch 1: a fails twice (stays in flight), b succeeds immediately
      in.addData(
        Attempt("a", ok = false, ts(1)), Attempt("a", ok = false, ts(2)),
        Attempt("b", ok = true, ts(1)))
      q.processAllAvailable()
      val r1 = spark.table("ledger").as[LedgerOut].collect()
      assert(r1.toSet == Set(LedgerOut("b", 1, "delivered")))

      // batch 2: a's third failure → dlq; c delivered on 2nd attempt
      in.addData(
        Attempt("a", ok = false, ts(3)),
        Attempt("c", ok = false, ts(3)), Attempt("c", ok = true, ts(4)))
      q.processAllAvailable()
      val r2 = spark.table("ledger").as[LedgerOut].collect().toSet
      assert(r2 == Set(
        LedgerOut("b", 1, "delivered"),
        LedgerOut("a", 3, "dlq"),
        LedgerOut("c", 2, "delivered")))

      // batch 3: a reappears AFTER terminal outcome — state was dropped,
      // so it counts from zero again (bounded-state property)
      in.addData(Attempt("a", ok = true, ts(5)))
      q.processAllAvailable()
      val r3 = spark.table("ledger").as[LedgerOut].collect()
      assert(r3.count(o => o.key == "a" && o.outcome == "delivered" && o.attempts == 1) == 1)
    } finally q.stop()
  }

  test("windowed counts with watermark over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String, Double)]
    val events = in.toDF().toDF("ts", "event_type", "value")
    val q = StatefulOps.windowedCounts(events, "ts", "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("wins")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData((ts(5), "click", 1.0), (ts(10), "click", 2.0), (ts(35), "view", 3.0))
      q.processAllAvailable()
      // advance the watermark far enough to close the first two windows
      in.addData((ts(300), "click", 0.5))
      q.processAllAvailable()
      val rows = spark.table("wins")
        .select("w_start", "event_type", "n", "sum_val").as[(Timestamp, String, Long, Double)]
        .collect().toSet
      assert(rows.contains((ts(0), "click", 2L, 3.0)))
      assert(rows.contains((ts(30), "view", 1L, 3.0)))
    } finally q.stop()
  }

  test("topk monitor: planted heavy hitters survive the per-window MG guarantee") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String)]
    val docs = in.toDF().toDF("ts", "text")
    val cap = 4
    val q = StatefulOps.topkMonitor(docs, "text", "ts",
        lateness = "10 seconds", win = "30 seconds", capacity = cap)
      .writeStream.format("memory").queryName("topk")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,30): 'hot' 12x + 'warm' 9x + 8 singletons = 29 tokens;
      // freq > 29/(4+1) = 5.8 guarantees hot and warm survive.
      // window [30,60): 'other' dominates outright.
      in.addData(
        (ts(5), Seq.fill(6)("hot").mkString(" ")),
        (ts(12), (Seq.fill(6)("hot") ++ Seq.fill(9)("warm")).mkString(" ")),
        (ts(20), (1 to 8).map(i => s"cold$i").mkString(" ")),
        (ts(35), "other other other rare"))
      q.processAllAvailable()
      in.addData((ts(300), "flush")) // advance the watermark past both
      q.processAllAvailable()
      val rows = spark.table("topk")
        .select("w_start", "n_tokens", "candidates")
        .as[(Long, Long, Seq[String])].collect()
        .map(r => r._1 -> ((r._2, r._3.toSet))).toMap
      val (n0, c0) = rows(0L)
      assert(n0 == 29L, s"window-0 token count $n0")
      assert(c0.contains("hot") && c0.contains("warm"),
        s"guaranteed heavy hitters missing: $c0")
      assert(c0.size <= cap, s"candidate list exceeds capacity: $c0")
      val (n1, c1) = rows(30000L)
      assert(n1 == 4L && c1.contains("other"), s"window-1: $n1 $c1")
      // brute-force the guarantee over everything fed to window 0: any
      // token past the N/(cap+1) bar MUST be a candidate
      val fed = Seq.fill(12)("hot") ++ Seq.fill(9)("warm") ++
        (1 to 8).map(i => s"cold$i")
      val bar = fed.size.toDouble / (cap + 1)
      fed.groupBy(identity).foreach { case (t, occ) =>
        if (occ.size > bar) assert(c0.contains(t), s"$t clears the bar, absent")
      }
    } finally q.stop()
  }

  test("grouped topk monitor: per-key MG guarantee where a global board would mask a slice") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val cap = 2
    val q = StatefulOps.topkMonitorGrouped(docs, "text", "ts", "source",
        lateness = "10 seconds", win = "30 seconds", capacity = cap)
      .writeStream.format("memory").queryName("topkg")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,30): source a holds 'hot' 6x + 2 singles (8 tokens,
      // bar 8/3 ≈ 2.67 → hot guaranteed); source b holds 'niche' 4x +
      // 1 single (5 tokens, bar 5/3 ≈ 1.67 → niche guaranteed PER KEY).
      // Globally the bar is 13/3 ≈ 4.33 — 'niche' (4) clears nothing
      // there: exactly the slice the global monitor can mask.
      in.addData(
        (ts(5), "a", Seq.fill(6)("hot").mkString(" ")),
        (ts(10), "a", "c1 c2"),
        (ts(12), "b", (Seq.fill(4)("niche") :+ "c3").mkString(" ")))
      q.processAllAvailable()
      in.addData((ts(300), "a", "flush")) // close the window
      q.processAllAvailable()
      val rows = spark.table("topkg")
        .select("w_start", "source", "n_tokens", "candidates")
        .as[(Long, String, Long, Seq[String])].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4.toSet))).toMap
      val (na, ca) = rows((0L, "a"))
      assert(na == 8L && ca.contains("hot") && ca.size <= cap,
        s"source-a board: $na $ca")
      val (nb, cb) = rows((0L, "b"))
      assert(nb == 5L && cb.contains("niche") && cb.size <= cap,
        s"source-b board: $nb $cb")
      // brute-force the per-key guarantee: within each key, any token
      // past n_key/(cap+1) MUST be that key's candidate
      val fed = Map(
        "a" -> (Seq.fill(6)("hot") ++ Seq("c1", "c2")),
        "b" -> (Seq.fill(4)("niche") :+ "c3"))
      fed.foreach { case (k, toks) =>
        val bar = toks.size.toDouble / (cap + 1)
        val cands = rows((0L, k))._2
        toks.groupBy(identity).foreach { case (t, occ) =>
          if (occ.size > bar)
            assert(cands.contains(t), s"$k: $t clears the bar, absent")
        }
      }
    } finally q.stop()
  }

  test("mad monitor: windowed median/MAD/outliers match q236's exact definitions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val q = StatefulOps.madMonitor(docs, "text", "ts", "source",
        lateness = "10 seconds", win = "30 seconds")
      .writeStream.format("memory").queryName("madm")
      .outputMode(OutputMode.Append).start()
    try {
      // window [0,30): q236's planted-tail case — med 10, MAD 1, the
      // 30-token doc is the single 2xMAD outlier. window [30,60):
      // constant lengths — med 5, MAD 0, zero outliers (dv > 0 never).
      val lens0 = Seq(8, 9, 10, 10, 10, 11, 12, 30)
      in.addData(lens0.map(n => (ts(5), "s0", Seq.fill(n)("w").mkString(" "))))
      in.addData(Seq.fill(4)((ts(40), "s0", "w w w w w")))
      q.processAllAvailable()
      in.addData((ts(300), "s0", "flush"))
      q.processAllAvailable()
      val rows = spark.table("madm")
        .select("w_start", "source", "n_docs", "med_len", "mad_len",
          "n_outliers")
        .as[(Long, String, Long, Long, Long, Long)].collect().toSet
      assert(rows.contains((0L, "s0", 8L, 10L, 1L, 1L)), s"window 0: $rows")
      assert(rows.contains((30000L, "s0", 4L, 5L, 0L, 0L)), s"window 1: $rows")
    } finally q.stop()
  }

  test("windowed drift monitor: off-distribution feed flags, stream equals batch recompute") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextAnalysis

    // reference model fitted on the trusted fixture corpus
    val ref = TextAnalysis.driftRef(spark, sf())
    assert(ref.nonEmpty && math.abs(ref.values.sum) <= 1.0 + 1e-9)

    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val q = StatefulOps.driftMonitor(docs, "text", "ts", "source",
        lateness = "10 seconds", win = "30 seconds", ref, tau = 0.9)
      .writeStream.format("memory").queryName("dmon")
      .outputMode(OutputMode.Append).start()
    try {
      // srcA ships in-distribution text (reference tokens; the doubled
      // doc also carries a double space — split artifacts must NOT
      // shift its TVD); srcB ships tokens the reference has never seen
      // (per-doc TVD = 1.0: sumQ = 0, sumAbs = 1) plus a NULL-text doc
      // (broken upstream parser — TOTAL docTvd pins it at 1.0, counted
      // drifted, never silently dropped from the window stats)
      val common = ref.toSeq.sortBy(-_._2).take(6).map(_._1).mkString(" ")
      val batch = Seq(
        (ts(5), "srcA", common),
        (ts(10), "srcA", common + "  " + common),
        (ts(12), "srcB", "zzqx1 zzqx2 zzqx3 zzqx4 zzqx5"),
        (ts(14), "srcB", null))
      in.addData(batch: _*)
      q.processAllAvailable()
      in.addData((ts(300), "srcA", common)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("dmon")
        .select("w_start", "source", "n_docs", "mean_tvd", "n_drifted")
        .as[(Timestamp, String, Long, Double, Long)]
        .collect().map(r => (r._2) -> r).toMap
      // the alien feed is fully drifted — alien tokens AND the NULL doc
      // both at exactly 1.0; the in-distribution feed is not
      assert(rows("srcB")._3 == 2L && rows("srcB")._4 == 1.0 &&
        rows("srcB")._5 == 2L, s"got $rows")
      assert(rows("srcA")._4 < 0.9 && rows("srcA")._5 == 0L, s"got $rows")
      // stream ≡ batch: same kernel over the same rows gives the same means
      val expected = batch.toDF("ts", "source", "text")
        .groupBy(col("source"))
        .agg(avg(TextAnalysis.docTvd(col("text"), ref)).as("m"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(rows("srcA")._4 == expected("srcA") && rows("srcB")._4 == expected("srcB"),
        s"stream diverges from batch: $rows vs $expected")
    } finally q.stop()
  }

  test("windowed quality monitor flags boilerplate per window and key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val q = StatefulOps.qualityMonitor(docs, "text", "ts", "source",
        lateness = "10 seconds", win = "30 seconds")
      .writeStream.format("memory").queryName("qmon")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        (ts(5), "srcA", "every word here is used exactly once today"),
        (ts(10), "srcA", "spam spam spam spam spam"),       // flagged
        // ≥ 6 tokens: with n−1 < 5 bigram instances the max share is
        // necessarily > 0.2, so a shorter "clean" doc still flags
        (ts(12), "srcB", "a perfectly ordinary clean document right here"))
      q.processAllAvailable()
      in.addData((ts(300), "srcA", "late window closer")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("qmon")
        .select("w_start", "source", "n_docs", "n_flagged", "avg_top1")
        .as[(Timestamp, String, Long, Long, Double)]
        .collect().toSet
      // srcA window 0: one clean (top1 = 1/8) + one pure-spam (top1 = 1)
      assert(rows.contains((ts(0), "srcA", 2L, 1L, (1.0 / 8.0 + 1.0) / 2.0)),
        s"got $rows")
      assert(rows.contains((ts(0), "srcB", 1L, 0L, 1.0 / 7.0)), s"got $rows")
    } finally q.stop()
  }

  test("windowed funnel monitor counts gate survivors per window and key") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String, String)]
    val docs = in.toDF().toDF("ts", "source", "text")
    val q = StatefulOps.funnelMonitor(docs, "text", "ts", "source",
        lateness = "10 seconds", win = "30 seconds")
      .writeStream.format("memory").queryName("fmon")
      .outputMode(OutputMode.Append).start()
    try {
      // the PipelineSpec q113 plant, streamed: pass-all ×2 (exact dup),
      // fail-language, fail-quality, fail-repetition — all in srcA's
      // first window
      val passing = "the of " + (1 to 58).map(i => s"w$i").mkString(" ")
      in.addData(
        (ts(1), "srcA", passing),
        (ts(2), "srcA", passing),
        (ts(3), "srcA", Seq.fill(10)("el la de").mkString(" ")),
        (ts(4), "srcA", "the " + (1 to 9).map(i => s"v$i").mkString(" ")),
        (ts(5), "srcA", Seq.fill(40)("spam").mkString(" ")))
      q.processAllAvailable()
      in.addData((ts(300), "srcA", "late window closer")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("fmon")
        .select("w_start", "source", "n_docs", "n_lang", "n_lang_quality",
          "n_all_gates", "approx_distinct_final")
        .as[(Timestamp, String, Long, Long, Long, Long, Long)]
        .collect().toSet
      // funnel matches the batch q113 plant; HLL on ONE distinct
      // surviving text is exact at this cardinality
      assert(rows.contains((ts(0), "srcA", 5L, 4L, 3L, 2L, 1L)), s"got $rows")
    } finally q.stop()
  }

  test("transformWithState settle ledger emits files once size is stable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import StatefulOps.{FileObs, SettledFile}

    val prior = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val in = MemoryStream[FileObs]
    val q = StatefulOps.settleLedger(in.toDS())
      .writeStream.format("memory").queryName("settled")
      .outputMode(OutputMode.Append).start()
    try {
      // poll 1: a growing, b first seen
      in.addData(FileObs("a.xml", 100), FileObs("b.xml", 50))
      q.processAllAvailable()
      assert(spark.table("settled").count() == 0)
      // poll 2: a still growing, b stable → b settles after 2 polls
      in.addData(FileObs("a.xml", 180), FileObs("b.xml", 50))
      q.processAllAvailable()
      // poll 3: a stable now
      in.addData(FileObs("a.xml", 180))
      q.processAllAvailable()
      val rows = spark.table("settled").as[SettledFile].collect().toSet
      assert(rows == Set(SettledFile("b.xml", 50, 2), SettledFile("a.xml", 180, 3)))
    } finally {
      q.stop()
      prior match {
        case Some(v) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming session window groups events separated by < gap") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val in = MemoryStream[(Timestamp, String)]
    val sessions = in.toDF().toDF("ts", "user")
      .withWatermark("ts", "10 seconds")
      .groupBy(session_window(col("ts"), "30 seconds"), col("user"))
      .agg(count(lit(1)).as("n"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user"), col("n"))
    val q = sessions.writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append).start()
    try {
      // two bursts 100s apart → two sessions for u1
      in.addData((ts(10), "u1"), (ts(20), "u1"), (ts(120), "u1"))
      q.processAllAvailable()
      in.addData((ts(500), "zz")) // advance watermark to close sessions
      q.processAllAvailable()
      val rows = spark.table("sessions")
        .select("s_start", "user", "n").as[(Timestamp, String, Long)]
        .collect().filter(_._2 == "u1").toSet
      assert(rows == Set((ts(10), "u1", 2L), (ts(120), "u1", 1L)))
    } finally q.stop()
  }

  test("splitLate routes rows strictly before the watermark to the late branch") {
    import spark.implicits._
    val batch = Seq((ts(1), "x"), (ts(10), "y"), (ts(20), "z"))
      .toDF("ts", "k")
    val (onTime, late) = StatefulOps.splitLate(batch, "ts", ts(10))
    assert(onTime.select("k").as[String].collect().toSet == Set("y", "z"))
    assert(late.select("k").as[String].collect().toSet == Set("x"))
  }

  test("streaming intake composes: quality gate → in-stream dedup → corpus fuzzy gate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = (1 to 44).map(i => s"t$i")
    val corpusText = t.slice(0, 40).mkString(" ")
    val idx = graft.queries.Dedup.bandIndex(
      Seq(1L -> corpusText).toDF("doc_id", "text"), graft.queries.Dedup.BucketCap)
    val in = MemoryStream[(Long, String, Timestamp)]
    val stream = in.toDF().toDF("doc_id", "text", "ts")
      // stage 1: stateless quality gate in the scan stage
      .filter(size(split(col("text"), " ")) >= 5)
    // stage 2: in-stream exact/near dedup within the watermark horizon
    val deduped = StatefulOps.simhashDedup(stream, "text", "ts", "10 seconds")
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    // stage 3: gate survivors against the static corpus index
    val q = StatefulOps.fuzzyGate(deduped, () => idx, tmpDir("intake").toString) {
      (verdicts, _) =>
        verdicts.collect().foreach(r =>
          got(r.getLong(0)) = (r.getInt(1), r.getBoolean(2)))
    }
    try {
      in.addData(
        (18L, t.mkString(" "), ts(10)),                         // corpus near-dup
        (28L, t.mkString(" "), ts(11)),                          // in-stream dup of 18 → suppressed
        (38L, "too short", ts(12)),                              // quality-gated
        (48L, (1 to 30).map(i => s"y$i").mkString(" "), ts(13))) // clean
      q.processAllAvailable()
      assert(got.keySet == Set(18L, 48L),
        s"28 must die at in-stream dedup and 38 at the quality gate: $got")
      assert(got(18L) == ((1, false)), s"$got")
      assert(got(48L) == ((0, true)), s"$got")
    } finally q.stop()
  }

  test("annSearch: streamed queries get the same exact top-k as q50's batch answer") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpus = Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val queries = corpus.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val expected = graft.queries.Similarity.searchTopK(corpus, queries, 5)
      .select("q_id", "n_id", "rk").as[(Long, Long, Int)].collect().toSet
    val in = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val q = StatefulOps.annSearch(in.toDF().toDF("q_id", "qv"), () => corpus, 5,
      tmpDir("annsearch").toString) { (top, _) =>
      got ++= top.select("q_id", "n_id", "rk").as[(Long, Long, Int)].collect()
    }
    try {
      val qs = queries.as[(Long, Seq[Double])].collect()
      in.addData(qs.take(1).toIndexedSeq)
      q.processAllAvailable()
      in.addData(qs.drop(1).toIndexedSeq)
      q.processAllAvailable()
      assert(got.toSet == expected,
        s"stream/batch divergence: ${(got.toSet diff expected).take(3)}")
    } finally q.stop()
  }

  test("annAssign: streamed vectors land on the same centroids as the batch probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cents = graft.queries.Similarity.trainCentroids(spark, sf("sf0.001"))
    // stream the first 20 corpus vectors back through the static index
    val batch = Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .filter(col("vec_id") < 20)
    val expected = graft.queries.Similarity
      .assignToCentroids(batch, cents)
      .select("vec_id", "c_id").as[(Long, Long)].collect().toMap
    val in = MemoryStream[(Long, Seq[Double])]
    val got = scala.collection.concurrent.TrieMap.empty[Long, Long]
    val q = StatefulOps.annAssign(in.toDF().toDF("vec_id", "v"), () => cents,
      tmpDir("annassign").toString) { (assigned, _) =>
      assigned.select("vec_id", "c_id").collect()
        .foreach(r => got(r.getLong(0)) = r.getLong(1))
    }
    try {
      val rows = batch.as[(Long, Seq[Double])].collect()
      in.addData(rows.take(10).toIndexedSeq)   // two microbatches
      q.processAllAvailable()
      in.addData(rows.drop(10).toIndexedSeq)
      q.processAllAvailable()
      assert(got.toMap == expected, s"stream/batch divergence: " +
        s"${(got.toSet diff expected.toSet).take(3)}")
    } finally q.stop()
  }

  test("fuzzyGate: stream probes the static corpus index, verdicts are batch-independent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t = (1 to 44).map(i => s"t$i")
    val corpusText = t.slice(0, 40).mkString(" ")
    val idx = graft.queries.Dedup.bandIndex(
      Seq(1L -> corpusText, 2L -> (1 to 30).map(i => s"z$i").mkString(" "))
        .toDF("doc_id", "text"),
      graft.queries.Dedup.BucketCap)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    val q = StatefulOps.fuzzyGate(in.toDF().toDF("doc_id", "text"), () => idx,
      tmpDir("fuzzygate").toString) { (verdicts, _) =>
      verdicts.collect().foreach(r =>
        got(r.getLong(0)) = (r.getInt(1), r.getBoolean(2)))
    }
    try {
      // batch 1: near-dup of the corpus doc + an unrelated doc
      in.addData(18L -> t.mkString(" "), 19L -> (1 to 30).map(i => s"y$i").mkString(" "))
      q.processAllAvailable()
      assert(got(18L) == ((1, false)) && got(19L) == ((0, true)), s"$got")
      // batch 2: an exact copy of a BATCH-1 stream doc is still kept —
      // verdicts come from the static corpus only (in-stream dedup is
      // minhashPairsStream's job), plus another corpus near-dup
      in.addData(28L -> (1 to 30).map(i => s"y$i").mkString(" "), 38L -> corpusText)
      q.processAllAvailable()
      assert(got(28L) == ((0, true)), s"batch independence violated: $got")
      assert(got(38L) == ((1, false)), s"$got")
    } finally q.stop()
  }

  test("fuzzyGate: a re-fit INDEX swaps atomically between microbatches " +
      "(refresh lifecycle, DataFrame-artifact kind)") {
    // The boilerplateGate refresh pin for the DataFrame-index artifact
    // kind: production rebuilds the corpus band index on the batch
    // cadence (new docs ingested into the corpus), and the standing
    // gate must pick the rebuilt index up at the next microbatch —
    // a doc that was CLEAN under the old corpus is gated once the
    // corpus contains its near-dup, without restarting the stream.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val corpusA = (1 to 40).map(i => s"a$i").mkString(" ")
    val corpusB = (1 to 40).map(i => s"b$i").mkString(" ")
    def indexOf(rows: Seq[(Long, String)]) = graft.queries.Dedup.bandIndex(
      rows.toDF("doc_id", "text"), graft.queries.Dedup.BucketCap)
    val idxOld = indexOf(Seq(1L -> corpusA))
    val idxNew = indexOf(Seq(1L -> corpusA, 2L -> corpusB))
    @volatile var idx = idxOld
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    val q = StatefulOps.fuzzyGate(in.toDF().toDF("doc_id", "text"), () => idx,
      tmpDir("fuzzygate_refresh").toString) { (verdicts, _) =>
      verdicts.collect().foreach(r =>
        got(r.getLong(0)) = (r.getInt(1), r.getBoolean(2)))
    }
    try {
      // pre-swap: corpusB's copy is CLEAN (old index doesn't know it)
      in.addData(10L -> corpusB, 11L -> corpusA)
      q.processAllAvailable()
      assert(got(10L) == ((0, true)) && got(11L) == ((1, false)),
        s"pre-swap verdicts wrong: $got")
      idx = idxNew // the batch-cadence corpus re-index
      // post-swap: the SAME text is now gated; exactly-once holds (4
      // docs in, 4 verdicts out, each judged under exactly one index)
      in.addData(20L -> corpusB, 21L -> (1 to 30).map(i => s"y$i").mkString(" "))
      q.processAllAvailable()
      assert(got(20L) == ((1, false)),
        s"post-swap batch did not see the re-fit index: $got")
      assert(got(21L) == ((0, true)), s"$got")
      assert(got.size == 4, s"rows dropped or double-judged across the swap: $got")
    } finally q.stop()
  }

  test("bm25Search: streamed queries equal the batch probe, scores exact vs hand computation") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextAnalysis._
    // planted corpus with hand-checkable stats: N=4, dl=3 each, avgdl=3
    val corpus = Seq(
      1L -> "apple banana cherry",
      2L -> "apple banana banana",
      3L -> "apple dates edam",
      4L -> "figs grape honey").toDF("doc_id", "text")
    val idx = bm25Index(corpus)
    // driver-exact expectation for query "banana dates":
    //   banana: df=2, idf=bits(4/2)=2; dates: df=1, idf=bits(4/1)=3
    //   dl=avgdl ⇒ denom = tf + 1.2; tsc = idf * tf*2.2 / (tf+1.2)
    def fp(x: Double) = math.floor(x * FixedPoint.toDouble)
    val sBanana1 = fp(2.0 * (1.0 * 2.2) / (1.0 + 1.2)) / FixedPoint.toDouble
    val sBanana2 = fp(2.0 * (2.0 * 2.2) / (2.0 + 1.2)) / FixedPoint.toDouble
    val sDates = fp(3.0 * (1.0 * 2.2) / (1.0 + 1.2)) / FixedPoint.toDouble
    val expected = Set(
      (10L, 3L, 1, sDates),                   // rare term: idf 3, saturated tf
      (10L, 2L, 2, sBanana2),                 // two bananas, common term
      (10L, 1L, 3, sBanana1))
    val batch = bm25Probe(Seq(10L -> "banana dates").toDF("q_id", "text"), idx, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
    assert(batch == expected, s"batch probe: $batch\nexpected: $expected")
    // stream over two batches — results must equal the batch probe
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Int, Double)]
    val q = StatefulOps.bm25Search(in.toDF().toDF("q_id", "text"), () => idx, 3,
      tmpDir("bm25search").toString) { (top, _) =>
      got ++= top.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    }
    try {
      in.addData(10L -> "banana dates")
      q.processAllAvailable()
      in.addData(11L -> "figs apple")
      q.processAllAvailable()
      val expected11 = bm25Probe(Seq(11L -> "figs apple").toDF("q_id", "text"), idx, 3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(got.toSet == expected ++ expected11,
        s"stream/batch divergence: ${got.toSet diff (expected ++ expected11)}")
    } finally q.stop()
  }

  test("hybridSearch: streamed queries equal the batch hybrid probe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.queries.TextAnalysis._
    val docs = Tables(spark, sf("sf0.001"), "documents").select("doc_id", "text")
    val idx = bm25Index(docs)
    val corpus = Tables(spark, sf("sf0.001"), "embeddings")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
    val queries = docs.filter(col("doc_id") < 3)
      .join(corpus.withColumnRenamed("vec_id", "doc_id"), "doc_id")
      .select(col("doc_id").as("q_id"), col("text"), col("v").as("qv"))
    val expected = hybridProbe(queries, idx, corpus, 5)
      .select("q_id", "n_id", "rrf_fp", "rk")
      .as[(Long, Long, Long, Int)].collect().toSet
    // both legs must actually contribute somewhere on this fixture
    assert(expected.nonEmpty)
    val in = MemoryStream[(Long, String, Seq[Double])]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Long, Int)]
    val q = StatefulOps.hybridSearch(in.toDF().toDF("q_id", "text", "qv"),
      () => idx, () => corpus, 5, tmpDir("hybridsearch").toString) { (top, _) =>
      got ++= top.select("q_id", "n_id", "rrf_fp", "rk")
        .as[(Long, Long, Long, Int)].collect()
    }
    try {
      val qs = queries.as[(Long, String, Seq[Double])].collect()
      in.addData(qs.take(1).toIndexedSeq)
      q.processAllAvailable()
      in.addData(qs.drop(1).toIndexedSeq)
      q.processAllAvailable()
      assert(got.toSet == expected,
        s"stream/batch divergence: ${(got.toSet diff expected).take(3)}")
    } finally q.stop()
  }

  test("spanGate: verbatim quotes are caught at any offset, verdicts batch-independent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val W = graft.queries.Pipeline.SpanTokens
    val M = graft.queries.Pipeline.SpanAnchorMod
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => "%02x".format(b & 0xff)).mkString
    def anchor(t: String) = java.lang.Long.parseLong(md5hex(t).take(4), 16) % M == 0
    // a corpus run headed by a known anchor token, long enough for a
    // full window past the anchor
    val anchorTok = (1 to 10000).map(i => s"c$i").find(anchor).get
    val run = anchorTok +: (1 to (W + 4)).map(i => s"r$i")
    val corpus = Seq(
      1L -> ((1 to 5).map(i => s"p$i") ++ run).mkString(" "),
      2L -> (1 to 40).map(i => s"q$i").mkString(" ")).toDF("doc_id", "text")
    val idx = graft.queries.Pipeline.spanIndex(corpus)
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Int, Boolean)]
    val q = StatefulOps.spanGate(in.toDF().toDF("doc_id", "text"), () => idx,
      tmpDir("spangate").toString) { (verdicts, _) =>
      verdicts.collect().foreach(r =>
        got(r.getLong(0)) = (r.getInt(2), r.getBoolean(3)))
    }
    try {
      // batch 1: the corpus run lifted to a DIFFERENT offset (3 vs 5 —
      // winnowing must still align), a clean doc, and a short doc
      in.addData(
        18L -> ((1 to 3).map(i => s"ua$i") ++ run ++ (1 to 9).map(i => s"va$i")).mkString(" "),
        19L -> (1 to 40).map(i => s"w$i").mkString(" "),
        20L -> "too short")
      q.processAllAvailable()
      assert(got(18L)._1 >= 1 && !got(18L)._2, s"lifted quote missed: $got")
      assert(got(19L)._2 && got(20L) == ((0, true)), s"$got")
      // batch 2: an exact copy of batch-1's CLEAN doc is still kept —
      // verdicts come only from the static index
      in.addData(28L -> (1 to 40).map(i => s"w$i").mkString(" "))
      q.processAllAvailable()
      assert(got(28L)._2, s"batch independence violated: $got")
    } finally q.stop()
  }

  test("surprisal gate: stream verdicts equal batch scoring under the same fit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // fit the model on the static fixture corpus, outside the stream
    val (vocab, oov) = graft.queries.TextAnalysis.surprisalFit(spark, sf())
    assert(vocab.nonEmpty && oov > 0)
    val texts = Seq(
      100L -> "the customer order data table query",    // in-vocab → cheap
      200L -> "zzyzx qwfp vexillology antidisestablish", // all-OOV → oov bits/tok
      300L -> "the the the the")
    val maxBits = oov - 1.0 // flag pure-OOV docs only

    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, (Long, Double, Boolean)]
    val q = StatefulOps.surprisalGate(in.toDF().toDF("doc_id", "text"),
        () => (vocab, oov), maxBits, tmpDir("surp").toString) { (scored, _) =>
      scored.select("doc_id", "surp_bits", "bits_per_tok", "keep").collect()
        .foreach(r => got(r.getLong(0)) = (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    }
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      // batch scoring of the identical rows is the oracle
      val batch = graft.queries.TextAnalysis.surprisalScore(
          texts.toDF("doc_id", "text"), vocab, oov)
        .withColumn("keep", col("bits_per_tok") <= maxBits)
        .select("doc_id", "surp_bits", "bits_per_tok", "keep").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
      assert(got.toMap == batch, s"stream $got vs batch $batch")
      assert(!got(200L)._3, "pure-OOV doc must be flagged")
      assert(got(100L)._3 && got(300L)._3)
    } finally q.stop()
  }

  test("surprisal gate: a re-fit MODEL swaps atomically between microbatches " +
      "(refresh lifecycle, map-literal-artifact kind)") {
    // The boilerplateGate refresh pin for the map-literal model kind:
    // production re-fits the unigram model on the batch cadence as the
    // corpus grows; the standing gate reads the supplier per
    // microbatch, so a doc that scored all-OOV under the old model is
    // admitted once the model has learned its tokens — no restart.
    // The (vocab, oovBits) pair ships as ONE supplier value, so a
    // refresh can never tear between the map and its OOV floor.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // hand-built fits: old knows tokens {t1 t2}, new also knows {n1 n2}
    def fitOf(docs: Seq[String]): (Map[String, Long], Long) = {
      val counts = docs.flatMap(_.split(" "))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      (counts, 20L) // oov floor fixed; only the vocab moves
    }
    val fitOld = fitOf(Seq("t1 t2 t1 t2 t1 t2 t1 t2"))
    val fitNew = fitOf(Seq("t1 t2 t1 t2 t1 t2 t1 t2", "n1 n2 n1 n2 n1 n2"))
    @volatile var fit = fitOld
    val maxBits = 19.0 // under the OOV floor: pure-OOV docs are dropped
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val q = StatefulOps.surprisalGate(in.toDF().toDF("doc_id", "text"),
        () => fit, maxBits, tmpDir("surp_refresh").toString) { (scored, _) =>
      scored.select("doc_id", "keep").collect()
        .foreach(r => got(r.getLong(0)) = r.getBoolean(1))
    }
    try {
      in.addData(1L -> "t1 t2 t1 t2", 2L -> "n1 n2 n1 n2")
      q.processAllAvailable()
      assert(got(1L) && !got(2L), s"pre-swap verdicts wrong: $got")
      fit = fitNew // the batch-cadence re-fit
      in.addData(3L -> "n1 n2 n1 n2", 4L -> "x1 x2 x3 x4")
      q.processAllAvailable()
      assert(got(3L), s"post-swap batch did not see the re-fit model: $got")
      assert(!got(4L), s"$got")
      // post-swap verdicts equal a one-shot batch run under the new fit
      val oneShot = graft.queries.TextAnalysis.surprisalScore(
          Seq(3L -> "n1 n2 n1 n2", 4L -> "x1 x2 x3 x4").toDF("doc_id", "text"),
          fitNew._1, fitNew._2)
        .withColumn("keep", col("bits_per_tok") <= maxBits)
        .select("doc_id", "keep").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(Map(3L -> got(3L), 4L -> got(4L)) == oneShot,
        s"post-swap != one-shot(new fit): $got vs $oneShot")
      assert(got.size == 4, s"rows dropped or double-scored across the swap: $got")
    } finally q.stop()
  }

  test("NB gate: stream classifications equal batch scoring under the same fit") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // fit on the static fixture corpus, outside the stream (the q141 fit)
    val classes = graft.queries.TextAnalysis.nbFit(spark, sf())
    assert(classes.size >= 2, "fixture must have >= 2 sources")
    // rows drawn from the fixture so predictions are non-trivial, plus a
    // pure-OOV doc (prediction then rides prior + OOV floors alone)
    val rows = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .limit(20).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq :+
      ((9999L, classes.head.source, "zzyzx qwfp vexillology"))

    val in = MemoryStream[(Long, String, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, (String, Long, Long)]
    val q = StatefulOps.nbGate(in.toDF().toDF("doc_id", "source", "text"),
        () => classes, tmpDir("nbgate").toString) { (scored, _) =>
      scored.select("doc_id", "pred_source", "bits", "margin_bits").collect()
        .foreach(r => got(r.getLong(0)) = (r.getString(1), r.getLong(2), r.getLong(3)))
    }
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val batch = graft.queries.TextAnalysis.nbScore(
          rows.toDF("doc_id", "source", "text"), classes)
        .select("doc_id", "pred_source", "bits", "margin_bits").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got.toMap == batch, s"stream $got vs batch $batch")
      assert(got.contains(9999L) && got.size == rows.size)
    } finally q.stop()
  }

  test("DQ monitor: stream reports equal the batch kernel; planted violations page") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val domain = Seq("view", "purchase")
    // window 1 ([0,30)): clean rows only — every check must PASS;
    // window 2 ([30,60)): one violation per check — value out of range,
    // type outside the domain, props missing the expected key
    val rows = Seq(
      (tsAt(5), "view", 10.0, """{"k": 1}"""),
      (tsAt(6), "purchase", 20.0, """{"k": 2}"""),
      (tsAt(35), "view", -1.0, """{"k": 3}"""),
      (tsAt(36), "bogus", 5.0, """{"k": 4}"""),
      (tsAt(37), "view", 5.0, """{"other": 9}"""),
      (tsAt(38), "view", 5.0, """{"k": 5}"""),
      (tsAt(120), "view", 1.0, """{"k": 6}""")) // watermark pusher
    val src = rows.toDF("ts", "event_type", "value", "props")

    val in = MemoryStream[(java.sql.Timestamp, String, Double, String)]
    val q = StatefulOps.dqMonitor(
        in.toDF().toDF("ts", "event_type", "value", "props"),
        "10 seconds", "30 seconds", 100.0, domain)
      .writeStream.format("memory").queryName("dq_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("dqmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val got = toMap(spark.table("dq_mon").collect())
      // parity: the SAME kernel in batch over the same rows (the open
      // window holding the pusher never emitted, so drop it)
      val batch = toMap(StatefulOps.dqMonitor(
        src, "10 seconds", "30 seconds", 100.0, domain).collect())
        .filter { case ((w, _), _) => got.keySet.exists(_._1 == w) }
      assert(got == batch, s"stream $got vs batch $batch")
      // both arms must be exercised: window 1 all-pass, window 2 each
      // check fails on exactly its one planted violation (window starts
      // are epoch-aligned, not tsAt(0)-aligned — derive them)
      val w1 = 1700000005000L / 30000L * 30000L
      val w2 = 1700000035000L / 30000L * 30000L
      Seq("value_range", "type_domain", "props_parse").foreach { c =>
        assert(got((w1, c)) == ((0L, 2L, true)), s"w1/$c: ${got((w1, c))}")
        assert(got((w2, c)) == ((1L, 4L, false)), s"w2/$c: ${got((w2, c))}")
      }
    } finally q.stop()
  }

  test("DQ monitor: NULL value and NULL event_type count as violations") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val domain = Seq("view", "purchase")
    // a feed emitting NULL types/values must FAIL the gate: the bare
    // range/domain predicates are NULL on NULL input and the old
    // otherwise(0) arm scored them clean (ADVICE r12)
    val rows = Seq(
      (tsAt(5), Option("view"), Option(10.0), """{"k": 1}"""),
      (tsAt(6), Option("view"), Option.empty[Double], """{"k": 2}"""),
      (tsAt(7), Option.empty[String], Option(5.0), """{"k": 3}"""),
      (tsAt(120), Option("view"), Option(1.0), """{"k": 4}""")) // pusher
    val src = rows.toDF("ts", "event_type", "value", "props")

    val in = MemoryStream[(java.sql.Timestamp, Option[String], Option[Double], String)]
    val q = StatefulOps.dqMonitor(
        in.toDF().toDF("ts", "event_type", "value", "props"),
        "10 seconds", "30 seconds", 100.0, domain)
      .writeStream.format("memory").queryName("dq_mon_null")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("dqmonnull").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
      val got = toMap(spark.table("dq_mon_null").collect())
      val w1 = 1700000005000L / 30000L * 30000L
      assert(got((w1, "value_range")) == ((1L, 3L, false)),
        s"NULL value must violate the range check: ${got((w1, "value_range"))}")
      assert(got((w1, "type_domain")) == ((1L, 3L, false)),
        s"NULL type must violate the domain check: ${got((w1, "type_domain"))}")
      assert(got((w1, "props_parse")) == ((0L, 3L, true)))
      // batch kernel agrees on the NULL rows
      val batch = toMap(StatefulOps.dqMonitor(
        src, "10 seconds", "30 seconds", 100.0, domain).collect())
        .filter { case ((w, _), _) => w == w1 }
      assert(got == batch, s"stream $got vs batch $batch")
    } finally q.stop()
  }

  test("A/B monitor: stream window stats equal the batch kernel; planted shift pages") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // two 30 s windows; arm 1 converts heavily in the second window.
    // user ids are chosen so the md5 coin splits them (checked below).
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val rows = (0 until 40).map { i =>
      val uid = i.toLong
      val w2 = i >= 20
      val conv = w2 && (i % 2 == 0)
      (uid, tsAt(if (w2) 35 else 5),
        if (conv) "purchase" else "view",
        if (conv) 999.0 else 1.0)
    } :+ ((999L, tsAt(120), "view", 1.0)) // watermark pusher
    val src = rows.toDF("user_id", "ts", "event_type", "value")

    val in = MemoryStream[(Long, java.sql.Timestamp, String, Double)]
    val q = StatefulOps.abMonitor(
        in.toDF().toDF("user_id", "ts", "event_type", "value"),
        "10 seconds", "30 seconds", 150.0)
      .writeStream.format("memory").queryName("ab_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("abmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("ab_mon")
        .select("w_start", "n0", "c0", "n1", "c1", "z").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))).toMap
      // batch recompute: the SAME kernel on the same rows (minus the
      // unemitted open window holding the watermark pusher)
      val batch = StatefulOps.abMonitor(src, "10 seconds", "30 seconds", 150.0)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5)))).toMap
      got.foreach { case (w, v) =>
        assert(batch(w) == v, s"window $w: stream $v vs batch ${batch(w)}")
      }
      assert(got.size == 2, s"both closed windows must emit: $got")
      val (quiet, shifted) = (got.minBy(_._1)._2, got.maxBy(_._1)._2)
      assert(quiet._2 == 0 && quiet._4 == 0 && quiet._5 == 0.0,
        s"window 1 has no conversions: $quiet")
      assert(shifted._2 + shifted._4 > 0 && math.abs(shifted._5) > 0.0,
        s"window 2 must show a conversion signal: $shifted")
      assert(quiet._1 > 0 && quiet._3 > 0,
        "the md5 coin must populate both arms in window 1")
    } finally q.stop()
  }

  test("calibration monitor: stream bins equal the batch kernel; rates discriminate") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // window 1: low-value events rarely convert, high-value ones mostly
    // do — the reliability read must rank the bins; one NULL-score row
    // must surface as a NULL bin, not vanish
    val rows = Seq[(java.sql.Timestamp, String, Option[Double])](
      (tsAt(1), "view", Some(10.0)), (tsAt(2), "view", Some(20.0)),
      (tsAt(3), "purchase", Some(30.0)), (tsAt(4), "view", Some(40.0)),
      (tsAt(5), "purchase", Some(810.0)), (tsAt(6), "purchase", Some(820.0)),
      (tsAt(7), "view", Some(830.0)),
      (tsAt(8), "view", None),
      (tsAt(120), "view", Some(1.0))) // watermark pusher
    val src = rows.toDF("ts", "event_type", "value")

    val in = MemoryStream[(java.sql.Timestamp, String, Option[Double])]
    val q = StatefulOps.calibrationMonitor(
        in.toDF().toDF("ts", "event_type", "value"),
        "10 seconds", "30 seconds", binCents = 40000L, maxBin = 8)
      .writeStream.format("memory").queryName("cal_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("calmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))) ->
          ((r.getLong(2), r.getLong(3),
            if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getDouble(5)))).toMap
      val got = toMap(spark.table("cal_mon").collect())
      val batch = toMap(StatefulOps.calibrationMonitor(
        src, "10 seconds", "30 seconds", 40000L, 8).collect())
        .filter { case ((w, _), _) => got.keySet.exists(_._1 == w) }
      assert(got == batch, s"stream $got vs batch $batch")
      val w1 = 1700000001000L / 30000L * 30000L
      // bin 0: cents 1000..4000 -> 1 of 4 convert; bin 2: 81000..83000
      // -> 2 of 3 convert; NULL bin: the scoreless row, visible
      assert(got((w1, Some(0L))) == ((4L, 1L, Some(10000L), 0.25)),
        s"low bin: ${got((w1, Some(0L)))}")
      assert(got((w1, Some(2L)))._1 == 3L && got((w1, Some(2L)))._2 == 2L,
        s"high bin: ${got((w1, Some(2L)))}")
      assert(got((w1, None)) == ((1L, 0L, None, 0.0)),
        s"NULL-score row must report under the NULL bin: ${got.get((w1, None))}")
      assert(got((w1, Some(2L)))._4 > got((w1, Some(0L)))._4,
        "reliability must rank the planted bins")
    } finally q.stop()
  }

  test("gains monitor: stream equals batch kernel; capture ends at 1, top bin lifts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // one 30 s window — bins b0 (n=2, pos=1), b1 (n=1, pos=0),
    // b2 (n=3, pos=2); tot 6/3. Best-first hand count:
    // b2 capture 2/3 lift (2·6)/(3·3); b1 capture 2/3 lift 0;
    // b0 capture 1 lift (1·6)/(2·3) = 1. One scoreless row: EXCLUDED.
    val rows = Seq[(java.sql.Timestamp, String, Option[Double])](
      (tsAt(1), "view", Some(10.0)), (tsAt(2), "purchase", Some(20.0)),
      (tsAt(3), "view", Some(400.0)),
      (tsAt(4), "purchase", Some(810.0)), (tsAt(5), "purchase", Some(830.0)),
      (tsAt(6), "view", Some(820.0)),
      (tsAt(7), "view", None),
      (tsAt(120), "view", Some(1.0))) // watermark pusher
    val src = rows.toDF("ts", "event_type", "value")

    val in = MemoryStream[(java.sql.Timestamp, String, Option[Double])]
    val q = StatefulOps.gainsMonitor(
        in.toDF().toDF("ts", "event_type", "value"),
        "10 seconds", "30 seconds", binCents = 40000L, maxBin = 8)
      .writeStream.format("memory").queryName("gains_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("gainsmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getDouble(6)),
            if (r.isNullAt(7)) None else Some(r.getDouble(7))))).toMap
      val got = toMap(spark.table("gains_mon").collect())
      val batch = toMap(StatefulOps.gainsMonitor(
        src, "10 seconds", "30 seconds", 40000L, 8).collect())
        .filter { case ((w, _), _) => got.keySet.exists(_._1 == w) }
      assert(got == batch, s"stream $got vs batch $batch")
      val w1 = 1700000001000L / 30000L * 30000L
      assert(got((w1, 2L)) == ((3L, 2L, 3L, 2L,
        Some(2.0 / 3.0), Some(12.0 / 9.0))), s"top bin: ${got((w1, 2L))}")
      assert(got((w1, 1L)) == ((1L, 0L, 4L, 2L, Some(2.0 / 3.0), Some(0.0))),
        s"middle bin: ${got((w1, 1L))}")
      assert(got((w1, 0L)) == ((2L, 1L, 6L, 3L, Some(1.0), Some(1.0))),
        s"capture must END at exactly 1: ${got((w1, 0L))}")
      assert(got((w1, 2L))._6.get > 1.0, "top bin must lift above base rate")
      assert(!got.keySet.exists { case (w, b) => w == w1 && b > 2L },
        "scoreless row must be excluded, not binned")
    } finally q.stop()
  }

  test("AUC monitor: stream equals batch kernel; ties halve, NULL scores excluded") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // one 30 s window: clean separation (b0 views / b2 purchases) plus
    // one same-bucket pos/neg pair (tie-halving) and one scoreless row
    // (excluded). Hand count: buckets b0(p0,g2) b1(p1,g1) b2(p2,g0)
    // → 2U = 0 + 1·(2·2+1) + 2·(2·3+0) = 17, AUC = 17/18.
    val rows = Seq[(java.sql.Timestamp, String, Option[Double])](
      (tsAt(1), "view", Some(10.0)), (tsAt(2), "view", Some(20.0)),
      (tsAt(3), "purchase", Some(810.0)), (tsAt(4), "purchase", Some(820.0)),
      (tsAt(5), "view", Some(400.0)), (tsAt(6), "purchase", Some(410.0)),
      (tsAt(7), "view", None),
      (tsAt(120), "view", Some(1.0))) // watermark pusher
    val src = rows.toDF("ts", "event_type", "value")

    val in = MemoryStream[(java.sql.Timestamp, String, Option[Double])]
    val q = StatefulOps.aucMonitor(
        in.toDF().toDF("ts", "event_type", "value"),
        "10 seconds", "30 seconds", binCents = 40000L, maxBin = 8)
      .writeStream.format("memory").queryName("auc_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("aucmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
      val got = toMap(spark.table("auc_mon").collect())
      val batch = toMap(StatefulOps.aucMonitor(
        src, "10 seconds", "30 seconds", 40000L, 8).collect())
        .filter { case (w, _) => got.contains(w) }
      assert(got == batch, s"stream $got vs batch $batch")
      val w1 = 1700000001000L / 30000L * 30000L
      assert(got(w1) == ((3L, 3L, 17L, Some(17.0 / 18.0))),
        s"hand-counted 2U/AUC: ${got(w1)}")
    } finally q.stop()
  }

  test("AUC monitor, grouped: an inverted slice surfaces while the pool hides it") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // one window, two segments: A's score ranks purchases perfectly
    // (AUC 1), B's is perfectly inverted (AUC 0) — pooled they cancel
    // to ~0.5 and the regression is invisible (the q213 story)
    val rows = Seq(
      (tsAt(1), "A", "view", Some(10.0)), (tsAt(2), "A", "view", Some(20.0)),
      (tsAt(3), "A", "purchase", Some(810.0)), (tsAt(4), "A", "purchase", Some(820.0)),
      (tsAt(5), "B", "purchase", Some(10.0)), (tsAt(6), "B", "purchase", Some(20.0)),
      (tsAt(7), "B", "view", Some(810.0)), (tsAt(8), "B", "view", Some(820.0)),
      (tsAt(120), "A", "view", Some(1.0))) // watermark pusher
    val src = rows.toDF("ts", "segment", "event_type", "value")

    val in = MemoryStream[(java.sql.Timestamp, String, String, Option[Double])]
    val q = StatefulOps.aucMonitor(
        in.toDF().toDF("ts", "segment", "event_type", "value"),
        "10 seconds", "30 seconds", binCents = 40000L, maxBin = 8,
        groupCol = Some("segment"))
      .writeStream.format("memory").queryName("auc_mon_grp")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("aucmongrp").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => (r.getLong(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4),
            if (r.isNullAt(5)) None else Some(r.getDouble(5))))).toMap
      val got = toMap(spark.table("auc_mon_grp").collect())
      val batch = toMap(StatefulOps.aucMonitor(src, "10 seconds", "30 seconds",
        40000L, 8, Some("segment")).collect())
        .filter { case ((w, _), _) => got.keySet.exists(_._1 == w) }
      assert(got == batch, s"stream $got vs batch $batch")
      val w1 = 1700000001000L / 30000L * 30000L
      assert(got((w1, "A")) == ((2L, 2L, 8L, Some(1.0))), s"A: ${got((w1, "A"))}")
      assert(got((w1, "B")) == ((2L, 2L, 0L, Some(0.0))), s"B: ${got((w1, "B"))}")
      // the pooled kernel on the same rows really does hide it
      val pooled = StatefulOps.aucMonitor(src, "10 seconds", "30 seconds",
        40000L, 8).collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
      assert(pooled(w1) == Some(0.5), s"pooled must cancel to 0.5: $pooled")
    } finally q.stop()
  }

  test("AUC monitor: histogram fold equals all-pairs Mann-Whitney on random feeds") {
    import spark.implicits._
    // the 2U fold (pos_b·(2·cum_neg_below + neg_b) over ascending
    // buckets) must equal the brute all-pairs count with tie-halving
    // AT BUCKET GRAIN for arbitrary histograms — 5 seeded random
    // windows, batch mode (same kernel the stream runs)
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    val binCents = 4000L
    val maxBin = 6
    for (seed <- 1 to 5) {
      val rng = new scala.util.Random(seed)
      val rows = (0 until 60).map { i =>
        (tsAt(i % 20), if (rng.nextBoolean()) "purchase" else "view",
          Some(rng.nextInt(300).toDouble))
      } :+ ((tsAt(120), "view", Option.empty[Double]))
      val got = StatefulOps.aucMonitor(
          rows.toDF("ts", "event_type", "value"),
          "10 seconds", "30 seconds", binCents, maxBin)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3)))).toMap
      // brute reference: bucket every scored row, count pairs
      val byWindow = rows.filter(_._3.isDefined).groupBy { case (t, _, _) =>
        t.getTime / 30000L * 30000L
      }
      byWindow.foreach { case (w, rs) =>
        val bucketed = rs.map { case (_, et, v) =>
          val cents = math.round(v.get * 100)
          (math.min(cents / binCents, (maxBin - 1).toLong), et == "purchase")
        }
        val pos = bucketed.filter(_._2).map(_._1)
        val neg = bucketed.filterNot(_._2).map(_._1)
        var u2 = 0L
        for (p <- pos; n <- neg)
          u2 += (if (p > n) 2L else if (p == n) 1L else 0L)
        assert(got(w) == ((pos.length.toLong, neg.length.toLong, u2)),
          s"seed $seed window $w: got ${got(w)}, want " +
            s"(${pos.length}, ${neg.length}, $u2)")
      }
    }
  }

  test("quantile monitor: exact counts, sketch p50/p95 inside exact rank brackets") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tsAt(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    // window 1: type 'api' values 1..100 (known order statistics);
    // window 2: type 'api' values 1000..1004 (a planted latency shift)
    val w1 = (1 to 100).map(v => (tsAt(5), "api", v.toDouble))
    val w2 = (0 until 5).map(v => (tsAt(35), "api", 1000.0 + v))
    val rows = (w1 ++ w2) :+ ((tsAt(120), "api", 1.0)) // watermark pusher
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val q = StatefulOps.quantileMonitor(
        in.toDF().toDF("ts", "event_type", "value"), "10 seconds", "30 seconds")
      .writeStream.format("memory").queryName("quant_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("quantmon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("quant_mon")
        .select("w_start", "n", "p50", "p95", "min_val", "max_val").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3),
          r.getDouble(4), r.getDouble(5)))).toMap
      assert(got.size == 2, s"both closed windows must emit: $got")
      val (first, second) = (got.minBy(_._1)._2, got.maxBy(_._1)._2)
      // window 1: 100 distinct values 1..100 — GK at accuracy 100 must
      // land within ±2 ranks of the true order statistics (2× margin
      // over its ≤1% guarantee, the q170 bracket)
      assert(first._1 == 100 && first._4 == 1.0 && first._5 == 100.0, s"$first")
      assert(first._2 >= 48.0 && first._2 <= 52.0, s"p50 escaped bracket: $first")
      assert(first._3 >= 93.0 && first._3 <= 97.0, s"p95 escaped bracket: $first")
      // window 2: 5 values 1000..1004 — the shift is visible in p50
      assert(second._1 == 5 && second._2 >= 1000.0 && second._2 <= 1004.0,
        s"$second")
      assert(second._2 > first._3, "planted latency shift must page")
    } finally q.stop()
  }

  test("keyword tag: stream tags equal batch probe; OOV rarity outranks fitted stopwords") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    // fit the df model on the static fixture corpus, outside the stream
    val (df, nDocs) = graft.queries.TextAnalysis.tfidfFit(spark, sf())
    assert(df.nonEmpty && nDocs > 0)
    val common = df.maxBy(_._2)._1 // the most document-frequent fitted term
    val texts = Seq(
      // the rare OOV term must outrank the ubiquitous one (df floor = 1)
      1L -> s"$common $common $common zzyzx",
      2L -> "customer order data stream table") ++
      Tables(spark, sf(), "documents").select(col("doc_id"), col("text"))
        .limit(10).collect().map(r => (r.getLong(0) + 1000L, r.getString(1))).toSeq

    val in = MemoryStream[(Long, String)]
    val got = scala.collection.concurrent.TrieMap.empty[(Long, Int), (String, Long)]
    val q = StatefulOps.keywordTag(in.toDF().toDF("doc_id", "text"),
        () => (df, nDocs), 3, tmpDir("kwtag").toString) { (tagged, _) =>
      tagged.select("doc_id", "rank", "term", "score").collect()
        .foreach(r => got((r.getLong(0), r.getInt(1))) = (r.getString(2), r.getLong(3)))
    }
    try {
      in.addData(texts: _*)
      q.processAllAvailable()
      val batch = graft.queries.TextAnalysis.keywordProbe(
          texts.toDF("doc_id", "text"), df, nDocs, 3)
        .select("doc_id", "rank", "term", "score").collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3)))).toMap
      assert(got.toMap == batch, "stream tags must equal the batch probe")
      assert(got((1L, 1))._1 == "zzyzx",
        s"rare OOV term must rank first for doc 1, got ${got((1L, 1))}")
    } finally q.stop()
  }

  test("attribution race: data-wins-over-timeout throws unguarded, drops state guarded") {
    // The hazard (NOTES.md round-11): key state holds a touch whose
    // attribution horizon the watermark has already passed, and the key
    // receives data in that same trigger — the engine then runs the DATA
    // invocation (hasTimedOut = false) with the stale state present.
    // MemoryStream cannot pace this (processAllAvailable runs the
    // cleanup batch first, which expires the key), so construct the
    // trigger directly with Spark's public TestGroupState factory.
    import StatefulOps.{AttrEvRow, AttrOut, AttrState}
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val touchUs = 1704067200000000L // 2024-01-01T00:00:00Z µs
    val horizonMs = touchUs / 1000L + graft.queries.Windowed.AttrWindowUs / 1000L
    def raceState = TestGroupState.create[AttrState](
      Optional.of(AttrState("click", touchUs)),
      GroupStateTimeout.EventTimeTimeout,
      batchProcessingTimeMs = 1L,
      eventTimeWatermarkMs = Optional.of(horizonMs + 60000L),
      hasTimedOut = false)
    // the arriving row: a purchase 90 s past the horizon — on-time
    // (its event time is beyond the watermark), attributes 'none', and
    // leaves the STORED touch as `last`, so the re-arm path runs
    val purchase = AttrEvRow(7L, new Timestamp(horizonMs + 90000L), 99L,
      "purchase", 5.0)

    // unguarded body: re-arms the stored horizon, which is now earlier
    // than the watermark — Spark rejects the timeout
    val thrown = intercept[IllegalArgumentException] {
      val st = raceState
      StatefulOps.attrUpdate("10 seconds", guardWatermark = false)(
        7L, Iterator(purchase), st).toList
    }
    assert(thrown.getMessage.toLowerCase.contains("watermark"),
      s"expected the timeout-before-watermark rejection, got: $thrown")

    // guarded body: same trigger — emits the 'none' attribution, DROPS
    // the horizon-expired state, arms no timeout
    val st = raceState
    val out = StatefulOps.attrUpdate("10 seconds", guardWatermark = true)(
      7L, Iterator(purchase), st).toList
    assert(out == List(AttrOut(7L, new Timestamp(horizonMs + 90000L),
      "none", 5.0)), s"guarded output: $out")
    assert(st.isRemoved, "horizon-expired state must be dropped")
    assert(!st.getTimeoutTimestampMs.isPresent,
      "no timeout may be armed on dropped state")
  }

  private def withRocksDb(body: => Unit): Unit = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  // 2024-01-01T00:00:00Z
  private val EwmaBase = 1704067200000L
  private def dayTs(day: Int, hour: Int): Timestamp =
    new Timestamp(EwmaBase + (day - 1) * 86400000L + hour * 3600000L)

  test("ewma monitor: stream equals the q174 batch fold prefix over finalized days") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // day counts 4, 8, 2, 6: day 3 shrinks, so its residual is NEGATIVE
      // and the arithmetic-shift floor branch is exercised on-stream
      val counts = Seq(4, 8, 2, 6)
      val rows = counts.zipWithIndex.flatMap { case (n, d) =>
        (0 until n).map(h => dayTs(d + 1, h)) }
      val pusher = dayTs(31, 0) // finalizes days 1-4; its own day stays open

      val in = MemoryStream[Timestamp]
      val q = StatefulOps.ewmaMonitor(in.toDF().toDF("ts"), "0 seconds")
        .writeStream.format("memory").queryName("ewma_mon")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("ewmamon").toString).start()
      try {
        in.addData(rows: _*)
        q.processAllAvailable()
        in.addData(pusher)
        q.processAllAvailable()
        val got = spark.table("ewma_mon")
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("ewma_fp"), col("resid_fp"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        // batch q174 over the SAME events (pusher included): the stream
        // must equal its prefix over the finalized days — the fold is
        // prefix-causal, so days 1-4 are unaffected by the open day 31
        val dir = tmpDir("ewma_fixture")
        (rows :+ pusher).toDF("ts").write.mode("overwrite")
          .parquet(dir.resolve("events.parquet").toString)
        val batch = graft.queries.Catalog.all("q174_ewma_baseline")
          .build(spark, dir.toString)
          .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("ewma_fp"), col("resid_fp"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getLong(3))).sortBy(_._1).toSeq
        assert(batch.size == 5 && got == batch.take(4),
          s"stream must equal the batch fold prefix:\nstream $got\nbatch  $batch")
        // pin the fixed-point values themselves (α=1/4, scale 2^20)
        assert(got.map(_._3) ==
          Seq(4194304L, 5242880L, 4456448L, 4915200L), s"ewma_fp: $got")
        assert(got(2)._4 == -3145728L,
          s"negative residual must floor via arithmetic shift: ${got(2)}")
      } finally q.stop()
    }
  }

  test("ewma monitor: per-key baselines fold independently") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      // type a: 2 then 6 events/day; type b: 4 then 4
      val rows =
        (0 until 2).map(h => (dayTs(1, h), "a")) ++
        (0 until 6).map(h => (dayTs(2, h), "a")) ++
        (0 until 4).map(h => (dayTs(1, 6 + h), "b")) ++
        (0 until 4).map(h => (dayTs(2, 6 + h), "b"))
      val in = MemoryStream[(Timestamp, String)]
      val q = StatefulOps.ewmaMonitor(
          in.toDF().toDF("ts", "event_type"), "0 seconds", Some("event_type"))
        .writeStream.format("memory").queryName("ewma_keyed")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("ewmakey").toString).start()
      try {
        in.addData(rows: _*)
        q.processAllAvailable()
        in.addData((dayTs(31, 0), "zz"))
        q.processAllAvailable()
        val got = spark.table("ewma_keyed")
          .select(col("gkey"), date_format(col("day"), "yyyy-MM-dd").as("day"),
            col("n"), col("ewma_fp"), col("resid_fp"))
          .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
            r.getLong(3), r.getLong(4))).sortBy(t => (t._1, t._2)).toSeq
        val S = 1L << 20
        assert(got == Seq(
          // a: seed 2<<20; day 2 resid (6-2)<<20, step resid>>2
          ("a", "2024-01-01", 2L, 2 * S, 0L),
          ("a", "2024-01-02", 6L, 2 * S + S, 4 * S),
          // b: flat volume → resid 0, baseline unchanged
          ("b", "2024-01-01", 4L, 4 * S, 0L),
          ("b", "2024-01-02", 4L, 4 * S, 0L)), s"keyed folds: $got")
      } finally q.stop()
    }
  }

  test("budgetGate: fitted cutoffs contain q248's batch selection; stream admits " +
      "exactly the threshold rule") {
    implicit val sqlCtx = spark.sqlContext
    val d = sf()
    // fit offline from the fixture corpus (the batch-cadence artifact)
    val cuts = queries.Pipeline.budgetFit(spark, d)
    assert(cuts.nonEmpty && cuts.valuesIterator.exists(_ < Long.MaxValue),
      "fixture must fund at least one source")
    // containment (the serving guarantee): every batch-SELECTED doc
    // clears its source's cutoff; every batch-REJECTED doc that the
    // gate admits is a boundary tie AT the cutoff (within 2^-20 of
    // quality), never a clear miss
    val docs = Tables(spark, d, "documents")
      .select(col("doc_id"), col("source"), col("text"),
        queries.Pipeline.qualityFp(col("text")).as("q_fp"))
    val sel = queries.Catalog.all("q248_token_budget_select").build(spark, d)
      .select(col("doc_id"), col("selected"))
    val joined = docs.join(sel, Seq("doc_id")).collect()
    joined.foreach { r =>
      val (src, qfp, selected) = (r.getString(1), r.getLong(3), r.getBoolean(4))
      if (selected)
        assert(qfp >= cuts(src),
          s"batch-selected doc ${r.getLong(0)} under its source cutoff")
      else if (qfp >= cuts(src))
        assert(qfp == cuts(src),
          s"gate would admit a clear batch-reject: doc ${r.getLong(0)} " +
            s"q_fp $qfp > cut ${cuts(src)}")
    }
    // stream: verdicts equal the threshold rule row-for-row
    import spark.implicits._
    val rows = joined.take(40).map(r =>
      (r.getLong(0), r.getString(1), r.getString(2))).toSeq :+
      ((77777L, "no_such_source", "some unfunded text here"))
    val in = MemoryStream[(Long, String, String)]
    val got = scala.collection.concurrent.TrieMap.empty[Long, Boolean]
    val q = StatefulOps.budgetGate(
        in.toDF().toDF("doc_id", "source", "text"), () => cuts,
        tmpDir("budgetgate").toString) { (admitted, _) =>
      admitted.select(col("doc_id"), col("keep")).collect()
        .foreach(r => got(r.getLong(0)) = r.getBoolean(1))
    }
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val expect = queries.Pipeline.budgetProbe(
          rows.toDF("doc_id", "source", "text"), cuts)
        .select(col("doc_id"), col("keep")).collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
      assert(got.toMap == expect, s"stream $got vs batch probe $expect")
      assert(!got(77777L), "a source absent from the fit must admit nothing")
    } finally q.stop()
  }

  test("boilerplateGate: fitted set + stateless scrub reproduce q247's batch rule") {
    val d = sf()
    val framed = queries.Pipeline.framedDocs(spark, d)
    val boiler = queries.Pipeline.boilerplateFit(
      framed, "text", "doc_id", queries.Pipeline.LineDfCap)
    assert(boiler.nonEmpty, "fixture frame must yield boilerplate lines")
    // fit + serving scrub must equal the one-shot q247 rule doc-by-doc
    val served = queries.Pipeline.scrubLines(framed, "text", boiler)
      .select(col("doc_id"), sha2(col("clean_text"), 256).as("clean_sha"),
        col("n_scrubbed"))
    val oneShot = queries.Catalog.all("q247_boilerplate_scrub").build(spark, d)
      .select(col("doc_id"), col("clean_sha"), col("n_scrubbed"))
    assert(served.exceptAll(oneShot).isEmpty && oneShot.exceptAll(served).isEmpty,
      "serving scrub diverged from the one-shot q247 rule")
  }

  test("boilerplateGate: stream batches scrub identically to the batch kernel") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val boiler = Seq("shared banner", "footer line")
      .map(t => graft.functions.TextKernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    val rows = Seq(
      (1L, "shared banner. unique alpha text. footer line"),
      (2L, "unique beta text. footer line"),
      (3L, "no boilerplate at all"))
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val q = StatefulOps.boilerplateGate(
        in.toDF().toDF("doc_id", "text"), "text", () => boiler,
        tmpDir("bpgate").toString) { (scrubbed, _) =>
      got ++= scrubbed.select(col("doc_id"), col("clean_text"), col("n_scrubbed"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      ()
    }
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val batch = queries.Pipeline.scrubLines(
          rows.toDF("doc_id", "text"), "text", boiler)
        .select(col("doc_id"), col("clean_text"), col("n_scrubbed"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got.sortBy(_._1).toSeq == batch.sortBy(_._1),
        s"stream ${got.sortBy(_._1)} vs batch ${batch.sortBy(_._1)}")
      assert(got.find(_._1 == 1L).get == ((1L, "unique alpha text", 2L)))
      assert(got.find(_._1 == 3L).get == ((3L, "no boilerplate at all", 0L)))
    } finally q.stop()
  }

  test("boilerplateGate: a re-fit artifact swaps atomically between microbatches " +
      "(refresh lifecycle)") {
    // Round-17 verdict #4: production refreshes the boilerplate fit on
    // the batch cadence and swaps it into the standing gate. Pins:
    // (a) across the swap no row is dropped or double-scrubbed — every
    //     doc_id fed in comes out exactly once;
    // (b) batches BEFORE the swap match a one-shot scrub with the old
    //     fit, batches AFTER it match a one-shot scrub with the NEW fit
    //     (the swap is atomic at the microbatch boundary — no batch
    //     sees a mix).
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def h60(t: String) = graft.functions.TextKernels.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString(t))
    val fitOld = Seq(h60("shared banner"))
    val fitNew = Seq(h60("shared banner"), h60("footer line"))
    @volatile var fit = fitOld
    val batch1 = Seq(
      (1L, "shared banner. alpha body. footer line"),
      (2L, "beta body. footer line"))
    val batch2 = Seq(
      (3L, "shared banner. gamma body. footer line"),
      (4L, "delta body. footer line"),
      (5L, "shared banner"))
    val in = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Buffer.empty[(Long, String, Long)]
    val q = StatefulOps.boilerplateGate(
        in.toDF().toDF("doc_id", "text"), "text", () => fit,
        tmpDir("bpgate_refresh").toString) { (scrubbed, _) =>
      got ++= scrubbed.select(col("doc_id"), col("clean_text"), col("n_scrubbed"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      ()
    }
    try {
      in.addData(batch1: _*)
      q.processAllAvailable()
      val afterB1 = got.toList
      fit = fitNew // the batch-cadence re-fit, swapped between batches
      in.addData(batch2: _*)
      q.processAllAvailable()

      // (a) exactly-once across the swap: 5 in, 5 out, ids unique
      assert(got.size == 5 && got.map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L),
        s"rows dropped or double-scrubbed across the swap: $got")

      def oneShot(rows: Seq[(Long, String)], f: Seq[Long]) =
        queries.Pipeline.scrubLines(rows.toDF("doc_id", "text"), "text", f)
          .select(col("doc_id"), col("clean_text"), col("n_scrubbed"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
          .sortBy(_._1).toList
      // (b) pre-swap batch == one-shot with the OLD fit (footer kept)
      assert(afterB1.sortBy(_._1) == oneShot(batch1, fitOld),
        s"pre-swap scrub diverged from one-shot(old fit): $afterB1")
      assert(afterB1.find(_._1 == 1L).get._2 == "alpha body. footer line")
      // post-swap batch == one-shot with the NEW fit (footer scrubbed)
      val afterB2 = got.toList.filter(_._1 >= 3L).sortBy(_._1)
      assert(afterB2 == oneShot(batch2, fitNew),
        s"post-swap scrub diverged from one-shot(new fit): $afterB2")
      assert(afterB2.find(_._1 == 3L).get == ((3L, "gamma body", 2L)))
      // the all-boilerplate degenerate survives the swap as an empty doc
      assert(afterB2.find(_._1 == 5L).get == ((5L, "", 1L)))
    } finally q.stop()
  }

  test("activeUsersMonitor: stream equals batch kernel; rolling distinct is exact") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1700000000000L
    def tsAt(sec: Long) = new Timestamp(base + sec * 1000)
    // win=10s, roll=3. Events: users 1,2 in W0 [0,10); user 1 in W1
    // [10,20); user 3 in W3 [30,40). Rolling-3 hand count:
    //   W0 dau 2 wau {1,2}=2; W1 dau 1 wau {1,2}=2; W2 dau 0 wau {1,2}=2
    //   W3 dau 1 wau {1,3}=2; W4 dau 0 wau {3}=1; W5 dau 0 wau {3}=1
    val rows = Seq[(Timestamp, Long)](
      (tsAt(2), 1L), (tsAt(4), 2L), (tsAt(6), 1L),
      (tsAt(12), 1L),
      (tsAt(33), 3L),
      (tsAt(300), 99L)) // watermark pusher
    val src = rows.toDF("ts", "user_id")

    val in = MemoryStream[(Timestamp, Long)]
    val q = StatefulOps.activeUsersMonitor(
        in.toDF().toDF("ts", "user_id"), "ts", "user_id",
        latenessSec = 0L, winSec = 10L, roll = 3)
      .writeStream.format("memory").queryName("active_mon")
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", tmpDir("activemon").toString).start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      def toMap(rs: Array[org.apache.spark.sql.Row]) =
        rs.map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
      val got = toMap(spark.table("active_mon").collect())
      // stream ≡ batch: the same kernel over the same rows as a batch
      // DataFrame, filtered to the windows the stream has closed
      val batch = toMap(StatefulOps.activeUsersMonitor(
        src, "ts", "user_id", 0L, 10L, 3).collect())
        .filter { case (w, _) => got.contains(w) }
      assert(got == batch, s"stream $got vs batch $batch")
      def w(i: Int) = base + i * 10000L
      assert(got(w(0)) == ((2L, 2L, Some(1.0))), s"W0: ${got(w(0))}")
      assert(got(w(1)) == ((1L, 2L, Some(0.5))), s"W1: ${got(w(1))}")
      assert(got(w(2)) == ((0L, 2L, Some(0.0))),
        s"gap window W2 keeps trailing coverage: ${got(w(2))}")
      assert(got(w(3)) == ((1L, 2L, Some(0.5))), s"W3: ${got(w(3))}")
      assert(got(w(4)) == ((0L, 1L, Some(0.0))), s"W4: ${got(w(4))}")
      assert(got(w(5)) == ((0L, 1L, Some(0.0))), s"W5: ${got(w(5))}")
      assert(!got.contains(w(6)), "W6 has no coverage and must not emit")
    } finally q.stop()
  }

  test("budgetLedger: stream equals the arrival-order batch window rule; " +
      "crossing doc kept; exhausted/unfunded sources admit nothing") {
    withRocksDb {
      implicit val sqlCtx = spark.sqlContext
      import spark.implicits._
      val budgets = Map("a" -> 10L, "b" -> 5L, "z" -> 0L)
      def txt(n: Int) = Seq.fill(n)("t").mkString(" ")
      // a: 4+4 spends 8; seq 5 is the CROSSING doc (8 < 10 → kept,
      // spent 12); seq 7 must reject. b: one 7-token doc crosses its
      // whole budget; the later 1-token doc must STILL reject (admission
      // is a prefix — the ledger never "finds room" after crossing).
      // z: zero budget. m: not in the fit at all.
      val batch1 = Seq(
        (1L, 101L, "a", txt(4)), (2L, 102L, "a", txt(4)),
        (3L, 201L, "b", txt(7)), (4L, 301L, "z", txt(2)))
      val batch2 = Seq(
        (5L, 103L, "a", txt(4)), (6L, 202L, "b", txt(1)),
        (7L, 104L, "a", txt(1)), (8L, 401L, "m", txt(3)))
      val in = MemoryStream[(Long, Long, String, String)]
      val q = StatefulOps.budgetLedger(
          in.toDF().toDF("seq", "doc_id", "source", "text"), budgets)
        .writeStream.format("memory").queryName("budget_ledger")
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", tmpDir("bledger").toString).start()
      try {
        in.addData(batch1: _*)
        q.processAllAvailable()
        in.addData(batch2: _*)
        q.processAllAvailable()
        val got = spark.table("budget_ledger")
          .select(col("doc_id"), col("admitted"), col("spent_after"))
          .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2))))
          .toMap
        // stream ≡ batch: admission is a prefix, so the verdict equals
        // cum_before < budget over ALL prior arrivals — a plain
        // per-source running-sum window on the same rows
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("seq"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
        val wantAdmitted = (batch1 ++ batch2)
          .toDF("seq", "doc_id", "source", "text")
          .select(col("seq"), col("doc_id"), col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok"))
          .withColumn("cum_before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
          .withColumn("budget",
            element_at(typedLit(budgets), col("source")))
          .select(col("doc_id"),
            coalesce(col("cum_before") < col("budget"), lit(false)).as("adm"))
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        assert(got.view.mapValues(_._1).toMap == wantAdmitted,
          s"stream $got vs batch window $wantAdmitted")
        // the hand pins the window equality could mask
        assert(got(103L) == ((true, 12L)), s"crossing doc kept: ${got(103L)}")
        assert(!got(104L)._1, "post-crossing doc must reject")
        assert(!got(202L)._1,
          "small doc after the crossing must STILL reject (prefix rule)")
        assert(!got(301L)._1 && !got(401L)._1,
          "zero-budget and unfitted sources admit nothing")
      } finally q.stop()
    }
  }

  test("budgetLedger: restart from checkpoint does not double-spend " +
      "(re-planned batches fold against the last COMMITTED ledger)") {
    withRocksDb {
      import java.nio.file.Files
      val src = tmpDir("bl_src"); val out = tmpDir("bl_out")
      val ckpt = tmpDir("bl_ckpt")
      val budgets = Map("a" -> 10L)
      def txt(n: Int) = Seq.fill(n)("t").mkString(" ")
      def writeRows(name: String, rows: Seq[(Long, Long, Int)]): Unit =
        Files.writeString(src.resolve(name), rows.map { case (seq, id, n) =>
          s"""{"seq":$seq,"doc_id":$id,"source":"a","text":"${txt(n)}"}"""
        }.mkString("\n"))
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "seq BIGINT, doc_id BIGINT, source STRING, text STRING")
      def startQuery() = StatefulOps.budgetLedger(
          spark.readStream.schema(schema).json(src.toString), budgets)
        .writeStream.format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("append").start()
      // phase 1 spends 8 of 10. If a restart re-spent it (ledger 16),
      // phase 2's crossing doc (cum_before 8 < 10) would flip to
      // reject — the double-spend this pin exists to catch.
      writeRows("f1.json", Seq((1L, 101L, 4), (2L, 102L, 4)))
      val q1 = startQuery()
      try q1.processAllAvailable() finally q1.stop()
      writeRows("f2.json", Seq((3L, 103L, 4), (4L, 104L, 1)))
      val q2 = startQuery()
      try q2.processAllAvailable() finally q2.stop()
      val got = spark.read.parquet(out.toString)
        .select(col("doc_id"), col("admitted"), col("spent_after"))
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      // exactly-once: each doc appears ONCE with the one-pass verdicts
      assert(got == Seq((101L, true, 4L), (102L, true, 8L),
        (103L, true, 12L), (104L, false, 12L)),
        s"restart double-spent or dropped rows: $got")
    }
  }

  test("activeUsersMonitor batch kernel matches q162 on event-bearing days") {
    // the monitor at win = 1 day, roll = 7 IS q162's dau/wau/stickiness
    // on every day that has events (q162's inner join drops the
    // trailing-coverage days the monitor also reports)
    val d = sf()
    val ev = Tables(spark, d, "events")
    val got = StatefulOps.activeUsersMonitor(
        ev, "ts", "user_id", 0L, 86400L, 7)
      .select(expr("CAST(timestamp_millis(w_start) AS DATE)").as("day"),
        col("dau"), col("wau"))
      .filter(col("dau") > 0)
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    val want = queries.Catalog.all("q162_active_users").build(spark, d)
      .select(col("day"), col("dau"), col("wau"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getLong(2)))
      .toSet
    assert(got == want, s"monitor vs q162: ${got.diff(want)} | ${want.diff(got)}")
  }
}
