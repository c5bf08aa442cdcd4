package graft

import graft.queries.Catalog
import org.apache.spark.sql.DataFrame

/** Behavioral guards for the corpus-build verbs (q91–q97) beyond the
  * DuckDB oracle: the determinism/stability properties the docs claim,
  * and the planted-input semantics the hash comparison can't isolate.
  */
class PipelineSpec extends SparkSuite {

  /** Write a documents.parquet with the standard 5-column schema. */
  private def corpus(rows: Seq[(Long, String)], prefix: String): String = {
    import spark.implicits._
    val dir = tmpDir(prefix).toString
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String, dir: String): DataFrame =
    Catalog.all(name).build(spark, dir)

  test("q92 sampling and q94 packing are invariant to input file layout") {
    // The docs claim the hash-ranked sample and the packing bins are
    // reproducible and stable under repartitioning — the property that
    // lets a 100 TB corpus re-layout without changing the sample.
    val src = sf()
    val alt = tmpDir("relayout").toString
    val docs = spark.read.parquet(s"$src/documents.parquet")
    docs.repartition(7).write.mode("overwrite")
      .parquet(s"$alt/documents.parquet")
    Seq("q92_stratified_sample", "q94_sequence_pack", "q102_shard_order",
        "q104_chunk_overlap", "q106_fuzzy_incremental", "q107_mixture_plan",
        "q110_source_overlap", "q111_length_profile", "q116_pack_sequences")
      .foreach { q =>
        val a = run(q, src).collect().map(_.toString).sorted
        val b = run(q, alt).collect().map(_.toString).sorted
        assert(a.sameElements(b), s"$q changed under input re-layout")
      }
  }

  test("q110 source overlap matches a driver-side set computation") {
    val g = graft.queries.Pipeline.OverlapGram
    val sets: Map[String, Set[String]] = spark.read
      .parquet(s"${sf()}/documents.parquet")
      .select("source", "text").collect()
      .groupBy(_.getString(0))
      .map { case (src, rows) =>
        src -> rows.flatMap { r =>
          // limit=-1: Spark's split keeps trailing empty tokens
          val t = r.getString(1).split(" ", -1)
          if (t.length >= g) t.sliding(g).map(_.mkString(" ")).toSeq
          else Seq.empty[String]
        }.toSet
      }
    val expected = (for {
      (a, sa) <- sets.toSeq; (b, sb) <- sets.toSeq if a < b
      common = (sa & sb).size if common > 0
    } yield (a, b) -> ((sa.size.toLong, sb.size.toLong, common.toLong,
      common.toDouble / (sa.size + sb.size - common).toDouble,
      common.toDouble / math.min(sa.size, sb.size).toDouble))).toMap
    val out = run("q110_source_overlap", sf()).collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    }.toMap
    // exact equality incl. the doubles: both sides divide the same exact
    // ints in IEEE double — any drift means the pair expansion lost a pair
    assert(out == expected,
      s"mismatch keys: ${(out.keySet diff expected.keySet) ++ (expected.keySet diff out.keySet)}")
    assert(out.nonEmpty && out.forall { case ((a, b), (_, _, _, j, c)) =>
      a < b && j > 0.0 && j <= c && c <= 1.0 })
  }

  test("q117 contamination edges are exactly the complement of q95's survivors") {
    val survivors = run("q95_decontaminate", sf()).collect()
      .map(_.getLong(0)).toSet
    val allTrain = spark.read.parquet(s"${sf()}/documents.parquet")
      .collect().map(_.getLong(0)).filter(_ % 97 != 0).toSet
    val report = run("q117_contam_report", sf()).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every reported train doc is a q95 casualty, every casualty is
    // reported, and each edge carries at least one shared shingle
    assert(report.map(_._1).toSet == allTrain -- survivors,
      "report train_ids != q95 complement")
    assert(report.forall(_._3 >= 1))
  }

  test("q119 phases are the exact histogram quantiles; populations near-quartered") {
    val rows = run("q119_curriculum", sf()).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4)))
    val n = rows.length.toLong
    assert(rows.map(_._3).forall(p => p >= 0 && p <= 3))
    // driver-side re-derivation: phase = min(3, 4*count-below-bucket/n)
    val byBucket = rows.groupBy(_._2)
    var cum = 0L
    byBucket.keys.toSeq.sorted.foreach { b =>
      val expect = math.min(3L, cum * 4 / n).toInt
      byBucket(b).foreach { case (id, _, p) =>
        assert(p == expect, s"doc $id bucket $b: phase $p != $expect") }
      cum += byBucket(b).length
    }
    // each phase within the largest bucket of n/4 (ties share buckets)
    val maxBucket = byBucket.values.map(_.length).max
    rows.groupBy(_._3).values.foreach(ph =>
      assert(math.abs(ph.length - n / 4.0) <= maxBucket))
  }

  test("q121 sample re-derives exactly; sampled token mass tracks each source's target") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "source", "size(split(text, ' ')) AS n_tok").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val tokens = docs.groupBy(_._2).view.mapValues(_.map(_._3.toLong).sum).toMap
    val weight = (s: String) =>
      if (Set("src0", "src1", "src2")(s)) 1.0
      else if (Set("src3", "src4", "src5")(s)) 0.5 else 0.25
    val allToks = tokens.values.sum.toDouble
    // keys is a SET — map(weight) would dedupe {1.0, 0.5, 0.25}; toSeq first
    val sw = tokens.keys.toSeq.map(weight).sum
    val e = tokens.map { case (s, t) =>
      s -> allToks * graft.queries.Pipeline.MixBudgetFrac * weight(s) / sw / t }
    def u(id: Long): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(h.take(4).map(b => "%02x".format(b & 0xff)).mkString, 16) / 4294967296.0
    }
    val expected = docs.flatMap { case (id, src, nt) =>
      val es = math.min(e(src), graft.queries.Pipeline.MaxEpochs)
      val copies = es.toLong + (if (u(id) < es - math.floor(es)) 1 else 0)
      (0L until copies).map(ep => (id, src, nt, ep))
    }.toSet
    val out = graft.queries.Catalog.all("q121_mixture_sample")
      .build(spark, sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSet
    assert(out == expected)
    // per-source sampled mass lands within one max-doc of its target
    val maxDoc = docs.map(_._3.toLong).max
    out.groupBy(_._2).foreach { case (src, rows) =>
      val got = rows.toSeq.map(_._3.toLong).sum
      val target = allToks * graft.queries.Pipeline.MixBudgetFrac * weight(src) / sw
      // Bernoulli sampling concentrates around the target; at fixture
      // scale allow a quarter of the source's own mass as slack
      assert(math.abs(got - target) <= (tokens(src) * 0.25).max(maxDoc.toDouble),
        s"$src: sampled $got vs target $target")
    }
  }

  test("q121 epoch ceiling: a tiny high-weight source caps at MaxEpochs copies") {
    val session = spark; import session.implicits._
    val dir = tmpDir("mixcap").toString
    // src0 (w=1.0): 20×200 tokens; src1 (w=1.0): ONE 2-token doc whose
    // uncapped e = 4002·0.5·1.0/2/2 ≈ 500 — far past the ceiling
    val big = (0L until 20L).map(i =>
      (i, "src0", (1 to 200).map(j => s"t$j").mkString(" ")))
    val rows = big :+ ((99L, "src1", "tiny doc"))
    rows.toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.Catalog.all("q121_mixture_sample")
      .build(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(3)))
    val tinyEpochs = out.filter(_._1 == 99L).map(_._2).sorted
    assert(tinyEpochs.toSeq == (0L until graft.queries.Pipeline.MaxEpochs.toLong),
      s"expected exactly MaxEpochs dense epochs, got ${tinyEpochs.length}")
  }

  test("q123 span report equals a driver-side winnowing recomputation") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val W = graft.queries.Pipeline.SpanTokens
    val M = graft.queries.Pipeline.SpanAnchorMod
    def anchor(t: String) = java.lang.Long.parseLong(md5hex(t).take(4), 16) % M == 0
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wins = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      id -> (if (toks.length < W) Seq.empty[String]
             else (0 to toks.length - W).filter(i => anchor(toks(i)))
               .map(i => md5hex(toks.slice(i, i + W).mkString(" ")).take(15)))
    }
    val cnt = wins.flatMap(_._2).groupBy(identity).map { case (h, xs) => h -> xs.length }
    val expected = wins.map { case (id, hs) =>
      (id, hs.length, hs.count(h => cnt(h) >= 2))
    }.toSet
    val out = run("q123_span_dup", sf()).collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4))).toSet
    assert(out == expected)
    // non-degenerate on the fixture: the exact-dup texts share all spans
    assert(expected.exists(_._3 > 0), "fixture produced no duplicated span")
  }

  test("q123 detection is alignment-invariant (offsets differing mod the anchor modulus)") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val M = graft.queries.Pipeline.SpanAnchorMod
    def anchor(t: String) = java.lang.Long.parseLong(md5hex(t).take(4), 16) % M == 0
    // plant a 40-token run headed by a known anchor token, at offset 3 in
    // one doc and offset 7 in another (3 ≠ 7 mod 8): a stride-8 grid
    // would never align the copies; winnowing anchors on the content
    val anchorTok = (1 to 10000).map(i => s"a$i").find(anchor).get
    val sharedRun = anchorTok +: (1 to 39).map(i => s"r$i")
    val docA = ((1 to 3).map(i => s"ua$i") ++ sharedRun ++
      (1 to 20).map(i => s"va$i")).mkString(" ")
    val docB = ((1 to 7).map(i => s"ub$i") ++ sharedRun ++
      (1 to 20).map(i => s"vb$i")).mkString(" ")
    val docC = (1 to 60).map(i => s"uc$i").mkString(" ")
    val dir = corpus(Seq(1L -> docA, 2L -> docB, 3L -> docC), "spanwin")
    val out = run("q123_span_dup", dir).collect()
      .map(r => (r.getLong(0), r.getInt(4))).toMap
    assert(out(1L) >= 1 && out(2L) >= 1, s"shared run missed: $out")
    assert(out(3L) == 0, s"unique doc flagged: $out")
  }

  test("q126 scrub equals a driver-side winnowing + keeper-mask recomputation") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => "%02x".format(b & 0xff)).mkString
    val W = graft.queries.Pipeline.SpanTokens
    val M = graft.queries.Pipeline.SpanAnchorMod
    def anchor(t: String) = java.lang.Long.parseLong(md5hex(t).take(4), 16) % M == 0
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val wins = docs.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      if (toks.length < W) Seq.empty
      else (0 to toks.length - W).filter(i => anchor(toks(i)))
        .map(i => (md5hex(toks.slice(i, i + W).mkString(" ")).take(15), id, i))
    }
    val byH = wins.groupBy(_._1)
    val scrub: Map[Long, Seq[Int]] = wins.filter { case (h, id, _) =>
      byH(h).size >= 2 && id != byH(h).map(_._2).min
    }.groupBy(_._2).map { case (id, xs) => id -> xs.map(_._3).toSeq }
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val starts = scrub.getOrElse(id, Seq.empty)
      val kept = toks.zipWithIndex.collect {
        case (t, j) if !starts.exists(st => j >= st && st + W > j) => t }
      (id, if (starts.isEmpty) text else kept.mkString(" "),
        if (starts.isEmpty) 0 else toks.length - kept.length, toks.length)
    }.toSet
    val out = run("q126_span_scrub", sf()).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(out == expected)
    assert(expected.exists(_._3 > 0), "fixture scrubbed nothing")
  }

  test("q126 keeper asymmetry: the lowest doc keeps the shared run, the copy loses it") {
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => "%02x".format(b & 0xff)).mkString
    val M = graft.queries.Pipeline.SpanAnchorMod
    def anchor(t: String) = java.lang.Long.parseLong(md5hex(t).take(4), 16) % M == 0
    val anchorTok = (1 to 10000).map(i => s"a$i").find(anchor).get
    val sharedRun = anchorTok +: (1 to 39).map(i => s"r$i")
    val docA = ((1 to 3).map(i => s"ua$i") ++ sharedRun ++
      (1 to 20).map(i => s"va$i")).mkString(" ")
    val docB = ((1 to 7).map(i => s"ub$i") ++ sharedRun ++
      (1 to 20).map(i => s"vb$i")).mkString(" ")
    val docC = (1 to 60).map(i => s"uc$i").mkString(" ")
    val dir = corpus(Seq(1L -> docA, 2L -> docB, 3L -> docC), "spanscrub")
    val out = run("q126_span_scrub", dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    assert(out(1L) == ((docA, 0)), s"keeper doc modified: ${out(1L)}")
    assert(out(2L)._2 > 0, s"copy untouched: ${out(2L)}")
    assert(!out(2L)._1.contains(anchorTok), "duplicated anchor survives in the copy")
    assert(out(2L)._1.contains("ub1") && out(2L)._1.contains("vb20"),
      s"unique text lost: ${out(2L)}")
    assert(out(3L) == ((docC, 0)), s"unrelated doc modified: ${out(3L)}")
  }

  test("q116 sequences reconstruct exactly from a driver-side re-pack") {
    val budget = graft.queries.Pipeline.PackBudget
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val expected = docs.groupBy(_._2).flatMap { case (lang, ds) =>
      var cum = 0L
      val binned = ds.sortBy(d => (md5hex(d._1.toString), d._1)).map { d =>
        val n = d._3.split(" ", -1).length
        cum += n
        (((cum - 1) / budget).toInt, d._3, n.toLong)
      }
      binned.groupBy(_._1).map { case (bin, xs) =>
        (lang, bin) -> ((xs.length.toLong, xs.map(_._3).sum,
          md5hex(xs.map(_._2).mkString(" <eod> "))))
      }
    }.toMap
    val out = run("q116_pack_sequences", sf()).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(5)))).toMap
    assert(out == expected)
  }

  test("q113 funnel: each planted doc dies at exactly its gate") {
    // one doc per failure mode, all in one source: the funnel counts
    // pin which gate each doc died at, not just the totals
    val passing = "the of " + (1 to 58).map(i => s"w$i").mkString(" ")
    val dir = corpus(Seq(
      1L -> passing,                                   // survives everything
      2L -> passing,                                   // exact dup of 1: dies at distinct
      3L -> Seq.fill(10)("el la de").mkString(" "),    // dies at language
      4L -> ("the " + (1 to 9).map(i => s"v$i").mkString(" ")), // dies at quality (10 toks)
      5L -> Seq.fill(40)("spam").mkString(" ")),       // dies at repetition (uniq 1/40)
      "funnel")
    val r = run("q113_gate_funnel", dir).collect()
    assert(r.length == 1)
    val row = (r(0).getLong(1), r(0).getLong(2), r(0).getLong(3),
      r(0).getLong(4), r(0).getLong(5), r(0).getDouble(6))
    assert(row == ((5L, 4L, 3L, 2L, 1L, 0.2)), s"funnel was $row")
  }

  test("q90 build metrics: unique/survivor/collapse counts observable per action") {
    val df = run("q90_pipeline", sf())
    val rows = df.collect()
    val m = df.queryExecution.observedMetrics("corpus_build")
    assert(m.getAs[Long]("n_unique") == rows.length)
    val survivors = m.getAs[Long]("n_gate_survivors")
    assert(survivors >= rows.length,
      s"gate survivors $survivors < unique ${rows.length}")
    assert(m.getAs[Long]("n_exact_dups_collapsed") == survivors - rows.length)
  }

  test("q95 drops exactly the docs sharing a 4-gram with the benchmark slice") {
    val dir = corpus(Seq(
      97L -> "alpha beta gamma delta epsilon",      // benchmark (97 % 97 == 0)
      1L  -> "zzz alpha beta gamma delta yyy",      // contaminated: shares 4-gram
      2L  -> "totally unrelated clean document here", // clean
      3L  -> "too short"                             // < 4 tokens: no shingles
    ), "decontam")
    val kept = run("q95_decontaminate", dir)
      .collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(2L, 3L)))
  }

  test("q95 plan broadcasts the benchmark side — the corpus never shuffles") {
    val p = run("q95_decontaminate", sf()).queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "corpus-side shuffle join in the decontamination plan")
  }

  test("q95 id-broadcast guard: over the cap the anti-join falls back to a shuffle") {
    // a corpus whose contamination is pathological (2 of 3 training docs
    // dirty) with the cap forced to 1: the bounded probe must detect the
    // overflow and plan the anti-join WITHOUT a driver-side broadcast.
    val dir = corpus(Seq(
      97L -> "alpha beta gamma delta epsilon",
      1L  -> "zzz alpha beta gamma delta yyy",   // contaminated
      2L  -> "qq beta gamma delta epsilon rr",   // contaminated
      3L  -> "totally unrelated clean document here"
    ), "decontam-cap")
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val isBench = org.apache.spark.sql.functions.col("doc_id") % 97 === 0

    val guarded = queries.Pipeline.decontaminate(docs, isBench, idCap = 1L)
    // fallback result identical to the broadcast path's
    val kept = guarded.collect().map(_.getLong(0)).sorted
    assert(kept.sameElements(Array(3L)), s"fallback changed results: ${kept.toSeq}")
    // What the guard controls is the FORCED broadcast hint — over the
    // cap the anti-join must carry none, leaving the strategy to the
    // planner/AQE, which only broadcast what they can PROVE small (here
    // they still do, 2 ids — the safe direction; an unconditional hint
    // would collect an unbounded set onto the driver). The benchmark-
    // shingle hint is unconditional by design, so the hint count drops
    // from 2 to 1.
    def hints(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.toString
        .linesIterator.count(_.contains("ResolvedHint"))
    assert(hints(guarded) == 1,
      s"over-cap plan should carry only the bench-shingle hint, got ${hints(guarded)}")
    val unguarded = queries.Pipeline.decontaminate(docs, isBench)
    assert(hints(unguarded) == 2,
      s"under-cap plan should hint both broadcasts, got ${hints(unguarded)}")
  }

  test("q96 keep verdict matches the Gopher-style thresholds") {
    val fluent = (1 to 30).map(i => s"w$i").mkString(" ")   // unique, long
    val spammy = Seq.fill(30)("spam").mkString(" ")          // all-dup
    val short  = "just five ok words here"
    val dir = corpus(Seq(1L -> fluent, 2L -> spammy, 3L -> short), "gopher")
    val keep = run("q96_repetition_quality", dir)
      .collect().map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    assert(keep(1L))                   // unique tokens, >= 20 of them
    assert(!keep(2L))                  // uniq ratio 1/30, dup bigrams 100%
    assert(!keep(3L))                  // under the length floor
  }

  test("q248 selects best-first under the budget; crossing doc kept; " +
      "zero-budget and tie edges pinned") {
    import spark.implicits._
    // quality = least(1, n/100) * (1 - stop/n): stopword-free docs rank
    // purely by token count, so selection order is hand-predictable.
    def doc(id: Long, src: String, n: Int) =
      (id, (1 to n).map(i => s"w$i").mkString(" "), src)
    val dir = tmpDir("q248").toString
    (Seq(
      // src0: 50+40+30+20 = 140 tokens, budget = 140*2 div 5 = 56.
      // rank 50,40,30,20: cum_before 0,50,90,110 → selected {1,2}
      // (doc 2 CROSSES the budget at cum_before 50 < 56 and is kept)
      doc(1L, "src0", 50), doc(2L, "src0", 40),
      doc(3L, "src0", 30), doc(4L, "src0", 20),
      // src1: one giant doc, budget = 80*2 div 5 = 32 < 80 tokens —
      // cum_before 0 < 32, the doc is kept (>=1 doc per funded source)
      doc(5L, "src1", 80),
      // src2: 2 tokens total → budget = 0 → nothing selected
      doc(6L, "src2", 2),
      // src3: three IDENTICAL docs (same quality, same n_tok = 30;
      // budget = 90*2 div 5 = 36): doc_id breaks the tie — 7 (cum 0)
      // and 8 (cum 30 < 36) kept, 9 (cum 60) rejected
      doc(7L, "src3", 30), doc(8L, "src3", 30), doc(9L, "src3", 30))
      : Seq[(Long, String, String)])
      .toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'en' AS lang", "source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = Catalog.all("q248_token_budget_select").build(spark, dir)
      .collect().map(r => r.getLong(1) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> false, 7L -> true, 8L -> true, 9L -> false),
      s"selection: $got")
  }

  test("budgetFit's cut frame is ONE quality-projection job (round-18 verdict #6)") {
    import org.apache.spark.sql.functions._
    // the fit used to rebuild the q248 selection AND a second quality
    // projection joined back by doc_id — two documents scans for a
    // #sources-row artifact. Sharing q248Tagged makes the whole fit
    // path one corpus scan; pin it so the recompute can't return.
    spark.sharedState.cacheManager.clearCache()
    Caches.release(spark)
    try {
      val cuts = queries.Pipeline.budgetCuts(spark, sf())
      val scans = PlanLint.factScanCounts(cuts.queryExecution.optimizedPlan)
      assert(scans == Map("documents" -> 1),
        s"budgetFit path must scan documents exactly once, got $scans")
      // and the collected artifact still matches the entry's selection
      val fit = queries.Pipeline.budgetFit(spark, sf())
      val sel = Catalog.all("q248_token_budget_select").build(spark, sf())
        .filter(col("selected"))
        .join(Tables(spark, sf(), "documents")
          .select(col("doc_id"),
            queries.Pipeline.qualityFp(col("text")).as("q_fp")),
          Seq("doc_id"))
        .groupBy(col("source")).agg(min(col("q_fp")).as("cut"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      sel.foreach { case (src, cut) =>
        assert(fit(src) == cut, s"fit cut for $src: ${fit(src)} != $cut")
      }
    } finally Caches.release(spark)
  }

  test("q97 admits only batch-new texts, first doc_id wins in-batch") {
    val dir = corpus(Seq(
      1L  -> "existing corpus text one",
      2L  -> "existing corpus text two",
      8L  -> "existing corpus text one",   // batch dup of corpus: dropped
      9L  -> "genuinely new text",         // new: admitted
      18L -> "another new text",           // in-batch dup pair: min id wins
      19L -> "another new text"
    ), "incr")
    val out = run("q97_incremental_dedup", dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(9L -> 1L, 18L -> 2L))
  }

  test("q98 scrub removes every planted PII instance; counts pin the regexes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.spread(Tables(spark, sf(), "documents"))
    val out = run("q98_pii_scrub", sf())
    // exactly one planted email/IP/phone per row (the corpus itself is
    // synthetic words — no accidental matches at the fixture scale)
    val counts = out.agg(sum(col("n_email")), sum(col("n_ip")), sum(col("n_phone")))
      .head(); val n = docs.count()
    assert(counts.getLong(0) == n && counts.getLong(1) == n && counts.getLong(2) == n,
      s"planted PII must be matched once per row: $counts for $n rows")
    // and the scrubbed text itself must contain NO residual match of any
    // pattern — recompute the clean text and scan it (the md5 in the
    // catalog output pins parity; this pins the semantics)
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via "),
      lit("10."), (col("doc_id") % 256).cast("string"), lit(".0."),
      ((col("doc_id") * 7) % 256).cast("string"),
      lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val clean = regexp_replace(regexp_replace(regexp_replace(planted,
      graft.queries.Pipeline.PiiEmailRe, "<EMAIL>"),
      graft.queries.Pipeline.PiiIpRe, "<IP>"),
      graft.queries.Pipeline.PiiPhoneRe, "<PHONE>")
    val residual = docs.select(clean.as("c"))
      .filter(col("c").rlike(graft.queries.Pipeline.PiiEmailRe) ||
        col("c").rlike(graft.queries.Pipeline.PiiIpRe) ||
        col("c").rlike(graft.queries.Pipeline.PiiPhoneRe))
      .count()
    assert(residual == 0, s"$residual scrubbed docs still match a PII pattern")
  }

  test("q100 bloom-pruned decontamination equals q95 exactly; prune is in the plan") {
    val exact = run("q95_decontaminate", sf()).collect().map(_.toString).sorted
    val bloomed = run("q100_decontam_bloom", sf()).collect().map(_.toString).sorted
    assert(bloomed.sameElements(exact),
      "Bloom prune must be output-invariant (no false negatives + exact verify)")
    // the filter itself is built eagerly and embedded as a literal (the
    // q51 index-artifact shape); the probe must sit in the scan stage
    val plan = run("q100_decontam_bloom", sf()).queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"),
      s"q100 must probe the Bloom filter map-side:\n$plan")
  }

  test("q102 order is a total assignment with dense per-shard positions") {
    val rows = run("q102_shard_order", sf())
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    val n = Tables(spark, sf(), "documents").count()
    assert(rows.length == n && rows.map(_._1).distinct.length == n,
      "every doc gets exactly one (shard, pos)")
    rows.groupBy(_._2).foreach { case (shard, g) =>
      val ps = g.map(_._3).sorted
      assert(ps.sameElements(0 until g.length),
        s"shard $shard positions must be dense 0..${g.length - 1}")
    }
    assert(rows.map(_._2).distinct.length == graft.queries.Pipeline.NumShards,
      "fixture scale must populate every shard")
  }

  test("q99 split fractions land near 90/5/5 and the assignment is total") {
    val rows = run("q99_hash_split", sf())
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = rows.values.sum.toDouble
    assert(rows.keySet == Set("train", "val", "test"), s"slices: ${rows.keySet}")
    // hash-fraction split: binomial tolerance at fixture scale (n=500)
    assert(math.abs(rows("train") / n - 0.90) < 0.05, s"train = ${rows("train") / n}")
    assert(math.abs(rows("val") / n - 0.05) < 0.03, s"val = ${rows("val") / n}")
    assert(math.abs(rows("test") / n - 0.05) < 0.03, s"test = ${rows("test") / n}")
  }

  test("q104 chunks equal a Scala reference slicing of every fixture doc") {
    import graft.queries.Pipeline.{ChunkStride, ChunkTokens}
    val texts = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = run("q104_chunk_overlap", sf()).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getString(3))).toMap
    val expected = texts.flatMap { case (id, text) =>
      val toks = text.split(" ", -1)
      (0 to (toks.length - 1) / ChunkStride).filter(c =>
        // the containment guard: a final window inside its predecessor
        // (start + C - stride >= n) is not emitted
        c == 0 || c * ChunkStride + ChunkTokens - ChunkStride < toks.length)
        .map { c =>
          val w = toks.slice(c * ChunkStride, c * ChunkStride + ChunkTokens)
          (id, c) -> (w.length, w.mkString(" "))
        }
    }
    assert(out == expected, {
      val diff = (out.keySet union expected.keySet)
        .filter(k => out.get(k) != expected.get(k)).take(3)
      s"first diffs: ${diff.map(k => (k, out.get(k), expected.get(k)))}"
    })
    // overlap property on a multi-chunk doc: consecutive full chunks
    // share exactly ChunkTokens - ChunkStride tokens (>1 suffices: the
    // containment guard trims the fixture's longest docs to 2 chunks)
    val multi = expected.keys.groupBy(_._1).collectFirst {
      case (id, ks) if ks.size > 1 => id }.get
    val t = texts(multi).split(" ", -1)
    assert(t.slice(ChunkStride, ChunkTokens).sameElements(
      t.slice(ChunkStride, ChunkStride + (ChunkTokens - ChunkStride))))
  }

  test("q105 codes match a Scala reference quantizer; error bounded by scale/2") {
    val vecs = spark.read.parquet(s"${sf()}/embeddings.parquet")
      .selectExpr("vec_id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    val out = run("q105_embed_quantize", sf()).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5)))
      .toMap
    assert(out.keySet == vecs.keySet)
    vecs.foreach { case (id, v) =>
      val scale = v.map(math.abs).max / 127.0
      val q = if (scale == 0.0) v.map(_ => 0)
              else v.map(x => math.max(-127.0, math.min(127.0, math.floor(x / scale + 0.5))).toInt)
      assert(out(id) == ((scale, q.map(_.toLong).sum, q.min, q.max, q.count(x => math.abs(x) == 127))),
        s"vec $id: got ${out(id)}")
      // the contract the stats are auditing: dequantization error is at
      // most half a step, and the max-|x| element saturates exactly
      if (scale > 0.0) {
        v.zip(q).foreach { case (x, c) =>
          assert(math.abs(c * scale - x) <= scale / 2 + 1e-12) }
        assert(q.map(math.abs).max == 127, "max-|x| element must hit ±127")
      }
    }
  }

  test("q201: NULL values count as violations in every check (dqMonitor contract)") {
    import spark.implicits._
    // round-13 verdict item 2: a NULL discount/flag/price/n_chars made
    // the bare violation predicate NULL and when().otherwise(0) scored
    // the row CLEAN — the exact leak the streaming sibling dqMonitor
    // fixed. Planted NULLs in every checked column pin the strictness.
    val dir = tmpDir("q201_nulls").toString
    Seq[(Option[Long], Int, Option[Double], Option[String])](
      (Some(1L), 1, Some(0.05), Some("A")), // clean
      (Some(1L), 1, Some(0.05), Some("N")), // dup (1,1) key
      (Some(2L), 2, None, None),            // NULL discount + NULL flag
      (Some(9L), 3, Some(0.20), Some("X")), // range + domain bad, FK orphan
      (None, 4, Some(0.0), Some("R")))      // NULL key: pk + FK violation
      .toDF("l_orderkey", "l_linenumber", "l_discount", "l_returnflag")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq[(Long, Option[Double])]((1L, Some(100.0)), (2L, None), (3L, Some(-5.0)))
      .toDF("o_orderkey", "o_totalprice")
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Seq[(Long, Option[String], Option[Long])](
      (0L, Some("abc"), Some(3L)),  // clean
      (1L, None, Some(5L)),         // NULL text
      (2L, Some("ab"), None),       // NULL n_chars
      (3L, Some("abcd"), Some(3L))) // mismatch
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    val got = graft.queries.Catalog.all("q201_dq_report").build(spark, dir)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got("li_pk_unique") == ((2L, 5L, false)), s"pk: ${got("li_pk_unique")}")
    assert(got("li_discount_range") == ((2L, 5L, false)),
      s"disc: ${got("li_discount_range")}")
    assert(got("li_returnflag_domain") == ((2L, 5L, false)),
      s"flag: ${got("li_returnflag_domain")}")
    assert(got("li_orderkey_fk") == ((2L, 5L, false)),
      s"fk: ${got("li_orderkey_fk")}")
    assert(got("ord_totalprice_positive") == ((2L, 3L, false)),
      s"price: ${got("ord_totalprice_positive")}")
    assert(got("doc_nchars_consistent") == ((3L, 4L, false)),
      s"nchars: ${got("doc_nchars_consistent")}")
  }
}
