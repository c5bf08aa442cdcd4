package graft

import graft.functions.ParityFns
import graft.functions.TextKernels
import org.apache.spark.sql.functions._

/** Native shingle/minhash kernels vs the HOF formulation: identical
  * output on the fixture corpus (order included — both are
  * first-occurrence distinct), identical hashes, identical signatures.
  */
class TextKernelSpec extends SparkSuite {

  test("native shingles3 equals the HOF formulation, order included") {
    import spark.implicits._
    val diff = Tables(spark, sf(), "documents")
      .select(
        call_function("graft_shingles3", col("text")).as("native"),
        ParityFns.shingles3(col("text")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("native graft_shingles(k) equals the null-propagating HOF fallback for k=2..6") {
    import spark.implicits._
    // fixture corpus + the split-semantics edge cases (empty string,
    // leading/trailing/double spaces → empty tokens kept, limit=-1) +
    // NULL text (native is null-intolerant → NULL; the fallback must
    // match, and the comparison must be null-safe or NULL rows vanish
    // from the diff)
    val edge = Seq("", " ", "a", "a b", "a  b c", " a b c ", "a b a b a b")
      .toDF("text").union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    (2 to 6).foreach { k =>
      def hof(t: org.apache.spark.sql.Column) =
        when(t.isNotNull,
          when(size(split(t, " ")) >= k,
            array_distinct(transform(sequence(lit(1), size(split(t, " ")) - (k - 1)),
              i => concat_ws(" ", slice(split(t, " "), i, lit(k))))))
            .otherwise(typedLit(Seq.empty[String])))
      val diff = docs.select(
          call_function("graft_shingles", col("text"), lit(k)).as("native"),
          hof(col("text")).as("hof"))
        .filter(!(col("native") <=> col("hof")))
      assert(diff.count() == 0, s"graft_shingles diverges at k=$k")
    }
  }

  test("native hashModP equals conv(substring(md5,1,15),16,10) % P") {
    import spark.implicits._
    val texts = Seq("alpha beta gamma", "x", "", "the quick brown fox")
    val fromCol = texts.toDF("t")
      .select(ParityFns.hashModP(col("t")).as("h")).as[Long].collect()
    val fromKernel = texts.map(t =>
      TextKernels.hashModP(org.apache.spark.unsafe.types.UTF8String.fromString(t)))
    assert(fromCol.toSeq == fromKernel)
  }

  test("native hash60 equals conv(substring(md5,1,15),16,10) on the corpus") {
    val diff = Tables(spark, sf(), "documents")
      .select(explode(ParityFns.shingles3(col("text"))).as("s"))
      .select(
        call_function("graft_hash60", col("s")).as("native"),
        ParityFns.hash60(col("s")).as("column"))
      .filter(col("native") =!= col("column"))
    assert(diff.count() == 0)
  }

  test("fused shingles3_h60 equals shingles3 ∘ hash60, order and multiplicity included") {
    import spark.implicits._
    // the fused kernel dedups on the STRING then hashes (denominator
    // parity contract) — so it must equal hashing the string kernel's
    // output slot for slot, on the corpus AND the split-semantics edges
    val edge = Seq("", " ", "a b c", " a b c ", "a a a a", "x y z x y z")
      .toDF("text").union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val diff = Tables(spark, sf(), "documents").select("text").union(edge)
      .select(
        call_function("graft_shingles3_h60", col("text")).as("fused"),
        transform(call_function("graft_shingles3", col("text")),
          x => call_function("graft_hash60", x)).as("composed"))
      .filter(!(col("fused") <=> col("composed")))
    assert(diff.count() == 0)
  }

  test("minhash_h60 over pre-hashed shingles equals graft_minhash over the strings") {
    val diff = Tables(spark, sf(), "documents")
      .filter(size(split(col("text"), " ")) >= 3)
      .select(
        call_function("graft_minhash_h60",
          call_function("graft_shingles3_h60", col("text"))).as("fused"),
        call_function("graft_minhash",
          call_function("graft_shingles3", col("text"))).as("strings"))
      .filter(col("fused") =!= col("strings"))
    assert(diff.count() == 0)
  }

  test("native minhash signature equals the 32-aggregate HOF fold") {
    import spark.implicits._
    val base = Tables(spark, sf(), "documents")
      .select(col("doc_id"), ParityFns.shingles3(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val hv = base.withColumn("hv", transform(col("sh"), x => ParityFns.hashModP(x)))
    val hof = hv.withColumn("sig", array(TextKernels.seeds.map { case (a, b) =>
      aggregate(col("hv"), lit(ParityFns.P),
        (acc, h) => least(acc, (lit(a) * h + lit(b)) % lit(ParityFns.P)))
    }: _*))
    val diff = hof
      .withColumn("native", call_function("graft_minhash", col("sh")))
      .filter(col("native") =!= col("sig"))
    assert(diff.count() == 0)
  }

  test("native simhash equals the relational (token/bit group-by) formulation") {
    import spark.implicits._
    val docs = Tables(spark, sf(), "documents")
    val native = docs.select(col("doc_id"),
        call_function("graft_simhash", col("text")).as("simhash"))
      .as[(Long, Long)].collect().toMap
    val tok = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tc = tok.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("cnt"))
    val th = tc.withColumn("h", ParityFns.hash32(col("w")))
    val relational = th
      .select(col("doc_id"), col("h"), col("cnt"),
        explode(sequence(lit(0), lit(31))).as("j"))
      .groupBy(col("doc_id"), col("j"))
      .agg(sum(when(expr("(shiftright(h, j) & 1) = 1"), col("cnt"))
        .otherwise(-col("cnt"))).as("sm"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sm") > 0, expr("shiftleft(CAST(1 AS BIGINT), j)"))
        .otherwise(lit(0L))).as("simhash"))
      .as[(Long, Long)].collect().toMap
    assert(native == relational)
  }

  test("empty and short texts yield empty shingle arrays") {
    val r = spark.sql(
      "SELECT size(graft_shingles3('a b')) AS s1, size(graft_shingles3('')) AS s2").head()
    assert(r.getInt(0) == 0 && r.getInt(1) == 0)
  }

  test("q109 concentration: planted keyword stuffing flagged, clean doc passes") {
    // the gate's reject branch, exercised on planted inputs
    import spark.implicits._
    val dir = tmpDir("concentration").toString
    Seq(
      1L -> Seq.fill(20)("spam").mkString(" "),            // pure stuffing
      2L -> "every word here is used exactly once today",  // clean
      3L -> "solo")                                        // no 2-grams at all
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(length(text) AS LONG) AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.Catalog.all("q109_topgram_concentration").build(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    // 20× "spam": the one token takes every instance on both axes
    assert(out(1L) == ((20, 1.0, 1.0, false)), s"${out(1L)}")
    // all-distinct tokens: top1 = 1/8, top2 = 1/7 — under both bounds
    assert(out(2L) == ((8, 1.0 / 8.0, 1.0 / 7.0, true)), s"${out(2L)}")
    // a 1-token doc is 100% its own top token: flagged (the min-length
    // gate in q96 is the right filter for tiny docs; this one is honest
    // about the concentration)
    assert(out(3L) == ((1, 1.0, 0.0, false)), s"${out(3L)}")
  }

  test("q108 vocab coverage: ranks dense, coverage monotone to 1.0") {
    val rows = graft.queries.Catalog.all("q108_vocab_coverage")
      .build(spark, sf()).collect()
      .map(r => (r.getInt(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .sortBy(_._1)
    assert(rows.head._1 == 1 && rows.map(_._1).toSeq == (1 to rows.length))
    // tf nonincreasing, cum_tf strictly increasing, coverage in (0, 1]
    assert(rows.sliding(2).forall { case Array(a, b) =>
      a._2 >= b._2 && a._3 < b._3 && a._4 < b._4 })
    assert(rows.last._4 <= 1.0 + 1e-12)
    // the fixture vocabulary is smaller than VocabTopV, so the curve
    // must close at exactly full coverage
    assert(math.abs(rows.last._4 - 1.0) < 1e-12, s"${rows.last}")
  }

  test("q111 length profile: exact recount per grain, shares close at exactly 1.0") {
    val w = graft.queries.TextAnalysis.LenBucketChars
    val out = graft.queries.Catalog.all("q111_length_profile")
      .build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    val expected = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .groupBy(x => (x._1, (x._2 / w).toInt))
      .map { case (k, rows) => k -> ((rows.length.toLong, rows.map(_._2).sum)) }
    assert(out.map(r => (r._1, r._2) -> ((r._3, r._4))).toMap == expected)
    out.groupBy(_._1).foreach { case (src, rows) =>
      val sorted = rows.sortBy(_._2)
      assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-9, s"$src shares")
      // total/total is an exact 1.0, not an approximation
      assert(sorted.last._6 == 1.0, s"$src cum_share tail ${sorted.last._6}")
      assert(sorted.sliding(2).forall {
        case Array(a, b) => a._6 < b._6
        case _ => true
      }, s"$src cum_share not strictly increasing")
    }
  }

  test("q114 token spectrum matches a driver-side recount; shares close at 1") {
    val counts = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("text").collect()
      .flatMap(_.getString(0).split(" ", -1))
      .groupBy(identity).map { case (_, v) => v.length.toLong }
    val nVocab = counts.size.toLong
    val totalMass = counts.sum
    val expected = counts.groupBy(identity).map { case (f, types) =>
      f -> ((types.size.toLong, f * types.size,
        types.size.toDouble / nVocab.toDouble,
        (f * types.size).toDouble / totalMass.toDouble))
    }
    val out = graft.queries.Catalog.all("q114_token_spectrum")
      .build(spark, sf()).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    assert(out == expected)
    assert(math.abs(out.values.map(_._3).sum - 1.0) < 1e-9)
    assert(math.abs(out.values.map(_._4).sum - 1.0) < 1e-9)
  }

  test("q115 confusion matrix matches a driver-side recount of the q60 rule") {
    val markers = Seq(
      "en" -> Set("the", "a", "of"), "es" -> Set("el", "la", "de"),
      "fr" -> Set("le", "les", "et"), "de" -> Set("der", "die", "und"))
    val cells = spark.read.parquet(s"${sf()}/documents.parquet")
      .select("lang", "text").collect()
      .map { r =>
        val toks = r.getString(1).split(" ", -1)
        val s = markers.map { case (l, ws) => l -> toks.count(ws) }.toMap
        val pred =
          if (s("en") >= s("es") && s("en") >= s("fr") && s("en") >= s("de")) "en"
          else if (s("es") >= s("fr") && s("es") >= s("de")) "es"
          else if (s("fr") >= s("de")) "fr" else "de"
        (r.getString(0), pred)
      }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val perLabel = cells.groupBy(_._1._1).map { case (l, m) => l -> m.values.sum }
    val expected = cells.map { case (k, n) =>
      k -> ((n, n.toDouble / perLabel(k._1).toDouble)) }
    val out = graft.queries.Catalog.all("q115_langid_confusion")
      .build(spark, sf()).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == expected)
  }

  test("q118 surprisal: exact per-doc bits vs a driver-side unigram fit") {
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val tf = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach(_._2.split(" ", -1).foreach(t => tf(t) = tf.getOrElse(t, 0L) + 1))
    val total = tf.values.sum
    val vocab = tf.toSeq.sortBy { case (t, c) => (-c, t) }
      .take(graft.queries.TextAnalysis.VocabTopV).toMap
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val oov = bits(total)
    val expected = docs.map { case (id, txt) =>
      val toks = txt.split(" ", -1)
      val s = toks.map(t => vocab.get(t).map(c => bits(total / c)).getOrElse(oov)).sum
      id -> ((s, toks.length.toLong))
    }.toMap
    val out = graft.queries.Catalog.all("q118_doc_surprisal")
      .build(spark, sf()).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(out == expected)
    // in-vocab tokens are never MORE surprising than the OOV floor
    out.foreach { case (id, (s, n)) => assert(s <= oov * n, s"doc $id") }
  }

  test("q122 stutter scrub: planted runs collapse, scrub is idempotent, fixture conserves") {
    val session = spark; import session.implicits._
    val dir = tmpDir("stutter").toString
    Seq(
      1L -> "spam spam spam spam ok",          // 4-run → 1
      2L -> "a a b b a",                       // two runs; non-adjacent 'a' survives
      3L -> "clean text with no repeats",
      4L -> "x")                               // single token
      .toDF("doc_id", "text").coalesce(1).write.parquet(s"$dir/documents.parquet")
    val out = graft.queries.Catalog.all("q122_stutter_scrub")
      .build(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out(1L) == (("spam ok", 3, 5)), s"$out")
    assert(out(2L) == (("a b a", 2, 5)), s"$out")
    assert(out(3L) == (("clean text with no repeats", 0, 5)), s"$out")
    assert(out(4L) == (("x", 0, 1)), s"$out")
    // idempotence on the real fixture: re-scrubbing removes nothing
    val once = graft.queries.Catalog.all("q122_stutter_scrub").build(spark, sf())
    val dir2 = tmpDir("stutter2").toString
    once.select(col("doc_id"), col("clean_text").as("text"))
      .write.parquet(s"$dir2/documents.parquet")
    val twice = graft.queries.Catalog.all("q122_stutter_scrub").build(spark, dir2)
    assert(twice.filter(col("removed") > 0).count() == 0, "scrub not idempotent")
    // token conservation on the fixture: removed + kept == original
    val bad = once.filter(
      col("removed") + size(split(col("clean_text"), " ")) =!= col("n_tok")).count()
    assert(bad == 0)
  }

  test("q125 BM25 matches a driver-side recomputation, scores exact") {
    import graft.queries.TextAnalysis._
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
    val n = docs.length.toLong
    val avgdl = docs.map(_._2.length.toLong).sum.toDouble / n.toDouble
    val k1 = Bm25K1.toDouble; val k1p1 = Bm25K1p1.toDouble; val b = Bm25B.toDouble
    val qt: Map[Long, Set[String]] = docs.filter(_._1 < Bm25Queries)
      .map { case (id, t) => id -> t.toSet }.toMap
    val allQ = qt.values.flatten.toSet
    val tf: Map[(Long, String), Long] = docs.flatMap { case (id, t) =>
      t.filter(allQ).groupBy(identity).map { case (w, xs) => (id, w) -> xs.length.toLong }
    }.toMap
    val df = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    def bits(x: Long) = java.lang.Long.toBinaryString(x).length.toLong
    val expected = (for {
      (q, terms) <- qt.toSeq; (dId, dToks) <- docs if dId != q
      fsc = terms.toSeq.flatMap { w =>
        tf.get((dId, w)).map { f =>
          val tsc = bits(n / df(w)).toDouble * (f.toDouble * k1p1) /
            (f.toDouble + k1 * (1.0 - b + b * (dToks.length.toDouble / avgdl)))
          math.floor(tsc * FixedPoint.toDouble).toLong
        }
      }.sum if fsc > 0
    } yield (q, dId, fsc))
      .groupBy(_._1).toSeq.flatMap { case (q, cands) =>
        cands.sortBy(c => (-c._3, c._2)).take(Bm25TopK).zipWithIndex
          .map { case ((_, id, fsc), i) =>
            (q, id, i + 1, fsc.toDouble / FixedPoint.toDouble) }
      }.toSet
    val out = graft.queries.Catalog.all("q125_bm25").build(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    assert(out == expected, s"spark=${out.toSeq.sorted}\nexp=${expected.toSeq.sorted}")
    assert(out.size == Bm25Queries * Bm25TopK, "retrieval depth not full")
  }

  test("q127 DSIR: weights match a driver-side dual fit, keep is the exact 2^w coin") {
    import graft.queries.TextAnalysis.{DsirShift, DsirTarget, VocabTopV}
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // dual unigram fit from one conceptual pass: per-token (tf_all, tf_target)
    val tfAll = scala.collection.mutable.Map.empty[String, Long]
    val tfT = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, src, txt) =>
      txt.split(" ", -1).foreach { t =>
        tfAll(t) = tfAll.getOrElse(t, 0L) + 1
        if (src == DsirTarget) tfT(t) = tfT.getOrElse(t, 0L) + 1
      }
    }
    val totalT = tfT.values.sum
    val totalR = tfAll.values.sum - totalT
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    def head(tf: Map[String, Long], total: Long): Map[String, Long] =
      tf.toSeq.sortBy { case (t, c) => (-c, t) }.take(VocabTopV)
        .map { case (t, c) => t -> bits(total / c) }.toMap
    val hT = head(tfT.toMap, totalT)
    val hR = head(tfAll.map { case (t, c) => t -> (c - tfT.getOrElse(t, 0L)) }
      .filter(_._2 > 0).toMap, totalR)
    val (oovT, oovR) = (bits(totalT), bits(totalR))
    def u32(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      // mask each byte: JVM bytes are signed (the NOTES.md footgun)
      d.take(4).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL))
    }
    val expected = docs.filter(_._2 != DsirTarget).map { case (id, src, txt) =>
      val w = txt.split(" ", -1)
        .map(t => hR.getOrElse(t, oovR) - hT.getOrElse(t, oovT)).sum
      val keep =
        if (w + DsirShift >= 0) true
        else if (32 + w + DsirShift < 0) false
        else u32(id) < (1L << (32 + w + DsirShift))
      id -> ((src, w, keep))
    }.toMap
    val out = graft.queries.Catalog.all("q127_dsir_weight").build(spark, sf())
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(3), r.getBoolean(5))))
      .toMap
    assert(out == expected)
    // the resampling coin must be non-degenerate on the fixture
    assert(out.values.exists(_._3) && out.values.exists(!_._3),
      "keep verdict degenerate on the fixture corpus")
  }

  test("q130 BPE: pair counts guard single-symbol words; fixture merges match a reference learner") {
    import graft.queries.TextAnalysis
    import spark.implicits._
    // planted vocab: 'aaa'×2, 'ab'×3, 'a'×5 — the single-symbol word
    // must contribute NO pair (Spark's sequence(1,0) descends!)
    val vocab = Seq((" a a a ", 2L), (" a b ", 3L), (" a ", 5L))
      .toDF("w", "wn")
    val counts = TextAnalysis.bpePairCounts(vocab).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts == Map(("a", "a") -> 4L, ("a", "b") -> 3L), s"$counts")

    // reference learner over the fixture corpus, greedy left-to-right
    val (expected, _) = referenceBpe(fixtureWordCounts(), TextAnalysis.BpeMerges)
    val out = graft.queries.Catalog.all("q130_bpe_merges").build(spark, sf())
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(out.toList == expected, s"spark=${out.toList}\nref=$expected")
  }

  test("q130 batched argmax is exactly the sequential learner, in fewer driver trips") {
    import graft.queries.TextAnalysis
    // batch=1 IS the textbook one-argmax-per-round loop; the batched
    // window must produce the identical merge list (the disjoint-prefix
    // acceptance proof in bpeFit's scaladoc) while spending sublinearly
    // many driver round-trips in M — the fix that makes M=32 a loop a
    // 1000-executor job can drive without M sequential barrier waits.
    val (batched, trips) =
      TextAnalysis.bpeFitBatched(spark, sf(), TextAnalysis.BpeMerges, TextAnalysis.BpeBatch)
    val (seq, seqTrips) =
      TextAnalysis.bpeFitBatched(spark, sf(), TextAnalysis.BpeMerges, 1)
    assert(batched == seq, s"batched diverges from sequential:\n$batched\n$seq")
    info(s"driver round-trips at M=${TextAnalysis.BpeMerges}: " +
      s"batched=$trips sequential=$seqTrips")
    // measured 18 vs 32 on the fixture (ties force conservative batch
    // stops — exactness over depth); the floor pins ≥ 1/3 savings so a
    // regression to one-merge-per-trip fails
    assert(trips * 3 <= seqTrips * 2,
      s"batching saved too little: $trips vs $seqTrips sequential trips")
  }

  test("q130 batched argmax stays sequential-exact on self-pair merges (symbol runs)") {
    import graft.queries.TextAnalysis
    import spark.implicits._
    // ' a a a a '×600 + ' b c '×550: round 1 merges the SELF-pair (a, a).
    // Under the shipped non-overlapping left-to-right string replace the
    // word becomes ' aa a a ' (the match consumes the shared space), so
    // the cascade is (a,a,1800) → (a,a,600) → (aa,aa,600) → (b,c,550) —
    // every post-round-1 winner is a pair the self-merge touched or
    // created, each outscoring the disjoint (b, c, 550) that an
    // unguarded batch would accept in round-1's trip. The guard stops
    // the batch after any accepted self-pair.
    val dir = tmpDir("bpe_selfpair").toString
    val docs = (0 until 60).map(i => (i.toLong, ("aaaa " * 10).trim, "en", "src0")) ++
      (60 until 115).map(i => (i.toLong, ("bc " * 10).trim, "en", "src0"))
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.parquet(s"$dir/documents.parquet")
    val (batched, _) = TextAnalysis.bpeFitBatched(spark, dir, 4, TextAnalysis.BpeBatch)
    val (seq, _) = TextAnalysis.bpeFitBatched(spark, dir, 4, 1)
    assert(batched == seq, s"self-pair batch divergence:\n$batched\n$seq")
    assert(seq.take(3).map(m => (m._1, m._2)) ==
      List(("a", "a"), ("a", "a"), ("aa", "aa")),
      s"planted corpus did not produce the self-pair cascade: $seq")
  }

  private def fixtureWordCounts(): Map[String, Long] =
    spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("text").collect().map(_.getString(0))
      .filter(_ != null).flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  /** Greedy left-to-right reference BPE: learned merges + each word's
    * final symbol count.
    *
    * CAVEAT — list-based greedy, which differs from the shipped
    * string-replace form on runs of 4+ identical symbols: merging (a,a)
    * over [a,a,a,a] yields [aa,aa] here but [aa,a,a] under the
    * non-overlapping string replace (the match consumes the shared
    * separator space). The fixture corpus has no such runs, so this
    * reference stays valid for it; the self-pair test below exercises
    * the run case against the SHIPPED semantics (batched vs batch=1),
    * not against this reference.
    */
  private def referenceBpe(words: Map[String, Long], m: Int)
      : (List[(Int, String, String, Long)], Map[String, Int]) = {
    var split: Map[String, List[String]] =
      words.keys.map(w => w -> w.split("").toList).toMap
    val merges = scala.collection.mutable.ListBuffer.empty[(Int, String, String, Long)]
    for (k <- 1 to m) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      split.foreach { case (w, syms) =>
        val n = words(w)
        syms.zip(syms.tail).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + n)
      }
      if (pairs.nonEmpty) {
        val ((a, b), cnt) = pairs.minBy { case ((x, y), c) => (-c, x, y) }
        merges += ((k, a, b, cnt))
        def merge(s: List[String]): List[String] = s match {
          case x :: y :: rest if x == a && y == b => (a + b) :: merge(rest)
          case x :: rest => x :: merge(rest)
          case Nil => Nil
        }
        split = split.view.mapValues(merge).toMap
      }
    }
    (merges.toList, split.view.mapValues(_.length).toMap)
  }

  test("q131 fertility: matches the reference tokenizer's per-source tokens/word") {
    import graft.queries.TextAnalysis
    val (_, nSyms) = referenceBpe(fixtureWordCounts(), TextAnalysis.BpeMerges)
    val bySource = spark.read.parquet(s"${sf()}/documents.parquet")
      .selectExpr("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter(_._2 != null)
      .flatMap { case (src, t) => t.split(" ").filter(_.nonEmpty).map(src -> _) }
      .groupBy(_._1)
    val expected = bySource.map { case (src, ws) =>
      val words = ws.map(_._2)
      val toks = words.map(w => nSyms(w).toLong).sum
      src -> ((words.length.toLong, toks, toks.toDouble / words.length.toDouble))
    }
    val out = graft.queries.Catalog.all("q131_bpe_fertility").build(spark, sf())
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(out == expected, s"spark=$out\nref=$expected")
    // merges must actually compress: fertility strictly below chars/word
    out.foreach { case (src, (nw, nt, f)) =>
      val chars = bySource(src).map(_._2.length.toLong).sum
      assert(f < chars.toDouble / nw.toDouble, s"$src fertility $f not compressed")
      assert(f >= 1.0 && nt >= nw)
    }
  }

  test("q128 RRF fusion: both-lists, lex-only, den-only branches are exact") {
    import graft.queries.TextAnalysis
    import spark.implicits._
    val lex = Seq((0L, 10L, 1), (0L, 11L, 2), (1L, 12L, 1))
      .toDF("q_id", "n_id", "rk")
    val den = Seq((0L, 10L, 1), (0L, 13L, 2), (1L, 14L, 1))
      .toDF("q_id", "n_id", "rk")
    val out = TextAnalysis.rrfFuse(lex, den, 3).collect()
      .map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)), r.getLong(4), r.getInt(5)))
      .toSet
    // floor(2^20/61) = 17189, floor(2^20/62) = 16912; the n11/n13 tie
    // at 16912 breaks by n_id ASC, as does the cross-query n12/n14 tie
    val expected = Set(
      (0L, 10L, Some(1), Some(1), 2 * 17189L, 1),
      (0L, 11L, Some(2), None, 16912L, 2),
      (0L, 13L, None, Some(2), 16912L, 3),
      (1L, 12L, Some(1), None, 17189L, 1),
      (1L, 14L, None, Some(1), 17189L, 2))
    assert(out == expected)
  }

  test("rrfFuse bounded-heap path equals the ranking-window path, packed ids intact") {
    import graft.queries.TextAnalysis
    import spark.implicits._
    // ids near the 47-bit packing boundary + rank ties + single-leg rows
    val big = (1L << 47) - 2
    val lex = Seq((0L, big, 1), (0L, 11L, 2), (0L, 12L, 3), (1L, big - 1, 1))
      .toDF("q_id", "n_id", "rk")
    val den = Seq((0L, big, 1), (0L, 13L, 2), (1L, 14L, 1), (1L, big - 1, 2))
      .toDF("q_id", "n_id", "rk")
    def rows(useHeap: Boolean): Set[(Long, Long, Option[Any], Option[Any], Long, Int)] =
      TextAnalysis.rrfFuseVia(lex, den, 3, useHeap).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)), r.getLong(4), r.getInt(5)))
        .toSet
    assert(rows(useHeap = true) == rows(useHeap = false))
    // the 47-bit id contract fails loudly, never wraps silently
    val over = Seq((0L, 1L << 47, 1)).toDF("q_id", "n_id", "rk")
    val ex = intercept[Exception] {
      TextAnalysis.rrfFuseVia(over, den.limit(0), 3, useHeap = true).collect()
    }
    assert(ex.getMessage != null)
  }

  test("graft_pairs ≡ the flatten∘transform∘slice HOF pair generator " +
    "(struct and long elements, k = 0/1/2/n, order and values)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // struct elements (the band-bucket shape: (doc_id, payload))
    val structArrs = Seq(
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)),
      Seq((7L, 70L), (8L, 80L)),
      Seq((5L, 50L)),
      Seq.empty[(Long, Long)])
      .toDF("raw")
      .select(expr("transform(raw, x -> struct(x._1 AS doc_id, x._2 AS n))").as("ids"))
    val nat = structArrs.select(call_function("graft_pairs", col("ids")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.toString))
    val hof = structArrs.select(
        HofRefs.sortedPairsHof(col("ids")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.toString))
    assert(nat.toSeq == hof.toSeq)
    assert(nat.head.length == 6) // k=4 → 6 pairs, row-major
    // bare long elements (the membership intra-leg shape)
    val longArrs = Seq(Seq(3L, 1L, 2L), Seq(9L)).toDF("ids")
    val natL = longArrs.select(call_function("graft_pairs", col("ids")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.toString))
    val hofL = longArrs.select(
        HofRefs.sortedPairsHof(col("ids")).as("p"))
      .collect().map(_.getSeq[org.apache.spark.sql.Row](0).map(_.toString))
    assert(natL.toSeq == hofL.toSeq)
    // pair ORDER is part of the contract (downstream first()/collect
    // consumers): (3,1),(3,2),(1,2) — input order, NOT sorted values
    assert(natL.head == Seq("[3,1]", "[3,2]", "[1,2]"))
  }

  test("graft_vocab_sum ≡ the aggregate/element_at HOF fold " +
    "(hits, misses, empty text, null text, unsorted-literal rejection)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val vocab = Map("the" -> 3L, "a" -> 5L, "zebra" -> 7L, "änder" -> 11L)
    val oov = 99L
    val docs = Seq(
      Some("the a zebra the"), Some("nope only misses"), Some(""),
      Some("änder the"), None).toDF("text")
    val toks = split(col("text"), " ")
    val native = docs.select(
      graft.queries.TextAnalysis.vocabSumNative(toks, vocab, oov).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    val m = typedLit(vocab)
    val hof = docs.select(aggregate(toks, lit(0L),
        (acc, t) => acc + coalesce(element_at(m, t), lit(oov))).as("s"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(native.toSeq == hof.toSeq)
    // spot-check the semantics: "" splits to one "" token → one oov
    assert(native(2).contains(oov))
    // markerCount's kernel fold ≡ the interpreted filter/OR-chain form
    val words = Seq("the", "a")
    val nm = docs.select(graft.queries.TextAnalysis
        .markerCount(toks, words).as("c")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    val hm = docs.select(size(filter(toks,
        t => words.map(t === _).reduce(_ || _))).as("c")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0)))
    assert(nm.toSeq == hm.toSeq)
    // a misordered keys literal is rejected at plan build, not silently
    // mis-searched (the kernel binary-searches a caller-sorted array)
    val ex = intercept[Exception] {
      docs.select(call_function("graft_vocab_sum", toks,
        typedLit(Seq("zebra", "a")), typedLit(Seq(1L, 2L)), lit(0L))).collect()
    }
    assert(ex.getMessage.contains("ascending"))
  }

  test("graft_concentration ≡ the transform/filter HOF scan " +
    "(fixture docs + spacing edges, null text, struct fields and keep)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // edge cases: empty string (one "" token), single token, irregular
    // spacing (empty tokens kept by split limit=-1), repeated tokens
    // and repeated bigrams, plus NULL text (null-safe comparison)
    val edge = Seq("", " ", "a", "a a", "a  b a", " x y x y x ",
      "w w w w w w").toDF("text")
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    val diff = docs.select(
        graft.queries.TextAnalysis.concentration(col("text")).as("nat"),
        HofRefs.concentrationHof(col("text")).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
    assert(diff.count() == 0)
    // spot-pin the semantics the q109 oracle encodes: "w w w w w w" has
    // top1 = 1.0 (all instances one token) and top2 = 1.0 (all bigrams
    // "w w"), and is flagged
    val r = Seq("w w w w w w").toDF("text").select(
      graft.queries.TextAnalysis.concentration(col("text")).as("c"))
      .select(col("c.n_tokens"), col("c.top1_frac"), col("c.top2_frac"),
        col("c.keep")).head
    assert(r.getInt(0) == 6 && r.getDouble(1) == 1.0 &&
      r.getDouble(2) == 1.0 && !r.getBoolean(3))
  }

  test("graft_repetition ≡ the array_distinct/transform HOF chains " +
    "(fixture docs + spacing edges, null text, all four fields)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // edge cases: empty string (one "" token), single token, n = 2 and
    // n = 3 boundaries, irregular spacing (empty tokens kept by split
    // limit=-1), fully repeated tokens/bigrams/trigrams, plus NULL text
    val edge = Seq("", " ", "a", "a a", "a b a", "a  b a", " x y x y x ",
      "w w w w w w", "a b c a b c a b").toDF("text")
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    val diff = docs.select(
        graft.queries.Pipeline.repetitionProfile(col("text")).as("nat"),
        HofRefs.repetitionProfileHof(col("text")).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
    assert(diff.count() == 0)
    // spot-pin q96's oracle semantics: "w w w w w w" is one unique
    // token (uniq 1/6), all bigrams "w w" (dup2 = 1 - 1/5), all
    // trigrams "w w w" (dup3 = 1 - 1/4)
    val r = Seq("w w w w w w").toDF("text").select(
      graft.queries.Pipeline.repetitionProfile(col("text")).as("c"))
      .select(col("c.n_tok"), col("c.uniq_frac"), col("c.dup2_frac"),
        col("c.dup3_frac")).head
    assert(r.getInt(0) == 6 && r.getDouble(1) == 1.0 / 6.0 &&
      r.getDouble(2) == 1.0 - 1.0 / 5.0 && r.getDouble(3) == 1.0 - 1.0 / 4.0)
  }

  test("q61 sum-of-token-lengths arithmetic identity: " +
    "len(text) - (n_tok - 1) ≡ the aggregate∘transform fold") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edge = Seq("", " ", "a", "a b", "a  b", " ab c ", "aa bb cc")
      .toDF("text")
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    val toks = split(col("text"), " ")
    val diff = docs.select(
        (length(col("text")) - (size(toks) - lit(1))).as("arith"),
        aggregate(transform(toks, t => length(t)), lit(0),
          (a, x) => a + x).as("fold"))
      .filter(!(col("arith") <=> col("fold")))
    assert(diff.count() == 0)
  }

  test("graft_diversity ≡ the sort_array run-length fold " +
    "(fixture docs + spacing edges, null text, all three counts)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // edge cases: empty string (one "" token), single token, irregular
    // spacing (empty tokens kept by split limit=-1), fully repeated
    // tokens, interleaved repeats (sort_array groups them), NULL text
    val edge = Seq("", " ", "a", "a a", "a b a", "a  b a", " x y x y x ",
      "w w w w w w", "a b c a b c a b").toDF("text")
      .union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    val diff = docs.select(
        call_function("graft_diversity", col("text")).as("nat"),
        HofRefs.diversityHof.as("hof"))
      .filter(!(col("nat") <=> col("hof")))
    assert(diff.count() == 0)
    // spot-pin q180's oracle semantics: "w w w w w w" is 6 tokens of
    // one type, ss = 6² → simpson = (36 − 36)/36 = 0.0; "a b a" is
    // ss = 2² + 1 = 5 over n² = 9
    val r = Seq("w w w w w w", "a b a").toDF("text").select(
      call_function("graft_diversity", col("text")).as("c"))
      .select(col("c.n"), col("c.ss"), col("c.types")).collect()
    assert(r(0).getLong(0) == 6 && r(0).getLong(1) == 36 && r(0).getLong(2) == 1)
    assert(r(1).getLong(0) == 3 && r(1).getLong(1) == 5 && r(1).getLong(2) == 2)
  }

  test("graft_tvd_parts: kernel docTvd ≡ the interpreted HOF fold " +
    "(fixture docs + edges, null text, alien tokens, exact doubles)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val ref = graft.queries.TextAnalysis.driftRef(spark, sf())
    // edges: empty → n = 0 → 1.0 (TOTAL rule), spacing artifacts (the
    // =!= "" rule), alien-only tokens (sumQ = 0, sumAbs = 1 → 1.0),
    // mixed known/alien, duplicates (first-appearance fold order), NULL
    val edge = Seq("", " ", "zzqx1 zzqx2 zzqx3", "a  b a",
      ref.keys.take(4).mkString(" "), ref.keys.take(2).mkString(" ") + " zzqx")
      .toDF("text").union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    // exact-equality filter (not tolerance): the kernel reproduces the
    // fold's term order and IEEE tree, so the doubles are bit-identical
    val diff = docs.select(
        graft.queries.TextAnalysis.docTvd(col("text"), ref).as("nat"),
        HofRefs.docTvdHof(col("text"), ref).as("hof"))
      .filter(!(col("nat") <=> col("hof")))
    assert(diff.count() == 0)
    // misordered keys literal rejected at plan build, not mis-searched
    val ex = intercept[Exception] {
      docs.select(call_function("graft_tvd_parts", col("text"),
        typedLit(Seq("zebra", "a")), typedLit(Seq(0.5d, 0.5d)))).collect()
    }
    assert(ex.getMessage.contains("ascending"))
  }

  test("nbScore kernel channel fold ≡ the aggregate/element_at HOF " +
    "(fitted model incl. an empty-channel class, full row parity)") {
    import org.apache.spark.sql.functions._
    import graft.queries.TextAnalysis
    val classes = TextAnalysis.nbFit(spark, sf())
    // force one class to an EMPTY channel map — the chan.getOrElse
    // fallback path (a source whose tokens all fell outside the vocab)
    val probed = classes.zipWithIndex.map { case (c, i) =>
      if (i == classes.size - 1) c.copy(bits = Map.empty) else c }
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .union(spark.sql("SELECT CAST(-1 AS BIGINT), 'none', CAST(NULL AS STRING)"))
    val native = TextAnalysis.nbScore(docs, probed)
      .collect().map(r => r.toSeq).toSet
    // the HOF recomputation, inlined (nbScore always runs the kernel,
    // so the reference is written out here)
    val toks = split(col("text"), " ")
    val scored = probed.map { c =>
      val m = typedLit(c.bits)
      val b =
        if (c.bits.isEmpty)
          aggregate(toks, lit(c.priorBits), (acc, _) => acc + lit(c.oovBits))
        else aggregate(toks, lit(c.priorBits),
          (acc, t) => acc + coalesce(element_at(m, t), lit(c.oovBits)))
      struct(b.as("bits"), lit(c.source).as("cls"))
    }
    val arr = array_sort(array(scored: _*))
    val hof = docs.select(col("doc_id"), col("source"),
        arr.getItem(0).getField("cls").as("pred_source"),
        arr.getItem(0).getField("bits").as("bits"),
        (arr.getItem(1).getField("bits") - arr.getItem(0).getField("bits"))
          .as("margin_bits"),
        (arr.getItem(0).getField("cls") === col("source")).as("correct"))
      .collect().map(r => r.toSeq).toSet
    assert(native == hof)
  }

  test("docQuality kernel stopword count ≡ the filter/OR-chain form " +
    "(fixture + edges, exact doubles — covers q119/q248/budgetProbe)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val edge = Seq("", " ", "a", "the a the", "x  the a", "no stops here")
      .toDF("text").union(spark.sql("SELECT CAST(NULL AS STRING) AS text"))
    val docs = Tables(spark, sf(), "documents").select("text").union(edge)
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = size(filter(toks, t => t === "the" || t === "a"))
    val inline = least(lit(1.0), nTok / lit(100.0)) *
      (lit(1.0) - nStop.cast("double") / nTok)
    val diff = docs.select(
        graft.queries.Pipeline.docQuality(col("text")).as("nat"),
        inline.as("hof"))
      .filter(!(col("nat") <=> col("hof")))
    assert(diff.count() == 0)
  }

  test("ordered reassembly: sort_array + field extraction ≡ " +
    "array_sort + transform (fixture, ties, null payload field)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the q136/q245/q116/q87/q247/fixedPointMeans shape: collect
    // (pos, payload) structs, sort, project payload — both forms use
    // the struct natural ordering, so the permutation is identical
    val fixture = Tables(spark, sf(), "documents")
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .groupBy(col("doc_id"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, w))), p -> p.w)").as("hof"),
        expr("sort_array(collect_list(struct(pos, w))).w").as("nat"))
      .filter(!(col("nat") <=> col("hof")))
    assert(fixture.count() == 0)
    // plain-element ties (q246's content sha list): equal elements make
    // order immaterial, but pin the two sorts agree anyway
    val ties = Seq(("g", "b"), ("g", "a"), ("g", "b")).toDF("g", "x")
      .groupBy(col("g"))
      .agg(expr("array_sort(collect_list(x))").as("hof"),
        expr("sort_array(collect_list(x))").as("nat")).head
    assert(ties.getSeq[String](1) == ties.getSeq[String](2))
    // null payload FIELD (struct ordering must agree on null fields
    // too) and tied first field with differing payloads
    val edge = Seq((1, 0, "a"), (1, 1, null), (1, 2, "c"),
        (2, 5, "y"), (2, 5, "x")).toDF("g", "pos", "v")
      .groupBy(col("g"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, v))), p -> p.v)").as("hof"),
        expr("sort_array(collect_list(struct(pos, v))).v").as("nat"))
      .filter(!(col("nat") <=> col("hof")))
    assert(edge.count() == 0)
  }

  test("graft_span_windows ≡ the filter/sequence/md5 HOF span derivation " +
    "(anchors, window hashes, positions, short-doc drop) on fixture docs") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sf(), "documents")
      .select(col("doc_id"), col("text")).limit(200)
    val native = graft.queries.Pipeline.spanWindowsPos(docs)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // the HOF formulation, inlined (spanWindowsPos always runs the
    // kernel, so the reference is written out here)
    import graft.queries.Pipeline.{SpanAnchorMod, SpanTokens}
    val toks = split(col("text"), " ")
    def anchorHash(c: org.apache.spark.sql.Column) =
      conv(substring(md5(c), 1, 4), 16, 10).cast("long")
    val anchors = filter(
      sequence(lit(0), col("n") - SpanTokens),
      i => anchorHash(element_at(col("toks"), i + 1)) % SpanAnchorMod === 0)
    val hof = docs.select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
      .filter(col("n") >= SpanTokens)
      .select(col("doc_id"), col("toks"), explode(anchors).as("i"))
      .select(col("doc_id"), col("i"),
        conv(substring(md5(array_join(
          slice(col("toks"), col("i") + 1, lit(SpanTokens)), " ")), 1, 15), 16, 10)
          .cast("long").as("h"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(native == hof)
    assert(native.nonEmpty) // fixture has anchored windows — not vacuous
  }

  test("q128 on the fixture: full depth, contiguous ranks, fused order") {
    import graft.queries.TextAnalysis.{Bm25Queries, Bm25TopK}
    val rows = graft.queries.Catalog.all("q128_hybrid_rrf").build(spark, sf())
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getInt(5)))
    assert(rows.length == Bm25Queries * Bm25TopK)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (1 to Bm25TopK), s"q=$q ranks")
      // fused score must be non-increasing in rank
      val byRk = rs.sortBy(_._3).map(_._2)
      assert(byRk.zip(byRk.tail).forall { case (a, b) => a >= b }, s"q=$q order")
    }
  }
}
