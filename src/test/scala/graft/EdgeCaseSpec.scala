package graft

import java.sql.Timestamp

import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** Degenerate-input behavior: empty sides, null keys, single rows —
  * the shapes that panic naive operators at partition boundaries.
  */
class EdgeCaseSpec extends SparkSuite {

  private def ts(s: Long) = new Timestamp(s * 1000)

  test("as-of join with an empty state side keeps every event, null-matched") {
    import spark.implicits._
    val ev = Seq((1L, ts(10)), (2L, ts(20))).toDF("k", "t")
    val st = Seq.empty[(Long, Timestamp, Long)].toDF("k", "t", "tb")
    val out = AsOfJoin.leftAsOf(ev, "k", "t", st, "k", "t", "tb")
    assert(out.count() == 2)
    assert(out.filter(col("asof").isNotNull).count() == 0)
  }

  test("as-of join with an empty event side is empty") {
    import spark.implicits._
    val ev = Seq.empty[(Long, Timestamp)].toDF("k", "t")
    val st = Seq((1L, ts(5), 7L)).toDF("k", "t", "tb")
    assert(AsOfJoin.leftAsOf(ev, "k", "t", st, "k", "t", "tb").count() == 0)
  }

  test("native kernels on degenerate strings") {
    val r = spark.sql(
      """SELECT size(graft_shingles3('')) AS s_empty,
        |  graft_simhash('') AS sh_empty,
        |  size(graft_minhash(CAST(array() AS ARRAY<STRING>))) AS mh_empty,
        |  graft_shingles3(CAST(NULL AS STRING)) AS s_null""".stripMargin).head()
    assert(r.getInt(0) == 0)
    // empty text has one "" token — fingerprint still deterministic
    assert(!r.isNullAt(1))
    assert(r.getInt(2) == 32) // signature of empty set = all-P sentinel
    assert(r.isNullAt(3))
  }

  test("gzip of empty and exactly-threshold payloads") {
    import graft.functions.Gzip
    assert(Gzip.decompress(Array.emptyByteArray).isEmpty)
    assert(!Gzip.isCompressed(Gzip.compressIfLarge("", 512)))
    val at = "x" * 512
    assert(!Gzip.isCompressed(Gzip.compressIfLarge(at, 512))) // strict >
  }

  test("dedup pair generator on single-element buckets yields nothing") {
    import spark.implicits._
    // a corpus of unique docs has no pairs at any threshold
    val docs = (1 to 10).map(i => (i.toLong, s"totally unique document number $i with words $i"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("documents_edge")
    val sh = docs.select(col("doc_id"),
      call_function("graft_shingles3", col("text")).as("sh"))
    val e = sh.select(col("doc_id"), explode(col("sh")).as("s"))
    val buckets = e.groupBy(col("s"))
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1)
    // shingles share prefixes ("totally unique document") → pairs exist,
    // but identical full docs don't; verify counting stays consistent
    assert(buckets.count() >= 0) // smoke: no codegen/kernel crash
  }

  /** Every document/embedding-family catalog query must survive an EMPTY
    * corpus — the first microbatch of a fresh pipeline, or a filter that
    * matched nothing upstream. Collapse, banding, expansion, inverted
    * index: all must produce zero rows, not a runtime error.
    */
  test("document and embedding queries on an empty corpus return empty, no crash") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("empty_corpus").toString
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], docSchema)
      .write.parquet(s"$dir/documents.parquet")
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], embSchema)
      .write.parquet(s"$dir/embeddings.parquet")
    val affected = graft.queries.Catalog.all.keys.filter(n =>
      n.matches("q4[0-5].*|q5[0-2].*|q6[0-5].*|q7[01].*|q8[56].*|q9[0-9].*|q10[0-2].*|q10[4-9].*|q11[0-9].*|q1[2345][0-9].*"))
      // q133 (orders-backed audit rollup) and the events-backed
      // behavioral family are not corpus queries — the numeric range
      // accidentally catches them
      .filterNot(Set("q133_session_rollup", "q142_event_transitions",
        "q145_transition_anomaly", "q146_event_funnel",
        "q147_retention_cohorts", "q149_daily_gapfill",
        "q156_gap_histogram", "q157_key_skew", "q158_event_paths",
        "q159_transition_accuracy"))
    affected.foreach { name =>
      val n = graft.queries.Catalog.all(name).build(spark, dir).count()
      assert(n == 0, s"$name returned $n rows on an empty corpus")
    }
    info(s"${affected.size} queries clean on the empty corpus")
  }

  test("events-backed queries on an empty event stream: no crash, data-grain entries empty") {
    import org.apache.spark.sql.types._
    val dir = tmpDir("empty_events").toString
    val evSchema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], evSchema)
      .write.parquet(s"$dir/events.parquet")
    // events-backed entries also scan other tables (q09 orders, q74
    // lineitem-free JSON, ...) — point those at the real sf0.001 files
    for (t <- Tables.all if t != "events") {
      java.nio.file.Files.createSymbolicLink(
        java.nio.file.Paths.get(s"$dir/$t.parquet"),
        java.nio.file.Paths.get(s"${sf()}/$t.parquet"))
    }
    // the events-backed set EventsTsSpec guards, scan sets walked
    // through cached plans
    val affected = EventsEntries(spark, sf())
    assert(affected.size >= 20, s"derivation went vacuous: $affected")
    // entries whose output is ∝ event data must come back EMPTY; the
    // rest (funnel/summary shapes that emit fixed-grain rows from
    // global aggregates) must simply build and run
    val strictlyEmpty = Set("q09_asof_join", "q30_window_tumbling",
      "q31_window_sliding", "q32_session_window", "q142_event_transitions",
      "q145_transition_anomaly", "q147_retention_cohorts",
      "q156_gap_histogram", "q158_event_paths", "q161_daily_anomaly",
      "q162_active_users", "q164_session_duration", "q166_activity_gini",
      "q167_activity_outliers", "q168_conversion_attribution",
      "q169_conversion_lag")
    affected.foreach { name =>
      val n = graft.queries.Catalog.all(name).build(spark, dir).count()
      if (strictlyEmpty(name))
        assert(n == 0, s"$name returned $n rows on an empty event stream")
    }
    info(s"${affected.size} events-backed queries clean on the empty stream")
  }

  test("q104/q105 degenerate inputs: empty text, null text, zero vector") {
    import spark.implicits._
    val dir = tmpDir("degenerate").toString
    Seq((1L, ""), (2L, "a"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' AS lang", "'src0' AS source",
        "CAST(coalesce(length(text), 0) AS LONG) AS n_chars")
      .write.parquet(s"$dir/documents.parquet")
    Seq((1L, Array.fill(4)(0.0f), 0), (2L, Array(1.0f, -2.0f, 0.5f, 0.25f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val chunks = graft.queries.Catalog.all("q104_chunk_overlap").build(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    // empty string splits to [""]: one 1-token chunk of ""; null text is
    // dropped (no chunk rows), never a crash or a null chunk
    assert(chunks == Map(1L -> ((0, 1, "")), 2L -> ((0, 1, "a"))), s"$chunks")
    val quant = graft.queries.Catalog.all("q105_embed_quantize").build(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    // zero vector: scale 0 and all-zero codes (the CASE guard), stats 0
    assert(quant(1L) == ((0.0, 0L, 0, 0, 0)), s"${quant(1L)}")
    // |x|max = 2.0 saturates (negatively, code -127); the rest follow the
    // reference formula (recomputed, not hardcoded — 1.0/scale sits on a
    // .5 rounding boundary where a hardcoded int would encode an IEEE
    // guess)
    val scale2 = 2.0 / 127.0
    val codes = Seq(1.0, -2.0, 0.5, 0.25)
      .map(x => math.max(-127.0, math.min(127.0, math.floor(x / scale2 + 0.5))).toInt)
    assert(codes.min == -127 && codes.count(c => math.abs(c) == 127) == 1)
    assert(quant(2L) == ((scale2, codes.map(_.toLong).sum, codes.min, codes.max,
      codes.count(c => math.abs(c) == 127))), s"${quant(2L)} vs $codes")
  }

  test("q220 with an empty quarter emits no rows (max-of-empty stays NULL-safe)") {
    import spark.implicits._
    // the view's max over an EMPTY revenue table is a 1-row NULL frame
    // in Spark (agg on empty input) and a NULL scalar subquery in
    // DuckDB — both must make the equality filter drop everything,
    // never emit a NULL-keyed winner
    val dir = tmpDir("q220_empty").toString
    Seq((1L, 2L, new java.sql.Timestamp(820454400000L), 100.0, 0.05))
      // 1996-01-01: OUTSIDE the entry's 1997 Q1 window
      .toDF("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice",
        "l_discount")
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    Seq((2L, "Supplier#2")).toDF("s_suppkey", "s_name")
      .coalesce(1).write.parquet(s"$dir/supplier.parquet")
    val out = graft.queries.Catalog.all("q220_tpch_q15").build(spark, dir)
    assert(out.count() == 0, "empty quarter must yield an empty report")
  }
}
