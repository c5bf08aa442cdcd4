package graft

import graft.queries.{Catalog, Dedup}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** graft_collect_capped: bit-parity with the compositional form it
  * replaces (`slice(sort_array(collect_list(e)), 1, cap)`) on adversarial
  * random data, through forced partial-buffer merges and the serialized
  * (sort-based fallback) path, plus the plan assertion that the dedup
  * family's bucket stages actually use it.
  */
class CollectCappedSpec extends SparkSuite {

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(0xBACCA7L + i)))

  // skewed keys so some groups are mega-buckets, duplicate (id, payload)
  // elements included so multiset semantics are exercised
  private val row: Gen[(Long, Long, Long)] = for {
    g <- Gen.frequency(4 -> Gen.const(0L), 2 -> Gen.chooseNum(1L, 3L), 1 -> Gen.chooseNum(4L, 40L))
    id <- Gen.chooseNum(0L, 25L)
    p <- Gen.chooseNum(-5L, 5L)
  } yield (g, id, p)

  private def parity(cap: Int, fallbackThreshold: Option[Int] = None): Unit = {
    val session = spark; import session.implicits._
    val df = samples(row, 600).toDF("g", "id", "p").repartition(7) // force merges
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(key)
    fallbackThreshold.foreach(t => spark.conf.set(key, t.toString))
    try {
      def run(c: org.apache.spark.sql.Column) = df.groupBy(col("g"))
        .agg(c.as("ids")).orderBy(col("g"))
        .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
      val native = run(call_function("graft_collect_capped",
        struct(col("id"), col("p")), lit(cap)))
      val composed = run(slice(sort_array(collect_list(struct(col("id"), col("p")))), 1, cap))
      assert(native == composed, s"cap=$cap fallback=$fallbackThreshold")
    } finally {
      saved match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("parity with slice(sort_array(collect_list)) at cap 1, 3, and above-bucket") {
    parity(1); parity(3); parity(10000)
  }

  test("parity through the sort-based fallback (serialize/deserialize) path") {
    parity(3, fallbackThreshold = Some(1))
  }

  test("witness-slice equivalence: slice(collect(cap+1), 1, cap) == collect(cap)") {
    // the cap-telemetry sites (Dedup.observeCap) collect cap+1 members
    // as an overflow witness and slice back — legal ONLY because the
    // collector keeps the cap+1 SMALLEST in ascending order, so the
    // first cap are exactly the capped collect. Pinned on adversarial
    // random groups for several caps.
    val session = spark; import session.implicits._
    val df = samples(row, 600).toDF("g", "id", "p").repartition(7)
    def run(c: org.apache.spark.sql.Column) = df.groupBy(col("g"))
      .agg(c.as("ids")).orderBy(col("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    for (cap <- Seq(1, 2, 5, 50)) {
      val direct = run(call_function("graft_collect_capped",
        struct(col("id"), col("p")), lit(cap)))
      val sliced = run(slice(call_function("graft_collect_capped",
        struct(col("id"), col("p")), lit(cap + 1)), 1, cap))
      assert(direct == sliced, s"witness slice diverged at cap=$cap")
    }
  }

  test("null elements are skipped, matching collect_list") {
    val session = spark; import session.implicits._
    val df = samples(row, 300).toDF("g", "id", "p").repartition(5)
    // every other element null — collect_list drops them; so must we
    val e = when(col("id") % 2 === 0, struct(col("id"), col("p")))
    def run(c: org.apache.spark.sql.Column) = df.groupBy(col("g"))
      .agg(c.as("ids")).orderBy(col("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    val native = run(call_function("graft_collect_capped", e, lit(3)))
    val composed = run(slice(sort_array(collect_list(e)), 1, 3))
    assert(native == composed)
  }

  test("parity with array-payload elements (the q41 shingle-carrying shape)") {
    val session = spark; import session.implicits._
    val df = samples(row, 200).map { case (g, id, p) =>
      (g, id, (0L to (p + 5)).map(i => s"s$i")) }
      .toDF("g", "id", "sh").repartition(5)
    def run(c: org.apache.spark.sql.Column) = df.groupBy(col("g"))
      .agg(c.as("ids")).orderBy(col("g"))
      .collect().map(r => (r.getLong(0), r.getSeq[Any](1))).toSeq
    val native = run(call_function("graft_collect_capped",
      struct(col("id"), col("sh")), lit(4)))
    val composed = run(slice(sort_array(collect_list(struct(col("id"), col("sh")))), 1, 4))
    assert(native == composed)
  }

  test("dedup bucket stages use the bounded aggregate in their plans") {
    for (q <- Seq("q41_dedup_minhash", "q43_ngram_jaccard", "q44_embed_neardup",
        "q45_simhash_hamming")) {
      val plan = Catalog.all(q).build(spark, sf()).queryExecution.executedPlan.toString
      assert(plan.contains("graft_collect_capped"), s"$q bucket stage must be bounded:\n$plan")
      // the only remaining unbounded collects are the exact-dup membership
      // lists (textGroups / vector groups) — scalar doc ids, never struct
      // payloads, and inherently the query's OUTPUT (the duplicate sets)
      assert(!plan.contains("sort_array(collect_list(struct"),
        s"$q must not materialize unbounded struct buckets")
    }
  }

  test("dedup results unchanged vs the compositional fallback on the fixture") {
    // the DedupCapSpec cliques cover engaged-cap equality; here the
    // production cap (disengaged at fixture scale) must equal an
    // uncapped run through the same public builder
    val viaAgg = Dedup.minhashPairs(spark, sf(), Dedup.BucketCap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val uncapped = Dedup.minhashPairs(spark, sf(), Int.MaxValue - 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAgg == uncapped, "fixture buckets are far below cap; results must coincide")
  }
}
