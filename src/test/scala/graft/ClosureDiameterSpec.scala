package graft

import org.apache.spark.sql.functions._

/** Closure-diameter contract for the q101/q139 clustering kernel: a
  * planted chain of D NEAR-DUP links — not raw pairs, but window
  * vectors whose cosine is exactly (w−k)/w at offset k, so the ≥τ
  * similarity graph derived by the real top-k search is precisely a
  * diameter-D chain — must unify into ONE min-labeled cluster, and must
  * do so in ~log₂D rounds: min-label propagation alone moves the label
  * one hop per round (D rounds on a chain), which is why clusterPairs
  * escalates to alternating large-star/small-star contraction after
  * [[graft.queries.Dedup]]'s starSwitch rounds. The fixture corpora
  * have shallow components, so without this plant the escalation path's
  * round bound was untested. ScaleProbe `--diameter` measures the same
  * construction at D = 32/64/128 with per-round timings.
  */
class ClosureDiameterSpec extends SparkSuite {

  /** D+1 unit vectors, v_i = the normalized w-wide indicator window at
    * offset i: cos(v_i, v_{i+k}) = (w−k)/w exactly. With w = 3 and
    * τ = SemDedupTau (0.45): consecutive cos 2/3 ≥ τ, skip-2 cos
    * 1/3 < τ — the ≥τ graph is the chain and nothing else.
    */
  private def chainVectors(dd: Int, w: Int = 3) = {
    val dim = dd + w + 1
    (0 to dd).map { i =>
      (i.toLong,
        (0 until dim).map(j =>
          if (j >= i && j < i + w) 1.0 / math.sqrt(w) else 0.0))
    }
  }

  private def chainPairs(dd: Int) = {
    import spark.implicits._
    val corpus = chainVectors(dd).toDF("vec_id", "v")
    val edges = queries.Similarity.searchTopK(corpus,
      corpus.select(col("vec_id").as("q_id"), col("v").as("qv")), 4)
    edges.filter(col("cos") >= queries.Similarity.SemDedupTau &&
        col("q_id") =!= col("n_id"))
      .select(least(col("q_id"), col("n_id")).as("doc_a"),
        greatest(col("q_id"), col("n_id")).as("doc_b"))
      .distinct()
  }

  test("a planted diameter-32 near-dup chain unifies into one min-labeled cluster in ~log D rounds") {
    val dd = 32
    val pairs = chainPairs(dd)
    // the similarity derivation produced EXACTLY the chain links
    assert(pairs.count() == dd, "derived pair graph is not the planted chain")

    var rounds = 0
    val labeled = queries.Dedup.clusterPairsInstrumented(
      pairs, maxRounds = 24, starSwitch = 4, (_, _) => rounds += 1)
    val rows = labeled.collect()
    assert(rows.length == dd + 1)
    assert(rows.forall(_.getAs[Long]("cluster_id") == 0L),
      "cluster label is not the component min id")
    assert(rows.forall(_.getAs[Long]("cluster_size") == dd + 1L),
      "chain did not unify into one component")
    assert(rows.count(_.getAs[Boolean]("keeper")) == 1)

    // star contraction halves tree height per round: the whole closure
    // must land within starSwitch + ⌈log₂ D⌉ + slack, NOT ~D rounds
    val bound = 4 + math.ceil(math.log(dd.toDouble) / math.log(2)).toInt + 2
    assert(rounds <= bound,
      s"closure took $rounds rounds for diameter $dd (log bound $bound) — " +
        "star-contraction escalation regressed to per-hop propagation")
  }
}
