package graft.queries

import graft.Caches.TrackedPersist
import graft.Tables
import graft.functions.VectorFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.2 Q41): brute-force cosine top-k as the correctness
  * baseline, an IVF (inverted-file) variant, and an SRP-sketch + re-rank
  * variant as the scale paths. IVF partitions the corpus by nearest
  * centroid and queries probe only their top-2 centroid partitions,
  * cutting the scanned fraction to ~probes/centroids of the corpus;
  * SRP ranks by sketch Hamming distance over 16-byte signatures and
  * exactly re-ranks a fixed candidate budget. All "training" is
  * deterministic so the DuckDB oracle replicates each whole pipeline,
  * and both approximate variants carry frozen recall floors vs the
  * brute-force ground truth (AnnRecallSpec).
  *
  * Cosine is always computed as dot/(|a||b|) with double math and
  * sequential fold order, which is bit-identical between Spark's
  * zip_with+aggregate and DuckDB's list_dot_product.
  */
object Similarity {

  val NumCentroids = 8
  val NumQueries = 5
  val TopK = 5
  val Probes = 2

  /** q200/q212: embedding dimensionality of the fixture, and q212's
    * fixed power-iteration round count (fixed so the DuckDB oracle can
    * unroll the identical iteration chain — the BPE-oracle pattern).
    * 64 rounds because the fixture's near-isotropic embeddings have a
    * small eigengap: measured projection-cosine vs a 300-round double
    * reference is 0.29 @ 8 rounds, 0.985 @ 40, 0.9993 @ 60 — the
    * convergence rate is (λ₂/λ₁)^t, a data property, not a precision
    * one (GramSpec pins ≥ 0.99 alignment). Per-round cost is a 64×64
    * integer mat-vec — free on both engines.
    */
  val GramDim = 64
  val PowerIters = 64

  /** Probe count for q132's IVF dense hybrid leg. Deeper than q51's
    * (4/8 vs 2/8 centroids): fusion quality is bounded by the weaker
    * leg, so the hybrid leg carries a recall floor of 0.95 vs the brute
    * dense leg (AnnRecallSpec) where standalone IVF accepts 0.8. Still
    * scans only probes/centroids of the corpus; at production k (k ∝
    * corpus, thousands of centroids) the same nprobe ratio holds.
    */
  val HybridProbes = 4

  /** q51 IVF training: Lloyd iterations from first-NumCentroids seeds,
    * and the fixed-point scale (2^20) for the exact integer cluster-mean
    * summation. floor(x·2^20) is exact for these inputs (a power-of-two
    * multiply of a float32-origin double never rounds), integer sums are
    * order-free — so the mean is reproducible at any parallelism AND in
    * the DuckDB oracle, where a double summation would depend on row
    * order. Quantizing the mean to 2^-20 is harmless to cluster quality
    * (recall pinned in AnnRecallSpec). Measured at sf0.001: trained
    * centroids keep the 8 clusters balanced (51–72 members) and recall
    * 0.88 at Probes=2; more rounds oscillate 0.84–0.92 (boundary noise
    * on a fixture whose neighbors sit near cluster boundaries), so the
    * count stays at 2.
    */
  val KMeansIters = 2
  val FixedPointScale = 1048576L

  /** The DuckDB mirror of one Lloyd round, chained KMeansIters times:
    * a_k = assignment to c_{k-1}'s nearest centroid, m_k = fixed-point
    * per-dimension means, c_k = re-centered centroids (empty clusters
    * keep their previous centroid via the LEFT JOIN + coalesce).
    */
  private[queries] def kmeansIterSql: String = (1 to KMeansIters).map { k =>
    s"""a$k AS (SELECT vec_id, c_id, v FROM (
       |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
       |  FROM e CROSS JOIN c${k - 1} c) WHERE rn = 1),
       |m$k AS (SELECT c_id, pos,
       |    CAST(sum(CAST(floor(x * $FixedPointScale.0) AS BIGINT)) AS DOUBLE)
       |      / $FixedPointScale.0 / CAST(count(*) AS DOUBLE) AS mx
       |  FROM (SELECT c_id, generate_subscripts(v, 1) - 1 AS pos, unnest(v) AS x FROM a$k)
       |  GROUP BY c_id, pos),
       |g$k AS (SELECT c_id, list(mx ORDER BY pos) AS mv FROM m$k GROUP BY c_id),
       |c$k AS (SELECT p.c_id, coalesce(g.mv, p.cv) AS cv
       |        FROM c${k - 1} p LEFT JOIN g$k g USING (c_id)),""".stripMargin
  }.mkString("\n")

  /** q52 SRP sketch width (Charikar random-hyperplane signature bits) and
    * the Hamming-pass candidate budget re-ranked with exact cosine.
    * Measured recall vs q50 brute force at sf0.001 (AnnRecallSpec): over
    * a fixture whose true top-5 neighbors sit at cos ≈ 0.28–0.39
    * (near-orthogonal — the hard case for LSH), 256-bit sketches at C=50
    * measure 0.96 recall — identical to true Gaussian planes at the same
    * width (128-bit: 0.76 both) — with the floor frozen at 0.8 in
    * AnnRecallSpec.
    */
  val SigBits = 256
  val HammingCandidates = 50

  /** q112: outliers reported per label (the farthest-from-centroid k). */
  val OutlierK = 5

  /** q134 kNN graph: neighbors kept per vector, and the IVF probe depth
    * used when EVERY vector is a query. Whole-corpus querying includes
    * every cluster-boundary vector, so graph recall is strictly harder
    * than q51's 5-query case: measured at sf0.001, 2/8 probes = 0.49,
    * 4/8 = 0.75 (floor frozen at 0.7 in AnnRecallSpec). The fixture is
    * the documented adversarial regime — true neighbors at cos
    * 0.28–0.39, near-orthogonal, where partition-based ANN degrades by
    * construction; production embedding corpora cluster far tighter,
    * and KnnProbes is the recall/cost knob (scan fraction ≈
    * probes/centroids at any scale).
    */
  val KnnK = 5
  val KnnProbes = 4

  /** q124 SemDeDup cosine threshold — the q44 near-dup value, which the
    * fixture's planted near-pairs sit just above (max pairwise cosine
    * 0.48/0.51/0.60 at sf0.001/0.01/0.1), so the output is non-degenerate
    * at every test scale. Production corpora run far higher (the paper
    * sweeps ε ≈ 0.95+ on normalized LAION embeddings); the constant is
    * the only knob.
    */
  val SemDedupTau = 0.45

  /** Pseudo-random hyperplane component for flat index `n` = plane·dim+i:
    * two rounds of a quadratic congruential mixer (only *, +, % — exact
    * BIGINT arithmetic with identical semantics in Spark and DuckDB, so
    * the oracle rebuilds the planes bit-for-bit), mapped to [-1, 1).
    * A single LINEAR multiplicative hash is not enough: consecutive n
    * give an arithmetic progression mod M, the planes come out strongly
    * correlated, and measured recall collapses to 0.12 (vs 0.96 here and
    * for Gaussian planes).
    */
  private[graft] def planeSql(n: String): String = {
    val M = "2147483647"
    val h1 = s"(($n) * 2654435761 + 123456789) % $M"
    val h2 = s"(($h1) * ($h1) % $M + ($h1)) % $M"
    val h3 = s"(($h2) * ($h2) % $M + ($n)) % $M"
    s"((CAST($h3 AS DOUBLE) / $M.0) * 2 - 1)"
  }

  private[queries] def vecs(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "embeddings"))
      .select(col("vec_id"), toDouble(col("embedding")).as("v"))

  /** Assign vectors (vec_id, v) to their nearest centroid (c_id, cv) —
    * the IVF index PROBE, public because it is the recurring production
    * step: train once ([[trainCentroids]]), then assign every new batch
    * or stream of vectors against the shipped index
    * ([[graft.streaming.StatefulOps.annAssign]]). Argmax via struct-max
    * aggregation, not a ranking window: partial (map-side) aggregation
    * collapses the centroids×vectors candidate rows BEFORE the shuffle.
    */
  def assignToCentroids(vectors: DataFrame, cents: DataFrame): DataFrame =
    // argmax as graft_topk(_, _, 1): the TypedImperativeAggregate keeps
    // the whole group-by in the ObjectHashAggregate regime, where a
    // max(struct)+first(array) pair falls to SortAggregate, i.e. the
    // exploded centroids×vectors stream gets sorted twice (round-11
    // verdict #3; PlanSpec pins it). Tie-break (score DESC, id ASC) is
    // graft_topk's native order = (ccos DESC, c_id ASC), as in the oracles.
    vectors.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine(col("v"), col("cv")))
      .groupBy(col("vec_id"))
      .agg(call_function("graft_topk", col("ccos"), col("c_id"), lit(1)).as("top"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("top").getItem(0).getField("id").as("c_id"),
        col("v"))

  /** Per-key exact fixed-point mean vectors: (key, …, v) rows →
    * (key, mv). floor(x·2^20) BIGINT sums are order-free, so the mean is
    * identical at any parallelism and in the DuckDB oracle — THE
    * parity-critical kernel of the ANN family, kept in exactly one copy
    * (q51's Lloyd recentering and q112's label centroids both call it;
    * the two oracle SQL mirrors cite it).
    */
  private def fixedPointMeans(rows: DataFrame, key: String): DataFrame =
    rows.select(col(key), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col(key), col("pos"))
      .agg(sum(expr(s"CAST(floor(x * $FixedPointScale.0) AS BIGINT)")).as("sq"),
        count(lit(1)).as("n"))
      .select(col(key), col("pos"),
        (col("sq").cast("double") / lit(FixedPointScale.toDouble) /
          col("n").cast("double")).as("mx"))
      .groupBy(col(key))
      // ordered vector reassembly as sort_array + field extraction
      // (both codegen'd) instead of the CodegenFallback array_sort +
      // transform HOFs; pos is distinct per key, so the struct natural
      // ordering is total and identical for both forms
      .agg(expr("sort_array(collect_list(struct(pos, mx))).mx").as("mv"))

  /** q51's deterministic k-means training, returned as the shipped index
    * artifact: seeds = first NumCentroids corpus vectors, KMeansIters
    * Lloyd rounds with exact fixed-point means, materialized driver-side
    * (k rows — k·dim doubles, what MLlib also keeps on the driver) and
    * rebuilt as a LocalRelation so every downstream use broadcasts it
    * and nothing lingers in the cache manager.
    */
  def trainCentroids(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    // one Lloyd round: reassign, re-center; empty clusters keep their
    // previous centroid. Means in FIXED-POINT (floor(x·2^20) BIGINT
    // sums): integer addition is order-free, so the mean is identical at
    // any parallelism and in the DuckDB oracle.
    def recenter(cents: DataFrame): DataFrame = {
      val means = fixedPointMeans(assignToCentroids(e, cents), "c_id")
      cents.join(means, Seq("c_id"), "left")
        .select(col("c_id"), coalesce(col("mv"), col("cv")).as("cv"))
    }
    val seeds = e.filter(col("vec_id") < NumCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"))
    // Materialize the k-row centroid table driver-side AFTER EVERY round,
    // not only at the end: recenter references its input `cents` twice
    // (the means' assignment AND the empty-cluster coalesce join), so a
    // lazily-chained iterate doubles the round-(i-1) subplan inside round
    // i — corpus passes grow 2^iters instead of iters (the round-11 q51
    // cold-fit regression). With a LocalRelation per round, each round is
    // one flat pass: scan + broadcast argmax + fixed-point mean.
    def localize(df: DataFrame): DataFrame =
      s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    Iterator.iterate(localize(seeds))(c => localize(recenter(c)))
      .drop(KMeansIters).next()
  }

  /** (q_id, n_id, cos) candidates → per-query top-k, rank 1..k by
    * (cos DESC, n_id ASC), via the graft_topk bounded-heap aggregate —
    * partial aggregation collapses every partition's candidates to ≤ k
    * rows BEFORE the per-query shuffle.
    */
  private def topkPerQuery(cand: DataFrame, k: Int): DataFrame =
    cand.groupBy(col("q_id"))
      .agg(call_function("graft_topk", col("cos"), col("n_id"), lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rk"), round(col("t.score"), 4).as("cos"))

  /** SQL fragment: cosine between two DOUBLE-list columns. */
  private[queries] def sqlCos(a: String, b: String): String =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** IVF probe-search: queries (q_id, qv) pick their top-`probes`
    * centroids from the broadcast k-row index (graft_topk bounded heap —
    * the NumCentroids candidates per query collapse map-side, no ranking
    * window), then rerank with EXACT cosine restricted to the probed
    * partitions of `assign` (vec_id, c_id, v), excluding the self-match
    * (both callers are self-retrieval). 100 TB shape: the corpus-sized
    * side is touched only through the probed-partition join — scanned
    * fraction ≈ probes/centroids — and candidates collapse through the
    * bounded heap before the per-query shuffle. Shared by q51 and
    * q132's dense hybrid leg.
    */
  def ivfSearchTopK(assign: DataFrame, queries: DataFrame,
                    cents: DataFrame, probes: Int, k: Int): DataFrame = {
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("qcos", cosine(col("qv"), col("cv")))
      .groupBy(col("q_id"))
      .agg(call_function("graft_topk", col("qcos"), col("c_id"),
        lit(probes)).as("top"), first(col("qv")).as("qv"))
      .select(col("q_id"), col("qv"), explode(col("top.id")).as("c_id"))
    topkPerQuery(probed.join(assign, "c_id")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos")), k)
  }

  /** q134's edge pipeline, shared by every graph-derived operator
    * (q138 outliers, q139 clusters, q140 triplets): all vectors' top-KnnK
    * IVF-probed cosine neighbors as (q_id, n_id, rk, cos) — cos emitted
    * rounded to 4 (topkPerQuery's precision), which is the value ALL
    * downstream math uses so the oracles replay bit-identically.
    */
  def knnEdges(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cents = trainCentroids(s, d)
    ivfSearchTopK(assignToCentroids(e, cents),
      e.select(col("vec_id").as("q_id"), col("v").as("qv")),
      cents, KnnProbes, KnnK)
  }

  /** The DuckDB mirror of [[knnEdges]] as a CTE prefix ending in
    * `knn(q_id, n_id, rk, cos)` — rank computed on the unrounded cosine
    * (what the bounded heap orders by), cos emitted rounded to 4 (what
    * topkPerQuery emits). Downstream oracles splice their reductions
    * after it; q134's final select is this CTE re-emitted verbatim.
    */
  private[queries] def knnOracleCte: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $NumCentroids),
       |${kmeansIterSql}
       |asg AS (SELECT vec_id, c_id, v FROM (
       |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
       |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn = 1),
       |probes AS (SELECT q_id, qv, c_id FROM (
       |  SELECT e.vec_id AS q_id, e.v AS qv, c.c_id, row_number() OVER (
       |    PARTITION BY e.vec_id ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
       |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn <= $KnnProbes),
       |sc AS (SELECT p.q_id, a.vec_id AS n_id, ${sqlCos("p.qv", "a.v")} AS cos
       |       FROM probes p JOIN asg a ON a.c_id = p.c_id
       |       WHERE a.vec_id <> p.q_id),
       |knn AS (SELECT q_id, n_id, CAST(rk AS INT) AS rk, round(cos, 4) AS cos FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, n_id) AS rk FROM sc) WHERE rk <= $KnnK)""".stripMargin

  /** Members kept per semantic cluster by q144's diversity sample. */
  val ClusterSampleM = 2

  /** q148 power-iteration rounds. Three rounds separate hub scores from
    * the uniform start on a k-regular-ish graph; the count is a
    * constant (like KMeansIters) because the oracle unrolls it.
    */
  val PageRankIters = 3

  /** q165's seed set: the first PprSeeds vectors (deterministic, like
    * the centroid seeds). Production passes any curated id set.
    */
  val PprSeeds = 4

  /** q139's builder, shared with q144: connected components over the
    * kNN graph's cos ≥ [[SemDedupTau]] edges through the q101 closure
    * kernel; every vector emits a row (singletons self-keep).
    */
  /** q124's per-cluster assignment rollup — the persisted artifact of a
    * standing SemDeDup deployment: every vector with its cluster id,
    * vector, and centroid-cosine, physically partitioned by c_id so the
    * pairwise stage is cluster-local with no further exchange.
    */
  def semDedupAssign(s: SparkSession, d: String): DataFrame = {
    val e = vecs(s, d)
    val cents = trainCentroids(s, d)
    assignToCentroids(e, cents)
      .join(broadcast(cents), Seq("c_id"))
      .select(col("c_id"), col("vec_id"), col("v"),
        cosine(col("v"), col("cv")).as("cosc"))
      .repartition(col("c_id"))
  }

  /** q124's cluster-local pairwise flagging over a [[semDedupAssign]]
    * rollup: within each cluster, a vector is a dup if any
    * closer-to-centroid member sits at cosine ≥ [[SemDedupTau]].
    */
  def semDedupFlags(wc: DataFrame): DataFrame = {
    val a = wc.select(col("c_id"), col("vec_id").as("a_id"),
      col("v").as("av"), col("cosc").as("a_cosc"))
    val b = wc.select(col("c_id"), col("vec_id").as("b_id"),
      col("v").as("bv"), col("cosc").as("b_cosc"))
    val dup = a.join(b, Seq("c_id"))
      .filter(col("a_cosc") < col("b_cosc") ||
        (col("a_cosc") === col("b_cosc") && col("a_id") < col("b_id")))
      .filter(cosine(col("av"), col("bv")) >= SemDedupTau)
      .select(col("b_id").as("vec_id")).distinct()
    wc.join(dup.withColumn("is_dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("c_id"), round(col("cosc"), 4).as("cosc"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  def semanticClusters(s: SparkSession, d: String): DataFrame =
    semanticClustersFrom(s, d, knnEdges(s, d))

  /** [[semanticClusters]] over a prebuilt kNN edge set — the serving
    * shape when the q134 graph is a persisted artifact (re-clustering
    * after a threshold change pays only the closure, never the IVF
    * search).
    */
  def semanticClustersFrom(s: SparkSession, d: String,
                           edges: DataFrame): DataFrame = {
    val pairs = edges
      .filter(col("cos") >= SemDedupTau && col("q_id") =!= col("n_id"))
      .select(least(col("q_id"), col("n_id")).as("doc_a"),
        greatest(col("q_id"), col("n_id")).as("doc_b"))
      .distinct()
    val labeled = Dedup.clusterPairs(pairs)
    Tables(s, d, "embeddings").select(col("vec_id"))
      .join(labeled.withColumnRenamed("doc_id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("cluster_id"), col("vec_id")).as("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"),
        coalesce(col("keeper"), lit(true)).as("keeper"))
  }

  /** q148's engine, iteration-count explicit for ScaleProbe: fixed-point
    * integer PageRank over the kNN edge set. The edge set + degrees are
    * derived once and persisted; each round's rank table is eagerly
    * localCheckpoint-ed (the clusterPairs/bpeFit lineage rule — round k
    * re-evaluates ONE join+aggregate, never the k-deep chain; swap for a
    * reliable checkpoint under a configured checkpoint dir in
    * production). n is a 1-number driver artifact, so r₀ = 2^20 div n
    * and the teleport base are integer constants both engines derive
    * identically. The returned plan reads only checkpointed data, so
    * the edge persist is released before return.
    */
  def pageRank(s: SparkSession, d: String, iters: Int,
               onRound: (Int, Double) => Unit = (_, _) => (),
               seeds: Option[DataFrame] = None): DataFrame = {
    val e = knnEdges(s, d).select(col("q_id"), col("n_id")).persist()
    try {
      val deg = e.groupBy(col("q_id")).agg(count(lit(1)).as("deg"))
      val verts = Tables(s, d, "embeddings").select(col("vec_id"))
      // PERSONALIZED variant (q165): the teleport mass lands only on the
      // seed set instead of uniformly — r₀ and the per-round base are 0
      // off-seed, so rank measures proximity to the seeds through the
      // kNN graph (seeded expansion: "find more like THESE"). The seed
      // flag is a broadcastable |S|-row join; with seeds = None every
      // vertex is a seed over n and this is exactly the global q148.
      val flagged = seeds match {
        case None => verts.withColumn("__seed", lit(true))
        case Some(sd) => verts.join(
            broadcast(sd.select(col("vec_id")).withColumn("__seed", lit(true))),
            Seq("vec_id"), "left")
          .select(col("vec_id"), coalesce(col("__seed"), lit(false)).as("__seed"))
      }
      val n = math.max(seeds.map(_.count()).getOrElse(verts.count()), 1L)
      val r0v = FixedPointScale / n
      val baseCol = when(col("__seed"), lit((15L * r0v) / 100L)).otherwise(lit(0L))
      var r = flagged.select(col("vec_id"),
        when(col("__seed"), lit(r0v)).otherwise(lit(0L)).as("r")).localCheckpoint()
      (1 to iters).foreach { k =>
        val t0 = System.nanoTime()
        val contrib = e
          .join(r.select(col("vec_id").as("q_id"), col("r")), "q_id")
          .join(deg, "q_id")
          .select(col("n_id").as("vec_id"), expr("r div deg").as("c"))
          .groupBy(col("vec_id")).agg(sum(col("c")).as("sm"))
        r = flagged.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            (baseCol + expr("(85 * coalesce(sm, CAST(0 AS BIGINT))) div 100"))
              .as("r"))
          .localCheckpoint()
        onRound(k, (System.nanoTime() - t0) / 1e9)
      }
      r.select(col("vec_id"), col("r").as("rank_fp"),
        (col("r").cast("double") / lit(FixedPointScale.toDouble)).as("rank"))
    } finally { e.unpersist(blocking = false); () }
  }

  /** The DuckDB mirror of [[semanticClusters]] as a CTE prefix ending in
    * `cl(vec_id, cluster_id, cluster_size, keeper)`: [[knnOracleCte]]
    * promoted to WITH RECURSIVE + the q101-style set-union closure
    * (terminates — UNION deduplicates the frontier), label = min
    * reachable id, singletons folded in by the embeddings LEFT JOIN.
    */
  private[queries] def semanticClustersOracleCte: String =
    knnOracleCte.replaceFirst("^WITH ", "WITH RECURSIVE ") + s""",
       |prs AS (SELECT least(q_id, n_id) AS pa, greatest(q_id, n_id) AS pb
       |        FROM knn WHERE cos >= $SemDedupTau AND q_id <> n_id
       |        GROUP BY 1, 2),
       |e2 AS (SELECT pa AS v, pb AS u FROM prs
       |       UNION SELECT pb, pa FROM prs),
       |reach AS (
       |  SELECT v, u FROM e2
       |  UNION
       |  SELECT r.v, e3.u FROM reach r JOIN e2 e3 ON e3.v = r.u),
       |lbl AS (SELECT v, least(v, min(u)) AS l FROM reach GROUP BY v),
       |csz AS (SELECT l, CAST(count(*) AS BIGINT) AS n FROM lbl GROUP BY l),
       |cl AS (SELECT em.vec_id, coalesce(lbl.l, em.vec_id) AS cluster_id,
       |  CAST(coalesce(csz.n, 1) AS BIGINT) AS cluster_size,
       |  coalesce(lbl.v = lbl.l, TRUE) AS keeper
       |FROM embeddings em LEFT JOIN lbl ON lbl.v = em.vec_id
       |  LEFT JOIN csz ON csz.l = lbl.l)""".stripMargin

  /** Exact cosine top-k of `queries` (q_id, qv) against `corpus`
    * (vec_id, v): the small query batch broadcasts, the corpus is
    * scanned once, candidates collapse map-side through the graft_topk
    * bounded heap. Public because it is the serving shape — a static
    * corpus probed by every new query batch or stream
    * ([[graft.streaming.StatefulOps.annSearch]]).
    */
  def searchTopK(corpus: DataFrame, queries: DataFrame,
                 k: Int): DataFrame =
    topkPerQuery(corpus.join(broadcast(queries), col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id").as("n_id"),
        cosine(col("qv"), col("v")).as("cos")), k)

  def defs: ListMap[String, Q] = ListMap(

    // ---- brute-force cosine top-k: queries broadcast against the corpus
    "q50_ann_brute" -> Q(
      (s, d) => {
        val e = vecs(s, d)
        searchTopK(e, e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("v").as("qv")), TopK)
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
              |sc AS (SELECT q_id, e.vec_id AS n_id, ${sqlCos("qv", "e.v")} AS cos
              |       FROM q JOIN e ON e.vec_id <> q.q_id)
              |SELECT q_id, n_id, CAST(rk AS INT) AS rk, round(cos, 4) AS cos FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rk FROM sc) WHERE rk <= $TopK""".stripMargin),
      headline = true),

    // ---- IVF: k-means-trained centroids (deterministic Lloyd), assign
    //      corpus to nearest centroid, probe top-2 per query. Training:
    //      seeds = first NumCentroids vectors, KMeansIters Lloyd rounds.
    //      Cluster means are computed in FIXED-POINT — floor(x·2^20) as
    //      BIGINT per dimension, summed exactly — because integer
    //      addition is order-free: the sum is map-side combinable at any
    //      parallelism AND bit-identical to the DuckDB oracle's, where a
    //      double summation would depend on partition order. One double
    //      division at the end rebuilds the centroid component.
    "q51_ann_ivf" -> Q(
      (s, d) => {
        val e = vecs(s, d)
        // train offline, ship the index, probe it — the probe/rerank
        // pipeline lives in [[ivfSearchTopK]] (shared with q132's dense
        // hybrid leg; all bounded-heap aggregates, no ranking window)
        val cents = trainCentroids(s, d)
        ivfSearchTopK(assignToCentroids(e, cents),
          e.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("v").as("qv")),
          cents, Probes, TopK)
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $NumCentroids),
              |${kmeansIterSql}
              |asg AS (SELECT vec_id, c_id, v FROM (
              |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn = 1),
              |probes AS (SELECT q_id, qv, c_id FROM (
              |  SELECT e.vec_id AS q_id, e.v AS qv, c.c_id, row_number() OVER (
              |    PARTITION BY e.vec_id ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c WHERE e.vec_id < $NumQueries) WHERE rn <= $Probes),
              |sc AS (SELECT p.q_id, a.vec_id AS n_id, ${sqlCos("p.qv", "a.v")} AS cos
              |       FROM probes p JOIN asg a ON a.c_id = p.c_id
              |       WHERE a.vec_id <> p.q_id)
              |SELECT q_id, n_id, CAST(rk AS INT) AS rk, round(cos, 4) AS cos FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rk FROM sc) WHERE rk <= $TopK""".stripMargin),
      headline = true,
      // fit = Lloyd training + corpus assignment (the shipped IVF index);
      // probe = one query batch against the warm index
      probe = Some((s, d) => {
        val e = vecs(s, d)
        val cents = trainCentroids(s, d)
        val assign = assignToCentroids(e, cents)
          .persistTracked
        assign.count()
        () => ivfSearchTopK(assign,
          e.filter(col("vec_id") < NumQueries)
            .select(col("vec_id").as("q_id"), col("v").as("qv")),
          cents, Probes, TopK)
      })),

    // ---- LSH ANN as SRP sketch + re-rank (Charikar sign-random-
    //      projection): each vector gets a SigBits-bit signature (sign of
    //      dot against SigBits pseudo-random hyperplanes derived from a
    //      Knuth multiplicative hash of (plane, dim) — no RNG, identical
    //      integer arithmetic in the oracle), queries rank the corpus by
    //      signature Hamming distance — a pass over 16-byte sketches, not
    //      512-byte vectors — keep the best HammingCandidates, and only
    //      those get the exact-cosine re-rank. Unlike bucket-exact LSH
    //      (whose recall collapses when neighbors sit at wide angles),
    //      Hamming ranking degrades smoothly: recall is pinned in
    //      AnnRecallSpec. The candidate pass broadcasts the query
    //      signatures and graft_topk collapses per-partition to ≤ C rows
    //      before the per-query shuffle.
    "q52_ann_lsh" -> Q(
      (s, d) => {
        val e = vecs(s, d)
        // per-row signature: no shuffle, no explode — SigBits × dim
        // multiply-adds inside one native projection (AnnRecallSpec pins
        // it against the interpreted-HOF reference)
        val sigs = e.withColumn("sg",
          call_function("graft_srpsig", col("v"), lit(SigBits)))
        val qsig = sigs.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("v").as("qv"), col("sg").as("qsg"))
        // Hamming pass: corpus carries only (id, signature) — vectors
        // pruned out of the scan — against the broadcast query sketches
        val hams = sigs.select(col("vec_id").as("n_id"), col("sg"))
          .join(broadcast(qsig.select(col("q_id"), col("qsg"))),
            col("n_id") =!= col("q_id"))
          .select(col("q_id"), col("n_id"),
            call_function("graft_hamming", col("qsg"), col("sg")).as("ham"))
        val cand = hams.groupBy(col("q_id"))
          .agg(call_function("graft_topk",
            (-col("ham")).cast("double"), col("n_id"), lit(HammingCandidates)).as("top"))
          .select(col("q_id"), explode(col("top.id")).as("n_id"))
        // exact re-rank: fetch vectors for the C×Q surviving candidates
        // via broadcast joins (candidate list is tiny by construction)
        topkPerQuery(e.select(col("vec_id").as("n_id"), col("v"))
          .join(broadcast(cand), Seq("n_id"))
          .join(broadcast(qsig.select(col("q_id"), col("qv"))), Seq("q_id"))
          .select(col("q_id"), col("n_id"),
            cosine(col("qv"), col("v")).as("cos")), TopK)
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |sig AS (SELECT vec_id, v, list_transform(range(0, $SigBits), p ->
              |    CASE WHEN list_reduce(
              |      list_transform(range(0, len(v)), i -> v[i+1] *
              |        ${planeSql("p * len(v) + i")}),
              |      (a, b) -> a + b) > 0 THEN 1 ELSE 0 END) AS sg
              |  FROM e),
              |q AS (SELECT vec_id AS q_id, v AS qv, sg AS qsg FROM sig
              |      WHERE vec_id < $NumQueries),
              |ham AS (SELECT q.q_id, s.vec_id AS n_id,
              |    list_sum(list_transform(q.qsg,
              |      (x, i) -> CASE WHEN x = s.sg[i] THEN 0 ELSE 1 END)) AS ham
              |  FROM q CROSS JOIN sig s WHERE s.vec_id <> q.q_id),
              |cand AS (SELECT q_id, n_id FROM (SELECT *, row_number() OVER (
              |    PARTITION BY q_id ORDER BY ham, n_id) AS rn FROM ham)
              |  WHERE rn <= $HammingCandidates),
              |sc AS (SELECT c.q_id, c.n_id, ${sqlCos("q.qv", "e.v")} AS cos
              |       FROM cand c JOIN q USING (q_id) JOIN e ON e.vec_id = c.n_id)
              |SELECT q_id, n_id, CAST(rk AS INT) AS rk, round(cos, 4) AS cos FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rk FROM sc) WHERE rk <= $TopK""".stripMargin),
      headline = true),

    // ---- embedding outliers: the OutlierK vectors FARTHEST (lowest
    //      cosine) from their own label's centroid — the mislabel /
    //      corrupt-embedding sweep a curated embedding corpus runs
    //      before training. Centroids are per-label means in the q51
    //      fixed-point form (floor(x·2^20) BIGINT sums — order-free, so
    //      identical at any parallelism and in the oracle); the #labels
    //      centroid rows ride a broadcast join, and the bottom-k is the
    //      graft_topk bounded heap on the NEGATED score (heap order
    //      (-cos DESC, id ASC) ≡ oracle order (cos ASC, vec_id ASC)) —
    //      partials collapse map-side, no ranking window shuffles the
    //      corpus. Double negation is sign-bit-exact, so the emitted cos
    //      is bit-identical to the direct value.
    "q112_embed_outlier" -> Q(
      (s, d) => {
        val e = Tables.spread(Tables(s, d, "embeddings"))
          .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
        val cents = fixedPointMeans(e, "label")
        // A corrupt (all-zero) vector makes cosine 0/0 — NaN in Spark's
        // IEEE division, NULL in DuckDB's (it NULLs division by zero).
        // Both are pinned to -1.0 (cosine's true minimum), so corrupt
        // vectors surface at RANK 1 in both engines instead of breaking
        // the bounded-heap admit test (NaN fails both > and ==) or
        // silently sorting last/NULLs-last. Spec: planted zero vector.
        val rawCos = cosine(col("v"), col("mv"))
        val sc = e.join(broadcast(cents), Seq("label"))
          .select(col("label"), col("vec_id"),
            when(rawCos.isNull || isnan(rawCos), lit(-1.0))
              .otherwise(rawCos).as("cos"))
        sc.groupBy(col("label"))
          .agg(call_function("graft_topk", -col("cos"), col("vec_id"),
            lit(OutlierK)).as("top"))
          .select(col("label"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("label"), col("t.id").as("vec_id"),
            (col("pos") + 1).cast("int").as("rk"),
            round(-col("t.score"), 4).as("cos"))
      },
      Some(s"""WITH e AS (SELECT vec_id, label,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |m AS (SELECT label, pos,
              |    CAST(sum(CAST(floor(x * $FixedPointScale.0) AS BIGINT)) AS DOUBLE)
              |      / $FixedPointScale.0 / CAST(count(*) AS DOUBLE) AS mx
              |  FROM (SELECT label, generate_subscripts(v, 1) - 1 AS pos,
              |          unnest(v) AS x FROM e)
              |  GROUP BY label, pos),
              |g AS (SELECT label, list(mx ORDER BY pos) AS cv FROM m GROUP BY label),
              |sc0 AS (SELECT e.label, e.vec_id, ${sqlCos("e.v", "g.cv")} AS rc
              |        FROM e JOIN g USING (label)),
              |sc AS (SELECT label, vec_id, CASE WHEN rc IS NULL OR isnan(rc)
              |    THEN CAST(-1.0 AS DOUBLE) ELSE rc END AS cos FROM sc0)
              |SELECT label, vec_id, CAST(rk AS INT) AS rk, round(cos, 4) AS cos FROM (
              |  SELECT *, row_number() OVER (PARTITION BY label
              |    ORDER BY cos ASC, vec_id) AS rk FROM sc) WHERE rk <= $OutlierK""".stripMargin)),

    // ---- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    //      dedup as k-means clustering + within-cluster cosine pruning —
    //      the scalable form of embedding dedup. q44 finds global
    //      near-dup PAIRS via LSH; this prunes cluster-locally, the
    //      published O(Σ|c|²) algorithm, reusing the q51 index verbatim:
    //      train deterministic centroids, assign every vector, then mark
    //      b a duplicate when some same-cluster member a with LOWER
    //      centroid-cosine (the paper's keep-policy — the member least
    //      typical of its cluster survives; ties by vec_id) has
    //      cos(a, b) ≥ SemDedupTau. Deliberately the PARALLEL relaxation
    //      of the sequential greedy sweep (b is marked even when its
    //      witness a is itself marked): one self-join round instead of a
    //      priority-ordered iteration — the standard trade, stated
    //      honestly; the per-cluster minimum-priority member is provably
    //      always kept (no lower witness exists — spec-pinned).
    //      100 TB shape: the pairwise stage is cluster-local — the
    //      assignment is shuffled ONCE on c_id and both self-join legs
    //      reuse that exchange (alias-only projections canonicalize
    //      equal, unlike q123's pruning-split consumers); Σ|c|² pairs
    //      with k ∝ corpus keeps |c| bounded (the paper's own cost
    //      contract; measured balance 51–72 members at fixture scale);
    //      centroids broadcast (k rows); no global pairwise anywhere.
    //      The final flag join re-reads the pruned (no-vector) rollup —
    //      in production the assignment is a persisted index artifact
    //      (the q51 pattern) and both stages read it for free.
    "q124_semdedup" -> Q(
      // batch arm persists the assignment exactly like the probe arm
      // below: semDedupFlags probes it three times (both self-join legs
      // + the final flag join), which pre-round-16 rebuilt the whole
      // cross-join assignment per leg (duplicate-subtree lint finding)
      (s, d) => semDedupFlags(semDedupAssign(s, d)
        .persistTracked),
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $NumCentroids),
              |${kmeansIterSql}
              |asg AS (SELECT vec_id, c_id, v FROM (
              |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn = 1),
              |wc AS (SELECT a.c_id, a.vec_id, a.v, ${sqlCos("a.v", "c.cv")} AS cosc
              |       FROM asg a JOIN c$KMeansIters c USING (c_id)),
              |dup AS (SELECT DISTINCT b.vec_id
              |        FROM wc a JOIN wc b ON a.c_id = b.c_id
              |          AND (a.cosc < b.cosc OR (a.cosc = b.cosc AND a.vec_id < b.vec_id))
              |        WHERE ${sqlCos("a.v", "b.v")} >= $SemDedupTau)
              |SELECT w.vec_id, w.c_id, round(w.cosc, 4) AS cosc,
              |  (d.vec_id IS NOT NULL) AS is_dup
              |FROM wc w LEFT JOIN dup d USING (vec_id)""".stripMargin),
      headline = true,
      // fit = training + the per-cluster assignment rollup (the persisted
      // index); probe = the cluster-local pairwise flagging over it
      probe = Some((s, d) => {
        val wc = semDedupAssign(s, d)
          .persistTracked
        wc.count()
        () => semDedupFlags(wc)
      })),

    // ---- kNN graph (the all-vectors form of q51): every vector's
    //      top-KnnK cosine neighbors, searched cluster-locally over the
    //      trained IVF index — the backbone artifact for graph-based
    //      diversity sampling, dedup clustering, and retrieval-quality
    //      audits, where brute all-pairs is n² and impossible at 100 TB.
    //      Every vector probes its top-KnnProbes centroids (broadcast
    //      k-row index, bounded heap); candidates = the probed clusters'
    //      members via ONE c_id equijoin (the Σ|c|²-shaped stage SemDeDup
    //      also pays — bounded by k ∝ corpus keeping |c| flat); the
    //      per-vector top-k collapses map-side through graft_topk before
    //      the per-query shuffle. The oracle replays the whole pipeline
    //      (training included), so the full edge set is hash-checked;
    //      AnnRecallSpec pins graph recall vs the brute n² edge set.
    "q134_knn_graph" -> Q(
      (s, d) => knnEdges(s, d),
      Some(knnOracleCte + "\nSELECT q_id, n_id, rk, cos FROM knn"),
      headline = true,
      // fit = training + assignment; probe = the all-vectors IVF search
      // over the warm index (the per-refresh cost of a standing graph)
      probe = Some((s, d) => {
        val e = vecs(s, d)
        val cents = trainCentroids(s, d)
        val assign = assignToCentroids(e, cents)
          .persistTracked
        assign.count()
        () => ivfSearchTopK(assign,
          e.select(col("vec_id").as("q_id"), col("v").as("qv")),
          cents, KnnProbes, KnnK)
      })),

    // ---- kNN-distance outlier score (the graph-native complement of
    //      q112's centroid distance): a vector whose own top-KnnK
    //      neighborhood is far (low mean cosine) is isolated — the
    //      classic kNN-outlier signal, catching points BETWEEN clusters
    //      that sit close to no one yet near their own centroid. The mean
    //      over the (deterministic, hash-checked) q134 edge set is exact:
    //      fixed-point floor(cos·2^20) BIGINT sums, one double division.
    //      The global bottom-OutlierK flag rides the graft_topk bounded
    //      heap on the NEGATED score — a single group whose partials
    //      collapse map-side to ≤ K rows per partition, so no global sort
    //      ever ranks the corpus; the K flagged ids broadcast back.
    //      100 TB shape: edges from the IVF probe (never n²), a
    //      vector-grain aggregate, and a K-row broadcast join.
    "q138_knn_outlier" -> Q(
      (s, d) => {
        // vector-grain scores persist ONCE: both the bottom-K heap and
        // the final flag join probe it, and each probe re-derived the
        // whole kNN edge pipeline before round 16 (lint finding)
        val scores = knnEdges(s, d).groupBy(col("q_id"))
          .agg(sum(expr(s"CAST(floor(cos * $FixedPointScale.0) AS BIGINT)")).as("fsum"),
            count(lit(1)).as("n"))
          .select(col("q_id").as("vec_id"),
            (col("fsum").cast("double") / lit(FixedPointScale.toDouble) /
              col("n").cast("double")).as("mean_cos"))
          .persistTracked
        val flagged = scores.agg(call_function("graft_topk", -col("mean_cos"),
            col("vec_id"), lit(OutlierK)).as("top"))
          .select(explode(col("top.id")).as("vec_id"), lit(true).as("is_outlier"))
        scores.join(broadcast(flagged), Seq("vec_id"), "left")
          .select(col("vec_id"), round(col("mean_cos"), 4).as("mean_cos"),
            coalesce(col("is_outlier"), lit(false)).as("is_outlier"))
      },
      Some(knnOracleCte + s""",
           |sco AS (SELECT q_id AS vec_id,
           |    CAST(sum(CAST(floor(cos * $FixedPointScale.0) AS BIGINT)) AS DOUBLE)
           |      / $FixedPointScale.0 / CAST(count(*) AS DOUBLE) AS mean_cos
           |  FROM knn GROUP BY q_id),
           |flg AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (
           |    ORDER BY mean_cos, vec_id) AS rn FROM sco) WHERE rn <= $OutlierK)
           |SELECT s.vec_id, round(s.mean_cos, 4) AS mean_cos,
           |  (f.vec_id IS NOT NULL) AS is_outlier
           |FROM sco s LEFT JOIN flg f USING (vec_id)""".stripMargin)),

    // ---- semantic dup CLUSTERS at corpus scale: connected components
    //      over the kNN graph's cos ≥ SemDedupTau edges — the transitive
    //      closure SemDeDup (q124) deliberately does not take (it marks
    //      pairwise within k-means cells, so an A≈B≈C chain spanning two
    //      cells never unifies). This is the artifact canonical-id
    //      assignment and dedup attribution want, built the 100 TB way:
    //      candidate edges from the IVF kNN graph (never n² — a vector
    //      can only link to its top-KnnK neighbors), then the q101
    //      closure kernel (min-label propagation escalating to star
    //      contraction, per-round lineage truncation). Every vector
    //      emits a row; singletons are their own keeper.
    "q139_semantic_clusters" -> Q(
      (s, d) => semanticClusters(s, d),
      Some(semanticClustersOracleCte +
        "\nSELECT vec_id, cluster_id, cluster_size, keeper FROM cl"),
      headline = true,
      // fit = the whole kNN graph (q134's persisted artifact); probe =
      // the min-label closure + singleton fold over the warm edge set
      probe = Some((s, d) => {
        val edges = knnEdges(s, d)
          .persistTracked
        edges.count()
        () => semanticClustersFrom(s, d, edges)
      })),

    // ---- cluster-capped diversity sample: keep at most
    //      ClusterSampleM members of every q139 semantic cluster,
    //      chosen by deterministic hash order (md5 of the id — q92's
    //      reproducible-sampling coin) — the graph-based diversity
    //      sampling the kNN-graph family exists for: redundancy capped
    //      per semantic neighborhood while singleton content always
    //      survives. The per-cluster pick is the graft_topk bounded
    //      heap (map-side collapse, no ranking window over the corpus);
    //      cluster ids come from the q139 closure (in production a
    //      persisted artifact; rebuilt inline here so the oracle can
    //      replay end to end).
    "q144_cluster_sample" -> Q(
      (s, d) => {
        val h = expr(
          "CAST(conv(substr(md5(CAST(vec_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
        val c = semanticClusters(s, d)
          .select(col("vec_id"), col("cluster_id"), col("cluster_size"))
          .withColumn("h", h)
        c.groupBy(col("cluster_id"))
          .agg(call_function("graft_topk", (-col("h")).cast("double"),
              col("vec_id"), lit(ClusterSampleM)).as("top"),
            first(col("cluster_size")).as("cluster_size"))
          .select(col("cluster_id"), col("cluster_size"),
            posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("cluster_id"), col("t.id").as("vec_id"),
            (col("pos") + 1).cast("int").as("rn"), col("cluster_size"))
      },
      Some(semanticClustersOracleCte + s"""
           |SELECT cluster_id, vec_id, CAST(rn AS INT) AS rn, cluster_size FROM (
           |  SELECT cluster_id, vec_id, cluster_size, row_number() OVER (
           |    PARTITION BY cluster_id ORDER BY
           |      CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8) AS BIGINT),
           |      vec_id) AS rn
           |  FROM cl) WHERE rn <= $ClusterSampleM""".stripMargin)),

    // ---- graph centrality over the kNN graph: PageRank power
    //      iteration ([[PageRankIters]] rounds, damping 0.85) — the
    //      "which documents does the corpus orbit" signal behind
    //      importance-weighted sampling and hub-aware dedup ordering
    //      (keep the hub, drop its satellites). EVERY number is
    //      fixed-point integer: r₀ = 2^20 div n, per-edge contribution
    //      r div outdeg, update base + (85·Σ) div 100 — BIGINT sums are
    //      order-free, integer division is identical cross-engine, so
    //      the whole iteration is bit-identical at any parallelism and
    //      in the oracle's unrolled replay (the kmeansIterSql
    //      precedent; float PageRank would be order-sensitive in the
    //      partial-sum tree). 100 TB shape: the edge set (IVF kNN —
    //      never n²) and out-degrees persist ONCE; each round is one
    //      id-equijoin + map-side-combinable sum at vector grain; a
    //      LEFT join folds in no-inbound nodes at the teleport base.
    "q148_graph_rank" -> Q(
      (s, d) => pageRank(s, d, PageRankIters),
      Some {
        // round CTEs are pc/pr-prefixed: the spliced kmeansIterSql inside
        // knnOracleCte already owns the bare c1/c2 names
        val rounds = (1 to PageRankIters).map { k =>
          val p = k - 1
          s"""pc$k AS (SELECT kn.n_id AS vec_id, CAST(sum(pr$p.r // d.deg) AS BIGINT) AS sm
             |  FROM knn kn JOIN pr$p ON pr$p.vec_id = kn.q_id
             |    JOIN deg d ON d.q_id = kn.q_id
             |  GROUP BY 1),
             |pr$k AS (SELECT em.vec_id, CAST(
             |    (15 * (1048576 // (SELECT n FROM n0))) // 100
             |    + (85 * coalesce(pc$k.sm, 0)) // 100 AS BIGINT) AS r
             |  FROM embeddings em LEFT JOIN pc$k USING (vec_id))""".stripMargin
        }.mkString(",\n")
        knnOracleCte + s""",
           |deg AS (SELECT q_id, CAST(count(*) AS BIGINT) AS deg FROM knn GROUP BY q_id),
           |n0 AS (SELECT CAST(greatest(count(*), 1) AS BIGINT) AS n FROM embeddings),
           |pr0 AS (SELECT vec_id,
           |    CAST(1048576 // (SELECT n FROM n0) AS BIGINT) AS r FROM embeddings),
           |$rounds
           |SELECT vec_id, r AS rank_fp,
           |  CAST(r AS DOUBLE) / 1048576.0 AS rank
           |FROM pr$PageRankIters""".stripMargin
      }),

    // ---- personalized PageRank (q148 with the teleport mass pinned to
    //      a seed set): rank = proximity to the seeds through the kNN
    //      graph — the seeded-expansion verb ("find more data like
    //      THESE curated examples") behind targeted corpus growth and
    //      seed-anchored dedup ordering. Same fixed-point integer
    //      iteration (bit-identical at any parallelism and in the
    //      oracle's unrolled replay); the only differences are r₀ and
    //      the per-round base, zero off-seed. 100 TB shape: identical
    //      to q148 — the |S|-row seed flag broadcasts, each round is
    //      one id-equijoin + map-side-combinable sum.
    "q165_personalized_pagerank" -> Q(
      (s, d) => pageRank(s, d, PageRankIters, seeds = Some(
        Tables(s, d, "embeddings").select(col("vec_id"))
          .filter(col("vec_id") < PprSeeds))),
      Some {
        val rounds = (1 to PageRankIters).map { k =>
          val p = k - 1
          s"""ppc$k AS (SELECT kn.n_id AS vec_id, CAST(sum(ppr$p.r // d.deg) AS BIGINT) AS sm
             |  FROM knn kn JOIN ppr$p ON ppr$p.vec_id = kn.q_id
             |    JOIN deg d ON d.q_id = kn.q_id
             |  GROUP BY 1),
             |ppr$k AS (SELECT em.vec_id, CAST(
             |    CASE WHEN em.vec_id < $PprSeeds
             |      THEN (15 * (1048576 // (SELECT n FROM ns))) // 100 ELSE 0 END
             |    + (85 * coalesce(ppc$k.sm, 0)) // 100 AS BIGINT) AS r
             |  FROM embeddings em LEFT JOIN ppc$k USING (vec_id))""".stripMargin
        }.mkString(",\n")
        knnOracleCte + s""",
           |deg AS (SELECT q_id, CAST(count(*) AS BIGINT) AS deg FROM knn GROUP BY q_id),
           |ns AS (SELECT CAST(greatest(count(*), 1) AS BIGINT) AS n
           |       FROM embeddings WHERE vec_id < $PprSeeds),
           |ppr0 AS (SELECT vec_id, CAST(CASE WHEN vec_id < $PprSeeds
           |    THEN 1048576 // (SELECT n FROM ns) ELSE 0 END AS BIGINT) AS r
           |  FROM embeddings),
           |$rounds
           |SELECT vec_id, r AS rank_fp,
           |  CAST(r AS DOUBLE) / 1048576.0 AS rank
           |FROM ppr$PageRankIters""".stripMargin
      }),

    // ---- batch-hard triplet mining (Hermans et al. 2017, arXiv:
    //      1703.07737): per anchor, its most-similar SAME-label neighbor
    //      (positive) and most-similar DIFFERENT-label neighbor (hard
    //      negative) — the training pairs an embedding fine-tune mines
    //      from its own corpus. Restricted to the q134 kNN graph by
    //      construction (global hardest-negative mining is n²;
    //      within-top-k is the standard scalable relaxation), and an
    //      anchor emits only when both exist in its neighborhood.
    //      Selection is a struct-max CONDITIONAL aggregate — max of
    //      (cos, -n_id) under each label predicate — so the per-anchor
    //      argmax collapses map-side; no ranking window touches the edge
    //      set. Labels arrive via two id-equijoins on the two-column
    //      (vec_id, label) projection (AQE broadcasts or co-partitions).
    "q140_contrastive_pairs" -> Q(
      (s, d) => {
        val lab = Tables(s, d, "embeddings").select(col("vec_id"), col("label"))
        val j = knnEdges(s, d)
          .join(lab.select(col("vec_id").as("q_id"), col("label").as("a_label")), "q_id")
          .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")), "n_id")
        // conditional argmax as graft_topk(_,_,1) over a null-masked
        // score (null inputs are skipped): the TypedImperativeAggregate
        // keeps the edge-set aggregate in ObjectHashAggregate where a
        // conditional max(struct) pair falls to SortAggregate — i.e. the
        // n·KnnK edge stream gets sorted per partition (the q51 class).
        // graft_topk's (score DESC, id ASC) order == (cos, -n_id) max.
        j.groupBy(col("q_id"), col("a_label"))
          .agg(
            call_function("graft_topk",
              when(col("n_label") === col("a_label"), col("cos")),
              col("n_id"), lit(1)).as("p"),
            call_function("graft_topk",
              when(col("n_label") =!= col("a_label"), col("cos")),
              col("n_id"), lit(1)).as("ng"))
          .filter(size(col("p")) > 0 && size(col("ng")) > 0)
          .select(col("q_id").as("anchor_id"), col("a_label").as("label"),
            col("p").getItem(0).getField("id").as("pos_id"),
            col("p").getItem(0).getField("score").as("pos_cos"),
            col("ng").getItem(0).getField("id").as("neg_id"),
            col("ng").getItem(0).getField("score").as("neg_cos"))
      },
      Some(knnOracleCte + """,
           |lab AS (SELECT vec_id, label FROM embeddings),
           |j AS (SELECT k.q_id, la.label AS a_label, k.n_id, k.cos,
           |        lb.label AS n_label
           |      FROM knn k JOIN lab la ON la.vec_id = k.q_id
           |        JOIN lab lb ON lb.vec_id = k.n_id),
           |pos AS (SELECT q_id, a_label, n_id, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos DESC, n_id) AS rn FROM j
           |  WHERE n_label = a_label) WHERE rn = 1),
           |neg AS (SELECT q_id, n_id, cos FROM (
           |  SELECT *, row_number() OVER (PARTITION BY q_id
           |    ORDER BY cos DESC, n_id) AS rn FROM j
           |  WHERE n_label <> a_label) WHERE rn = 1)
           |SELECT p.q_id AS anchor_id, p.a_label AS label,
           |  p.n_id AS pos_id, p.cos AS pos_cos,
           |  n.n_id AS neg_id, n.cos AS neg_cos
           |FROM pos p JOIN neg n USING (q_id)""".stripMargin)),

    // ---- cluster profile: corpus cartography over the q51 trained
    //      index — per cluster: size, dominant source (+ its share),
    //      mean centroid-cosine (cohesion), mean doc length. Means are
    //      EXACT: fixed-point floor(cos·2^20) BIGINT sums (order-free)
    //      and BIGINT char sums, one double division at the end. The
    //      dominant source is an argmin of (-cnt, source) — count DESC,
    //      source ASC — as a struct-min aggregate, not a ranking window
    //      over the corpus. 100 TB shape: assignment is the broadcast
    //      k-row index probe; everything after is (c_id, source)- then
    //      c_id-grain — output ∝ k, never corpus; the doc join is an
    //      id-equijoin AQE broadcasts or co-partitions.
    "q129_cluster_profile" -> Q(
      (s, d) => {
        val e = vecs(s, d)
        val cents = trainCentroids(s, d)
        val asg = assignToCentroids(e, cents)
          .join(broadcast(cents), Seq("c_id"))
          .select(col("c_id"), col("vec_id"),
            cosine(col("v"), col("cv")).as("cosc"))
        val docs = Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("source"), col("n_chars"))
        val j = asg.join(docs, asg("vec_id") === docs("doc_id"))
        // ONE corpus pass to (c_id, source) grain (≤ k × #sources rows),
        // persisted; stats and mode are both re-aggregates of it —
        // pre-round-16 each ran its own assignment+join pipeline over
        // the corpus (duplicate-subtree lint finding). Partial sums of
        // exact BIGINTs re-sum to identical totals.
        val grain = j.groupBy(col("c_id"), col("source"))
          .agg(count(lit(1)).as("cnt"),
            sum(expr(s"CAST(floor(cosc * $FixedPointScale.0) AS BIGINT)")).as("fcos"),
            sum(col("n_chars")).as("chars"))
          .persistTracked
        val stats = grain.groupBy(col("c_id"))
          .agg(sum(col("cnt")).as("n_docs"), sum(col("fcos")).as("fcos"),
            sum(col("chars")).as("chars"))
        val mode = grain
          .groupBy(col("c_id"))
          .agg(min(struct((-col("cnt")).as("neg"), col("source"))).as("m"))
          .select(col("c_id"), col("m.source").as("top_source"),
            (-col("m.neg")).as("top_cnt"))
        stats.join(mode, Seq("c_id"))
          .select(col("c_id"), col("n_docs"), col("top_source"),
            (col("top_cnt").cast("double") / col("n_docs").cast("double"))
              .as("top_share"),
            (col("fcos").cast("double") / lit(FixedPointScale.toDouble) /
              col("n_docs").cast("double")).as("mean_cosc"),
            (col("chars").cast("double") / col("n_docs").cast("double"))
              .as("mean_chars"))
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $NumCentroids),
              |${kmeansIterSql}
              |asg AS (SELECT vec_id, c_id, v FROM (
              |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn = 1),
              |wc AS (SELECT a.c_id, a.vec_id, ${sqlCos("a.v", "c.cv")} AS cosc
              |       FROM asg a JOIN c$KMeansIters c USING (c_id)),
              |j AS (SELECT w.c_id, w.vec_id, w.cosc, d.source, d.n_chars
              |      FROM wc w JOIN documents d ON d.doc_id = w.vec_id),
              |stats AS (SELECT c_id, CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(CAST(floor(cosc * $FixedPointScale.0) AS BIGINT)) AS BIGINT) AS fcos,
              |    CAST(sum(n_chars) AS BIGINT) AS chars
              |  FROM j GROUP BY c_id),
              |mode AS (SELECT c_id, source AS top_source, cnt AS top_cnt FROM (
              |  SELECT c_id, source, CAST(count(*) AS BIGINT) AS cnt,
              |    row_number() OVER (PARTITION BY c_id
              |      ORDER BY count(*) DESC, source) AS rn
              |  FROM j GROUP BY c_id, source) WHERE rn = 1)
              |SELECT s.c_id, s.n_docs, m.top_source,
              |  CAST(m.top_cnt AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS top_share,
              |  CAST(s.fcos AS DOUBLE) / $FixedPointScale.0
              |    / CAST(s.n_docs AS DOUBLE) AS mean_cosc,
              |  CAST(s.chars AS DOUBLE) / CAST(s.n_docs AS DOUBLE) AS mean_chars
              |FROM stats s JOIN mode m USING (c_id)""".stripMargin)),

    // ---- triangle census over the kNN graph: per-vertex triangle count
    //      and local clustering coefficient — the graph-cohesion read
    //      (a high-clustering region is a topical community; a hub with
    //      zero triangles is a hubness artifact worth auditing before
    //      q148 ranks on it). Edges are canonicalized a<b, so each
    //      triangle a<b<c is enumerated exactly once as
    //      (a,b)⋈(b,c)⋈(a,c); cc = 2·T / (deg·(deg−1)) is one double
    //      division of exact BIGINTs. 100 TB shape: degree ≤ 2·KnnK by
    //      construction, so the wedge join produces ≤ Σ deg(v)² ≈
    //      4k²·|V| rows — linear in vertices, never n²; all joins are
    //      id-equijoins over the slim (a, b) edge projection.
    "q152_graph_triangles" -> Q(
      (s, d) => {
        // the ≤ n·KnnK canonical edge set persists ONCE: triangleStats
        // probes it five ways (degrees + three wedge-join legs), and
        // each leg re-derived the IVF kNN pipeline before round 16
        val und = knnEdges(s, d).filter(col("q_id") =!= col("n_id"))
          .select(least(col("q_id"), col("n_id")).as("a"),
            greatest(col("q_id"), col("n_id")).as("b"))
          .distinct()
          .persistTracked
        triangleStats(und)
      },
      Some(knnOracleCte + """,
           |und AS (SELECT least(q_id, n_id) AS a, greatest(q_id, n_id) AS b
           |        FROM knn WHERE q_id <> n_id GROUP BY 1, 2),
           |degs AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
           |    SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY 1),
           |tris AS (SELECT e1.a, e1.b, e2.b AS c FROM und e1
           |  JOIN und e2 ON e2.a = e1.b
           |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
           |tv AS (SELECT v, CAST(count(*) AS BIGINT) AS n_tri FROM (
           |    SELECT a AS v FROM tris UNION ALL SELECT b AS v FROM tris
           |    UNION ALL SELECT c AS v FROM tris) GROUP BY 1)
           |SELECT dg.v AS vec_id, dg.deg,
           |  CAST(coalesce(t.n_tri, 0) AS BIGINT) AS n_tri,
           |  CASE WHEN dg.deg < 2 THEN CAST(0.0 AS DOUBLE) ELSE
           |    CAST(coalesce(t.n_tri, 0) * 2 AS DOUBLE)
           |      / CAST(dg.deg * (dg.deg - 1) AS DOUBLE) END AS clustering
           |FROM degs dg LEFT JOIN tv t USING (v)""".stripMargin)),

    // ---- second-order embedding statistics: the exact Gram matrix
    //      Σ v·vᵀ over fixed-point-quantized vectors — the fit artifact
    //      behind PCA / whitening / dominant-direction removal
    //      (standard embedding postprocessing before semantic dedup or
    //      retrieval). Quantization is the repo's power-of-two
    //      fixed-point (floor(x·2¹⁶) BIGINT), so every product and sum
    //      is exact and the d(d+1)/2 upper-triangle entries are
    //      bit-identical regardless of row order — which is what makes
    //      a Gram matrix ORACLE-checkable at all (float accumulation
    //      would be partitioning-dependent). 100 TB: the native
    //      graft_gram TypedImperativeAggregate keeps ONE 2080-long
    //      buffer per partition (map-side merged, MLlib's
    //      computeGramianMatrix shape) instead of exploding n·d²/2
    //      product rows through the shuffle (GramSpec pins it against
    //      the declarative explode form).
    "q200_embed_gram" -> Q(
      (s, d) => {
        val q = Tables.spread(Tables(s, d, "embeddings")).select(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0D) AS BIGINT))")
          .as("v"))
        val tri = gramTriAgg(q)
        // (i, j) recovered positionally: the broadcast index map is the
        // SAME row-major flatten the kernel writes, so pos == tri index
        val ij = s.range(1).select(posexplode(expr(
          "flatten(transform(sequence(0, 63), " +
            "i -> transform(sequence(i, 63), j -> struct(i, j))))"))
          .as(Seq("idx", "ij")))
          .select(col("idx"), col("ij.i").as("i"), col("ij.j").as("j"))
        tri.select(posexplode(col("g")).as(Seq("idx", "gram")))
          .join(broadcast(ij), "idx")
          .select(col("i"), col("j"), col("gram"))
      },
      Some("""WITH q AS (SELECT list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 65536.0) AS BIGINT)) AS v
             |  FROM embeddings)
             |SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             |  CAST(sum(v[CAST(i AS INT) + 1] * v[CAST(j AS INT) + 1]) AS BIGINT)
             |    AS gram
             |FROM q, generate_series(0, 63) t1(i), generate_series(0, 63) t2(j)
             |WHERE j >= i
             |GROUP BY 1, 2""".stripMargin)),

    // ---- feature correlation matrix: exact per-dimension-pair Pearson
    //      correlation over the 2^8-quantized embedding dims — the EDA
    //      audit that finds redundant/degenerate embedding coordinates
    //      before they poison cosine metrics (two perfectly correlated
    //      dims double-count their direction in every q50-q52 distance).
    //      TWO bounded aggregates over the same scan compute the
    //      d(d+1)/2 product sums (graft_gram) and the d per-dim sums;
    //      covariance numerators n·Σxy − Σx·Σy are exact BIGINTs —
    //      sound to n ≈ 1.2·10⁷ rows at 2^8 scale (n·Σxy ≤ n²·2^16 and
    //      n²·2^16 < 2^63 ⟺ n < 2^23.5; widen the numerator to
    //      DECIMAL(38) past that); correlation is the
    //      shared ÷/×/sqrt CorrDerived template, bit-stable both
    //      engines. Variance-zero dims yield NULL via the guard, not a
    //      NaN. 100 TB: the whole job is the one map-side-merged gram
    //      pass — output is d(d+1)/2 rows, never data-sized.
    "q214_feature_corr" -> Q(
      (s, d) => {
        val dG = GramDim
        // the quantized-vector projection persists ONCE: the Gram kernel
        // and the (n, per-dim sums) frame are two global aggregates over
        // the same rows, each re-scanning embeddings before round 16
        // (widened duplicate-aggregate lint finding)
        val q = Tables.spread(Tables(s, d, "embeddings")).select(expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 256.0D) AS BIGINT))")
          .as("v"))
          .persistTracked
        val agg = gramTriAgg(q).crossJoin(broadcast(
          q.agg(count(lit(1)).as("n"),
            expr("aggregate(collect_list(v), CAST(array() AS ARRAY<BIGINT>), " +
              "(acc, x) -> CASE WHEN size(acc) = 0 THEN x " +
              "ELSE zip_with(acc, x, (a, b) -> a + b) END)").as("sums"))))
        val ij = s.range(1).select(posexplode(expr(
          s"flatten(transform(sequence(0, ${dG - 1}), " +
            s"i -> transform(sequence(i, ${dG - 1}), j -> struct(i, j))))"))
          .as(Seq("idx", "ij")))
          .select(col("idx"), col("ij.i").as("i"), col("ij.j").as("j"))
        // row-major upper-triangle diagonal position of dim k (1-based
        // for element_at): rows 0..k-1 hold (d−r) entries each, so the
        // (k,k) entry sits at k·d − k(k−1)/2 + 1
        def diag(k: String) =
          s"element_at(g, CAST($k * $dG - ($k * ($k - 1)) DIV 2 + 1 AS INT))"
        agg.select(posexplode(col("g")).as(Seq("idx", "sxy")),
            col("g"), col("n"), col("sums"))
          .join(broadcast(ij), "idx")
          .selectExpr("i", "j", "n", "sxy",
            "sums[i] AS sx", "sums[j] AS sy",
            s"${diag("i")} AS sxx", s"${diag("j")} AS syy")
          .withColumn("cov_n2", col("n") * col("sxy") - col("sx") * col("sy"))
          .selectExpr("i", "j", "n", "sxy", "sx", "sy", "cov_n2", CorrDerived)
      },
      Some(s"""WITH q AS (SELECT list_transform(embedding,
             |    x -> CAST(floor(CAST(x AS DOUBLE) * 256.0) AS BIGINT)) AS v
             |  FROM embeddings),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM q),
             |pr AS MATERIALIZED (SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
             |    CAST(sum(v[CAST(i AS INT) + 1] * v[CAST(j AS INT) + 1]) AS BIGINT)
             |      AS sxy
             |  FROM q, generate_series(0, ${GramDim - 1}) t1(i),
             |    generate_series(0, ${GramDim - 1}) t2(j)
             |  WHERE j >= i GROUP BY 1, 2),
             |dimsum AS (SELECT CAST(i AS INT) AS dd,
             |    CAST(sum(v[CAST(i AS INT) + 1]) AS BIGINT) AS s
             |  FROM q, generate_series(0, ${GramDim - 1}) t(i) GROUP BY 1),
             |base AS (SELECT pr.i, pr.j, n, pr.sxy, a.s AS sx, b.s AS sy,
             |    da.sxy AS sxx, db.sxy AS syy
             |  FROM pr
             |  JOIN dimsum a ON a.dd = pr.i JOIN dimsum b ON b.dd = pr.j
             |  JOIN pr da ON da.i = pr.i AND da.j = pr.i
             |  JOIN pr db ON db.i = pr.j AND db.j = pr.j
             |  CROSS JOIN tot)
             |SELECT i, j, n, sxy, sx, sy,
             |  n * sxy - sx * sy AS cov_n2,
             |  $CorrDerived
             |FROM base""".stripMargin)),

    // ---- PCA dominant direction by exact power iteration, plus the
    //      per-vector projection — the postprocessing q200's Gram
    //      matrix exists FOR: all-but-the-top-component removal
    //      (Arora et al.'s common-direction trick) and PCA whitening
    //      both start from "find the top eigenvector". Every step is
    //      exact integer arithmetic so the oracle replays it verbatim:
    //      vectors quantized at 2^8 (|x| < 1 ⇒ gram entries ≤ n·2^16).
    //      Overflow bound, worst case: the mat-vec accumulator is ≤
    //      64·(n·2^16)·2^21 = n·2^43 (renorm keeps |v| ≤ 2^21), so the
    //      iteration is Long-sound only to n ≈ 2^20 ≈ 10^6 rows at
    //      |x| ≤ 1 — real embeddings are ~unit-norm (per-coord rms
    //      ~1/√64) which buys ~2^6 more, but the CONTRACT bound is
    //      2^20 without mitigation. The mitigation is IMPLEMENTED
    //      below (round-13 verdict item 4): the dominant eigenvector
    //      is invariant under G/2^k, so the collected triangle is
    //      divided once by 2^(bitlen(maxAbs)−35) (truncating, JVM `/`
    //      ≡ DuckDB `//`) before iterating — the accumulator then
    //      stays ≤ 2^(35+6+21) = 2^62 at ANY n; the k0 CTE replays
    //      the same rescale in the oracle, and GramSpec proves with
    //      planted large-magnitude vectors that the rescale engages
    //      and both engines still agree. The distributed gram pass
    //      itself is sound to n ≈ 2^47 rows.
    //      v₀ = 1⃗·2^20, PowerIters fixed
    //      multiply-renormalize rounds where the renormalization is a
    //      TRUNCATING division by a power of two chosen from the max
    //      magnitude's bit length (JVM `/` ≡ DuckDB `//`, both
    //      round-toward-zero — measured, NOT floor: DuckDB -7//2 = -3;
    //      and never >>, whose negative-operand shift is floor and
    //      would diverge). The fit is driver-side over the COLLECTED
    //      2080-long triangle (a bounded model artifact, the q51
    //      centroid precedent — the distributed work is the one
    //      graft_gram pass); serving is a zero-shuffle scan-stage
    //      integer dot against the broadcast direction literal.
    //      Convergence is PSD-guaranteed up to eigengap; the CONTRACT
    //      is determinism, which is what the oracle checks.
    "q212_dominant_direction" -> Q(
      (s, d) => {
        val q = quantizedEmbeddings(s, d)
        val v = fitDominantDirection(q)
        val vLit = v.mkString("array(", "L, ", "L)")
        q.select(col("vec_id"), expr(
          s"aggregate(zip_with(v, $vLit, (a, b) -> a * b), 0L, (acc, x) -> acc + x)")
          .as("proj"))
      },
      Some {
        s"""WITH $DominantDirectionCtes
           |SELECT q.vec_id,
           |  CAST(sum(q.v[CAST(f.idx AS INT) + 1] * f.val) AS BIGINT) AS proj
           |FROM q CROSS JOIN v$PowerIters f
           |GROUP BY 1""".stripMargin
      }),

    // ---- dominant-direction removal residuals — q212's sequel (the
    //      round-12 task): per-vector energy left AFTER projecting out
    //      v₁, i.e. what the Arora common-direction subtraction
    //      actually removes. Exact integer moments per vector: norm2 =
    //      Σx² and proj = x·v (both BIGINT; vv = Σv² ≤ 64·4^21 = 2^48
    //      is a broadcast scalar), then resid2 = norm2 − (proj/vv)·proj
    //      as ONE fixed IEEE op-DAG shared by both engines
    //      (ResidDerived — norm2·vv and proj² would overflow 2^63 in
    //      integers, so the division happens FIRST, in double; the DAG
    //      is identical text, hence bit-stable) and resid_norm =
    //      sqrt(greatest(resid2, 0)) guards the ulp-negative case of a
    //      perfectly-parallel vector. 100 TB: the fit is q212's
    //      (driver-side over the collected triangle); scoring is a
    //      zero-shuffle scan-stage pair of integer dots against the
    //      broadcast direction literal.
    "q225_residual_norms" -> Q(
      (s, d) => {
        val q = quantizedEmbeddings(s, d)
        val v = fitDominantDirection(q)
        val vv = v.foldLeft(0L)((acc, x) => acc + x * x)
        val vLit = v.mkString("array(", "L, ", "L)")
        q.select(col("vec_id"),
            expr("aggregate(zip_with(v, v, (a, b) -> a * b), 0L, " +
              "(acc, x) -> acc + x)").as("norm2"),
            expr(s"aggregate(zip_with(v, $vLit, (a, b) -> a * b), 0L, " +
              "(acc, x) -> acc + x)").as("proj"),
            lit(vv).as("vv"))
          .selectExpr(Seq("vec_id", "norm2", "proj", "vv") ++ ResidDerived: _*)
      },
      Some {
        s"""WITH $DominantDirectionCtes,
           |mom AS (SELECT q.vec_id,
           |    CAST(sum(q.v[CAST(f.idx AS INT) + 1]
           |           * q.v[CAST(f.idx AS INT) + 1]) AS BIGINT) AS norm2,
           |    CAST(sum(q.v[CAST(f.idx AS INT) + 1] * f.val) AS BIGINT) AS proj
           |  FROM q CROSS JOIN v$PowerIters f
           |  GROUP BY 1),
           |vvt AS (SELECT CAST(sum(val * val) AS BIGINT) AS vv
           |  FROM v$PowerIters)
           |SELECT vec_id, norm2, proj, vv,
           |  ${ResidDerived.mkString(",\n           |  ")}
           |FROM mom CROSS JOIN vvt""".stripMargin
      }),

    // ---- ANN RANKING FIDELITY: truncated rank-biased overlap between
    //      the brute-force cosine top-k (q50, the ground truth) and the
    //      IVF-probed top-k (q51, the serving path) — the rank-aware
    //      complement to AnnRecallSpec's set-recall floors: recall says
    //      the right NEIGHBORS survive probing, RBO says they survive
    //      in the right ORDER (a rank-1 neighbor demoted to rank 5
    //      passes recall but drops rbo1920 from 1860 to 1498 — the
    //      sf0.001 fixture shows exactly that). Weights are
    //      [[TextAnalysis.RboSuffix1920]] (p = ½, k = TopK = 5); both
    //      rankings exclude self identically. Observed: disturbed
    //      rankings at sf0.001/0.01, PERFECT 1860 across all queries
    //      at sf0.1 — probing 2/8 centroids is rank-exact there, the
    //      finding this entry exists to report. 100 TB: both legs are
    //      the audited q50/q51 plans (bounded heaps, broadcast
    //      queries); everything past them is ≤ Q×k rows.
    "q242_ann_rank_fidelity" -> Q(
      (s, d) => {
        import s.implicits._
        val e = vecs(s, d)
        val queries = e.filter(col("vec_id") < NumQueries)
          .select(col("vec_id").as("q_id"), col("v").as("qv"))
        val cents = trainCentroids(s, d)
        val ivf = ivfSearchTopK(assignToCentroids(e, cents),
          queries, cents, Probes, TopK)
        val brute = searchTopK(e, queries, TopK)
        val ov = brute.select(col("q_id"), col("n_id"), col("rk").as("rb"))
          .join(ivf.select(col("q_id"), col("n_id"), col("rk").as("ri")),
            Seq("q_id", "n_id"))
          .select(col("q_id"), greatest(col("rb"), col("ri")).as("m"))
          .join(broadcast(TextAnalysis.RboSuffix1920.toDF("m", "wt")),
            Seq("m"))
        e.filter(col("vec_id") < NumQueries).select(col("vec_id").as("q_id"))
          .join(ov, Seq("q_id"), "left_outer")
          .groupBy(col("q_id"))
          .agg(count(col("m")).as("n_overlap"),
            coalesce(sum(col("wt")), lit(0L)).as("rbo1920"))
          .selectExpr("q_id", "n_overlap", "rbo1920",
            "CAST(rbo1920 AS DOUBLE) / CAST(1920 AS DOUBLE) AS rbo")
      },
      Some(s"""WITH e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < $NumCentroids),
              |${kmeansIterSql}
              |asg AS (SELECT vec_id, c_id, v FROM (
              |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c) WHERE rn = 1),
              |probes AS (SELECT q_id, qv, c_id FROM (
              |  SELECT e.vec_id AS q_id, e.v AS qv, c.c_id, row_number() OVER (
              |    PARTITION BY e.vec_id ORDER BY ${sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c$KMeansIters c WHERE e.vec_id < $NumQueries) WHERE rn <= $Probes),
              |sc AS (SELECT p.q_id, a.vec_id AS n_id, ${sqlCos("p.qv", "a.v")} AS cos
              |       FROM probes p JOIN asg a ON a.c_id = p.c_id
              |       WHERE a.vec_id <> p.q_id),
              |ivfr AS (SELECT q_id, n_id, rk FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rk FROM sc) WHERE rk <= $TopK),
              |bsc AS (SELECT q.vec_id AS q_id, e2.vec_id AS n_id,
              |    ${sqlCos("q.v", "e2.v")} AS cos
              |  FROM e q JOIN e e2 ON e2.vec_id <> q.vec_id
              |  WHERE q.vec_id < $NumQueries),
              |bruter AS (SELECT q_id, n_id, rk FROM (
              |  SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY cos DESC, n_id) AS rk FROM bsc) WHERE rk <= $TopK),
              |w(m, wt) AS (VALUES ${TextAnalysis.RboSuffix1920
                .map { case (m, wt) => s"($m, $wt)" }.mkString(", ")}),
              |ov AS (SELECT b.q_id, greatest(b.rk, i.rk) AS m
              |  FROM bruter b JOIN ivfr i ON i.q_id = b.q_id
              |    AND i.n_id = b.n_id),
              |qs AS (SELECT vec_id AS q_id FROM e WHERE vec_id < $NumQueries)
              |SELECT qs.q_id, CAST(count(o.m) AS BIGINT) AS n_overlap,
              |  CAST(coalesce(sum(w.wt), 0) AS BIGINT) AS rbo1920,
              |  CAST(coalesce(sum(w.wt), 0) AS DOUBLE) / CAST(1920 AS DOUBLE)
              |    AS rbo
              |FROM qs LEFT JOIN ov o ON o.q_id = qs.q_id
              |LEFT JOIN w ON w.m = o.m
              |GROUP BY 1""".stripMargin))
  )

  /** q212/q225's shared oracle prologue: quantized embeddings, the
    * exact Gram triangle, the k0 rescale (entry magnitude capped at
    * 2^35), and the PowerIters unrolled multiply-renormalize chain.
    * Every iteration CTE MATERIALIZED: DuckDB inlines CTEs per
    * reference, so an unrolled chain is exponential without it (the
    * q130 BPE-oracle lesson, NOTES.md round 12).
    */
  private lazy val DominantDirectionCtes: String = {
    val iters = (1 to PowerIters).map { t =>
      s"""u$t AS MATERIALIZED (SELECT g.i AS idx, CAST(sum(g.g * v.val) AS BIGINT) AS u
         |  FROM gm g JOIN v${t - 1} v ON g.j = v.idx GROUP BY 1),
         |k$t AS MATERIALIZED (SELECT greatest(CAST(length(bin(max(abs(u)))) AS BIGINT) - 21, 0) AS k FROM u$t),
         |v$t AS MATERIALIZED (SELECT idx, u // CAST(pow(2, (SELECT k FROM k$t)) AS BIGINT) AS val FROM u$t)"""
        .stripMargin
    }.mkString(",\n")
    s"""q AS (SELECT vec_id, list_transform(embedding,
       |    x -> CAST(floor(CAST(x AS DOUBLE) * 256.0) AS BIGINT)) AS v
       |  FROM embeddings),
       |gm0 AS MATERIALIZED (SELECT CAST(i AS BIGINT) AS i, CAST(j AS BIGINT) AS j,
       |    CAST(sum(v[CAST(i AS INT) + 1] * v[CAST(j AS INT) + 1]) AS BIGINT) AS g
       |  FROM q, generate_series(0, ${GramDim - 1}) t1(i),
       |    generate_series(0, ${GramDim - 1}) t2(j)
       |  GROUP BY 1, 2),
       |k0 AS MATERIALIZED (SELECT greatest(CAST(length(bin(max(abs(g)))) AS BIGINT) - 35, 0) AS k
       |  FROM gm0),
       |gm AS MATERIALIZED (SELECT i, j,
       |    g // CAST(pow(2, (SELECT k FROM k0)) AS BIGINT) AS g FROM gm0),
       |v0 AS (SELECT CAST(i AS BIGINT) AS idx, CAST(1048576 AS BIGINT) AS val
       |  FROM generate_series(0, ${GramDim - 1}) t(i)),
       |$iters""".stripMargin
  }

  /** q225's derived pair: residual energy and norm after removing the
    * v₁ component — one shared IEEE op-DAG (division BEFORE the
    * products: norm2·vv and proj² overflow BIGINT, (proj/vv)·proj in
    * double does not and is the same correctly-rounded sequence in
    * both engines). greatest(·, 0) absorbs the ulp-negative residual
    * of an exactly-parallel vector before sqrt.
    */
  private val ResidDerived: Seq[String] = {
    val resid2 = "CAST(norm2 AS DOUBLE) - (CAST(proj AS DOUBLE) " +
      "/ CAST(vv AS DOUBLE)) * CAST(proj AS DOUBLE)"
    Seq(
      s"CASE WHEN vv > 0 THEN $resid2 END AS resid2",
      s"CASE WHEN vv > 0 THEN sqrt(greatest($resid2, CAST(0 AS DOUBLE))) END AS resid_norm")
  }

  /** Embeddings quantized at 2^8 into exact integer vectors — the
    * shared front end of q212/q225 (and the contract the oracle's `q`
    * CTE replays verbatim).
    */
  private def quantizedEmbeddings(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "embeddings")).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 256.0D) AS BIGINT))")
        .as("v"))

  /** q212/q225's shared fit: collect the exact Gram triangle, rescale
    * (cap entry magnitude at 2^35 so the mat-vec accumulator ≤
    * 64·2^35·2^21 = 2^62 is Long-sound at any n; truncating division,
    * JVM `/` ≡ DuckDB `//`, k0 = 0 at fixture scale), then PowerIters
    * multiply-renormalize rounds in exact integers.
    */
  private def fitDominantDirection(q: DataFrame): Array[Long] = {
    val tri = gramTriAgg(q.select(col("v")))
      .collect()(0).getSeq[Long](0)
    val maxAbsG = tri.foldLeft(0L)((m, x) => math.max(m, math.abs(x)))
    val k0 = math.max(
      (64 - java.lang.Long.numberOfLeadingZeros(maxAbsG)) - 35, 0)
    val dim = GramDim
    val g = Array.ofDim[Long](dim, dim)
    var p = 0
    for (i <- 0 until dim; j <- i until dim) {
      val e = tri(p) / (1L << k0)
      g(i)(j) = e; g(j)(i) = e; p += 1
    }
    var v = Array.fill(dim)(1L << 20)
    for (_ <- 1 to PowerIters) {
      val u = Array.tabulate(dim) { i =>
        var acc = 0L; var j = 0
        while (j < dim) { acc += g(i)(j) * v(j); j += 1 }; acc
      }
      val maxAbs = u.map(math.abs).max
      val bitlen = 64 - java.lang.Long.numberOfLeadingZeros(maxAbs)
      val k = math.max(bitlen - 21, 0)
      v = u.map(x => x / (1L << k))
    }
    v
  }

  /** q214's derived statistic: Pearson correlation of a dim pair from
    * the exact integer sums (n, sxy, sx, sy, sxx, syy) — a single SQL
    * expression string rendered into BOTH engines (the q204 OlsDerived
    * discipline), so the ÷/×/sqrt IEEE op DAG cannot drift. The
    * variance-positivity guard turns a constant dimension into NULL
    * rather than a 0/0 NaN.
    */
  private val CorrDerived: String = {
    val (n, sxy, sx, sy, sxx, syy) =
      ("CAST(n AS DOUBLE)", "CAST(sxy AS DOUBLE)", "CAST(sx AS DOUBLE)",
        "CAST(sy AS DOUBLE)", "CAST(sxx AS DOUBLE)", "CAST(syy AS DOUBLE)")
    val vx = s"($n * $sxx - $sx * $sx)"
    val vy = s"($n * $syy - $sy * $sy)"
    s"CASE WHEN $vx > 0.0 AND $vy > 0.0 THEN ($n * $sxy - $sx * $sy) / (sqrt($vx) * sqrt($vy)) END AS corr"
  }

  /** q200/q212's exact upper-triangle Gram aggregate over an ARRAY<BIGINT>
    * column `v`: the native graft_gram TypedImperativeAggregate.
    */
  private def gramTriAgg(q: DataFrame): DataFrame =
    q.agg(call_function("graft_gram", col("v")).as("g"))

  /** q152's kernel over any canonical undirected edge set (a < b per
    * row, deduplicated): per-vertex degree, triangle count, and local
    * clustering coefficient. Exposed separately so specs can feed
    * planted graphs (a triangle scores 1.0; a square scores 0.0).
    */
  def triangleStats(und: DataFrame): DataFrame = {
    val ab = und.select(col("a"), col("b"))
    val deg = ab.select(col("a").as("v"))
      .unionAll(ab.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val bc = ab.select(col("a").as("b"), col("b").as("c"))
    val ac = ab.select(col("a").as("a2"), col("b").as("c2"))
    val tri = ab.join(bc, "b")
      .join(ac, col("a") === col("a2") && col("c") === col("c2"))
      .select(col("a"), col("b"), col("c"))
    val tv = tri.select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_tri"))
    deg.join(tv, Seq("v"), "left")
      .select(col("v").as("vec_id"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") < 2, lit(0.0)).otherwise(
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double")).as("clustering"))
  }
}
