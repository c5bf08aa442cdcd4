package graft.queries

import graft.Caches.TrackedPersist
import graft.Tables
import graft.functions.ParityFns._
import graft.functions.VectorFns
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap
import scala.util.Try

/** Deduplication family over the documents/embeddings tables: exact
  * (hash-groupBy), MinHash+LSH band-bucketing, SimHash, exact n-gram
  * Jaccard via inverted index, and embedding-cosine near-dup. Every
  * stage is deterministic (md5-derived integer hashing, fixed permutation
  * constants) so each query has a full DuckDB oracle replicating the
  * algorithm, not just the output shape.
  */
object Dedup {

  /** MinHash permutation constants (a, b) for h' = (a*h + b) mod P, with
    * h already reduced mod P = 2^31-1 so products stay under 2^62.
    * Generated from fixed multipliers; identical literals are
    * interpolated into the DuckDB oracle, so both engines use the same
    * permutations by construction.
    */
  val NumHashes: Int = graft.functions.TextKernels.NumHashes
  val BandRows = 4                       // 8 bands × 4 rows
  val NumBands: Int = NumHashes / BandRows
  /** Canonical permutation constants — defined next to the native kernel
    * so the codegen path and the DuckDB oracle share them.
    */
  val seeds: IndexedSeq[(Long, Long)] = graft.functions.TextKernels.seeds

  /** q44 embedding-LSH parameters: hyperplanes are the corpus vectors
    * [EmbPlaneBase, EmbPlaneBase + EmbNumPlanes) — deterministic, so the
    * DuckDB oracle reproduces the buckets bit-for-bit. EmbBandBits sign
    * bits per band ⇒ 2^EmbBandBits buckets per band; scale it with
    * corpus size to keep buckets bounded.
    */
  val EmbPlaneBase: Int = Similarity.NumCentroids // shared plane region with q52
  val EmbBandBits = 4
  val EmbBands = 12
  val EmbNumPlanes: Int = EmbBands * EmbBandBits

  /** Bucket truncation: the `cap` smallest elements of the group,
    * ascending, via the bounded-heap aggregate (buffers never exceed
    * `cap` — a mega-bucket costs what a full bucket costs, the 100 TB
    * guard).
    */
  private def collectCapped(e: Column, cap: Int): Column =
    call_function("graft_collect_capped", e, lit(cap))

  /** Engaged-cap telemetry: the capped collectors silently truncate when
    * a bucket overflows, which a production run at 100 TB needs to SEE
    * rather than infer. Call sites collect cap+1 members — the one extra
    * element is the overflow witness — this observes how many groups
    * engaged the cap (named metric, readable per action via
    * `QueryExecution.observedMetrics` or a `QueryExecutionListener`),
    * then slices back to the `cap` members the semantics require (the
    * collector keeps the cap+1 SMALLEST ascending, so the first `cap`
    * are exactly what collecting at `cap` yields). `truncate = false`
    * for q43's drop-don't-truncate posting lists, whose oversize lists
    * must stay oversize for the df filter to drop them.
    */
  /** cap+1 without overflow: an uncapped (Int.MaxValue) site collects
    * uncapped — there is nothing to witness.
    */
  private def witness(cap: Int): Int =
    if (cap == Int.MaxValue) cap else cap + 1

  private def observeCap(df: DataFrame, metric: String, listCol: String,
                         cap: Int, truncate: Boolean = true): DataFrame = {
    if (cap >= Int.MaxValue) return df // uncapped: no witness collected
    val o = df.observe(metric,
      sum(when(size(col(listCol)) > cap, 1L).otherwise(0L)).as("buckets_capped"),
      count(lit(1)).as("buckets"))
    if (truncate) o.withColumn(listCol, slice(col(listCol), 1, cap)) else o
  }

  /** The exact-dup collapse pre-pass shared by q41/q43 (standard for a
    * production near-dup pipeline): one row per DISTINCT text with its
    * sorted member doc_ids and representative (min id). The quadratic
    * near-dup cores then run once per distinct text; [[expandPairs]]
    * restores member-level pairs — identical text ⇒ identical shingle
    * set ⇒ identical score, so collapse+expand is result-identical to
    * the direct all-docs formulation while a k×-duplicated corpus costs
    * O(d² + output) instead of O((kd)²).
    */
  private def textGroups(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "documents"))
      .groupBy(sha2(col("text"), 256))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"),
        first(col("text")).as("text"),
        // shingle-eligibility decided AT GROUP TIME so expansion-side
        // consumers never reference text — Catalyst then prunes the
        // (large) text column out of the membership re-evaluations,
        // whose shuffles carry only (key, ids, eligible)
        first(size(split(col("text"), " ")) >= 3).as("eligible"))
      .select(col("ids").getItem(0).as("doc_id"), col("ids"), col("text"),
        col("eligible"))
      // materialized ONCE (round-18 verdict #5): every consumer
      // (q41/q43/q45/q143/q235 and the closure chains) reads this frame
      // from TWO legs — the shingle/fingerprint path and expandPairs'
      // membership — and without the persist each leg re-ran the full
      // corpus scan + sha2 collapse shuffle (PLANS.md recorded
      // documents=2 for the whole family). At 100 TB a MEMORY_AND_DISK
      // spill of (rep, ids, text) is strictly cheaper than a second
      // full-text scan-and-shuffle of the corpus.
      .persistTracked

  /** distinct-text groups → (doc_id = rep, hs: the doc's distinct word
    * 3-shingles as 60-bit md5-prefix hashes — ONE array slot per
    * distinct shingle STRING, so size(hs) is the exact Jaccard/
    * containment denominator), groups whose text has <3 tokens dropped
    * (no shingles ⇒ can't participate). Since round 19 the hot path
    * ships shingles PRE-HASHED (fused graft_shingles3_h60 kernel): the
    * string formulation materialized every shingle as a UTF8String,
    * exploded the string stream, and md5-digested each shingle once
    * per consumer (twice in q41: signature + verification set).
    */
  private def shingledReps(groups: DataFrame): DataFrame =
    groups.select(col("doc_id"), call_function("graft_shingles3_h60", col("text")).as("hs"))
      .filter(size(col("hs")) > 0)

  /** Expand rep-level near-dup pairs (doc_a, doc_b, score) to member
    * level: the cross product of the two member lists per inter-group
    * pair, plus every intra-group pair at `selfScore` (identical text ⇒
    * the metric's identity value: jaccard 1, hamming 0) for multi-member
    * groups passing `intraEligible` (q41/q43 exclude shingle-less texts,
    * which the direct formulation also drops; q45 keeps everything). The
    * expansion cost is the OUTPUT size — no quadratic shuffle or compute
    * survives the collapse.
    */
  private def expandPairs(repPairs: DataFrame, groups: DataFrame,
                          selfScore: Column = lit(1.0),
                          intraEligible: Column = col("eligible")): DataFrame = {
    // evaluated ONCE: the ids_a leg, ids_b leg, and intra-pair leg all
    // re-evaluated the collapse aggregate before round 16 (the lint's
    // q41/q43/q44/q45/q143/q173 findings) — three corpus scans for one
    // (rep, ids, eligible) map whose size is ids-only (no text).
    // Since round 19 `groups` (the textGroups frame) is ITSELF
    // persisted, so this projection is a narrow read of that cache —
    // a second persist here only re-materialized the same rows minus
    // the text column (one extra cache-build job per query, and the
    // InMemoryRelation's columnar cache already prunes `text` from
    // reads that don't ask for it).
    val membership = groups.select(col("doc_id").as("rep"), col("ids"),
      intraEligible.as("eligible"))
    val inter = repPairs
      .join(membership.select(col("rep"), col("ids").as("ids_a")),
        col("doc_a") === col("rep")).drop("rep")
      .join(membership.select(col("rep"), col("ids").as("ids_b")),
        col("doc_b") === col("rep")).drop("rep")
      .select(explode(col("ids_a")).as("a"), col("ids_b"), col("score"))
      .select(col("a"), explode(col("ids_b")).as("b"), col("score"))
      .select(least(col("a"), col("b")).as("doc_a"),
        greatest(col("a"), col("b")).as("doc_b"), col("score"))
    val intra = membership.filter(size(col("ids")) > 1 && col("eligible"))
      .select(explode(sortedPairs(col("ids"))).as("p"))
      .select(col("p.a").as("doc_a"), col("p.b").as("doc_b"),
        selfScore.as("score"))
    inter.unionByName(intra)
  }

  /** All ordered pairs (fields `a` < `b`) from a SORTED array — the
    * in-bucket candidate generator. Replaces a self-join: a bucket of k
    * elements yields its k(k-1)/2 pairs in one pass with no second
    * evaluation of the (expensive) upstream subtree and no extra shuffle.
    * Same asymptotics as the join (pair count is quadratic in bucket size
    * either way), but the input is evaluated once instead of twice.
    * Elements may be structs (doc_id first so the sort orders by id);
    * carrying the shingle payload through lets verification run join-free.
    */
  private[queries] def sortedPairs(ids: Column): Column =
    call_function("graft_pairs", ids)

  /** Shared DuckDB CTE prefix: tokenize → distinct 3-shingles per doc. */
  private val shingleCte =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
      |      || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) AS s
      |  FROM tok
      |  QUALIFY lead(w,2) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL)""".stripMargin

  /** q42's fingerprint: documents → (doc_id, simhash BIGINT, 32 bits
    * used) from the zero-shuffle scalar kernel.
    */
  private def simhashed(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "documents"))
      .select(col("doc_id"), call_function("graft_simhash", col("text")).as("simhash"))

  /** DuckDB mirror of [[simhashed]], ending in relation `sh2(doc_id, simhash)`. */
  private val simhashCte =
    """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tc AS (SELECT doc_id, w, count(*) AS cnt FROM tok GROUP BY doc_id, w),
      |th AS (SELECT doc_id, CAST('0x' || substr(md5(w),1,8) AS BIGINT) AS h, cnt FROM tc),
      |bits AS (SELECT doc_id, j,
      |    sum(CASE WHEN (h >> j) & 1 = 1 THEN cnt ELSE -cnt END) AS sm
      |  FROM th CROSS JOIN (SELECT unnest(range(0, 32)) AS j)
      |  GROUP BY doc_id, j),
      |sh2 AS (SELECT doc_id, CAST(sum(CASE WHEN sm > 0 THEN CAST(1 AS BIGINT) << j
      |  ELSE 0 END) AS BIGINT) AS simhash
      |FROM bits GROUP BY doc_id)""".stripMargin

  def defs: ListMap[String, Q] = ListMap(

    // ---- Q39/Q25: exact dedup via hash-groupBy. Grouping on sha2(text)
    //      rather than the raw text keeps shuffle keys 32 bytes at 100 TB.
    "q40_dedup_exact" -> Q(
      (s, d) => {
        Tables(s, d, "documents")
          .groupBy(sha2(col("text"), 256).as("__h"))
          .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("n_copies"))
          .select(col("keeper"), col("n_copies"))
      },
      Some("""SELECT min(doc_id) AS keeper, count(*) AS n_copies
             |FROM documents GROUP BY text""".stripMargin),
      headline = false),

    // ---- Q40: MinHash + LSH near-dup. Signatures are computed per-doc
    //      in one pass (native kernel — no 32× row
    //      blow-up); candidates come from per-bucket pair generation
    //      after one (band, signature) shuffle, then exact-Jaccard
    //      verification, join-free. Band buckets are size-capped
    //      (BucketCap) — the duplicate-heavy-corpus guard.
    "q41_dedup_minhash" -> Q(
      (s, d) => minhashPairs(s, d, BucketCap),
      Some(minhashOracle(BucketCap)),
      headline = true),

    // ---- Q40 variant: SimHash — 32-bit signed-bit fingerprint weighted
    //      by token frequency. Map-side partial aggregation absorbs the
    //      (doc, token) and (doc, bit) group-bys at scale.
    "q42_dedup_simhash" -> Q(
      (s, d) => simhashed(s, d),
      Some(simhashCte + "\nSELECT doc_id, simhash FROM sh2"),
      headline = false),

    // ---- Q40 variant: SimHash near-dup PAIRS — exact-dup collapse
    //      first, then TWO-LEVEL banding: 4 × 8-bit byte bands × 4 ×
    //      6-bit sub-bands of each byte's complementary 24 bits = 16
    //      keys per fingerprint. EXACT at threshold ≤ 3 by pigeonhole
    //      applied twice: ≤ 3 flips miss ≥ 1 byte entirely, and within
    //      that byte's complement miss ≥ 1 of its 4 six-bit chunks, so
    //      every qualifying pair shares ≥ 1 full 14-bit key. Two-level
    //      matters because natural-language SimHash bits are heavily
    //      skewed — at sf0.1 a single byte value holds 27% of the corpus
    //      (round-5 measurement), so byte-only buckets blow through any
    //      cap; the 14-bit keys cut the max bucket ~2.7× and push the
    //      exact regime much further. Buckets stay BucketCap-guarded and
    //      the oracle mirrors the SAME collapse + cap + expansion, so
    //      the gate holds at every scale; with the cap disengaged (all
    //      fixture gates) both sides equal the brute all-pairs answer.
    "q45_simhash_hamming" -> Q(
      (s, d) => {
        val groups = textGroups(s, d)
        val sigs = groups.select(col("doc_id"),
          call_function("graft_simhash", col("text")).as("simhash"))
        // Shuffle-byte narrowing (guide §2.3, round-19 verdict item 6's
        // q45 target): the (band INT, bbits BIGINT) pair fuses into ONE
        // 18-bit INT key (band << 14 | bbits — injective, so the bucket
        // partition is IDENTICAL and the cap/oracle semantics are
        // untouched), and the 32-bit simhash rides the exchange as an
        // INT instead of a BIGINT (two's-complement reinterpretation —
        // the CASE keeps the cast ANSI-safe; XOR/bit_count see the same
        // 32 bits, and collectCapped's struct order is decided by the
        // unique doc_id before simhash can matter). Byte accounting,
        // honestly: UnsafeRow slots are 8-byte aligned, so the key
        // fusion removes one full slot per fan-out row (raw bytes),
        // while the INT narrowing zeroes each slot's top half — a win
        // only through the lz4 shuffle compressor, not in raw width.
        // ×16 rows/doc on the one wide shuffle of this query. (The
        // verdict's two-level aggregate — shuffle 4 byte-band keys, fan
        // out sub-bands reduce-side — was evaluated and REJECTED: byte-
        // band buckets are exactly the skew the 14-bit keys exist to
        // cut (27% of the corpus shares one byte value, the round-5
        // measurement above), and truncating at byte grain changes
        // which members survive the cap, i.e. the query's capped-regime
        // semantics.)
        val keyExprs = for { b <- 0 until 4; sb <- 0 until 4 } yield
          expr(s"CAST(${(b * 4 + sb) << 14} | " +
            s"(shiftleft(shiftright(simhash, ${b * 8}) & 255, 6) | " +
            s"(shiftright(${hamOtherBits(b)}, ${sb * 6}) & 63)) AS INT)")
        val sh32 = expr("CAST(simhash - (CASE WHEN simhash >= 2147483648 " +
          "THEN 4294967296 ELSE 0 END) AS INT)")
        val bands = sigs.select(col("doc_id"), sh32.as("simhash"),
          explode(array(keyExprs: _*)).as("bkey"))
        val repPairs = observeCap(bands
          .groupBy(col("bkey"))
          .agg(collectCapped(struct(col("doc_id"), col("simhash")), witness(BucketCap))
            .as("ids")),
          "hamming_bucket_caps", "ids", BucketCap)
          .filter(size(col("ids")) > 1)
          .select(explode(sortedPairs(col("ids"))).as("p"))
          .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
            // the INT→BIGINT promotion inside bit_count SIGN-EXTENDS,
            // so an xor with bit 31 set (sign bits differ) would count
            // 32 phantom high bits — mask to the 32 real fingerprint
            // bits (measured: 90 of sf0.01's 725 pairs straddle the
            // sign bit and vanished before this mask)
            expr("bit_count(CAST(p.a.simhash ^ p.b.simhash AS BIGINT) " +
              "& 4294967295)").as("ham"))
          .filter(col("ham") <= 3)
          .groupBy(col("doc_a"), col("doc_b")) // a pair may share several keys
          .agg(first(col("ham")).as("score"))
        expandPairs(repPairs, groups, selfScore = lit(0), intraEligible = lit(true))
          .select(col("doc_a"), col("doc_b"), col("score").cast("int").as("ham"))
      },
      Some(hammingOracle(BucketCap)),
      headline = true),

    // ---- Q40: exact n-gram Jaccard all-pairs via inverted-index join on
    //      the shingle (never a cross join — pairs materialize only for
    //      docs that actually share a shingle). Ultra-common shingles
    //      (df > DfCap — stopword runs) are dropped from the index, the
    //      standard guard against quadratic posting-list buckets at
    //      100 TB; signal shingles stay exact (fixture max df 25 ≪ cap,
    //      so the capped and uncapped results coincide — DedupCapSpec
    //      exercises the engaged cap).
    "q43_ngram_jaccard" -> Q(
      (s, d) => ngramJaccard(s, d, DfCap),
      Some(ngramJaccardOracle(DfCap)),
      headline = true),

    // ---- shingle CONTAINMENT pairs (Broder's c/min(|A|,|B|) — the
    //      near-superset detector Jaccard structurally misses: a snippet
    //      quoted whole inside a much longer doc has tiny union-
    //      normalized similarity but containment → 1). Same exact-dup
    //      collapse + capped hashed inverted index as q43 (ONE shared
    //      core, [[shinglePairCore]]); only the final pair-grain score
    //      differs, so the 100 TB story is q43's verbatim: pair work
    //      bounded by dfCap² per posting, 8-byte shuffle keys,
    //      denominators carried through the index join-free. NB the
    //      fixture corpus contains no partial-containment pairs (its
    //      planted near-dups are same-length, so q143's rows coincide
    //      with q43's there); the snippet-vs-jaccard regime difference
    //      is pinned by ContainmentSpec's planted-snippet test.
    "q143_containment" -> Q(
      (s, d) => ngramContainment(s, d, DfCap),
      Some(ngramContainmentOracle(DfCap))),

    // ---- pair → CLUSTER resolution: the transitive closure every
    //      production dedup actually needs (A~B and B~C must collapse to
    //      ONE keeper even when A~C was never emitted). Connected
    //      components over q41's near-dup pair graph by min-label
    //      propagation — each round is one join + one min-aggregate, all
    //      distributed; rounds ∝ component diameter, and LSH dedup
    //      components are near-cliques (diameter ≤ ~3), so convergence is
    //      a few rounds. The driver only sees the per-round changed-count
    //      (one long), never data. At adversarial scale (long-chain
    //      components) swap the propagation step for alternating
    //      large-star/small-star contraction — same per-round plan shape,
    //      O(log n) rounds. Output: one row per doc that has at least one
    //      near-dup, its cluster id (= min doc_id in the component), the
    //      cluster size, and the keeper verdict.
    "q101_dup_clusters" -> Q(
      (s, d) => dupClusters(s, d, BucketCap),
      Some(dupClustersOracle(BucketCap))),

    // ---- cross-split near-dup LEAKAGE: q41's near-dup pairs joined to
    //      q172's group-integral split assignment, keeping only pairs
    //      whose ends land in DIFFERENT splits — the test-set
    //      contamination a group split cannot prevent (it only pins
    //      same-group docs together; near-dups across sources still
    //      straddle train/test, and each such pair inflates eval). The
    //      fixture is non-degenerate: 9 of its 25 near-dup pairs cross
    //      splits, covering all three split-pair combinations. 100 TB
    //      shape: the pair table (output of the capped banded pipeline,
    //      ≪ corpus) drives two doc-id equijoins against the scan-stage
    //      coin assignment; the final grain is ≤ C(#splits, 2).
    "q173_split_leakage" -> Q(
      (s, d) => {
        val pairs = minhashPairs(s, d, BucketCap)
        val frac = expr(
          "conv(substr(md5(source), 1, 8), 16, 10) / 4294967296.0")
        val asg = Tables(s, d, "documents")
          .select(col("doc_id"),
            when(frac < Pipeline.GroupTrainFrac, "train")
              .when(frac < Pipeline.GroupValCut, "val")
              .otherwise("test").as("split"))
        pairs
          .join(asg.select(col("doc_id").as("doc_a"), col("split").as("split_a")),
            "doc_a")
          .join(asg.select(col("doc_id").as("doc_b"), col("split").as("split_b")),
            "doc_b")
          .filter(col("split_a") =!= col("split_b"))
          .select(least(col("split_a"), col("split_b")).as("split_lo"),
            greatest(col("split_a"), col("split_b")).as("split_hi"),
            col("jaccard"), col("doc_a"))
          .groupBy(col("split_lo"), col("split_hi"))
          .agg(count(lit(1)).as("n_pairs"), max(col("jaccard")).as("max_jaccard"),
            min(col("doc_a")).as("first_doc_a"))
      },
      Some(splitLeakageOracle(BucketCap))),

    // ---- dedup ATTRIBUTION: who loses documents to whom. Per
    //      (keeper's source, removed doc's source) pair, the docs and
    //      token mass q101's keep-rule deletes — the report a data-
    //      sourcing review reads before dropping a feed (a source whose
    //      mass is swallowed by another is redundant; one swallowing
    //      everyone else is the canonical original). 100 TB shape: the
    //      cluster table is contamination-sized (docs WITH a near-dup),
    //      ≪ corpus; both document joins are id-equijoins AQE can
    //      broadcast when the cluster side is small, and the final
    //      aggregate is #sources²-grain.
    "q120_dedup_attribution" -> Q(
      (s, d) => {
        val docs = Tables(s, d, "documents")
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok"))
        val rm = dupClusters(s, d, BucketCap)
          .filter(!col("keeper"))
          .select(col("doc_id"), col("cluster_id"))
        rm.join(docs.as("dr"), "doc_id")
          .join(docs.select(col("doc_id").as("cluster_id"),
            col("source").as("keeper_source")).as("dk"), "cluster_id")
          .groupBy(col("keeper_source"), col("source").as("removed_source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("tokens_removed"))
      },
      Some(dedupAttributionOracle(BucketCap))),

    // ---- fuzzy incremental dedup: the MinHash complement of q97's
    //      exact anti-join — gate an incoming batch against the EXISTING
    //      corpus's precomputable (band, bsig) → members index, bipartite
    //      candidates only (never corpus×corpus or batch×batch), verify
    //      jaccard map-side before any pair shuffle. See
    //      [[fuzzyIncremental]] for the 100 TB shape.
    "q106_fuzzy_incremental" -> Q(
      (s, d) => fuzzyIncremental(s, d, BucketCap),
      Some(fuzzyIncrementalOracle(BucketCap)),
      headline = true,
      // fit = the (band, bsig) → members corpus index (the precomputable
      // production artifact); probe = gating one incoming batch against it
      probe = Some((s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val idx = bandIndex(docs.filter(col("doc_id") % 10 < 8), BucketCap)
          .persistTracked
        idx.count()
        () => fuzzyProbe(docs.filter(col("doc_id") % 10 >= 8), idx)
      })),

    // ---- Q41 variant: embedding-cosine near-dup pairs, LSH-bucketed —
    //      multi-band hyperplane signatures (EmbBands bands ×
    //      EmbBandBits sign bits, planes = deterministic corpus vectors
    //      so the oracle replicates the buckets exactly), size-capped
    //      in-bucket pair generation via sortedPairs (never an all-pairs
    //      join), exact cosine verify. APPROXIMATE BY DESIGN: recall vs
    //      brute force is the standard LSH band tradeoff — measured in
    //      EmbedNeardupSpec (floor ≥ 0.85 at the fixture scale; raise
    //      EmbBands for more recall at linearly more signature cost).
    //      At 100 TB: EmbBandBits sizes the bucket count (2^bits per
    //      band) — raise it with corpus size so buckets stay bounded;
    //      4 bits fits the fixture corpus (~n/16 per bucket).
    "q44_embed_neardup" -> Q(
      (s, d) => embedNeardup(s, d, BucketCap),
      Some(embedNeardupOracle(BucketCap)))  ,

    // ---- blocked record linkage (entity resolution): fuzzy-match
    //      customer records inside deterministic blocking keys — the
    //      classic Fellegi–Sunter candidate-generation shape that the
    //      dedup family's CONTENT hashes (minhash/simhash) don't cover:
    //      here the match predicate is EDIT DISTANCE on an identifier
    //      field, the tool for typo-grade entity duplicates (name
    //      misspellings, OCR'd IDs). Blocking on (nationkey, mktsegment)
    //      turns the n² all-pairs into an equi-join whose cost is
    //      Σ block², bounded by the block-size distribution (the q186
    //      Σm² discipline — a skewed block would take a graft_topk cap
    //      exactly like CovisItemCap; fixture blocks are ≤ ~80 rows so
    //      no cap ships here). A |len(a)−len(b)| ≤ 2 guard runs before
    //      levenshtein — edit distance can never beat the length gap, so
    //      the O(|a|·|b|) DP only runs on survivors. Pairs are ordered
    //      (a < b) once, never emitted twice.
    "q202_record_linkage" -> Q(
      (s, d) => {
        val c = Tables(s, d, "customer")
          .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
            col("c_mktsegment"))
        val a = c.toDF("custkey_a", "name_a", "nat", "seg")
        val b = c.toDF("custkey_b", "name_b", "nat_b", "seg_b")
        a.join(b, col("nat") === col("nat_b") && col("seg") === col("seg_b")
            && col("custkey_a") < col("custkey_b"))
          .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
          .withColumn("lev",
            levenshtein(col("name_a"), col("name_b")).cast("long"))
          .filter(col("lev") <= 2)
          .select(col("custkey_a"), col("custkey_b"),
            col("nat").as("c_nationkey"), col("lev"))
      },
      Some("""SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
             |  a.c_nationkey AS c_nationkey,
             |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS lev
             |FROM customer a JOIN customer b
             |  ON a.c_nationkey = b.c_nationkey
             |  AND a.c_mktsegment = b.c_mktsegment
             |  AND a.c_custkey < b.c_custkey
             |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
             |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin)),

    // ---- MinHash ESTIMATOR-ACCURACY audit: per LSH candidate pair,
    //      the signature-agreement estimate (est32/32 ≈ Jaccard) next
    //      to the EXACT hashed-shingle Jaccard — the q177 sketch-audit
    //      idea applied to the dedup family's sketch. Both columns are
    //      exact in BOTH engines: the permutation constants are shared
    //      integer literals and the shingle hash is the md5 prefix, so
    //      DuckDB replays the 32 signature components bit-for-bit (the
    //      machinery q41's bucket parity already rests on, here made an
    //      auditable output). Rep grain (distinct texts) — exact-dup
    //      members add no estimator information. 100 TB: q41's plan
    //      verbatim minus the τ filter — one capped (band, bsig)
    //      shuffle, signatures + hashed sets ride it, pair grain is
    //      Σ bucket² bounded by BucketCap.
    "q235_minhash_accuracy" -> Q(
      (s, d) => {
        val docs = shingledReps(textGroups(s, d))
        val sig = withSig(docs)
        val bands = sig
          .select(col("doc_id"), array_distinct(col("hs")).as("hs"),
            col("sig"), posexplode(array(bandSigCols: _*)).as(Seq("band", "bsig")))
        bands
          .groupBy(col("band"), col("bsig"))
          .agg(collectCapped(struct(col("doc_id"), col("hs"), col("sig")),
            witness(BucketCap)).as("ids"))
          .withColumn("ids", slice(col("ids"), 1, BucketCap))
          .filter(size(col("ids")) > 1)
          .select(explode(sortedPairs(col("ids"))).as("p"))
          .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
            expr("size(filter(zip_with(p.a.sig, p.b.sig, (x, y) -> x = y), v -> v))")
              .cast("long").as("e32"),
            (size(array_intersect(col("p.a.hs"), col("p.b.hs"))).cast("double") /
              size(array_union(col("p.a.hs"), col("p.b.hs")))).as("jac"))
          // a pair can match in several bands — keep it once (est32 and
          // jac are pair-functions, identical in every occurrence)
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(first(col("e32")).as("est32"),
            round(first(col("jac")), 4).as("jaccard"))
      },
      Some(minhashAccuracyOracle(BucketCap)))
  )

  /** q235's oracle: [[minhashOracle]]'s CTEs up to the candidate set
    * (shingles, exact-dup collapse, signatures, capped band buckets),
    * then the per-pair signature-agreement count from the `mh`
    * relation and the exact Jaccard from `inter0`/`sz` — spliced, not
    * duplicated, so the sketch pipeline stays single-sourced (the
    * dupClustersOracle discipline).
    */
  private def minhashAccuracyOracle(cap: Int): String = {
    val mo = minhashOracle(cap)
    // line-anchored (+1 skips the \n; -1 miss becomes 0 and fails the
    // require) so a future CTE merely ENDING in "rep_pairs" can't
    // silently shift the splice past the guard
    val split = mo.lastIndexOf("\nrep_pairs AS") + 1
    require(split > 0, "minhashOracle shape changed; update minhashAccuracyOracle")
    mo.substring(0, split).trim.stripSuffix(",") + ",\n" +
      """est AS (SELECT c.ra, c.rb,
        |    CAST(count(*) FILTER (x.v = y.v) AS BIGINT) AS est32
        |  FROM cand c JOIN mh x ON x.doc_id = c.ra
        |  JOIN mh y ON y.doc_id = c.rb AND y.j = x.j
        |  GROUP BY c.ra, c.rb)
        |SELECT e.ra AS doc_a, e.rb AS doc_b, e.est32,
        |  round(COALESCE(i.c, 0) * 1.0 / (sa.n + sb.n - COALESCE(i.c, 0)), 4)
        |    AS jaccard
        |FROM est e JOIN sz sa ON sa.doc_id = e.ra
        |JOIN sz sb ON sb.doc_id = e.rb
        |LEFT JOIN inter0 i ON i.ra = e.ra AND i.rb = e.rb""".stripMargin
  }

  /** q43's document-frequency cap: shingles appearing in more than DfCap
    * DISTINCT texts (df is counted post-collapse — duplicate copies of a
    * stopword-laden doc don't inflate it) are dropped from the inverted
    * index — they are stopword runs carrying no dedup signal, and their
    * posting lists are the quadratic pair buckets that kill the job at
    * 100 TB. Far above any fixture df (max 25 at sf0.1), so capped ≡
    * uncapped on test data.
    */
  val DfCap = 1000

  /** q143 containment threshold: higher than q43's 0.5 Jaccard floor
    * because containment ≥ Jaccard by construction — the interesting
    * rows are HIGH containment (snippet swallowed whole) regardless of
    * the docs' size ratio. */
  val ContainTau = 0.7

  /** q41/q44/q45's LSH band-bucket cap: each (band, signature) bucket
    * contributes pairs from at most BucketCap members (the first by id
    * after the deterministic bucket sort). EXACT duplicates never reach
    * the buckets (the collapse pre-pass handles them exactly), so the
    * cap guards the residual case: mega-buckets of near-identical-but-
    * distinct members (boilerplate with varying fill), where k members
    * would otherwise generate k(k-1)/2 pairs; the cap bounds that at
    * BucketCap²/2 per bucket. Unlike q43's DfCap the bucket is
    * truncated, not dropped — a mega-bucket still yields its
    * first-BucketCap members' pairs rather than silently losing all of
    * them. Far above every fixture bucket (max ≈ dozens at sf0.1), so
    * capped ≡ uncapped on test data — which is also when the oracles'
    * full-corpus cap mirror coincides with the engine's rep-level cap.
    * DedupCapSpec exercises the engaged cap on distinct-member cliques.
    */
  val BucketCap = 200

  /** q45 two-level banding: the 24 bits complementary to byte `b` of a
    * 32-bit fingerprint, packed contiguously — SQL shared verbatim by
    * the Spark expression and the DuckDB oracle (both engines have
    * identical &, |, shift semantics on BIGINT here).
    */
  private[graft] def hamOtherBits(b: Int): String = b match {
    case 0 => "(shiftright(simhash, 8))"
    case 1 => "((simhash & 255) | shiftleft(shiftright(simhash, 16), 8))"
    case 2 => "((simhash & 65535) | shiftleft(shiftright(simhash, 24), 16))"
    case 3 => "(simhash & 16777215)"
  }

  /** The DuckDB mirror of q45's WHOLE pipeline — exact-dup collapse,
    * two-level 14-bit keys, first-`cap`-by-id bucket restriction, Hamming
    * verification, member expansion — so engine and oracle stay equal at
    * every scale, cap engaged or not (the q41 minhashOracle precedent,
    * but with the collapse and expansion mirrored too, which is what the
    * brute-force oracle this replaces could not express once rep-level
    * buckets overflowed at sf0.1).
    */
  def hammingOracle(cap: Int): String = {
    // DuckDB spells shifts as operators; share the packing layout with
    // hamOtherBits by textual substitution of the shift syntax
    def others(b: Int): String = b match {
      case 0 => "(simhash >> 8)"
      case 1 => "((simhash & 255) | ((simhash >> 16) << 8))"
      case 2 => "((simhash & 65535) | ((simhash >> 24) << 16))"
      case 3 => "(simhash & 16777215)"
    }
    val keyRows = (for { b <- 0 until 4; sb <- 0 until 4 } yield
      s"SELECT doc_id, simhash, ${b * 4 + sb} AS band, " +
        s"(((simhash >> ${b * 8}) & 255) << 6) | ((${others(b)} >> ${sb * 6}) & 63) AS bbits FROM s"
      ).mkString("\n  UNION ALL ")
    simhashCte + s""",
       |grp AS (SELECT min(doc_id) AS rep, list_sort(list(doc_id)) AS ids
       |        FROM documents GROUP BY md5(text)),
       |s AS (SELECT g.rep AS doc_id, sh2.simhash FROM grp g
       |      JOIN sh2 ON sh2.doc_id = g.rep),
       |keys AS (
       |  $keyRows),
       |rk AS (SELECT doc_id, simhash, band, bbits,
       |         row_number() OVER (PARTITION BY band, bbits ORDER BY doc_id) AS r
       |       FROM keys),
       |rep_pairs AS (SELECT DISTINCT x.doc_id AS ra, y.doc_id AS rb,
       |    bit_count(xor(x.simhash, y.simhash)) AS ham
       |  FROM rk x JOIN rk y ON x.band = y.band AND x.bbits = y.bbits
       |    AND x.doc_id < y.doc_id
       |  WHERE x.r <= $cap AND y.r <= $cap
       |    AND bit_count(xor(x.simhash, y.simhash)) <= 3),
       |mem AS (SELECT rep, unnest(ids) AS m FROM grp),
       |inter AS (SELECT least(x.m, y.m) AS doc_a, greatest(x.m, y.m) AS doc_b,
       |    CAST(p.ham AS INT) AS ham
       |  FROM rep_pairs p JOIN mem x ON x.rep = p.ra JOIN mem y ON y.rep = p.rb),
       |intra AS (SELECT x.m AS doc_a, y.m AS doc_b, 0 AS ham
       |  FROM mem x JOIN mem y ON x.rep = y.rep AND x.m < y.m)
       |SELECT doc_a, doc_b, ham FROM inter
       |UNION ALL SELECT doc_a, doc_b, ham FROM intra""".stripMargin
  }

  /** q41's shared builder — MinHash+LSH near-dup pairs over the
    * exact-dup-collapsed corpus ([[textGroups]]), with band buckets
    * size-capped at `cap` (the [[BucketCap]] guard — now guarding
    * near-identical-but-distinct mega-buckets; exact duplicates never
    * reach the buckets). Signatures are computed per-rep in one pass
    * (native kernel); candidates come from per-bucket
    * pair generation after one (band, signature) shuffle; Jaccard
    * verification is join-free (8-byte-hashed shingle sets ride the
    * band shuffle — never the strings) and runs BEFORE the pair-dedup
    * shuffle so no payload rides it.
    */
  /** (doc_id, hs) → + `sig`: the 32-permutation MinHash signature in
    * one native kernel pass. Shared by [[minhashPairs]] and
    * [[fuzzyIncremental]].
    */
  private def withSig(docs: DataFrame): DataFrame =
    docs.withColumn("sig", call_function("graft_minhash_h60", col("hs")))

  /** One string band key per LSH band from a `sig` column. */
  private def bandSigCols: Seq[Column] = (0 until NumBands).map { k =>
    concat_ws("_",
      transform(slice(col("sig"), k * BandRows + 1, BandRows), v => v.cast("string")))
  }

  def minhashPairs(s: SparkSession, d: String, cap: Int,
                   observeCaps: Boolean = true): DataFrame = {
    val groups = textGroups(s, d)
    val docs = shingledReps(groups)
    val sig = withSig(docs)
    val bandCols = bandSigCols
    // Carry the shingle set through the band shuffle (≈NumBands× the
    // doc payload) so candidate verification needs NO join back to
    // the corpus — the whole scan→shingle→sig subtree is evaluated
    // exactly once. Carry it HASHED: 8-byte graft_hash60 values instead
    // of 20–40-byte trigram strings (q43's shuffle-key design applied
    // to the verification payload — the band shuffle is this query's
    // dominant byte mover at 100 TB). Jaccard over the hashed sets
    // equals string jaccard up to a 2^-60-per-pair collision, and the
    // oracle hashes IDENTICALLY (md5-prefix), so engine/oracle parity
    // is unconditional regardless.
    val bands = sig
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bsig")))
    val buckets = bands
      .groupBy(col("band"), col("bsig"))
      .agg(collectCapped(struct(col("doc_id"), col("hs")), witness(cap)).as("ids"))
    val repPairs = (if (observeCaps)
        observeCap(buckets, "minhash_bucket_caps", "ids", cap)
      else buckets.withColumn("ids", slice(col("ids"), 1, cap)))
      .filter(size(col("ids")) > 1)
      .select(explode(sortedPairs(col("ids"))).as("p"))
      // Verify BEFORE the pair-dedup shuffle: jaccard is computed
      // map-side per band occurrence (recomputed ≤ NumBands times for a
      // pair matching several bands — pure CPU), so the dedup groupBy
      // shuffles a 16-byte (ids, jac) row instead of two shingle arrays.
      // On a duplicate-heavy corpus (k-clique buckets ⇒ k² pairs) the
      // payload-through-dedup formulation shuffles GBs; this one doesn't.
      .select(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        (size(array_intersect(col("p.a.hs"), col("p.b.hs"))).cast("double") /
          size(array_union(col("p.a.hs"), col("p.b.hs")))).as("jac"))
      .filter(col("jac") >= 0.7)
      // a pair can match in several bands — keep it once
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("jac")).as("score"))
    expandPairs(repPairs, groups)
      .select(col("doc_a"), col("doc_b"), round(col("score"), 4).as("jaccard"))
  }

  /** The DuckDB mirror of [[minhashPairs]]'s WHOLE pipeline — exact-dup
    * collapse, rep-level capped band buckets, Jaccard verification,
    * member expansion with intra-group pairs at 1.0 — the
    * [[hammingOracle]] pattern, so engine and oracle agree on ANY
    * corpus (duplicate texts + engaged cap included), not just while
    * the cap is disengaged.
    */
  def minhashOracle(cap: Int): String = {
    val seedRows = seeds.zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    // NB: shingleCte is concatenated AFTER stripMargin — running
    // stripMargin over interpolated SQL would eat a '|' from '||'.
    shingleCte + ",\n" + s"""grp AS (SELECT min(doc_id) AS rep, list_sort(list(doc_id)) AS ids,
       |        first(len(string_split(text, ' ')) >= 3) AS eligible
       |        FROM documents GROUP BY md5(text)),
       |rsh AS (SELECT sh.doc_id, sh.s FROM sh JOIN grp ON grp.rep = sh.doc_id),
       |rh AS (SELECT DISTINCT doc_id,
       |         CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS h FROM rsh),
       |hv AS (SELECT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) % $P AS h FROM rsh),
       |seeds(j, a, b) AS (VALUES $seedRows),
       |mh AS (SELECT doc_id, j, min((a*h + b) % $P) AS v
       |       FROM hv CROSS JOIN seeds GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, j // $BandRows AS band,
       |               string_agg(CAST(v AS VARCHAR), '_' ORDER BY j) AS bsig
       |        FROM mh GROUP BY doc_id, j // $BandRows),
       |rk AS (SELECT doc_id, band, bsig,
       |         row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS r
       |       FROM sig),
       |cand AS (SELECT DISTINCT x.doc_id AS ra, y.doc_id AS rb
       |         FROM rk x JOIN rk y ON x.band = y.band AND x.bsig = y.bsig
       |           AND x.doc_id < y.doc_id
       |         WHERE x.r <= $cap AND y.r <= $cap),
       |sz AS (SELECT doc_id, count(*) AS n FROM rh GROUP BY doc_id),
       |inter0 AS (SELECT c.ra, c.rb, count(*) AS c FROM cand c
       |          JOIN rh p ON p.doc_id = c.ra
       |          JOIN rh q ON q.doc_id = c.rb AND q.h = p.h
       |          GROUP BY c.ra, c.rb),
       |rep_pairs AS (SELECT i.ra, i.rb, i.c * 1.0 / (sa.n + sb.n - i.c) AS jac
       |  FROM inter0 i JOIN sz sa ON sa.doc_id = i.ra JOIN sz sb ON sb.doc_id = i.rb
       |  WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.7),
       |mem AS (SELECT rep, unnest(ids) AS m FROM grp),
       |inter AS (SELECT least(x.m, y.m) AS doc_a, greatest(x.m, y.m) AS doc_b,
       |    round(p.jac, 4) AS jaccard
       |  FROM rep_pairs p JOIN mem x ON x.rep = p.ra JOIN mem y ON y.rep = p.rb),
       |intra AS (SELECT x.m AS doc_a, y.m AS doc_b, CAST(1.0 AS DOUBLE) AS jaccard
       |  FROM grp g JOIN mem x ON x.rep = g.rep JOIN mem y ON y.rep = g.rep
       |    AND x.m < y.m
       |  WHERE g.eligible AND len(g.ids) > 1)
       |SELECT doc_a, doc_b, jaccard FROM inter
       |UNION ALL SELECT doc_a, doc_b, jaccard FROM intra""".stripMargin
  }

  /** q106's shared builder — FUZZY incremental dedup: which docs of an
    * incoming batch (doc_id % 10 >= 8, mirroring q97's split) have a
    * MinHash near-dup (jaccard ≥ 0.7, q41's threshold) anywhere in the
    * existing corpus (doc_id % 10 < 8). The fuzzy complement of q97's
    * exact sha2 anti-join.
    *
    * Scale shape — deliberately different from [[minhashPairs]]: the
    * corpus side is collapsed into a (band, bsig) → capped member-list
    * INDEX (the artifact a production pipeline precomputes and stores
    * bucketed on disk, exactly like q97's bucketed corpus side), and the
    * incoming batch probes it with a plain equi-join — candidate
    * generation is bipartite, so no corpus-corpus or batch-batch pair is
    * ever formed. Hashed shingle sets ride both sides of the band
    * shuffle (q41's verify-before-dedup design): jaccard is verified
    * map-side per bucket hit and only (in_id, c_id) survive to the
    * pair-dedup shuffle. Per-bucket corpus truncation at `cap`
    * first-by-id bounds any mega-bucket (oracle mirrors it with a
    * row_number rank).
    */
  /** (doc_id, text) → one band row per doc per LSH band:
    * (doc_id, hs: hashed shingle set, band, bsig). Shingle-less docs
    * (<3 tokens) carry no row — they can never verify at jaccard ≥ 0.7.
    */
  def docBands(docs: DataFrame): DataFrame =
    withSig(shingledReps(docs))
      .select(col("doc_id"), array_distinct(col("hs")).as("hs"),
        posexplode(array(bandSigCols: _*)).as(Seq("band", "bsig")))

  /** Corpus (doc_id, text) → the reusable dedup-gate index artifact:
    * (band, bsig) → first-`cap`-by-id member list carrying hashed
    * shingle sets. In production this is computed once, stored bucketed
    * by (band, bsig), and probed by every incoming batch.
    */
  def bandIndex(corpus: DataFrame, cap: Int): DataFrame =
    observeCap(docBands(corpus)
      .groupBy(col("band"), col("bsig"))
      .agg(collectCapped(struct(col("doc_id"), col("hs")), witness(cap))
        .as("members")),
      "fuzzy_index_caps", "members", cap)

  /** Probe `idx` (a [[bandIndex]]) with incoming docs (doc_id, text):
    * one row per incoming doc — (doc_id, n_corpus_dups, keep). Works
    * unchanged when `incoming` is a STREAMING DataFrame: band explode
    * and jaccard verification are stateless projections, the index join
    * is stream-static, and the per-doc aggregate groups by doc — see
    * [[graft.streaming.StatefulOps.fuzzyGate]].
    */
  def fuzzyProbe(incoming: DataFrame, idx: DataFrame): DataFrame = {
    val pairs = docBands(incoming)
      .join(idx, Seq("band", "bsig"))
      .select(col("doc_id").as("in_id"), col("hs").as("ihs"),
        explode(col("members")).as("m"))
      .select(col("in_id"), col("m.doc_id").as("c_id"),
        (size(array_intersect(col("ihs"), col("m.hs"))).cast("double") /
          size(array_union(col("ihs"), col("m.hs")))).as("jac"))
      .filter(col("jac") >= 0.7)
      // a (batch doc, corpus doc) pair can hit in several bands
      .groupBy(col("in_id"), col("c_id")).agg(count(lit(1)).as("hits"))
    val matches = pairs.groupBy(col("in_id")).agg(count(lit(1)).as("n"))
    incoming.select(col("doc_id"))
      .join(matches.withColumnRenamed("in_id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n"), lit(0L)).cast("int").as("n_corpus_dups"),
        col("n").isNull.as("keep"))
  }

  def fuzzyIncremental(s: SparkSession, d: String, cap: Int): DataFrame = {
    val docs = Tables.spread(Tables(s, d, "documents"))
    fuzzyProbe(docs.filter(col("doc_id") % 10 >= 8),
      bandIndex(docs.filter(col("doc_id") % 10 < 8), cap))
  }

  /** The DuckDB mirror of [[fuzzyIncremental]] — same signatures and
    * band keys as [[minhashOracle]], bipartite candidates against a
    * rank-truncated corpus index, full-hash jaccard verification.
    */
  def fuzzyIncrementalOracle(cap: Int): String = {
    val seedRows = seeds.zipWithIndex
      .map { case ((a, b), j) => s"($j, $a, $b)" }.mkString(", ")
    shingleCte + ",\n" + s"""hv AS (SELECT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) % $P AS h FROM sh),
       |rh AS (SELECT DISTINCT doc_id,
       |         CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS h FROM sh),
       |seeds(j, a, b) AS (VALUES $seedRows),
       |mh AS (SELECT doc_id, j, min((a*h + b) % $P) AS v
       |       FROM hv CROSS JOIN seeds GROUP BY doc_id, j),
       |sig AS (SELECT doc_id, j // $BandRows AS band,
       |               string_agg(CAST(v AS VARCHAR), '_' ORDER BY j) AS bsig
       |        FROM mh GROUP BY doc_id, j // $BandRows),
       |rkc AS (SELECT doc_id, band, bsig,
       |          row_number() OVER (PARTITION BY band, bsig ORDER BY doc_id) AS r
       |        FROM sig WHERE doc_id % 10 < 8),
       |cand AS (SELECT DISTINCT i.doc_id AS in_id, c.doc_id AS c_id
       |         FROM sig i JOIN rkc c ON c.band = i.band AND c.bsig = i.bsig
       |           AND c.r <= $cap
       |         WHERE i.doc_id % 10 >= 8),
       |sz AS (SELECT doc_id, count(*) AS n FROM rh GROUP BY doc_id),
       |ov AS (SELECT c.in_id, c.c_id, count(*) AS c FROM cand c
       |       JOIN rh p ON p.doc_id = c.in_id
       |       JOIN rh q ON q.doc_id = c.c_id AND q.h = p.h
       |       GROUP BY c.in_id, c.c_id),
       |mt AS (SELECT o.in_id, count(*) AS n_dups FROM ov o
       |       JOIN sz sa ON sa.doc_id = o.in_id JOIN sz sb ON sb.doc_id = o.c_id
       |       WHERE CAST(o.c AS DOUBLE) / (sa.n + sb.n - o.c) >= 0.7
       |       GROUP BY o.in_id)
       |SELECT d.doc_id, CAST(coalesce(mt.n_dups, 0) AS INT) AS n_corpus_dups,
       |  mt.in_id IS NULL AS keep
       |FROM documents d LEFT JOIN mt ON mt.in_id = d.doc_id
       |WHERE d.doc_id % 10 >= 8""".stripMargin
  }

  /** q44's shared builder — embedding-cosine near-dup pairs, LSH-bucketed
    * with the same `cap` guard as [[minhashPairs]]. Multi-band hyperplane
    * signatures (planes = deterministic corpus vectors so the oracle
    * replicates the buckets exactly); corpus×planes fan-out collapses to
    * corpus×bands rows by map-side combine BEFORE the shuffle (same
    * shape as q51/q52); vectors ride the band shuffle so exact-cosine
    * verification is join-free.
    *
    * Scale trade, stated explicitly: riding the vectors costs EmbBands×
    * the corpus vector bytes through one shuffle, but evaluates the
    * scan→collapse subtree exactly once. The join-back alternative
    * (buckets collect ids only, candidate pairs re-join vectors) moves
    * 2× vector bytes instead of EmbBands×, but re-evaluates the collapse
    * subtree — a full corpus scan plus a vector-keyed shuffle — once per
    * join unless the collapsed table is materialized. At EmbBands = 8
    * against a freshly scanned corpus the two are near-parity; a
    * production pipeline that PERSISTS the collapsed vector table (the
    * q51 index-artifact pattern) should prefer join-back when bands grow
    * past ~4, and this builder's bucket stage already collects via the
    * bounded aggregate either way.
    */
  def embedNeardup(s: SparkSession, d: String, cap: Int): DataFrame = {
    val e0 = Tables.spread(Tables(s, d, "embeddings"))
      .select(col("vec_id"), VectorFns.toDouble(col("embedding")).as("v"))
    // exact-dup collapse on the vector bytes (q41/q43's textGroups
    // design): signatures and buckets see one rep per distinct vector;
    // member pairs are expanded back algebraically. Intra-pairs exclude
    // zero vectors — their cosine is 0/0, which the direct formulation
    // also drops.
    val groups = e0.groupBy(col("v"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .select(col("ids").getItem(0).as("doc_id"), col("ids"), col("v"),
        // zero vectors have undefined cosine; decide here so the
        // expansion side never carries v (see textGroups)
        exists(col("v"), x => x =!= 0.0).as("eligible"))
      // persisted like textGroups: the signature leg and expandPairs'
      // three membership legs all read this collapse (expandPairs no
      // longer re-persists its own projection — r19)
      .persistTracked
    val e = groups.select(col("doc_id").as("vec_id"), col("v"))
    // planes are corpus vectors ADDRESSED BY ID — always from the full
    // corpus, not the reps (a plane's id may not be its group's rep)
    val planes = e0
      .filter(col("vec_id") >= EmbPlaneBase && col("vec_id") < EmbPlaneBase + EmbNumPlanes)
      .select(col("vec_id").as("p_id"), col("v").as("pv"))
    val sig = e.crossJoin(broadcast(planes))
      .select(col("vec_id"), col("v"),
        expr(s"CAST((p_id - $EmbPlaneBase) DIV $EmbBandBits AS INT)").as("band"),
        (when(VectorFns.dot(col("v"), col("pv")) > 0, lit(1L)).otherwise(lit(0L)) *
          expr(s"shiftleft(CAST(1 AS BIGINT), CAST((p_id - $EmbPlaneBase) % $EmbBandBits AS INT))"))
          .as("term"))
      .groupBy(col("vec_id"), col("band"))
      .agg(sum(col("term")).as("bsig"), first(col("v")).as("v"))
    val repPairs = observeCap(sig.groupBy(col("band"), col("bsig"))
      .agg(collectCapped(struct(col("vec_id"), col("v")), witness(cap)).as("ids")),
      "embed_bucket_caps", "ids", cap)
      .filter(size(col("ids")) > 1)
      .select(explode(sortedPairs(col("ids"))).as("p"))
      // verify map-side per band occurrence (q41's payload-free-dedup
      // shape): the pair-dedup shuffle carries (ids, cos), not vectors
      .select(col("p.a.vec_id").as("doc_a"), col("p.b.vec_id").as("doc_b"),
        VectorFns.cosine(col("p.a.v"), col("p.b.v")).as("cos"))
      .filter(col("cos") >= 0.45)
      // a pair can collide in several bands — keep it once
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(first(col("cos")).as("score"))
    expandPairs(repPairs, groups)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        round(col("score"), 4).as("cos"))
  }

  /** The DuckDB mirror of [[embedNeardup]]'s WHOLE pipeline — exact-dup
    * collapse on the vector value, rep-level capped buckets, cosine
    * verification, member expansion with intra-group pairs at cos 1.0 —
    * the [[hammingOracle]] pattern, so engine and oracle agree on ANY
    * corpus (duplicate vectors + engaged cap included), not just while
    * reps coincide with raw rows.
    */
  def embedNeardupOracle(cap: Int): String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |grp AS (SELECT v, min(vec_id) AS rep, list_sort(list(vec_id)) AS ids,
       |        len(list_filter(v, x -> x <> 0)) > 0 AS eligible
       |        FROM e GROUP BY v),
       |er AS (SELECT rep AS vec_id, v FROM grp),
       |p AS (SELECT vec_id AS p_id, v AS pv FROM e
       |      WHERE vec_id >= $EmbPlaneBase AND vec_id < ${EmbPlaneBase + EmbNumPlanes}),
       |bits AS (SELECT er.vec_id, CAST((p.p_id - $EmbPlaneBase) // $EmbBandBits AS INT) AS band,
       |    CAST(sum(CASE WHEN list_dot_product(er.v, p.pv) > 0
       |      THEN (CAST(1 AS BIGINT) << CAST((p.p_id - $EmbPlaneBase) % $EmbBandBits AS INT))
       |      ELSE 0 END) AS BIGINT) AS bsig
       |  FROM er CROSS JOIN p GROUP BY er.vec_id, (p.p_id - $EmbPlaneBase) // $EmbBandBits),
       |rk AS (SELECT vec_id, band, bsig,
       |         row_number() OVER (PARTITION BY band, bsig ORDER BY vec_id) AS r
       |       FROM bits),
       |cand AS (SELECT DISTINCT x.vec_id AS ra, y.vec_id AS rb
       |         FROM rk x JOIN rk y ON x.band = y.band AND x.bsig = y.bsig
       |           AND x.vec_id < y.vec_id
       |         WHERE x.r <= $cap AND y.r <= $cap),
       |rep_pairs AS (SELECT c.ra, c.rb,
       |    list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
       |  FROM cand c JOIN er a ON a.vec_id = c.ra JOIN er b ON b.vec_id = c.rb
       |  WHERE list_dot_product(a.v, b.v) /
       |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.45),
       |mem AS (SELECT rep, unnest(ids) AS m FROM grp),
       |inter AS (SELECT least(x.m, y.m) AS id_a, greatest(x.m, y.m) AS id_b,
       |    round(p.cos, 4) AS cos
       |  FROM rep_pairs p JOIN mem x ON x.rep = p.ra JOIN mem y ON y.rep = p.rb),
       |intra AS (SELECT x.m AS id_a, y.m AS id_b, CAST(1.0 AS DOUBLE) AS cos
       |  FROM grp g JOIN mem x ON x.rep = g.rep JOIN mem y ON y.rep = g.rep
       |    AND x.m < y.m
       |  WHERE g.eligible AND len(g.ids) > 1)
       |SELECT id_a, id_b, cos FROM inter
       |UNION ALL SELECT id_a, id_b, cos FROM intra""".stripMargin

  /** q43's shared builder — `dfCap` bounds every posting list (and so
    * every quadratic pair bucket) at dfCap entries. Carry each doc's
    * shingle COUNT through the inverted index (one int per posting) so
    * the Jaccard denominator needs no join back to the corpus: one
    * evaluation of the shingle subtree, two shuffles total (posting-list
    * groupBy, pair groupBy). The index key is the 60-bit parity hash of
    * the shingle, not the string: 8-byte shuffle keys instead of
    * ~20–40-byte trigrams — the dominant byte saving at 100 TB — at a
    * 2⁻⁶⁰-per-pair collision risk; the oracle hashes identically, so
    * parity is unconditional. Denominators stay string-distinct counts
    * (computed before hashing, both engines).
    */
  def ngramJaccard(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val (cnts, groups) = shinglePairCore(s, d, dfCap, minJac = Some(0.5))
    val repPairs = cnts
      .withColumn("jac", col("c").cast("double") / (col("na") + col("nb") - col("c")))
      .filter(col("jac") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jac").as("score"))
    expandPairs(repPairs, groups)
      .select(col("doc_a"), col("doc_b"), round(col("score"), 4).as("jaccard"))
  }

  /** q143's shared builder — identical candidate machinery to [[ngramJaccard]]
    * but scored by Broder CONTAINMENT c/min(|A|,|B|): the near-SUPERSET
    * detector. A quote or snippet embedded in a much longer doc keeps
    * containment high while the union-normalized Jaccard collapses, so
    * the two thresholds surface disjoint duplication regimes. Exact-dup
    * members are mutual containments (selfScore 1.0 — identical texts).
    */
  def ngramContainment(s: SparkSession, d: String, dfCap: Int): DataFrame = {
    val (cnts, groups) = shinglePairCore(s, d, dfCap)
    val repPairs = cnts
      .withColumn("cont",
        col("c").cast("double") / least(col("na"), col("nb")).cast("double"))
      .filter(col("cont") >= ContainTau)
      .select(col("doc_a"), col("doc_b"), col("cont").as("score"))
    expandPairs(repPairs, groups)
      .select(col("doc_a"), col("doc_b"), round(col("score"), 4).as("containment"))
  }

  /** The shingle-pair intersection core shared by [[ngramJaccard]] and
    * [[ngramContainment]]: exact-dup collapse first ([[textGroups]] — the
    * inverted-index core runs once per DISTINCT text; ScaleProbe on an
    * 8×-duplicated 40k-doc corpus: 91 s → 5 s, identical output, see
    * NOTES.md), then the hashed inverted index with capped posting
    * lists, returning rep-grain ((doc_a, doc_b, na, nb, c), groups).
    *
    * `minJac` enables the standard Jaccard LENGTH FILTER at pair-GEN
    * time: jac = c/(na+nb−c) with c ≤ min(na,nb) can only reach τ when
    * min(na,nb) ≥ τ/(1+τ)·(na+nb), so a pair failing that inequality is
    * dropped BEFORE the pair-count shuffle instead of after it —
    * result-identical to the post-count τ filter (which still runs),
    * and the pruned pairs never pay shuffle bytes. Containment (q143)
    * passes None: c/min(na,nb) can reach 1 at ANY length ratio, so no
    * length prune is sound there.
    */
  private def shinglePairCore(s: SparkSession, d: String, dfCap: Int,
                              minJac: Option[Double] = None): (DataFrame, DataFrame) = {
    val groups = textGroups(s, d)
    val docs = shingledReps(groups)
    // `hs` arrives pre-hashed (one slot per distinct shingle STRING),
    // so size(hs) is the exact denominator and the posting explode
    // emits bare longs — no string stream, no second hash pass
    val e = docs.select(col("doc_id"), size(col("hs")).cast("long").as("n"),
        explode(col("hs")).as("s"))
    // collect at dfCap+1: a posting list longer than dfCap is DROPPED by
    // the filter below, so truncating its collection at dfCap+1 members
    // (just enough to witness the overflow) is result-identical while the
    // buffer for a stopword-run shingle stays O(dfCap), not O(df).
    val witnessCap = if (dfCap == Int.MaxValue) dfCap else dfCap + 1
    val pairs = observeCap(e.groupBy(col("s"))
      .agg(collectCapped(struct(col("doc_id"), col("n")), witnessCap).as("ids")),
      "ngram_df_caps", "ids", dfCap, truncate = false)
      .filter(size(col("ids")) > 1 && size(col("ids")) <= dfCap)
      .select(explode(sortedPairs(col("ids"))).as("p"))
    val feasible = minJac match {
      case Some(tau) =>
        // min ≥ τ/(1+τ)·(na+nb) ⟺ (1+τ)·min ≥ τ·(na+nb). For the
        // τ=0.5 call site both sides are exactly-representable doubles
        // (1.5·min and 0.5·(na+nb) on integer counts < 2^51), so the
        // boundary pair (jac exactly τ) always survives to the exact
        // post-count filter — this is the classic 2·min ≥ max rule
        pairs.filter(
          least(col("p.a.n"), col("p.b.n")) * (lit(1.0) + lit(tau)) >=
            lit(tau) * (col("p.a.n") + col("p.b.n")))
      case None => pairs
    }
    val cnts = feasible
      .groupBy(col("p.a.doc_id").as("doc_a"), col("p.b.doc_id").as("doc_b"),
        col("p.a.n").as("na"), col("p.b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
    (cnts, groups)
  }

  /** q101's shared builder — connected components over [[minhashPairs]]'
    * near-dup graph. Deterministic: the fixpoint (every vertex labeled
    * with its component's min id) does not depend on iteration order or
    * partitioning. See [[clusterPairs]] for the two-phase algorithm and
    * its lineage discipline.
    */
  def dupClusters(s: SparkSession, d: String, cap: Int): DataFrame =
    // observeCaps = false: clusterPairs symmetrizes the pair relation by
    // self-union, and two CollectMetrics nodes with one name in a single
    // plan fail analysis; the q41 entry carries the telemetry instead
    clusterPairs(minhashPairs(s, d, cap, observeCaps = false)
      .select(col("doc_a"), col("doc_b")))

  /** The closure core, takable over ANY pair relation (doc_a, doc_b) —
    * q41's near-dup pairs in the catalog, but equally q43/q44/q45
    * output. Tested in isolation on explicit edge sets (DedupCapSpec)
    * so chain/clique/multi-component behavior is pinned independently
    * of LSH banding luck.
    *
    * Two regimes behind one signature:
    *  - min-label PROPAGATION (one join + one min-agg per round, rounds
    *    ∝ component diameter) for the first `starSwitch` rounds — LSH
    *    dedup components are near-cliques (diameter ≤ ~3), so the
    *    common case converges here;
    *  - alternating LARGE-STAR / SMALL-STAR contraction (Kiveris et
    *    al., "Connected Components in MapReduce and Beyond", SoCC'14)
    *    when propagation has not converged by `starSwitch` — O(log n)
    *    rounds regardless of diameter, so adversarial long-chain
    *    components cannot run away.
    *
    * Lineage discipline (the r6 scale defect): the symmetric edge set is
    * persisted ONCE before the loop and unpersisted after convergence;
    * every round's state is eagerly checkpointed ([[truncate]]: reliable
    * `checkpoint` under a configured checkpoint dir, else
    * `localCheckpoint`), so round k
    * re-evaluates round k's plan only — per-round cost is FLAT, not the
    * full join chain of rounds 1..k−1 (`ScaleProbe --cc` measures this).
    * Exhausting `maxRounds` without convergence THROWS instead of
    * silently returning a non-fixpoint labeling: star contraction at 20
    * rounds covers components of ~2^20 vertices, so hitting the cap
    * means the input is not a dedup graph.
    */
  def clusterPairs(pairs: DataFrame, maxRounds: Int = 20,
                   starSwitch: Int = 4): DataFrame =
    clusterPairsInstrumented(pairs, maxRounds, starSwitch, (_, _) => ())

  /** Eager lineage truncation for iterative state: a RELIABLE
    * checkpoint when the context has a checkpoint dir (production —
    * survives executor loss), else an eager localCheckpoint (local/test;
    * executor-resident, fine in one JVM).
    */
  private def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint()
    else df.localCheckpoint()

  /** The reliable-checkpoint directory backing an eagerly checkpointed
    * Dataset (None for localCheckpoint). Spark never deletes these files
    * unless `spark.cleaner.referenceTracking.cleanCheckpoints` is on
    * (non-default), so an iterative loop that checkpoints per round
    * leaks ~rounds × state onto reliable storage per build unless it
    * rotates them itself.
    */
  private def checkpointPathOf(df: DataFrame): Option[org.apache.hadoop.fs.Path] =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.getCheckpointFile
    }.flatten.map(new org.apache.hadoop.fs.Path(_))

  /** Delete a superseded round's checkpoint files. Only call once the
    * successor round has fully materialized AND every plan referencing
    * the superseded data has been evaluated — checkpoint(eager = true)
    * guarantees the former at the call sites below.
    */
  private def dropCheckpoint(s: SparkSession,
                             p: Option[org.apache.hadoop.fs.Path]): Unit =
    p.foreach(path => Try(
      path.getFileSystem(s.sparkContext.hadoopConfiguration).delete(path, true)))

  /** [[clusterPairs]] with a per-round timing hook (round name, seconds)
    * so ScaleProbe can demonstrate flat per-round cost; the public entry
    * passes a no-op.
    */
  private[graft] def clusterPairsInstrumented(
      pairs: DataFrame, maxRounds: Int, starSwitch: Int,
      onRound: (String, Double) => Unit): DataFrame = {
    val e = pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("v", "u").persist()
    try {
      var labels = truncate(
        e.select(col("v")).distinct().withColumn("l", col("v")))
      var labelsCkpt = checkpointPathOf(labels)
      var round = 0
      var converged = false
      while (!converged && round < math.min(starSwitch, maxRounds)) {
        val t0 = System.nanoTime()
        val nbrMin = e.join(labels.select(col("v").as("u"), col("l").as("ul")), "u")
          .groupBy(col("v")).agg(min(col("ul")).as("nbr"))
        // eager truncation: materializes this round AND cuts the plan,
        // so the convergence check and every later round start from
        // round-k data, never the rounds-1..k−1 join chain. The
        // convergence witness rides the SAME materialization as an
        // observe() metric (its accumulators fill during the
        // checkpoint's internal pass), where a separate
        // filter(changed).limit(1).count() paid one extra job + plan
        // per round (r19; ProfJobs measured the loop at 3 jobs/round)
        val obsName = s"graft_cc_changed_$round"
        val pre = labels.join(nbrMin, Seq("v"), "left")
          .select(col("v"), least(col("l"), coalesce(col("nbr"), col("l"))).as("l"),
            (col("nbr") < col("l")).as("changed"))
          .observe(obsName, max(col("changed")).as("any_changed"))
        val next = truncate(pre)
        // empty frame → max over no rows → null → not changed (the
        // count formulation's 0 == 0), same fixpoint
        converged = !pre.queryExecution.observedMetrics.get(obsName)
          .exists(r => !r.isNullAt(0) && r.getBoolean(0))
        // round k is materialized and round k−1 is no longer referenced:
        // rotate its reliable checkpoint files off storage now
        val nextCkpt = checkpointPathOf(next)
        if (nextCkpt.isDefined) dropCheckpoint(next.sparkSession, labelsCkpt)
        labelsCkpt = nextCkpt
        labels = next.select(col("v"), col("l"))
        round += 1
        onRound(s"propagate $round", (System.nanoTime() - t0) / 1e9)
      }
      // the propagation preamble is bounded by starSwitch (tiny), so the
      // star phase gets the FULL maxRounds budget: 20 star rounds cover
      // components of ~2^20 vertices
      val labeled =
        if (converged) labels
        else {
          // the star phase never reads the propagation labels — drop the
          // abandoned chain's last checkpoint before starting over
          dropCheckpoint(pairs.sparkSession, labelsCkpt)
          starContract(e, maxRounds, round, onRound)
        }
      // cluster_size as a count window over ONE exchange of the
      // checkpointed labels (round-19 verdict item 8 / guide §2.4): the
      // former groupBy(l) + join-back was a second Exchange + SMJ (the
      // LogicalRDD carries no stats, so the size table never broadcast
      // at plan time) — the window computes the same count in place on
      // the exchange the join needed anyway. Bounded-partition note: a
      // window partition = one cluster, exactly the rows the SMJ's sort
      // put in one task before; WindowExec spills past its buffer, so
      // the skew exposure is unchanged, with one full shuffle + one
      // sort of the label table saved.
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("l"))
      labeled
        .select(col("v").as("doc_id"), col("l").as("cluster_id"),
          count(lit(1)).over(w).as("cluster_size"),
          (col("v") === col("l")).as("keeper"))
    } finally e.unpersist(blocking = false)
    // safe to unpersist before the caller evaluates: `labeled` is
    // checkpointed data on both paths, so the returned plan never
    // references `e`.
  }

  /** Alternating large-star/small-star contraction over a symmetric edge
    * set `(v, u)` → one `(v, l)` label row per vertex. Each round is two
    * groupBy-min + join passes over the CURRENT edge set (which only
    * shrinks toward the star forest), rounds are O(log n) in component
    * size, and at the fixpoint the edge set is exactly
    * {(v, root) | v ≠ root} — vertices absent from it are roots.
    */
  private def starContract(e: DataFrame, maxRounds: Int, roundsSoFar: Int,
                           onRound: (String, Double) => Unit): DataFrame = {
    // large-star: every node hooks its STRICTLY LARGER neighbors to
    // min(Γ⁺(v)); halves the height of tall trees without ever creating
    // an edge toward a larger id (monotone toward the component min).
    def largeStar(edges: DataFrame): DataFrame = {
      val sym = edges.unionByName(edges.select(col("u").as("v"), col("v").as("u")))
      val mins = sym.groupBy(col("v")).agg(min(col("u")).as("m"))
      sym.join(mins, "v")
        .filter(col("u") > col("v"))
        .select(col("u").as("v"), least(col("m"), col("v")).as("u"))
        .distinct()
    }
    // small-star: every node hooks its SMALLER neighbors (and itself) to
    // the neighborhood min; operates on (big, small)-oriented edges,
    // which largeStar's output already is.
    def smallStar(edges: DataFrame): DataFrame = {
      val mins = edges.groupBy(col("v")).agg(min(col("u")).as("m"))
      mins.select(col("v"), col("m").as("u"))
        .unionByName(edges.join(mins, "v")
          .filter(col("u") =!= col("m"))
          .select(col("u").as("v"), col("m").as("u")))
        .distinct()
    }
    val verts = truncate(e.select(col("v")).distinct())
    var edges = truncate(e.filter(col("v") =!= col("u"))
      .select(greatest(col("v"), col("u")).as("v"), least(col("v"), col("u")).as("u"))
      .distinct())
    var edgesCkpt = checkpointPathOf(edges)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val t0 = System.nanoTime()
      val next = truncate(smallStar(largeStar(edges)))
      // fixpoint test is exact (count + set difference), not a hash
      // heuristic: both sides are checkpointed, so it costs one
      // aggregate and one anti-join over star edges
      converged = next.count() == edges.count() &&
        next.except(edges).limit(1).count() == 0
      // the except above was round k−1's last reader — rotate its
      // reliable checkpoint files off storage (verts and the final
      // edges stay: the returned plan reads them)
      val nextCkpt = checkpointPathOf(next)
      if (nextCkpt.isDefined) dropCheckpoint(next.sparkSession, edgesCkpt)
      edgesCkpt = nextCkpt
      edges = next
      round += 1
      onRound(s"star ${roundsSoFar + round}", (System.nanoTime() - t0) / 1e9)
    }
    if (!converged)
      throw new IllegalStateException(
        s"clusterPairs did not converge after ${roundsSoFar + round} rounds " +
          s"(${roundsSoFar} propagation + $round star); the pair graph has a " +
          "component beyond ~2^" + round + " vertices or is not a similarity graph")
    verts.join(edges.select(col("v"), col("u").as("l")), Seq("v"), "left")
      .select(col("v"), coalesce(col("l"), col("v")).as("l"))
  }

  /** The DuckDB mirror of [[dupClusters]]: the q41 pair oracle's CTE
    * list spliced into one outer WITH RECURSIVE (DuckDB does not scope a
    * WITH nested inside a recursive CTE body), its final SELECT wrapped
    * as `pairs`, then undirected closure via a recursive set-union CTE
    * (terminates — UNION deduplicates the frontier), label = min
    * reachable id.
    */
  /** q173's oracle: q41's full pair replay (the minhashOracle CTE chain,
    * spliced the dupClustersOracle way) joined to the q172 source-coin
    * split assignment, cross-split pairs only.
    */
  def splitLeakageOracle(cap: Int): String = {
    val mo = minhashOracle(cap)
    val split = mo.lastIndexOf("\nSELECT doc_a, doc_b, jaccard FROM inter") + 1
    require(split > 0, "minhashOracle shape changed; update splitLeakageOracle")
    val ctes = mo.substring(0, split).trim.stripSuffix(",")
    val pairsSelect = mo.substring(split).trim
    // NB: never stripMargin over the spliced prefix (q41's `||` lines)
    ctes + ",\n" +
      "pairs AS (\n" + pairsSelect + "\n),\n" +
      s"""asg AS (SELECT doc_id, CASE
        |    WHEN frac < ${Pipeline.GroupTrainFrac} THEN 'train'
        |    WHEN frac < ${Pipeline.GroupValCut} THEN 'val'
        |    ELSE 'test' END AS split
        |  FROM (SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) AS DOUBLE)
        |      / 4294967296.0 AS frac FROM documents)),
        |x AS (SELECT least(a.split, b.split) AS split_lo,
        |    greatest(a.split, b.split) AS split_hi, p.jaccard, p.doc_a
        |  FROM pairs p JOIN asg a ON a.doc_id = p.doc_a
        |    JOIN asg b ON b.doc_id = p.doc_b
        |  WHERE a.split <> b.split)
        |SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs,
        |  max(jaccard) AS max_jaccard, min(doc_a) AS first_doc_a
        |FROM x GROUP BY 1, 2""".stripMargin
  }

  def dupClustersOracle(cap: Int): String = {
    val mo = minhashOracle(cap)
    val split = mo.lastIndexOf("\nSELECT doc_a, doc_b, jaccard FROM inter") + 1
    require(split > 0, "minhashOracle shape changed; update dupClustersOracle")
    val ctes = mo.substring(0, split).trim.stripSuffix(",") // "WITH tok AS (...), ..., intra AS (...)"
    val pairsSelect = mo.substring(split).trim
    // NB: the spliced oracle contains `|| ' ' ||` continuation lines that
    // START with '|' — never run stripMargin over it (the q41 oracle's
    // own lesson); stripMargin only the local template, concatenate raw.
    ctes.replaceFirst("^WITH ", "WITH RECURSIVE ") + ",\n" +
      "pairs AS (\n" + pairsSelect + "\n),\n" +
      """e AS (SELECT doc_a AS v, doc_b AS u FROM pairs
        |      UNION SELECT doc_b, doc_a FROM pairs),
        |reach AS (
        |  SELECT v, u FROM e
        |  UNION
        |  SELECT r.v, e2.u FROM reach r JOIN e e2 ON e2.v = r.u),
        |lbl AS (SELECT v, least(v, min(u)) AS l FROM reach GROUP BY v),
        |csz AS (SELECT l, count(*) AS n FROM lbl GROUP BY l)
        |SELECT lbl.v AS doc_id, lbl.l AS cluster_id,
        |  csz.n AS cluster_size, lbl.v = lbl.l AS keeper
        |FROM lbl JOIN csz ON csz.l = lbl.l""".stripMargin
  }

  /** q120's oracle: [[dupClustersOracle]]'s recursive-CTE closure with
    * the final per-doc select swapped for the (keeper source, removed
    * source) attribution aggregate. Spliced, not duplicated, so the
    * pair pipeline (collapse, caps, banding) stays single-sourced.
    */
  def dedupAttributionOracle(cap: Int): String = {
    val co = dupClustersOracle(cap)
    val split = co.lastIndexOf("\nSELECT lbl.v AS doc_id") + 1
    require(split > 0, "dupClustersOracle shape changed; update dedupAttributionOracle")
    co.substring(0, split).trim.stripSuffix(",") + ",\n" +
      """rm AS (SELECT lbl.v AS doc_id, lbl.l AS cluster_id FROM lbl WHERE lbl.v <> lbl.l)
        |SELECT dk.source AS keeper_source, dr.source AS removed_source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(dr.text,' '))) AS BIGINT) AS tokens_removed
        |FROM rm JOIN documents dr ON dr.doc_id = rm.doc_id
        |  JOIN documents dk ON dk.doc_id = rm.cluster_id
        |GROUP BY 1, 2""".stripMargin
  }

  /** The DuckDB mirror of [[ngramJaccard]] with the identical df cap
    * (intersections count only shingles with 2 ≤ df ≤ cap; denominators
    * stay the full per-doc shingle counts).
    */
  def ngramJaccardOracle(dfCap: Int): String =
    shingleCte + ",\n" + s"""sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hs AS (SELECT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS s FROM sh),
        |keep AS (SELECT s FROM hs GROUP BY s HAVING count(*) <= $dfCap),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM hs a JOIN hs b ON a.s = b.s AND a.doc_id < b.doc_id
        |          JOIN keep k ON k.s = a.s
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT i.doc_a, i.doc_b, round(i.c * 1.0 / (sa.n + sb.n - i.c), 4) AS jaccard
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE i.c * 1.0 / (sa.n + sb.n - i.c) >= 0.5""".stripMargin

  /** The DuckDB mirror of [[ngramContainment]] — [[ngramJaccardOracle]]'s
    * candidate CTEs with the containment score. The filter comparison is
    * explicit-DOUBLE on both sides (the DECIMAL-division trap: DuckDB's
    * `x * 1.0 / y` is DECIMAL arithmetic, fine under round(·,4) but not
    * inside a threshold predicate Spark computes in DOUBLE).
    */
  def ngramContainmentOracle(dfCap: Int): String =
    shingleCte + ",\n" + s"""sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |hs AS (SELECT doc_id, CAST('0x' || substr(md5(s),1,15) AS BIGINT) AS s FROM sh),
        |keep AS (SELECT s FROM hs GROUP BY s HAVING count(*) <= $dfCap),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |          FROM hs a JOIN hs b ON a.s = b.s AND a.doc_id < b.doc_id
        |          JOIN keep k ON k.s = a.s
        |          GROUP BY a.doc_id, b.doc_id)
        |SELECT i.doc_a, i.doc_b,
        |  round(CAST(i.c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE), 4) AS containment
        |FROM inter i JOIN sz sa ON sa.doc_id = i.doc_a JOIN sz sb ON sb.doc_id = i.doc_b
        |WHERE CAST(i.c AS DOUBLE) / CAST(least(sa.n, sb.n) AS DOUBLE) >= $ContainTau""".stripMargin
}
