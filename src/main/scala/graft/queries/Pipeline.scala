package graft.queries

import graft.Caches.TrackedPersist
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** The LLM training-data pipeline as ONE composed catalog query
  * (SURVEY.md §2.2 Q39–Q43 end to end): cheap per-row quality/language
  * gates FIRST (they prune before anything shuffles), exact dedup on the
  * survivors (sha2 group keys — 32-byte shuffle rows, the q40 design),
  * then the per-document analysis columns for the kept canonical docs.
  * This is the composition a real corpus build runs; the oracle restates
  * every stage in SQL, so a drift anywhere in the chain — a gate, the
  * dedup tie-break, a token count — hash-mismatches.
  *
  * Stage order is the 100 TB design: the language/quality predicates are
  * stateless projections evaluated in the scan stage, so the exact-dedup
  * shuffle and everything after it only carries the surviving fraction.
  */
object Pipeline {

  /** Gates: predicted-English (q60's argmax rule) and a minimum quality
    * score (q61's formula). Thresholds chosen to keep a meaningful
    * fraction of the fixture corpus on both sides of each gate.
    */
  val MinQuality = 0.35

  /** q92 sample size per language stratum. */
  val SamplePerStratum = 50

  /** q94 tokens per packed training sequence. */
  val PackBudget = 2048

  /** q95 shingle width for benchmark-overlap decontamination. */
  val DecontamGram = 4

  /** q104 chunking: window width and stride in whitespace tokens
    * (overlap = ChunkTokens - ChunkStride).
    */
  val ChunkTokens = 64
  val ChunkStride = 48

  /** q107: the token budget as a fraction of the corpus's total tokens. */
  val MixBudgetFrac = 0.5

  /** q121: epoch ceiling for the materialized mixture. Unbounded e is a
    * real blow-up: a tiny high-weight source (say 1 doc, 10 tokens, w=1
    * against a 100 TB budget) would explode that doc into ~10¹⁰ copies.
    * Data-constrained scaling practice caps repetition at a few dozen
    * epochs (diminishing returns past ~4 per Muennighoff et al.); the
    * cap is part of the sampling CONTRACT (oracle mirrors it), and the
    * spec pins a planted tiny source at exactly the ceiling.
    */
  val MaxEpochs = 64.0

  /** q110: shingle width for the inter-source overlap matrix. */
  val OverlapGram = 5

  /** q123 exact-substring scan: window width in tokens and the anchor
    * density modulus. Anchors are CONTENT-DEFINED (winnowing, Schleimer
    * et al. 2003): position i starts a window iff hash(token_i) ≡ 0
    * (mod SpanAnchorMod) — so two copies of the same run pick the SAME
    * interior anchors no matter where each copy sits in its document.
    * A fixed-stride grid cannot do this: copies whose offsets differ
    * mod the stride would never produce an identical window and a
    * verbatim 1000-token quote could go entirely unseen.
    */
  val SpanTokens = 16
  val SpanAnchorMod = 8

  /** q95: most contaminated-id rows we will ship driver-side as a
    * broadcast. 10M longs ≈ 80 MB — comfortable on any driver; above it
    * the anti-join falls back to a shuffle so a pathological corpus
    * (e.g. the eval set leaked wholesale into the crawl) can't OOM the
    * driver. Contamination on a healthy corpus is ≪ this.
    */
  val ContamBroadcastCap = 10000000L

  /** q95's decontamination dataflow with the scale guard made explicit
    * (cap overridable so the fallback path is testable): benchmark
    * shingles always broadcast (the eval suite is tiny by construction),
    * but the contaminated-id set is only broadcast after a bounded probe
    * proves it's under `idCap` — `limit(idCap+1).count()` stops scanning
    * at the first row over the cap, so the probe costs at most the
    * contamination subquery, never an unbounded collect. Over the cap,
    * the same anti-join runs as a shuffle join (ids are 8-byte keys; the
    * corpus side shuffles nothing but doc_id + carried columns).
    */
  def decontaminate(docs: DataFrame, isBench: Column,
                    idCap: Long = ContamBroadcastCap): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(distinctShingles(col("text"), DecontamGram)).as("s"))
    val benchSh = sh(docs.filter(isBench)).select(col("s")).distinct()
    val contaminated = sh(docs.filter(!isBench))
      .join(broadcast(benchSh), Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    val fitsDriver =
      contaminated.limit(math.min(idCap + 1, Int.MaxValue.toLong).toInt)
        .count() <= idCap
    val contamSide = if (fitsDriver) broadcast(contaminated) else contaminated
    docs.filter(!isBench)
      .join(contamSide, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** q100 Bloom sizing: expected distinct benchmark shingles and filter
    * bits (~8 bits/item ≈ 2% false-positive rate). False positives only
    * cost wasted exact-verify work; false negatives are impossible, so
    * the output is exactly q95's at any sizing.
    */
  val BloomItems = 100000L
  val BloomBits = 800000L

  /** q95's dataflow with a Bloom pre-filter on the probe side — the
    * 100 TB shape when even the BENCHMARK shingle set is too big to
    * broadcast comfortably (q95 broadcasts it twice; a multi-benchmark
    * eval suite can reach GBs). The Bloom filter is ~8 bits per distinct
    * shingle — 10–50× smaller than the exact set — and it is the ONLY
    * thing broadcast against the full corpus: every corpus shingle is
    * probed map-side, definite-misses (the overwhelming majority) die in
    * the scan stage, and only the rare might-contain survivors reach the
    * exact semi-join, which therefore runs over a tiny fraction of the
    * corpus. No false negatives ⇒ the survivors are a superset of the
    * truly contaminated rows ⇒ the exact join makes the result IDENTICAL
    * to [[decontaminate]] — q100 shares q95's oracle verbatim.
    *
    * The filter is BUILT distributed (one aggregate over the bench
    * shingles) and collected as a single BloomBits/8-byte binary, then
    * re-embedded as a literal — the q51 collect-and-rebuild index-
    * artifact shape, and what `might_contain` requires (its filter
    * argument must be a constant or scalar subquery, never a join
    * column). One row crosses the driver, not the shingle set. An empty
    * bench set builds no filter, so the exact join sees all shingles.
    */
  def decontaminateBloom(docs: DataFrame, isBench: Column): DataFrame = {
    def sh(df: DataFrame) = df.select(col("doc_id"),
      explode(distinctShingles(col("text"), DecontamGram)).as("s"))
    val benchSh = sh(docs.filter(isBench)).select(col("s")).distinct()
    val trainSh = sh(docs.filter(!isBench))
    val bloom: Option[Array[Byte]] =
      Option(benchSh.agg(call_function("graft_bloom_agg",
          xxhash64(col("s")), lit(BloomItems), lit(BloomBits)).as("bf"))
        .head().getAs[Array[Byte]]("bf")) // null on an empty bench set
    val candidates = bloom match {
      case Some(bf) =>
        trainSh.filter(call_function("graft_bloom_contains",
          lit(bf), xxhash64(col("s"))))
      case None => trainSh
    }
    // exact verify on the pruned survivors — deliberately NOT broadcast:
    // in the motivating regime the bench set is broadcast-hostile, and
    // post-prune the probe side is small enough that this join is cheap
    // however the planner runs it
    val contaminated = candidates.join(benchSh, Seq("s"), "left_semi")
      .select(col("doc_id")).distinct()
    docs.filter(!isBench)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"))
  }

  /** q96 Gopher-style repetition gates: minimum unique-token ratio,
    * maximum duplicated-bigram fraction, minimum document length.
    */
  val MinUniqRatio = 0.35
  val MaxDupBigram = 0.1
  val MinDocTokens = 20

  /** q113's gate kernel as ONE reusable stateless projection: the
    * q60-language, q61-quality, and q96-repetition predicates (the q90
    * rules verbatim) as a struct Column — shared by the batch funnel and
    * the windowed streaming intake monitor
    * ([[graft.streaming.StatefulOps.funnelMonitor]]). Pure per-row
    * arithmetic — streams verbatim.
    */
  def gateFlags(text: Column): Column = {
    val t = split(text, " ")
    val n = size(t)
    val nStop = TextAnalysis.markerCount(t, TextAnalysis.StopWords)
    // predicted-English ⟺ the en marker count >= every other language's
    // (the argmax chain's first branch) — ONE copy of the rule
    val gLang = TextAnalysis.predictedLang(t) === "en"
    val gQ = least(lit(1.0), n / lit(100.0)) *
      (lit(1.0) - nStop.cast("double") / n) >= MinQuality
    // repetition gate through the one-pass kernel — the same fields q96
    // reports
    val rep = repetitionProfile(text)
    val gRep = rep.getField("uniq_frac") >= MinUniqRatio &&
      rep.getField("dup2_frac") <= MaxDupBigram &&
      rep.getField("n_tok") >= MinDocTokens
    struct(gLang.as("g_lang"), gQ.as("g_q"), gRep.as("g_rep"))
  }

  /** q96's repetition profile — struct(n_tok, uniq_frac, dup2_frac,
    * dup3_frac) — through the codegen'd one-pass kernel, with the
    * interpreted shingle-chain form's null-text semantics mirrored
    * exactly: that form turns a NULL token array into an EMPTY shingle
    * array, so the dup fractions are 0.0 on NULL text while
    * n_tok/uniq_frac stay NULL — hence the coalesce on the dup fields
    * only. Parity (fixture docs + spacing edges + NULL) is pinned in
    * TextKernelSpec.
    */
  def repetitionProfile(text: Column): Column = {
    val c = call_function("graft_repetition", text)
    struct(
      c.getField("n_tok").as("n_tok"),
      c.getField("uniq_frac").as("uniq_frac"),
      coalesce(c.getField("dup2_frac"), lit(0.0)).as("dup2_frac"),
      coalesce(c.getField("dup3_frac"), lit(0.0)).as("dup3_frac"))
  }

  /** DISTINCT word k-shingles of `text`: the native graft_shingles
    * kernel (straight-line Java — shingle construction is the dominant
    * scan cost of the overlap/decontamination family; parity spec in
    * TextKernelSpec). Only used where per-doc distinctness is
    * semantics-free — every consumer is set-shaped (DISTINCT, semi-join
    * probe, collect_set).
    */
  private def distinctShingles(text: Column, k: Int): Column =
    call_function("graft_shingles", text, lit(k))

  /** [[distinctShingles]] hashed to 60-bit md5 prefixes — the q110
    * index key (8-byte shuffle keys instead of k-word strings; the
    * q41/q43 shuffle-key design). Dedup is on the STRING; the consumer
    * oracle hashes identically, so parity is unconditional.
    */
  private def distinctShinglesH60(text: Column, k: Int): Column =
    call_function("graft_shingles_h60", text, lit(k))

  /** q123's window derivation, shared with the span index + streaming
    * gate: the (doc_id, h) winnowing-anchored SpanTokens-token window
    * hashes of a (doc_id, text, …) frame. Anchor selection and window
    * hashing are one per-row scan-stage kernel — no shuffle here; consumers
    * decide the partitioning. Content-defined anchoring (see
    * SpanAnchorMod) is the property the whole family rests on: two
    * copies of a run pick identical interior anchors at any offset.
    */
  def spanWindows(docs: DataFrame): DataFrame =
    spanWindowsPos(docs).select(col("doc_id"), col("h"))

  /** [[spanWindows]] with the 0-based window start position kept —
    * q126's scrub needs to know WHERE the duplicated window sits.
    * Consumers that only need (doc_id, h) go through [[spanWindows]];
    * column pruning drops `i` before any shuffle there, so the narrower
    * consumers pay nothing for the shared derivation.
    */
  def spanWindowsPos(docs: DataFrame): DataFrame =
    // fused kernel: anchor selection + window hashing in one codegen'd
    // pass (short docs yield the empty array, so they emit no rows)
    docs.select(col("doc_id"),
        explode(call_function("graft_span_windows", col("text"),
          lit(SpanTokens), lit(SpanAnchorMod))).as("p"))
      .select(col("doc_id"), col("p").getField("i").as("i"),
        col("p").getField("h").as("h"))

  /** The static span-index artifact: the corpus's DISTINCT window
    * hashes — 8 bytes per ~SpanAnchorMod corpus tokens, the precomputed
    * side of [[spanProbe]] (the q106 bandIndex pattern: build once from
    * the training corpus, probe every incoming batch against it).
    */
  def spanIndex(docs: DataFrame): DataFrame =
    spanWindows(docs).select(col("h")).distinct()

  /** Probe a batch of (doc_id, text, …) against a static [[spanIndex]]:
    * per doc, how many of its windows already exist in the corpus
    * (dup_win), with keep = no overlap — the exact-substring
    * contamination/dup gate at intake. One window shuffle on h for the
    * semi-join; per-doc rollups; anchor-less docs re-enter with zeros
    * and keep = true.
    */
  def spanProbe(batch: DataFrame, idx: DataFrame): DataFrame = {
    val wins = spanWindows(batch)
    val perDoc = wins
      .join(idx, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("dup_win"))
    val nWin = wins.groupBy(col("doc_id")).agg(count(lit(1)).as("n_win"))
    batch.select(col("doc_id"))
      .join(nWin, Seq("doc_id"), "left")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_win"), lit(0L)).cast("int").as("n_win"),
        coalesce(col("dup_win"), lit(0L)).cast("int").as("dup_win"),
        (coalesce(col("dup_win"), lit(0L)) === 0).as("keep"))
  }

  def defs: ListMap[String, Q] = ListMap(

    "q90_pipeline" -> Q(
      (s, d) => {
        val gated = q90Gated(s, d)
        // exact dedup among survivors: canonical = min doc_id per text
        // hash; n_dups records how many exact copies collapsed
        val canon = gated
          .groupBy(sha2(col("text"), 256).as("h"))
          .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"),
            first(col("quality")).as("quality"))
        // analysis columns for the kept docs: re-join text by canonical
        // id instead of dragging the payload through the dedup shuffle
        canon.join(gated.select(col("doc_id"), col("text")), Seq("doc_id"))
          .select(
            col("doc_id"),
            col("n_dups"),
            round(col("quality"), 4).as("quality"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
              .as("lex_tokens"),
            md5(concat_ws(" ",
              array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp"))
          // build observability (the R15 pattern applied to the corpus
          // verb): kept-unique count, gate-survivor count (Σ n_dups
          // recovers it without a second scan) and the exact-dup
          // collapse delta, as a named observed metric per action. The
          // observe sits on the single-path output — `gated` appears
          // twice in this plan, and duplicate metric names in one plan
          // fail analysis (see dupClusters).
          .observe("corpus_build",
            count(lit(1)).as("n_unique"),
            sum(col("n_dups")).as("n_gate_survivors"),
            (sum(col("n_dups")) - count(lit(1))).as("n_exact_dups_collapsed"))
      },
      Some(s"""WITH f AS (SELECT doc_id, text,
              |    len(string_split(text, ' ')) AS n_tokens,
              |    len(list_filter(string_split(text, ' '), t -> ${TextAnalysis.orCondSql("t", TextAnalysis.StopWords)})) AS n_stop,
              |    ${TextAnalysis.markers.map { case (l, ws) => s"len(list_filter(string_split(text, ' '), t -> ${TextAnalysis.orCondSql("t", ws)})) AS s_$l" }.mkString(",\n    ")}
              |  FROM documents),
              |gated AS (SELECT doc_id, text,
              |    least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0)
              |      * (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / n_tokens) AS quality
              |  FROM f
              |  WHERE s_en >= s_es AND s_en >= s_fr AND s_en >= s_de
              |    AND least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0)
              |      * (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / n_tokens) >= $MinQuality),
              |canon AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dups,
              |    first(quality) AS quality
              |  FROM gated GROUP BY sha256(text))
              |SELECT c.doc_id, c.n_dups, round(c.quality, 4) AS quality,
              |  CAST(len(regexp_extract_all(g.text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS lex_tokens,
              |  md5(array_to_string(list_sort(list_distinct(string_split(lower(g.text), ' '))), ' ')) AS fp
              |FROM canon c JOIN gated g ON g.doc_id = c.doc_id""".stripMargin),
      headline = true),

    // ---- corpus length statistics per language — the profile every
    //      training-data build starts from. Determinism by construction:
    //      token counts are ints (sums exact at any parallelism),
    //      variance is derived from the exact integer Σx/Σx² with one
    //      double division, and the percentiles are QUARTILES on
    //      purpose — 0.25/0.5/0.75 are binary-exact fractions, so the
    //      R-7 interpolation over integer values is exact double
    //      arithmetic in both engines (p90/p99 would interpolate with a
    //      non-representable 0.9 and could differ in the last bit).
    "q91_corpus_stats" -> Q(
      (s, d) => {
        val t = Tables.spread(Tables(s, d, "documents"))
          .select(col("lang"), size(split(col("text"), " ")).as("n_tok"))
        t.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("total_tokens"),
            sum(col("n_tok").cast("long") * col("n_tok")).as("sq"),
            expr("percentile(n_tok, array(0.25D, 0.5D, 0.75D))").as("qs"))
          .select(col("lang"), col("n_docs"), col("total_tokens"),
            element_at(col("qs"), 1).as("p25"),
            element_at(col("qs"), 2).as("p50"),
            element_at(col("qs"), 3).as("p75"),
            // square in DOUBLE: BIGINT*BIGINT wraps silently in Spark
            // (non-ANSI) at ~3e9 total tokens — real at 100 TB corpora —
            // while DuckDB widens to HUGEINT; double² keeps bit parity.
            round((col("sq").cast("double") -
              col("total_tokens").cast("double") * col("total_tokens").cast("double") /
                col("n_docs").cast("double")) /
              (col("n_docs") - 1).cast("double"), 4).as("var_tokens"))
      },
      // CAST(sum(..) AS BIGINT): DuckDB sums BIGINT into HUGEINT, which
      // the compare layer renders as float64 ("3549.0") vs Spark's int64
      // ("3549") — identical values, mismatched hash (r5 red row).
      Some("""WITH t AS (SELECT lang, len(string_split(text, ' ')) AS n_tok FROM documents)
             |SELECT lang, count(*) AS n_docs,
             |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
             |  quantile_cont(n_tok, 0.25) AS p25,
             |  quantile_cont(n_tok, 0.5) AS p50,
             |  quantile_cont(n_tok, 0.75) AS p75,
             |  round((CAST(sum(n_tok * n_tok) AS DOUBLE)
             |    - CAST(sum(n_tok) AS DOUBLE) * CAST(sum(n_tok) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             |    / CAST(count(*) - 1 AS DOUBLE), 4) AS var_tokens
             |FROM t GROUP BY lang""".stripMargin)),

    // ---- stratified sampling: k docs per language, selected by
    //      hash-ranking — md5 of the id as the sort key makes the
    //      "random" sample deterministic, reproducible across runs and
    //      engines, and stable under repartitioning (the properties a
    //      corpus-build sample must have; a seeded RNG gives none of
    //      them across engines). At scale this is one ranking window
    //      per stratum — no global sort, no collect.
    //      Rank key = md5-prefix u32 (the q93/q127 deterministic-coin
    //      pattern), so the per-stratum top-N rides the graft_topk
    //      bounded heap: every partition collapses to ≤ N candidates
    //      map-side BEFORE the per-stratum shuffle — the old ranking
    //      window shuffled the WHOLE corpus into per-stratum sorts (the
    //      difference at 100 TB between moving N×#strata rows and
    //      moving everything).
    "q92_stratified_sample" -> Q(
      (s, d) => {
        val h = expr(
          "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)")
        val docs = Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("lang"), h.as("h"))
        docs.groupBy(col("lang"))
          .agg(call_function("graft_topk", (-col("h")).cast("double"),
            col("doc_id"), lit(SamplePerStratum)).as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("t.id").as("doc_id"), col("lang"),
            (col("pos") + 1).cast("int").as("rn"))
      },
      Some(s"""SELECT doc_id, lang, CAST(rn AS INT) AS rn FROM (
              |  SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
              |    ORDER BY CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
              |      AS BIGINT), doc_id) AS rn
              |  FROM documents) WHERE rn <= $SamplePerStratum""".stripMargin),
      headline = false),

    // ---- weighted source mixing: keep each doc with its source's
    //      sampling rate, decided by the doc's own hash fraction —
    //      deterministic Bernoulli via hash(id)/2^32 < weight, the
    //      standard reproducible down-sampling for corpus mixture
    //      ratios. Stateless per-row predicate: evaluates in the scan
    //      stage, no shuffle at all.
    "q93_source_mix" -> Q(
      (s, d) => {
        val frac = expr(
          "conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) / 4294967296.0")
        val weight = expr(s"CASE WHEN source IN ('src0','src1','src2') THEN 1.0 " +
          "WHEN source IN ('src3','src4','src5') THEN 0.5 ELSE 0.25 END")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("source"), frac.as("frac"), weight.as("w"))
          .filter(col("frac") < col("w"))
          .select(col("doc_id"), col("source"))
      },
      Some("""SELECT doc_id, source FROM (
             |  SELECT doc_id, source,
             |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
             |      AS DOUBLE) / 4294967296.0 AS frac,
             |    CASE WHEN source IN ('src0','src1','src2') THEN 1.0
             |         WHEN source IN ('src3','src4','src5') THEN 0.5 ELSE 0.25 END AS w
             |  FROM documents) WHERE frac < w""".stripMargin)),

    // ---- mixture PLANNING: q93 applies per-source sampling rates;
    //      this derives them from a token budget. Given target mixture
    //      weights and a budget of MixBudgetFrac of the corpus's tokens,
    //      emit per source: available docs/tokens, the token target
    //      (budget × weight share), the sampling rate (capped at 1) and
    //      the epoch count (>1 ⇒ the source must repeat to meet its
    //      share — the signal a data-mixing run actually needs). One
    //      tiny per-source aggregate + a broadcast 1-row total: the
    //      corpus is touched once, nothing driver-side. The 7×1-row
    //      nested-loop join is intentional (PlanSpec allowlist).
    "q107_mixture_plan" -> Q(
      (s, d) => {
        val byedrc = Tables.spread(Tables(s, d, "documents"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
          .withColumn("w", expr(
            "CAST(CASE WHEN source IN ('src0','src1','src2') THEN 1.0 " +
              "WHEN source IN ('src3','src4','src5') THEN 0.5 ELSE 0.25 END AS DOUBLE)"))
          // #sources-grain plan persists ONCE: the budget frame and the
          // rate rows both re-ran the corpus token sum before round 16
          // (widened duplicate-aggregate lint finding)
          .persistTracked
        val tot = byedrc.agg(
          sum(col("tokens")).cast("double").as("all_toks"),
          sum(col("w")).as("sw"))
        // 4-decimal HALF_UP via floor of exact IEEE ops (the q105 form) —
        // round() is banker's-vs-HALF_UP divergent between engines on the
        // dense double grid these derived ratios live on. nullif guards a
        // source whose texts are all NULL (tokens = NULL/0): its rate and
        // epochs are defined as NULL, not a divide-by-zero infinity.
        val tgt = s"all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw"
        def r4(e: String) = s"floor(($e) * 10000.0D + 0.5D) / 10000.0D"
        val perTok = s"($tgt) / CAST(nullif(tokens, 0L) AS DOUBLE)"
        byedrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tokens"),
            expr(r4(tgt)).as("target_tokens"),
            // CASE, not bare least(): both engines' least() IGNORES nulls,
            // so a zero-token source would get rate=1.0 next to epochs=NULL.
            expr(r4(s"CASE WHEN ($perTok) IS NULL THEN CAST(NULL AS DOUBLE) " +
              s"ELSE least(CAST(1.0 AS DOUBLE), $perTok) END")).as("rate"),
            expr(r4(perTok)).as("epochs"))
      },
      // CAST(sum(..) AS BIGINT): DuckDB sums BIGINT into HUGEINT, which
      // the compare layer renders as float64 vs Spark's int64 (the r5
      // q91 lesson — identical values, mismatched hash).
      Some(s"""WITH t AS (SELECT source, count(*) AS n_docs,
              |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, n_docs, tokens,
              |    CAST(CASE WHEN source IN ('src0','src1','src2') THEN 1.0
              |         WHEN source IN ('src3','src4','src5') THEN 0.5
              |         ELSE 0.25 END AS DOUBLE) AS w
              |  FROM t),
              |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS all_toks,
              |    sum(w) AS sw FROM w)
              |SELECT source, n_docs, tokens,
              |  floor((all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw)
              |    * 10000.0 + 0.5) / 10000.0 AS target_tokens,
              |  floor((CASE WHEN nullif(tokens, 0) IS NULL THEN CAST(NULL AS DOUBLE)
              |      ELSE least(CAST(1.0 AS DOUBLE),
              |        all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw
              |          / CAST(tokens AS DOUBLE)) END)
              |    * 10000.0 + 0.5) / 10000.0 AS rate,
              |  floor((all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw
              |      / CAST(nullif(tokens, 0) AS DOUBLE))
              |    * 10000.0 + 0.5) / 10000.0 AS epochs
              |FROM w CROSS JOIN tot""".stripMargin)),

    // ---- temperature mixture plan (α = 0.5): q107 plans from GIVEN
    //      weights; this DERIVES them with temperature sampling — the
    //      multilingual scheme where weight ∝ tokens^α flattens the
    //      head and boosts the tail (α=1 proportional, α=0 uniform).
    //      α is fixed at 0.5 because sqrt is a correctly-rounded
    //      IEEE-754 primitive with identical results in both engines,
    //      where a float pow is not; the weight is then QUANTIZED —
    //      floor(sqrt·2^20) BIGINT — so the weight SUM is order-free
    //      integer addition (a raw double sum of irrational sqrts would
    //      hash-diverge on partition order — the q51 fixed-point rule).
    //      Same 100 TB shape as q107: one #sources-grain aggregate × a
    //      broadcast 1-row total; the intentional 1-row BNLJ is
    //      allowlisted in PlanSpec.
    "q137_mixture_temperature" -> Q(
      (s, d) => {
        // NULL-text docs count 0 tokens EXPLICITLY: Spark's size(NULL)
        // is -1 under the legacy default while DuckDB's sum skips the
        // NULL row — the only formulation both engines agree on is the
        // spelled-out CASE (q107/q121 carry the latent asymmetric form;
        // fixture texts are never NULL, so all three hash alike today)
        val byedrc = Tables.spread(Tables(s, d, "documents"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("text").isNotNull,
              size(split(col("text"), " ")).cast("long")).otherwise(0L))
              .as("tokens"))
          .withColumn("wfp", expr(
            s"CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * $DriftFp.0D) AS BIGINT)"))
          // #sources-grain plan persists ONCE (q107's rule)
          .persistTracked
        val tot = byedrc.agg(
          sum(col("tokens")).cast("double").as("all_toks"),
          sum(col("wfp")).as("swfp"))
        val share = "(CAST(wfp AS DOUBLE) / CAST(swfp AS DOUBLE))"
        val tgt = s"all_toks * CAST($MixBudgetFrac AS DOUBLE) * $share"
        def r4(e: String) = s"floor(($e) * 10000.0D + 0.5D) / 10000.0D"
        val perTok = s"($tgt) / CAST(nullif(tokens, 0L) AS DOUBLE)"
        byedrc.crossJoin(broadcast(tot))
          .select(col("source"), col("n_docs"), col("tokens"),
            expr(r4(share)).as("share"),
            expr(r4(tgt)).as("target_tokens"),
            expr(r4(s"CASE WHEN ($perTok) IS NULL THEN CAST(NULL AS DOUBLE) " +
              s"ELSE least(CAST(1.0 AS DOUBLE), $perTok) END")).as("rate"),
            expr(r4(perTok)).as("epochs"))
      },
      Some(s"""WITH t AS (SELECT source, count(*) AS n_docs,
              |    CAST(sum(CASE WHEN text IS NULL THEN 0
              |      ELSE len(string_split(text, ' ')) END) AS BIGINT) AS tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, n_docs, tokens,
              |    CAST(floor(sqrt(CAST(tokens AS DOUBLE)) * $DriftFp.0) AS BIGINT) AS wfp
              |  FROM t),
              |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS all_toks,
              |    CAST(sum(wfp) AS BIGINT) AS swfp FROM w)
              |SELECT source, n_docs, tokens,
              |  floor((CAST(wfp AS DOUBLE) / CAST(swfp AS DOUBLE))
              |    * 10000.0 + 0.5) / 10000.0 AS share,
              |  floor((all_toks * CAST($MixBudgetFrac AS DOUBLE)
              |      * CAST(wfp AS DOUBLE) / CAST(swfp AS DOUBLE))
              |    * 10000.0 + 0.5) / 10000.0 AS target_tokens,
              |  floor((CASE WHEN nullif(tokens, 0) IS NULL THEN CAST(NULL AS DOUBLE)
              |      ELSE least(CAST(1.0 AS DOUBLE),
              |        all_toks * CAST($MixBudgetFrac AS DOUBLE)
              |          * CAST(wfp AS DOUBLE) / CAST(swfp AS DOUBLE)
              |          / CAST(tokens AS DOUBLE)) END)
              |    * 10000.0 + 0.5) / 10000.0 AS rate,
              |  floor((all_toks * CAST($MixBudgetFrac AS DOUBLE)
              |      * CAST(wfp AS DOUBLE) / CAST(swfp AS DOUBLE)
              |      / CAST(nullif(tokens, 0) AS DOUBLE))
              |    * 10000.0 + 0.5) / 10000.0 AS epochs
              |FROM w CROSS JOIN tot""".stripMargin),
      headline = true),

    // ---- token-budget SELECTION: keep each source's best documents
    //      (by q119's quality signal) until a hard per-source token
    //      budget is spent — the deterministic mixture-EXECUTION step
    //      the family lacked: q107 plans per-source RATES, q121
    //      materializes a Bernoulli rate sample (every doc has the same
    //      keep probability), q119 phases the corpus — none of them
    //      answers "give me this source's best 40% of tokens". Rule:
    //      rank a source's docs by (quality DESC, doc_id), keep while
    //      the tokens accumulated BEFORE the doc are under the budget
    //      (so the doc that crosses the line is kept and a non-empty
    //      source always contributes >= 1 doc when its budget > 0).
    //      100 TB shape — the naive form is a per-source global sort
    //      (one hot source = one giant sort partition). This builder
    //      instead pre-cuts on the q119 quality-bucket HISTOGRAM
    //      ((source x <=1024 buckets) grain, broadcastable): a bucket
    //      whose tokens fit entirely under the remaining budget is
    //      selected WHOLESALE, a bucket past the budget is rejected
    //      wholesale, and only the ONE boundary bucket per source pays
    //      the exact ranked running-sum window — at any corpus size
    //      the sort touches ~1/1024th of a source, not the source.
    //      The DuckDB oracle runs the NAIVE global-window rule, so the
    //      hash match IS the proof the bucket pre-cut is exact
    //      (bucket = floor(quality*1024) is monotone in quality; ties
    //      cannot straddle buckets).
    "q248_token_budget_select" -> Q(
      (s, d) => q248Tagged(s, d)
        .select(col("source"), col("doc_id"), col("n_tok"), col("selected")),
      Some("""WITH f AS (SELECT doc_id, source,
             |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             |    CAST(len(list_filter(string_split(text, ' '),
             |      t -> t = 'the' OR t = 'a')) AS BIGINT) AS n_stop
             |  FROM documents),
             |q AS (SELECT doc_id, source, n_tok,
             |    least(1.0, CAST(n_tok AS DOUBLE) / 100.0)
             |      * (1.0 - CAST(n_stop AS DOUBLE) / n_tok) AS q FROM f),
             |b AS (SELECT source, CAST(sum(n_tok) AS BIGINT) * 2 // 5 AS budget
             |  FROM q GROUP BY source),
             |r AS (SELECT q.*, CAST(coalesce(sum(n_tok) OVER (
             |      PARTITION BY source ORDER BY q DESC, doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             |    AS cum_before FROM q)
             |SELECT r.source, r.doc_id, r.n_tok,
             |  (r.cum_before < b.budget) AS selected
             |FROM r JOIN b USING (source)""".stripMargin)),

    // ---- sequence packing: assign docs to fixed-token-budget training
    //      bins — greedy by cumulative token count in a deterministic
    //      hash order (the common "concat then cut" pretraining
    //      pack, bin = how many full budgets precede the doc's end).
    //      Packing runs PER LANGUAGE stratum: the running-sum window is
    //      partitioned, so no stream of 100 TB ever sorts globally; at
    //      real scale the stratum key is (lang, shard) with as many
    //      shards as parallelism requires — same plan shape.
    "q94_sequence_pack" -> Q(
      (s, d) => {
        val order = Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).as("n_tok"))
          .withColumn("cum", sum(col("n_tok"))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("doc_id"), col("lang"), col("n_tok"),
            floor((col("cum") - 1) / PackBudget).cast("int").as("bin"))
      },
      Some(s"""SELECT doc_id, lang, CAST(n_tok AS INT) AS n_tok,
              |  CAST(floor((cum - 1) / $PackBudget) AS INT) AS bin FROM (
              |  SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok,
              |    sum(len(string_split(text, ' '))) OVER (PARTITION BY lang
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM documents)""".stripMargin),
      headline = false),

    // ---- benchmark decontamination: drop training docs that share any
    //      word 4-gram with the held-out benchmark set (the standard
    //      n-gram-overlap decontamination pretraining corpora run
    //      against eval sets). The benchmark here is the deterministic
    //      doc_id % 97 slice — at scale it's the real eval suite, which
    //      is always tiny relative to the corpus, so its distinct
    //      shingle set BROADCASTS: the training side's shingles are
    //      generated in the scan stage, probed against the broadcast
    //      hash set, and only the (rare) contaminated doc_ids ever
    //      shuffle. The corpus itself never shuffles at all. The
    //      contaminated-id broadcast is guarded by a bounded size probe
    //      (see [[decontaminate]]) so a pathological corpus falls back
    //      to a shuffle anti-join instead of overflowing the driver.
    "q95_decontaminate" -> Q(
      (s, d) => decontaminate(
        Tables.spread(Tables(s, d, "documents")), col("doc_id") % 97 === 0),
      Some(DecontamOracle)),

    // ---- within-document repetition quality (the Gopher-rule family):
    //      unique-token ratio and duplicated-bigram/trigram fractions,
    //      plus the keep verdict. Pure per-row kernel arithmetic — no
    //      shuffle, evaluates in the scan stage at any corpus size. The
    //      ratios stay raw IEEE doubles (identical expression trees on
    //      both engines) — rounding per-row would re-introduce the
    //      HALF_UP divergence the verify notes warn about.
    "q96_repetition_quality" -> Q(
      (s, d) => {
        // one codegen'd O(n) kernel pass per row (TextKernelSpec parity)
        val c = repetitionProfile(col("text"))
        val n = c.getField("n_tok")
        val uniq = c.getField("uniq_frac")
        val dup2 = c.getField("dup2_frac")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), n.as("n_tok"), uniq.as("uniq_tok_ratio"),
            dup2.as("dup_bigram_frac"),
            c.getField("dup3_frac").as("dup_trigram_frac"),
            (uniq >= MinUniqRatio && dup2 <= MaxDupBigram &&
              n >= MinDocTokens).as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |m AS (SELECT doc_id,
              |    len(t) AS n_tok,
              |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_tok_ratio,
              |    CASE WHEN len(t) >= 2 THEN 1.0 - CAST(len(list_distinct(
              |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
              |        AS DOUBLE) / (len(t) - 1) ELSE 0.0 END AS dup_bigram_frac,
              |    CASE WHEN len(t) >= 3 THEN 1.0 - CAST(len(list_distinct(
              |        list_transform(range(1, len(t) - 1),
              |          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])))
              |        AS DOUBLE) / (len(t) - 2) ELSE 0.0 END AS dup_trigram_frac
              |  FROM t)
              |SELECT doc_id, CAST(n_tok AS INT) AS n_tok, uniq_tok_ratio,
              |  dup_bigram_frac, dup_trigram_frac,
              |  (uniq_tok_ratio >= $MinUniqRatio AND dup_bigram_frac <= $MaxDupBigram
              |    AND n_tok >= $MinDocTokens) AS keep
              |FROM m""".stripMargin)),

    // ---- incremental-batch dedup: admit only incoming docs whose text
    //      is new — not present in the already-ingested corpus and not
    //      duplicated within the batch (first doc_id wins). This is the
    //      shape every continuously-fed corpus runs on each delivery.
    //      Both sides reduce to 32-byte sha2 keys before the anti-join,
    //      and the incoming side collapses map-side first; in a real
    //      deployment the existing-corpus hash set is written bucketed
    //      by h, making the recurring anti-join shuffle-free on the big
    //      side.
    "q97_incremental_dedup" -> Q(
      (s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        exactDedupGate(
          docs.filter(col("doc_id") % 10 >= 8),
          docs.filter(col("doc_id") % 10 < 8)
            .select(sha2(col("text"), 256).as("h")).distinct())
      },
      Some("""WITH existing AS (
             |  SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 10 < 8),
             |incoming AS (
             |  SELECT sha256(text) AS h, min(doc_id) AS doc_id,
             |    count(*) AS n_in_batch
             |  FROM documents WHERE doc_id % 10 >= 8 GROUP BY sha256(text))
             |SELECT i.doc_id, i.n_in_batch FROM incoming i
             |WHERE i.h NOT IN (SELECT h FROM existing)""".stripMargin),
      headline = true,
      probe = Some((s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val existing = docs.filter(col("doc_id") % 10 < 8)
          .select(sha2(col("text"), 256).as("h")).distinct()
          .persistTracked
        existing.count()
        () => exactDedupGate(docs.filter(col("doc_id") % 10 >= 8), existing)
      })),

    // ---- PII scrubbing: regex redaction of emails / IPv4s / phone
    //      numbers — the compliance pass every shipped corpus runs.
    //      Stateless per-row regexp_replace chain: evaluates in the scan
    //      stage, zero shuffles at any corpus size. The fixture corpus
    //      is synthetic words with no PII, so each row PLANTS a
    //      deterministic email/IP/phone derived from its doc_id (the
    //      q71 planted-input pattern): the scrubber provably fires on
    //      every row, the counts pin each regex's match semantics, and
    //      the md5 of the scrubbed text pins the replacement exactly.
    //      Patterns deliberately avoid lookarounds and backtracking-
    //      dependent forms so Java regex (Spark) and RE2 (DuckDB) agree.
    "q98_pii_scrub" -> Q(
      (s, d) => {
        // Column API throughout — regex literals must NOT pass through the
        // SQL parser, whose string literals eat backslash escapes (\b, \d)
        val planted = concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com via "),
          lit("10."), (col("doc_id") % 256).cast("string"), lit(".0."),
          ((col("doc_id") * 7) % 256).cast("string"),
          lit(" call 555-"), lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
        val afterEmail = regexp_replace(planted, PiiEmailRe, "<EMAIL>")
        val afterIp = regexp_replace(afterEmail, PiiIpRe, "<IP>")
        val clean = regexp_replace(afterIp, PiiPhoneRe, "<PHONE>")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"),
            size(regexp_extract_all(planted, lit(PiiEmailRe), lit(0))).as("n_email"),
            // IPs counted AFTER email redaction — digit runs inside a
            // matched email must not double-count (same order as the scrub)
            size(regexp_extract_all(afterEmail, lit(PiiIpRe), lit(0))).as("n_ip"),
            size(regexp_extract_all(afterIp, lit(PiiPhoneRe), lit(0))).as("n_phone"),
            md5(clean).as("clean_md5"))
      },
      Some(s"""WITH p AS (SELECT doc_id, ${plantedSql} AS planted FROM documents),
              |r AS (SELECT doc_id, planted,
              |    regexp_replace(planted, '$PiiEmailRe', '<EMAIL>', 'g') AS after_email
              |  FROM p),
              |r2 AS (SELECT doc_id, planted, after_email,
              |    regexp_replace(after_email, '$PiiIpRe', '<IP>', 'g') AS after_ip
              |  FROM r)
              |SELECT doc_id,
              |  CAST(len(regexp_extract_all(planted, '$PiiEmailRe')) AS INT) AS n_email,
              |  CAST(len(regexp_extract_all(after_email, '$PiiIpRe')) AS INT) AS n_ip,
              |  CAST(len(regexp_extract_all(after_ip, '$PiiPhoneRe')) AS INT) AS n_phone,
              |  md5(regexp_replace(after_ip, '$PiiPhoneRe', '<PHONE>', 'g')) AS clean_md5
              |FROM r2""".stripMargin)),

    // ---- deterministic train/val/test split: every doc assigned to a
    //      named slice by its own hash fraction (q93's reproducible-
    //      Bernoulli idiom, here as a total partition). The properties a
    //      corpus split must have — stable under re-runs, re-sharding,
    //      and engine changes; no RNG state — come from hashing the id,
    //      not sampling. Stateless per-row CASE: scan-stage at any
    //      scale; the per-slice stats are one tiny 3-group aggregate.
    "q99_hash_split" -> Q(
      (s, d) => {
        val frac = expr(
          "conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) / 4294967296.0")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), size(split(col("text"), " ")).as("n_tok"),
            when(frac < TrainFrac, "train")
              .when(frac < ValCut, "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
            min(col("doc_id")).as("first_id"))
      },
      Some(s"""WITH a AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
              |    CASE WHEN frac < $TrainFrac THEN 'train'
              |         WHEN frac < $ValCut THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM (SELECT doc_id, text,
              |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      AS DOUBLE) / 4294967296.0 AS frac FROM documents))
              |SELECT split, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |  min(doc_id) AS first_id
              |FROM a GROUP BY split""".stripMargin)),

    // ---- GROUP-integral train/val/test split: q99 hashes the DOC id,
    //      which lets one author/source straddle train and test — the
    //      classic leakage vector when a source's documents resemble
    //      each other. Hashing the SOURCE key instead puts every doc of
    //      a group in one split by construction (the spec re-proves it
    //      from the output grain). The integrity this buys is only
    //      group-level — near-dups ACROSS sources still leak, which is
    //      exactly what q173 measures on top of this assignment.
    //      100 TB shape: scan-stage coin (no join against a group
    //      table), one #splits-grain aggregate; count(DISTINCT source)
    //      re-aggregates at ≤ #sources grain.
    "q172_group_split" -> Q(
      (s, d) => {
        val frac = expr(
          "conv(substr(md5(source), 1, 8), 16, 10) / 4294967296.0")
        // two-level aggregate: the corpus-sized phase carries only LONG
        // buffers (count/sum) at (split, source) grain so it stays in
        // HashAggregate — a flat countDistinct+min(source) pulls a
        // STRING min buffer into the corpus phase and the whole scan
        // falls to SortAggregate (sorts the corpus per partition). The
        // #splits×#sources-grain finish computes the distinct count
        // (groups are distinct by construction) and the string min.
        Tables.spread(Tables(s, d, "documents"))
          .select(col("source"), size(split(col("text"), " ")).as("n_tok"),
            when(frac < GroupTrainFrac, "train")
              .when(frac < GroupValCut, "val")
              .otherwise("test").as("split"))
          .groupBy(col("split"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_tok")).as("tok"))
          .groupBy(col("split"))
          .agg(count(lit(1)).as("n_sources"),
            sum(col("n")).as("n_docs"),
            sum(col("tok")).as("total_tokens"),
            min(col("source")).as("first_source"))
      },
      Some(s"""WITH a AS (SELECT source, len(string_split(text, ' ')) AS n_tok,
              |    CASE WHEN frac < $GroupTrainFrac THEN 'train'
              |         WHEN frac < $GroupValCut THEN 'val'
              |         ELSE 'test' END AS split
              |  FROM (SELECT source, text,
              |    CAST(CAST('0x' || substr(md5(source), 1, 8) AS BIGINT)
              |      AS DOUBLE) / 4294967296.0 AS frac FROM documents))
              |SELECT split, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
              |  CAST(count(*) AS BIGINT) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |  min(source) AS first_source
              |FROM a GROUP BY split""".stripMargin)),

    // ---- deterministic training order: the "global shuffle" a
    //      pretraining data loader consumes, expressed scale-first —
    //      never an actual global sort. Each doc hashes to one of
    //      NumShards shards (scan-stage arithmetic); within a shard its
    //      position is its rank by a SECOND independent hash (bytes
    //      9–16 of the md5 — disjoint from the shard's bytes 1–8, so
    //      shard and order don't correlate). One partitioned window per
    //      shard = one shuffle on an 8-byte key; shards stream to the
    //      loader independently and any re-run, re-shard, or engine
    //      change reproduces the identical order. RNG-free by the same
    //      argument as q92/q93/q99.
    "q102_shard_order" -> Q(
      (s, d) => {
        val shard = expr(
          s"CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) % $NumShards AS INT)")
        val orderKey = expr("substr(md5(CAST(doc_id AS STRING)), 9, 8)")
        val w = Window.partitionBy(col("shard")).orderBy(col("ok"), col("doc_id"))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), shard.as("shard"), orderKey.as("ok"))
          .withColumn("pos", (row_number().over(w) - 1).cast("int"))
          .select(col("doc_id"), col("shard"), col("pos"))
      },
      Some(s"""SELECT doc_id, shard, CAST(pos AS INT) AS pos FROM (
              |  SELECT doc_id, shard,
              |    row_number() OVER (PARTITION BY shard
              |      ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 9, 8), doc_id) - 1 AS pos
              |  FROM (SELECT doc_id,
              |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      % $NumShards AS INT) AS shard FROM documents))""".stripMargin)),

    // ---- q95 with a Bloom pre-filter on the probe side — the variant
    //      for when even the benchmark shingle set is broadcast-hostile
    //      (see [[decontaminateBloom]]). No false negatives + exact
    //      verify ⇒ output is IDENTICAL to q95, so it shares q95's
    //      oracle verbatim: the gate proves the probabilistic prune
    //      changed nothing.
    "q100_decontam_bloom" -> Q(
      (s, d) => decontaminateBloom(
        Tables.spread(Tables(s, d, "documents")), col("doc_id") % 97 === 0),
      Some(DecontamOracle)),

    // ---- overlapping fixed-window chunking: the context-window prep
    //      verb (q94 packs whole docs into budgets; this SPLITS long
    //      docs into ChunkTokens-token windows every ChunkStride tokens,
    //      the sliding-window variant used for long-document training
    //      and retrieval indexing). Stateless per-row explode in the
    //      scan stage — zero shuffles at any corpus size; output is
    //      ~n/stride rows per doc, linear in corpus tokens.
    //      Containment guard: a window starting past n − (C − stride) is
    //      fully inside its predecessor (e.g. n = 64: the stride-48 start
    //      would emit tokens 49–64, a subset of chunk 0) — duplicated
    //      training text. A window is emitted only when it extends past
    //      the previous window's end (start + C − stride < n), which with
    //      stride ≥ C/2 can only ever drop the final start, so chunk ids
    //      stay dense and the stride-prefix stitching property holds.
    "q104_chunk_overlap" -> Q(
      (s, d) => {
        val toks = split(col("text"), " ")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
          .select(col("doc_id"), col("toks"), col("n"),
            explode(sequence(lit(0),
              expr(s"((n - 1) div $ChunkStride) * $ChunkStride"),
              lit(ChunkStride))).as("start"))
          .filter(col("start") === 0 ||
            col("start") + lit(ChunkTokens - ChunkStride) < col("n"))
          .select(col("doc_id"),
            expr(s"CAST(start div $ChunkStride AS INT)").as("chunk_id"),
            least(col("n") - col("start"), lit(ChunkTokens)).cast("int").as("n_chunk_tok"),
            array_join(slice(col("toks"), col("start") + 1, lit(ChunkTokens)), " ").as("chunk"))
      },
      Some(s"""SELECT doc_id, CAST(start // $ChunkStride AS INT) AS chunk_id,
              |  CAST(least(n - start, $ChunkTokens) AS INT) AS n_chunk_tok,
              |  array_to_string(toks[start + 1 : least(start + $ChunkTokens, n)], ' ') AS chunk
              |FROM (
              |  SELECT doc_id, toks, n,
              |    unnest(generate_series(0, ((n - 1) // $ChunkStride) * $ChunkStride,
              |      $ChunkStride)) AS start
              |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
              |    len(string_split(text, ' ')) AS n FROM documents))
              |WHERE start = 0 OR start + ${ChunkTokens - ChunkStride} < n""".stripMargin)),

    // ---- int8 symmetric quantization of the embedding column — the
    //      standard index-shrink step before shipping an ANN corpus
    //      (4× smaller than float32, 8× smaller than the double working
    //      form). Per-vector scale = max|x|/127; q = floor(x/scale+0.5)
    //      — floor of exact IEEE ops, NOT round() (HALF_UP vs banker's
    //      divergence, the NOTES rule), so both engines produce
    //      bit-identical codes. Zero shuffles: per-row HOF arithmetic
    //      in the scan stage. Emitted as per-vector audit stats (sum /
    //      min / max / saturation count of the codes) — exact integers,
    //      the form a quantization regression gate actually checks.
    "q105_embed_quantize" -> Q(
      (s, d) => {
        Tables.spread(Tables(s, d, "embeddings"))
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
          .withColumn("scale", expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
          .withColumn("q", expr(
            "CASE WHEN scale = 0.0D THEN transform(v, x -> 0) " +
              "ELSE transform(v, x -> CAST(greatest(-127.0D, least(127.0D, " +
              "floor(x / scale + 0.5D))) AS INT)) END"))
          .select(col("vec_id"), col("scale"),
            expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
            expr("CAST(array_min(q) AS INT)").as("q_min"),
            expr("CAST(array_max(q) AS INT)").as("q_max"),
            expr("CAST(size(filter(q, x -> abs(x) = 127)) AS INT)").as("n_sat"))
      },
      Some("""WITH e AS (SELECT vec_id,
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
             |s AS (SELECT vec_id, v,
             |    list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
             |  FROM e),
             |qq AS (SELECT vec_id, scale,
             |    CASE WHEN scale = 0.0 THEN list_transform(v, x -> 0)
             |         ELSE list_transform(v, x -> CAST(greatest(-127.0, least(127.0,
             |           floor(x / scale + 0.5))) AS INT)) END AS q
             |  FROM s)
             |SELECT vec_id, scale,
             |  CAST(list_aggregate(q, 'sum') AS BIGINT) AS q_sum,
             |  CAST(list_aggregate(q, 'min') AS INT) AS q_min,
             |  CAST(list_aggregate(q, 'max') AS INT) AS q_max,
             |  CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat
             |FROM qq""".stripMargin)),

    // ---- inter-source overlap matrix: exact shingle Jaccard AND
    //      containment for every source pair that shares at least one
    //      OverlapGram-token shingle. This is the corpus-level
    //      contamination view q95/q100 (doc vs benchmark) don't give:
    //      which SOURCES feed each other (a mirror crawled twice, a
    //      subset dump), where containment ≫ jaccard flags a small
    //      source swallowed by a big one. Scale shape: distinct
    //      (source, shingle) first — ONE shuffle keyed by the pair, the
    //      dominant reduction; then per-shingle source SETS via
    //      collect_set — bounded by #sources, the dimension mixture
    //      planning keeps small (tens-hundreds), NOT by corpus size, so
    //      no capped collector is needed; pair expansion is k·(k-1)/2
    //      per shingle with map-side partial counting, and the
    //      per-source totals ride two broadcast joins. No self-join of
    //      the shingle table (which would shuffle it twice).
    "q110_source_overlap" -> Q(
      (s, d) => {
        // shingles ship PRE-HASHED (60-bit md5 prefix, r19): the heavy
        // pass below shuffles 8-byte keys instead of OverlapGram-word
        // strings, and the oracle hashes identically (see
        // distinctShinglesH60) so the hash match is unconditional
        val sh = Tables.spread(Tables(s, d, "documents"))
          .select(col("source"),
            explode(distinctShinglesH60(col("text"), OverlapGram)).as("sh"))
        // ONE heavy pass: per-shingle source sets. collect_set dedups
        // map-side, so no separate distinct shuffle precedes it (probe:
        // the extra exchange cost ~40% on the all-shared corpus). The
        // aggregate is PERSISTED — the round-16 lint showed the
        // "ReuseExchange dedups the shuffle" assumption this comment
        // used to make never held (per-source totals and the pair leg
        // each rebuilt the exploded-shingle aggregate from the scan);
        // the cache is the inverted index both consumers read.
        val bySh = sh.groupBy(col("sh"))
          .agg(sort_array(collect_set(col("source"))).as("ss"))
          .persistTracked
        val perSrc = bySh.select(explode(col("ss")).as("source"))
          .groupBy(col("source")).agg(count(lit(1)).as("n"))
        val pairs = bySh
          .filter(size(col("ss")) >= 2)
          .select(explode(expr(
            "flatten(transform(ss, (x, i) -> transform(" +
              "slice(ss, i + 2, size(ss) - i - 1), " +
              "y -> named_struct('src_a', x, 'src_b', y))))")).as("p"))
          .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
          .agg(count(lit(1)).as("n_common"))
        val na = perSrc.select(col("source").as("src_a"), col("n").as("n_a"))
        val nb = perSrc.select(col("source").as("src_b"), col("n").as("n_b"))
        pairs.join(broadcast(na), Seq("src_a")).join(broadcast(nb), Seq("src_b"))
          .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
            col("n_common"),
            (col("n_common").cast("double") /
              (col("n_a") + col("n_b") - col("n_common")).cast("double"))
              .as("jaccard"),
            (col("n_common").cast("double") /
              least(col("n_a"), col("n_b")).cast("double")).as("containment"))
      },
      Some(s"""WITH t AS (SELECT source, string_split(text, ' ') AS t FROM documents),
              |sh AS (SELECT DISTINCT source,
              |    CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) AS s FROM (
              |  SELECT source, unnest(list_transform(range(1, len(t) - ${OverlapGram - 2}),
              |    i -> ${(0 until OverlapGram).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")})) AS s
              |  FROM t)),
              |per AS (SELECT source, count(*) AS n FROM sh GROUP BY source),
              |inter AS (SELECT a.source AS src_a, b.source AS src_b,
              |    count(*) AS n_common
              |  FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
              |  GROUP BY 1, 2)
              |SELECT i.src_a, i.src_b, pa.n AS n_a, pb.n AS n_b, i.n_common,
              |  CAST(i.n_common AS DOUBLE)
              |    / CAST(pa.n + pb.n - i.n_common AS DOUBLE) AS jaccard,
              |  CAST(i.n_common AS DOUBLE)
              |    / CAST(least(pa.n, pb.n) AS DOUBLE) AS containment
              |FROM inter i JOIN per pa ON i.src_a = pa.source
              |  JOIN per pb ON i.src_b = pb.source""".stripMargin),
      headline = true),

    // ---- per-source gate FUNNEL: how many docs survive each pipeline
    //      stage (q60 language → q61 quality → q96 repetition → exact-
    //      distinct texts), per source — the "where did my data go"
    //      breakdown every corpus-build run reads first, at the grain
    //      (source) where intake problems actually live. All gates are
    //      stateless scan-stage predicates (the q90 rule verbatim), so
    //      the only shuffle is the #sources-grain aggregate; the
    //      distinct-text count is a count(DISTINCT conditional sha2) —
    //      32-byte keys, partial-aggregated. Counts monotone by
    //      construction; retention = distinct survivors / intake.
    "q113_gate_funnel" -> Q(
      (s, d) => {
        val g = gateFlags(col("text"))
        val gLang = g.getField("g_lang")
        val gQ = g.getField("g_q")
        val all = gLang && gQ && g.getField("g_rep")
        Tables.spread(Tables(s, d, "documents"))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(gLang, 1L).otherwise(0L)).as("n_lang"),
            sum(when(gLang && gQ, 1L).otherwise(0L)).as("n_lang_quality"),
            sum(when(all, 1L).otherwise(0L)).as("n_all_gates"),
            countDistinct(when(all, sha2(col("text"), 256))).as("n_distinct_final"))
          .withColumn("retention",
            col("n_distinct_final").cast("double") / col("n_docs").cast("double"))
      },
      Some(s"""WITH m AS (SELECT source, text, string_split(text, ' ') AS t FROM documents),
              |f AS (SELECT source, text,
              |    len(t) AS n_tok,
              |    len(list_filter(t, x -> ${TextAnalysis.orCondSql("x", TextAnalysis.StopWords)})) AS n_stop,
              |    ${TextAnalysis.markers.map { case (l, ws) => s"len(list_filter(t, x -> ${TextAnalysis.orCondSql("x", ws)})) AS s_$l" }.mkString(",\n    ")},
              |    CAST(len(list_distinct(t)) AS DOUBLE) / len(t) AS uniq_ratio,
              |    CASE WHEN len(t) >= 2 THEN 1.0 - CAST(len(list_distinct(
              |        list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])))
              |        AS DOUBLE) / (len(t) - 1) ELSE 0.0 END AS dup2
              |  FROM m),
              |g AS (SELECT source, text,
              |    (s_en >= s_es AND s_en >= s_fr AND s_en >= s_de) AS g_lang,
              |    (least(CAST(1.0 AS DOUBLE), CAST(n_tok AS DOUBLE) / 100.0)
              |      * (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / n_tok)
              |      >= $MinQuality) AS g_q,
              |    (uniq_ratio >= $MinUniqRatio AND dup2 <= $MaxDupBigram
              |      AND n_tok >= $MinDocTokens) AS g_rep
              |  FROM f)
              |SELECT source, count(*) AS n_docs,
              |  CAST(sum(CASE WHEN g_lang THEN 1 ELSE 0 END) AS BIGINT) AS n_lang,
              |  CAST(sum(CASE WHEN g_lang AND g_q THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_lang_quality,
              |  CAST(sum(CASE WHEN g_lang AND g_q AND g_rep THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_all_gates,
              |  count(DISTINCT CASE WHEN g_lang AND g_q AND g_rep
              |    THEN sha256(text) END) AS n_distinct_final,
              |  CAST(count(DISTINCT CASE WHEN g_lang AND g_q AND g_rep
              |      THEN sha256(text) END) AS DOUBLE)
              |    / CAST(count(*) AS DOUBLE) AS retention
              |FROM g GROUP BY source""".stripMargin)),

    // ---- packed-sequence MATERIALIZATION: q94 assigns docs to bins;
    //      this emits the bins as the artifact a training run actually
    //      reads — per (lang, bin): doc count, token count, fill
    //      fraction, and the md5 of the docs concatenated in the same
    //      deterministic hash order with an <eod> separator (the md5
    //      pins the exact byte sequence, not just membership). Scale
    //      shape: the per-lang hash-ordered running-sum window is q94's
    //      accepted design; the assembly adds one (lang, bin)-grain
    //      aggregate whose per-group payload is bounded by PackBudget
    //      tokens (+ one straddling doc) BY CONSTRUCTION — never by
    //      corpus size. fill divides by a power of two: exact in IEEE.
    "q116_pack_sequences" -> Q(
      (s, d) => {
        val order = Window.partitionBy(col("lang"))
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("lang"), col("text"),
            size(split(col("text"), " ")).as("n_tok"),
            md5(col("doc_id").cast("string")).as("ord1"))
          .withColumn("cum", sum(col("n_tok"))
            .over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("bin", floor((col("cum") - 1) / PackBudget).cast("int"))
          .groupBy(col("lang"), col("bin"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_tok")).as("n_tok"),
            (sum(col("n_tok")).cast("double") / lit(PackBudget.toDouble)).as("fill"),
            // ordered reassembly as sort_array + field extraction (both
            // codegen'd) instead of array_sort + transform (both
            // CodegenFallback HOFs): same struct natural ordering, same
            // projected values — TextKernelSpec pins the equivalence
            md5(concat_ws(" <eod> ", expr(
              "sort_array(collect_list(struct(ord1, doc_id, text))).text")))
              .as("seq_md5"))
      },
      Some(s"""WITH p AS (
              |  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tok,
              |    sum(len(string_split(text, ' '))) OVER (PARTITION BY lang
              |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              |      ROWS UNBOUNDED PRECEDING) AS cum
              |  FROM documents),
              |b AS (SELECT doc_id, lang, text, n_tok,
              |    CAST(floor((cum - 1) / $PackBudget) AS INT) AS bin,
              |    md5(CAST(doc_id AS VARCHAR)) AS ord1
              |  FROM p)
              |SELECT lang, bin, count(*) AS n_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS n_tok,
              |  CAST(sum(n_tok) AS DOUBLE) / $PackBudget.0 AS fill,
              |  md5(string_agg(text, ' <eod> ' ORDER BY ord1, doc_id)) AS seq_md5
              |FROM b GROUP BY lang, bin""".stripMargin)),

    // ---- contamination REPORT — the forensics view q95/q100 don't
    //      give: per (training doc, benchmark doc) edge, the count of
    //      shared DecontamGram-shingles and a deterministic sample
    //      shingle (lexicographic min) as evidence. q95 answers "what
    //      survives"; this answers "what leaked from where", which is
    //      what an eval-integrity review actually reads. Scale shape:
    //      the benchmark shingle side is tiny by construction (an eval
    //      suite) and broadcasts; the corpus never shuffles — only the
    //      contamination-sized match set reaches the (train, bench)
    //      aggregate. Its train_id set is exactly the complement of
    //      q95's survivors (spec-pinned).
    "q117_contam_report" -> Q(
      (s, d) => {
        val sh = Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"),
            explode(distinctShingles(col("text"), DecontamGram)).as("sh"))
        val bench = sh.filter(col("doc_id") % 97 === 0)
          .select(col("doc_id").as("bench_id"), col("sh"))
        val train = sh.filter(col("doc_id") % 97 =!= 0)
          .select(col("doc_id").as("train_id"), col("sh"))
        train.join(broadcast(bench), Seq("sh"))
          .groupBy(col("train_id"), col("bench_id"))
          .agg(count(lit(1)).as("n_shared"), min(col("sh")).as("sample_shingle"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
              |sh AS (SELECT DISTINCT doc_id, s FROM (
              |  SELECT doc_id, unnest(list_transform(range(1, len(t) - ${DecontamGram - 2}),
              |    i -> ${(0 until DecontamGram).map(j => if (j == 0) "t[i]" else s"t[i+$j]").mkString(" || ' ' || ")})) AS s
              |  FROM tok)),
              |bench AS (SELECT doc_id AS bench_id, s FROM sh WHERE doc_id % 97 = 0),
              |train AS (SELECT doc_id AS train_id, s FROM sh WHERE doc_id % 97 <> 0)
              |SELECT t.train_id, b.bench_id, count(*) AS n_shared,
              |  min(t.s) AS sample_shingle
              |FROM train t JOIN bench b USING (s)
              |GROUP BY t.train_id, b.bench_id""".stripMargin)),

    // ---- quality-quantile CURRICULUM assignment: bin every doc into
    //      one of 4 training phases by corpus-relative quality quantile
    //      (curriculum learning orders data easy→hard; the phase id is
    //      the artifact a schedule consumes). Exact global quantiles
    //      without a global sort: quality is fixed-point-bucketed
    //      (floor(q·1024) — q is built from exact IEEE divisions, so
    //      the bucket id is bit-identical across engines), the bucket
    //      HISTOGRAM (≤ 1025 rows at any corpus size) yields each
    //      bucket's cumulative count, and phase = floor(4·cum_before /
    //      total) — all-integer, then broadcast-joined back. The only
    //      corpus-sized shuffle is the histogram's map-side-combinable
    //      count; windows run over the 1025-row grain. Ties share a
    //      bucket, so phase populations deviate from N/4 by at most
    //      the largest bucket — the spec pins both properties.
    "q119_curriculum" -> Q(
      (s, d) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks)
        // stopword count through the codegen'd bounded-vocab kernel
        // (markerCount: vals = 1, dflt = 0 counts occurrences exactly)
        val nStop = TextAnalysis.markerCount(toks, Seq("the", "a"))
        val quality = least(lit(1.0), nTok / lit(100.0)) *
          (lit(1.0) - nStop.cast("double") / nTok)
        // doc-grain (id, source, n_tok, bucket) projection persists
        // ONCE: the bucket histogram and the phase re-join both re-ran
        // the quality scoring scan before round 16
        val b = Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("source"), nTok.cast("int").as("n_tok"),
            floor(quality * 1024).as("bucket"))
          .persistTracked
        val wCum = org.apache.spark.sql.expressions.Window
          .orderBy(col("bucket")).rowsBetween(Long.MinValue, -1)
        val wAll = org.apache.spark.sql.expressions.Window
          .rowsBetween(Long.MinValue, Long.MaxValue)
        val phases = b.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
          .select(col("bucket"),
            coalesce(sum(col("n")).over(wCum), lit(0L)).as("cum_before"),
            sum(col("n")).over(wAll).as("total"))
          .select(col("bucket"),
            least(lit(3), expr("(cum_before * 4) div total")).cast("int").as("phase"))
        b.join(broadcast(phases), Seq("bucket"))
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("bucket").cast("int").as("bucket"), col("phase"))
      },
      Some("""WITH f AS (SELECT doc_id, source, len(string_split(text,' ')) AS n_tok,
             |    len(list_filter(string_split(text,' '), t -> t='the' OR t='a')) AS n_stop
             |  FROM documents),
             |q AS (SELECT doc_id, source, n_tok,
             |    least(1.0, CAST(n_tok AS DOUBLE)/100.0)
             |      * (1.0 - CAST(n_stop AS DOUBLE)/n_tok) AS quality FROM f),
             |b AS (SELECT doc_id, source, n_tok,
             |    CAST(floor(quality*1024) AS BIGINT) AS bucket FROM q),
             |h AS (SELECT bucket, count(*) AS n FROM b GROUP BY bucket),
             |cumh AS (SELECT bucket,
             |    CAST(coalesce(sum(n) OVER (ORDER BY bucket
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before,
             |    (SELECT CAST(sum(n) AS BIGINT) FROM h) AS total FROM h),
             |ph AS (SELECT bucket, CAST(least(3, (cum_before*4)//total) AS INT) AS phase FROM cumh)
             |SELECT b.doc_id, b.source, CAST(b.n_tok AS INT) AS n_tok,
             |  CAST(b.bucket AS INT) AS bucket, ph.phase
             |FROM b JOIN ph USING (bucket)""".stripMargin)),

    // ---- mixture MATERIALIZATION: q107 computes the per-source plan
    //      (rate/epochs); this emits the sampled corpus itself — one
    //      (doc_id, epoch) row per kept copy. Standard epoch semantics:
    //      every doc appears floor(e) times, and once more iff its hash
    //      fraction (q93/q99's rule) falls under e's fractional part —
    //      reproducible Bernoulli, no RNG. e is recomputed UNROUNDED
    //      with q107's exact op order (the rounded plan columns are
    //      display values; sampling on them would double-round). A
    //      zero-token source has e = NULL ⇒ contributes no rows (q107's
    //      out-of-contract rule). 100 TB shape: the per-source model is
    //      a #sources-row broadcast; the copy decision and the epoch
    //      explode run per-row in the scan stage — the corpus-sized
    //      token aggregate (shared with q107) is the only shuffle, and
    //      output size is budget-bounded by construction.
    "q121_mixture_sample" -> Q(
      (s, d) => {
        val perSrc = Tables.spread(Tables(s, d, "documents"))
          .groupBy(col("source"))
          .agg(sum(size(split(col("text"), " ")).cast("long")).as("tokens"))
          .withColumn("w", expr(
            "CAST(CASE WHEN source IN ('src0','src1','src2') THEN 1.0 " +
              "WHEN source IN ('src3','src4','src5') THEN 0.5 ELSE 0.25 END AS DOUBLE)"))
          // #sources-grain plan persists ONCE (q107's rule): the budget
          // frame and the epoch table re-ran the token sum before r16
          .persistTracked
        val tot = perSrc.agg(
          sum(col("tokens")).cast("double").as("all_toks"),
          sum(col("w")).as("sw"))
        val eRaw = s"(all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw) " +
          "/ CAST(nullif(tokens, 0L) AS DOUBLE)"
        // CASE, not bare least(): least() IGNORES nulls in both engines,
        // so a zero-token source would cap to MaxEpochs instead of NULL
        val e = perSrc.crossJoin(broadcast(tot))
          .select(col("source"), expr(
            s"CASE WHEN ($eRaw) IS NULL THEN CAST(NULL AS DOUBLE) " +
              s"ELSE least(CAST($MaxEpochs AS DOUBLE), $eRaw) END").as("e"))
        val u = expr(
          "conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) / 4294967296.0")
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("source"),
            size(split(col("text"), " ")).as("n_tok"), u.as("u"))
          .join(broadcast(e), Seq("source"))
          .withColumn("n_copies", floor(col("e")).cast("long") +
            when(col("u") < (col("e") - floor(col("e"))), 1L).otherwise(0L))
          .filter(col("n_copies") > 0)
          .select(col("doc_id"), col("source"), col("n_tok"),
            explode(sequence(lit(0L), col("n_copies") - 1)).as("epoch"))
      },
      Some(s"""WITH t AS (SELECT source,
              |    CAST(sum(len(string_split(text,' '))) AS BIGINT) AS tokens
              |  FROM documents GROUP BY source),
              |w AS (SELECT source, tokens,
              |    CAST(CASE WHEN source IN ('src0','src1','src2') THEN 1.0
              |         WHEN source IN ('src3','src4','src5') THEN 0.5
              |         ELSE 0.25 END AS DOUBLE) AS w
              |  FROM t),
              |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS all_toks,
              |    sum(w) AS sw FROM w),
              |e AS (SELECT source,
              |    CASE WHEN ((all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw)
              |        / CAST(nullif(tokens, 0) AS DOUBLE)) IS NULL THEN CAST(NULL AS DOUBLE)
              |      ELSE least(CAST($MaxEpochs AS DOUBLE),
              |        (all_toks * CAST($MixBudgetFrac AS DOUBLE) * w / sw)
              |          / CAST(nullif(tokens, 0) AS DOUBLE)) END AS e
              |  FROM w CROSS JOIN tot),
              |d AS (SELECT doc_id, source,
              |    CAST(len(string_split(text,' ')) AS INT) AS n_tok,
              |    CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
              |      AS DOUBLE) / 4294967296.0 AS u
              |  FROM documents),
              |c AS (SELECT d.doc_id, d.source, d.n_tok,
              |    CAST(floor(e.e) AS BIGINT)
              |      + CASE WHEN d.u < e.e - floor(e.e) THEN 1 ELSE 0 END AS n_copies
              |  FROM d JOIN e USING (source))
              |SELECT doc_id, source, n_tok,
              |  CAST(unnest(range(n_copies)) AS BIGINT) AS epoch
              |FROM c WHERE n_copies > 0""".stripMargin),
      headline = true),

    // ---- exact-substring duplication report (the detection pass of
    //      Lee et al. 2022's "Deduplicating Training Data Makes LMs
    //      Better", Spark-shaped): hash a SpanTokens-token window at
    //      every winnowing anchor and report, per doc, how many of its
    //      windows occur ≥ 2 times ANYWHERE in the corpus — a repeated
    //      16-token quote inside two otherwise-unrelated documents,
    //      which doc-level MinHash (q41) dilutes away and the within-doc
    //      passes (q96/q122) cannot see at all. Anchoring is content-
    //      defined (see SpanAnchorMod): both copies of a shared run
    //      select the same interior anchors regardless of each copy's
    //      offset, so detection is alignment-invariant — the property a
    //      fixed stride lacks (the spec plants copies at offsets that
    //      differ mod the stride to prove it). 100 TB shape: anchor
    //      selection and window hashing are one per-row scan kernel;
    //      only (h, doc_id) 16-byte rows reach the ONE span shuffle,
    //      expected tokens/SpanAnchorMod windows per doc — an 8th of a
    //      suffix-scan's row count. The h-grain occurrence count is a
    //      window over that same exchange (NOT a groupBy + self-join:
    //      differing column pruning defeats exchange reuse there, so the
    //      anchor scan would run twice — PlanSpec pins the single
    //      Generate); the rollup is doc-grain; short/anchor-less docs
    //      re-enter via the left join with zeros.
    "q123_span_dup" -> Q(
      (s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val perDoc = spanWindows(docs)
          .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_win"),
            sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("dup_win"))
        docs.select(col("doc_id"), col("source"),
          size(split(col("text"), " ")).cast("int").as("n_tok"))
          .join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"), col("source"), col("n_tok"),
            coalesce(col("n_win"), lit(0L)).cast("int").as("n_win"),
            coalesce(col("dup_win"), lit(0L)).cast("int").as("dup_win"))
      },
      Some(s"""WITH t AS (SELECT doc_id, source, string_split(text,' ') AS toks,
              |    len(string_split(text,' ')) AS n FROM documents),
              |w AS (SELECT doc_id,
              |    CAST('0x' || substr(md5(array_to_string(
              |      toks[i : i + ${SpanTokens - 1}], ' ')), 1, 15) AS BIGINT) AS h
              |  FROM (SELECT doc_id, toks,
              |      unnest(generate_series(1, n - ${SpanTokens - 1})) AS i
              |    FROM t WHERE n >= $SpanTokens)
              |  WHERE CAST('0x' || substr(md5(toks[i]), 1, 4) AS BIGINT)
              |    % $SpanAnchorMod = 0),
              |c AS (SELECT h, count(*) AS cnt FROM w GROUP BY h),
              |pd AS (SELECT doc_id, CAST(count(*) AS INT) AS n_win,
              |    CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS INT) AS dup_win
              |  FROM w JOIN c USING (h) GROUP BY doc_id)
              |SELECT t.doc_id, t.source, CAST(t.n AS INT) AS n_tok,
              |  coalesce(pd.n_win, 0) AS n_win, coalesce(pd.dup_win, 0) AS dup_win
              |FROM t LEFT JOIN pd USING (doc_id)""".stripMargin),
      headline = true),

    // ---- exact-substring REMOVAL (q123 detects; this is Lee et al.
    //      2022's actual dedup transform): excise every token covered by
    //      a window that also occurs in a LOWER-id document — the lowest
    //      doc_id holding a span keeps its text, every later copy loses
    //      exactly the duplicated run. Within-doc repetition (cnt ≥ 2
    //      all inside the keeper doc) is deliberately NOT scrubbed —
    //      that's q122/q96's axis; this one is cross-document. 100 TB
    //      shape: same single (h-partitioned) shuffle as q123 — count
    //      AND keeper come from one window over that exchange; scrub
    //      starts roll up doc-grain (bounded by ~n/SpanAnchorMod starts
    //      per doc); the mask is a per-row HOF — per-doc cost
    //      O(n × scrubbed windows), quadratic only for a pathological
    //      fully-duplicated long doc, which the dup_win signal (q123)
    //      would route to whole-doc drop before any scrub pass.
    "q126_span_scrub" -> Q(
      (s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val w = Window.partitionBy(col("h"))
        val scrub = spanWindowsPos(docs)
          .withColumn("cnt", count(lit(1)).over(w))
          .withColumn("keeper", min(col("doc_id")).over(w))
          .filter(col("cnt") >= 2 && col("doc_id") =!= col("keeper"))
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("i"))).as("starts"))
        val toks = split(col("text"), " ")
        val kept = filter(toks, (x, j) =>
          !exists(col("starts"), st => j >= st && st + SpanTokens > j))
        docs.join(scrub, Seq("doc_id"), "left")
          .select(col("doc_id"),
            when(col("starts").isNull, col("text"))
              .otherwise(concat_ws(" ", kept)).as("clean_text"),
            when(col("starts").isNull, lit(0))
              .otherwise(size(toks) - size(kept)).cast("int").as("removed"),
            size(toks).cast("int").as("n_tok"))
      },
      Some(s"""WITH t AS (SELECT doc_id, text, string_split(text,' ') AS toks,
              |    len(string_split(text,' ')) AS n FROM documents),
              |w AS (SELECT doc_id, i,
              |    CAST('0x' || substr(md5(array_to_string(
              |      toks[i : i + ${SpanTokens - 1}], ' ')), 1, 15) AS BIGINT) AS h
              |  FROM (SELECT doc_id, toks,
              |      unnest(generate_series(1, n - ${SpanTokens - 1})) AS i
              |    FROM t WHERE n >= $SpanTokens)
              |  WHERE CAST('0x' || substr(md5(toks[i]), 1, 4) AS BIGINT)
              |    % $SpanAnchorMod = 0),
              |f AS (SELECT doc_id, i FROM (
              |    SELECT doc_id, i, count(*) OVER (PARTITION BY h) AS cnt,
              |           min(doc_id) OVER (PARTITION BY h) AS keeper FROM w)
              |  WHERE cnt >= 2 AND doc_id <> keeper),
              |s AS (SELECT doc_id, list(i ORDER BY i) AS starts FROM f GROUP BY doc_id)
              |SELECT t.doc_id,
              |  CASE WHEN s.starts IS NULL THEN t.text
              |    ELSE array_to_string(list_filter(t.toks, (x, j) ->
              |      len(list_filter(s.starts, st ->
              |        j >= st AND st + $SpanTokens > j)) = 0), ' ') END AS clean_text,
              |  CASE WHEN s.starts IS NULL THEN 0
              |    ELSE CAST(t.n - len(list_filter(t.toks, (x, j) ->
              |      len(list_filter(s.starts, st ->
              |        j >= st AND st + $SpanTokens > j)) = 0)) AS INT) END AS removed,
              |  CAST(t.n AS INT) AS n_tok
              |FROM t LEFT JOIN s USING (doc_id)""".stripMargin),
      headline = true),

    // ---- source drift report: per source, the TOTAL-VARIATION distance
    //      between its token distribution and the whole corpus's — the
    //      "which feed changed under me" audit an intake pipeline runs
    //      before retraining mixture weights. TVD = ½Σ|p−q| deliberately
    //      instead of PSI/KL: no logarithms, so the whole metric is
    //      exact fixed-point arithmetic (floor(|p−q|·2^20) BIGINT sums,
    //      order-free — the q51/q118 no-float-accumulation rule applied
    //      to a divergence). Tokens a source never emits contribute
    //      Σ_absent q = 1 − Σ_present q, so only PRESENT (source, token)
    //      rows are ever materialized. 100 TB shape: ONE corpus-token
    //      aggregate at (source, token) grain, persisted and reused by
    //      all three reductions (token totals, source totals, the term
    //      join — caller contract as in bm25SelfRank: Bench/Verify
    //      clearCache() between builds, long-lived sessions should too);
    //      the term stage is a token-grain equijoin; output is
    //      #sources rows. DriftTau = 0.06 splits the fixture
    //      non-degenerately at every SF (measured 0.04–0.08).
    "q135_source_drift" -> Q(
      (s, d) => {
        val st = Tables.spread(Tables(s, d, "documents"))
          .select(col("source"), explode(split(col("text"), " ")).as("t"))
          .filter(col("t") =!= "")
          .groupBy(col("source"), col("t")).agg(count(lit(1)).as("c"))
          .persistTracked
        val tt = st.groupBy(col("t")).agg(sum(col("c")).as("ct"))
        val ns = st.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
        val g = tt.agg(sum(col("ct")).as("n"))
        val terms = st.join(tt, Seq("t"))
          .join(broadcast(ns), Seq("source"))
          .crossJoin(broadcast(g))
          .select(col("source"), col("n_s"),
            expr(s"CAST(floor(abs(CAST(c AS DOUBLE) / CAST(n_s AS DOUBLE) " +
              s"- CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)) * $DriftFp.0D) AS BIGINT)")
              .as("dfp"),
            expr(s"CAST(floor(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE) * $DriftFp.0D) " +
              "AS BIGINT)").as("qfp"))
        terms.groupBy(col("source"))
          .agg(first(col("n_s")).as("n_tokens"),
            sum(col("dfp")).as("sd"), sum(col("qfp")).as("sq"))
          .select(col("source"), col("n_tokens"),
            ((col("sd") + (lit(DriftFp) - col("sq"))).cast("double") /
              lit(2.0 * DriftFp)).as("tvd"))
          .withColumn("drifted", col("tvd") > DriftTau)
      },
      Some(s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS t
              |             FROM documents),
              |st AS (SELECT source, t, CAST(count(*) AS BIGINT) AS c
              |       FROM tok WHERE t <> '' GROUP BY 1, 2),
              |tt AS (SELECT t, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY 1),
              |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s FROM st GROUP BY 1),
              |g AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM tt),
              |terms AS (SELECT st.source, ns.n_s,
              |    CAST(floor(abs(CAST(st.c AS DOUBLE) / CAST(ns.n_s AS DOUBLE)
              |      - CAST(tt.ct AS DOUBLE) / CAST(g.n AS DOUBLE)) * $DriftFp.0) AS BIGINT) AS dfp,
              |    CAST(floor(CAST(tt.ct AS DOUBLE) / CAST(g.n AS DOUBLE) * $DriftFp.0) AS BIGINT) AS qfp
              |  FROM st JOIN tt USING (t) JOIN ns USING (source) CROSS JOIN g)
              |SELECT source, CAST(any_value(n_s) AS BIGINT) AS n_tokens,
              |  CAST(CAST(sum(dfp) AS BIGINT) + ($DriftFp - CAST(sum(qfp) AS BIGINT)) AS DOUBLE)
              |    / ${2 * DriftFp}.0 AS tvd,
              |  (CAST(CAST(sum(dfp) AS BIGINT) + ($DriftFp - CAST(sum(qfp) AS BIGINT)) AS DOUBLE)
              |    / ${2 * DriftFp}.0) > $DriftTau AS drifted
              |FROM terms GROUP BY 1""".stripMargin),
      headline = true),

    // ---- corpus snapshot diff: added / removed / changed docs between
    //      two crawl snapshots by content-digest compare — the
    //      incremental-refresh verb (what changed since the last crawl
    //      decides what re-enters the dedup/gate pipeline; q97's
    //      anti-join only sees ADDED). The fixture ships one documents
    //      table, so the two snapshots are DERIVED deterministically
    //      (the q143 planted-regime precedent): old drops doc_id≡3
    //      (mod 17), new drops doc_id≡7 (mod 19) and revises text on
    //      doc_id≡0 (mod 13) — all four statuses occur. 100 TB shape:
    //      digests are computed at scan stage, so the full-outer join
    //      shuffles ONLY (doc_id, 16-byte digest) — never text; output
    //      ∝ churn because unchanged rows are filtered before emit.
    "q151_snapshot_diff" -> Q(
      (s, d) => {
        val base = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val old = base.filter(col("doc_id") % 17 =!= 3)
          .select(col("doc_id"), md5(col("text")).as("old_digest"))
        val neu = base.filter(col("doc_id") % 19 =!= 7)
          .select(col("doc_id"), md5(
            when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
              .otherwise(col("text"))).as("new_digest"))
        snapshotDiff(old, neu).filter(col("status") =!= "same")
      },
      Some("""WITH old AS (SELECT doc_id, md5(text) AS od FROM documents
             |             WHERE doc_id % 17 <> 3),
             |neu AS (SELECT doc_id,
             |    md5(CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
             |        ELSE text END) AS nd
             |  FROM documents WHERE doc_id % 19 <> 7),
             |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, o.od, n.nd
             |      FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
             |SELECT doc_id,
             |  CASE WHEN od IS NULL THEN 'added'
             |       WHEN nd IS NULL THEN 'removed'
             |       WHEN od <> nd THEN 'changed' ELSE 'same' END AS status
             |FROM j
             |WHERE od IS NULL OR nd IS NULL OR od <> nd""".stripMargin)),

    // ---- Z-order layout clustering — the OPTIMIZE ZORDER verb: assign
    //      every event a Morton-interleaved (user, day) cluster key so a
    //      corpus written bucket-by-bucket prunes on BOTH dimensions
    //      (a user_id-sorted layout answers day predicates with a full
    //      scan, and vice versa). The key is pure scan-stage integer
    //      arithmetic — normalize each dim to 8 bits against broadcast
    //      corpus bounds, interleave with the 3-step shift/mask spread —
    //      and the bucket is the key's top 6 bits, so NO global sort
    //      ever happens (range-partition-by-z is the cluster write path;
    //      the bit-prefix bucket is its sort-free equivalent). Output is
    //      the per-bucket bounding-box audit: every bucket's user span
    //      and day span are ≤ ~1/8 of the corpus range (ZOrderSpec pins
    //      the exact bound), which IS the multi-dim pruning guarantee.
    //      Parity: one shared Morton template renders to shiftleft()/div
    //      for Spark and <<//" for DuckDB; all arithmetic exact BIGINT.
    //      100 TB shape: 1-row bounds broadcast (q125's class), scan-
    //      stage key, one ≤64-grain hash agg.
    "q178_zorder_layout" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events").select(col("user_id"),
          expr("CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') AS BIGINT)")
            .as("dday"))
        val bounds = ev.agg(min(col("user_id")).as("umin"),
          max(col("user_id")).as("umax"),
          min(col("dday")).as("dmin"), max(col("dday")).as("dmax"))
        ev.crossJoin(broadcast(bounds))
          .withColumn("u8",
            expr("(user_id - umin) * 256 div (umax - umin + 1)"))
          .withColumn("d8", expr("(dday - dmin) * 256 div (dmax - dmin + 1)"))
          .withColumn("z",
            expr(mortonZ16("u8", "d8", (x, n) => s"shiftleft($x, $n)")))
          .groupBy(expr("z div 1024").as("bucket"))
          .agg(count(lit(1)).as("n_events"),
            min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
            min(col("dday")).as("d_min"), max(col("dday")).as("d_max"))
          .select(col("bucket"), col("n_events"),
            col("u_min"), col("u_max"), col("d_min"), col("d_max"),
            (col("u_max") - col("u_min")).as("u_span"),
            (col("d_max") - col("d_min")).as("d_span"))
      },
      Some {
        val z = mortonZ16("u8", "d8", (x, n) => s"($x << $n)")
        s"""WITH zev AS (SELECT user_id,
           |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS dday
           |  FROM events),
           |zb AS (SELECT CAST(min(user_id) AS BIGINT) AS umin,
           |    CAST(max(user_id) AS BIGINT) AS umax,
           |    min(dday) AS dmin, max(dday) AS dmax FROM zev),
           |znm AS (SELECT user_id, dday,
           |    ((user_id - umin) * 256) // (umax - umin + 1) AS u8,
           |    ((dday - dmin) * 256) // (dmax - dmin + 1) AS d8
           |  FROM zev CROSS JOIN zb),
           |zz AS (SELECT user_id, dday, $z AS zv FROM znm)
           |SELECT zv // 1024 AS bucket, CAST(count(*) AS BIGINT) AS n_events,
           |  CAST(min(user_id) AS BIGINT) AS u_min,
           |  CAST(max(user_id) AS BIGINT) AS u_max,
           |  min(dday) AS d_min, max(dday) AS d_max,
           |  CAST(max(user_id) - min(user_id) AS BIGINT) AS u_span,
           |  max(dday) - min(dday) AS d_span
           |FROM zz GROUP BY 1""".stripMargin
      }),

    // ---- k-anonymity census — the privacy-governance verb q98's PII
    //      scrub does NOT cover: scrubbing removes DIRECT identifiers,
    //      but a (lang, source, length-bucket) quasi-identifier combo
    //      shared by fewer than k documents still re-identifies its
    //      members by linkage. The census is every equivalence class
    //      with its size and the risky flag (size < KAnonK) — the
    //      actionable suppression/generalization worklist a release
    //      review runs before publishing a corpus. 100 TB shape: ONE
    //      corpus hash-agg at quasi-identifier grain (map-side
    //      combinable); output bounded by the QI DOMAIN (langs ×
    //      sources × length buckets), never by rows.
    "q183_kanon_report" -> Q(
      (s, d) => {
        Tables(s, d, "documents")
          .groupBy(col("lang"), col("source"),
            expr("n_chars DIV 256").as("len_bucket"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("lang"), col("source"), col("len_bucket"), col("cnt"),
            (col("cnt") < KAnonK).as("risky"))
      },
      Some(s"""SELECT lang, source, n_chars // 256 AS len_bucket,
             |  CAST(count(*) AS BIGINT) AS cnt,
             |  count(*) < $KAnonK AS risky
             |FROM documents GROUP BY 1, 2, 3""".stripMargin)),

    // ---- incremental corpus-stats maintenance — the mergeability
    //      proof, oracle-checked: per-source stats computed on the OLD
    //      snapshot (q151's doc_id%17 coin) and on the DELTA separately,
    //      then merged by re-aggregating the two #sources-row partials,
    //      must equal the stats of the union computed directly (the
    //      oracle does the latter; the engine ships the former). That
    //      equality is the operational contract of incremental stats at
    //      100 TB: a daily refresh costs O(delta) + an O(#sources) merge,
    //      never a corpus rescan. Every shipped moment is mergeable by
    //      construction — counts, token/char sums, char sum-of-squares
    //      (second moment → variance), max; the mean is derived AFTER
    //      the merge (one IEEE division of exact BIGINTs).
    "q185_incremental_stats" -> Q(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        def statsOf(df: org.apache.spark.sql.DataFrame) = df
          .groupBy(col("source")).agg(
            count(lit(1)).as("n_docs"),
            sum(expr("CAST(size(split(text, ' ')) AS BIGINT)")).as("tok_sum"),
            sum(col("n_chars")).as("char_sum"),
            sum(col("n_chars") * col("n_chars")).as("char_sumsq"),
            max(col("n_chars")).as("char_max"))
        val partials = statsOf(docs.filter(expr("doc_id % 17 <> 3")))
          .unionByName(statsOf(docs.filter(expr("doc_id % 17 = 3"))))
        partials.groupBy(col("source")).agg(
            sum(col("n_docs")).as("n_docs"),
            sum(col("tok_sum")).as("tok_sum"),
            sum(col("char_sum")).as("char_sum"),
            sum(col("char_sumsq")).as("char_sumsq"),
            max(col("char_max")).as("char_max"))
          .select(col("source"), col("n_docs"), col("tok_sum"),
            col("char_sum"), col("char_sumsq"), col("char_max"),
            (col("char_sum").cast("double") / col("n_docs").cast("double"))
              .as("char_mean"))
      },
      Some("""SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok_sum,
             |  CAST(sum(n_chars) AS BIGINT) AS char_sum,
             |  CAST(sum(n_chars * n_chars) AS BIGINT) AS char_sumsq,
             |  CAST(max(n_chars) AS BIGINT) AS char_max,
             |  CAST(sum(n_chars) AS DOUBLE) / CAST(count(*) AS DOUBLE)
             |    AS char_mean
             |FROM documents GROUP BY 1""".stripMargin)),

    // ---- declarative data-quality audit (the Deequ/Great-Expectations
    //      verb): a fixed suite of constraints evaluated in ONE
    //      conditional-aggregation pass per table — key uniqueness,
    //      value-range and domain membership, referential integrity
    //      (LEFT ANTI orphan count), and a derived-column consistency
    //      invariant — emitted as a uniform (check, n_bad, n_total,
    //      pass) report. The fixture exercises BOTH arms: the lineitem
    //      PK and discount-range checks fail (dup (okey, line) pairs and
    //      discounts past 8% exist by construction), domain/FK/
    //      consistency pass — so the violation-counting path is proven,
    //      not vacuous. 100 TB shape: row-grain checks ride scan-stage
    //      conditional sums (map-side combinable, no shuffle beyond the
    //      1-row agg); the multi-column distinct is the one expand; the
    //      FK arm is a key-projected anti join; output is #checks rows.
    //      Discount range compares exact integer percent (round(d*100))
    //      — never a float boundary.
    "q201_dq_report" -> Q(
      (s, d) => {
        val li = Tables(s, d, "lineitem")
        // NULL-strict violation predicates (round-13 verdict item 2):
        // a NULL discount/flag/price/n_chars makes the bare range/
        // domain predicate NULL, and when().otherwise(0) would score
        // the row CLEAN — a data-quality gate must fail on a feed of
        // NULLs, the contract the streaming sibling dqMonitor enforces
        // (StatefulOps.dqMonitor). Both engine arms carry the isNull
        // terms so the oracle stays meaningful.
        val liAgg = li.agg(count(lit(1)).as("n_total"),
          countDistinct(col("l_orderkey"), col("l_linenumber")).as("n_key"),
          sum(when(expr("l_discount IS NULL OR " +
            "CAST(round(l_discount * 100) AS BIGINT) NOT BETWEEN 0 AND 8"),
            1L).otherwise(0L)).as("bad_disc"),
          sum(when(col("l_returnflag").isNull ||
            !col("l_returnflag").isin("A", "N", "R"), 1L)
            .otherwise(0L)).as("bad_flag"))
        val liChecks = liAgg.selectExpr(
          """stack(3,
            |  'li_pk_unique',        n_total - n_key, n_total,
            |  'li_discount_range',   bad_disc,        n_total,
            |  'li_returnflag_domain', bad_flag,       n_total
            |) AS (check_name, n_bad, n_total)""".stripMargin)
        val fk = li.select(col("l_orderkey"))
          .join(Tables(s, d, "orders").select(col("o_orderkey")),
            col("l_orderkey") === col("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_bad"))
          .crossJoin(broadcast(li.agg(count(lit(1)).as("n_total"))))
          .select(lit("li_orderkey_fk").as("check_name"), col("n_bad"),
            col("n_total"))
        val ords = Tables(s, d, "orders").agg(
            count(lit(1)).as("n_total"),
            sum(when(col("o_totalprice").isNull || col("o_totalprice") <= 0,
              1L).otherwise(0L)).as("n_bad"))
          .select(lit("ord_totalprice_positive").as("check_name"), col("n_bad"),
            col("n_total"))
        val docs = Tables(s, d, "documents").agg(
            count(lit(1)).as("n_total"),
            sum(when(expr(
              "text IS NULL OR n_chars IS NULL OR length(text) <> n_chars"),
              1L).otherwise(0L)).as("n_bad"))
          .select(lit("doc_nchars_consistent").as("check_name"), col("n_bad"),
            col("n_total"))
        liChecks.unionByName(fk).unionByName(ords).unionByName(docs)
          .select(col("check_name"), col("n_bad").cast("long").as("n_bad"),
            col("n_total").cast("long").as("n_total"),
            (col("n_bad") === 0L).as("pass"))
      },
      Some("""WITH li AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             |    -- CASE-guarded so a NULL-key row never reaches the
             |    -- DISTINCT (DuckDB counts a NULL-bearing ROW as its own
             |    -- value; Spark's countDistinct skips it) — both engines
             |    -- then score every NULL-key row as a PK violation
             |    CAST(count(*) - count(DISTINCT CASE
             |        WHEN l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
             |        THEN (l_orderkey, l_linenumber) END)
             |      AS BIGINT) AS dup_bad,
             |    CAST(sum(CASE WHEN l_discount IS NULL
             |        OR CAST(round(l_discount * 100) AS BIGINT)
             |        NOT BETWEEN 0 AND 8 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS bad_disc,
             |    CAST(sum(CASE WHEN l_returnflag IS NULL
             |        OR l_returnflag NOT IN ('A','N','R')
             |        THEN 1 ELSE 0 END) AS BIGINT) AS bad_flag
             |  FROM lineitem),
             |fk AS (SELECT CAST(count(*) AS BIGINT) AS n_bad,
             |    (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS n_total
             |  FROM lineitem WHERE l_orderkey IS NULL OR l_orderkey NOT IN
             |    (SELECT o_orderkey FROM orders)),
             |o AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             |    CAST(sum(CASE WHEN o_totalprice IS NULL OR o_totalprice <= 0
             |      THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_bad FROM orders),
             |dc AS (SELECT CAST(count(*) AS BIGINT) AS n_total,
             |    CAST(sum(CASE WHEN text IS NULL OR n_chars IS NULL
             |        OR length(text) <> n_chars
             |        THEN 1 ELSE 0 END) AS BIGINT) AS n_bad FROM documents)
             |SELECT 'li_pk_unique' AS check_name, dup_bad AS n_bad, n_total,
             |  dup_bad = 0 AS pass FROM li
             |UNION ALL SELECT 'li_discount_range', bad_disc, n_total,
             |  bad_disc = 0 FROM li
             |UNION ALL SELECT 'li_returnflag_domain', bad_flag, n_total,
             |  bad_flag = 0 FROM li
             |UNION ALL SELECT 'li_orderkey_fk', n_bad, n_total,
             |  n_bad = 0 FROM fk
             |UNION ALL SELECT 'ord_totalprice_positive', n_bad, n_total,
             |  n_bad = 0 FROM o
             |UNION ALL SELECT 'doc_nchars_consistent', n_bad, n_total,
             |  n_bad = 0 FROM dc""".stripMargin)),

    // ---- two-sample Kolmogorov–Smirnov drift test, exact: each source's
    //      doc-length distribution vs the REST of the corpus — the
    //      distribution-shift gate a corpus refresh runs per ingest
    //      source (q135 reports moment drift; KS is the nonparametric
    //      whole-CDF statistic that catches shape changes moments miss;
    //      q153's chi-square needs binning, KS does not). Exact rational
    //      arithmetic: the statistic's numerator max|cum_s·n_rest −
    //      cum_rest·n_s| is BIGINT (sound while n_s·n_rest < 2^63, i.e.
    //      to ~3e9 docs a side); the reported ks is ONE IEEE division.
    //      100 TB shape: rows collapse to (source, len) grain in one
    //      hash agg; the zero-filled evaluation grid is sources ×
    //      distinct-lengths (value-domain-bounded, never row-bounded);
    //      the per-source CDF window partitions at that bounded grain.
    "q203_ks_drift" -> Q(
      (s, d) => {
        // (source, len)-grain counts persist ONCE: the length marginal,
        // per-source totals, and the grid left-join are all re-aggregates
        // of it — pre-round-16 each re-scanned the corpus (lint finding)
        val perSL = Tables(s, d, "documents")
          .groupBy(col("source"), col("n_chars").as("len"))
          .agg(count(lit(1)).as("c_sl"))
          .persistTracked
        val perL = perSL.groupBy(col("len")).agg(sum(col("c_sl")).as("c_l"))
        val srcN = perSL.groupBy(col("source")).agg(sum(col("c_sl")).as("n_s"))
        val tot = perL.agg(sum(col("c_l")).as("n_tot"))
        val w = Window.partitionBy(col("source")).orderBy(col("len"))
        broadcast(srcN).crossJoin(perL)
          .join(perSL, Seq("source", "len"), "left")
          .na.fill(0L, Seq("c_sl"))
          .withColumn("cum_s", sum(col("c_sl")).over(w))
          .withColumn("cum_all", sum(col("c_l")).over(w))
          .crossJoin(broadcast(tot))
          .withColumn("n_rest", col("n_tot") - col("n_s"))
          .withColumn("diff", abs(col("cum_s") * col("n_rest")
            - (col("cum_all") - col("cum_s")) * col("n_s")))
          .groupBy(col("source"), col("n_s"), col("n_rest"))
          .agg(max(col("diff")).as("ks_num"))
          .withColumn("ks", col("ks_num").cast("double")
            / (col("n_s") * col("n_rest")).cast("double"))
      },
      Some("""WITH sl AS (SELECT source, n_chars AS len,
             |    CAST(count(*) AS BIGINT) AS c_sl FROM documents GROUP BY 1, 2),
             |l AS (SELECT len, CAST(sum(c_sl) AS BIGINT) AS c_l
             |  FROM sl GROUP BY 1),
             |sn AS (SELECT source, CAST(sum(c_sl) AS BIGINT) AS n_s
             |  FROM sl GROUP BY 1),
             |tot AS (SELECT CAST(sum(c_l) AS BIGINT) AS n_tot FROM l),
             |grid AS (SELECT sn.source, sn.n_s, l.len, l.c_l,
             |    COALESCE(sl.c_sl, 0) AS c_sl
             |  FROM sn CROSS JOIN l
             |  LEFT JOIN sl ON sl.source = sn.source AND sl.len = l.len),
             |cdf AS (SELECT source, n_s, len,
             |    CAST(sum(c_sl) OVER (PARTITION BY source ORDER BY len)
             |      AS BIGINT) AS cum_s,
             |    CAST(sum(c_l) OVER (PARTITION BY source ORDER BY len)
             |      AS BIGINT) AS cum_all
             |  FROM grid),
             |d AS (SELECT source, n_s,
             |    (SELECT n_tot FROM tot) - n_s AS n_rest,
             |    abs(cum_s * ((SELECT n_tot FROM tot) - n_s)
             |      - (cum_all - cum_s) * n_s) AS diff
             |  FROM cdf)
             |SELECT source, n_s, n_rest, CAST(max(diff) AS BIGINT) AS ks_num,
             |  CAST(max(diff) AS DOUBLE) / CAST(n_s * n_rest AS DOUBLE) AS ks
             |FROM d GROUP BY 1, 2, 3""".stripMargin)),

    // ---- P19 CorpusSink round-trip — the partitioned writer's
    //      oracle-checked entry (round-16 verdict item 4; previously
    //      P19 was the only verb with no CORRECTNESS row). Writes the
    //      documents slice through CorpusSink.write (lang-partitioned,
    //      shard-salted, file-rolled), reads the files back, and emits
    //      per partition: row count, a BYTE-STABLE content digest
    //      (sha2 over the doc-grain digests in sorted order — any
    //      dropped/duplicated/corrupted row or column changes it), and
    //      a file-count bound check. The oracle predicts rows + digest
    //      from the INPUT table (what a lossless round-trip must
    //      preserve) and pins files_ok literally TRUE: each lang lands
    //      in <= shards tasks and each task rolls a file every
    //      SinkMaxRows rows, so n_files must sit in
    //      [1, shards + n_rows/SinkMaxRows] — a small-files or
    //      giant-file regression in the writer flips the flag and
    //      hash-fails. (Exact per-file layout pins live in
    //      CorpusSinkSpec; an external engine can't see our task
    //      count, so the oracle checks the bound, not the exact n.)
    "q246_corpus_sink_roundtrip" -> Q(
      (s, d) => {
        val outDir = q246SinkDir(s, d)
        // EXPLICIT read schema (round-17 advice): lang is a partition
        // DIRECTORY column on the way back, and partition-column type
        // inference would coerce a numeric-looking value ('01' -> 1),
        // silently diverging the group key from the oracle's string
        // lang. A supplied schema pins the partition column's type.
        s.read.schema("doc_id BIGINT, text STRING, lang STRING")
          .parquet(outDir)
          .select(col("lang"), col("doc_id"), col("text"),
            input_file_name().as("__f"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_rows"),
            countDistinct(col("__f")).as("__files"),
            // sort_array, not array_sort: same ordering, but array_sort
            // is a CodegenFallback HOF while sort_array codegens (ties
            // are identical sha strings, so order is total either way)
            sha2(array_join(sort_array(collect_list(
              sha2(concat_ws(":", col("doc_id"), col("text")), 256))), ""), 256)
              .as("content_sha"))
          .select(col("lang"), col("n_rows"), col("content_sha"),
            (col("__files") >= 1L && col("__files") <=
              lit(SinkShards.toLong) +
                (col("n_rows").cast("double") / lit(SinkMaxRows.toDouble))
                  .cast("long")).as("files_ok"))
      },
      Some("""WITH d AS (SELECT lang,
             |    sha256(CAST(doc_id AS VARCHAR) || ':' || text) AS h
             |  FROM documents)
             |SELECT lang, CAST(count(*) AS BIGINT) AS n_rows,
             |  sha256(string_agg(h, '' ORDER BY h)) AS content_sha,
             |  TRUE AS files_ok
             |FROM d GROUP BY lang""".stripMargin)),

    // ---- the END-TO-END corpus-ship path (round-18 verdict #3): the
    //      user journey is build → write → read back → profile, and
    //      until now the catalog pinned the pieces separately (q90
    //      builds, q246 round-trips the sink, q91 profiles). This entry
    //      chains them against ONE oracle: q90's survivor frame (gate +
    //      exact-dup collapse) ships through CorpusSink.write
    //      (lang-partitioned, shard-salted, file-rolled), comes back
    //      through an EXPLICIT-schema parquet read (q246's
    //      partition-column-type discipline), and a q91-shape stats
    //      aggregate profiles the read-back rows — while DuckDB
    //      computes the same stats from the ORIGINAL documents table
    //      filtered by the q90 rule. A hash match therefore proves the
    //      whole write/read seam loses nothing: row set, dedup
    //      accounting (n_dups survives the files), lang routing
    //      (partition dirs group exactly like the source column), and
    //      the text payload byte-for-byte (n_tok re-tokenizes the
    //      READ-BACK text). All-exact outputs: integer counts/sums and
    //      quartiles at binary-exact fractions (the q91 determinism
    //      discipline).
    "q249_corpus_ship" -> Q(
      (s, d) => {
        val shipped = s.read
          .schema("doc_id BIGINT, n_dups BIGINT, text STRING, lang STRING")
          .parquet(q249ShipDir(s, d))
        shipped
          .select(col("lang"), col("n_dups"),
            size(split(col("text"), " ")).as("n_tok"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_dups")).as("n_source_docs"),
            sum(col("n_tok")).as("total_tokens"),
            min(col("n_tok")).cast("long").as("min_tok"),
            max(col("n_tok")).cast("long").as("max_tok"),
            expr("percentile(n_tok, array(0.25D, 0.5D, 0.75D))").as("qs"))
          .select(col("lang"), col("n_docs"), col("n_source_docs"),
            col("total_tokens"), col("min_tok"), col("max_tok"),
            element_at(col("qs"), 1).as("p25"),
            element_at(col("qs"), 2).as("p50"),
            element_at(col("qs"), 3).as("p75"))
      },
      Some(s"""WITH f AS (SELECT doc_id, lang, text,
              |    len(string_split(text, ' ')) AS n_tokens,
              |    len(list_filter(string_split(text, ' '), t -> ${TextAnalysis.orCondSql("t", TextAnalysis.StopWords)})) AS n_stop,
              |    ${TextAnalysis.markers.map { case (l, ws) => s"len(list_filter(string_split(text, ' '), t -> ${TextAnalysis.orCondSql("t", ws)})) AS s_$l" }.mkString(",\n    ")}
              |  FROM documents),
              |gated AS (SELECT doc_id, lang, text FROM f
              |  WHERE s_en >= s_es AND s_en >= s_fr AND s_en >= s_de
              |    AND least(CAST(1.0 AS DOUBLE), CAST(n_tokens AS DOUBLE) / 100.0)
              |      * (CAST(1.0 AS DOUBLE) - CAST(n_stop AS DOUBLE) / n_tokens) >= $MinQuality),
              |canon AS (SELECT min(doc_id) AS doc_id, count(*) AS n_dups
              |  FROM gated GROUP BY sha256(text)),
              |k AS (SELECT c.n_dups, g.lang,
              |    len(string_split(g.text, ' ')) AS n_tok
              |  FROM canon c JOIN gated g ON g.doc_id = c.doc_id)
              |SELECT lang, count(*) AS n_docs,
              |  CAST(sum(n_dups) AS BIGINT) AS n_source_docs,
              |  CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              |  CAST(min(n_tok) AS BIGINT) AS min_tok,
              |  CAST(max(n_tok) AS BIGINT) AS max_tok,
              |  quantile_cont(n_tok, 0.25) AS p25,
              |  quantile_cont(n_tok, 0.5) AS p50,
              |  quantile_cont(n_tok, 0.75) AS p75
              |FROM k GROUP BY lang""".stripMargin)),

    // ---- duplicate-LINE (boilerplate) scrub — the C4/RefinedWeb rule
    //      the span family doesn't cover: drop every LINE whose
    //      document frequency exceeds LineDfCap (site navigation,
    //      headers, copyright footers — text that repeats VERBATIM
    //      across unrelated pages), keep everything else, reassemble
    //      the document in original line order. q122 is within-doc
    //      stutter and q123/q126 are fixed-width token windows; this
    //      verb's grain is the natural line/sentence boundary and its
    //      signal is CROSS-document frequency. The fixture corpus has
    //      no line structure, so the frame is synthesized
    //      deterministically in-query (the q151 two-snapshot
    //      precedent): a global banner (df = corpus), a per-source
    //      header (df = docs/source ≈ 25 at every SF), a paired topic
    //      line (df = 2 — duplicated but UNDER the cap, must be kept),
    //      the unique body (df ≈ 1), a global footer — the cap (3)
    //      splits all four regimes, so scrubbed, kept-duplicated and
    //      kept-unique lines all occur at every SF.
    //      100 TB shape: line df via one (h60, doc) distinct + one
    //      map-side-combinable h-grain count (8-byte keys, never
    //      text); the flag joins back by h equijoin; the only
    //      text-bearing shuffle is the doc-grain ordered reassembly,
    //      which IS the output. The documents file is scanned twice
    //      (df leg + reassembly leg) — the frame-before-binning
    //      adjudication: both scans prune to 3 columns, and a
    //      corpus-grain cache of (pos, line) rows would cost more
    //      than the second pruned scan.
    "q247_boilerplate_scrub" -> Q(
      (s, d) => {
        def sents = framedDocs(s, d)
          .select(col("doc_id"),
            posexplode(split(col("text"), "\\. ")).as(Seq("pos", "sent")))
          .withColumn("h",
            graft.functions.ParityFns.hash60(lower(trim(col("sent")))))
        val dfreq = sents.select(col("h"), col("doc_id")).distinct()
          .groupBy(col("h")).agg(count(lit(1)).as("line_df"))
        sents.join(dfreq, Seq("h"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("line_df") > LineDfCap, 1L).otherwise(0L))
              .as("n_scrubbed"),
            // nulls (scrubbed lines) drop out of collect_list; empty
            // array joins to "" (the all-scrubbed degenerate — DuckDB
            // side coalesces to match)
            // sort_array + field extraction (codegen'd) for the ordered
            // reassembly — see q116's note; pos is distinct per doc
            sha2(array_join(sort_array(collect_list(
              when(col("line_df") <= LineDfCap,
                struct(col("pos"), col("sent")))))
              .getField("sent"), ". "), 256).as("clean_sha"))
      },
      Some(s"""WITH framed AS (SELECT doc_id,
             |    'shared portal navigation bar. section ' || source ||
             |    ' index. topic ' || CAST(doc_id // 2 AS VARCHAR) ||
             |    ' notes. ' || text ||
             |    '. copyright footer all rights reserved' AS text
             |  FROM documents),
             |sents AS (SELECT doc_id,
             |    generate_subscripts(string_split(text, '. '), 1) AS pos,
             |    unnest(string_split(text, '. ')) AS sent
             |  FROM framed),
             |h AS (SELECT doc_id, pos, sent,
             |    CAST('0x' || substr(md5(lower(trim(sent))),1,15) AS BIGINT)
             |      AS h FROM sents),
             |d AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT)
             |      AS line_df FROM h GROUP BY 1)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
             |  CAST(sum(CASE WHEN line_df > $LineDfCap THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_scrubbed,
             |  sha256(coalesce(string_agg(
             |    CASE WHEN line_df <= $LineDfCap THEN sent END,
             |    '. ' ORDER BY pos), '')) AS clean_sha
             |FROM h JOIN d USING (h) GROUP BY doc_id""".stripMargin))
  )

  /** q183's anonymity floor: an equivalence class smaller than KAnonK
    * documents is flagged for suppression/generalization. 5 is the
    * conventional release-review default; the fixture exercises both
    * arms at every scale factor.
    */
  val KAnonK = 5

  /** 16-bit Morton (Z-order) interleave of two 8-bit columns, as a SQL
    * expression string. `shl` renders a left shift in the target
    * engine's syntax, so the Spark plan and the DuckDB oracle share ONE
    * template and cannot drift. Standard 8→16 bit spread:
    * x = (x|x<<4)&0x0F0F; (x|x<<2)&0x3333; (x|x<<1)&0x5555.
    * Inputs must already be in [0, 255]; output is in [0, 65535] with
    * `u`'s bits at odd positions (u is the major dimension).
    */
  def mortonZ16(u: String, v: String, shl: (String, Int) => String): String = {
    def spread(x: String): String = {
      val s1 = s"(($x | ${shl(x, 4)}) & 3855)"
      val s2 = s"(($s1 | ${shl(s1, 2)}) & 13107)"
      s"(($s2 | ${shl(s2, 1)}) & 21845)"
    }
    s"(${shl(spread(u), 1)} | ${spread(v)})"
  }

  /** q151's kernel: classify every doc_id across two snapshot digests
    * as added / removed / changed / same. Inputs carry
    * (doc_id, old_digest) and (doc_id, new_digest); the join moves only
    * ids and digests. Exposed so specs (and real two-snapshot callers)
    * can feed independent snapshots.
    */
  def snapshotDiff(old: DataFrame, neu: DataFrame): DataFrame =
    old.join(neu, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("old_digest").isNull, lit("added"))
          .when(col("new_digest").isNull, lit("removed"))
          .when(col("old_digest") =!= col("new_digest"), lit("changed"))
          .otherwise(lit("same")).as("status"))

  /** The exact-decontamination oracle, shared by q95 and q100 (the Bloom
    * prune is output-invariant by construction).
    */
  private val DecontamOracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w,
      |         generate_subscripts(string_split(text, ' '), 1) AS i
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    w || ' ' || lead(w,1) OVER (PARTITION BY doc_id ORDER BY i)
      |      || ' ' || lead(w,2) OVER (PARTITION BY doc_id ORDER BY i)
      |      || ' ' || lead(w,3) OVER (PARTITION BY doc_id ORDER BY i) AS s
      |  FROM tok
      |  QUALIFY lead(w,3) OVER (PARTITION BY doc_id ORDER BY i) IS NOT NULL),
      |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
      |contaminated AS (SELECT DISTINCT doc_id FROM sh
      |  WHERE doc_id % 97 <> 0 AND s IN (SELECT s FROM bench))
      |SELECT doc_id, source FROM documents
      |WHERE doc_id % 97 <> 0
      |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)""".stripMargin

  /** q98 redaction patterns — shared verbatim by the Spark expressions
    * and the DuckDB oracle, and restricted to the Java-regex ∩ RE2
    * dialect (no lookarounds, no backreferences) so both engines match
    * identically.
    */
  val PiiEmailRe = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
  val PiiIpRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiPhoneRe = "\\b\\d{3}-\\d{4}\\b"

  /** q98's planted-PII text as a DuckDB SQL fragment — the oracle mirror
    * of the Column-API `planted` expression: the fixture corpus has no
    * real PII, so each row carries an email, an IPv4, and a phone number
    * derived deterministically from its doc_id.
    */
  private val plantedSql: String =
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com via 10.' || " +
      "CAST(doc_id % 256 AS VARCHAR) || '.0.' || CAST((doc_id * 7) % 256 AS VARCHAR) || " +
      "' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')"

  /** q97's serving kernel, shared by the cold build and the probe-only
    * bench path: gate an incoming (doc_id, text) batch against an
    * `existing` corpus digest set (one `h` column of sha2-256 — in
    * production a persisted, bucketed-by-h table, so the anti-join is
    * exchange-free on the corpus side). Batch collapses to one row per
    * distinct digest BEFORE the anti-join.
    */
  def exactDedupGate(batch: DataFrame, existing: DataFrame): DataFrame =
    batch
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_in_batch"))
      .join(existing, Seq("h"), "left_anti")
      .select(col("doc_id"), col("n_in_batch"))

  /** q99 slice boundaries (train/val/test = 90/5/5 by hash fraction). */
  val TrainFrac = 0.9
  val ValCut = 0.95

  /** q172: GROUP-integral split fractions over the md5(source) coin.
    * 70/15/15 (not q99's 90/5/5) because the grain is the ~20 fixture
    * sources, not docs — 90/5/5 would leave the val split empty at
    * every SF (source names are SF-invariant, so the assignment is
    * too; DuckDB-prototyped: 17 train / 1 val / 2 test).
    */
  val GroupTrainFrac = 0.7
  val GroupValCut = 0.85

  /** q102 shard count — at 100 TB, set to (data-loader workers ×
    * files-per-worker); fixture-scale 8 keeps every shard populated.
    */
  val NumShards = 8

  /** q135 drift metric: the fixed-point scale (2^20, the q51 value) for
    * order-free TVD term sums, and the drifted-flag threshold — 0.06
    * splits the fixture's measured per-source TVDs (0.04–0.08)
    * non-degenerately at every SF. Production corpora set this from the
    * alerting budget; the comparison is bit-identical cross-engine
    * because the tvd value itself is.
    */
  val DriftFp = 1048576L
  val DriftTau = 0.06

  /** q246 sink parameters: shards salts each lang over 4 write tasks
    * (the skew guard under test), SinkMaxRows = 100 forces file rolling
    * at every fixture SF so the round-trip actually crosses multiple
    * files per partition — a writer that stopped rolling (giant-file
    * regression) or exploded into per-task-per-value files (small-files
    * regression) breaks the oracle-pinned [1, shards + rows/max] bound.
    */
  val SinkShards = 4
  val SinkMaxRows = 100L

  /** q247's synthesized line-structured corpus (the fixture text has no
    * line boundaries — the q151 in-query-synthesis precedent): global
    * banner (df = corpus), per-source header (df ≈ docs/source), a
    * paired topic line (df = 2, under the cap), the unique body, a
    * global footer. Shared by the q247 entry and the boilerplateGate
    * specs so the fit and the scrub see the same corpus.
    */
  private[graft] def framedDocs(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "documents"))
      .select(col("doc_id"),
        concat(lit("shared portal navigation bar. section "),
          col("source"), lit(" index. topic "),
          expr("CAST(doc_id DIV 2 AS BIGINT)"), lit(" notes. "),
          col("text"),
          lit(". copyright footer all rights reserved")).as("text"))

  /** The doc-quality signal shared by q119/q248 and the budget-gate
    * serving path: least(1, n_tok/100) · (1 − stopword_ratio) — raw
    * IEEE ops only, bit-identical across engines.
    */
  private[graft] def docQuality(textCol: Column): Column = {
    val toks = split(textCol, " ")
    val nTok = size(toks)
    // stopword count through the codegen'd bounded-vocab kernel
    val nStop = TextAnalysis.markerCount(toks, Seq("the", "a"))
    least(lit(1.0), nTok / lit(100.0)) *
      (lit(1.0) - nStop.cast("double") / nTok)
  }

  /** [[docQuality]] at the 2⁻²⁰ fixed-point grain the budget-gate
    * artifact is expressed in.
    */
  private[graft] def qualityFp(textCol: Column): Column =
    floor(docQuality(textCol) *
      lit(graft.queries.Similarity.FixedPointScale.toDouble)).cast("long")

  /** q248's doc-grain selection frame WITH the fixed-point quality
    * carried through — the ONE builder the catalog entry and
    * [[budgetFit]] both consume (round-18 verdict #6: the fit used to
    * recompute doc quality and join back by doc_id to recover what the
    * entry had already materialized; sharing the tagged projection
    * makes the fit path a single quality-projection job,
    * PipelineSpec-pinned at documents=1).
    *
    * Columns: (source, doc_id, n_tok, q_fp, selected). The selection
    * rule and its 100 TB shape are documented on the catalog entry:
    * rank a source's docs by (quality DESC, doc_id), keep while the
    * tokens accumulated BEFORE the doc are under the hard 40% budget —
    * computed via the (source × ≤1024 quality-bucket) histogram
    * pre-cut so only the ONE boundary bucket per source pays the exact
    * ranked window.
    */
  private[graft] def q248Tagged(s: org.apache.spark.sql.SparkSession,
                                d: String): DataFrame = {
    val quality = docQuality(col("text"))
    // doc-grain projection persists ONCE: the budget aggregate, the
    // histogram, the doc-grain tag join — and budgetFit — all read it
    val docs = Tables.spread(Tables(s, d, "documents"))
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"),
        quality.as("q"),
        floor(quality * 1024).cast("int").as("bucket"),
        // the same double, floored at the artifact's 2⁻²⁰ fp grain —
        // identical to qualityFp(text), one projection instead of two
        floor(quality *
          lit(graft.queries.Similarity.FixedPointScale.toDouble))
          .cast("long").as("q_fp"))
      .persistTracked
    // hard budget: 40% of the source's own tokens, exact integers
    val budgets = docs.groupBy(col("source"))
      .agg(sum(col("n_tok")).as("src_toks"))
      .select(col("source"), expr("src_toks * 2 div 5").as("budget"))
    // (source, bucket) histogram + tokens in STRICTLY BETTER buckets
    val wAbove = Window.partitionBy(col("source"))
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cls = docs.groupBy(col("source"), col("bucket"))
      .agg(sum(col("n_tok")).as("btok"))
      .withColumn("cum_above",
        coalesce(sum(col("btok")).over(wAbove), lit(0L)))
      .join(broadcast(budgets), Seq("source"))
      // all: every doc fits (worst doc's cum_before < budget);
      // none: even the bucket's best doc starts at/past the budget;
      // edge: the ONE bucket per source the budget line crosses
      .select(col("source"), col("bucket"), col("cum_above"), col("budget"),
        when(col("cum_above") + col("btok") <= col("budget"), lit("all"))
          .when(col("cum_above") < col("budget"), lit("edge"))
          .otherwise(lit("none")).as("cls"))
    val tagged = docs.join(broadcast(cls), Seq("source", "bucket"))
    val interior = tagged.filter(col("cls") =!= "edge")
      .select(col("source"), col("doc_id"), col("n_tok"), col("q_fp"),
        (col("cls") === "all").as("selected"))
    // exact ranked running sum INSIDE the boundary bucket only
    // (edge rows are one bucket per source, so the partition key
    // is just source), offset by the better buckets' tokens
    val wEdge = Window.partitionBy(col("source"))
      .orderBy(col("q").desc, col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val edge = tagged.filter(col("cls") === "edge")
      .withColumn("cum_in", coalesce(sum(col("n_tok")).over(wEdge), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tok"), col("q_fp"),
        (col("cum_above") + col("cum_in") < col("budget")).as("selected"))
    interior.unionByName(edge)
  }

  /** The fitted-cutoff frame [[budgetFit]] collects: per source, the
    * min fixed-point quality among SELECTED docs (null when the source
    * selected nothing). Exposed at DataFrame grain so PipelineSpec can
    * pin that the fit path is ONE quality-projection job —
    * factScanCounts == documents=1 (round-18 verdict #6).
    */
  private[graft] def budgetCuts(s: org.apache.spark.sql.SparkSession,
                                d: String): DataFrame =
    q248Tagged(s, d)
      .groupBy(col("source"))
      .agg(min(when(col("selected"), col("q_fp"))).as("cut"))

  /** The OFFLINE half of q248 as a serving artifact: per source, the
    * fixed-point floor(q·2²⁰) quality of the WORST document the batch
    * budget rule selected — i.e. the admission threshold a standing
    * intake must apply to honor "only this source's best tokens". An
    * intake gate cannot rank a doc against arrivals it hasn't seen, so
    * a threshold IS the serving semantics of budget selection; the
    * batch rule re-runs on the batch cadence and re-fits the cutoffs.
    * A source that selected nothing (zero budget) maps to Long.MaxValue
    * — the gate admits none of its docs. Bounded artifact: one row per
    * source (the q51-centroid / boilerplateFit precedent).
    *
    * Fixed-point, not raw doubles: the cutoff crosses a process
    * boundary in production (fit job → serving config), and floor to
    * 2⁻²⁰ makes the threshold representation-stable while keeping the
    * one-sided guarantee — floor is monotone, so every batch-SELECTED
    * doc still clears its source's cutoff at fp grain (the containment
    * the spec pins); boundary ties at the same fp value are admitted
    * (over-admission by < 2⁻²⁰ of quality, never under-admission).
    */
  def budgetFit(s: org.apache.spark.sql.SparkSession, d: String): Map[String, Long] =
    budgetCuts(s, d).collect().map { r =>
      // unfunded sources (nothing selected) admit nothing; every corpus
      // source appears — the tagged frame covers selected AND rejected
      r.getString(0) -> (if (r.isNullAt(1)) Long.MaxValue else r.getLong(1))
    }.toMap

  /** The SERVING half: admit a doc iff its fixed-point quality clears
    * its source's fitted cutoff. One stateless per-row projection —
    * the cutoff table rides the plan as a map literal (#sources
    * entries), zero shuffles at any intake rate. A source absent from
    * the fit admits nothing (no fitted budget = not funded).
    */
  def budgetProbe(batch: DataFrame, cutoffs: Map[String, Long]): DataFrame =
    batch
      .withColumn("q_fp", qualityFp(col("text")))
      .withColumn("cut", element_at(typedLit(cutoffs), col("source")))
      .withColumn("keep", coalesce(col("q_fp") >= col("cut"), lit(false)))
      .drop("cut")

  /** The OFFLINE half of the q247 rule as a serving artifact: the
    * hash60s of every line whose document frequency exceeds `cap`,
    * df-descending, truncated at `maxLines` — a bounded model artifact
    * shipped to the driver (the q51-centroid / q118-vocab precedent;
    * production refreshes it on the batch cadence). The intake gate
    * ([[scrubLines]] / `StatefulOps.boilerplateGate`) probes this set
    * statelessly per row, so the SERVING path never pays the corpus
    * df aggregate.
    */
  def boilerplateFit(docs: DataFrame, textCol: String, idCol: String,
                     cap: Int, maxLines: Int = 10000): Seq[Long] =
    docs
      .select(col(idCol), explode(split(col(textCol), "\\. ")).as("sent"))
      .select(col(idCol),
        graft.functions.ParityFns.hash60(lower(trim(col("sent")))).as("h"))
      .distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("line_df"))
      .filter(col("line_df") > cap)
      .orderBy(col("line_df").desc, col("h"))
      .limit(maxLines)
      .collect().map(_.getLong(0)).toSeq

  /** The SERVING half: scrub every line whose hash60 is in the fitted
    * boilerplate set — one stateless per-row projection (filter
    * preserves original line order), zero shuffles at any corpus size.
    * `boiler` is bounded by [[boilerplateFit]]'s maxLines, so the
    * array literal broadcasts with the plan; the per-line probe is a
    * binary search over the sorted literal.
    */
  def scrubLines(df: DataFrame, textCol: String, boiler: Seq[Long]): DataFrame = {
    val bl = typedLit(boiler.sorted.toArray)
    def hit(x: Column): Column = call_function("graft_sorted_contains", bl,
      graft.functions.ParityFns.hash60(lower(trim(x))))
    val sents = split(col(textCol), "\\. ")
    val kept = filter(sents, x => !hit(x))
    df.withColumn("clean_text", array_join(kept, ". "))
      .withColumn("n_scrubbed", (size(sents) - size(kept)).cast("long"))
  }

  // q246's round-trip fixture dirs, one per (JVM, dataset dir): the
  // CorpusSink write is a real side effect, and before round 18 every
  // build() re-ran it into a FIXED /tmp path — so each iteration of a
  // plan-only consumer (PlanSpec's catalog loop, PlanDump's two
  // passes) paid a full write job, and two concurrent builders could
  // interleave under mode(overwrite) on the shared path (round-17
  // advice). Now the write runs once per dataset per JVM into a
  // JVM-salted temp dir (computeIfAbsent serializes in-JVM racers;
  // separate JVMs get separate dirs) — the input table is immutable,
  // so reuse is sound, and CorpusSinkSpec keeps exercising fresh
  // writes directly.
  private val q246Dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def q246SinkDir(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    q246Dirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q246_sink_").toString
      // JVM-exit cleanup (round-18 advice): without it, every JVM that
      // builds q246 leaves a shard tree in /tmp forever. deleteOnExit
      // can't remove non-empty dirs, so walk-and-delete in a shutdown
      // hook (deepest first). NOTE for timing consumers: the FIRST
      // build() in a JVM pays the full CorpusSink write inside any
      // timed window; later builds pay only the read — q246 is not a
      // headline bench entry for exactly this bimodality.
      val p = java.nio.file.Paths.get(dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }
      }))
      graft.sinks.CorpusSink.write(
        Tables(s, d, "documents")
          .select(col("doc_id"), col("text"), col("lang")),
        dir, Seq("lang"), "doc_id",
        shards = SinkShards, maxRecordsPerFile = SinkMaxRows)
      dir
    })

  /** q90's gate, extracted so the corpus-SHIP path (q249) applies the
    * exact same survivor rule the build entry does: predicted-English
    * docs whose quality signal clears [[MinQuality]], quality column
    * attached.
    */
  private[graft] def q90Gated(s: org.apache.spark.sql.SparkSession,
                              d: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks)
    val nStop = TextAnalysis.markerCount(toks, TextAnalysis.StopWords)
    val stopRatio = nStop.cast("double") / nTok
    val quality = least(lit(1.0), nTok / lit(100.0)) * (lit(1.0) - stopRatio)
    val isEnglish = TextAnalysis.predictedLang(toks) === "en"
    Tables.spread(Tables(s, d, "documents"))
      .withColumn("quality", quality)
      .filter(isEnglish && col("quality") >= MinQuality)
  }

  /** q90's survivor corpus at SHIP grain — gate + exact-dup collapse
    * (canonical keeper = min doc_id per distinct text, n_dups = copies
    * collapsed), carrying the payload columns a downstream trainer
    * needs (lang partition key, full text). This is the frame q249
    * writes through [[graft.sinks.CorpusSink.write]].
    */
  private[graft] def q90Survivors(s: org.apache.spark.sql.SparkSession,
                                  d: String): DataFrame = {
    val gated = q90Gated(s, d)
    val canon = gated
      .groupBy(sha2(col("text"), 256).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("n_dups"))
    // re-join payload by canonical id instead of dragging text through
    // the dedup shuffle (q90's own discipline)
    canon.join(gated.select(col("doc_id"), col("lang"), col("text")),
        Seq("doc_id"))
      .select(col("doc_id"), col("n_dups"), col("lang"), col("text"))
  }

  // q249's ship fixture dirs — the q246 once-per-(JVM, dataset)
  // memoization (the write is a real side effect; PlanSpec/PlanDump
  // build every entry repeatedly) with the same shutdown-hook cleanup.
  private val q249Dirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def q249ShipDir(s: org.apache.spark.sql.SparkSession,
                          d: String): String =
    q249Dirs.computeIfAbsent(d, _ => {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_q249_ship_").toString
      val p = java.nio.file.Paths.get(dir)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        } catch { case _: Throwable => () }
      }))
      graft.sinks.CorpusSink.write(q90Survivors(s, d), dir, Seq("lang"),
        "doc_id", shards = SinkShards, maxRecordsPerFile = SinkMaxRows)
      dir
    })

  /** q247's boilerplate threshold: a line is scrubbed when it appears
    * verbatim in MORE than this many documents. 3 splits the fixture's
    * three synthesized df regimes (global frame = corpus, per-source
    * header ≈ docs/source, unique body ≈ 1) non-degenerately at every
    * SF; production corpora set it from a boilerplate audit (the C4
    * rule used 1 at three-sentence-span grain).
    */
  val LineDfCap = 3
}
