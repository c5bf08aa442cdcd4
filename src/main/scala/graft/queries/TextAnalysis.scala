package graft.queries

import graft.Caches.TrackedPersist
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Text-analysis family over documents (SURVEY.md §2.2 Q42 + the
  * training-data-pipeline mandate): language ID (stopword-marker
  * heuristic), quality scoring, token counting (whitespace + regex
  * lexer), and document fingerprinting (canonicalized token-set md5).
  * Pure column expressions end to end — no UDFs in any of these paths.
  */
object TextAnalysis {

  /** THE language-marker word lists — the single source of truth for
    * q60's classifier, q90/q113's language gate, and q115's audit (and
    * their oracle SQL, via [[orCondSql]]). Public so no second copy can
    * drift.
    */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "es" -> Seq("el", "la", "de"),
    "fr" -> Seq("le", "les", "et"),
    "de" -> Seq("der", "die", "und"))

  /** English stopword list shared by q61's quality score and the
    * q90/q113 quality gate.
    */
  val StopWords: Seq[String] = Seq("the", "a")

  /** q125 BM25: textbook k1/b (kept as SQL-literal STRINGS so both
    * engines parse the identical decimal text to the identical double),
    * probe-doc count, result depth, and the fixed-point scale (2^20, the
    * q51 value) for the order-free term-score summation.
    */
  val Bm25Queries = 5
  val Bm25TopK = 5
  val Bm25K1 = "1.2"
  val Bm25K1p1 = "2.2"
  val Bm25B = "0.75"
  val FixedPoint = 1048576L

  /** q128's reciprocal-rank-fusion constant (the k=60 of Cormack et al.
    * 2009) — each list contributes floor(2^20 / (RrfK + rank)).
    */
  val RrfK = 60

  /** q130: number of BPE merge rounds learned from the corpus, and the
    * candidate-window size for the batched argmax (how many top pairs
    * one driver round-trip collects — a bounded model artifact, never
    * data; see [[bpeFit]] for the exactness argument).
    */
  val BpeMerges = 32
  val BpeBatch = 64

  /** q150: keywords kept per document; q154: minimum bigram count for a
    * collocation candidate and the global top-K emitted.
    */
  val TfidfTopK = 3
  val PmiMinPair = 5
  val PmiTopK = 25

  /** q125's full ranked-retrieval oracle (top-k BM25 neighbors per
    * query doc) — factored out so q210's retrieval-evaluation oracle
    * can wrap the SAME text as a CTE: one copy of the ranking SQL,
    * the two entries cannot drift.
    */
  private[queries] val Bm25OracleSql: String =
    s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
       |  FROM docs),
       |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS term
       |       FROM docs WHERE doc_id < $Bm25Queries),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
       |    CAST(any_value(dl) AS BIGINT) AS dl
       |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs)
       |  WHERE term IN (SELECT DISTINCT term FROM qt)
       |  GROUP BY doc_id, term),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
       |sc AS (SELECT q.q_id, p.doc_id AS n_id,
       |    CAST(sum(CAST(floor(
       |      CAST(length(bin(t.n_docs // f.df)) AS DOUBLE)
       |        * (CAST(p.tf AS DOUBLE) * CAST($Bm25K1p1 AS DOUBLE))
       |        / (CAST(p.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
       |           * (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
       |              + CAST($Bm25B AS DOUBLE) * (CAST(p.dl AS DOUBLE) / t.avgdl)))
       |      * $FixedPoint.0) AS BIGINT)) AS BIGINT) AS fsc
       |  FROM post p JOIN qt q USING (term) JOIN dft f USING (term)
       |    CROSS JOIN tot t
       |  WHERE p.doc_id <> q.q_id
       |  GROUP BY q.q_id, p.doc_id)
       |SELECT q_id, n_id, CAST(rk AS INT) AS rk,
       |  CAST(fsc AS DOUBLE) / $FixedPoint.0 AS score
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY fsc DESC, n_id) AS rk FROM sc)
       |WHERE rk <= $Bm25TopK""".stripMargin

  /** Native bounded-vocab fold (Σ vocab.getOrElse(token, dflt)). Keys
    * ship SORTED in UTF8 byte order (the kernel binary-searches; the
    * registry builder re-verifies the order at plan build).
    */
  private[graft] def vocabSumNative(toks: Column, m: Map[String, Long],
                                    dflt: Long): Column = {
    import org.apache.spark.unsafe.types.UTF8String
    val kv = m.toSeq.sortWith((a, b) =>
      UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0)
    call_function("graft_vocab_sum", toks,
      typedLit(kv.map(_._1)), typedLit(kv.map(_._2)), lit(dflt))
  }

  def markerCount(toks: Column, words: Seq[String]): Column =
    // the kernel fold (vals = 1, dflt = 0) replaces an interpreted
    // filter(toks, OR-chain) per row — the q90/q113/q135 gates' lang
    // and stopword counts run this over every corpus token
    vocabSumNative(toks, words.map(_ -> 1L).toMap, 0L).cast("int")

  /** q60's marker-argmax prediction with fixed precedence
    * en > es > fr > de on ties — shared by q60, q115, and (via
    * `=== "en"`) the q90/q113 language gate. One copy of the rule; the
    * oracle SQL mirrors build their word lists from [[markers]].
    */
  def predictedLang(toks: Column): Column = {
    val sc = markers.map { case (l, ws) => l -> markerCount(toks, ws) }.toMap
    when(sc("en") >= sc("es") && sc("en") >= sc("fr") && sc("en") >= sc("de"), "en")
      .when(sc("es") >= sc("fr") && sc("es") >= sc("de"), "es")
      .when(sc("fr") >= sc("de"), "fr")
      .otherwise("de")
  }

  /** SQL OR-chain over a word list (`v = 'w1' OR v = 'w2' …`) — the
    * oracle-side rendering of [[markerCount]]/[[StopWords]] membership,
    * generated from the same Seq so the lists cannot drift.
    */
  def orCondSql(v: String, words: Seq[String]): String =
    words.map(w => s"$v = '$w'").mkString(" OR ")

  def defs: ListMap[String, Q] = ListMap(

    // ---- language ID: argmax of per-language marker-word counts, with
    //      fixed precedence (en > es > fr > de) on ties.
    "q60_langid" -> Q(
      (s, d) => {
        val pred = predictedLang(split(col("text"), " "))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), pred.as("pred_lang"),
            (pred === col("lang")).as("is_match"))
      },
      Some {
        def cnt(ws: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), t -> ${orCondSql("t", ws)}))"
        s"""WITH scored AS (SELECT doc_id, lang,
           |  ${cnt(markers(0)._2)} AS s_en, ${cnt(markers(1)._2)} AS s_es,
           |  ${cnt(markers(2)._2)} AS s_fr, ${cnt(markers(3)._2)} AS s_de
           |  FROM documents)
           |SELECT doc_id,
           |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
           |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
           |       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang,
           |  (CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
           |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
           |       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END) = lang AS is_match
           |FROM scored""".stripMargin
      },
      // bench-trimmed (r9 advice #7): PlanSpec pins the shape, sub-second at sf0.1
      headline = false),

    // ---- quality score: length/stopword-ratio features → [0,1] score.
    //      Intermediates stay unrounded so both engines compare the same
    //      doubles; only the reported columns are rounded.
    "q61_quality" -> Q(
      (s, d) => {
        val toks = split(col("text"), " ")
        val nTok = size(toks)
        // Σ token lengths without the interpreted aggregate∘transform
        // fold (both CodegenFallback HOFs): split on the 1-char " "
        // pattern consumes exactly nTok − 1 separator chars, so
        // Σ len(tok) = len(text) − (nTok − 1) identically — including
        // empty tokens from irregular spacing (they contribute 0) and
        // the empty document ([""], 0 = 0 − 0)
        val sumLen = length(col("text")) - (nTok - lit(1))
        // stopword count through the codegen'd bounded-vocab kernel
        val nStop = markerCount(toks, StopWords)
        val stopRatio = nStop.cast("double") / nTok
        val score = least(lit(1.0), nTok / lit(100.0)) * (lit(1.0) - stopRatio)
        Tables.spread(Tables(s, d, "documents")).select(
          col("doc_id"),
          length(col("text")).as("n_chars"),
          nTok.as("n_tokens"),
          round(sumLen.cast("double") / nTok, 4).as("avg_token_len"),
          round(stopRatio, 4).as("stopword_ratio"),
          round(score, 4).as("quality"))
      },
      Some("""WITH f AS (SELECT doc_id, length(text) AS n_chars,
             |    len(string_split(text, ' ')) AS n_tokens,
             |    CAST(list_aggregate(list_transform(string_split(text, ' '), t -> length(t)), 'sum') AS BIGINT) AS sum_len,
             |    len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS n_stop
             |  FROM documents)
             |SELECT doc_id, CAST(n_chars AS INT) AS n_chars, CAST(n_tokens AS INT) AS n_tokens,
             |  round(sum_len * 1.0 / n_tokens, 4) AS avg_token_len,
             |  round(n_stop * 1.0 / n_tokens, 4) AS stopword_ratio,
             |  round(least(1.0, n_tokens / 100.0) * (1.0 - n_stop * 1.0 / n_tokens), 4) AS quality
             |FROM f""".stripMargin),
      headline = false),

    // ---- token counting: whitespace tokens + a BPE-ish regex lexer
    //      (letter runs / digit runs / single punctuation).
    "q62_token_count" -> Q(
      (s, d) => {
        Tables(s, d, "documents").select(
          col("doc_id"),
          size(split(col("text"), " ")).as("ws_tokens"),
          expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))").as("lex_tokens"))
      },
      Some("""SELECT doc_id,
             |  CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INT) AS lex_tokens
             |FROM documents""".stripMargin)),

    // ---- document fingerprint: md5 over the sorted distinct token set
    //      (collision-key canonicalization — whitespace/order insensitive).
    "q63_fingerprint" -> Q(
      (s, d) => {
        Tables.spread(Tables(s, d, "documents")).select(
          col("doc_id"),
          md5(concat_ws(" ",
            array_sort(array_distinct(split(lower(col("text")), " "))))).as("fp"))
      },
      Some("""SELECT doc_id,
             |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp
             |FROM documents""".stripMargin),
      headline = false),

    // ---- corpus term frequency: top-20 tokens (classic tf; partial
    //      aggregation absorbs the explode before the shuffle)
    "q64_tf_topterms" -> Q(
      (s, d) => {
        Tables.spread(Tables(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token"))
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token").asc)
          .limit(20)
      },
      Some("""SELECT token, count(*) AS tf FROM (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY tf DESC, token LIMIT 20""".stripMargin),
      // bench-trimmed (r9 advice #7): PlanSpec pins the shape, sub-second at sf0.1
      headline = false),

    // ---- heavy hitters at scale: Misra–Gries sketch → candidate set →
    //      exact recount of candidates only. The sketch bounds state by
    //      its capacity (not the token domain), and the exact pass makes
    //      the answer deterministic — identical to the plain top-k the
    //      oracle computes, by the MG frequency guarantee.
    //      PRECONDITION: MG(capacity c) only guarantees candidates ⊇
    //      {tokens with frequency > N/(c+1)}; the oracle-equality here
    //      holds because every true top-10 token in the fixture corpus
    //      clears N/4097 (MisraGriesSpec "candidates cover exact top-10"
    //      verifies this superset on the actual corpus). On a flatter
    //      distribution, size capacity ≥ N/f_min − 1 from a corpus
    //      frequency bound before trusting the recount.
    "q65_heavy_hitters" -> Q(
      (s, d) => {
        def toks = Tables.spread(Tables(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("token"))
        // No exact-distinct alternative: it would be precisely the
        // unbounded-state scan the sketch exists to avoid at 100 TB.
        // SparkEntry installs the kernels on any session it builds for.
        val cand =
          toks.agg(call_function("graft_mg_candidates", col("token"), lit(4096)).as("c"))
            .select(explode(col("c")).as("token"))
        toks.join(broadcast(cand), Seq("token"), "left_semi")
          .groupBy(col("token"))
          .agg(count(lit(1)).as("tf"))
          .orderBy(col("tf").desc, col("token").asc)
          .limit(10)
      },
      Some("""SELECT token, count(*) AS tf FROM (
             |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |GROUP BY token ORDER BY tf DESC, token LIMIT 10""".stripMargin)),

    // ---- vocabulary coverage: the top-V tokens by corpus frequency
    //      with each prefix's cumulative share of all token occurrences
    //      — the curve a tokenizer/vocab-size decision reads (how much
    //      of the corpus the first V entries cover). Scale shape: one
    //      hash-agg shuffle for counts, then TakeOrderedAndProject for
    //      the top V (never a global sort), and the running-sum window
    //      runs over exactly V rows — a single bounded partition by
    //      construction, not a scaling hazard. The corpus total rides a
    //      broadcast 1-row crossJoin.
    "q108_vocab_coverage" -> Q(
      (s, d) => {
        // vocab-grain counts persist ONCE: the total mass and the top-V
        // head both re-ran the exploded-corpus aggregate before round 16
        // (widened duplicate-aggregate lint finding)
        val counts = Tables.spread(Tables(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("tf"))
          .persistTracked
        val total = counts.agg(sum(col("tf")).as("total"))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("tf").desc, col("token").asc)
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        counts.orderBy(col("tf").desc, col("token").asc).limit(VocabTopV)
          .crossJoin(broadcast(total))
          .select(col("token"), col("tf"),
            row_number().over(
              org.apache.spark.sql.expressions.Window
                .orderBy(col("tf").desc, col("token").asc)).as("rank"),
            sum(col("tf")).over(w).as("cum_tf"),
            (sum(col("tf")).over(w).cast("double") /
              col("total").cast("double")).as("coverage"))
          .select(col("rank").cast("int").as("rank"), col("token"), col("tf"),
            col("cum_tf"), col("coverage"))
      },
      // CAST .. AS BIGINT on every integer aggregate: DuckDB widens
      // sum() to HUGEINT, which the driver renders as float (r7 lesson)
      Some(s"""WITH c AS (SELECT token, count(*) AS tf FROM (
              |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
              |  GROUP BY token),
              |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM c),
              |top AS (SELECT token, tf FROM c ORDER BY tf DESC, token LIMIT $VocabTopV)
              |SELECT CAST(row_number() OVER (ORDER BY tf DESC, token) AS INT) AS rank,
              |  token, tf,
              |  CAST(sum(tf) OVER (ORDER BY tf DESC, token
              |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tf,
              |  CAST(sum(tf) OVER (ORDER BY tf DESC, token
              |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / CAST(total AS DOUBLE) AS coverage
              |FROM top CROSS JOIN tot""".stripMargin)),

    // ---- top-gram CONCENTRATION (the Gopher rule q96's dup-fraction
    //      gates don't cover): the share of a doc's token instances taken
    //      by its single most frequent token, and of its 2-gram instances
    //      taken by its most frequent 2-gram. A doc can pass q96's
    //      duplicated-n-gram fractions while one keyword-stuffed term
    //      dominates — concentration catches that axis. One O(n)
    //      per-row kernel pass in the scan stage (zero shuffles at any
    //      corpus size) — bounded by doc length, not corpus.
    //      Fractions are exact count/count IEEE divisions (bit-identical
    //      across engines, no rounding needed).
    "q109_topgram_concentration" -> Q(
      (s, d) => {
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), concentration(col("text")).as("c"))
          .select(col("doc_id"), col("c.n_tokens").as("n_tokens"),
            col("c.top1_frac").as("top1_frac"),
            col("c.top2_frac").as("top2_frac"),
            col("c.keep").as("keep"))
      },
      Some(s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
              |g AS (SELECT doc_id, toks,
              |    CASE WHEN len(toks) < 2 THEN [] ELSE
              |      list_transform(generate_series(1, len(toks) - 1), i ->
              |        toks[i] || ' ' || toks[i+1]) END AS g2
              |  FROM t),
              |f AS (SELECT doc_id, CAST(len(toks) AS INT) AS n_tokens,
              |    CASE WHEN len(toks) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
              |      CAST(list_max(list_transform(list_distinct(toks), gg ->
              |        len(list_filter(toks, x -> x = gg)))) AS DOUBLE)
              |        / CAST(len(toks) AS DOUBLE) END AS top1_frac,
              |    CASE WHEN len(g2) = 0 THEN CAST(0.0 AS DOUBLE) ELSE
              |      CAST(list_max(list_transform(list_distinct(g2), gg ->
              |        len(list_filter(g2, x -> x = gg)))) AS DOUBLE)
              |        / CAST(len(g2) AS DOUBLE) END AS top2_frac
              |  FROM g)
              |SELECT doc_id, n_tokens, top1_frac, top2_frac,
              |  top1_frac <= $Top1Max AND top2_frac <= $Top2Max AS keep
              |FROM f""".stripMargin)),

    // ---- per-source length profile: doc counts, char mass, and the
    //      within-source doc-share + cumulative share per fixed
    //      64-char bucket — the histogram a packing/chunking config
    //      (q94's budget, q104's window) is tuned against, and the
    //      first corpus-drift signal an intake dashboard watches.
    //      Bucketing is exact integer division (`div` / `//` — no
    //      float log-bucket edge cases); the only shuffle is the
    //      (source, bucket)-grain aggregate, and both windows run over
    //      the already-reduced #sources × #buckets grain — trivially
    //      bounded at any corpus size. Shares are exact-int divisions
    //      in IEEE doubles (bit-identical across engines, no rounding).
    "q111_length_profile" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
        val wc = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("bucket"))
        Tables.spread(Tables(s, d, "documents"))
          .groupBy(col("source"), expr(s"n_chars div $LenBucketChars").as("bucket"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
          .select(col("source"), col("bucket").cast("int").as("bucket"),
            col("n_docs"), col("sum_chars"),
            (col("n_docs").cast("double") /
              sum(col("n_docs")).over(w).cast("double")).as("share"),
            (sum(col("n_docs")).over(wc).cast("double") /
              sum(col("n_docs")).over(w).cast("double")).as("cum_share"))
      },
      // CAST .. AS BIGINT on the sums: DuckDB widens to HUGEINT (r7 lesson)
      Some(s"""WITH b AS (SELECT source, n_chars // $LenBucketChars AS bucket,
              |    count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
              |  FROM documents GROUP BY 1, 2)
              |SELECT source, CAST(bucket AS INT) AS bucket, n_docs, sum_chars,
              |  CAST(n_docs AS DOUBLE)
              |    / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS share,
              |  CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bucket) AS DOUBLE)
              |    / CAST(sum(n_docs) OVER (PARTITION BY source) AS DOUBLE) AS cum_share
              |FROM b""".stripMargin)),

    // ---- token frequency SPECTRUM (count-of-counts): for each
    //      occurrence count f, how many vocabulary types occur exactly
    //      f times and what share of types / of corpus token mass they
    //      carry — the Zipf-health curve behind vocab sizing (q108
    //      reads the head; the spectrum shows the hapax/low-f tail a
    //      tokenizer actually drowns in). Scale shape: the token
    //      hash-agg is the only corpus-sized shuffle (map-side
    //      combinable); the spectrum re-agg runs over vocabulary-sized
    //      input and the totals ride a broadcast 1-row crossJoin
    //      (PlanSpec allowlist).
    "q114_token_spectrum" -> Q(
      (s, d) => {
        // vocab-grain term frequencies persist ONCE: the 1-row total and
        // the f-histogram are both re-aggregates of it (pre-round-16
        // each rebuilt the exploded-corpus aggregate — lint finding)
        val tf = Tables.spread(Tables(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("token"))
          .groupBy(col("token")).agg(count(lit(1)).as("f"))
          .persistTracked
        val tot = tf.agg(sum(col("f")).as("total_mass"),
          count(lit(1)).as("n_vocab"))
        tf.groupBy(col("f")).agg(count(lit(1)).as("n_types"))
          .crossJoin(broadcast(tot))
          .select(col("f"), col("n_types"),
            (col("f") * col("n_types")).as("mass"),
            (col("n_types").cast("double") / col("n_vocab").cast("double"))
              .as("type_share"),
            ((col("f") * col("n_types")).cast("double") /
              col("total_mass").cast("double")).as("mass_share"))
      },
      // CAST .. AS BIGINT on the total: DuckDB widens sum() to HUGEINT;
      // f * count(*) stays BIGINT (only sum() widens)
      Some("""WITH tf AS (SELECT token, count(*) AS f FROM (
             |    SELECT unnest(string_split(text, ' ')) AS token FROM documents)
             |  GROUP BY token),
             |tot AS (SELECT CAST(sum(f) AS BIGINT) AS total_mass,
             |    count(*) AS n_vocab FROM tf)
             |SELECT f, count(*) AS n_types, f * count(*) AS mass,
             |  CAST(count(*) AS DOUBLE) / CAST(n_vocab AS DOUBLE) AS type_share,
             |  CAST(f * count(*) AS DOUBLE) / CAST(total_mass AS DOUBLE) AS mass_share
             |FROM tf CROSS JOIN tot GROUP BY f, n_vocab, total_mass""".stripMargin)),

    // ---- language-ID confusion matrix: q60's marker-argmax prediction
    //      against the labeled lang column, as (label, predicted) cells
    //      with each cell's share of its label row — the classifier
    //      audit the per-doc is_match flag can't summarize. One
    //      #langs²-grain aggregate; the share window runs over at most
    //      #langs rows per partition.
    "q115_langid_confusion" -> Q(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("lang"),
            predictedLang(split(col("text"), " ")).as("pred_lang"))
          .groupBy(col("lang"), col("pred_lang"))
          .agg(count(lit(1)).as("n_docs"))
          .select(col("lang"), col("pred_lang"), col("n_docs"),
            (col("n_docs").cast("double") /
              sum(col("n_docs")).over(w).cast("double")).as("frac_of_label"))
      },
      Some {
        def cnt(ws: Seq[String]) =
          s"len(list_filter(string_split(text, ' '), t -> ${orCondSql("t", ws)}))"
        s"""WITH scored AS (SELECT lang,
           |  ${cnt(markers(0)._2)} AS s_en, ${cnt(markers(1)._2)} AS s_es,
           |  ${cnt(markers(2)._2)} AS s_fr, ${cnt(markers(3)._2)} AS s_de
           |  FROM documents),
           |p AS (SELECT lang,
           |  CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
           |       WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
           |       WHEN s_fr >= s_de THEN 'fr' ELSE 'de' END AS pred_lang
           |  FROM scored)
           |SELECT lang, pred_lang, count(*) AS n_docs,
           |  CAST(count(*) AS DOUBLE)
           |    / CAST(sum(count(*)) OVER (PARTITION BY lang) AS DOUBLE) AS frac_of_label
           |FROM p GROUP BY lang, pred_lang""".stripMargin
      }),

    // ---- unigram-LM document surprisal: the perplexity-filter proxy
    //      (score every doc by how surprising its tokens are under the
    //      corpus's own unigram model) without any floating-point log —
    //      cross-engine ln/log2 are NOT bit-identical, so the per-token
    //      surprisal is integer-quantized as length(bin(total div tf)) =
    //      floor(log2(total/tf)) + 1 "bits", exact BIGINT arithmetic in
    //      both engines. Vocabulary = q108's top-V head, OOV floor =
    //      length(bin(total)) (p = 1/total). 100 TB shape: the token
    //      hash-agg is the one corpus-sized shuffle (it IS the model
    //      fit); the fitted model is V rows — collected once into a map
    //      literal (the q51 trained-centroid precedent: a bounded model
    //      artifact, not data) so scoring is a zero-shuffle per-row fold
    //      in the scan stage. Mean bits/token is one exact BIGINT-sum /
    //      count division.
    "q118_doc_surprisal" -> Q(
      (s, d) => {
        val (vocab, oov) = surprisalFit(s, d)
        surprisalScore(Tables.spread(Tables(s, d, "documents")), vocab, oov)
          .select(col("doc_id"), col("surp_bits"), col("n_tok"),
            col("bits_per_tok"))
      },
      Some(s"""WITH c AS (SELECT token, count(*) AS tf FROM (
              |    SELECT unnest(string_split(text,' ')) AS token FROM documents)
              |  GROUP BY token),
              |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS total FROM c),
              |top AS (SELECT token, tf FROM c ORDER BY tf DESC, token LIMIT $VocabTopV),
              |v AS (SELECT token,
              |    CAST(length(bin(CAST((SELECT total FROM tot) // tf AS BIGINT))) AS BIGINT) AS surp
              |  FROM top),
              |oovs AS (SELECT CAST(length(bin(total)) AS BIGINT) AS surp FROM tot),
              |t AS (SELECT doc_id, unnest(string_split(text,' ')) AS token FROM documents)
              |SELECT t.doc_id,
              |  CAST(sum(coalesce(v.surp, (SELECT surp FROM oovs))) AS BIGINT) AS surp_bits,
              |  CAST(count(*) AS BIGINT) AS n_tok,
              |  CAST(sum(coalesce(v.surp, (SELECT surp FROM oovs))) AS DOUBLE) / count(*) AS bits_per_tok
              |FROM t LEFT JOIN v USING (token) GROUP BY t.doc_id""".stripMargin),
      headline = true),

    // ---- learned source classifier: multinomial Naive Bayes over token
    //      counts predicting `source` — the trained-classifier verb of
    //      the quality/domain-filter family (the fastText-classifier
    //      pattern of CCNet/LLaMA data curation, where a model scores
    //      "looks like the target domain"; q115 is the HEURISTIC langid
    //      confusion, this one is FIT on the corpus). All arithmetic is
    //      q118's integer-quantized log2: class prior bits(N/docs_c),
    //      per-token channel cost bits(ctot_c/tf_{c,t}) over the global
    //      top-V vocabulary head, OOV floor bits(ctot_c) — exact BIGINT
    //      everywhere, no float log, so the argmin and margins are
    //      bit-identical cross-engine. 100 TB shape: the fit is ONE
    //      (source, token) hash-agg (C×V model rows collected — the
    //      trainCentroids bounded-artifact precedent); scoring ships the
    //      C maps as literals and is a zero-shuffle scan-stage fold;
    //      prediction is array_sort over C structs per row, no
    //      per-class shuffle or window anywhere.
    "q141_nb_sourceid" -> Q(
      (s, d) => nbScore(Tables.spread(Tables(s, d, "documents")), nbFit(s, d)),
      Some(s"""WITH t AS (SELECT doc_id, source,
              |    unnest(string_split(text,' ')) AS token FROM documents),
              |gtf AS (SELECT token, count(*) AS tf FROM t GROUP BY token),
              |voc AS (SELECT token FROM gtf ORDER BY tf DESC, token LIMIT $VocabTopV),
              |cls AS (SELECT source, CAST(count(*) AS BIGINT) AS docs
              |        FROM documents GROUP BY source),
              |nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
              |ctot AS (SELECT source, CAST(count(*) AS BIGINT) AS ct
              |         FROM t GROUP BY source),
              |ctf AS (SELECT source, token, CAST(count(*) AS BIGINT) AS tf FROM t
              |        WHERE token IN (SELECT token FROM voc) GROUP BY source, token),
              |model AS (SELECT c.source, c.token,
              |    CAST(length(bin(CAST(ct.ct // c.tf AS BIGINT))) AS BIGINT) AS bits
              |  FROM ctf c JOIN ctot ct USING (source)),
              |prior AS (SELECT cls.source,
              |    CAST(length(bin(CAST((SELECT n FROM nd) // cls.docs AS BIGINT)))
              |      AS BIGINT) AS pbits,
              |    CAST(length(bin(ct.ct)) AS BIGINT) AS oov
              |  FROM cls JOIN ctot ct USING (source)),
              |sc AS (SELECT t.doc_id, p.source AS cls,
              |    CAST(p.pbits + sum(coalesce(m.bits, p.oov)) AS BIGINT) AS bits
              |  FROM t CROSS JOIN prior p
              |    LEFT JOIN model m ON m.source = p.source AND m.token = t.token
              |  GROUP BY t.doc_id, p.source, p.pbits),
              |rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              |    ORDER BY bits, cls) AS rn FROM sc)
              |SELECT b.doc_id, d.source, b.cls AS pred_source, b.bits AS bits,
              |  CAST(r.bits - b.bits AS BIGINT) AS margin_bits,
              |  (b.cls = d.source) AS correct
              |FROM rk b JOIN rk r ON r.doc_id = b.doc_id AND r.rn = 2
              |  JOIN documents d ON d.doc_id = b.doc_id
              |WHERE b.rn = 1""".stripMargin)),

    // ---- stutter scrub: collapse CONSECUTIVE repeated tokens ("spam
    //      spam spam" → "spam") — the cheapest of the standard repetition
    //      cleaning passes (OCR stutter, scraper echo, keyboard bounce);
    //      q96/q109 MEASURE repetition, this REWRITES it (the catalog's
    //      transform verbs: q98 scrub, q104 chunk, q116 pack, this).
    //      Index-lambda filter: keep token i iff i = 0 or it differs from
    //      its predecessor — associative with nothing, shuffle-free,
    //      codegen-resident per-row work at any corpus size.
    "q122_stutter_scrub" -> Q(
      (s, d) => {
        val l = split(col("text"), " ")
        val kept = filter(l, (x, i) => i === 0 || element_at(l, i) =!= x)
        Tables.spread(Tables(s, d, "documents")).select(
          col("doc_id"),
          concat_ws(" ", kept).as("clean_text"),
          (size(l) - size(kept)).as("removed"),
          size(l).as("n_tok"))
      },
      Some("""WITH t AS (SELECT doc_id, string_split(text,' ') AS l FROM documents),
             |c AS (SELECT doc_id, l,
             |    list_filter(l, (x, i) -> i = 1 OR l[i-1] <> x) AS kept FROM t)
             |SELECT doc_id, array_to_string(kept, ' ') AS clean_text,
             |  CAST(len(l) - len(kept) AS INT) AS removed,
             |  CAST(len(l) AS INT) AS n_tok
             |FROM c""".stripMargin)),

    // ---- BM25 retrieval: lexical top-k search over an inverted index —
    //      the retrieval counterpart of q50's embedding search (dedup
    //      attribution, contamination triage, and eval-set mining all
    //      need "find the docs most similar to THIS one" by terms).
    //      Probe docs 0..Bm25Queries-1 are the queries (doc-as-query).
    //      Cross-engine parity: idf is INTEGER-quantized —
    //      length(bin(N div df)) = floor(log2(N/df)) + 1 bits, exact
    //      BIGINT arithmetic (the q118 lesson: float ln/log2 diverge in
    //      the last ulp across engines); the tf saturation and length
    //      normalization are plain IEEE mul/div written in ONE canonical
    //      order in both engines; the per-(query, doc) term sum runs in
    //      floor(x·2^20) fixed point so the reduction is order-free at
    //      any parallelism, and the emitted score = fsc / 2^20 is exact
    //      — no rounding anywhere. 100 TB shape: the distinct query-term
    //      set broadcasts; corpus tokens are filtered against it IN THE
    //      SCAN STAGE, so only matched postings reach the one
    //      (doc, term) tf shuffle (dl rides via first(), no corpus-grain
    //      join-back); df is a query-term-grain aggregate broadcast
    //      back; the (q, doc) score aggregate is map-side combinable;
    //      graft_topk collapses candidates to ≤ k per partition before
    //      the per-query shuffle — no ranking window over the corpus.
    "q125_bm25" -> Q(
      (s, d) => bm25SelfRank(s, d),
      Some(Bm25OracleSql),
      headline = true,
      // fit = the full-vocabulary postings index; probe = one query
      // batch against the warm postings (includes the self match the
      // cold doc-as-query path excludes — a timing surface, not an
      // oracle one)
      probe = Some((s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val idx = persistedBm25Index(docs)
        () => bm25Probe(docs.filter(col("doc_id") < Bm25Queries)
          .select(col("doc_id").as("q_id"), col("text")), idx, Bm25TopK)
      })),

    // ---- DSIR data selection (Xie et al. 2023): score every non-target
    //      doc by its importance log-weight under target-vs-raw unigram
    //      models — Σ_t (raw_bits − target_bits) in q118's integer-
    //      quantized log2 — and resample with probability ∝ exp(weight),
    //      which for an integer log2 weight is EXACTLY
    //      min(1, 2^(w+DsirShift)): the keep verdict is a BIGINT
    //      shift/compare against the doc's deterministic md5 u32
    //      fraction (q93's sampling coin) — no float pow/exp/log on
    //      either engine. 100 TB shape: ONE corpus-sized token hash-agg
    //      fits BOTH models (conditional count), the merged ≤2V-entry
    //      delta map ships as a literal, and scoring+resampling are a
    //      zero-shuffle per-row fold in the scan stage.
    "q127_dsir_weight" -> Q(
      (s, d) => {
        val (delta, oov) = dsirFit(s, d)
        dsirScore(
          Tables.spread(Tables(s, d, "documents"))
            .filter(col("source") =!= DsirTarget), delta, oov)
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("w_bits"), col("w_per_tok"), col("keep"))
      },
      Some(s"""WITH tok AS (SELECT doc_id, source, unnest(string_split(text,' ')) AS token
              |  FROM documents),
              |c AS (SELECT token, count(*) AS tf_all,
              |    count(*) FILTER (WHERE source = '$DsirTarget') AS tf_t
              |  FROM tok GROUP BY token),
              |tt AS (SELECT CAST(sum(tf_t) AS BIGINT) AS total_t,
              |    CAST(sum(tf_all - tf_t) AS BIGINT) AS total_r FROM c),
              |vt AS (SELECT token, CAST(length(bin(CAST((SELECT total_t FROM tt) // tf_t AS BIGINT))) AS BIGINT) AS bits
              |  FROM (SELECT token, tf_t FROM c WHERE tf_t > 0
              |        ORDER BY tf_t DESC, token LIMIT $VocabTopV)),
              |vr AS (SELECT token, CAST(length(bin(CAST((SELECT total_r FROM tt) // tf_r AS BIGINT))) AS BIGINT) AS bits
              |  FROM (SELECT token, tf_all - tf_t AS tf_r FROM c WHERE tf_all - tf_t > 0
              |        ORDER BY tf_all - tf_t DESC, token LIMIT $VocabTopV)),
              |oo AS (SELECT CAST(length(bin(total_r)) AS BIGINT) AS oov_r,
              |    CAST(length(bin(total_t)) AS BIGINT) AS oov_t FROM tt),
              |t2 AS (SELECT doc_id, source, token FROM tok WHERE source <> '$DsirTarget'),
              |w AS (SELECT t2.doc_id, t2.source,
              |    CAST(count(*) AS BIGINT) AS n_tok,
              |    CAST(sum(coalesce(vr.bits, (SELECT oov_r FROM oo))
              |           - coalesce(vt.bits, (SELECT oov_t FROM oo))) AS BIGINT) AS w_bits
              |  FROM t2 LEFT JOIN vr ON vr.token = t2.token
              |    LEFT JOIN vt ON vt.token = t2.token
              |  GROUP BY t2.doc_id, t2.source)
              |SELECT doc_id, source, n_tok, w_bits,
              |  CAST(w_bits AS DOUBLE) / n_tok AS w_per_tok,
              |  CASE WHEN w_bits + $DsirShift >= 0 THEN true
              |       WHEN 32 + w_bits + $DsirShift < 0 THEN false
              |       ELSE CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS BIGINT)
              |            < (CAST(1 AS BIGINT) << CAST(32 + w_bits + $DsirShift AS INT)) END AS keep
              |FROM w""".stripMargin),
      headline = true,
      // fit = the ≤2V-entry delta map (two unigram models); probe =
      // the zero-shuffle scan-stage scoring of one batch
      probe = Some((s, d) => {
        val (delta, oov) = dsirFit(s, d)
        () => dsirScore(
          Tables.spread(Tables(s, d, "documents"))
            .filter(col("source") =!= DsirTarget), delta, oov)
          .select(col("doc_id"), col("source"), col("n_tok"),
            col("w_bits"), col("w_per_tok"), col("keep"))
      })),

    // ---- hybrid retrieval (RRF, Cormack et al. 2009): fuse the q125
    //      lexical rank list with the dense cosine rank list over the
    //      same id domain by reciprocal-rank fusion. The fused score is
    //      EXACT integer fixed point — Σ floor(2^20 / (K + rank)) as
    //      BIGINT, never a float 1/(K+r) sum — so both engines agree
    //      bit-for-bit. 100 TB shape: each leg is its own already-
    //      bounded top-k pipeline (BM25: prune-at-scan postings +
    //      graft_topk; dense: broadcast query batch + graft_topk); the
    //      fusion join and final rank see only queries×k rows — ≤ 2k
    //      candidates per query — so the window after the legs is
    //      negligible at any corpus size.
    "q128_hybrid_rrf" -> Q(
      (s, d) => {
        val e = Similarity.vecs(s, d)
        val den = Similarity.searchTopK(e,
          e.filter(col("vec_id") < Bm25Queries)
            .select(col("vec_id").as("q_id"), col("v").as("qv")), Bm25TopK)
        rrfFuse(bm25SelfRank(s, d), den, Bm25TopK)
      },
      Some(s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
              |  FROM docs),
              |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS term
              |       FROM docs WHERE doc_id < $Bm25Queries),
              |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              |    CAST(any_value(dl) AS BIGINT) AS dl
              |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs)
              |  WHERE term IN (SELECT DISTINCT term FROM qt)
              |  GROUP BY doc_id, term),
              |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
              |lsc AS (SELECT q.q_id, p.doc_id AS n_id,
              |    CAST(sum(CAST(floor(
              |      CAST(length(bin(t.n_docs // f.df)) AS DOUBLE)
              |        * (CAST(p.tf AS DOUBLE) * CAST($Bm25K1p1 AS DOUBLE))
              |        / (CAST(p.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
              |           * (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
              |              + CAST($Bm25B AS DOUBLE) * (CAST(p.dl AS DOUBLE) / t.avgdl)))
              |      * $FixedPoint.0) AS BIGINT)) AS BIGINT) AS fsc
              |  FROM post p JOIN qt q USING (term) JOIN dft f USING (term)
              |    CROSS JOIN tot t
              |  WHERE p.doc_id <> q.q_id
              |  GROUP BY q.q_id, p.doc_id),
              |lexr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY fsc DESC, n_id) AS rk FROM lsc)
              |  WHERE rk <= $Bm25TopK),
              |e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $Bm25Queries),
              |dsc AS (SELECT q_id, e.vec_id AS n_id,
              |    list_dot_product(qv, e.v)
              |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
              |  FROM q JOIN e ON e.vec_id <> q.q_id),
              |denr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rk FROM dsc)
              |  WHERE rk <= $Bm25TopK),
              |f AS (SELECT coalesce(l.q_id, dn.q_id) AS q_id,
              |    coalesce(l.n_id, dn.n_id) AS n_id,
              |    l.rk AS lex_rk, dn.rk AS den_rk,
              |    coalesce($FixedPoint // ($RrfK + l.rk), 0)
              |      + coalesce($FixedPoint // ($RrfK + dn.rk), 0) AS rrf_fp
              |  FROM lexr l FULL JOIN denr dn
              |    ON l.q_id = dn.q_id AND l.n_id = dn.n_id)
              |SELECT q_id, n_id, CAST(lex_rk AS INT) AS lex_rk,
              |  CAST(den_rk AS INT) AS den_rk, CAST(rrf_fp AS BIGINT) AS rrf_fp,
              |  CAST(rk AS INT) AS rk
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY rrf_fp DESC, n_id) AS rk FROM f)
              |WHERE rk <= $Bm25TopK""".stripMargin),
      headline = true,
      // fit = postings index + persisted dense corpus; probe = one
      // (q_id, text, qv) batch through hybridProbe (the serving shape)
      probe = Some((s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val idx = persistedBm25Index(docs)
        val corpus = Similarity.vecs(s, d)
          .persistTracked
        corpus.count()
        val queries = docs.filter(col("doc_id") < Bm25Queries)
          .select(col("doc_id").as("q_id"), col("text"))
          .join(corpus.select(col("vec_id").as("q_id"), col("v").as("qv")),
            Seq("q_id"))
        () => hybridProbe(queries, idx, corpus, Bm25TopK)
      })),

    // ---- hybrid RRF with the IVF dense leg — the 100 TB form of q128.
    //      q128's dense leg is a brute full-corpus cosine scan per query
    //      batch (fine as the correctness baseline, a scale-killer for
    //      ad-hoc retrieval); this variant probes the q51 trained IVF
    //      index instead: queries pick their top-HybridProbes centroids
    //      from the broadcast k-row index, the exact-cosine rerank
    //      touches only the probed partitions (~probes/centroids of the
    //      corpus), and candidates collapse through the graft_topk
    //      bounded heap. Probe depth 4/8 (vs q51's 2/8) because fusion
    //      quality is bounded by the weaker leg — recall floor 0.95 vs
    //      the brute dense leg, pinned in AnnRecallSpec. Lexical leg and
    //      fusion are exactly q128's (shared code: [[bm25SelfRank]],
    //      [[rrfFuse]]); the oracle replays the whole pipeline including
    //      deterministic Lloyd training, so this is hash-checked end to
    //      end, not just recall-floored.
    "q132_hybrid_rrf_ivf" -> Q(
      (s, d) => {
        val e = Similarity.vecs(s, d)
        val cents = Similarity.trainCentroids(s, d)
        val den = Similarity.ivfSearchTopK(
          Similarity.assignToCentroids(e, cents),
          e.filter(col("vec_id") < Bm25Queries)
            .select(col("vec_id").as("q_id"), col("v").as("qv")),
          cents, Similarity.HybridProbes, Bm25TopK)
        rrfFuse(bm25SelfRank(s, d), den, Bm25TopK)
      },
      Some(s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
              |  FROM docs),
              |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS term
              |       FROM docs WHERE doc_id < $Bm25Queries),
              |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              |    CAST(any_value(dl) AS BIGINT) AS dl
              |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs)
              |  WHERE term IN (SELECT DISTINCT term FROM qt)
              |  GROUP BY doc_id, term),
              |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
              |lsc AS (SELECT q.q_id, p.doc_id AS n_id,
              |    CAST(sum(CAST(floor(
              |      CAST(length(bin(t.n_docs // f.df)) AS DOUBLE)
              |        * (CAST(p.tf AS DOUBLE) * CAST($Bm25K1p1 AS DOUBLE))
              |        / (CAST(p.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
              |           * (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
              |              + CAST($Bm25B AS DOUBLE) * (CAST(p.dl AS DOUBLE) / t.avgdl)))
              |      * $FixedPoint.0) AS BIGINT)) AS BIGINT) AS fsc
              |  FROM post p JOIN qt q USING (term) JOIN dft f USING (term)
              |    CROSS JOIN tot t
              |  WHERE p.doc_id <> q.q_id
              |  GROUP BY q.q_id, p.doc_id),
              |lexr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY fsc DESC, n_id) AS rk FROM lsc)
              |  WHERE rk <= $Bm25TopK),
              |e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |c0 AS (SELECT vec_id AS c_id, v AS cv FROM e
              |       WHERE vec_id < ${Similarity.NumCentroids}),
              |${Similarity.kmeansIterSql}
              |asg AS (SELECT vec_id, c_id, v FROM (
              |  SELECT e.vec_id, c.c_id, e.v, row_number() OVER (PARTITION BY e.vec_id
              |    ORDER BY ${Similarity.sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c${Similarity.KMeansIters} c) WHERE rn = 1),
              |probes AS (SELECT q_id, qv, c_id FROM (
              |  SELECT e.vec_id AS q_id, e.v AS qv, c.c_id, row_number() OVER (
              |    PARTITION BY e.vec_id
              |    ORDER BY ${Similarity.sqlCos("e.v", "c.cv")} DESC, c.c_id) AS rn
              |  FROM e CROSS JOIN c${Similarity.KMeansIters} c
              |  WHERE e.vec_id < $Bm25Queries) WHERE rn <= ${Similarity.HybridProbes}),
              |dsc AS (SELECT p.q_id, a.vec_id AS n_id,
              |    ${Similarity.sqlCos("p.qv", "a.v")} AS cos
              |  FROM probes p JOIN asg a ON a.c_id = p.c_id
              |  WHERE a.vec_id <> p.q_id),
              |denr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rk FROM dsc)
              |  WHERE rk <= $Bm25TopK),
              |f AS (SELECT coalesce(l.q_id, dn.q_id) AS q_id,
              |    coalesce(l.n_id, dn.n_id) AS n_id,
              |    l.rk AS lex_rk, dn.rk AS den_rk,
              |    coalesce($FixedPoint // ($RrfK + l.rk), 0)
              |      + coalesce($FixedPoint // ($RrfK + dn.rk), 0) AS rrf_fp
              |  FROM lexr l FULL JOIN denr dn
              |    ON l.q_id = dn.q_id AND l.n_id = dn.n_id)
              |SELECT q_id, n_id, CAST(lex_rk AS INT) AS lex_rk,
              |  CAST(den_rk AS INT) AS den_rk, CAST(rrf_fp AS BIGINT) AS rrf_fp,
              |  CAST(rk AS INT) AS rk
              |FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |    ORDER BY rrf_fp DESC, n_id) AS rk FROM f)
              |WHERE rk <= $Bm25TopK""".stripMargin),
      headline = true,
      // fit = postings index + IVF training/assignment; probe = one
      // batch through both warm legs + fusion
      probe = Some((s, d) => {
        val docs = Tables.spread(Tables(s, d, "documents"))
        val idx = persistedBm25Index(docs)
        val e = Similarity.vecs(s, d)
        val cents = Similarity.trainCentroids(s, d)
        val assign = Similarity.assignToCentroids(e, cents)
          .persistTracked
        assign.count()
        val queries = docs.filter(col("doc_id") < Bm25Queries)
          .select(col("doc_id").as("q_id"), col("text"))
          .join(e.select(col("vec_id").as("q_id"), col("v").as("qv")),
            Seq("q_id"))
        () => rrfFuse(
          bm25Probe(queries.select(col("q_id"), col("text")), idx, Bm25TopK),
          Similarity.ivfSearchTopK(assign,
            queries.select(col("q_id"), col("qv")),
            cents, Similarity.HybridProbes, Bm25TopK), Bm25TopK)
      })),

    // ---- BPE merge induction (Sennrich et al. 2016): learn the first
    //      [[BpeMerges]] byte-pair merges from the corpus. Words live as
    //      space-joined symbol strings (' a b c '), so applying a merge
    //      is a plain non-overlapping left-to-right replace(' a b ',
    //      ' ab ') — IDENTICAL greedy semantics in Spark and DuckDB,
    //      no list-fold needed. Each round's argmax (count DESC, pair
    //      ASC) is a 1-row driver collect — the trainCentroids
    //      precedent: a bounded model artifact, not data. 100 TB shape:
    //      the corpus is scanned ONCE into the word-vocab aggregate;
    //      every round after runs at vocab grain (pair counts collapse
    //      map-side to symbol-pair cardinality), so M rounds cost M
    //      vocab scans, never M corpus scans.
    "q130_bpe_merges" -> Q(
      (s, d) => bpeMergesDf(s, bpeFit(s, d)),
      Some {
        val rounds = (1 to BpeMerges).map { k =>
          val p = k - 1
          s"""p$k AS MATERIALIZED (SELECT s[i] AS a, s[i+1] AS b, CAST(sum(wn) AS BIGINT) AS cnt
             |  FROM (SELECT string_split(trim(w), ' ') AS s, wn FROM w$p),
             |    LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i) l
             |  GROUP BY 1, 2),
             |t$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
             |w$k AS MATERIALIZED (SELECT replace(w,
             |    ' ' || (SELECT a FROM t$k) || ' ' || (SELECT b FROM t$k) || ' ',
             |    ' ' || (SELECT a FROM t$k) || (SELECT b FROM t$k) || ' ') AS w, wn
             |  FROM w$p)""".stripMargin
        }.mkString(",\n")
        val union = (1 to BpeMerges).map { k =>
          s"SELECT CAST($k AS INT) AS round, a AS sym_a, b AS sym_b, cnt FROM t$k"
        }.mkString(" UNION ALL ")
        s"""WITH w0 AS MATERIALIZED (
           |  SELECT ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS w,
           |    CAST(count(*) AS BIGINT) AS wn
           |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
           |  WHERE word <> '' GROUP BY 1),
           |$rounds
           |SELECT * FROM ($union)""".stripMargin
      },
      headline = true,
      // fit = the whole merge induction; probe = emitting the trained
      // merge table (a LocalRelation — the per-batch serving cost of a
      // trained tokenizer's merges is nil, which this number documents)
      probe = Some((s, d) => {
        val fit = bpeFit(s, d)
        () => bpeMergesDf(s, fit)
      })),

    // ---- tokenizer fertility: apply q130's learned merges back to the
    //      corpus and report tokens-per-word by source — the metric a
    //      tokenizer team watches per feed (fertility ↑ = the vocab
    //      serves that source poorly). 100 TB shape: merges apply at
    //      VOCAB grain (never re-scanning the corpus per round); the
    //      per-(source, word) counts come from one scan; the vocab join
    //      is dictionary-sized — broadcastable or co-partitioned; output
    //      is #sources rows. Fertility = Σc·syms / Σc with BIGINT sums
    //      and ONE double division — exact cross-engine.
    "q131_bpe_fertility" -> Q(
      (s, d) => {
        val merges = bpeFit(s, d).map(m => (m._1, m._2))
        val vocab = bpeVocab(s, d).select(col("word"),
          size(split(trim(bpeApply(col("w"), merges)), " "))
            .cast("long").as("n_syms"))
        val sw = Tables.spread(Tables(s, d, "documents"))
          .select(col("source"), explode(split(col("text"), " ")).as("word"))
          .filter(col("word") =!= "")
          .groupBy(col("source"), col("word")).agg(count(lit(1)).as("c"))
        sw.join(vocab, Seq("word"))
          .groupBy(col("source"))
          .agg(sum(col("c")).as("n_words"),
            sum(col("c") * col("n_syms")).as("n_tokens"))
          .select(col("source"), col("n_words"), col("n_tokens"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("fertility"))
      },
      Some {
        s"""WITH $bpeWordRoundsSql,
           |va AS (SELECT word,
           |    CAST(len(string_split(trim(w), ' ')) AS BIGINT) AS n_syms
           |  FROM w$BpeMerges),
           |sw AS (SELECT source, word, CAST(count(*) AS BIGINT) AS c FROM
           |    (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
           |  WHERE word <> '' GROUP BY 1, 2)
           |SELECT source, CAST(sum(c) AS BIGINT) AS n_words,
           |  CAST(sum(c * n_syms) AS BIGINT) AS n_tokens,
           |  CAST(sum(c * n_syms) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS fertility
           |FROM sw JOIN va USING (word) GROUP BY source""".stripMargin
      }),

    // ---- BPE corpus encoding — the arc's last step (q130 learns the
    //      merges, q131 audits fertility, this MATERIALIZES the
    //      tokenized corpus): per doc, the full token-id array under
    //      the learned tokenizer. Words encode ONCE at vocab grain
    //      (apply the merge fold, split to symbols, map symbol → id);
    //      the id table is the final symbol set — bounded by initial
    //      chars + M merges, a driver artifact like the trained
    //      centroids — with ids assigned by lexicographic rank so both
    //      engines derive identical ids with no shared state. Docs then
    //      re-encode via ONE dictionary join on word (broadcastable —
    //      vocab ≪ corpus) and a per-doc ordered reassembly; that
    //      doc-grain shuffle IS the output materialization, the one
    //      unavoidable movement. Oracle replays the entire chain —
    //      training, encoding, reassembly — so every id of every doc is
    //      hash-checked.
    "q136_bpe_encode" -> Q(
      (s, d) => bpeEncodeDocs(s, d, bpeWordIds(s, d)),
      Some(s"""WITH $bpeWordRoundsSql,
              |va AS (SELECT word, string_split(trim(w), ' ') AS syms FROM w$BpeMerges),
              |sid AS (SELECT sy, CAST(row_number() OVER (ORDER BY sy) AS INT) AS id
              |        FROM (SELECT DISTINCT unnest(syms) AS sy FROM va)),
              |we AS (SELECT word, i, syms[i] AS sy FROM va,
              |       LATERAL (SELECT unnest(generate_series(1, len(syms))) AS i) l),
              |wi AS (SELECT word, list(id ORDER BY i) AS ids
              |       FROM we JOIN sid USING (sy) GROUP BY word),
              |tok AS (SELECT doc_id, i, ws[i] AS word
              |  FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
              |    LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) l2
              |  WHERE ws[i] <> ''),
              |enc AS (SELECT t.doc_id, t.i, wi.ids FROM tok t JOIN wi USING (word))
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |  CAST(len(flatten(list(ids ORDER BY i))) AS BIGINT) AS n_ids,
              |  array_to_string(flatten(list(ids ORDER BY i)), ' ') AS ids_str
              |FROM enc GROUP BY doc_id""".stripMargin),
      headline = true,
      // fit = merge induction + the word → ids dictionary; probe = the
      // corpus re-encode through the warm dictionary join
      probe = Some((s, d) => {
        val wordIds = bpeWordIds(s, d)
          .persistTracked
        wordIds.count()
        () => bpeEncodeDocs(s, d, wordIds)
      })),

    // ---- BPE ROUND-TRIP: decode q136's encoding back to text and pin
    //      losslessness — the reconstruction proof the tokenizer family
    //      (q130 merge induction, q131 fertility, q136 encode) did not
    //      have: encode-then-decode at VOCAB grain (word → ids via the
    //      symbol map, ids → symbols via its INVERSE, symbols
    //      concatenate to characters — never a word-table lookup, which
    //      would round-trip the join key instead of the code), then the
    //      per-doc reassembly in word order. Output per doc: the
    //      decoded text's sha2 (hash-compared cross-engine — the
    //      decoded STRING must match, not just the flag) and lossless =
    //      decoded ≡ whitespace-normalized original. 100 TB: decode is
    //      vocab-grain; the doc pass is q136's one dictionary join +
    //      doc-grain reassembly shuffle.
    "q245_bpe_roundtrip" -> Q(
      (s, d) => {
        val (vocab, symIds) = bpeSymbolTable(s, d)
        val inv: Map[Int, String] = symIds.map(_.swap)
        val dec = vocab.select(col("word"),
          concat_ws("", transform(
            transform(col("syms"), sy => element_at(typedLit(symIds), sy)),
            i => element_at(typedLit(inv), i))).as("dec"))
        Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), col("text"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
          .filter(col("word") =!= "")
          .join(dec, Seq("word"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_words"),
            // sort_array + field extraction (codegen'd) for the ordered
            // reassembly — pos is distinct per doc (see bpeEncodeDocs)
            expr("array_join(sort_array(collect_list(" +
              "struct(pos, dec))).dec, ' ')").as("dec_text"),
            first(col("text")).as("text"))
          .select(col("doc_id"), col("n_words"),
            sha2(col("dec_text"), 256).as("dec_sha"),
            (col("dec_text") === expr(
              "array_join(filter(split(text, ' '), w -> w <> ''), ' ')"))
              .as("lossless"))
      },
      Some(s"""WITH $bpeWordRoundsSql,
              |va AS (SELECT word, string_split(trim(w), ' ') AS syms FROM w$BpeMerges),
              |sid AS (SELECT sy, CAST(row_number() OVER (ORDER BY sy) AS INT) AS id
              |        FROM (SELECT DISTINCT unnest(syms) AS sy FROM va)),
              |we AS (SELECT word, i, syms[i] AS sy FROM va,
              |       LATERAL (SELECT unnest(generate_series(1, len(syms))) AS i) l),
              |wi AS (SELECT word, list(id ORDER BY i) AS ids
              |       FROM we JOIN sid USING (sy) GROUP BY word),
              |dw AS (SELECT word, string_agg(sy, '' ORDER BY i) AS dec FROM (
              |    SELECT word, i, ids[i] AS id FROM wi,
              |    LATERAL (SELECT unnest(generate_series(1, len(ids))) AS i) l2)
              |  JOIN sid USING (id) GROUP BY word),
              |tok AS (SELECT doc_id, text, i, ws[i] AS word
              |  FROM (SELECT doc_id, text, string_split(text, ' ') AS ws
              |        FROM documents),
              |    LATERAL (SELECT unnest(generate_series(1, len(ws))) AS i) l3
              |  WHERE ws[i] <> ''),
              |enc AS (SELECT t.doc_id, t.text, t.i, dw.dec
              |        FROM tok t JOIN dw USING (word))
              |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
              |  sha256(string_agg(dec, ' ' ORDER BY i)) AS dec_sha,
              |  (string_agg(dec, ' ' ORDER BY i) = array_to_string(
              |    list_filter(string_split(text, ' '), w -> w <> ''), ' '))
              |    AS lossless
              |FROM enc GROUP BY doc_id, text""".stripMargin)),

    // ---- per-doc TF-IDF keywords: the top-[[TfidfTopK]] terms of every
    //      document by tf × quantized idf — the lightweight
    //      keyword-extraction verb (doc tagging, index hints, cluster
    //      labeling). IDF is q118's integer-quantized log2
    //      (length(bin(N div df)) — no float log anywhere), so the score
    //      is an exact BIGINT product both engines order identically.
    //      100 TB shape: ONE (doc_id, term) hash-agg (map-side
    //      combinable); df rides a term-partition window over the SAME
    //      reduced table (vocab-grain counts — no second corpus scan, no
    //      full-vocab broadcast); the final ranking window partitions by
    //      doc_id, so every partition is bounded by one doc's distinct
    //      terms, never the corpus.
    "q150_tfidf_keywords" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val tf = Tables.spread(Tables(s, d, "documents"))
          .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
          .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
        val n = Tables(s, d, "documents").agg(count(lit(1)).as("n_docs"))
        val scored = tf
          .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
          .crossJoin(broadcast(n))
          .select(col("doc_id"), col("term"), col("tf"), col("df"),
            (col("tf") * expr("CAST(length(bin(n_docs div df)) AS BIGINT)"))
              .as("score"))
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score").desc, col("term").asc)
        scored.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= TfidfTopK)
          .select(col("doc_id"), col("rank").cast("int").as("rank"),
            col("term"), col("tf"), col("df"), col("score"))
      },
      Some(s"""WITH tf AS (SELECT doc_id, token AS term,
              |    CAST(count(*) AS BIGINT) AS tf FROM (
              |    SELECT doc_id, unnest(string_split(text, ' ')) AS token
              |    FROM documents) GROUP BY 1, 2),
              |wd AS (SELECT *, CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df
              |       FROM tf),
              |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
              |sc AS (SELECT doc_id, term, tf, df,
              |    tf * CAST(length(bin(CAST(n_docs // df AS BIGINT))) AS BIGINT) AS score
              |  FROM wd CROSS JOIN n),
              |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              |    ORDER BY score DESC, term) AS rank FROM sc)
              |SELECT doc_id, CAST(rank AS INT) AS rank, term, tf, df, score
              |FROM r WHERE rank <= $TfidfTopK""".stripMargin),
      headline = true),

    // ---- source × lang chi-square independence report: the
    //      metadata-association sanity check a corpus intake runs (is
    //      language distribution independent of source, or does one feed
    //      skew?). Per-cell observed/expected/contribution plus the
    //      order-free total: expected and contribution are fixed
    //      expression trees of exact BIGINT marginals (bit-identical
    //      IEEE in both engines), and the total sums the ROUNDED
    //      contributions as DECIMAL(38,4) — exact and order-free, where
    //      a double sum over cells would be partial-sum-order-sensitive.
    //      100 TB shape: one (source, lang)-grain hash-agg; marginals
    //      re-aggregate the cell table (≪ corpus) and ride broadcasts.
    "q153_chisq_independence" -> Q(
      (s, d) => {
        // (source, lang)-grain cells persist ONCE: row/col/grand margins
        // and the expectation join are all re-aggregates of the cell
        // table — pre-round-16 each re-scanned the corpus (lint finding)
        val cells = Tables(s, d, "documents")
          .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))
          .persistTracked
        val rt = cells.groupBy(col("source")).agg(sum(col("n")).as("row_tot"))
        val ct = cells.groupBy(col("lang")).agg(sum(col("n")).as("col_tot"))
        val g = cells.agg(sum(col("n")).as("grand"))
        val k = cells.join(broadcast(rt), "source").join(broadcast(ct), "lang")
          .crossJoin(broadcast(g))
          .select(col("source"), col("lang"), col("n"),
            ((col("row_tot").cast("double") * col("col_tot").cast("double")) /
              col("grand").cast("double")).as("expected"))
          .select(col("source"), col("lang"), col("n"), col("expected"),
            (((col("n").cast("double") - col("expected")) *
              (col("n").cast("double") - col("expected"))) / col("expected"))
              .as("contrib"))
        val tot = k.agg(
          sum(round(col("contrib"), 4).cast("decimal(38,4)")).as("chi2"))
        k.crossJoin(broadcast(tot))
          .select(col("source"), col("lang"), col("n"),
            round(col("expected"), 4).as("expected"),
            round(col("contrib"), 4).as("contrib"),
            col("chi2").cast("double").as("chi2_total"))
      },
      Some("""WITH cells AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
             |               FROM documents GROUP BY 1, 2),
             |rt AS (SELECT source, CAST(sum(n) AS BIGINT) AS row_tot
             |       FROM cells GROUP BY 1),
             |ct AS (SELECT lang, CAST(sum(n) AS BIGINT) AS col_tot
             |       FROM cells GROUP BY 1),
             |g AS (SELECT CAST(sum(n) AS BIGINT) AS grand FROM cells),
             |e AS (SELECT c.source, c.lang, c.n,
             |    (CAST(r.row_tot AS DOUBLE) * CAST(t.col_tot AS DOUBLE))
             |      / CAST(g.grand AS DOUBLE) AS expected
             |  FROM cells c JOIN rt r USING (source) JOIN ct t USING (lang)
             |  CROSS JOIN g),
             |k AS (SELECT source, lang, n, expected,
             |    ((CAST(n AS DOUBLE) - expected) * (CAST(n AS DOUBLE) - expected))
             |      / expected AS contrib FROM e),
             |tot AS (SELECT CAST(sum(CAST(round(contrib, 4) AS DECIMAL(38,4)))
             |    AS DOUBLE) AS chi2_total FROM k)
             |SELECT source, lang, n, round(expected, 4) AS expected,
             |  round(contrib, 4) AS contrib, chi2_total
             |FROM k CROSS JOIN tot""".stripMargin)),

    // ---- PMI collocations: the global top-[[PmiTopK]] adjacent bigrams
    //      by pointwise-mutual-information lift (n_ab·N / (n_a·n_b)) with
    //      a [[PmiMinPair]] support floor — the multiword-expression /
    //      tokenizer-merge-candidate miner. The lift is ONE fixed
    //      expression tree over exactly-representable BIGINT counts
    //      (two products, one division — bit-identical IEEE both
    //      engines; no logs, so no transcendental drift). 100 TB shape:
    //      unigram and bigram hash-aggs are the only corpus-sized
    //      shuffles (both map-side combinable); the support floor prunes
    //      BEFORE the two vocab-grain count joins, so those see
    //      filtered-bigram grain; the global top-K is
    //      TakeOrderedAndProject (map-side heaps), never a global sort.
    "q154_pmi_collocations" -> Q(
      (s, d) => {
        val toks = Tables.spread(Tables(s, d, "documents"))
          .select(split(col("text"), " ").as("toks"))
        // vocab-grain unigram counts persist ONCE: the token total and
        // both PMI count joins re-ran the exploded-corpus aggregate
        // before round 16 (duplicate-subtree lint finding)
        val uni = toks.select(explode(col("toks")).as("t"))
          .groupBy(col("t")).agg(count(lit(1)).as("c"))
          .persistTracked
        val nTok = uni.agg(sum(col("c")).as("n_tok"))
        // adjacent bigrams via arrays_zip of two codegen'd slices: the
        // transform(sequence(...)) form is a CodegenFallback HOF —
        // interpreted per-element struct construction on a corpus-grain
        // scan stage. Same rows (slice lengths are equal, so zip never
        // pads), zip fields are positional ("0"/"1")
        val pairs = toks.filter(size(col("toks")) >= 2)
          .select(explode(arrays_zip(
            slice(col("toks"), lit(1), size(col("toks")) - 1),
            slice(col("toks"), lit(2), size(col("toks")) - 1))).as("p"))
          .select(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
          .filter(col("n_ab") >= PmiMinPair)
        pairs
          .join(uni.select(col("t").as("a"), col("c").as("c_a")), "a")
          .join(uni.select(col("t").as("b"), col("c").as("c_b")), "b")
          .crossJoin(broadcast(nTok))
          .select(col("a"), col("b"), col("n_ab"), col("c_a"), col("c_b"),
            ((col("n_ab").cast("double") * col("n_tok").cast("double")) /
              (col("c_a").cast("double") * col("c_b").cast("double"))).as("lift"))
          .orderBy(col("lift").desc, col("a").asc, col("b").asc)
          .limit(PmiTopK)
      },
      Some(s"""WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
              |uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM (
              |    SELECT unnest(toks) AS tok FROM t) GROUP BY 1),
              |n AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM uc),
              |bc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM (
              |    SELECT toks[i] AS a, toks[i + 1] AS b FROM t,
              |    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) l
              |    WHERE len(toks) >= 2)
              |  GROUP BY 1, 2 HAVING count(*) >= $PmiMinPair),
              |sc AS (SELECT bc.a, bc.b, bc.n_ab, ua.c AS c_a, ub.c AS c_b,
              |    (CAST(bc.n_ab AS DOUBLE) * CAST(n.n_tok AS DOUBLE)) /
              |    (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
              |  FROM bc JOIN uc ua ON ua.tok = bc.a
              |  JOIN uc ub ON ub.tok = bc.b CROSS JOIN n)
              |SELECT a, b, n_ab, c_a, c_b, lift FROM sc
              |ORDER BY lift DESC, a, b LIMIT $PmiTopK""".stripMargin),
      headline = true),

    // ---- lexical diversity (Simpson index) — the repetition-mass
    //      quality signal q61's surface ratios and q96's n-gram
    //      repetition both miss: 1 − Σc²/n² is the probability two
    //      random token draws differ, so template spam and keyword
    //      stuffing score low even when length/punctuation look fine.
    //      Exactness: Σc² and n are BIGINTs from a run-length fold over
    //      the doc's SORTED token array — (c+1)² = c²+2c+1 keeps the
    //      fold incremental — and the index is ONE correctly-rounded
    //      IEEE division of exact integers (q175's precedent; no
    //      log/exp, which is why Simpson and not Shannon entropy:
    //      libm's log is not cross-engine bit-stable). 100 TB shape:
    //      pure scan-stage per-doc kernel — ZERO shuffles; the oracle's
    //      unnest+groupBy restates it relationally.
    "q180_token_diversity" -> Q(
      (s, d) => {
        // one codegen'd O(n) hash-count pass (TextKernelSpec pins it
        // against the interpreted run-length fold; see
        // TextKernels.diversity for the Σ(2k−1) = c² parity argument)
        val st = call_function("graft_diversity", col("text"))
        Tables.spread(Tables(s, d, "documents")).select(col("doc_id"),
            st.as("st"))
          .select(col("doc_id"), col("st.n").as("n_tokens"),
            col("st.types").as("n_types"), col("st.ss").as("sum_sq"),
            ((col("st.n") * col("st.n") - col("st.ss")).cast("double") /
              (col("st.n") * col("st.n")).cast("double")).as("simpson"))
      },
      Some("""WITH div_t AS (SELECT doc_id,
             |    unnest(string_split(text, ' ')) AS tok FROM documents),
             |div_c AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS c
             |  FROM div_t GROUP BY 1, 2),
             |div_a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
             |    CAST(count(*) AS BIGINT) AS n_types,
             |    CAST(sum(c * c) AS BIGINT) AS sum_sq
             |  FROM div_c GROUP BY 1)
             |SELECT doc_id, n_tokens, n_types, sum_sq,
             |  CAST(n_tokens * n_tokens - sum_sq AS DOUBLE) /
             |    CAST(n_tokens * n_tokens AS DOUBLE) AS simpson
             |FROM div_a""".stripMargin)),

    // ---- ROBUST per-source length gate: low-median + MAD (median
    //      absolute deviation) document-length statistics and the
    //      outlier count at MadK×MAD — the outlier rule that, unlike
    //      q111's mean/stddev profile, a few garbage mega-documents
    //      cannot drag (median and MAD have 50% breakdown; mean/σ have
    //      0%). Medians are LOW medians (the rank-⌈n/2⌉ element via
    //      cumulative counts — no interpolation, so both engines agree
    //      in pure integers; the q182 exact-boundary technique). MadK=2
    //      because the fixture's lengths are near-uniform (max dev ≈
    //      2.5–4.4 MAD, probed at all three sfs — k=3 selects ZERO at
    //      sf0.1, a vacuous gate); heavy-tailed real corpora use 3–5.
    //      100 TB: ONE corpus scan into a map-side-combinable
    //      (source, length) aggregate; every later step — cumulative
    //      windows (partitioned by source), the deviation re-grain,
    //      the outlier count — runs at value-domain grain (#sources ×
    //      #distinct-lengths), never per-document.
    "q236_robust_mad" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // the (source, length) histogram persists ONCE: totals, the
        // median chain, and the deviation re-grain are all re-aggregates
        // of it — pre-round-16 each re-scanned the corpus (lint finding)
        val lc = Tables(s, d, "documents")
          .select(col("source"),
            size(split(col("text"), " ")).cast("long").as("ln"))
          .groupBy(col("source"), col("ln")).agg(count(lit(1)).as("c"))
          .persistTracked
        val n = lc.groupBy(col("source")).agg(sum(col("c")).as("n_docs"))
        val med = lc
          .withColumn("cm", sum(col("c"))
            .over(Window.partitionBy(col("source")).orderBy(col("ln"))))
          .join(broadcast(n), "source")
          .filter(col("cm") * 2 >= col("n_docs"))
          .groupBy(col("source")).agg(min(col("ln")).as("med"))
        val dc = lc.join(broadcast(med), "source")
          .groupBy(col("source"), abs(col("ln") - col("med")).as("dv"))
          .agg(sum(col("c")).as("c"))
        val mad = dc
          .withColumn("cm", sum(col("c"))
            .over(Window.partitionBy(col("source")).orderBy(col("dv"))))
          .join(broadcast(n), "source")
          .filter(col("cm") * 2 >= col("n_docs"))
          .groupBy(col("source")).agg(min(col("dv")).as("mad"))
        dc.join(broadcast(med), "source").join(broadcast(mad), "source")
          .groupBy(col("source"))
          .agg(min(col("med")).as("med_len"), min(col("mad")).as("mad_len"),
            sum(col("c")).as("n_docs"),
            sum(when(col("dv") > lit(MadK) * col("mad"), col("c"))
              .otherwise(0L)).as("n_outliers"))
      },
      Some(s"""WITH lc AS (SELECT source, len(string_split(text, ' ')) AS ln,
             |    CAST(count(*) AS BIGINT) AS c FROM documents GROUP BY 1, 2),
             |n AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_docs
             |  FROM lc GROUP BY 1),
             |cum AS (SELECT source, ln, c,
             |    sum(c) OVER (PARTITION BY source ORDER BY ln) AS cm FROM lc),
             |med AS (SELECT cum.source, min(ln) AS med
             |  FROM cum JOIN n ON n.source = cum.source
             |  WHERE cm * 2 >= n_docs GROUP BY 1),
             |dc AS (SELECT lc.source, abs(ln - med) AS dv,
             |    CAST(sum(c) AS BIGINT) AS c
             |  FROM lc JOIN med ON med.source = lc.source GROUP BY 1, 2),
             |dcum AS (SELECT source, dv, c,
             |    sum(c) OVER (PARTITION BY source ORDER BY dv) AS cm FROM dc),
             |mad AS (SELECT dcum.source, min(dv) AS mad
             |  FROM dcum JOIN n ON n.source = dcum.source
             |  WHERE cm * 2 >= n_docs GROUP BY 1)
             |SELECT dc.source, min(med) AS med_len, min(mad) AS mad_len,
             |  CAST(sum(c) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN dv > $MadK * mad THEN c ELSE 0 END)
             |    AS BIGINT) AS n_outliers
             |FROM dc JOIN med ON med.source = dc.source
             |JOIN mad ON mad.source = dc.source
             |GROUP BY 1""".stripMargin)),

    // ---- FUSION-SHIFT audit: truncated rank-biased overlap (RBO@k,
    //      Webber et al. 2010) between q128's lexical leg and its
    //      RRF-fused output — "how far did adding the dense leg move
    //      the ranking the lexical index would have served". RBO is
    //      the top-weighted agreement measure Kendall/Spearman are not
    //      (they weight all ranks equally and need conjoint lists);
    //      here rbo1920 = 1860 means the dense leg changed nothing,
    //      404 means the head was rewritten. Exact by construction:
    //      each overlapping doc contributes the integer suffix weight
    //      [[RboSuffix1920]](max(rank_lex, rank_fused)) and the ONE
    //      IEEE division to [0,1) happens at output. The two-legs-raw
    //      form (BM25 vs dense) is deliberately NOT the entry: the
    //      fixture's legs share ~0 of their top-5s (probed 1/0/0
    //      overlapping docs at the three sfs — a constant-zero metric
    //      gates nothing). 100 TB: both rankings are ≤ k rows per
    //      query by construction (the q128 contract), so everything
    //      past the legs is query-grain; the weight table broadcasts.
    "q238_fusion_rbo" -> Q(
      (s, d) => {
        import s.implicits._
        val e = Similarity.vecs(s, d)
        val lex = bm25SelfRank(s, d)
        val den = Similarity.searchTopK(e,
          e.filter(col("vec_id") < Bm25Queries)
            .select(col("vec_id").as("q_id"), col("v").as("qv")), Bm25TopK)
        val fused = rrfFuse(lex, den, Bm25TopK)
        val w = RboSuffix1920.toDF("m", "wt")
        val ov = lex.select(col("q_id"), col("n_id"), col("rk").as("ra"))
          .join(fused.select(col("q_id"), col("n_id"), col("rk").as("rb")),
            Seq("q_id", "n_id"))
          .select(col("q_id"), greatest(col("ra"), col("rb")).as("m"))
          .join(broadcast(w), Seq("m"))
        e.filter(col("vec_id") < Bm25Queries).select(col("vec_id").as("q_id"))
          .join(ov, Seq("q_id"), "left_outer")
          .groupBy(col("q_id"))
          .agg(count(col("m")).as("n_overlap"),
            coalesce(sum(col("wt")), lit(0L)).as("rbo1920"))
          .selectExpr("q_id", "n_overlap", "rbo1920",
            "CAST(rbo1920 AS DOUBLE) / CAST(1920 AS DOUBLE) AS rbo")
      },
      Some(s"""WITH docs AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
              |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
              |    CAST(sum(len(toks)) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
              |  FROM docs),
              |qt AS (SELECT doc_id AS q_id, unnest(list_distinct(toks)) AS term
              |       FROM docs WHERE doc_id < $Bm25Queries),
              |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf,
              |    CAST(any_value(dl) AS BIGINT) AS dl
              |  FROM (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM docs)
              |  WHERE term IN (SELECT DISTINCT term FROM qt)
              |  GROUP BY doc_id, term),
              |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
              |lsc AS (SELECT q.q_id, p.doc_id AS n_id,
              |    CAST(sum(CAST(floor(
              |      CAST(length(bin(t.n_docs // f.df)) AS DOUBLE)
              |        * (CAST(p.tf AS DOUBLE) * CAST($Bm25K1p1 AS DOUBLE))
              |        / (CAST(p.tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
              |           * (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
              |              + CAST($Bm25B AS DOUBLE) * (CAST(p.dl AS DOUBLE) / t.avgdl)))
              |      * $FixedPoint.0) AS BIGINT)) AS BIGINT) AS fsc
              |  FROM post p JOIN qt q USING (term) JOIN dft f USING (term)
              |    CROSS JOIN tot t
              |  WHERE p.doc_id <> q.q_id
              |  GROUP BY q.q_id, p.doc_id),
              |lexr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY fsc DESC, n_id) AS rk FROM lsc)
              |  WHERE rk <= $Bm25TopK),
              |e AS (SELECT vec_id,
              |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
              |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $Bm25Queries),
              |dsc AS (SELECT q_id, e.vec_id AS n_id,
              |    list_dot_product(qv, e.v)
              |      / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(e.v, e.v))) AS cos
              |  FROM q JOIN e ON e.vec_id <> q.q_id),
              |denr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY cos DESC, n_id) AS rk FROM dsc)
              |  WHERE rk <= $Bm25TopK),
              |f AS (SELECT coalesce(l.q_id, dn.q_id) AS q_id,
              |    coalesce(l.n_id, dn.n_id) AS n_id,
              |    coalesce($FixedPoint // ($RrfK + l.rk), 0)
              |      + coalesce($FixedPoint // ($RrfK + dn.rk), 0) AS rrf_fp
              |  FROM lexr l FULL JOIN denr dn
              |    ON l.q_id = dn.q_id AND l.n_id = dn.n_id),
              |fr AS (SELECT q_id, n_id, rk
              |  FROM (SELECT *, row_number() OVER (PARTITION BY q_id
              |      ORDER BY rrf_fp DESC, n_id) AS rk FROM f)
              |  WHERE rk <= $Bm25TopK),
              |w(m, wt) AS (VALUES ${RboSuffix1920
                .map { case (m, wt) => s"($m, $wt)" }.mkString(", ")}),
              |ov AS (SELECT l.q_id, greatest(l.rk, fr.rk) AS m
              |  FROM lexr l JOIN fr ON fr.q_id = l.q_id AND fr.n_id = l.n_id),
              |qs AS (SELECT vec_id AS q_id FROM e WHERE vec_id < $Bm25Queries)
              |SELECT qs.q_id, CAST(count(o.m) AS BIGINT) AS n_overlap,
              |  CAST(coalesce(sum(w.wt), 0) AS BIGINT) AS rbo1920,
              |  CAST(coalesce(sum(w.wt), 0) AS DOUBLE) / CAST(1920 AS DOUBLE)
              |    AS rbo
              |FROM qs LEFT JOIN ov o ON o.q_id = qs.q_id
              |LEFT JOIN w ON w.m = o.m
              |GROUP BY 1""".stripMargin))
  )

  /** q236's outlier multiplier: |len − median| > MadK × MAD flags a
    * document. 2 on the fixture (see the entry header); production
    * corpora typically run 3–5.
    */
  val MadK = 2

  /** q238's rank-biased-overlap weight table: the contribution of a
    * document appearing at ranks (ra, rb) in the two lists is the
    * SUFFIX sum Σ_{d ≥ max(ra,rb)} (1−p)·p^(d−1)/d, scaled by 1920 =
    * 2^Bm25TopK·lcm(1..Bm25TopK) so every term is an exact integer at
    * persistence p = 1/2 (per-depth coefficients 960, 240, 80, 30, 12).
    * Truncated RBO@5's maximum is 1860/1920 = 1 − p^k. Frozen as ONE
    * literal table rendered into both engines (the NdcgDiscountMilli
    * pattern); regenerate as suffix sums of (1920 / 2^d) / d if
    * Bm25TopK or p ever changes.
    */
  val RboSuffix1920: Seq[(Int, Long)] =
    Seq(1 -> 1322L, 2 -> 362L, 3 -> 122L, 4 -> 42L, 5 -> 12L)

  /** q109's kernel as ONE reusable stateless projection: n_tokens and
    * top-1/2-gram concentration with the keep verdict, as a struct
    * Column. Pure per-row arithmetic — streams verbatim (see
    * `StatefulOps.qualityMonitor` for the windowed intake monitor).
    */
  def concentration(text: Column): Column = {
    // one codegen'd O(n) pass (hash counting), pinned against the
    // interpreted-HOF form in TextKernelSpec
    val c = call_function("graft_concentration", text)
    struct(
      c.getField("n_tokens").as("n_tokens"),
      c.getField("top1_frac").as("top1_frac"),
      c.getField("top2_frac").as("top2_frac"),
      (c.getField("top1_frac") <= Top1Max &&
        c.getField("top2_frac") <= Top2Max).as("keep"))
  }

  /** q118's model fit: the corpus's top-V unigram head as token →
    * integer-quantized log2 surprisal (length(bin(total div tf)) bits)
    * plus the OOV floor (p = 1/total). ONE corpus-sized token hash-agg;
    * the returned artifact is V entries — the q51 trained-centroid
    * precedent (a bounded model, not data), shippable to executors as a
    * map literal and to a streaming intake gate unchanged.
    */
  /** The BM25 term-score over columns (tf, df, dl, n_docs, avgdl):
    * integer-quantized idf (length(bin(N div df)) — no float log, the
    * q118 rule) with tf saturation and length normalization in ONE
    * canonical IEEE order — q125's oracle SQL mirrors this expression
    * token for token.
    */
  private def bm25TscExpr: Column = expr(
    s"""CAST(length(bin(n_docs div df)) AS DOUBLE)
       |  * (CAST(tf AS DOUBLE) * CAST($Bm25K1p1 AS DOUBLE))
       |  / (CAST(tf AS DOUBLE) + CAST($Bm25K1 AS DOUBLE)
       |     * (CAST(1.0 AS DOUBLE) - CAST($Bm25B AS DOUBLE)
       |        + CAST($Bm25B AS DOUBLE) * (CAST(dl AS DOUBLE) / avgdl)))""".stripMargin)

  /** Score candidate (q_id, doc_id, tf, df, dl, n_docs, avgdl) rows and
    * keep the top-k per query: fixed-point order-free term sums, then
    * the graft_topk bounded heap (candidates collapse to ≤ k per
    * partition BEFORE the per-query shuffle). Shared by q125 and
    * [[bm25Probe]].
    */
  private def bm25Rank(cand: DataFrame, k: Int): DataFrame =
    cand
      .withColumn("tsc", bm25TscExpr)
      .groupBy(col("q_id"), col("doc_id"))
      .agg(sum(expr(s"CAST(floor(tsc * $FixedPoint.0D) AS BIGINT)")).as("fsc"))
      .select(col("q_id"), col("doc_id").as("n_id"),
        (col("fsc").cast("double") / lit(FixedPoint.toDouble)).as("score"))
      .groupBy(col("q_id"))
      .agg(call_function("graft_topk", col("score"), col("n_id"),
        lit(k)).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), col("t.id").as("n_id"),
        (col("pos") + 1).cast("int").as("rk"), col("t.score").as("score"))

  /** q125's one-shot self-retrieval: the first [[Bm25Queries]] docs as
    * queries against the whole corpus, top [[Bm25TopK]] by exact
    * fixed-point BM25. Postings are restricted to the query terms
    * BEFORE the tf shuffle (prune-at-scan) — optimal when the query set
    * is known up front; the serving shape ([[bm25Index]]/[[bm25Probe]])
    * instead precomputes full-vocabulary postings once and probes them
    * per batch. Shared by q125 and q128's lexical leg.
    */
  private[queries] def bm25SelfRank(s: SparkSession, d: String): DataFrame = {
    val toksOf = split(col("text"), " ")
    // ONE tokenized projection of the corpus, persisted and shared by
    // every downstream consumer — tot, qterms, and the postings all
    // derive from it. Without the persist each subtree re-runs the
    // parquet scan + split (5 scans/tokenizations of the corpus for one
    // query). The trade at 100 TB: one extra stored pass of
    // (doc_id, toks, dl) vs four redundant corpus scans — and a
    // standing deployment skips this entirely by probing the persisted
    // [[bm25Index]] postings instead (the serving shape). CALLER
    // CONTRACT: the persist has no unpersist path inside the returned
    // plan — Bench/Verify clearCache() between builds; any other
    // long-lived session calls graft.Caches.release(spark) after
    // consuming a build's result (every builder persist routes through
    // the tracked graft.Caches ledger) or cached projections
    // accumulate for the session.
    val tokd = Tables.spread(Tables(s, d, "documents"))
      .select(col("doc_id"), toksOf.as("toks"), size(toksOf).as("dl"))
      .persistTracked
    val tot = tokd
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val qterms = tokd.filter(col("doc_id") < Bm25Queries)
      .select(col("doc_id").as("q_id"),
        explode(array_distinct(col("toks"))).as("term"))
    // postings persist too: they feed BOTH the df aggregate and the
    // scoring join, and they are small by construction (matched
    // postings only — pruned against the broadcast query-term set
    // before the shuffle)
    val post = tokd
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .persistTracked
    val dft = post.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Rank(
      post.join(broadcast(dft), Seq("term"))
        .crossJoin(broadcast(tot))
        .join(broadcast(qterms), Seq("term"))
        .filter(col("doc_id") =!= col("q_id")),
      Bm25TopK)
  }

  /** q128's fusion kernel: two (q_id, n_id, rk) rank lists → per-query
    * top-k by reciprocal-rank fusion. The fused score is
    * Σ floor(2^20 / ([[RrfK]] + rank)) summed as BIGINT — integer
    * division, order-free, bit-identical across engines; a float
    * 1/(K+r) sum would not be. Inputs are k-sized per query, so the
    * full-outer fusion join and the final ranking window see ≤ 2k rows
    * per query regardless of corpus size.
    */
  def rrfFuse(lex: DataFrame, den: DataFrame, k: Int): DataFrame =
    rrfFuseVia(lex, den, k, useHeap = true)

  /** [[rrfFuse]] with the path pinned, for the parity spec. The heap
    * path mirrors the legs' graft_topk shape: because the heap carries
    * only (score, id) pairs and re-reading the fused rows would re-run
    * BOTH leg pipelines, (n_id, lex_rk, den_rk) ride the id as a packed
    * 47+8+8-bit BIGINT (ranks ≤ k ≤ 255 by construction here; the
    * 47-bit id contract is enforced with raise_error, and n_id owns the
    * high bits so heap tie-order (score DESC, id ASC) still breaks ties
    * by n_id ASC exactly like the window's ORDER BY). Takes the ranking
    * window — same result, one extra shuffle of the ≤ 2k-per-query
    * fused rows — when k needs > 8 bits.
    */
  private[graft] def rrfFuseVia(lex: DataFrame, den: DataFrame, k: Int,
      useHeap: Boolean): DataFrame = {
    val contrib = (rk: String) =>
      coalesce(expr(s"CAST($FixedPoint DIV ($RrfK + $rk) AS BIGINT)"), lit(0L))
    // The two rank lists are uniquely keyed by (q_id, n_id), so their
    // FULL OUTER join is exactly a union + one hash aggregate — and the
    // aggregate form is strictly cheaper (round-19 verdict item 4 /
    // guide §2.4, §3): the join needed an exchange of EACH leg on
    // (q_id, n_id) plus the SMJ's two sorts; the union needs one
    // exchange, no sorts, and partial aggregation upstream of it.
    // max() over {rk, null} is the join's coalesce semantics because a
    // leg emits each (q_id, n_id) at most once.
    val nullRk = lit(null).cast("int")
    val fused = lex.select(col("q_id"), col("n_id"),
        col("rk").cast("int").as("lex_rk"), nullRk.as("den_rk"))
      .unionByName(den.select(col("q_id"), col("n_id"),
        nullRk.as("lex_rk"), col("rk").cast("int").as("den_rk")))
      .groupBy(col("q_id"), col("n_id"))
      .agg(max(col("lex_rk")).as("lex_rk"), max(col("den_rk")).as("den_rk"))
      .withColumn("rrf_fp", contrib("lex_rk") + contrib("den_rk"))
    if (useHeap && k <= 0xff) {
      val packed = fused.select(col("q_id"), col("rrf_fp").cast("double").as("sc"),
        expr(s"""CASE WHEN n_id >= 0 AND n_id < ${1L << 47}
                |THEN shiftleft(n_id, 16) + shiftleft(coalesce(lex_rk, 0L), 8)
                |     + coalesce(den_rk, 0L)
                |ELSE CAST(raise_error('rrfFuse heap path: n_id exceeds 47 bits')
                |     AS BIGINT) END""".stripMargin).as("pid"))
      packed.groupBy(col("q_id"))
        .agg(call_function("graft_topk", col("sc"), col("pid"), lit(k)).as("top"))
        .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
        .select(col("q_id"),
          shiftright(col("t.id"), 16).as("n_id"),
          nullif(pmod(shiftright(col("t.id"), 8), lit(256)), lit(0))
            .cast("int").as("lex_rk"),
          nullif(pmod(col("t.id"), lit(256)), lit(0)).cast("int").as("den_rk"),
          col("t.score").cast("bigint").as("rrf_fp"),
          (col("pos") + 1).cast("int").as("rk"))
    } else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("q_id")).orderBy(col("rrf_fp").desc, col("n_id").asc)
      fused.withColumn("rk", row_number().over(w)).filter(col("rk") <= k)
        .select(col("q_id"), col("n_id"), col("lex_rk").cast("int").as("lex_rk"),
          col("den_rk").cast("int").as("den_rk"), col("rrf_fp"),
          col("rk").cast("int").as("rk"))
    }
  }

  /** The static BM25 serving index over a (doc_id, text, …) corpus:
    * full-vocabulary postings with df DENORMALIZED in at build time
    * (term-grain join paid once, so probes pay zero term-grain joins)
    * plus the 1-row corpus stats. In production `post` is persisted
    * bucketed by term — every probe's postings join is then
    * exchange-free on the index side; `tot` is two numbers.
    */
  final case class Bm25Index(post: DataFrame, tot: DataFrame)

  def bm25Index(docs: DataFrame): Bm25Index = {
    val toks = split(col("text"), " ")
    val post0 = docs
      .select(col("doc_id"), size(toks).as("dl"), explode(toks).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dft = post0.groupBy(col("term")).agg(count(lit(1)).as("df"))
    Bm25Index(
      post0.join(dft, Seq("term")),
      docs.select(size(toks).as("dl"))
        .agg(count(lit(1)).as("n_docs"),
          (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl")))
  }

  /** Probe a (q_id, text) query batch against a static [[Bm25Index]]:
    * the batch's distinct terms broadcast into the postings join, so
    * per-probe cost is proportional to the matched postings, never the
    * corpus. Same scoring kernel as q125 (exact fixed-point scores);
    * no self-exclusion — serving queries are not corpus docs.
    */
  /** [[bm25Index]] persisted and materialized — the fit step of the
    * bench probe split (a production deployment instead stores the
    * postings bucketed by term and reads them exchange-free).
    */
  def persistedBm25Index(docs: DataFrame): Bm25Index = {
    val idx = bm25Index(docs)
    val post = idx.post.persistTracked
    val tot = idx.tot.persistTracked
    post.count(); tot.count()
    Bm25Index(post, tot)
  }

  def bm25Probe(queries: DataFrame, idx: Bm25Index, k: Int): DataFrame = {
    val qterms = queries.select(col("q_id"),
      explode(array_distinct(split(col("text"), " "))).as("term"))
    bm25Rank(
      idx.post.join(broadcast(qterms), Seq("term"))
        .crossJoin(broadcast(idx.tot)), k)
  }

  /** q128's serving shape: probe a (q_id, text, qv) query batch against
    * BOTH static indexes — the [[Bm25Index]] lexical postings and the
    * dense corpus (vec_id, v) — and fuse the two top-k lists with
    * [[rrfFuse]]. Per-batch cost = matched postings + one corpus scan;
    * the fusion itself touches only queries×k rows. Streaming form:
    * [[graft.streaming.StatefulOps.hybridSearch]].
    */
  def hybridProbe(queries: DataFrame, idx: Bm25Index, corpus: DataFrame,
                  k: Int): DataFrame =
    rrfFuse(
      bm25Probe(queries.select(col("q_id"), col("text")), idx, k),
      Similarity.searchTopK(corpus,
        queries.select(col("q_id"), col("qv")), k), k)

  /** One fitted Naive-Bayes class (q141): prior + OOV cost and the
    * per-token channel costs, all in q118's integer-quantized log2 bits.
    * The whole model is ≤ C×(V+2) longs — a bounded artifact shipped to
    * the scorer as map literals (the trainCentroids precedent).
    */
  final case class NbClass(source: String, priorBits: Long, oovBits: Long,
                           bits: Map[String, Long])

  /** q141's model fit — ONE (source, token) hash-agg over the corpus
    * (plus its two tiny rollups), everything after at model grain:
    * classes = distinct sources (ASC — the argmin tie-break order),
    * vocabulary = the GLOBAL top-[[VocabTopV]] token head (q118's rule;
    * ties token ASC), channel cost bits(ctot_c/tf) for class-present
    * vocab tokens, OOV floor bits(ctot_c) for everything else.
    * Tokenization is exactly q118's (split on ' ', no empty-string
    * filter) so the two models stay comparable.
    */
  def nbFit(s: SparkSession, d: String): Seq[NbClass] = {
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val docs = Tables.spread(Tables(s, d, "documents"))
    val ctf = docs
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token")).agg(count(lit(1)).as("tf"))
      .persist()
    try {
      val voc = ctf.groupBy(col("token")).agg(sum(col("tf")).as("gtf"))
        .orderBy(col("gtf").desc, col("token").asc).limit(VocabTopV)
        .select(col("token")).collect().map(_.getString(0)).toSet
      val ctot = ctf.groupBy(col("source")).agg(sum(col("tf")).as("ct"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val classDocs = docs.groupBy(col("source")).agg(count(lit(1)).as("docs"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val nDocs = classDocs.values.sum
      // vocab filter BEFORE the collect: the driver sees C×V rows, never
      // the full (source, token) domain
      val chan = ctf.filter(col("token").isInCollection(voc)).collect()
        .groupBy(_.getString(0))
        .map { case (src, rows) =>
          src -> rows.map(r =>
            r.getString(1) -> bits(ctot(src) / r.getLong(2))).toMap
        }
      classDocs.keys.toSeq.sorted.map(src => NbClass(src,
        bits(nDocs / classDocs(src)), bits(ctot(src)),
        chan.getOrElse(src, Map.empty)))
    } finally { ctf.unpersist(); () }
  }

  /** Score rows with (doc_id, source, text) under a fitted [[nbFit]]
    * model: per class one zero-shuffle fold (prior + Σ channel bits with
    * OOV fallback), then argmin + runner-up via array_sort over the C
    * (bits, cls) structs — ordering (bits ASC, source ASC) matches the
    * oracle's (bits, cls) window exactly. Stateless scan-stage work, so
    * it streams verbatim.
    */
  def nbScore(df: DataFrame, classes: Seq[NbClass]): DataFrame = {
    // empty corpus (no classes at all) → empty result with the right
    // schema, the first-microbatch rule every corpus verb follows;
    // exactly ONE class is real misuse (margin undefined) and throws
    if (classes.isEmpty)
      return df.select(col("doc_id"), col("source"),
        lit(null).cast("string").as("pred_source"),
        lit(null).cast("long").as("bits"),
        lit(null).cast("long").as("margin_bits"),
        lit(null).cast("boolean").as("correct")).filter(lit(false))
    require(classes.size >= 2, s"NB needs >= 2 classes, got ${classes.size}")
    val toks = split(col("text"), " ")
    // per-class channel fold: the codegen'd binary-search kernel
    // (q118's graft_vocab_sum; BIGINT adds commute, so the prior is
    // added after the fold)
    val scored = classes.map { c =>
      val b = vocabSumNative(toks, c.bits, c.oovBits) + lit(c.priorBits)
      struct(b.as("bits"), lit(c.source).as("cls"))
    }
    val arr = array_sort(array(scored: _*))
    df.select(col("doc_id"), col("source"),
      arr.getItem(0).getField("cls").as("pred_source"),
      arr.getItem(0).getField("bits").as("bits"),
      (arr.getItem(1).getField("bits") - arr.getItem(0).getField("bits"))
        .as("margin_bits"),
      (arr.getItem(0).getField("cls") === col("source")).as("correct"))
  }

  /** q150's serving fit: the top-[[VocabTopV]] document frequencies plus
    * the corpus doc count — a bounded model artifact (the surprisalFit
    * precedent). Only COMMON terms need fitted df (they are the ones
    * idf must damp); a term outside the table is rare by construction
    * and scores at the OOV floor df = 1 (maximum idf) in
    * [[keywordProbe]].
    */
  def tfidfFit(s: SparkSession, d: String): (Map[String, Long], Long) = {
    val docs = Tables.spread(Tables(s, d, "documents"))
    val nDocs = math.max(docs.count(), 1L)
    val df = docs
      .select(explode(array_distinct(split(col("text"), " "))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("term").asc).limit(VocabTopV)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (df, nDocs)
  }

  /** Tag (doc_id, text) rows with their top-k TF-IDF keywords under a
    * static [[tfidfFit]] model. The df table rides as a map literal;
    * the only shuffle is the (doc_id, term) aggregate of the BATCH —
    * never the corpus — and the ranking window partitions by doc_id.
    * Streams verbatim: see `StatefulOps.keywordTag`.
    */
  def keywordProbe(batch: DataFrame, df: Map[String, Long], nDocs: Long,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(nDocs >= 1, "keywordProbe needs a non-empty fit corpus")
    val dfMap = typedLit(df)
    val scored = batch
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .select(col("doc_id"), col("term"), col("tf"),
        coalesce(element_at(dfMap, col("term")), lit(1L)).as("df"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        (col("tf") *
          expr(s"CAST(length(bin(CAST($nDocs AS BIGINT) div df)) AS BIGINT)"))
          .as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank").cast("int").as("rank"),
        col("term"), col("tf"), col("df"), col("score"))
  }

  def surprisalFit(s: SparkSession, d: String): (Map[String, Long], Long) = {
    val counts = Tables.spread(Tables(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
    val fitted = counts.orderBy(col("tf").desc, col("token").asc)
      .limit(VocabTopV)
      .agg(collect_list(struct(col("token"), col("tf"))).as("v"))
      .crossJoin(broadcast(counts.agg(sum(col("tf")).as("total"))))
      .collect()
    val total =
      if (fitted.isEmpty || fitted(0).isNullAt(1)) 1L
      else fitted(0).getLong(1)
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val vocab: Map[String, Long] =
      if (fitted.isEmpty) Map.empty
      else fitted(0).getSeq[org.apache.spark.sql.Row](0)
        .map(r => r.getString(0) -> bits(total / r.getLong(1))).toMap
    (vocab, bits(total))
  }

  /** Score rows with a `text` column under a [[surprisalFit]] model:
    * appends surp_bits / n_tok / bits_per_tok. Zero-shuffle per-row
    * fold in the scan stage (the model rides along as a map literal);
    * streams verbatim — see `StatefulOps.surprisalGate`.
    */
  /** Per-DOCUMENT total-variation distance against a reference unigram
    * model (token → probability-mass map literal): ½[Σ_{t∈doc}|p_t−q_t|
    * + (1 − Σ_{t∈doc}q_t)] — the second term folds in every reference
    * token the doc lacks, so only the doc's own tokens are walked.
    * Stateless per-row arithmetic in the scan stage (the model
    * rides as a literal), so it streams verbatim — q135 measures the
    * corpus-level TVD (which needs token-grain state and cannot stream
    * in one aggregate); this is its per-doc intake form, shared by
    * `StatefulOps.driftMonitor` and its spec's batch recompute.
    */
  def docTvd(text: Column, ref: Map[String, Double]): Column = {
    // one codegen'd O(n + d·log V) pass (TextKernels.tvdParts). The
    // kernel reproduces the interpreted fold's term order
    // (first-appearance distinct order) and per-term IEEE tree, so the
    // double sums are bit-identical (TextKernelSpec pins it). TOTAL by
    // definition: a NULL-text or zero-token doc is maximally drifted
    // (1.0), never NULL — a feed that starts shipping empty payloads
    // must make the monitor louder, not quieter
    import org.apache.spark.unsafe.types.UTF8String
    val kv = ref.toSeq.sortWith((a, b) =>
      UTF8String.fromString(a._1).compareTo(UTF8String.fromString(b._1)) < 0)
    val p = call_function("graft_tvd_parts", text,
      typedLit(kv.map(_._1)), typedLit(kv.map(_._2)))
    when(text.isNull || p.getField("n") === 0, lit(1.0))
      .otherwise((p.getField("sum_abs") +
        (lit(1.0) - p.getField("sum_q"))) / 2)
  }

  /** Fit the reference model [[docTvd]] consumes: the corpus's
    * top-[[VocabTopV]] token shares (probability mass per token). The
    * artifact is ≤ V entries — the trainCentroids bounded-model
    * precedent — shipped to the monitor as a map literal.
    */
  def driftRef(s: SparkSession, d: String): Map[String, Double] = {
    val counts = Tables.spread(Tables(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("tf"))
      .persist()
    try {
      val total = counts.agg(sum(col("tf"))).collect()(0) match {
        case r if r.isNullAt(0) => 1L
        case r => r.getLong(0)
      }
      counts.orderBy(col("tf").desc, col("token").asc).limit(VocabTopV)
        .collect().map(r => r.getString(0) ->
          r.getLong(1).toDouble / total.toDouble).toMap
    } finally { counts.unpersist(); () }
  }

  def surprisalScore(df: DataFrame, vocab: Map[String, Long], oovBits: Long): DataFrame = {
    val toks = split(col("text"), " ")
    // one codegen'd binary-search fold per row
    val surp = vocabSumNative(toks, vocab, oovBits)
    df.withColumn("surp_bits", surp)
      .withColumn("n_tok", size(toks).cast("long"))
      .withColumn("bits_per_tok", col("surp_bits").cast("double") / size(toks))
  }

  /** DuckDB mirror of the full word-grain merge chain — w0 (word →
    * ' c h a r s ', wn) through w[[BpeMerges]] with each round's argmax
    * — shared by the q131 and q136 oracles. Every CTE is MATERIALIZED:
    * DuckDB inlines CTEs per reference, which is exponential over the
    * 32 unrolled rounds ("too many open files" was the symptom).
    */
  private def bpeWordRoundsSql: String = {
    val rounds = (1 to BpeMerges).map { k =>
      val p = k - 1
      s"""p$k AS MATERIALIZED (SELECT s[i] AS a, s[i+1] AS b, CAST(sum(wn) AS BIGINT) AS cnt
         |  FROM (SELECT string_split(trim(w), ' ') AS s, wn FROM w$p),
         |    LATERAL (SELECT unnest(generate_series(1, len(s) - 1)) AS i) l
         |  GROUP BY 1, 2),
         |t$k AS MATERIALIZED (SELECT a, b FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |w$k AS MATERIALIZED (SELECT word, replace(w,
         |    ' ' || (SELECT a FROM t$k) || ' ' || (SELECT b FROM t$k) || ' ',
         |    ' ' || (SELECT a FROM t$k) || (SELECT b FROM t$k) || ' ') AS w, wn
         |  FROM w$p)""".stripMargin
    }.mkString(",\n")
    s"""w0 AS MATERIALIZED (
       |  SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS w,
       |    CAST(count(*) AS BIGINT) AS wn
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
       |  WHERE word <> '' GROUP BY 1),
       |$rounds""".stripMargin
  }

  /** q130's one-round symbol-pair counting at vocab grain: (w, wn)
    * space-joined symbol words → (a, b, cnt) adjacent-pair weights.
    * Pair rows collapse map-side to symbol-pair cardinality. The
    * size<2 guard matters: Spark's sequence(1, 0) DESCENDS ([1, 0])
    * instead of returning empty, so a single-symbol word would emit a
    * phantom pair without it.
    */
  def bpePairCounts(vocab: DataFrame): DataFrame =
    // adjacent symbol pairs via arrays_zip of two codegen'd slices
    // (equal lengths — zip never pads); the transform(sequence(...))
    // form was a CodegenFallback HOF paid once per merge TRIP. The
    // size<2 guard matters doubly: Spark's sequence(1, 0) DESCENDS
    // ([1, 0]) in the old form, and slice(s, 2, -1) throws here —
    // single-symbol words must emit no pair either way.
    vocab.select(split(trim(col("w")), " ").as("s"), col("wn"))
      .select(explode(when(size(col("s")) < 2,
          expr("CAST(array() AS ARRAY<STRUCT<`0`: STRING, `1`: STRING>>)"))
        .otherwise(arrays_zip(
          slice(col("s"), lit(1), size(col("s")) - 1),
          slice(col("s"), lit(2), size(col("s")) - 1))))
        .as("p"), col("wn"))
      .groupBy(col("p").getField("0").as("a"), col("p").getField("1").as("b"))
      .agg(sum(col("wn")).as("cnt"))

  /** The corpus word vocabulary in q130's space-joined symbol form:
    * (word, w = ' c h a r s ', wn). ONE corpus scan; vocab grain after.
    */
  private def bpeVocab(s: SparkSession, d: String): DataFrame =
    Tables.spread(Tables(s, d, "documents"))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy(col("word")).agg(count(lit(1)).as("wn"))
      .select(col("word"), concat(lit(" "),
        array_join(split(col("word"), ""), " "), lit(" ")).as("w"), col("wn"))

  /** q130's learner: the first [[BpeMerges]] byte-pair merges with their
    * counts, in learned order — EXACTLY the sequential textbook argmax
    * (count DESC, pair ASC per round; the oracle SQL unrolls that
    * sequential form), with two scale fixes over the naive loop:
    *
    *   - the loop runs on ONE compiled RDD aggregation reused across
    *     trips (flatMap → reduceByKey → takeOrdered; zero per-trip
    *     Catalyst re-plans — see [[bpeFitBatched]]); each trip's vocab
    *     RDD is persisted and rotated (previous trip's blocks released
    *     once the next trip materializes), so round k is ONE
    *     vocab-grain pass instead of a corpus re-scan plus a k-deep
    *     merge-chain replay (O(M) total vocab passes, not O(M²)).
    *     (The hazard the earlier DataFrame loop documented — chained
    *     SQL InMemoryRelations blowing up the per-job plan-description
    *     string, measured OOM at M=32 — cannot arise here: RDD
    *     persists carry no SQL plan string and the chain is rotated,
    *     never stacked.);
    *   - the per-round argmax collects the top-[[BpeBatch]] candidates
    *     and accepts a provably-safe PREFIX in one driver round-trip.
    *     Safety argument: merging (a, b) only changes counts of pairs
    *     sharing a symbol with it, and every pair it creates has count
    *     bounded by an old sharing pair's count (an occurrence of
    *     (x, ab) was an occurrence of (x, a)). So a candidate that is
    *     symbol-disjoint from everything accepted this batch, and whose
    *     count STRICTLY exceeds both every skipped sharing candidate
    *     and the batch floor (the B-th count — the bound on every
    *     uncollected pair), is exactly the next sequential argmax,
    *     lex-tie-breaks included. TextKernelSpec pins batched ≡
    *     sequential end to end at M=[[BpeMerges]].
    */
  def bpeFit(s: SparkSession, d: String): List[(String, String, Long)] =
    bpeFitBatched(s, d, BpeMerges, BpeBatch)._1

  /** A trained merge list rendered as q130's output table (round,
    * sym_a, sym_b, cnt) — a LocalRelation, the model artifact itself.
    */
  def bpeMergesDf(s: SparkSession,
                  fit: List[(String, String, Long)]): DataFrame = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("round", IntegerType, nullable = false),
      StructField("sym_a", StringType, nullable = true),
      StructField("sym_b", StringType, nullable = true),
      StructField("cnt", LongType, nullable = false)))
    s.createDataFrame(
      fit.zipWithIndex.map { case ((a, b, cnt), i) =>
        org.apache.spark.sql.Row(i + 1, a, b, cnt) }.asJava, schema)
  }

  /** q136's trained dictionary: every corpus word with its token-id
    * array under the learned tokenizer — merges applied at VOCAB grain,
    * symbol ids by lexicographic rank (both engines derive identical
    * ids with no shared state). The persisted form of this dictionary
    * is the serving artifact the per-batch encode joins against.
    */
  def bpeWordIds(s: SparkSession, d: String): DataFrame = {
    val (vocab, symIds) = bpeSymbolTable(s, d)
    val ids = typedLit(symIds)
    vocab.select(col("word"),
      transform(col("syms"), sy => element_at(ids, sy)).as("ids"))
  }

  /** The trained tokenizer's symbol layer: the persisted (word, syms)
    * vocab after the merge fold, plus the symbol → id map (lexicographic
    * rank — both engines derive identical ids with no shared state).
    * [[bpeWordIds]] encodes through it; q245 decodes back through its
    * inverse.
    */
  def bpeSymbolTable(s: SparkSession, d: String): (DataFrame, Map[String, Int]) = {
    val merges = bpeFit(s, d).map(m => (m._1, m._2))
    val vocab = bpeVocab(s, d).select(col("word"),
        split(trim(bpeApply(col("w"), merges)), " ").as("syms"))
      .persistTracked
    val symIds: Map[String, Int] = vocab
      .select(explode(col("syms")).as("sy")).distinct()
      .orderBy(col("sy")).collect().map(_.getString(0))
      .zipWithIndex.map { case (sy, i) => sy -> (i + 1) }.toMap
    (vocab, symIds)
  }

  /** q136's per-batch serving stage: re-encode the corpus through ONE
    * broadcastable dictionary join ([[bpeWordIds]]) + per-doc ordered
    * reassembly; that doc-grain shuffle IS the output materialization.
    */
  def bpeEncodeDocs(s: SparkSession, d: String, wordIds: DataFrame): DataFrame =
    Tables.spread(Tables(s, d, "documents"))
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
      .join(wordIds, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        // ordered reassembly as sort_array + field extraction + flatten
        // (all codegen'd) instead of array_sort + transform (both
        // CodegenFallback HOFs, interpreted per element on the serving
        // path's doc-grain stage): pos is distinct per doc (posexplode
        // positions), so the struct natural ordering both forms use is
        // decided by pos alone — same permutation, same ids
        expr("flatten(sort_array(collect_list(struct(pos, ids))).ids)")
          .as("token_ids"))
      // rendered as a space-joined STRING: the driver's row hash
      // (and pandas sort) cannot canonicalize array cells — same
      // information, one hashable value per doc
      .select(col("doc_id"), col("n_words"),
        size(col("token_ids")).cast("long").as("n_ids"),
        array_join(col("token_ids"), " ").as("ids_str"))

  /** UTF-8 binary string comparison — the order Spark's UTF8String and
    * DuckDB's VARCHAR collation both use. Java's String.compareTo is
    * UTF-16 code-unit order, which DISAGREES above the BMP (surrogates
    * sort below U+E000..U+FFFF in UTF-16 but 4-byte UTF-8 sequences
    * sort above every BMP character), so the RDD loop's tie-breaks must
    * not use it.
    */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Exactly Spark's trim(w) + split(_, " ") pair: strip ' ' (only ' ' —
    * Java's String.trim also eats control chars, Spark's trim does not)
    * from both ends, then split on single spaces KEEPING interior empty
    * tokens (Spark's regex split uses limit -1).
    */
  private def bpeSymsOf(w: String): Array[String] = {
    var i = 0
    var j = w.length
    while (i < j && w.charAt(i) == ' ') i += 1
    while (j > i && w.charAt(j - 1) == ' ') j -= 1
    w.substring(i, j).split(" ", -1)
  }

  /** The [[bpeFit]] engine with explicit merge count and batch width;
    * returns (merges, driver round-trips). batch = 1 IS the sequential
    * learner — the spec runs both and asserts identical output with
    * fewer trips.
    */
  private[graft] def bpeFitBatched(s: SparkSession, d: String, m: Int,
      batch: Int): (List[(String, String, Long)], Int) = {
    // The merge loop is ~20 sequential DRIVER round-trips over a
    // vocab-grain frame; at that grain the per-trip cost is Spark fixed
    // overhead, not data — ProfJobs measured the r19 DataFrame loop at
    // 65 jobs per fit with ~2.5 s of driver planning gaps (each trip
    // re-entered Catalyst: fresh analysis/optimization/physical
    // planning + AQE stage jobs for a vocab-grain aggregate). r20
    // (round-19 verdict item 3): the loop now runs on ONE compiled RDD
    // aggregation reused across trips — flatMap(adjacent symbol pairs)
    // → reduceByKey(+) → takeOrdered(batch) — so a trip is exactly one
    // job (two stages) with zero per-trip Catalyst work. Catalyst is
    // entered once, for the corpus-grain [[bpeVocab]] scan that seeds
    // the RDD. Semantics are pinned to the DataFrame form it replaces:
    //   - pair split mirrors split(trim(w), " ") via [[bpeSymsOf]];
    //   - tie-breaks (cnt DESC, a ASC, b ASC) compare UTF-8 bytes
    //     ([[utf8Compare]]), Spark/DuckDB's binary collation;
    //   - the replace fold is java.lang.String.replace — the same
    //     literal, non-overlapping, left-to-right scan as Spark's
    //     replace() and DuckDB's replace().
    // TextKernelSpec pins batched ≡ sequential end to end; the q130/
    // q131/q136/q245 oracles hash-check the learned merges at 3 SFs.
    // Each trip's vocab is persisted (MEMORY_AND_DISK — vocab-grain,
    // tiny relative to the corpus) and materialized by the NEXT trip's
    // takeOrdered (which computes every partition); the previous trip's
    // blocks are released only after that materialization. (The r19
    // DataFrame loop's AQE-off experiment and its rejection — isolated
    // median 3.1 → 4.6 s — are recorded in OPTIMIZATION_r19.md; the
    // RDD loop sidesteps that trade entirely: no AQE, no per-trip
    // planning, and the reduceByKey inherits the vocab scan's
    // partitioning instead of a fixed shuffle width.)
    import org.apache.spark.rdd.RDD
    import org.apache.spark.storage.StorageLevel
    val topOrd = new Ordering[((String, String), Long)] {
      def compare(x: ((String, String), Long), y: ((String, String), Long)): Int = {
        val c = java.lang.Long.compare(y._2, x._2) // cnt DESC
        if (c != 0) c
        else {
          val ca = utf8Compare(x._1._1, y._1._1) // a ASC
          if (ca != 0) ca else utf8Compare(x._1._2, y._1._2) // b ASC
        }
      }
    }
    val enc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING,
      org.apache.spark.sql.Encoders.scalaLong)
    var cur: RDD[(String, Long)] = bpeVocab(s, d)
      .select(col("w"), col("wn")).as[(String, Long)](enc)
      .rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // previous trip's vocab: releasable once `cur` has materialized
    var prev: Option[RDD[(String, Long)]] = None
    val merges = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    var trips = 0
    var exhausted = false
    try {
    while (merges.size < m && !exhausted) {
      val top: Array[((String, String), Long)] = cur.flatMap { case (w, wn) =>
        val syms = bpeSymsOf(w)
        if (syms.length < 2) Iterator.empty
        else (0 until syms.length - 1).iterator
          .map(i => ((syms(i), syms(i + 1)), wn))
      }.reduceByKey(_ + _).takeOrdered(batch)(topOrd)
      // cur is now fully materialized (takeOrdered touches every
      // partition) — the previous trip's blocks can go
      prev.foreach(_.unpersist(blocking = false))
      prev = None
      trips += 1
      if (top.isEmpty) exhausted = true
      else {
        val cands = top.map { case ((a, b), cnt) => (a, b, cnt) }
        // every pair OUTSIDE the collected window has cnt <= floor
        val floor = if (cands.length < batch) 0L else cands.last._3
        val touched = scala.collection.mutable.Set.empty[String]
        val accepted = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        var done = false
        for ((a, b, cnt) <- cands if !done) {
          if (merges.size + accepted.size >= m) done = true
          // a SELF-pair merge (a, a) breaks the bound below: the pairs it
          // creates ((aa, a), (aa, aa) from symbol runs) are bounded only
          // by the accepted pair ITSELF, which the sharingMax scan
          // excludes — so nothing may be accepted after it this batch
          // (corpus " a a a a "×600 + " b c "×550: sequential round 2 is
          // (aa, aa, 600), but an unguarded batch would take (b, c, 550))
          else if (accepted.lastOption.exists(p => p._1 == p._2)) done = true
          else if (accepted.isEmpty) { accepted += ((a, b, cnt)); touched += a += b }
          else if (touched(a) || touched(b)) () // count may have changed — skip
          else {
            // every pair an accepted merge changed or created is bounded
            // by some NON-accepted candidate sharing a symbol with the
            // accepted set — a new (x, ab) was an occurrence of old
            // (x, a), and (a, b) itself was consumed — or by `floor` if
            // that sharing pair fell outside the window. The bound must
            // be taken over the WHOLE window, ties rejecting: an
            // equal-count sharing pair LATER in lex order still bounds a
            // new pair that could tie cnt and win the (a ASC, b ASC)
            // tie-break (e.g. merge (c,o) creating (co,lu) at the same
            // 978 as disjoint candidate (lu,m) — the fixture case the
            // q130 reference spec caught when this scanned only the
            // already-visited prefix)
            val acceptedSet = accepted.map(p => (p._1, p._2)).toSet
            val sharingMax = cands.iterator
              .filter { case (x, y, _) =>
                (touched(x) || touched(y)) && !acceptedSet((x, y)) }
              .map(_._3).foldLeft(0L)(math.max)
            if (cnt > floor && cnt > sharingMax) {
              accepted += ((a, b, cnt)); touched += a += b
            } else done = true
          }
        }
        merges ++= accepted
        // skip the replace fold once the merge budget is reached: the
        // loop exits now, so a `next` RDD built here would be persisted
        // and immediately unpersisted without ever materializing
        if (accepted.nonEmpty && merges.size < m) {
          // accepted merges are symbol-disjoint: the replaces commute
          val reps: Array[(String, String)] = accepted
            .map { case (a, b, _) => (s" $a $b ", s" $a$b ") }.toArray
          val next = cur.map { case (w, wn) =>
            (reps.foldLeft(w) { case (c, (from, to)) => c.replace(from, to) }, wn)
          }.persist(StorageLevel.MEMORY_AND_DISK)
          prev = Some(cur)
          cur = next
        }
      }
    }
    } finally {
      prev.foreach(_.unpersist(blocking = false))
      cur.unpersist(blocking = false)
    }
    (merges.toList, trips)
  }

  /** Apply learned merges to a space-joined symbol column, in order —
    * the tokenizer the q130 artifact defines, as a pure Column fold.
    */
  def bpeApply(w: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(w) { case (c, (a, b)) =>
      replace(c, lit(s" $a $b "), lit(s" $a$b "))
    }

  /** q127's dual-model fit (DSIR, Xie et al. 2023 "Data Selection for
    * Language Models via Importance Resampling"): a TARGET unigram model
    * over the docs of [[DsirTarget]] and a RAW model over everything
    * else, both in q118's integer-quantized form (top-[[VocabTopV]] head,
    * length(bin(total div tf)) bits, OOV floor = bits(total)). Returned
    * pre-MERGED as token → (raw_bits − target_bits) over the union of
    * the two heads, with the default = oov_raw − oov_target, so scoring
    * is ONE fold over one map literal. 100 TB shape: both models come
    * out of a single corpus-sized token hash-agg with a conditional
    * count (never two corpus scans); the aggregate is vocabulary-sized
    * and persisted across its three small reductions (totals + two
    * heads); the artifact is ≤ 2·V entries — the q51 trained-centroid
    * precedent (a bounded model, not data).
    */
  def dsirFit(s: SparkSession, d: String): (Map[String, Long], Long) = {
    val c = Tables.spread(Tables(s, d, "documents"))
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("tf_all"),
        count_if(col("source") === DsirTarget).as("tf_t"))
      .persist()
    try {
      val tfR = col("tf_all") - col("tf_t")
      val tot = c.agg(sum(col("tf_t")).as("tt"), sum(tfR).as("tr")).collect()(0)
      val totalT = if (tot.isNullAt(0)) 0L else tot.getLong(0)
      val totalR = if (tot.isNullAt(1)) 0L else tot.getLong(1)
      def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
      def head(tf: Column, total: Long): Map[String, Long] =
        c.filter(tf > 0).orderBy(tf.desc, col("token").asc).limit(VocabTopV)
          .select(col("token"), tf.as("tf")).collect()
          .map(r => r.getString(0) -> bits(total / r.getLong(1))).toMap
      val hT = head(col("tf_t"), totalT)
      val hR = head(tfR, totalR)
      val (oovT, oovR) = (bits(totalT), bits(totalR))
      val delta = (hT.keySet ++ hR.keySet).iterator
        .map(t => t -> (hR.getOrElse(t, oovR) - hT.getOrElse(t, oovT))).toMap
      (delta, oovR - oovT)
    } finally { c.unpersist(); () }
  }

  /** Score rows with (doc_id, text) under a [[dsirFit]] model: appends
    * n_tok, w_bits = Σ_t (raw_bits − target_bits) (the DSIR importance
    * log-weight, in quantized log2 bits — higher ⇒ more target-like),
    * w_per_tok, and the resampling verdict `keep`. Because the weight
    * is an INTEGER log2, the paper's keep-probability ∝ exp(w) is
    * exactly min(1, 2^(w_bits + [[DsirShift]])) — decided against the
    * doc's deterministic md5 u32 fraction in pure BIGINT shift/compare
    * arithmetic: no float pow/exp anywhere (the q118 no-float-log rule
    * applied to resampling). Zero-shuffle per-row fold in the scan
    * stage; streams verbatim — see `StatefulOps.dsirGate`.
    */
  def dsirScore(df: DataFrame, delta: Map[String, Long], deltaOov: Long): DataFrame = {
    val toks = split(col("text"), " ")
    // one codegen'd binary-search fold per row — see surprisalScore
    val w = vocabSumNative(toks, delta, deltaOov)
    df.withColumn("n_tok", size(toks).cast("long"))
      .withColumn("w_bits", w)
      .withColumn("w_per_tok", col("w_bits").cast("double") / size(toks))
      .withColumn("keep",
        when(col("w_bits") + lit(DsirShift) >= 0, lit(true))
          .when(col("w_bits") + lit(DsirShift) + 32 < 0, lit(false))
          .otherwise(
            expr("CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10) AS BIGINT)") <
              expr(s"shiftleft(CAST(1 AS BIGINT), CAST(w_bits + $DsirShift + 32 AS INT))")))
  }

  /** q127: the DSIR target domain (the source whose distribution the
    * selection steers toward) and the resampling exponent shift —
    * keep-probability = min(1, 2^(w_bits + DsirShift)), chosen so the
    * verdict is non-degenerate across the fixture SFs (measured
    * 235/475, 301/475, 4747/4750 keeps at sf0.001/0.01/0.1).
    */
  val DsirTarget = "src0"
  val DsirShift = 16

  /** q108: vocabulary prefix size for the coverage curve. */
  val VocabTopV = 50

  /** q109 keep-gate thresholds (Gopher-style concentration bounds): a
    * doc is keyword-stuffing-suspect past either.
    */
  val Top1Max = 0.20
  val Top2Max = 0.20

  /** q111: length-histogram bucket width in chars (exact integer
    * division — floats would put power-of-two edges at risk).
    */
  val LenBucketChars = 64
}
