package graft.queries

import graft.Caches.TrackedPersist
import graft.Tables
import graft.functions.ParityFns._
import graft.operators.AsOfJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.immutable.ListMap

/** Time-window operator surface (SURVEY.md §2.2 Q13/Q14, Q33–Q35): the
  * streaming window shapes exercised here in batch form so they can be
  * DuckDB-oracled — the same `window`/`session_window` expressions run
  * under `readStream` in the streaming specs.
  *
  * All window boundaries leave the engine as epoch-ms BIGINT: parquet
  * naive-vs-UTC timestamp annotations differ between engines, epoch ms
  * doesn't.
  */
object Windowed {

  /** Users flagged by q145's global most-anomalous pick. */
  val AnomalyK = 5

  /** q158: 3-step event paths kept by the global top-K. */
  val PathTopK = 10

  /** q160: number of hash-assigned experiment variants, and the
    * big-ticket purchase value that counts as a conversion (every
    * fixture user makes SOME purchase — see the q160 comment).
    */
  val AbVariants = 2
  val AbConvValue = 150

  /** q217's heavy-exposure threshold: a user is "exposed" to a type
    * only with ≥ this many events of it. Probed to split ~25% of
    * (user, type) pairs at sf0.001/0.01/0.1 (18/75, 199/750,
    * 1968/7500) — plain touched-at-all is degenerate on this fixture
    * (every user touches every type).
    */
  val LiftExposure = 16

  /** q161: trailing window length (days) and the |z| alert threshold. */
  val AnomWin = 7
  val AnomZ = 3.0

  /** q168: the event types that count as marketing "touches" and the
    * lookback window (µs) inside which a purchase is credited to the
    * user's most recent touch. 24 h is non-degenerate on the fixture:
    * at sf0.01 it splits purchases ≈ 561 click / 574 view / 846 none
    * (6 h starves attribution, 72 h starves the 'none' arm).
    */
  val AttrTouch: Seq[String] = Seq("click", "view")
  val AttrWindowUs: Long = 24L * 3600L * 1000000L

  /** q171b: per-purchase touch cap — only the most recent `AttrTouchCap`
    * in-window touches share a purchase's credit. This bounds the
    * purchase×touch pair volume at cap·#purchases no matter how dense a
    * bot user's touch stream is (q171's uncapped pairing is per-user
    * quadratic: measured ~4B pairs at 10⁵ events/user/day — NOTES.md
    * round-11 hot-user probe). 2 binds on ~10% of fixture purchases at
    * sf0.01 (max in-window touches there is 4), so the cap path is
    * exercised by the oracle; production would run 32-64.
    */
  val AttrTouchCap = 2

  /** q176 deviation denominator: a day pages when its count deviates
    * more than mean/AnomalyDenom from its weekday's mean. See the q176
    * comment for why the fixture needs 32 where production runs 2-4.
    */
  val AnomalyDenom = 32

  /** The per-purchase last-touch attribution kernel q168 aggregates and
    * `StatefulOps.attributionMonitor` must agree with: for every
    * purchase event, the user's most recent STRICTLY PRIOR touch event
    * (by the (ts, event_id) total order) and whether it falls inside
    * [[AttrWindowUs]] — 'none' otherwise. ONE user_id-partitioned
    * window (q32's sessionization exchange; state ∝ one user's events).
    * The two `last(..., ignoreNulls)` calls share the same null
    * predicate, so they always read the same touch row.
    */
  def attributedPurchases(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type").isin(AttrTouch: _*)
    ev.select(col("user_id"), col("event_type"), col("value"),
        unix_micros(col("ts")).as("us"), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_type"), col("value"), col("us"),
        last(when(touch, col("event_type")), ignoreNulls = true).over(w).as("t_ty"),
        last(when(touch, col("us")), ignoreNulls = true).over(w).as("t_us"))
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("value"),
        when(col("t_us").isNotNull && col("us") - col("t_us") <= AttrWindowUs,
          col("t_ty")).otherwise(lit("none")).as("touch_type"))
  }

  /** The guarded pooled two-proportion z statistic over columns
    * n0/c0/n1/c1 — ONE copy of the fixed IEEE tree, shared by q160 and
    * the streaming `StatefulOps.abMonitor` so the batch query and the
    * intake monitor cannot drift. Guard: z = 0 when either arm is
    * empty or pooled p ∈ {0, 1} (ANSI Spark raises on the √0 division
    * a silent engine would NaN through).
    */
  /** q215's derived interval: the Wilson score bounds from one arm's
    * exact (n_users, n_conv) — SQL expression strings rendered into
    * BOTH engines (the q204 OlsDerived discipline) so the ÷/×/sqrt
    * IEEE DAG and the z = 1.96 literal cannot drift. Wilson rather
    * than Wald: stays inside [0,1] and behaves at small n and extreme
    * rates, where Wald's ±z·sqrt(p(1−p)/n) collapses to a point.
    */
  val WilsonDerived: Seq[String] = {
    val n = "CAST(n_users AS DOUBLE)"
    val p = s"(CAST(n_conv AS DOUBLE) / $n)"
    val z = "CAST(1.96 AS DOUBLE)"
    // bare decimal literals (1.0/2.0/4.0), the q160-proven idiom: both
    // engines promote them exactly in DOUBLE arithmetic; a Spark-only
    // `D` suffix would not parse in DuckDB
    val denom = s"(1.0 + $z * $z / $n)"
    val center = s"($p + $z * $z / (2.0 * $n))"
    val half = s"($z * sqrt($p * (1.0 - $p) / $n + $z * $z / (4.0 * $n * $n)))"
    Seq(s"($center - $half) / $denom AS wilson_lo",
      s"($center + $half) / $denom AS wilson_hi")
  }

  def abZ: org.apache.spark.sql.Column = expr(
    """CASE WHEN coalesce(n0, CAST(0 AS BIGINT)) = 0
      |     OR coalesce(n1, CAST(0 AS BIGINT)) = 0
      |     OR c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN CAST(0.0 AS DOUBLE)
      | ELSE (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
      |   - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      |   / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |     * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
      |     * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
      | END""".stripMargin.replace("\n", " "))

  /** q145's fitted transition model: per-(prev, next) surprisal in
    * q118's integer-quantized log2 bits (length(bin(rowTotal div n))),
    * per-prev OOV floor bits(rowTotal), and the global floor for a
    * never-seen source state. Bounded by #types² + #types + 1 entries —
    * a map-literal-sized artifact like the q118/q141 fits.
    */
  final case class TransModel(bits: Map[String, Long], oov: Map[String, Long],
                              globalOov: Long)

  /** The (prev_type, next_type, n) transition counts q142 emits and
    * q145 fits on — ONE lag window over the user_id exchange + a
    * #types²-grain aggregate.
    */
  private def transitionCounts(s: org.apache.spark.sql.SparkSession,
                               d: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables(s, d, "events")
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev_type"))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Fit [[TransModel]] from the corpus's own transition counts —
    * #types² rows collected (the trainCentroids bounded-artifact
    * precedent). Keys are `prev|next` strings so the scorer is a single
    * map lookup per transition.
    */
  def transFit(s: org.apache.spark.sql.SparkSession, d: String): TransModel = {
    def b(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong
    val rows = transitionCounts(s, d).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val tot = rows.groupBy(_._1).map { case (p, rs) => p -> rs.map(_._3).sum }
    val grand = tot.values.sum
    TransModel(
      rows.map { case (p, n, c) => s"$p|$n" -> b(tot(p) / c) }.toMap,
      tot.map { case (p, t) => p -> b(t) },
      b(math.max(grand, 1L)))
  }

  def defs: ListMap[String, Q] = ListMap(

    // ---- Q14: as-of join — each event picks up the user's latest prior
    //      state. State times are derived into the events' January-2024
    //      range so matches actually vary per event.
    "q09_asof_join" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events").select("event_id", "user_id", "ts")
        val st = Tables(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            expr("timestamp'2024-01-01 00:00:00' + make_interval(0,0,0,0, CAST(o_orderkey % 720 AS INT), 0, 0)").as("st_ts"))
        AsOfJoin.leftAsOf(ev, "user_id", "ts", st, "o_custkey", "st_ts", "o_orderkey")
          .filter(col("asof").isNotNull)
          .select(col("event_id"), col("asof.o_orderkey").as("o_orderkey"))
      },
      Some("""WITH st AS (
             |  SELECT o_orderkey, o_custkey,
             |    TIMESTAMP '2024-01-01' + (o_orderkey % 720) * INTERVAL 1 HOUR AS st_ts
             |  FROM orders),
             |j AS (
             |  SELECT e.event_id, st.o_orderkey, row_number() OVER (
             |    PARTITION BY e.event_id ORDER BY st.st_ts DESC, st.o_orderkey DESC) AS rn
             |  FROM events e JOIN st ON st.o_custkey = e.user_id AND st.st_ts <= e.ts)
             |SELECT event_id, o_orderkey FROM j WHERE rn = 1""".stripMargin),
      headline = false),

    // ---- Q34: tumbling window aggregate (epoch-aligned 1h windows)
    "q30_window_tumbling" -> Q(
      (s, d) => {
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_val"))
          .select(epochMs(col("window.start")).as("w_start"),
            col("event_type"), col("n"), col("sum_val"))
      },
      Some("""SELECT epoch_ms(ts) // 3600000 * 3600000 AS w_start, event_type,
             |  count(*) AS n, round(sum(value), 4) AS sum_val
             |FROM events GROUP BY 1, 2""".stripMargin),
      headline = false),

    // ---- Q34: sliding window (1h length, 30m slide → each event in 2)
    "q31_window_sliding" -> Q(
      (s, d) => {
        Tables(s, d, "events")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_val"))
          .select(epochMs(col("window.start")).as("w_start"), col("n"), col("sum_val"))
      },
      Some("""WITH slid AS (
             |  SELECT epoch_ms(ts) // 1800000 * 1800000 - k * 1800000 AS w_start, value
             |  FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k))
             |SELECT w_start, count(*) AS n, round(sum(value), 4) AS sum_val
             |FROM slid GROUP BY w_start""".stripMargin)),

    // ---- Q35: session window (6h inactivity gap) per user
    "q32_session_window" -> Q(
      (s, d) => {
        Tables(s, d, "events")
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_val"))
          .select(col("user_id"), epochMs(col("session_window.start")).as("s_start"),
            col("n_events"), col("sum_val"))
      },
      Some("""WITH brk AS (
             |  SELECT user_id, ts, value, CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, ts, value, sum(new_s) OVER (
             |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM brk)
             |SELECT user_id, epoch_ms(min(ts)) AS s_start,
             |  count(*) AS n_events, round(sum(value), 4) AS sum_val
             |FROM sess GROUP BY user_id, sid""".stripMargin),
      headline = true),

    // ---- event-sequence transition matrix: per-user Markov bigram
    //      counts over the event stream (lag window ordered by (ts,
    //      event_id) — event_id breaks timestamp ties, so the sequence
    //      is total-ordered and deterministic) plus the per-source-state
    //      transition probability — the behavioral-analytics sibling of
    //      q109's text bigrams (funnel drop-off, bot-loop detection,
    //      session-model fitting all start here). 100 TB shape: the
    //      per-user sort is the same user_id-partitioned exchange q32's
    //      sessionization pays (state ∝ one user's events, never
    //      global); transition rows collapse map-side to the #types²
    //      grain; the row-total normalizer joins at #types grain
    //      (broadcast). One exact integer division pair → double p.
    "q142_event_transitions" -> Q(
      (s, d) => {
        // (prev, next)-grain counts persist ONCE: the per-prev totals and
        // the probability join both re-ran the corpus lag window before
        // round 16 (duplicate-subtree lint finding)
        val cnt = transitionCounts(s, d)
          .persistTracked
        val tot = cnt.groupBy(col("prev_type")).agg(sum(col("n")).as("t"))
        cnt.join(broadcast(tot), Seq("prev_type"))
          .select(col("prev_type"), col("event_type").as("next_type"), col("n"),
            (col("n").cast("double") / col("t").cast("double")).as("p"))
      },
      Some("""WITH tr AS (SELECT user_id, event_type,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |cnt AS (SELECT prev_type, event_type AS next_type,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM tr WHERE prev_type IS NOT NULL GROUP BY 1, 2),
             |tot AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS t
             |        FROM cnt GROUP BY 1)
             |SELECT c.prev_type, c.next_type, c.n,
             |  CAST(c.n AS DOUBLE) / CAST(t.t AS DOUBLE) AS p
             |FROM cnt c JOIN tot t USING (prev_type)""".stripMargin)),

    // ---- behavioral anomaly score: per-user summed transition
    //      surprisal under the q142-fitted Markov model — the bot-loop /
    //      compromised-account detector (a user whose event sequence is
    //      improbable under the corpus's own transition statistics pages
    //      out). Same fit→map-literal→zero-shuffle-score arc as
    //      q118/q141, but over SEQUENCES: bits = length(bin(rowTotal
    //      div n)) per transition (q118's no-float-log rule), one lag
    //      window (the q32 sessionization exchange), user-grain BIGINT
    //      sums, one double division. The global most-anomalous-K flag
    //      is the bounded heap in a single group — q138's shape. The
    //      per-prev OOV fallback never fires when fit corpus = scored
    //      corpus (the oracle joins exactly); it exists for the serving
    //      path where new event types arrive.
    "q145_transition_anomaly" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val m = transFit(s, d)
        val bmap = typedLit(m.bits)
        val omap = typedLit(m.oov)
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val sc = Tables(s, d, "events")
          .select(col("user_id"), col("event_type").as("nxt"),
            lag(col("event_type"), 1).over(w).as("prv"))
          .filter(col("prv").isNotNull)
          .select(col("user_id"), coalesce(
            element_at(bmap, concat(col("prv"), lit("|"), col("nxt"))),
            element_at(omap, col("prv")), lit(m.globalOov)).as("b"))
          .groupBy(col("user_id"))
          .agg(sum(col("b")).as("surp_bits"), count(lit(1)).as("n_trans"))
          .select(col("user_id"), col("n_trans"), col("surp_bits"),
            (col("surp_bits").cast("double") / col("n_trans").cast("double"))
              .as("bits_per_trans"))
          // user-grain scores persist ONCE: the top-K heap and the flag
          // join both re-ran the corpus lag window before round 16
          .persistTracked
        val flagged = sc.agg(call_function("graft_topk", col("bits_per_trans"),
            col("user_id"), lit(AnomalyK)).as("top"))
          .select(explode(col("top.id")).as("user_id"), lit(true).as("is_anomalous"))
        sc.join(broadcast(flagged), Seq("user_id"), "left")
          .select(col("user_id"), col("n_trans"), col("surp_bits"),
            col("bits_per_trans"),
            coalesce(col("is_anomalous"), lit(false)).as("is_anomalous"))
      },
      Some(s"""WITH tr AS (SELECT user_id, event_type AS nxt,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prv
             |  FROM events),
             |t2 AS (SELECT user_id, prv, nxt FROM tr WHERE prv IS NOT NULL),
             |cnt AS (SELECT prv, nxt, CAST(count(*) AS BIGINT) AS n
             |        FROM t2 GROUP BY 1, 2),
             |tot AS (SELECT prv, CAST(sum(n) AS BIGINT) AS t FROM cnt GROUP BY 1),
             |mdl AS (SELECT c.prv, c.nxt,
             |    CAST(length(bin(CAST(t.t // c.n AS BIGINT))) AS BIGINT) AS bits
             |  FROM cnt c JOIN tot t USING (prv)),
             |sc AS (SELECT t2.user_id, CAST(sum(m.bits) AS BIGINT) AS surp_bits,
             |    CAST(count(*) AS BIGINT) AS n_trans
             |  FROM t2 JOIN mdl m USING (prv, nxt) GROUP BY t2.user_id),
             |flg AS (SELECT user_id FROM (SELECT user_id, row_number() OVER (
             |    ORDER BY CAST(surp_bits AS DOUBLE) / CAST(n_trans AS DOUBLE) DESC,
             |      user_id) AS rn FROM sc) WHERE rn <= $AnomalyK)
             |SELECT s.user_id, s.n_trans, s.surp_bits,
             |  CAST(s.surp_bits AS DOUBLE) / CAST(s.n_trans AS DOUBLE) AS bits_per_trans,
             |  (f.user_id IS NOT NULL) AS is_anomalous
             |FROM sc s LEFT JOIN flg f USING (user_id)""".stripMargin)),

    // ---- ordered conversion funnel: users reaching signup → view →
    //      purchase IN ORDER (each step strictly after the previous
    //      step's first completion — the sequencing q113's stateless doc
    //      gates don't have). Three user-grain min-ts aggregates chained
    //      by id-equijoins (co-partitioned or AQE-broadcast — never a
    //      corpus-wide window); the 3-row summary crosses a broadcast
    //      1-row base for conversion rates (q107's intended-BNLJ shape).
    "q146_event_funnel" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_type"))
        // each step's user-grain min-ts persists ONCE: t1 feeds the t2
        // chain, its step count, AND the funnel base; t2 feeds t3 and
        // its step count — pre-round-16 every consumer re-scanned events
        val t1 = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
          .persistTracked
        val t2 = ev.filter(col("event_type") === "view")
          .join(t1, "user_id").filter(col("ts") > col("t1"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
          .persistTracked
        val t3 = ev.filter(col("event_type") === "purchase")
          .join(t2, "user_id").filter(col("ts") > col("t2"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
        val steps = t1.agg(count(lit(1)).as("n_users"))
          .select(lit(1).as("step"), lit("signup").as("step_name"), col("n_users"))
          .unionByName(t2.agg(count(lit(1)).as("n_users"))
            .select(lit(2).as("step"), lit("view").as("step_name"), col("n_users")))
          .unionByName(t3.agg(count(lit(1)).as("n_users"))
            .select(lit(3).as("step"), lit("purchase").as("step_name"), col("n_users")))
        val base = t1.agg(count(lit(1)).as("base"))
        steps.crossJoin(broadcast(base))
          .select(col("step"), col("step_name"), col("n_users"),
            // base = 0 (nobody ever signed up) would make every row
            // 0/0 = NaN; an empty funnel converts at 0, not NaN
            when(col("base") === 0, lit(0.0))
              .otherwise(col("n_users").cast("double") / col("base").cast("double"))
              .as("conversion"))
      },
      Some("""WITH t1 AS (SELECT user_id, min(ts) AS t FROM events
             |            WHERE event_type = 'signup' GROUP BY 1),
             |t2 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN t1 ON t1.user_id = e.user_id
             |       WHERE e.event_type = 'view' AND e.ts > t1.t GROUP BY 1),
             |t3 AS (SELECT e.user_id, min(e.ts) AS t FROM events e
             |       JOIN t2 ON t2.user_id = e.user_id
             |       WHERE e.event_type = 'purchase' AND e.ts > t2.t GROUP BY 1),
             |n AS (SELECT CAST(1 AS INT) AS step, 'signup' AS step_name,
             |        CAST(count(*) AS BIGINT) AS n_users FROM t1
             |  UNION ALL SELECT CAST(2 AS INT), 'view',
             |        CAST(count(*) AS BIGINT) FROM t2
             |  UNION ALL SELECT CAST(3 AS INT), 'purchase',
             |        CAST(count(*) AS BIGINT) FROM t3)
             |SELECT step, step_name, n_users,
             |  CASE WHEN (SELECT n_users FROM n WHERE step = 1) = 0 THEN 0.0
             |    ELSE CAST(n_users AS DOUBLE) /
             |      CAST((SELECT n_users FROM n WHERE step = 1) AS DOUBLE)
             |  END AS conversion
             |FROM n""".stripMargin)),

    // ---- retention cohorts: users grouped by first-event week, distinct
    //      activity per week offset — THE product-analytics rollup.
    //      cohort/offset are integer epoch-day arithmetic (div 7 — no
    //      float dates); retention = offset actives / cohort size, where
    //      size = the offset-0 row (every user is active in its own
    //      first week by construction). All grains after the first
    //      aggregate are (cohort, offset) ≪ corpus; the distinct-user
    //      count is the one corpus-sized shuffle.
    "q147_retention_cohorts" -> Q(
      (s, d) => {
        // floor(days / 7), NOT `div`: Spark's `div` truncates toward zero
        // while DuckDB's `//` floors, and the two diverge on pre-epoch
        // dates (-3 div 7 = 0 vs -3 // 7 = -1). The double division is
        // exact — |days| ≪ 2^52 — so floor gives true floored weeks in
        // both engines regardless of where the epoch sits relative to
        // the data.
        def wk(name: String) = expr(
          s"CAST(floor(datediff(CAST($name AS DATE), DATE'2024-01-01') / 7.0) AS BIGINT)")
        val ev = Tables(s, d, "events").select(col("user_id"), col("ts"))
        val first = ev.groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
          .select(col("user_id"), wk("t0").as("cohort_week"))
        val act = ev.join(first, "user_id")
          .select(col("user_id"), col("cohort_week"),
            (wk("ts") - col("cohort_week")).as("week_offset"))
          .groupBy(col("cohort_week"), col("week_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          // (cohort, offset)-grain rollup persists ONCE: the offset-0
          // size row and the retention join both re-ran the corpus
          // distinct before round 16 (duplicate-subtree lint finding)
          .persistTracked
        val size = act.filter(col("week_offset") === 0)
          .select(col("cohort_week"), col("n_users").as("cohort_size"))
        act.join(broadcast(size), Seq("cohort_week"))
          .select(col("cohort_week"), col("week_offset"), col("n_users"),
            (col("n_users").cast("double") / col("cohort_size").cast("double"))
              .as("retention"))
      },
      Some("""WITH f AS (SELECT user_id,
             |    CAST(date_diff('day', DATE '2024-01-01',
             |      CAST(min(ts) AS DATE)) // 7 AS BIGINT) AS cohort_week
             |  FROM events GROUP BY user_id),
             |act AS (SELECT f.cohort_week,
             |    CAST(date_diff('day', DATE '2024-01-01',
             |      CAST(e.ts AS DATE)) // 7 AS BIGINT) - f.cohort_week AS week_offset,
             |    CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
             |  FROM events e JOIN f USING (user_id)
             |  GROUP BY 1, 2),
             |sz AS (SELECT cohort_week, n_users AS cohort_size FROM act
             |       WHERE week_offset = 0)
             |SELECT a.cohort_week, a.week_offset, a.n_users,
             |  CAST(a.n_users AS DOUBLE) / CAST(s.cohort_size AS DOUBLE) AS retention
             |FROM act a JOIN sz s USING (cohort_week)""".stripMargin)),

    // ---- calendar-spine gap fill: per-day event counts INCLUDING
    //      zero-activity days — the dashboard/time-series verb a plain
    //      GROUP BY day silently gets wrong (missing days vanish
    //      instead of reading 0). The spine is generated from the
    //      1-row min/max bounds (sequence + explode — rows ∝ days,
    //      never events) and left-joins the day-grain aggregate; the
    //      one corpus-sized operation is the day hash-agg. sum(value)
    //      is rounded at 4 (the q30 idiom — the only order-sensitive
    //      float aggregate, tolerance-rounded in both engines). NB the
    //      fixture has no gap days (events cover all 30); the zero-fill
    //      branch is pinned by SequenceOpsSpec's planted-gap corpus.
    "q149_daily_gapfill" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(expr("CAST(ts AS DATE)").as("day"), col("value"), col("user_id"))
        // day-grain rollup persists ONCE and the spine bounds derive
        // from IT (min/max of day over day grain ≡ over rows) — the
        // old spine re-scanned the corpus just for two dates
        val daily = ev.groupBy(col("day"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct(col("user_id")).as("n_users"),
            round(sum(col("value")), 4).as("sum_val"))
          .persistTracked
        val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"),
            coalesce(col("n_events"), lit(0L)).as("n_events"),
            coalesce(col("n_users"), lit(0L)).as("n_users"),
            coalesce(col("sum_val"), lit(0.0)).as("sum_val"))
      },
      Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, value, user_id FROM events),
             |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_events,
             |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
             |    round(sum(value), 4) AS sum_val
             |  FROM ev GROUP BY day),
             |spine AS (SELECT unnest(generate_series(
             |    (SELECT min(day) FROM ev), (SELECT max(day) FROM ev),
             |    INTERVAL 1 DAY))::DATE AS day)
             |SELECT s.day, CAST(coalesce(d.n_events, 0) AS BIGINT) AS n_events,
             |  CAST(coalesce(d.n_users, 0) AS BIGINT) AS n_users,
             |  CAST(coalesce(d.sum_val, 0.0) AS DOUBLE) AS sum_val
             |FROM spine s LEFT JOIN daily d USING (day)""".stripMargin)),

    // ---- inter-event dwell-time histogram: the distribution of gaps
    //      between a user's consecutive events, bucketed by the
    //      integer log2 of the gap in microseconds
    //      (length(bin(gap_us + 1)) — q118's no-float-log rule, and the
    //      natural grain for think-time data spanning ms to days). The
    //      session-gap / bot-cadence tuning read: a 6h session window
    //      (q32) is justified exactly when this histogram shows a valley
    //      at that bucket. 100 TB shape: ONE lag window on the q32
    //      user_id sessionization exchange, then a ≤64-bucket-grain
    //      hash-agg (map-side combinable); the share normalizer is a
    //      broadcast 1-row cross.
    "q156_gap_histogram" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        val gaps = Tables(s, d, "events")
          .select(col("user_id"), col("ts"), col("event_id"),
            unix_micros(col("ts")).as("us"))
          .select(col("user_id"), (col("us") - lag(col("us"), 1).over(w)).as("gap_us"))
          .filter(col("gap_us").isNotNull)
        // ≤64-bucket histogram persists ONCE: the total and the share
        // cross both re-ran the corpus lag window before round 16
        val h = gaps
          .groupBy(expr("CAST(length(bin(gap_us + 1)) AS INT)").as("bucket_bits"))
          .agg(count(lit(1)).as("n"), min(col("gap_us")).as("min_gap_us"),
            max(col("gap_us")).as("max_gap_us"))
          .persistTracked
        val tot = h.agg(sum(col("n")).as("total"))
        h.crossJoin(broadcast(tot))
          .select(col("bucket_bits"), col("n"), col("min_gap_us"),
            col("max_gap_us"),
            (col("n").cast("double") / col("total").cast("double")).as("share"))
      },
      Some("""WITH g AS (SELECT epoch_us(ts) - lag(epoch_us(ts)) OVER (
             |    PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events),
             |f AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
             |h AS (SELECT CAST(length(bin(CAST(gap_us + 1 AS BIGINT))) AS INT)
             |      AS bucket_bits,
             |    CAST(count(*) AS BIGINT) AS n,
             |    CAST(min(gap_us) AS BIGINT) AS min_gap_us,
             |    CAST(max(gap_us) AS BIGINT) AS max_gap_us
             |  FROM f GROUP BY 1),
             |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM h)
             |SELECT bucket_bits, n, min_gap_us, max_gap_us,
             |  CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share
             |FROM h CROSS JOIN tot""".stripMargin)),

    // ---- session-DURATION histogram: q156's log2-bucket shape applied
    //      to q32's sessionization output — the distribution of
    //      (last event − first event) per session, the read that tunes
    //      the session gap itself (a mass of near-zero durations means
    //      the gap fragments real visits; a fat tail means bots or
    //      stitched sessions) and sizes downstream per-session state.
    //      100 TB shape: the one corpus-sized op is q32's user_id
    //      sessionization exchange (state ∝ one user's events); the
    //      histogram is a ≤64-bucket log2 grain re-aggregate; share
    //      crosses the broadcast 1-row total (q107's intended-BNLJ
    //      shape). Single-event sessions land in bucket bin(0+1) = 1.
    "q164_session_duration" -> Q(
      (s, d) => {
        val sess = Tables(s, d, "events")
          .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            (max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
              .as("dur_us"))
        // ≤64-bucket histogram persists ONCE: the total and the share
        // cross both re-ran the sessionization before round 16 (q156's
        // rule, caught by the widened duplicate-aggregate lint)
        val h = sess
          .groupBy(expr("CAST(length(bin(dur_us + 1)) AS INT)").as("bucket_bits"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("n_events")).as("n_events"),
            min(col("dur_us")).as("min_dur_us"),
            max(col("dur_us")).as("max_dur_us"))
          .persistTracked
        val tot = h.agg(sum(col("n_sessions")).as("total"))
        h.crossJoin(broadcast(tot))
          .select(col("bucket_bits"), col("n_sessions"), col("n_events"),
            col("min_dur_us"), col("max_dur_us"),
            (col("n_sessions").cast("double") / col("total").cast("double"))
              .as("share"))
      },
      Some("""WITH brk AS (
             |  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL
             |      OR ts - lag(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS new_s
             |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id, ts, sum(new_s) OVER (
             |    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM brk),
             |sd AS (SELECT user_id, sid, CAST(count(*) AS BIGINT) AS n_events,
             |    epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
             |  FROM sess GROUP BY user_id, sid),
             |h AS (SELECT CAST(length(bin(CAST(dur_us + 1 AS BIGINT))) AS INT)
             |      AS bucket_bits,
             |    CAST(count(*) AS BIGINT) AS n_sessions,
             |    CAST(sum(n_events) AS BIGINT) AS n_events,
             |    CAST(min(dur_us) AS BIGINT) AS min_dur_us,
             |    CAST(max(dur_us) AS BIGINT) AS max_dur_us
             |  FROM sd GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_sessions) AS BIGINT) AS total FROM h)
             |SELECT bucket_bits, n_sessions, n_events, min_dur_us, max_dur_us,
             |  CAST(n_sessions AS DOUBLE) / CAST(total AS DOUBLE) AS share
             |FROM h CROSS JOIN tot""".stripMargin)),

    // ---- top event paths: the global top-K 3-step event-type
    //      sequences users actually walk (path mining — q142's
    //      transition matrix aggregates ONE hop; the common journeys
    //      and loop signatures live at 3). Sequence order is the
    //      (ts, event_id) total order q142 pins. 100 TB shape: two
    //      leads ride ONE lag-family window on the q32 user_id
    //      sessionization exchange (state ∝ one user's events); path
    //      counts collapse map-side to the ≤ #types³ grain; the top-K
    //      is TakeOrderedAndProject, never a global sort.
    "q158_event_paths" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        Tables(s, d, "events")
          .select(col("user_id"), col("event_type").as("t0"),
            lead(col("event_type"), 1).over(w).as("t1"),
            lead(col("event_type"), 2).over(w).as("t2"))
          .filter(col("t2").isNotNull)
          .select(concat_ws(" > ", col("t0"), col("t1"), col("t2")).as("path"))
          .groupBy(col("path")).agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("path").asc)
          .limit(PathTopK)
      },
      Some(s"""WITH seq AS (SELECT event_type AS t0,
              |    lead(event_type, 1) OVER w AS t1,
              |    lead(event_type, 2) OVER w AS t2
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
              |SELECT t0 || ' > ' || t1 || ' > ' || t2 AS path,
              |  CAST(count(*) AS BIGINT) AS n
              |FROM seq WHERE t2 IS NOT NULL
              |GROUP BY 1 ORDER BY n DESC, path LIMIT $PathTopK""".stripMargin)),

    // ---- transition-model evaluation: top-1 next-event prediction
    //      accuracy of the q142-fitted Markov model, per source state —
    //      the model-evaluation verb that closes the fit (q142) →
    //      score (q145) → EVALUATE arc (is the transition model good
    //      enough to drive the anomaly threshold?). Self-evaluation on
    //      the fit corpus is the honest label here (the train/test
    //      split verb is q99's). The argmax is a struct-MIN conditional
    //      aggregate ((-n, next) — count desc, name asc on ties), never
    //      a ranking window; correctness needs no float anywhere until
    //      the final exact-int division. 100 TB shape: one lag window
    //      (q32's user exchange), #types²-grain counts, the #types-row
    //      prediction table broadcast back onto the pair stream.
    "q159_transition_accuracy" -> Q(
      (s, d) => {
        val cnt = transitionCounts(s, d)
        // #types-row prediction table persists ONCE: it broadcasts onto
        // the pair stream twice (accuracy agg + name re-attach), and
        // each broadcast re-ran the corpus lag window before round 16
        val pred = cnt.groupBy(col("prev_type"))
          .agg(min(struct((-col("n")).as("nn"), col("event_type").as("p"))).as("m"))
          .select(col("prev_type"), col("m.p").as("pred_next"))
          .persistTracked
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").asc, col("event_id").asc)
        // the corpus-sized accuracy aggregate carries only LONG buffers
        // (count + conditional sum) so it stays in HashAggregate; a
        // first(pred_next) here pulls a STRING First buffer into the
        // corpus phase and the whole lag stream falls to SortAggregate.
        // pred_next is functionally determined by the key, so it
        // re-attaches via the same broadcast at #types grain instead.
        Tables(s, d, "events")
          .select(col("user_id"), col("event_type").as("nxt"),
            lag(col("event_type"), 1).over(w).as("prev_type"))
          .filter(col("prev_type").isNotNull)
          .join(broadcast(pred), Seq("prev_type"))
          .groupBy(col("prev_type"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("nxt") === col("pred_next"), 1L).otherwise(0L))
              .as("n_correct"))
          .join(broadcast(pred), Seq("prev_type"))
          .select(col("prev_type"), col("pred_next"), col("n"), col("n_correct"),
            (col("n_correct").cast("double") / col("n").cast("double"))
              .as("accuracy"))
      },
      Some("""WITH tr AS (SELECT user_id, event_type AS nxt,
             |    lag(event_type) OVER (PARTITION BY user_id
             |      ORDER BY ts, event_id) AS prev_type
             |  FROM events),
             |t2 AS (SELECT prev_type, nxt FROM tr WHERE prev_type IS NOT NULL),
             |cnt AS (SELECT prev_type, nxt, CAST(count(*) AS BIGINT) AS n
             |        FROM t2 GROUP BY 1, 2),
             |pred AS (SELECT prev_type, nxt AS pred_next FROM (
             |    SELECT *, row_number() OVER (PARTITION BY prev_type
             |      ORDER BY n DESC, nxt) AS rn FROM cnt) WHERE rn = 1)
             |SELECT t2.prev_type, p.pred_next, CAST(count(*) AS BIGINT) AS n,
             |  CAST(sum(CASE WHEN t2.nxt = p.pred_next THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  CAST(sum(CASE WHEN t2.nxt = p.pred_next THEN 1 ELSE 0 END)
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE) AS accuracy
             |FROM t2 JOIN pred p USING (prev_type)
             |GROUP BY 1, 2""".stripMargin)),

    // ---- A/B experiment analysis: users hash-split into
    //      [[AbVariants]] deterministic variants (the q99 md5-coin —
    //      no RNG), conversion = a big-ticket purchase
    //      (value ≥ [[AbConvValue]] — plain "ever purchased" is
    //      degenerate on the fixture: EVERY user purchases, pooled
    //      p = 1 and the z denominator hits √0, which is also why the
    //      guard row exists); per-variant rates plus the pooled
    //      two-proportion z statistic — the experimentation verb. The
    //      z tree is written identically in both engines over exact
    //      integer counts: every op (+,·,/,√) is correctly-rounded
    //      IEEE (the q137 sqrt precedent), so the fixed tree is
    //      bit-identical with no rounding fudge; the CASE guard pins
    //      z = 0 when either arm is empty or pooled p ∈ {0, 1}
    //      (ANSI Spark raises on the √0 division a silent engine
    //      would NaN through). 100 TB shape: one user-grain
    //      conversion aggregate (map-side combinable max), then
    //      #variants-grain everything; the z cross is a broadcast
    //      1-row pair.
    "q160_ab_test" -> Q(
      (s, d) => {
        val conv = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"))
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") >= AbConvValue, 1L).otherwise(0L))
            .as("converted"))
          .select(
            (hash60(col("user_id").cast("string")) % AbVariants).as("variant"),
            col("converted"))
        // #variants-grain counts persist ONCE: the z pair and the rate
        // rows both re-ran the user-grain conversion aggregate before
        // round 16 (duplicate-subtree lint finding)
        val byV = conv.groupBy(col("variant"))
          .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
          .persistTracked
        val z = byV
          .agg(sum(when(col("variant") === 0, col("n_users"))).as("n0"),
            sum(when(col("variant") === 0, col("n_conv"))).as("c0"),
            sum(when(col("variant") === 1, col("n_users"))).as("n1"),
            sum(when(col("variant") === 1, col("n_conv"))).as("c1"))
          .select(abZ.as("z"))
        byV.select(col("variant"), col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") / col("n_users").cast("double"))
              .as("conv_rate"))
          .crossJoin(broadcast(z))
      },
      Some(s"""WITH conv AS (SELECT user_id,
              |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= $AbConvValue
              |      THEN 1 ELSE 0 END) AS BIGINT) AS converted
              |  FROM events GROUP BY 1),
              |v AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)
              |        AS BIGINT) % $AbVariants AS variant, converted FROM conv),
              |byv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
              |    CAST(sum(converted) AS BIGINT) AS n_conv
              |  FROM v GROUP BY 1),
              |t AS (SELECT
              |    CAST(sum(CASE WHEN variant = 0 THEN n_users END) AS BIGINT) AS n0,
              |    CAST(sum(CASE WHEN variant = 0 THEN n_conv END) AS BIGINT) AS c0,
              |    CAST(sum(CASE WHEN variant = 1 THEN n_users END) AS BIGINT) AS n1,
              |    CAST(sum(CASE WHEN variant = 1 THEN n_conv END) AS BIGINT) AS c1
              |  FROM byv),
              |z AS (SELECT CASE WHEN coalesce(n0, 0) = 0 OR coalesce(n1, 0) = 0
              |      OR c0 + c1 = 0 OR c0 + c1 = n0 + n1 THEN CAST(0.0 AS DOUBLE)
              |    ELSE (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
              |      - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
              |      / sqrt((CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              |        * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
              |        * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE)))
              |    END AS z
              |  FROM t)
              |SELECT b.variant, b.n_users, b.n_conv,
              |  CAST(b.n_conv AS DOUBLE) / CAST(b.n_users AS DOUBLE) AS conv_rate, z.z
              |FROM byv b CROSS JOIN z""".stripMargin)),

    // ---- Wilson confidence intervals for the A/B conversion rates:
    //      q160 reports the pooled z; a real experiment readout also
    //      needs PER-ARM uncertainty, and the Wilson score interval is
    //      the one that stays inside [0,1] and behaves at small n or
    //      extreme rates where the naive Wald interval collapses.
    //      Derivation discipline: each arm's (n_users, n_conv) are
    //      exact BIGINTs from the same user-grain conversion collapse
    //      as q160 (ONE copy of the variant/conversion rule); lo/hi
    //      come from the shared WilsonDerived template — a fixed
    //      ÷/×/sqrt IEEE DAG with the z=1.96 literal parsed from the
    //      identical decimal text in both engines. 100 TB: user-grain
    //      max collapses map-side; everything after is #variants rows.
    "q215_wilson_interval" -> Q(
      (s, d) => {
        Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"))
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") >= AbConvValue, 1L).otherwise(0L))
            .as("converted"))
          .select(
            (hash60(col("user_id").cast("string")) % AbVariants).as("variant"),
            col("converted"))
          .groupBy(col("variant"))
          .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
          .selectExpr(Seq("variant", "n_users", "n_conv",
            "CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate")
            ++ WilsonDerived: _*)
      },
      Some(s"""WITH conv AS (SELECT user_id,
              |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= $AbConvValue
              |      THEN 1 ELSE 0 END) AS BIGINT) AS converted
              |  FROM events GROUP BY 1),
              |v AS (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)),1,15)
              |        AS BIGINT) % $AbVariants AS variant, converted FROM conv),
              |byv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_users,
              |    CAST(sum(converted) AS BIGINT) AS n_conv
              |  FROM v GROUP BY 1)
              |SELECT variant, n_users, n_conv,
              |  CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
              |  ${WilsonDerived.mkString(",\n              |  ")}
              |FROM byv""".stripMargin)),

    // ---- conversion lift per event type: for users HEAVILY exposed
    //      to each event type (≥ LiftExposure events of it — plain
    //      touched-at-all is degenerate on this fixture: every user
    //      touches every type, lift ≡ 1; the intensity threshold is
    //      probed to split ~25% of (user, type) pairs at ALL three
    //      sfs), their conversion rate against the global rate — the
    //      targeting/feature readout behind "which behaviors predict
    //      purchase" (q168/q171 attribute converted value; lift ranks
    //      the predictive exposure itself). Exactness: user-grain
    //      conversion collapse (ONE copy of the q160 rule) joined to
    //      the user's heavy-type set, so a user counts once per type;
    //      lift = (c_t·N)/(n_t·C) — exact BIGINT cross-products (sound
    //      to ~3·10⁹ users) under ONE IEEE division, no rate
    //      intermediate to round. 100 TB: both collapses are user- or
    //      (user, type)-grain map-side-combinable aggs; the global
    //      frame is a broadcast 1-row cross; output is #types rows.
    "q217_conversion_lift" -> Q(
      (s, d) => {
        // user-grain conversion flags persist ONCE: the per-type join
        // and the global frame both re-scanned events before round 16
        val conv = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"))
          .groupBy(col("user_id"))
          .agg(max(when(col("event_type") === "purchase" &&
              col("value") >= AbConvValue, 1L).otherwise(0L))
            .as("converted"))
          .persistTracked
        val exposed = Tables(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n_ev"))
          .filter(col("n_ev") >= LiftExposure)
          .select(col("user_id"), col("event_type"))
        val byT = exposed.join(conv, "user_id")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_users"), sum(col("converted")).as("n_conv"))
        val glob = conv.agg(count(lit(1)).as("n_all"),
          sum(col("converted")).as("c_all"))
        byT.crossJoin(broadcast(glob))
          .select(col("event_type"), col("n_users"), col("n_conv"),
            (col("n_conv").cast("double") / col("n_users").cast("double"))
              .as("conv_rate"),
            ((col("n_conv") * col("n_all")).cast("double")
              / (col("n_users") * col("c_all")).cast("double")).as("lift"))
      },
      Some(s"""WITH conv AS (SELECT user_id,
              |    CAST(max(CASE WHEN event_type = 'purchase' AND value >= $AbConvValue
              |      THEN 1 ELSE 0 END) AS BIGINT) AS converted
              |  FROM events GROUP BY 1),
              |exposed AS (SELECT user_id, event_type FROM events
              |  GROUP BY 1, 2 HAVING count(*) >= $LiftExposure),
              |byt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
              |    CAST(sum(converted) AS BIGINT) AS n_conv
              |  FROM exposed JOIN conv USING (user_id) GROUP BY 1),
              |overall AS (SELECT CAST(count(*) AS BIGINT) AS n_all,
              |    CAST(sum(converted) AS BIGINT) AS c_all FROM conv)
              |SELECT event_type, n_users, n_conv,
              |  CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE) AS conv_rate,
              |  CAST(n_conv * n_all AS DOUBLE)
              |    / CAST(n_users * c_all AS DOUBLE) AS lift
              |FROM byt CROSS JOIN overall""".stripMargin)),

    // ---- daily-volume anomaly: per-day event counts (q149's
    //      gap-filled spine, so a DEAD day scores as an anomaly
    //      instead of vanishing) z-scored against the trailing
    //      [[AnomWin]]-day window — the ops-monitoring verb (traffic
    //      drop/spike paging). Variance comes from exact DECIMAL(38,0)
    //      window sums (W·Σx² − (Σx)² — no float accumulation; BIGINT
    //      n² would overflow once daily counts pass ~3e9, DECIMAL is
    //      exact to ~2.7e18/day and ANSI-raises beyond — and rows are
    //      ∝ days here, so the wider arithmetic costs nothing),
    //      mean/std/z are fixed IEEE trees (√ correctly rounded, the
    //      q137/q160 rule), and std = 0 guards z to 0. Only days with
    //      a FULL trailing window emit (the warm-up rows have no
    //      defensible baseline). 100 TB shape: the day hash-agg is the
    //      one corpus-sized op; the trailing window runs at day grain
    //      (rows ∝ days — the q119 grain-bounded-global-window class).
    "q161_daily_anomaly" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, d, "events")
          .select(expr("CAST(ts AS DATE)").as("day"))
        // day-grain counts persist ONCE; spine bounds derive from the
        // rollup (q149's rule) — one corpus scan total
        val daily = ev.groupBy(col("day")).agg(count(lit(1)).as("n"))
          .persistTracked
        val spine = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
          .select(explode(expr("sequence(d0, d1, interval 1 day)")).as("day"))
        val filled = spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n"))
        val w = Window.orderBy(col("day")).rowsBetween(-AnomWin, -1)
        filled
          .select(col("day"), col("n"),
            count(lit(1)).over(w).as("wn"),
            sum(col("n").cast("decimal(20,0)")).over(w).as("s"),
            sum((col("n").cast("decimal(20,0)") * col("n")).cast("decimal(38,0)"))
              .over(w).as("ss"))
          .filter(col("wn") === AnomWin)
          .select(col("day"), col("n"),
            expr(s"CAST(s AS DOUBLE) / $AnomWin.0").as("mean"),
            expr(s"sqrt(CAST($AnomWin * ss - s * s AS DOUBLE) " +
              s"/ ${AnomWin * AnomWin}.0)").as("std"))
          .select(col("day"), col("n"), col("mean"), col("std"),
            expr("CASE WHEN std = 0.0 THEN CAST(0.0 AS DOUBLE) " +
              "ELSE (CAST(n AS DOUBLE) - mean) / std END").as("z"))
          .withColumn("is_anomalous", abs(col("z")) >= AnomZ)
      },
      Some(s"""WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
              |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n
              |          FROM ev GROUP BY 1),
              |spine AS (SELECT unnest(generate_series(
              |    (SELECT min(day) FROM ev), (SELECT max(day) FROM ev),
              |    INTERVAL 1 DAY))::DATE AS day),
              |filled AS (SELECT s.day, CAST(coalesce(d.n, 0) AS BIGINT) AS n
              |           FROM spine s LEFT JOIN daily d USING (day)),
              |win AS (SELECT day, n,
              |    CAST(count(*) OVER w AS BIGINT) AS wn,
              |    CAST(sum(CAST(n AS DECIMAL(20,0))) OVER w AS DECIMAL(38,0)) AS s,
              |    CAST(sum(CAST(CAST(n AS DECIMAL(20,0)) * n AS DECIMAL(38,0)))
              |      OVER w AS DECIMAL(38,0)) AS ss
              |  FROM filled
              |  WINDOW w AS (ORDER BY day ROWS BETWEEN $AnomWin PRECEDING
              |    AND 1 PRECEDING)),
              |st AS (SELECT day, n,
              |    CAST(s AS DOUBLE) / $AnomWin.0 AS mean,
              |    sqrt(CAST($AnomWin * ss - s * s AS DOUBLE)
              |      / ${AnomWin * AnomWin}.0) AS std
              |  FROM win WHERE wn = $AnomWin),
              |z AS (SELECT day, n, mean, std,
              |    CASE WHEN std = 0.0 THEN CAST(0.0 AS DOUBLE)
              |         ELSE (CAST(n AS DOUBLE) - mean) / std END AS z
              |  FROM st)
              |SELECT day, n, mean, std, z, abs(z) >= $AnomZ AS is_anomalous
              |FROM z""".stripMargin)),

    // ---- rolling active users: per day, DAU, trailing-7-day WAU, and
    //      stickiness = DAU/WAU — THE engagement topline. Rolling
    //      DISTINCT does not compose from daily distincts (union ≠
    //      sum), so each day-grain (day, user) activity row is
    //      exploded onto the ≤7 future spine days it keeps the user
    //      active for, and WAU is a plain distinct count at day grain
    //      — exact, no approximation. 100 TB shape: the day-grain
    //      (day, user) distinct FIRST collapses the corpus (events per
    //      user-day amortize to one row), the ×7 explode then grows
    //      that reduced table linearly with a constant, and both
    //      distinct aggregates are ordinary hash shuffles. Emitted for
    //      days with activity (the q149 spine fills dead days; a dead
    //      day's DAU = 0 makes stickiness 0/wau — join the spine
    //      first in that variant).
    "q162_active_users" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(expr("CAST(ts AS DATE)").as("day"), col("user_id"))
        // (day, user)-grain distinct persists ONCE: the DAU count and
        // the 7-day explode both re-ran the corpus distinct before
        // round 16 (q227's rule; the aggregate lint can't see this pair
        // because the explode changes the child)
        val du = ev.distinct()
          .persistTracked
        val dau = du.groupBy(col("day"))
          .agg(count(lit(1)).as("dau")) // already distinct at (day, user)
        val wau = du
          .select(explode(expr(
            "sequence(day, date_add(day, 6), interval 1 day)")).as("day"),
            col("user_id"))
          .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
        dau.join(wau, Seq("day"))
          .select(col("day"), col("dau"), col("wau"),
            (col("dau").cast("double") / col("wau").cast("double"))
              .as("stickiness"))
      },
      Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
             |du AS (SELECT DISTINCT day, user_id FROM ev),
             |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
             |        FROM du GROUP BY 1),
             |cov AS (SELECT CAST(day + k * INTERVAL 1 DAY AS DATE) AS day,
             |          user_id FROM du,
             |        LATERAL (SELECT unnest(generate_series(0, 6)) AS k) l),
             |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
             |        FROM cov GROUP BY 1)
             |SELECT d.day, d.dau, w.wau,
             |  CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE) AS stickiness
             |FROM dau d JOIN wau w USING (day)""".stripMargin)),

    // ---- rolling actives, sketch-served — q162's 100 TB scale form
    //      (the q177/q182 exact-vs-sketch idiom): one mergeable
    //      datasketches HLL per day (hll_sketch_agg, lgK 14 → ~0.8%
    //      rsd), the trailing-7-day WAU as an hll_union_agg over a
    //      calendar RANGE frame (epoch-day ordered — a ROWS frame
    //      would silently union the last 7 PRESENT days across a gap),
    //      verified inside a 5% band of q162's exact explode-onto-
    //      spine count. The band compare is pure integers
    //      (|est − exact|·20 ≤ exact — hll_sketch_estimate returns
    //      BIGINT), and the oracle pins hll_ok TRUE so a degenerate
    //      sketch flips the row red; the estimate itself is
    //      deliberately NOT an output column (DuckDB cannot replay
    //      datasketches). 100 TB: the exact leg's ×7 explode + global
    //      distinct is the fixture-scale verification bracket; the
    //      serving path is day-grain sketches (corpus collapses in ONE
    //      (day, user) distinct, sketches merge map-side) unioned at
    //      ≤#days grain — the window is day-grain, value-domain
    //      bounded.
    "q227_wau_hll" -> Q(
      (s, d) => {
        // (day, user)-grain distinct persists ONCE: the exact explode
        // leg and the sketch leg both re-ran the corpus distinct before
        // round 16 (duplicate-subtree lint finding)
        val du = Tables(s, d, "events")
          .select(expr("CAST(ts AS DATE)").as("day"), col("user_id"))
          .distinct()
          .persistTracked
        val wauExact = du
          .select(explode(expr(
            "sequence(day, date_add(day, 6), interval 1 day)")).as("day"),
            col("user_id"))
          .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau_exact"))
        import org.apache.spark.sql.expressions.Window
        val w = Window
          .orderBy(col("day_n"))
          .rangeBetween(-6, 0)
        val unioned = du.groupBy(col("day"))
          .agg(call_function("hll_sketch_agg",
            col("user_id").cast("string"), lit(14)).as("sk"))
          .withColumn("day_n",
            datediff(col("day"), lit("1970-01-01").cast("date")))
          .withColumn("est", call_function("hll_sketch_estimate",
            call_function("hll_union_agg", col("sk"), lit(true)).over(w)))
        unioned.select(col("day"), col("est"))
          .join(wauExact, Seq("day"))
          .select(col("day"), col("wau_exact"),
            (abs(col("est") - col("wau_exact")) * lit(20L) <= col("wau_exact"))
              .as("hll_ok"))
      },
      Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, user_id FROM events),
             |du AS (SELECT DISTINCT day, user_id FROM ev),
             |cov AS (SELECT CAST(day + k * INTERVAL 1 DAY AS DATE) AS day,
             |          user_id FROM du,
             |        LATERAL (SELECT unnest(generate_series(0, 6)) AS k) l),
             |wau AS (SELECT day, CAST(count(DISTINCT user_id) AS BIGINT)
             |          AS wau_exact FROM cov GROUP BY 1)
             |SELECT d.day, w.wau_exact, TRUE AS hll_ok
             |FROM (SELECT DISTINCT day FROM du) d
             |JOIN wau w USING (day)""".stripMargin)),

    // ---- activity concentration (Gini): how unequally event volume
    //      spreads over users, per event type and overall — the "is one
    //      crawler/bot generating half the feed" read behind sampling
    //      weights and abuse triage. Declined in round 9 as a scale
    //      hazard ("needs a global sorted cumulative"); THIS formulation
    //      is exact AND scale-safe: activities are integer counts, so
    //      users collapse to a COUNT-OF-COUNTS table (distinct activity
    //      level → multiplicity) and the sorted cumulative runs at that
    //      grain — rows ∝ distinct levels (≤ max per-user count), never
    //      users. Σ rank·x over a tie group is closed-form
    //      (c·(k·R_prev + k(k+1)/2) — tie order cannot matter since x is
    //      equal), every sum is exact DECIMAL(38,0) (order-free), and
    //      gini = 2S/(nT) − (n+1)/n is one fixed IEEE tree over exact
    //      integers, identical cross-engine. 100 TB shape: one
    //      (user, type) corpus hash-agg; everything after runs at
    //      count-of-counts grain; the cumulative window partitions by
    //      event_type (the q108/q119 grain-bounded class).
    "q166_activity_gini" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // (user, type)-grain counts persist ONCE: the per-type rows and
        // the __all__ re-aggregate both re-scanned events before round
        // 16 (widened duplicate-aggregate lint finding)
        val ut = Tables(s, d, "events")
          .groupBy(col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .persistTracked
        val act = ut.unionByName(
          ut.groupBy(col("user_id")).agg(sum(col("n")).as("n"))
            .select(col("user_id"), lit("__all__").as("event_type"), col("n")))
        val cc = act.groupBy(col("event_type"), col("n"))
          .agg(count(lit(1)).as("k"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("n").asc)
        val cum = cc.withColumn("rprev", sum(col("k")).over(w) - col("k"))
        cum.groupBy(col("event_type"))
          .agg(sum(col("k")).as("n_users"),
            sum((col("n") * col("k")).cast("decimal(38,0)")).as("t"),
            sum(expr("CAST(n AS DECIMAL(38,0)) * (CAST(k AS DECIMAL(38,0))" +
              " * CAST(rprev AS DECIMAL(38,0))" +
              " + CAST((k * (k + 1)) div 2 AS DECIMAL(38,0)))")).as("s"))
          .select(col("event_type"), col("n_users"),
            col("t").cast("bigint").as("total_events"),
            expr("2.0 * CAST(s AS DOUBLE) / (CAST(n_users AS DOUBLE)" +
              " * CAST(t AS DOUBLE))" +
              " - (CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE)")
              .as("gini"))
      },
      Some("""WITH ut AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |act AS (SELECT user_id, event_type, n FROM ut
             |  UNION ALL SELECT user_id, '__all__', CAST(sum(n) AS BIGINT)
             |  FROM ut GROUP BY user_id),
             |cc AS (SELECT event_type, n, CAST(count(*) AS BIGINT) AS k
             |  FROM act GROUP BY 1, 2),
             |cum AS (SELECT event_type, n, k,
             |    CAST(sum(k) OVER (PARTITION BY event_type ORDER BY n)
             |      - k AS BIGINT) AS rprev
             |  FROM cc),
             |g AS (SELECT event_type, CAST(sum(k) AS BIGINT) AS n_users,
             |    CAST(sum(CAST(n * k AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS t,
             |    CAST(sum(CAST(n AS DECIMAL(38,0)) * (CAST(k AS DECIMAL(38,0))
             |      * CAST(rprev AS DECIMAL(38,0))
             |      + CAST((k * (k + 1)) // 2 AS DECIMAL(38,0)))) AS DECIMAL(38,0)) AS s
             |  FROM cum GROUP BY event_type)
             |SELECT event_type, n_users, CAST(t AS BIGINT) AS total_events,
             |  2.0 * CAST(s AS DOUBLE) / (CAST(n_users AS DOUBLE)
             |    * CAST(t AS DOUBLE))
             |  - (CAST(n_users AS DOUBLE) + 1.0) / CAST(n_users AS DOUBLE) AS gini
             |FROM g""".stripMargin)),

    // ---- Tukey-IQR activity outliers: user-days whose event count
    //      falls outside [q1 − 1.5·IQR, q3 + 1.5·IQR] — the classic
    //      box-plot outlier flag (burst bots, stuck clients) q161's
    //      day-grain pager can't see because it aggregates users away.
    //      Declined in round 9 over the exact-quantile sort hazard;
    //      scale-safe here for the q166 reason: counts are integers, so
    //      the quartiles are order statistics read off the count-of-
    //      counts cumulative — q1/q3 = min level whose cumulative rank
    //      reaches ⌈N/4⌉ / ⌈3N/4⌉ (type-1 inverse CDF, integer
    //      arithmetic both engines share). Fences compare in DOUBLED
    //      integers (2n vs 2q1 − 3·IQR) so the 1.5× never touches
    //      floats. 100 TB shape: one (user, day) corpus hash-agg, a
    //      cumulative window at distinct-count grain, a broadcast 1-row
    //      fence cross; output ∝ outliers.
    "q167_activity_outliers" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // user-day counts persist ONCE: the count-of-counts leg and the
        // fence cross both re-ran the corpus aggregate before round 16
        val ud = Tables(s, d, "events")
          .groupBy(col("user_id"), expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("n"))
          .persistTracked
        val cc = ud.groupBy(col("n")).agg(count(lit(1)).as("k"))
        val cum = cc.withColumn("rcum",
          sum(col("k")).over(Window.orderBy(col("n").asc)))
        val qs = cum
          .crossJoin(broadcast(cum.agg(sum(col("k")).as("nn"))))
          .agg(min(when(col("rcum") >= expr("(nn + 3) div 4"), col("n"))).as("q1"),
            min(when(col("rcum") >= expr("(3 * nn + 3) div 4"), col("n"))).as("q3"))
        ud.crossJoin(broadcast(qs))
          .filter(expr("2 * n < 2 * q1 - 3 * (q3 - q1)" +
            " OR 2 * n > 2 * q3 + 3 * (q3 - q1)"))
          .select(col("user_id"), col("day"), col("n"), col("q1"), col("q3"),
            when(expr("2 * n > 2 * q3 + 3 * (q3 - q1)"), lit("high"))
              .otherwise(lit("low")).as("side"))
      },
      Some("""WITH ud AS (SELECT user_id, CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1, 2),
             |cc AS (SELECT n, CAST(count(*) AS BIGINT) AS k FROM ud GROUP BY n),
             |cum AS (SELECT n, CAST(sum(k) OVER (ORDER BY n) AS BIGINT) AS rcum
             |  FROM cc),
             |tot AS (SELECT CAST(sum(k) AS BIGINT) AS nn FROM cc),
             |qs AS (SELECT
             |    CAST(min(CASE WHEN rcum >= (nn + 3) // 4 THEN n END) AS BIGINT) AS q1,
             |    CAST(min(CASE WHEN rcum >= (3 * nn + 3) // 4 THEN n END) AS BIGINT) AS q3
             |  FROM cum CROSS JOIN tot)
             |SELECT user_id, day, n, q1, q3,
             |  CASE WHEN 2 * n > 2 * q3 + 3 * (q3 - q1) THEN 'high'
             |       ELSE 'low' END AS side
             |FROM ud CROSS JOIN qs
             |WHERE 2 * n < 2 * q1 - 3 * (q3 - q1)
             |   OR 2 * n > 2 * q3 + 3 * (q3 - q1)""".stripMargin)),

    // ---- last-touch conversion attribution: every purchase is credited
    //      to the user's most recent prior click/view inside a 24 h
    //      lookback ('none' = direct/organic) — the marketing-mix read
    //      q146's funnel (which only counts step completion) doesn't
    //      give. The IGNORE-NULLS last() pair over the UNBOUNDED..-1
    //      frame picks the same touch row for type and time because
    //      both CASEs share one null predicate. 100 TB shape: ONE
    //      user_id-partitioned window (q32's sessionization exchange,
    //      state ∝ one user's events), then a ≤ #touch-types+1-grain
    //      aggregate; share rides the broadcast 1-row total cross.
    //      revenue = round(sum, 4): the one order-sensitive float
    //      aggregate, tolerance-rounded in both engines (q30 idiom).
    "q168_conversion_attribution" -> Q(
      (s, d) => {
        val attr = attributedPurchases(Tables(s, d, "events"))
          .groupBy(col("touch_type"))
          .agg(count(lit(1)).as("n_purchases"),
            round(sum(col("value")), 4).as("revenue"))
        val tot = attr.agg(sum(col("n_purchases")).as("total"))
        attr.crossJoin(broadcast(tot))
          .select(col("touch_type"), col("n_purchases"), col("revenue"),
            (col("n_purchases").cast("double") / col("total").cast("double"))
              .as("share"))
      },
      Some(s"""WITH t AS (
              |  SELECT event_type, value, epoch_us(ts) AS us,
              |    last_value(CASE WHEN event_type IN ('click','view')
              |      THEN event_type END IGNORE NULLS) OVER w AS t_ty,
              |    last_value(CASE WHEN event_type IN ('click','view')
              |      THEN epoch_us(ts) END IGNORE NULLS) OVER w AS t_us
              |  FROM events
              |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
              |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
              |a AS (
              |  SELECT CASE WHEN t_us IS NOT NULL AND us - t_us <= ${AttrWindowUs}
              |      THEN t_ty ELSE 'none' END AS touch_type, value
              |  FROM t WHERE event_type = 'purchase'),
              |g AS (SELECT touch_type, CAST(count(*) AS BIGINT) AS n_purchases,
              |    round(sum(value), 4) AS revenue FROM a GROUP BY 1),
              |tot AS (SELECT CAST(sum(n_purchases) AS BIGINT) AS total FROM g)
              |SELECT touch_type, n_purchases, revenue,
              |  CAST(n_purchases AS DOUBLE) / CAST(total AS DOUBLE) AS share
              |FROM g CROSS JOIN tot""".stripMargin)),

    // ---- conversion-lag histogram: time from a user's FIRST signup to
    //      their first purchase at-or-after it, in q156's integer-log2-µs
    //      buckets — the funnel LATENCY distribution (q146 counts who
    //      converts, this says how long conversion takes; the bucket
    //      tail is the slow-cohort/abandonment read). All latencies are
    //      exact BIGINT µs differences; no float touches the bucketing.
    //      100 TB shape: two user-grain min-ts hash-aggs chained by one
    //      user-grain join (q146's shape), a ≤64-bucket re-aggregate,
    //      share via the broadcast 1-row total.
    "q169_conversion_lag" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
        val su = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("us")).as("su_us"))
        val lat = ev.filter(col("event_type") === "purchase")
          .join(su, "user_id").filter(col("us") >= col("su_us"))
          .groupBy(col("user_id"), col("su_us")).agg(min(col("us")).as("pu_us"))
          .select((col("pu_us") - col("su_us")).as("lat_us"))
        // ≤64-bucket histogram persists ONCE: the total and the share
        // cross both re-ran the signup⋈purchase chain before round 16
        val h = lat
          .groupBy(expr("CAST(length(bin(lat_us + 1)) AS INT)").as("bucket_bits"))
          .agg(count(lit(1)).as("n_users"), min(col("lat_us")).as("min_lat_us"),
            max(col("lat_us")).as("max_lat_us"))
          .persistTracked
        val tot = h.agg(sum(col("n_users")).as("total"))
        h.crossJoin(broadcast(tot))
          .select(col("bucket_bits"), col("n_users"), col("min_lat_us"),
            col("max_lat_us"),
            (col("n_users").cast("double") / col("total").cast("double"))
              .as("share"))
      },
      Some("""WITH su AS (SELECT user_id, min(epoch_us(ts)) AS su_us FROM events
             |  WHERE event_type = 'signup' GROUP BY 1),
             |pu AS (SELECT e.user_id, su.su_us, min(epoch_us(e.ts)) AS pu_us
             |  FROM events e JOIN su ON su.user_id = e.user_id
             |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= su.su_us
             |  GROUP BY 1, 2),
             |l AS (SELECT pu_us - su_us AS lat_us FROM pu),
             |h AS (SELECT CAST(length(bin(CAST(lat_us + 1 AS BIGINT))) AS INT)
             |      AS bucket_bits,
             |    CAST(count(*) AS BIGINT) AS n_users,
             |    CAST(min(lat_us) AS BIGINT) AS min_lat_us,
             |    CAST(max(lat_us) AS BIGINT) AS max_lat_us
             |  FROM l GROUP BY 1),
             |tot AS (SELECT CAST(sum(n_users) AS BIGINT) AS total FROM h)
             |SELECT bucket_bits, n_users, min_lat_us, max_lat_us,
             |  CAST(n_users AS DOUBLE) / CAST(total AS DOUBLE) AS share
             |FROM h CROSS JOIN tot""".stripMargin)),

    // ---- LINEAR (multi-touch) attribution: q168's last-touch rule
    //      credits the single most recent touch; here every touch
    //      inside the 24 h lookback splits the purchase value equally
    //      (value / n_touches) — the other standard marketing model,
    //      and the one that surfaces assist touches last-touch hides.
    //      A purchase with NO in-window touch lands in 'none' — the
    //      same predicate as q168's none arm (if the most recent touch
    //      is outside the window, all are). 100 TB shape: the
    //      purchase×touch pair join is user-grain equi (q38's
    //      range-join class — the range predicate rides the user_id
    //      equijoin as a filter; fan-out per purchase is bounded by
    //      one user's touches inside 24 h); the per-purchase count is
    //      a p_id-partitioned window over that bounded pair set; the
    //      final grain is ≤ #touch-types+1. Credit division is one
    //      double/BIGINT tree in both engines; the credited sums are
    //      round(·,4) order-insensitive-by-tolerance (q30 idiom).
    "q171_linear_attribution" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        val pur = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us").as("p_us"),
            col("event_id").as("p_id"), col("value"))
        val tou = ev.filter(col("event_type").isin(AttrTouch: _*))
          .select(col("user_id"), col("event_type").as("t_ty"),
            col("us").as("t_us"), col("event_id").as("t_id"))
        val pairs = pur.join(tou, Seq("user_id"))
          .filter((col("t_us") < col("p_us") ||
            (col("t_us") === col("p_us") && col("t_id") < col("p_id"))) &&
            col("p_us") - col("t_us") <= AttrWindowUs)
        val credited = pairs
          .withColumn("n_t", count(lit(1)).over(Window.partitionBy(col("p_id"))))
          .groupBy(col("t_ty"))
          .agg(count(lit(1)).as("n_credits"),
            round(sum(col("value") / col("n_t")), 4).as("revenue"))
          .select(col("t_ty").as("touch_type"), col("n_credits"), col("revenue"))
        val none = pur
          .join(pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
          .agg(count(lit(1)).as("n_credits"),
            round(sum(col("value")), 4).as("revenue"))
          .select(lit("none").as("touch_type"), col("n_credits"), col("revenue"))
        credited.unionByName(none)
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type, value, epoch_us(ts) AS us,
              |    event_id FROM events),
              |pur AS (SELECT user_id, us AS p_us, event_id AS p_id, value
              |  FROM ev WHERE event_type = 'purchase'),
              |tou AS (SELECT user_id, event_type AS t_ty, us AS t_us,
              |    event_id AS t_id FROM ev WHERE event_type IN ('click','view')),
              |pairs AS (SELECT p.p_id, p.value, t.t_ty
              |  FROM pur p JOIN tou t ON t.user_id = p.user_id
              |  AND (t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_id < p.p_id))
              |  AND p.p_us - t.t_us <= ${AttrWindowUs}),
              |cnt AS (SELECT p_id, CAST(count(*) AS BIGINT) AS n_t
              |  FROM pairs GROUP BY 1),
              |cr AS (SELECT t_ty AS touch_type, CAST(count(*) AS BIGINT)
              |      AS n_credits,
              |    round(sum(value / n_t), 4) AS revenue
              |  FROM pairs JOIN cnt USING (p_id) GROUP BY 1),
              |no AS (SELECT 'none' AS touch_type, CAST(count(*) AS BIGINT)
              |      AS n_credits,
              |    round(sum(value), 4) AS revenue
              |  FROM pur WHERE p_id NOT IN (SELECT p_id FROM pairs))
              |SELECT * FROM cr UNION ALL SELECT * FROM no""".stripMargin)),

    // ---- q171 with the HOT-USER CAP shipped (round-11 verdict #6):
    //      only the AttrTouchCap most recent in-window touches share a
    //      purchase's credit, by (t_us DESC, t_id DESC) recency. The
    //      pair set still forms through the user-grain equi-join, but a
    //      graft_topk bounded heap collapses each partition's per-
    //      purchase candidates to ≤ cap rows BEFORE the p_id shuffle —
    //      so shuffled volume is ≤ cap·#purchases no matter how dense a
    //      bot user's touches are, where q171's count-window shuffles
    //      every pair. The heap needs one orderable id: recency encodes
    //      as (t_us, -(t_id·4 + type)) so score ties pick the LARGEST
    //      t_id (graft_topk keeps the smallest id), and the touch type
    //      rides the low bits instead of a decode join. 'none' arm ==
    //      q171's (a cap ≥ 1 never empties a credited purchase).
    "q171b_capped_attribution" -> Q(
      (s, d) => {
        val ev = Tables(s, d, "events")
          .select(col("user_id"), col("event_type"), col("value"),
            unix_micros(col("ts")).as("us"), col("event_id"))
        val pur = ev.filter(col("event_type") === "purchase")
          .select(col("user_id"), col("us").as("p_us"),
            col("event_id").as("p_id"), col("value"))
        val tou = ev.filter(col("event_type").isin(AttrTouch: _*))
          .select(col("user_id"), col("event_type").as("t_ty"),
            col("us").as("t_us"), col("event_id").as("t_id"))
        val pairs = pur.join(tou, Seq("user_id"))
          .filter((col("t_us") < col("p_us") ||
            (col("t_us") === col("p_us") && col("t_id") < col("p_id"))) &&
            col("p_us") - col("t_us") <= AttrWindowUs)
        val enc = col("t_id") * 4 +
          when(col("t_ty") === AttrTouch.head, 0L).otherwise(1L)
        val kept = pairs
          .groupBy(col("p_id"))
          .agg(call_function("graft_topk", col("t_us").cast("double"),
            (-enc).as("nid"), lit(AttrTouchCap)).as("top"),
            first(col("value")).as("value"))
          .select(col("p_id"), col("value"),
            size(col("top")).cast("long").as("n_t"),
            explode(col("top.id")).as("nid"))
          .select(col("p_id"), col("value"), col("n_t"),
            when(pmod(-col("nid"), lit(4)) === 0, AttrTouch.head)
              .otherwise(AttrTouch(1)).as("t_ty"))
        val credited = kept
          .groupBy(col("t_ty"))
          .agg(count(lit(1)).as("n_credits"),
            round(sum(col("value") / col("n_t")), 4).as("revenue"))
          .select(col("t_ty").as("touch_type"), col("n_credits"), col("revenue"))
        val none = pur
          .join(pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
          .agg(count(lit(1)).as("n_credits"),
            round(sum(col("value")), 4).as("revenue"))
          .select(lit("none").as("touch_type"), col("n_credits"), col("revenue"))
        credited.unionByName(none)
      },
      Some(s"""WITH ev AS (SELECT user_id, event_type, value, epoch_us(ts) AS us,
              |    event_id FROM events),
              |pur AS (SELECT user_id, us AS p_us, event_id AS p_id, value
              |  FROM ev WHERE event_type = 'purchase'),
              |tou AS (SELECT user_id, event_type AS t_ty, us AS t_us,
              |    event_id AS t_id FROM ev WHERE event_type IN ('click','view')),
              |pairs AS (SELECT p.p_id, p.value, t.t_ty, t.t_us, t.t_id
              |  FROM pur p JOIN tou t ON t.user_id = p.user_id
              |  AND (t.t_us < p.p_us OR (t.t_us = p.p_us AND t.t_id < p.p_id))
              |  AND p.p_us - t.t_us <= ${AttrWindowUs}),
              |kept AS (SELECT p_id, value, t_ty FROM (
              |  SELECT *, row_number() OVER (PARTITION BY p_id
              |    ORDER BY t_us DESC, t_id DESC) AS rk FROM pairs)
              |  WHERE rk <= $AttrTouchCap),
              |cnt AS (SELECT p_id, CAST(count(*) AS BIGINT) AS n_t
              |  FROM kept GROUP BY 1),
              |cr AS (SELECT t_ty AS touch_type, CAST(count(*) AS BIGINT)
              |      AS n_credits,
              |    round(sum(value / n_t), 4) AS revenue
              |  FROM kept JOIN cnt USING (p_id) GROUP BY 1),
              |no AS (SELECT 'none' AS touch_type, CAST(count(*) AS BIGINT)
              |      AS n_credits,
              |    round(sum(value), 4) AS revenue
              |  FROM pur WHERE p_id NOT IN (SELECT p_id FROM pairs))
              |SELECT * FROM cr UNION ALL SELECT * FROM no""".stripMargin)),

    // ---- fixed-point EWMA daily baseline: exponentially-smoothed
    //      daily event volume (α = 1/4) with per-day residuals — the
    //      adaptive-baseline sibling of q161's trailing-window z (a
    //      slow drift moves the EWMA with it; q161's fixed window
    //      pages). Sequential recurrences are the classic cross-engine
    //      trap: float EWMA diverges in the last ulp and Spark `div`
    //      truncates where DuckDB `//` floors — so the state is 2^20
    //      fixed point and the α step is an ARITHMETIC SHIFT
    //      (s += (n·2^20 − s) >> 2), which floors identically in both
    //      engines for negative residuals. Spark runs the fold as one
    //      `aggregate` HOF over the day array, DuckDB as a recursive
    //      CTE over the day index — bit-identical by construction.
    //      100 TB shape: the ONE corpus-sized op is the day hash-agg;
    //      the fold runs at day grain (rows ∝ days, q161's
    //      grain-bounded class) and the output explode restores
    //      day-grain rows.
    "q174_ewma_baseline" -> Q(
      (s, d) => {
        // The fold carries ONE copy of the recurrence (the 'prev' CASE)
        // and appends only the residual; the per-day EWMA is recovered
        // after the explode from the exact BIGINT identity
        //   ewma = prev_new = prev_old + (resid >> 2)
        //        = (n<<20 - resid) + (resid >> 2)
        // (first day: resid pinned 0, so ewma = n<<20). Duplicating the
        // CASE tree for a second 'ewma_fp' field invited drift between
        // the two copies (round-11 advice).
        val fold =
          """aggregate(
            |  ds,
            |  named_struct('prev', CAST(-1 AS BIGINT),
            |    'out', CAST(array() AS
            |      ARRAY<STRUCT<day: DATE, n: BIGINT, resid_fp: BIGINT>>)),
            |  (acc, x) -> named_struct(
            |    'prev', CASE WHEN acc.prev = -1 THEN shiftleft(x.n, 20)
            |      ELSE acc.prev + shiftright(shiftleft(x.n, 20) - acc.prev, 2) END,
            |    'out', array_append(acc.out, named_struct(
            |      'day', x.day, 'n', x.n,
            |      'resid_fp', CASE WHEN acc.prev = -1 THEN CAST(0 AS BIGINT)
            |        ELSE shiftleft(x.n, 20) - acc.prev END))),
            |  acc -> acc.out)""".stripMargin.replace("\n", " ")
        Tables(s, d, "events")
          .groupBy(expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("n"))
          .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"))
          .select(explode(expr(fold)).as("r"))
          .select(col("r.day").as("day"), col("r.n").as("n"),
            (shiftleft(col("r.n"), 20) - col("r.resid_fp") +
              shiftright(col("r.resid_fp"), 2)).as("ewma_fp"),
            col("r.resid_fp").as("resid_fp"))
      },
      Some("""WITH RECURSIVE d AS (SELECT CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |idx AS (SELECT day, n,
             |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i FROM d),
             |rec AS (
             |  SELECT i, day, n, n << 20 AS ewma_fp, CAST(0 AS BIGINT) AS resid_fp
             |  FROM idx WHERE i = 1
             |  UNION ALL
             |  SELECT x.i, x.day, x.n,
             |    r.ewma_fp + (((x.n << 20) - r.ewma_fp) >> 2),
             |    (x.n << 20) - r.ewma_fp
             |  FROM rec r JOIN idx x ON x.i = r.i + 1)
             |SELECT day, n, ewma_fp, resid_fp FROM rec""".stripMargin)),

    // ---- weekday seasonality profile — q174's multiplicative sibling:
    //      per weekday, the ratio of that weekday's average daily volume
    //      to the overall average (the seasonal index a volume pager
    //      divides out before thresholding, so "every Sunday is quiet"
    //      stops paging). Weekday derives from the EPOCH DAY NUMBER
    //      mod 7 (day 0 = 1970-01-01, a Thursday) — both engines
    //      compute it as integer date arithmetic, where the engines'
    //      native dayofweek() functions disagree on week start.
    //      Parity: counts and day tallies are exact BIGINTs; the index
    //      is ONE fixed tree of correctly-rounded IEEE ops over them
    //      (the q160 z precedent) — CAST(sum_w·days_all AS DOUBLE) /
    //      CAST(days_w·sum_all AS DOUBLE); the BIGINT products stay
    //      exact far past 100 TB row counts (~1e16 « 2^63). 100 TB
    //      shape: ONE corpus-sized day hash-agg (q174's), then all math
    //      at ≤7-row grain with broadcast 1-row totals.
    "q175_weekday_profile" -> Q(
      (s, d) => {
        // day-grain counts persist ONCE: the weekday rollup and the
        // totals frame both re-scanned events before round 16 (widened
        // duplicate-aggregate lint finding)
        val days = Tables(s, d, "events")
          .groupBy(expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("n"))
          .select(expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)")
            .as("dow"), col("n"))
          .persistTracked
        val byDow = days.groupBy(col("dow"))
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
        val tot = days.agg(count(lit(1)).as("t_days"),
          sum(col("n")).as("t_events"))
        byDow.crossJoin(broadcast(tot))
          .select(col("dow"), col("n_days"), col("n_events"),
            (col("n_events").cast("double") / col("n_days").cast("double"))
              .as("day_avg"),
            (expr("CAST(n_events * t_days AS DOUBLE)") /
              expr("CAST(n_days * t_events AS DOUBLE)")).as("season_idx"))
      },
      Some("""WITH days AS (SELECT CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |dw AS (SELECT CAST((day - DATE '1970-01-01') % 7 AS INT) AS dow,
             |    n FROM days),
             |bydow AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(n) AS BIGINT) AS n_events FROM dw GROUP BY 1),
             |tot AS (SELECT CAST(count(*) AS BIGINT) AS t_days,
             |    CAST(sum(n) AS BIGINT) AS t_events FROM dw)
             |SELECT dow, n_days, n_events,
             |  CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) AS day_avg,
             |  CAST(n_events * t_days AS DOUBLE) /
             |    CAST(n_days * t_events AS DOUBLE) AS season_idx
             |FROM bydow CROSS JOIN tot""".stripMargin)),

    // ---- weekday-ADJUSTED volume anomaly — the q175 index applied:
    //      flag days whose count deviates more than mean/AnomalyDenom
    //      from their own WEEKDAY's mean, so a quiet Sunday stops paging
    //      and a loud Sunday still does (q161's trailing z pages on
    //      both). The deviation test is EXACT integer arithmetic —
    //      AnomalyDenom·|n·days_w − events_w| > events_w ⇔
    //      |n − mean_w| > mean_w/AnomalyDenom — so no float threshold
    //      can drift cross-engine; day_avg is the single division
    //      emitted for the reader. AnomalyDenom = 32 (±3.1%) because
    //      the synthetic fixture's daily volumes are near-uniform (max
    //      weekday-relative deviation 8.5% at sf0.01 / 4.6% at sf0.1 —
    //      a production pager runs 2-4, i.e. ±50%-±25%); 32 flags days
    //      at BOTH test scales so the filter arm is oracle-exercised.
    //      100 TB shape: one corpus-sized day hash-agg, ≤7-row weekday
    //      table broadcast back to day grain, output ∝ flagged days.
    "q176_weekday_anomaly" -> Q(
      (s, d) => {
        // day-grain counts persist ONCE: the weekday profile and the
        // day-grain flag join both re-scanned events before round 16
        val days = Tables(s, d, "events")
          .groupBy(expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("n"))
          .select(col("day"),
            expr("CAST(datediff(day, DATE '1970-01-01') % 7 AS INT)").as("dow"),
            col("n"))
          .persistTracked
        val byDow = days.groupBy(col("dow"))
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"))
        days.join(broadcast(byDow), Seq("dow"))
          .filter(abs(col("n") * col("n_days") - col("n_events")) *
            AnomalyDenom > col("n_events"))
          .select(col("day"), col("dow"), col("n"),
            (col("n_events").cast("double") / col("n_days").cast("double"))
              .as("day_avg"),
            when(col("n") * col("n_days") > col("n_events"), "high")
              .otherwise("low").as("direction"))
      },
      Some(s"""WITH days AS (SELECT CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |dw AS (SELECT day, CAST((day - DATE '1970-01-01') % 7 AS INT)
             |    AS dow, n FROM days),
             |bydow AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_days,
             |    CAST(sum(n) AS BIGINT) AS n_events FROM dw GROUP BY 1)
             |SELECT day, dow, n,
             |  CAST(n_events AS DOUBLE) / CAST(n_days AS DOUBLE) AS day_avg,
             |  CASE WHEN n * n_days > n_events THEN 'high' ELSE 'low' END
             |    AS direction
             |FROM dw JOIN bydow USING (dow)
             |WHERE abs(n * n_days - n_events) * $AnomalyDenom > n_events""".stripMargin)),

    // ---- Q20/Q21 completeness: dense_rank/ntile/percent_rank/cume_dist
    //      and first/last over explicit frames
    "q66_window_ranks" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, d, "orders").select(
          col("o_orderkey"),
          dense_rank().over(w).as("drk"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("prk"),
          round(cume_dist().over(w), 6).as("cd"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(wFull).as("last_price"))
      },
      Some("""SELECT o_orderkey,
             |  CAST(dense_rank() OVER w AS INT) AS drk,
             |  CAST(ntile(4) OVER w AS INT) AS quartile,
             |  round(percent_rank() OVER w, 6) AS prk,
             |  round(cume_dist() OVER w, 6) AS cd,
             |  first_value(o_totalprice) OVER w AS first_price,
             |  last_value(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
             |    AND UNBOUNDED FOLLOWING) AS last_price
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin)),

    // ---- SCD2 historization — the slowly-changing-dimension verb: per
    //      user, collapse consecutive runs of the same event_type into
    //      [valid_from, valid_to) intervals with the open-ended current
    //      row flagged — the standard warehouse "as of any point in
    //      time" dimension build. Run starts come from ONE user-grain
    //      window pass (lag ≠ current ⇒ start; row_number and the
    //      per-user total ride the same exchange); the second window
    //      (lead over run STARTS only) sees rows ∝ state changes and
    //      reuses the user_id partitioning, so the whole query is ONE
    //      corpus exchange. n_events per interval is recovered from the
    //      row_number delta — no re-aggregation join. Parity: epoch-µs
    //      BIGINTs, (us, event_id) total tie-break.
    //      100 TB shape: q32's sessionization exchange class; output ∝
    //      state changes, never user×type.
    "q179_scd2_intervals" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us").asc, col("event_id").asc)
        val wAll = Window.partitionBy(col("user_id"))
        val ev = Tables(s, d, "events").select(col("user_id"),
          col("event_type"), unix_micros(col("ts")).as("us"), col("event_id"))
        ev.withColumn("prev_type", lag(col("event_type"), 1).over(w))
          .withColumn("rn", row_number().over(w).cast("bigint"))
          .withColumn("n_total", count(lit(1)).over(wAll))
          .filter(col("prev_type").isNull ||
            col("prev_type") =!= col("event_type"))
          .select(col("user_id"), col("event_type").as("state"),
            col("us").as("valid_from_us"),
            lead(col("us"), 1).over(w).as("valid_to_us"),
            (coalesce(lead(col("rn"), 1).over(w), col("n_total") + 1) -
              col("rn")).as("n_events"),
            lead(col("rn"), 1).over(w).isNull.as("is_current"))
      },
      Some("""WITH scd_ev AS (SELECT user_id, event_type, epoch_us(ts) AS us,
             |    event_id FROM events),
             |scd_m AS (SELECT user_id, event_type, us, event_id,
             |    lag(event_type) OVER w AS prev_type,
             |    CAST(row_number() OVER w AS BIGINT) AS rn,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_total
             |  FROM scd_ev WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
             |scd_r AS (SELECT * FROM scd_m
             |  WHERE prev_type IS NULL OR prev_type <> event_type)
             |SELECT user_id, event_type AS state, us AS valid_from_us,
             |  lead(us) OVER w2 AS valid_to_us,
             |  coalesce(lead(rn) OVER w2, n_total + 1) - rn AS n_events,
             |  (lead(rn) OVER w2) IS NULL AS is_current
             |FROM scd_r
             |WINDOW w2 AS (PARTITION BY user_id ORDER BY us, event_id)""".stripMargin)),

    // ---- CDC compaction — MERGE-INTO semantics over an upsert/delete
    //      change stream: the latest op per key wins ((µs, event_id)
    //      sequence order), a trailing delete drops the key, survivors
    //      emit their last payload — the lakehouse change-data-capture
    //      apply that turns an op log back into a snapshot. Here the op
    //      log is the events table with event_type 'error' as the
    //      delete marker (binds: ~20% of fixture users end on one).
    //      The latest-wins argmax is a row_number over the user_id
    //      exchange — NOT a max(struct) aggregate, which would drag a
    //      string payload through a corpus-sized SortAggregate buffer
    //      (the r12 long-buffers-only rule); n_ops rides the same
    //      exchange. 100 TB shape: ONE key-grain exchange (q179's
    //      class), output ∝ live keys.
    "q181_cdc_compact" -> Q(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("us").desc, col("event_id").desc)
        val wAll = Window.partitionBy(col("user_id"))
        Tables(s, d, "events").select(col("user_id"),
            unix_micros(col("ts")).as("us"), col("event_id"),
            col("event_type"), col("value"))
          .withColumn("rn", row_number().over(w))
          .withColumn("n_ops", count(lit(1)).over(wAll))
          .filter(col("rn") === 1 && col("event_type") =!= lit("error"))
          .select(col("user_id"), col("event_type").as("last_type"),
            col("value").as("last_value"), col("us").as("last_us"),
            col("n_ops"))
      },
      Some("""WITH cdc AS (SELECT user_id, epoch_us(ts) AS us, event_id,
             |    event_type, value,
             |    row_number() OVER (PARTITION BY user_id
             |      ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn,
             |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_ops
             |  FROM events)
             |SELECT user_id, event_type AS last_type, value AS last_value,
             |  us AS last_us, n_ops
             |FROM cdc WHERE rn = 1 AND event_type <> 'error'""".stripMargin)),

    // ---- CUSUM change-point detection — the fourth anomaly style in
    //      the pack and the one the others can't do: q161's trailing z
    //      and q176's weekday test fire on single-day spikes, q174's
    //      EWMA adapts so fast it ABSORBS a sustained small shift;
    //      CUSUM accumulates (n_d − mean − slack) and pages when the
    //      running sum crosses h — detecting a persistent 1% drift long
    //      before any per-day test can. Two-sided: s_up and s_dn folds
    //      run in the same pass. EXACT integers: term = n_d·D − total
    //      (the q176 scale-by-D trick), slack = total DIV CusumSlackDenom,
    //      h = total DIV CusumHDenom, so no float threshold drifts
    //      cross-engine. The fold keeps ONE copy of each recurrence by
    //      making the out array the only accumulator (each step reads
    //      element_at(out, -1) — the r11 single-copy rule). Constants
    //      bind both arms at sf0.001/sf0.01/sf0.1 (27/21, 15/24, 7/6
    //      flagged of 30 days); the fixture is near-uniform, production
    //      slack runs mean/8–mean/32. 100 TB shape: q174's — ONE
    //      corpus-sized day hash-agg, fold at day grain, explode back.
    "q184_cusum_changepoint" -> Q(
      (s, d) => {
        def prev(f: String) =
          s"CASE WHEN size(acc) = 0 THEN CAST(0 AS BIGINT) " +
            s"ELSE element_at(acc, -1).$f END"
        val fold =
          s"""aggregate(
            |  ds,
            |  CAST(array() AS ARRAY<STRUCT<day: DATE, n: BIGINT,
            |    su: BIGINT, sd: BIGINT>>),
            |  (acc, x) -> array_append(acc, named_struct(
            |    'day', x.day, 'n', x.n,
            |    'su', greatest(CAST(0 AS BIGINT),
            |      ${prev("su")} + (x.n * d_cnt - tot) - slack),
            |    'sd', greatest(CAST(0 AS BIGINT),
            |      ${prev("sd")} - (x.n * d_cnt - tot) - slack))))""".stripMargin
            .replace("\n", " ")
        Tables(s, d, "events")
          .groupBy(expr("CAST(ts AS DATE)").as("day"))
          .agg(count(lit(1)).as("n"))
          .agg(sort_array(collect_list(struct(col("day"), col("n")))).as("ds"),
            count(lit(1)).as("d_cnt"), sum(col("n")).as("tot"))
          .select(col("ds"), col("d_cnt"), col("tot"),
            expr(s"tot DIV $CusumSlackDenom").as("slack"),
            expr(s"tot DIV $CusumHDenom").as("h"))
          .select(explode(expr(fold)).as("r"), col("h"))
          .select(col("r.day").as("day"), col("r.n").as("n"),
            col("r.su").as("s_up"), col("r.sd").as("s_dn"),
            (col("r.su") > col("h")).as("flag_up"),
            (col("r.sd") > col("h")).as("flag_dn"))
      },
      Some(s"""WITH RECURSIVE cus_d AS (SELECT CAST(ts AS DATE) AS day,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1),
             |cus_t AS (SELECT CAST(count(*) AS BIGINT) AS d_cnt,
             |    CAST(sum(n) AS BIGINT) AS tot FROM cus_d),
             |cus_i AS (SELECT day, n,
             |    CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS i,
             |    d_cnt, tot, tot // $CusumSlackDenom AS slack,
             |    tot // $CusumHDenom AS h
             |  FROM cus_d CROSS JOIN cus_t),
             |rec AS (
             |  SELECT i, day, n, h,
             |    greatest(CAST(0 AS BIGINT), (n * d_cnt - tot) - slack) AS su,
             |    greatest(CAST(0 AS BIGINT), -(n * d_cnt - tot) - slack) AS sd
             |  FROM cus_i WHERE i = 1
             |  UNION ALL
             |  SELECT x.i, x.day, x.n, x.h,
             |    greatest(CAST(0 AS BIGINT),
             |      r.su + (x.n * x.d_cnt - x.tot) - x.slack),
             |    greatest(CAST(0 AS BIGINT),
             |      r.sd - (x.n * x.d_cnt - x.tot) - x.slack)
             |  FROM rec r JOIN cus_i x ON x.i = r.i + 1)
             |SELECT day, n, su AS s_up, sd AS s_dn,
             |  su > h AS flag_up, sd > h AS flag_dn FROM rec""".stripMargin)),

    // ---- session co-visitation — the item-to-item collaborative-filter
    //      build: items (props.k, ONE JsonToStructs parse — q103's rule)
    //      co-occurring in the same (user, day) session, counted across
    //      sessions, floored at CovisMinSessions to drop coincidence
    //      pairs (binds at every scale: 90 of 978 pairs survive at
    //      sf0.001, 3218 of 4391 at sf0.01). Distinct-first: the session
    //      item-SET join runs on (user, day)-deduped rows, so a user
    //      hammering one item all day contributes the pair once.
    //      100 TB shape: the pair join is (user, day)-grain with both
    //      legs the SAME deduped subtree (exchange reuse, q124's
    //      precedent); per-session pair volume is Σ m² with m = distinct
    //      items per session — bounded in practice by a per-session item
    //      cap (the q41 capped-bucket precedent; not needed at fixture
    //      densities); output bounded by the item-domain square.
    "q186_covisitation" -> Q(
      (s, d) => {
        val items = Tables(s, d, "events")
          .select(col("user_id"), expr("CAST(ts AS DATE)").as("day"),
            expr("from_json(props, 'k INT').k").as("item"))
          .filter(col("item").isNotNull)
          .distinct()
        covisitationFrom(items)
      },
      Some(s"""WITH cov_i AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day,
             |    CAST(json_extract_string(props, '$$.k') AS INT) AS item
             |  FROM events
             |  WHERE json_extract_string(props, '$$.k') IS NOT NULL),
             |cov_p AS (SELECT x.item AS a, y.item AS b FROM cov_i x
             |  JOIN cov_i y ON x.user_id = y.user_id AND x.day = y.day
             |    AND x.item < y.item)
             |SELECT a, b, CAST(count(*) AS BIGINT) AS n_sessions
             |FROM cov_p GROUP BY 1, 2
             |HAVING count(*) >= $CovisMinSessions""".stripMargin)),

    // ---- TOP-K CHURN: day-over-day rank-biased overlap of the top-5
    //      most-active users — the leaderboard-stability monitor
    //      (rbo1920 = 1860 means yesterday's board held; 0 means it
    //      was swept). Reuses q238's exact suffix-weight table
    //      ([[TextAnalysis.RboSuffix1920]], p = ½, k = 5); both arms
    //      engage on the fixture (zeros AND 1322+ pairs at every sf,
    //      probed). 100 TB: ONE event scan into a map-side-combinable
    //      (day, user) count; the per-day top-5 collapses through the
    //      graft_topk bounded heap at DAY grain — never a single-
    //      partition per-day sort (the q171b argument: a day holds
    //      ~10⁹ users at 100 TB; the heap's state is O(k) per day);
    //      everything downstream is day-grain (≤ #days × k rows).
    "q240_topk_churn" -> Q(
      (s, d) => {
        import s.implicits._
        val dn = Tables(s, d, "events")
          .select(expr("CAST(ts AS DATE)").as("day"), col("user_id"))
          .groupBy(col("day"), col("user_id")).agg(count(lit(1)).as("n"))
        val t5 = dn.groupBy(col("day"))
          .agg(call_function("graft_topk", col("n").cast("double"),
            col("user_id"), lit(ChurnTopK)).as("top"))
          .select(col("day"), posexplode(col("top")).as(Seq("pos", "t")))
          .select(col("day"), col("t.id").as("user_id"),
            (col("pos") + 1).as("rk"))
        // day×k leaderboard persists ONCE: the a/b day-pair legs and
        // both distinct-day probes re-ran the corpus (day, user) count
        // before round 16 (duplicate-subtree lint finding)
        val t5c = t5
          .persistTracked
        val a = t5c.toDF("day", "user_id", "ra")
        val b = t5c.toDF("day_b", "user_id_b", "rb")
        val ov = a
          .join(b, date_add(col("day"), 1) === col("day_b") &&
            col("user_id") === col("user_id_b"))
          .select(col("day"), greatest(col("ra"), col("rb")).as("m"))
          .join(broadcast(TextAnalysis.RboSuffix1920.toDF("m", "wt")),
            Seq("m"))
        a.select(col("day")).distinct()
          .join(b.select(col("day_b")).distinct(),
            date_add(col("day"), 1) === col("day_b"), "left_semi")
          .join(ov, Seq("day"), "left_outer")
          .groupBy(col("day"))
          .agg(count(col("m")).as("n_overlap"),
            coalesce(sum(col("wt")), lit(0L)).as("rbo1920"))
          .select(date_format(col("day"), "yyyy-MM-dd").as("day_str"),
            col("n_overlap"), col("rbo1920"),
            expr("CAST(rbo1920 AS DOUBLE) / CAST(1920 AS DOUBLE)").as("rbo"))
      },
      Some(s"""WITH dn AS (SELECT CAST(ts AS DATE) AS day, user_id,
             |    CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
             |t5 AS (SELECT day, user_id, rk
             |  FROM (SELECT day, user_id, row_number() OVER (
             |      PARTITION BY day ORDER BY n DESC, user_id) AS rk FROM dn)
             |  WHERE rk <= $ChurnTopK),
             |w(m, wt) AS (VALUES ${TextAnalysis.RboSuffix1920
                .map { case (m, wt) => s"($m, $wt)" }.mkString(", ")}),
             |ov AS (SELECT a.day, greatest(a.rk, b.rk) AS m FROM t5 a
             |  JOIN t5 b ON b.day = a.day + INTERVAL 1 DAY
             |    AND b.user_id = a.user_id),
             |days AS (SELECT DISTINCT a.day FROM t5 a
             |  JOIN t5 b ON b.day = a.day + INTERVAL 1 DAY)
             |SELECT strftime(days.day, '%Y-%m-%d') AS day_str,
             |  CAST(count(o.m) AS BIGINT) AS n_overlap,
             |  CAST(coalesce(sum(w.wt), 0) AS BIGINT) AS rbo1920,
             |  CAST(coalesce(sum(w.wt), 0) AS DOUBLE) / CAST(1920 AS DOUBLE)
             |    AS rbo
             |FROM days LEFT JOIN ov o ON o.day = days.day
             |LEFT JOIN w ON w.m = o.m
             |GROUP BY days.day""".stripMargin))
  )

  /** q240's leaderboard depth — tied to [[TextAnalysis.RboSuffix1920]]
    * (the weight table is k = 5, p = ½ specific).
    */
  val ChurnTopK = 5

  /** q186's coincidence floor: an item pair must co-occur in at least
    * this many distinct (user, day) sessions to ship as a
    * recommendation edge. 2 binds (filters real pairs) at every fixture
    * scale; production runs 5-50 depending on traffic.
    */
  val CovisMinSessions = 2

  /** q186's hot-session bound: at most this many items per (user, day)
    * session enter pair generation — without it one bot session with m
    * items costs m² pairs (the Σm² co-visitation hazard; a 10⁴-item
    * session alone is 10⁸ pairs). The kept subset is a DETERMINISTIC
    * unbiased sample: the cap smallest md5 coins over (user, day, item),
    * so reruns agree exactly. 64 never engages
    * on the fixture (max session = 10 distinct items at every sf — the
    * oracle needs no cap arm); CovisCapSpec proves engagement on a
    * planted hot session.
    */
  val CovisItemCap = 64

  /** q186's kernel over a deduped (user_id, day, item) table, exposed so
    * specs can feed planted sessions. Cap first (bounded heap collapses
    * map-side, q171b's precedent), then pair within session, count
    * across sessions, floor.
    */
  def covisitationFrom(items: DataFrame): DataFrame = {
    val coin = conv(substring(md5(concat_ws("\u0001", col("user_id"),
      col("day"), col("item"))), 1, 15), 16, 10).cast("long").cast("double")
    val capped = items.groupBy(col("user_id"), col("day"))
      .agg(call_function("graft_topk", -coin, col("item").cast("long"),
        lit(CovisItemCap)).as("top"))
      .select(col("user_id"), col("day"),
        explode(col("top.id")).as("item_l"))
      .select(col("user_id"), col("day"),
        col("item_l").cast("int").as("item"))
    // capped per-session item sets persist ONCE: both pair-join legs
    // re-ran the dedup+cap aggregate before round 16 (the "exchange
    // reuse" this function used to assume never materialized — lint)
    val one = capped
      .persistTracked
    val a = one.select(col("user_id"), col("day"), col("item").as("a"))
    val b = one.select(col("user_id"), col("day"), col("item").as("b"))
    a.join(b, Seq("user_id", "day"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_sessions"))
      .filter(col("n_sessions") >= CovisMinSessions)
  }

  /** q184's CUSUM parameters: slack (the per-day allowance subtracted
    * before accumulating, in total-count units — total/256 ≈ mean/8.5 at
    * the fixture's 30-day span) and the page threshold h = total/32.
    * Chosen so BOTH directions flag at sf0.001, sf0.01 AND sf0.1 while
    * leaving unflagged days at each scale; production pagers run slack
    * around mean/8–mean/32 per day.
    */
  val CusumSlackDenom = 256
  val CusumHDenom = 32
}
