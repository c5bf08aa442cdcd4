package graft.streaming

import graft.plans.GraftExtensions
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Custom stateful streaming operators (SURVEY.md §2.2 Q36/Q38):
  * the reference's malformed-file requeue (R13, KafkaJob.java:81-88)
  * generalized into a keyed retry ledger with max-attempts eviction —
  * the reference retries forever; we cap and route to a DLQ — plus
  * watermark-based late-data splitting.
  */
object StatefulOps {

  /** Event time at MICROSECOND precision — the same grain the batch
    * kernels order by ((ts, event_id) on a µs TIMESTAMP column). Every
    * in-batch sort below must use this, not Timestamp.getTime: ms-grain
    * ordering diverges from the spec-pinned batch parity whenever two
    * events share a millisecond but their event_id order disagrees with
    * the µs order.
    */
  private def usOf(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  /** `df` after installing the graft kernels on its session — called on
    * every operator input whose plan calls a kernel, BEFORE a stream
    * starts (the stream's cloned session inherits the registry).
    */
  private def withKernels[T](df: Dataset[T]): Dataset[T] = {
    GraftExtensions.install(df.sparkSession)
    df
  }

  final case class Attempt(key: String, ok: Boolean, ts: java.sql.Timestamp)
  final case class LedgerState(attempts: Int)
  final case class LedgerOut(key: String, attempts: Int, outcome: String)

  /** Keyed retry ledger: emits `delivered` on first success, `dlq` once a
    * key fails `maxAttempts` times. State is dropped on either terminal
    * outcome, so the store stays bounded by in-flight keys only —
    * the property that matters at 100 TB (state ∝ active keys, not
    * history).
    */
  def retryLedger(attempts: Dataset[Attempt], maxAttempts: Int): Dataset[LedgerOut] = {
    import attempts.sparkSession.implicits._
    attempts
      .groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: String, rows: Iterator[Attempt], state: GroupState[LedgerState]) => {
          val prior = state.getOption.getOrElse(LedgerState(0))
          var n = prior.attempts
          var out = List.empty[LedgerOut]
          var done = false
          rows.foreach { a =>
            if (!done) {
              if (a.ok) { out ::= LedgerOut(key, n + 1, "delivered"); done = true }
              else {
                n += 1
                if (n >= maxAttempts) { out ::= LedgerOut(key, n, "dlq"); done = true }
              }
            }
          }
          if (done) state.remove() else state.update(LedgerState(n))
          out.reverseIterator
        })
  }

  final case class FileObs(file: String, size: Long)
  final case class SettledFile(file: String, size: Long, polls: Int)
  final case class SizeSeen(size: Long, polls: Int)

  /** R5 as modern arbitrary state (transformWithState, the Q36
    * `transformWithState` half): per-file poll observations stream in;
    * a file is emitted as settled once its size is unchanged between two
    * consecutive polls (the portable analogue of "the writer closed
    * it"). State is one (size, polls) pair per in-flight file, removed
    * on emission — bounded by open files, not history. Requires the
    * RocksDB state store provider.
    */
  final class SettleProcessor extends StatefulProcessor[String, FileObs, SettledFile] {
    @transient private var seen: ValueState[SizeSeen] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[SizeSeen](
        "seen", Encoders.product[SizeSeen], TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[FileObs], timers: TimerValues): Iterator[SettledFile] = {
      var out = List.empty[SettledFile]
      rows.foreach { obs =>
        val prior = Option(seen.get())
        prior match {
          case Some(SizeSeen(sz, polls)) if sz == obs.size =>
            out ::= SettledFile(key, sz, polls + 1)
            seen.clear()
          case Some(SizeSeen(_, polls)) =>
            seen.update(SizeSeen(obs.size, polls + 1))
          case None =>
            seen.update(SizeSeen(obs.size, 1))
        }
      }
      out.reverseIterator
    }
  }

  /** Wire [[SettleProcessor]] over a keyed observation stream. */
  def settleLedger(obs: Dataset[FileObs]): Dataset[SettledFile] = {
    import obs.sparkSession.implicits._
    obs.groupByKey(_.file)
      .transformWithState(new SettleProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Q38: split a watermarked stream into on-time and too-late branches
    * inside foreachBatch — the late rows are exactly those the windowed
    * aggregation upstream would silently drop; we route them to a DLQ
    * table instead (R13's "requeue" made explicit and bounded).
    */
  def splitLate(batch: DataFrame, tsCol: String, watermark: java.sql.Timestamp): (DataFrame, DataFrame) = {
    val onTime = batch.filter(col(tsCol) >= lit(watermark))
    val late = batch.filter(col(tsCol) < lit(watermark))
    (onTime, late)
  }

  /** Q33–Q35 in streaming form, used by the streaming spec: tumbling
    * window + watermark over an event-shaped stream.
    */
  def windowedCounts(events: DataFrame, tsCol: String, lateness: String, win: String): DataFrame =
    events
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_val"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"), col("sum_val"))

  /** Windowed corpus-intake quality monitor: per (event window, key) —
    * doc count, concentration-flagged count, and mean top-1-gram share,
    * built from the q109 kernel ([[graft.queries.TextAnalysis
    * .concentration]]), which is a stateless per-row projection and so
    * streams verbatim. This is the drift signal an intake pipeline
    * watches: a rising flagged fraction in a window means a source
    * started shipping boilerplate. State ∝ open windows × keys, bounded
    * by the watermark horizon.
    */
  def qualityMonitor(docs: DataFrame, textCol: String, tsCol: String,
                     keyCol: String, lateness: String, win: String): DataFrame =
    withKernels(docs)
      .withColumn("__c", graft.queries.TextAnalysis.concentration(col(textCol)))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(!col("__c.keep"), 1L).otherwise(0L)).as("n_flagged"),
        avg(col("__c.top1_frac")).as("avg_top1"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("n_docs"), col("n_flagged"), col("avg_top1"))

  /** [[qualityMonitor]]'s funnel sibling — q113 on the intake stream:
    * per window+key, docs surviving each corpus gate (language →
    * quality → repetition, via the shared
    * [[graft.queries.Pipeline.gateFlags]] kernel) plus an HLL estimate
    * of distinct surviving texts. count(DISTINCT) is unsupported in
    * streaming aggregations, so the distinct stage is
    * approx_count_distinct here — the batch q113 reports the exact
    * count; the monitor's job is drift, not accounting. State ∝ open
    * windows × keys under the watermark.
    */
  def funnelMonitor(docs: DataFrame, textCol: String, tsCol: String,
                    keyCol: String, lateness: String, win: String): DataFrame = {
    val g = col("__g")
    val gl = g.getField("g_lang")
    val gq = g.getField("g_q")
    val all = gl && gq && g.getField("g_rep")
    withKernels(docs)
      .withColumn("__g", graft.queries.Pipeline.gateFlags(col(textCol)))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(gl, 1L).otherwise(0L)).as("n_lang"),
        sum(when(gl && gq, 1L).otherwise(0L)).as("n_lang_quality"),
        sum(when(all, 1L).otherwise(0L)).as("n_all_gates"),
        approx_count_distinct(when(all, sha2(col(textCol), 256)))
          .as("approx_distinct_final"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("n_docs"), col("n_lang"), col("n_lang_quality"),
        col("n_all_gates"), col("approx_distinct_final"))
  }

  /** q135's intake sibling: per (event window, key) — mean per-doc
    * total-variation distance against a REFERENCE unigram model
    * ([[graft.queries.TextAnalysis.driftRef]], fitted offline on the
    * trusted corpus and shipped as a map literal), plus the count and
    * share of docs past `tau`. The per-doc TVD
    * ([[graft.queries.TextAnalysis.docTvd]]) is stateless scan-stage
    * arithmetic, so the monitor is ONE windowed aggregate — the
    * corpus-level q135 TVD needs token-grain state and has no such
    * single-aggregate streaming form. A rising mean or drifted share in
    * a window is the "this feed changed under me" page. State ∝ open
    * windows × keys under the watermark (the qualityMonitor contract).
    */
  def driftMonitor(docs: DataFrame, textCol: String, tsCol: String,
                   keyCol: String, lateness: String, win: String,
                   ref: Map[String, Double], tau: Double): DataFrame =
    withKernels(docs)
      .withColumn("__tvd", graft.queries.TextAnalysis.docTvd(col(textCol), ref))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        avg(col("__tvd")).as("mean_tvd"),
        sum(when(col("__tvd") > tau, 1L).otherwise(0L)).as("n_drifted"))
      .select(col("window.start").as("w_start"), col(keyCol),
        col("n_docs"), col("mean_tvd"), col("n_drifted"),
        (col("n_drifted").cast("double") / col("n_docs").cast("double"))
          .as("drifted_frac"))

  /** Q40 on the ingest stream: near-dup suppression by SimHash
    * fingerprint equality. The fingerprint is the stateless per-row
    * kernel (graft_simhash — q42's batch kernel, which streams as-is),
    * so the only state is dropDuplicatesWithinWatermark's fingerprint
    * set, bounded by the watermark horizon — state ∝ distinct
    * fingerprints per horizon, not stream history. Word-permuted
    * rewordings hash to the SAME fingerprint (SimHash is built from
    * token counts, so it is order-free), so they dedup even though an
    * exact-text dropDuplicates would pass them through.
    */
  def simhashDedup(docs: DataFrame, textCol: String, tsCol: String, delay: String): DataFrame =
    withKernels(docs)
      .withColumn("simhash", call_function("graft_simhash", col(textCol)))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("simhash")

  /** [[simhashDedup]]'s embedding-space sibling: near-dup suppression by
    * SRP-sketch equality. Each vector gets a `bits`-wide
    * sign-random-projection sketch (graft_srpsig — q52's stateless
    * kernel) packed into one BIGINT dedup key, so state is one long per
    * distinct sketch within the watermark horizon. Sketch equality is
    * scale-INVARIANT (dot signs don't move under positive scaling), so
    * rescaled or re-normalized re-embeddings of the same content dedup
    * even though exact-value dedup would pass them through; genuinely
    * different directions collide with probability ~2^-bits.
    */
  final case class BandRow(
      ts: java.sql.Timestamp, doc_id: Long, hs: Array[Long], band: Int, bsig: String)
  final case class BucketMember(doc_id: Long, hs: Array[Long])
  final case class BucketState(members: List[BucketMember])
  final case class NearDupPair(ts: java.sql.Timestamp, doc_a: Long, doc_b: Long, jaccard: Double)

  /** Batch q41 (MinHash+LSH near-dup PAIRS) on an unbounded stream — the
    * piece exact/fingerprint dedup can't do: it detects near-identical
    * (not byte- or sketch-identical) arrivals against the recent past.
    * Stateless per-row kernels compute shingles + the 32-perm signature;
    * rows fan out to their NumBands (band, bandSig) bucket keys; a
    * flatMapGroupsWithState ledger per bucket keeps the FIRST
    * `BucketCap` members (shingle sets ride the state HASHED — 8-byte
    * graft_hash60 values, never the trigram strings, so RocksDB state is
    * bounded by cap × shingles × 8 B per live bucket; batch q41 carries
    * the same hashed payload through its band shuffle, and jaccard over
    * the hashed sets equals string jaccard up to a 2^-60-per-pair
    * collision) and emits Jaccard-verified pairs for every new arrival
    * against the stored members.
    * State expires on event-time timeout one `delay` past the newest
    * member — buckets live as long as the dedup horizon, so total state
    * ∝ distinct buckets per horizon, not stream history. A pair that
    * collides in several bands is emitted once per band; callers that
    * need set semantics run dropDuplicatesWithinWatermark on
    * (doc_a, doc_b) downstream, exactly as the batch formulation
    * group-bys the pair.
    *
    * Determinism at overflow: WITHIN a micro-batch arrivals are processed
    * in doc_id order, so a replay of the same batches yields identical
    * pairs. But "first `cap` members" is first-by-ARRIVAL across batches:
    * if a bucket overflows, which members were retained — and hence which
    * pairs later arrivals can form — depends on how the stream was cut
    * into micro-batches. Callers must not assume replay-exact pair sets
    * once a bucket exceeds `cap`; buckets that hot are candidate-
    * generation pathologies (the batch path caps them identically), so
    * overflow should be monitored, not relied on.
    */
  def minhashPairsStream(docs: DataFrame, textCol: String, tsCol: String,
                         delay: String, minJaccard: Double = 0.7,
                         cap: Int = 200): Dataset[NearDupPair] = {
    val s = docs.sparkSession
    import s.implicits._
    GraftExtensions.install(s)
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(delay))
    val ttlMs = iv.months * 2592000000L + iv.days * 86400000L + iv.microseconds / 1000L
    // the SAME banding as batch q41: NumBands bands × BandRows sig rows
    val bandCols = (0 until graft.queries.Dedup.NumBands).map { k =>
      concat_ws("_", transform(
        slice(col("sig"), k * graft.queries.Dedup.BandRows + 1, graft.queries.Dedup.BandRows),
        _.cast("string")))
    }
    val banded = docs
      .withColumn("sh", call_function("graft_shingles3", col(textCol)))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", call_function("graft_minhash", col("sh")))
      .select(col(tsCol).as("ts"), col("doc_id"),
        array_distinct(transform(col("sh"),
          x => call_function("graft_hash60", x))).as("hs"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bsig")))
      .withWatermark("ts", delay)
      .as[BandRow]
    banded
      .groupByKey(r => (r.band, r.bsig))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (_: (Int, String), rows: Iterator[BandRow], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var members = state.getOption.map(_.members).getOrElse(Nil)
            val out = List.newBuilder[NearDupPair]
            var maxTs = 0L
            // arrival order within a batch is nondeterministic; process
            // by doc_id so replays produce identical pairs
            rows.toSeq.sortBy(_.doc_id).foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              if (!members.exists(_.doc_id == r.doc_id)) {
                val rs = r.hs.toSet
                members.foreach { m =>
                  val inter = m.hs.count(rs)
                  val jac = inter.toDouble / (m.hs.length + rs.size - inter)
                  if (jac >= minJaccard)
                    out += NearDupPair(r.ts, math.min(m.doc_id, r.doc_id),
                      math.max(m.doc_id, r.doc_id),
                      BigDecimal(jac).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
                }
                if (members.size < cap) members = members :+ BucketMember(r.doc_id, r.hs)
              }
            }
            state.update(BucketState(members))
            state.setTimeoutTimestamp(maxTs + ttlMs)
            out.result().iterator
          }
        })
  }

  def srpDedup(docs: DataFrame, vecCol: String, tsCol: String, delay: String,
               bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"srpDedup packs the sketch into one BIGINT, got $bits bits")
    withKernels(docs)
      .withColumn("srp_key", expr(
        s"""aggregate(zip_with(
           |  graft_srpsig(transform($vecCol, x -> CAST(x AS DOUBLE)), $bits),
           |  sequence(0, ${bits - 1}),
           |  (b, p) -> shiftleft(CAST(b AS BIGINT), p)), CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
          .stripMargin))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("srp_key")
  }

  /** Streaming IVF index probe: assign a stream of vectors
    * (vec_id, v: array<double>) to their nearest centroid from the
    * STATIC trained index ([[graft.queries.Similarity.trainCentroids]]).
    * Stateless per microbatch — the broadcast argmax aggregation runs
    * inside the batch; verdicts depend only on the shipped index.
    *
    * REFRESH SEAM (uniform across every fitted-artifact gate below —
    * annAssign/annSearch/fuzzyGate/bm25Search/hybridSearch/spanGate/
    * nbGate/keywordTag/surprisalGate, the boilerplateGate pattern
    * generalized): the artifact argument is a SUPPLIER, read once per
    * microbatch, because production re-fits these models/indexes on
    * the batch cadence and must swap them into a standing stream
    * without a restart. A swap is atomic at the microbatch boundary —
    * every row of one batch is judged under exactly one artifact
    * (StatefulOpsSpec pins the lifecycle for one representative of
    * each artifact kind: map-literal model, DataFrame index, and the
    * boilerplate line-hash set). Multi-part fits ship as ONE supplier
    * of the whole tuple (keywordTag/surprisalGate) so a refresh can
    * never tear between a model and its sibling scalar.
    */
  def annAssign(vectors: DataFrame, cents: () => DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(vectors).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Similarity.assignToCentroids(
          batch, cents()), id); ()
      }
      .start()

  /** Streaming similarity search: each microbatch of query vectors
    * (q_id, qv: array<double>) is broadcast against the STATIC corpus
    * (vec_id, v) and answered with its exact cosine top-k
    * ([[graft.queries.Similarity.searchTopK]] — the graft_topk bounded
    * heap collapses candidates map-side). Stateless; per-batch cost is
    * one corpus scan regardless of query count, the serving trade that
    * makes micro-batched ANN amortize.
    */
  def annSearch(queries: DataFrame, corpus: () => DataFrame, k: Int,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(queries).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Similarity.searchTopK(
          corpus(), batch, k), id); ()
      }
      .start()

  /** Streaming form of q106's fuzzy incremental dedup: gate an incoming
    * document stream (doc_id, text, ...) against a STATIC corpus band
    * index ([[graft.queries.Dedup.bandIndex]] — the precomputed artifact).
    * Each microbatch probes the index independently and hands
    * (doc_id, n_corpus_dups, keep) to `sink`. Batch independence is
    * EXACT here, not an approximation: verdicts depend only on the
    * static corpus, never on other stream batches (cross-batch in-stream
    * dedup is [[minhashPairsStream]]'s job). Stateless — no store to
    * grow; the index join is stream-static and the per-doc aggregates
    * run inside the batch.
    */
  def fuzzyGate(incoming: DataFrame, idx: () => DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Dedup.fuzzyProbe(batch, idx()), id); ()
      }
      .start()

  /** Streaming surprisal gate: score each incoming doc under a STATIC
    * corpus's fitted unigram model ([[graft.queries.TextAnalysis
    * .surprisalFit]] — fit once, outside the stream) and flag docs
    * whose mean bits/token exceeds `maxBits` (gibberish / wrong-
    * language / binary-spill intake, the perplexity-filter's streaming
    * form). Stateless: the model is a map literal in the plan, scoring
    * is a per-row fold, verdicts are batch-independent —
    * `StatefulOpsSpec` pins stream ≡ batch.
    */
  /** Streaming BM25 serving: (q_id, text) query microbatches probe a
    * STATIC [[graft.queries.TextAnalysis.Bm25Index]] (built once from
    * the corpus — the lexical sibling of [[annSearch]]'s embedding
    * serving). Stateless; per-batch cost ∝ matched postings of the
    * batch's terms, never the corpus; scores are the exact fixed-point
    * values q125 emits, so stream ≡ batch is pinnable to equality.
    */
  def bm25Search(queries: DataFrame,
      idx: () => graft.queries.TextAnalysis.Bm25Index,
      k: Int, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(queries).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.TextAnalysis.bm25Probe(batch, idx(), k), id); ()
      }
      .start()

  /** Streaming hybrid retrieval: (q_id, text, qv) query microbatches
    * probe BOTH static indexes — the [[graft.queries.TextAnalysis
    * .Bm25Index]] lexical postings and the dense corpus (vec_id, v) —
    * and each batch is answered with the exact integer-fixed-point RRF
    * fusion of the two top-k lists (q128's kernel). Stateless; both
    * legs are the already-amortized serving shapes ([[bm25Search]],
    * [[annSearch]]), so per-batch cost is matched postings + one corpus
    * scan, and stream ≡ batch is pinnable to equality.
    */
  def hybridSearch(queries: DataFrame,
      idx: () => graft.queries.TextAnalysis.Bm25Index,
      corpus: () => DataFrame, k: Int, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(queries).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.TextAnalysis.hybridProbe(batch, idx(), corpus(), k), id); ()
      }
      .start()

  /** Streaming form of q123's exact-substring detection: gate incoming
    * docs against a STATIC corpus span index ([[graft.queries.Pipeline
    * .spanIndex]] — distinct winnowing-anchored window hashes, built
    * once). Each microbatch reports per doc how many of its windows
    * already exist verbatim in the corpus; keep = zero overlap. Batch
    * independence is exact (verdicts depend only on the static index);
    * stateless — the window semi-join shuffles only the batch's ~n/8
    * 16-byte rows. Content-defined anchoring makes the probe
    * alignment-invariant: a quote lifted into an incoming doc at ANY
    * offset selects the same interior anchors the corpus copy did.
    */
  def spanGate(incoming: DataFrame, idx: () => DataFrame,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Pipeline.spanProbe(batch, idx()), id); ()
      }
      .start()

  final case class EvRow(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                         event_type: String)
  final case class TransState(lastType: String, lastTs: Long)
  final case class TransOut(user_id: Long, prev: String, next: String,
                            ts: java.sql.Timestamp)

  /** q142/q145's intake sibling: per-user event-TRANSITION extraction
    * over a stream — each user's state is exactly its last event type
    * (plus its event time), so a cross-microbatch boundary emits the
    * bridging transition exactly once and the store is bounded by
    * ACTIVE users (event-time timeout expires idle ones at the
    * watermark + delay horizon — the minhashPairsStream TTL pattern).
    * Within a batch rows are processed in (ts, event_id) order for
    * replay determinism; rows older than the watermark are dropped by
    * the engine, and within-horizon cross-batch disorder yields the
    * arrival-order sequence (the standard stateful-sequence caveat —
    * the batch q142/q145 recompute is the exact-order form). Feed the
    * emitted transitions to any downstream windowed aggregate, or score
    * them against a fitted [[graft.queries.Windowed.TransModel]].
    */
  def transitionMonitor(events: DataFrame, delay: String): Dataset[TransOut] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", delay)
      .as[EvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[EvRow], state: GroupState[TransState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id))
            var last = state.getOption
            val out = List.newBuilder[TransOut]
            sorted.foreach { r =>
              last.foreach(l => out += TransOut(uid, l.lastType, r.event_type, r.ts))
              last = Some(TransState(r.event_type, r.ts.getTime))
            }
            last.foreach { l =>
              state.update(l)
              state.setTimeoutTimestamp(l.lastTs, delay)
            }
            out.result().iterator
          }
        })
  }

  final case class Scd2State(state: String, fromUs: Long, n: Long, maxTsMs: Long)
  final case class Scd2Out(user_id: Long, state: String, valid_from_us: Long,
                           valid_to_us: Option[Long], n_events: Long,
                           is_current: Boolean)

  /** q179's intake sibling: streaming SCD2 historization — per-user
    * state is exactly ONE open interval (current event_type, its first
    * event time, its run count), a closed [valid_from, valid_to)
    * dimension row streams out the moment its successor state opens
    * (exactly once, cross-batch from state), and the OPEN interval is
    * finalized with is_current=true when the event-time TTL expires the
    * idle user — the streaming dimension contract: a row becomes final
    * when its successor opens or the source goes idle past the horizon.
    * Timeout anchors to the batch's max event time (≥ the batch-start
    * watermark by construction — the r11 re-arm-into-the-past audit
    * rule), so no watermark guard is needed. In-batch rows process in
    * (µs, event_id) order; cross-batch disorder within the horizon
    * yields the arrival-order sequence (the standard stateful-sequence
    * caveat — batch q179 is the exact-order form).
    */
  def scd2Monitor(events: DataFrame, delay: String): Dataset[Scd2Out] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", delay)
      .as[EvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[EvRow], state: GroupState[Scd2State]) => {
          if (state.hasTimedOut) {
            val cur = state.get
            state.remove()
            Iterator.single(Scd2Out(uid, cur.state, cur.fromUs, None, cur.n,
              is_current = true))
          } else {
            val sorted = rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id))
            var cur = state.getOption
            var maxTs = cur.map(_.maxTsMs).getOrElse(0L)
            val out = List.newBuilder[Scd2Out]
            sorted.foreach { r =>
              val us = usOf(r.ts)
              maxTs = math.max(maxTs, r.ts.getTime)
              cur match {
                case Some(c) if c.state == r.event_type =>
                  cur = Some(c.copy(n = c.n + 1, maxTsMs = maxTs))
                case Some(c) =>
                  out += Scd2Out(uid, c.state, c.fromUs, Some(us), c.n,
                    is_current = false)
                  cur = Some(Scd2State(r.event_type, us, 1L, maxTs))
                case None =>
                  cur = Some(Scd2State(r.event_type, us, 1L, maxTs))
              }
            }
            cur.foreach { c =>
              state.update(c.copy(maxTsMs = maxTs))
              state.setTimeoutTimestamp(maxTs, delay)
            }
            out.result().iterator
          }
        })
  }

  final case class CdcState(us: Long, eventId: Long, lastType: String,
                            value: Double, maxTsMs: Long)
  final case class CdcOut(user_id: Long, op: String, last_type: String,
                          last_value: Double, last_us: Long)

  /** q181's intake sibling: streaming CDC compaction (MERGE-INTO as a
    * changelog) — per key the state is the highest-sequence op seen
    * ((µs, event_id) order), and a batch emits AT MOST ONE row per key:
    * the new winner, as 'upsert' (or 'delete' when the winner is the
    * delete marker). A late op with a LOWER sequence than the stored
    * winner emits nothing — latest-wins under in-horizon disorder, which
    * is the whole point of CDC compaction. Idle keys expire at the
    * event-time TTL; expiry is semantics-free for latest-wins because a
    * row admitted after expiry necessarily carries an event time past
    * the expired winner's horizon (watermark ≥ stored-max + delay at
    * expiry, and the engine drops sub-watermark rows), so it wins on
    * sequence anyway. Timeout anchors to the batch's max event time
    * (the r11 audit rule).
    */
  def cdcMonitor(events: DataFrame, delay: String): Dataset[CdcOut] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"))
      .withWatermark("ts", delay)
      .as[AttrEvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[AttrEvRow], state: GroupState[CdcState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id))
            val stored = state.getOption
            var maxTs = stored.map(_.maxTsMs).getOrElse(0L)
            var winner = stored
            sorted.foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              val us = usOf(r.ts)
              if (winner.forall(w =>
                  us > w.us || (us == w.us && r.event_id > w.eventId)))
                winner = Some(CdcState(us, r.event_id, r.event_type, r.value, maxTs))
            }
            winner.foreach { w =>
              state.update(w.copy(maxTsMs = maxTs))
              state.setTimeoutTimestamp(maxTs, delay)
            }
            val changed = winner.exists(w => stored.forall(o =>
              (w.us, w.eventId) != ((o.us, o.eventId))))
            if (changed) {
              val w = winner.get
              val op = if (w.lastType == CdcDeleteMarker) "delete" else "upsert"
              Iterator.single(CdcOut(uid, op, w.lastType, w.value, w.us))
            } else Iterator.empty
          }
        })
  }

  /** The event_type that cdcMonitor (and batch q181) treat as a CDC
    * delete tombstone.
    */
  val CdcDeleteMarker = "error"

  final case class FunnelState(step: Int, lastTs: Long)
  final case class FunnelOut(user_id: Long, step: Int, step_name: String,
                             ts: java.sql.Timestamp)

  /** q146's intake sibling: ordered funnel progression over a stream —
    * per-user state is (next step index, last event time), and a row is
    * emitted the moment a user completes a step, so step k+1 only
    * counts strictly after step k (q146's ordering contract; at equal
    * timestamps the stream breaks ties by event_id processing order
    * where batch q146 requires a strictly later ts — the one documented
    * divergence). State is TWO ints per ACTIVE user, expired by
    * event-time timeout — the cheapest per-key state in the whole
    * streaming surface.
    */
  def funnelProgress(events: DataFrame, steps: Seq[String],
                     delay: String): Dataset[FunnelOut] = {
    require(steps.nonEmpty, "funnelProgress needs >= 1 step")
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withWatermark("ts", delay)
      .as[EvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[EvRow], state: GroupState[FunnelState]) => {
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var cur = state.getOption.map(_.step).getOrElse(0)
            var maxTs = state.getOption.map(_.lastTs).getOrElse(0L)
            val out = List.newBuilder[FunnelOut]
            rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id)).foreach { r =>
              maxTs = math.max(maxTs, r.ts.getTime)
              if (cur < steps.length && r.event_type == steps(cur)) {
                cur += 1
                out += FunnelOut(uid, cur, steps(cur - 1), r.ts)
              }
            }
            state.update(FunnelState(cur, maxTs))
            state.setTimeoutTimestamp(maxTs, delay)
            out.result().iterator
          }
        })
  }

  final case class AttrEvRow(user_id: Long, ts: java.sql.Timestamp, event_id: Long,
                             event_type: String, value: Double)
  final case class AttrState(touchType: String, touchUs: Long)
  final case class AttrOut(user_id: Long, ts: java.sql.Timestamp,
                           touch_type: String, value: Double)

  /** q168's intake sibling: last-touch conversion attribution over a
    * stream — per-user state is exactly the most recent touch
    * (click/view) and its event time; every purchase emits one
    * attributed row the moment it arrives (touch inside
    * [[graft.queries.Windowed.AttrWindowUs]], else 'none'). State is
    * bounded by ACTIVE users AND by the attribution horizon itself: the
    * event-time timeout fires at touch-time + the attribution window
    * (+ the lateness delay), after which ANY later purchase would
    * attribute 'none' anyway — so expiry is semantics-free and the
    * store never outlives the lookback. Within a batch rows process in
    * (ts, event_id) order, matching the batch kernel's strictly-prior
    * window frame ([[graft.queries.Windowed.attributedPurchases]] —
    * spec-pinned stream ≡ batch on the fixture).
    */
  def attributionMonitor(events: DataFrame, delay: String): Dataset[AttrOut] = {
    val s = events.sparkSession
    import s.implicits._
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
        col("value"))
      .withWatermark("ts", delay)
      .as[AttrEvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        attrUpdate(delay, guardWatermark = true))
  }

  /** [[attributionMonitor]]'s per-group update body, extracted so the
    * watermark-guard hazard is pinned at GroupState level
    * (`TestGroupState` — Spark's public unit-test surface for exactly
    * this): the data-wins-over-timeout trigger cannot be paced
    * deterministically through MemoryStream, because the engine's
    * cleanup batch expires the key before a later data batch arrives
    * when batches drain one at a time (NOTES.md round-11).
    * `guardWatermark = false` reinstates the unguarded re-arm SOLELY so
    * the spec can demonstrate the throw; production always guards.
    */
  private[graft] def attrUpdate(delay: String, guardWatermark: Boolean)(
      uid: Long, rows: Iterator[AttrEvRow],
      state: GroupState[AttrState]): Iterator[AttrOut] = {
    import graft.queries.Windowed.{AttrTouch, AttrWindowUs}
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      var last = state.getOption
      val out = List.newBuilder[AttrOut]
      rows.toSeq.sortBy(r => (usOf(r.ts), r.event_id)).foreach { r =>
        if (AttrTouch.contains(r.event_type))
          last = Some(AttrState(r.event_type, usOf(r.ts)))
        else if (r.event_type == "purchase") {
          val hit = last.filter(l => usOf(r.ts) - l.touchUs <= AttrWindowUs)
          out += AttrOut(uid, r.ts,
            hit.map(_.touchType).getOrElse("none"), r.value)
        }
      }
      last match {
        case Some(l) =>
          // the timeout anchors to the STORED touch, not this batch's
          // events. When a key receives data in the same trigger its
          // timeout would have fired (data invocation wins and
          // hasTimedOut is false), the stored touch can be older than
          // the watermark — re-arming then places a timeout in the past
          // and Spark throws (StatefulOpsSpec forces exactly this with
          // guardWatermark = false). Expired-by-horizon state is
          // semantics-free (any later purchase attributes 'none'), so
          // drop it instead of re-arming.
          val horizonMs = l.touchUs / 1000L + AttrWindowUs / 1000L
          if (guardWatermark && horizonMs <= state.getCurrentWatermarkMs())
            state.remove()
          else {
            state.update(l)
            state.setTimeoutTimestamp(horizonMs, delay)
          }
        case None => // no touch ever seen — nothing worth keeping
      }
      out.result().iterator
    }
  }

  /** q141's intake sibling: classify each incoming (doc_id, source,
    * text) microbatch under a fitted
    * [[graft.queries.TextAnalysis.nbFit]] model — the learned
    * domain/quality filter applied at ingest. Stateless: the C-class
    * model rides the plan as map literals, so verdicts are
    * batch-independent and identical to the batch scorer's (spec-pinned
    * stream ≡ batch). Route on `pred_source`/`margin_bits` downstream.
    */
  def nbGate(incoming: DataFrame,
      classes: () => Seq[graft.queries.TextAnalysis.NbClass],
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.TextAnalysis.nbScore(batch, classes()), id); ()
      }
      .start()

  /** Streaming A/B experiment monitor — q160's intake sibling: per
    * event-time window, both variants' event and big-ticket-conversion
    * counts plus the guarded pooled two-proportion z (q160's exact
    * tree), so a variant whose conversion rate shifts pages within a
    * window of the change. Counts here are EVENT-grain (per-window
    * trials = that window's events per arm) where batch q160 is
    * user-grain "ever converted" — per-user-ever needs unbounded
    * cross-batch user state, and the monitor's estimand is the rate
    * SHIFT between arms, which event grain tracks under a stable
    * event/user mix. ONE windowed aggregate (conditional integer sums
    * collapse map-side; the variant never becomes a grouping key, so
    * the z projection is stateless); state ∝ open windows under the
    * watermark. `StatefulOpsSpec` pins stream ≡ the same kernel run in
    * batch.
    */
  def abMonitor(events: DataFrame, lateness: String, win: String,
                convValue: Double): DataFrame = {
    import graft.functions.ParityFns.hash60
    import graft.queries.Windowed.{AbVariants, abZ}
    val v = hash60(col("user_id").cast("string")) % AbVariants
    val conv = col("event_type") === "purchase" && col("value") >= convValue
    events
      .withColumn("__v", v).withColumn("__c", conv)
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), win))
      .agg(
        sum(when(col("__v") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("__v") === 0 && col("__c"), 1L).otherwise(0L)).as("c0"),
        sum(when(col("__v") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("__v") === 1 && col("__c"), 1L).otherwise(0L)).as("c1"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("n0"), col("c0"), col("n1"), col("c1"), abZ.as("z"))
  }

  /** q201's intake sibling — the streaming data-quality gate: per
    * event-time window, the same uniform (check, n_bad, n_total, pass)
    * report batch q201 emits, evaluated as conditional integer counts
    * inside ONE windowed aggregate (map-side combinable; state ∝ open
    * windows under the watermark; output rows ∝ closed windows ×
    * #checks). Checks cover the hazards an event feed actually has:
    * `value` outside [0, valueCap], `event_type` outside the declared
    * domain, and `props` that fail to yield the expected JSON key. A
    * window's report finalizes when the watermark passes it — a
    * downstream gate (quarantine / page on pass=false) needs no other
    * state, and a violation-free deploy is provable per window rather
    * than asserted. Parity contract: the SAME kernel run in batch over
    * the closed-window prefix produces identical rows
    * (StatefulOpsSpec), and a restart re-emits nothing
    * (CheckpointRestartSpec).
    */
  def dqMonitor(events: DataFrame, lateness: String, win: String,
                valueCap: Double, typeDomain: Seq[String]): DataFrame = {
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), win))
      // NULLs count as violations: a bare `value < 0 OR value > cap`
      // predicate is NULL on a NULL value and when().otherwise(0)
      // would score it as clean — a feed of NULL values/types must
      // fail a data-quality gate, not sail through it (the props
      // check was already NULL-strict via isNull; these now match)
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("value").isNull ||
          col("value") < 0.0 || col("value") > valueCap, 1L)
          .otherwise(0L)).as("bad_value"),
        sum(when(col("event_type").isNull ||
          !col("event_type").isin(typeDomain: _*), 1L).otherwise(0L))
          .as("bad_type"),
        sum(when(get_json_object(col("props"), "$.k").isNull, 1L)
          .otherwise(0L)).as("bad_props"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        expr("stack(3, 'value_range', bad_value, 'type_domain', bad_type, " +
          "'props_parse', bad_props) AS (check_name, n_bad)"),
        col("n_total"))
      .select(col("w_start"), col("check_name"), col("n_bad"), col("n_total"),
        (col("n_bad") === 0L).as("pass"))
  }

  /** q206's intake sibling — the streaming model-evaluation monitor
    * (round-12 task #5): per event-time window × score bin, the
    * calibration report for `value` read as a conversion-propensity
    * score — exact bin counts, positives (event_type = 'purchase';
    * a NULL type is NOT a conversion — absent label, not a violation
    * gate), and the exact cents sum, with the empirical rate and mean
    * score each ONE IEEE division of exact integers. Bins are a FIXED
    * width-in-cents spec capped at maxBin−1 (batch q206 bins on the
    * corpus min/max, which a stream cannot know; the monitor's
    * contract is defined over THIS binning — same monotone-reliability
    * read). A NULL score groups under a NULL bin and still reports: a
    * scoreless feed is visible, never silently dropped. ONE windowed
    * aggregate, map-side combinable; state ∝ open windows × (maxBin+1)
    * bins under the watermark; a window's reliability row set
    * finalizes when the watermark passes it. Parity: the SAME kernel
    * in batch over the closed-window prefix is identical
    * (StatefulOpsSpec); a restart re-emits nothing
    * (CheckpointRestartSpec).
    */
  def calibrationMonitor(events: DataFrame, lateness: String, win: String,
                         binCents: Long, maxBin: Int): DataFrame = {
    val cents = "CAST(round(value * 100) AS BIGINT)"
    events
      // the NULL guard is load-bearing: least() SKIPS nulls, so a bare
      // least(NULL DIV w, maxBin-1) would file a scoreless row under
      // the TOP bin instead of the NULL bin
      .withColumn("__bin", expr(
        s"CASE WHEN value IS NULL THEN CAST(NULL AS BIGINT) " +
          s"ELSE least($cents DIV $binCents, CAST(${maxBin - 1} AS BIGINT)) END"))
      .withColumn("__pos",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), win), col("__bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("__pos")).as("n_pos"),
        sum(expr(cents)).as("sum_cents"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("__bin").as("bin"), col("n"), col("n_pos"), col("sum_cents"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("emp_rate"),
        (col("sum_cents").cast("double") / col("n").cast("double"))
          .as("mean_cents"))
  }

  /** q243's intake sibling — the streaming GAINS/LIFT scorecard, the
    * last batch eval entry without a streaming form (round-15 verdict
    * item 6): per event-time window × score bin (best-first), how much
    * of the positive class the top bins CAPTURE and each bin's lift
    * over the window's base rate. Rides calibrationMonitor's kernel —
    * the same fixed width-in-cents bins, exact counts — then the
    * per-window reduction (the aucMonitor chained-stateful path) folds
    * the ≤maxBin-row histogram best-first: cum_n/cum_pos are running
    * BIGINT sums over the DESC-sorted bins; capture = cum_pos/tot_pos
    * and lift = (n_pos·tot_n)/(n·tot_pos) are each ONE IEEE division /
    * fixed tree of exact integers, NULL when the window has no
    * positives (the q213 degenerate rule). Scoreless rows are EXCLUDED
    * — an unscored row cannot be ranked best-first (aucMonitor's rule,
    * NOT calibrationMonitor's NULL bin). State ∝ open windows ×
    * (maxBin+1) bins; the O(B²) slice-folds run over ≤maxBin elements.
    */
  def gainsMonitor(events: DataFrame, lateness: String, win: String,
                   binCents: Long, maxBin: Int): DataFrame = {
    val cents = "CAST(round(value * 100) AS BIGINT)"
    events
      .filter(col("value").isNotNull)
      .withColumn("__bin", expr(
        s"least($cents DIV $binCents, CAST(${maxBin - 1} AS BIGINT))"))
      .withColumn("__pos",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), win), col("__bin"))
      .agg(count(lit(1)).as("n"), sum(col("__pos")).as("n_pos"))
      .groupBy(col("window"))
      .agg(collect_list(struct(col("__bin").as("bin"), col("n"),
          col("n_pos"))).as("h"),
        sum(col("n")).as("tot_n"), sum(col("n_pos")).as("tot_pos"))
      .withColumn("hs", expr("reverse(array_sort(h))")) // best-first
      .select(col("window"), col("tot_n"), col("tot_pos"), col("hs"),
        posexplode(col("hs")).as(Seq("i", "r")))
      .withColumn("cum_n", expr(
        "aggregate(slice(hs, 1, i + 1), CAST(0 AS BIGINT), (a, x) -> a + x.n)"))
      .withColumn("cum_pos", expr(
        "aggregate(slice(hs, 1, i + 1), CAST(0 AS BIGINT), (a, x) -> a + x.n_pos)"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("r.bin").as("bin"), col("r.n").as("n"), col("r.n_pos").as("n_pos"),
        col("cum_n"), col("cum_pos"),
        expr("CASE WHEN tot_pos = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE CAST(cum_pos AS DOUBLE) / CAST(tot_pos AS DOUBLE) END")
          .as("capture"),
        // cast BEFORE multiplying: n_pos·tot_n in BIGINT overflows at
        // ~1e10-row windows and (ANSI off) wraps to a wrong lift
        expr("CASE WHEN tot_pos = 0 THEN CAST(NULL AS DOUBLE) " +
          "ELSE (CAST(r.n_pos AS DOUBLE) * CAST(tot_n AS DOUBLE)) " +
          "/ (CAST(r.n AS DOUBLE) * CAST(tot_pos AS DOUBLE)) END").as("lift"))
  }

  /** q213/q205's intake sibling — the streaming ranking-quality
    * monitor: per event-time window, the Mann–Whitney AUC of `value`
    * (read as a conversion-propensity score) against the purchase
    * label, computed EXACTLY over cents-bucketed scores — the metric
    * is DEFINED over the bucketing (ties inside a bucket tie-halve,
    * q205's rule; a finer binCents narrows the quantization). Two
    * chained stateful aggregates (the Spark 4 multiple-stateful-ops
    * path the ewmaMonitor precedent uses): (window, bucket) pos/neg
    * counts collapse map-side, then the per-window reduction
    * re-groups on the window column and folds the ≤maxBin-row
    * histogram into 2U = Σ_b pos_b·(2·cum_neg_below + neg_b) — all
    * exact BIGINTs, AUC is ONE IEEE division, NULL when a window
    * lacks a class (the q213 degenerate rule). Scoreless (NULL value)
    * rows are EXCLUDED — an unscored row cannot be ranked; they stay
    * visible in calibrationMonitor's NULL bin, never silently mixed
    * into AUC. `groupCol` (the q213 grouped form) slices the whole
    * computation per group — the per-source scorecard that catches a
    * model inverted on one slice while the pooled number looks fine;
    * state then ∝ open windows × groups × bins.
    * Parity: same kernel in batch ≡ stream (StatefulOpsSpec); restart
    * re-emits nothing (CheckpointRestartSpec).
    */
  def aucMonitor(events: DataFrame, lateness: String, win: String,
                 binCents: Long, maxBin: Int,
                 groupCol: Option[String] = None): DataFrame = {
    val cents = "CAST(round(value * 100) AS BIGINT)"
    val binned = events
      .filter(col("value").isNotNull)
      .withColumn("__bin", expr(
        s"least($cents DIV $binCents, CAST(${maxBin - 1} AS BIGINT))"))
      .withColumn("__pos",
        when(col("event_type") === "purchase", 1L).otherwise(0L))
      .withWatermark("ts", lateness)
      .groupBy(Seq(window(col("ts"), win)) ++ groupCol.map(col)
        :+ col("__bin"): _*)
      .agg(sum(col("__pos")).as("n_pos"),
        sum(lit(1L) - col("__pos")).as("n_neg"))
    binned
      .groupBy(Seq(col("window")) ++ groupCol.map(col): _*)
      .agg(
        collect_list(struct(col("__bin").as("b"), col("n_pos").as("p"),
          col("n_neg").as("g"))).as("hist"),
        sum(col("n_pos")).as("n_pos"), sum(col("n_neg")).as("n_neg"))
      .select(Seq(
        graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"))
        ++ groupCol.map(col) ++ Seq(
        col("n_pos"), col("n_neg"),
        // fold ascending buckets: 2U accumulates pos·(2·cum_neg + neg)
        expr("aggregate(array_sort(hist), " +
          "struct(CAST(0 AS BIGINT) AS cum, CAST(0 AS BIGINT) AS u2), " +
          "(acc, x) -> struct(acc.cum + x.g, " +
          "acc.u2 + x.p * (2 * acc.cum + x.g)), " +
          "acc -> acc.u2)").as("u2")): _*)
      .select(Seq(col("w_start")) ++ groupCol.map(col) ++ Seq(
        col("n_pos"), col("n_neg"), col("u2"),
        when(col("n_pos") > 0L && col("n_neg") > 0L,
          col("u2").cast("double") /
            (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")))
          .as("auc")): _*)
  }

  /** Streaming value-quantile monitor — q170's intake sibling: per
    * event-time window × event_type, the GK sketch's p50/p95 of `value`
    * plus exact count/min/max — the latency/order-value pager read. The
    * sketch is the whole point at stream scale: an exact windowed
    * percentile needs the window's full value multiset in state, the
    * GK buffer is O(accuracy) per open (window, type) group with ≤1/
    * accuracy rank error (q170 pins that guarantee against exact order
    * statistics in batch; the spec here pins the stream's answers
    * inside the same exact-rank brackets). ONE windowed aggregate;
    * state ∝ open windows × types under the watermark.
    */
  def quantileMonitor(events: DataFrame, lateness: String, win: String,
                      accuracy: Int = 100): DataFrame =
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), win), col("event_type"))
      .agg(count(lit(1)).as("n"),
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(accuracy)).as("p95"),
        min(col("value")).as("min_val"), max(col("value")).as("max_val"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("event_type"), col("n"), col("p50"), col("p95"),
        col("min_val"), col("max_val"))

  /** Streaming rolling-active-users monitor — q162's intake sibling
    * (the round-16 parity-table gap): per event-time window, the
    * window's distinct active users (dau), the ROLLING distinct users
    * over this + the `roll - 1` preceding windows (wau), and
    * stickiness = dau/wau — exactly q162's explode-onto-coverage shape
    * re-expressed as chained stateful aggregates. Each event covers
    * the `roll` windows it keeps its user active in (k = 0..roll-1
    * cover copies, cover_ts = ts + k·win), so a window's user set is
    * precisely "users with an event in the last `roll` windows" — the
    * same trick that lets batch q162 avoid a per-day re-scan makes the
    * streaming distinct exact with bounded state.
    *
    * Mechanics: the cover stream watermark is lateness + (roll-1)·win
    * (a k = 0 copy of a maximally-late event must still be on time
    * after its k = roll-1 sibling advanced the clock); first stateful
    * agg dedupes (window, user) keeping whether any k = 0 copy landed
    * (the dau flag); the second re-aggregates per window (the
    * aucMonitor chained-agg path). State ∝ open windows × active users
    * (× nothing else — the flag is one long), evicted at the horizon.
    * Emits only on window close (append mode), like every monitor
    * here. Windows in a corpus gap can emit dau = 0 (trailing coverage
    * keeps wau > 0); batch q162's inner join drops those days — the
    * parity spec compares against THIS kernel run in batch, and the
    * q162 cross-check filters to event-bearing windows.
    */
  def activeUsersMonitor(events: DataFrame, tsCol: String, userCol: String,
                         latenessSec: Long, winSec: Long,
                         roll: Int = 7): DataFrame = {
    require(roll >= 1 && winSec > 0 && latenessSec >= 0,
      s"bad activeUsersMonitor params: roll=$roll win=$winSec late=$latenessSec")
    val horizon = latenessSec + (roll - 1).toLong * winSec
    val perUser = events
      .select(col(tsCol), col(userCol).as("__user"),
        explode(sequence(lit(0), lit(roll - 1))).as("__k"))
      .select(
        expr(s"timestampadd(SECOND, __k * $winSec, $tsCol)").as("__cts"),
        col("__user"), (col("__k") === 0).cast("long").as("__now"))
      .withWatermark("__cts", s"$horizon seconds")
      .groupBy(window(col("__cts"), s"$winSec seconds"), col("__user"))
      .agg(max(col("__now")).as("__active_now"))
    perUser
      .groupBy(col("window"))
      .agg(sum(col("__active_now")).as("dau"), count(lit(1)).as("wau"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("dau"), col("wau"),
        when(col("wau") > 0L,
          col("dau").cast("double") / col("wau").cast("double"))
          .as("stickiness"))
  }

  /** Streaming heavy-hitters monitor — q65's intake sibling: per
    * event-time window, the Misra–Gries candidate set over the token
    * stream plus the window's exact token count N. The sketch is the
    * whole point at stream scale: exact per-window token frequencies
    * need the window's full token DOMAIN in state (unbounded on an
    * open-vocabulary feed), while the MG buffer is O(capacity) per
    * open window and keeps the classic guarantee — every token with
    * in-window frequency > N/(capacity+1) is IN the candidate list
    * (the spec pins it against brute-force counts of the fed data).
    * Candidates carry no counts by design: MG estimates undercount by
    * up to N/(capacity+1), so production recounts candidates exactly
    * in batch — q65's sketch-then-verify, split across the
    * stream/batch boundary. Candidates emit sorted (deterministic
    * output). ONE windowed aggregate; the MG buffer merges across
    * partial aggregation like any TypedImperativeAggregate (the
    * percentile_approx path quantileMonitor already rides); state ∝
    * open windows under the watermark.
    */
  def topkMonitor(docs: DataFrame, textCol: String, tsCol: String,
                  lateness: String, win: String, capacity: Int): DataFrame = {
    withKernels(docs)
      .select(col(tsCol), explode(split(col(textCol), " ")).as("__tok"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win))
      .agg(count(lit(1)).as("n_tokens"),
        call_function("graft_mg_candidates", col("__tok"), lit(capacity))
          .as("cands"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col("n_tokens"), array_sort(col("cands")).as("candidates"))
  }

  /** Per-key [[topkMonitor]] — Misra–Gries heavy-hitter candidates per
    * (event-time window × key), the per-slice form (the same grouping
    * step q213 applies to q205's AUC): a per-source intake board where
    * the global monitor would let one dominant source mask every other
    * slice's hitters. Identical kernel and guarantee per group — every
    * token with in-(window, key) frequency > n_tokens/(capacity+1)
    * survives its group's buffer. ONE windowed aggregate; state ∝ open
    * windows × keys × capacity.
    */
  def topkMonitorGrouped(docs: DataFrame, textCol: String, tsCol: String,
                         keyCol: String, lateness: String, win: String,
                         capacity: Int): DataFrame = {
    withKernels(docs)
      .select(col(tsCol), col(keyCol),
        explode(split(col(textCol), " ")).as("__tok"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col(keyCol))
      .agg(count(lit(1)).as("n_tokens"),
        call_function("graft_mg_candidates", col("__tok"), lit(capacity))
          .as("cands"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col(keyCol), col("n_tokens"), array_sort(col("cands")).as("candidates"))
  }

  /** q236's intake sibling — the streaming robust length gate: per
    * event-time window × key, the LOW-median, MAD, and k×MAD outlier
    * count of document token length, exactly as batch q236 defines
    * them (rank-⌈n/2⌉ order statistics, no interpolation — the spec
    * pins stream ≡ a scalar recount of the same rows). Two chained
    * stateful aggregates (the aucMonitor path): (window, key, length)
    * counts collapse map-side — state ∝ open windows × keys × DISTINCT
    * lengths, the value-domain bound that makes an exact windowed
    * median affordable (lengths, unlike an open vocabulary, have a
    * small domain) — then the per-window reduction folds the sorted
    * length histogram with three HOF passes: cumulative→median,
    * |len−med| re-grain→MAD, then the outlier count. No collect, no
    * driver loop; every fold runs over a ≤#distinct-lengths array.
    */
  def madMonitor(docs: DataFrame, textCol: String, tsCol: String,
                 keyCol: String, lateness: String, win: String,
                 k: Int = graft.queries.TextAnalysis.MadK): DataFrame = {
    // plain interpolation of (array, field) — not a %s/.format template,
    // which would throw UnknownFormatConversionException at plan-build
    // time if a future edit adds a % (modulo, percent literal) to the fold
    def medFold(arr: String, lenField: String): String =
      s"aggregate($arr, " +
        "struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS med), " +
        "(acc, x) -> struct(acc.cum + x.c, " +
        "CASE WHEN acc.med IS NULL AND (acc.cum + x.c) * 2 >= n_docs " +
        s"THEN x.$lenField ELSE acc.med END), " +
        "acc -> acc.med)"
    docs
      .withColumn("__ln", size(split(col(textCol), " ")).cast("long"))
      .withWatermark(tsCol, lateness)
      .groupBy(window(col(tsCol), win), col(keyCol), col("__ln"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("window"), col(keyCol))
      .agg(collect_list(struct(col("__ln").as("ln"), col("c").as("c")))
        .as("hist"), sum(col("c")).as("n_docs"))
      .withColumn("hist", array_sort(col("hist")))
      .withColumn("med", expr(medFold("hist", "ln")))
      .withColumn("dhist", expr(
        "array_sort(transform(hist, x -> struct(abs(x.ln - med) AS dv, x.c AS c)))"))
      .withColumn("mad", expr(medFold("dhist", "dv")))
      .withColumn("n_outliers", expr(
        s"aggregate(dhist, CAST(0 AS BIGINT), (acc, x) -> " +
          s"acc + CASE WHEN x.dv > $k * mad THEN x.c ELSE CAST(0 AS BIGINT) END)"))
      .select(graft.functions.ParityFns.epochMs(col("window.start")).as("w_start"),
        col(keyCol), col("n_docs"), col("med").as("med_len"),
        col("mad").as("mad_len"), col("n_outliers"))
  }

  final case class EwmaIn(gkey: String, day_ms: Long, n: Long)
  final case class EwmaSt(ewmaFp: Long)
  final case class EwmaFold(gkey: String, day_ms: Long, n: Long,
                            ewma_fp: Long, resid_fp: Long)

  /** The q174 recurrence as arbitrary state: per key, ONE fixed-point
    * BIGINT (the running EWMA). Finalized day-count rows arrive from the
    * upstream append-mode window aggregate; sorted in-batch by day (the
    * engine guarantees cross-batch order — a window emits only once the
    * watermark passes its end, and the watermark is monotonic, so every
    * day in batch b is strictly later than any day emitted before).
    * The α-step is the same ARITHMETIC SHIFT as batch q174
    * (s += (n·2^20 − s) >> 2 — floors identically for negative
    * residuals), so stream output is bit-identical to the batch fold's
    * prefix over the finalized days.
    */
  final class EwmaProcessor extends StatefulProcessor[String, EwmaIn, EwmaFold] {
    @transient private var st: ValueState[EwmaSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaSt](
        "ewma", Encoders.product[EwmaSt], TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[EwmaIn],
        timers: TimerValues): Iterator[EwmaFold] = {
      val out = List.newBuilder[EwmaFold]
      rows.toSeq.sortBy(_.day_ms).foreach { r =>
        val scaled = r.n << 20
        val (ewma, resid) =
          if (st.exists()) {
            val prev = st.get().ewmaFp
            val d = scaled - prev
            (prev + (d >> 2), d)
          } else (scaled, 0L)
        st.update(EwmaSt(ewma))
        out += EwmaFold(key, r.day_ms, r.n, ewma, resid)
      }
      out.result().iterator
    }
  }

  /** q174's intake sibling — the streaming EWMA adaptive-baseline gate:
    * daily event volume smoothed at α = 1/4 in 2^20 fixed point, emitted
    * per FINALIZED day as (gkey, day, n, ewma_fp, resid_fp) — the same
    * columns as batch q174, so a residual gate (|resid_fp| vs a
    * multiple of the baseline) pages on volume anomalies without
    * re-deriving anything. Composition: the ONE corpus-sized op is the
    * distributed day-window aggregate (conditional integer counts,
    * map-side combine, state ∝ open windows under the watermark); its
    * append output is day-grain — rows ∝ days — so the sequential fold
    * downstream ([[EwmaProcessor]], transformWithState) touches a
    * trickle regardless of event volume, and per-key state is ONE
    * BIGINT. `keyCol` buckets baselines (e.g. per source); None folds
    * the global daily volume exactly like q174. Requires the RocksDB
    * state store provider (transformWithState's contract).
    */
  def ewmaMonitor(events: DataFrame, lateness: String,
                  keyCol: Option[String] = None): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val gkey = keyCol.map(col).getOrElse(lit("all"))
    events
      .withWatermark("ts", lateness)
      .groupBy(window(col("ts"), "1 day"), gkey.as("gkey"))
      .agg(count(lit(1)).as("n"))
      .select(col("gkey"),
        graft.functions.ParityFns.epochMs(col("window.start")).as("day_ms"),
        col("n"))
      .as[EwmaIn]
      .groupByKey(_.gkey)
      .transformWithState(new EwmaProcessor, TimeMode.None(), OutputMode.Append())
      .select(col("gkey"), to_date(timestamp_millis(col("day_ms"))).as("day"),
        col("n"), col("ewma_fp"), col("resid_fp"))
  }

  /** Streaming keyword tagging — q150's intake sibling: each incoming
    * (doc_id, text) microbatch is tagged with its top-k TF-IDF keywords
    * under a STATIC [[graft.queries.TextAnalysis.tfidfFit]] model (fit
    * once from the corpus; the df table rides as a map literal, OOV
    * terms score at the rare-term idf floor). Stateless — per-batch
    * cost ∝ batch tokens, never the corpus; verdicts are
    * batch-independent and `StatefulOpsSpec` pins stream ≡ batch.
    */
  def keywordTag(incoming: DataFrame, fit: () => (Map[String, Long], Long),
      k: Int, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (df, nDocs) = fit()
        sink(graft.queries.TextAnalysis.keywordProbe(batch, df, nDocs, k), id); ()
      }
      .start()

  def surprisalGate(incoming: DataFrame, fit: () => (Map[String, Long], Long),
      maxBits: Double, checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val (vocab, oovBits) = fit()
        sink(graft.queries.TextAnalysis.surprisalScore(batch, vocab, oovBits)
          .withColumn("keep", org.apache.spark.sql.functions.col("bits_per_tok") <= maxBits), id)
        ()
      }
      .start()

  /** q247's intake sibling — boilerplate-line scrubbing on the stream:
    * every incoming document loses the lines whose hash60 is in the
    * OFFLINE-fitted boilerplate set
    * ([[graft.queries.Pipeline.boilerplateFit]] — the df aggregate runs
    * on the batch cadence; the artifact is a bounded line-hash list).
    * The scrub itself ([[graft.queries.Pipeline.scrubLines]]) is one
    * stateless per-row projection — the surprisalGate shape — so
    * the stream pays zero shuffles and holds zero state; exactly-once
    * per batch comes from foreachBatch + the checkpoint, pinned like
    * fuzzyGate's.
    *
    * `boiler` is a SUPPLIER, not a frozen list — the refresh seam
    * (round-17 verdict #4): production re-fits the artifact on the
    * batch cadence and swaps it in, and the gate reads the supplier
    * once per microbatch, so a swap is atomic at a batch boundary —
    * every row of one microbatch is scrubbed against exactly one fit,
    * no row is dropped or scrubbed twice across the swap, and batches
    * after the swap match a one-shot run with the new fit
    * (StatefulOpsSpec's refresh-lifecycle pin).
    */
  def boilerplateGate(incoming: DataFrame, textCol: String,
      boiler: () => Seq[Long], checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Pipeline.scrubLines(batch, textCol, boiler()), id)
        ()
      }
      .start()

  /** q248's intake sibling — per-source quality-budget admission on
    * the stream: every incoming (doc_id, source, text) is admitted iff
    * its fixed-point quality clears its source's OFFLINE-fitted cutoff
    * ([[graft.queries.Pipeline.budgetFit]] — the batch budget rule
    * re-runs on the batch cadence; the artifact is one cutoff per
    * source). A threshold is the only coherent serving semantics of
    * budget selection: an intake gate cannot rank a doc against
    * arrivals it hasn't seen, so it applies the quality bar the LAST
    * batch fit implied, and re-fits move the bar (the supplier refresh
    * seam). One stateless per-row projection against a #sources map
    * literal — zero shuffles, zero state; sources absent from the fit
    * admit nothing. Containment pin in StatefulOpsSpec: every doc the
    * batch rule selects clears the gate; the gate over-admits only
    * boundary ties within 2⁻²⁰ of quality, never under-admits.
    *
    * For HARD-budget enforcement in arrival order (exact, stateful)
    * see [[budgetLedger]] — the two are complementary serving modes.
    */
  def budgetGate(incoming: DataFrame, fit: () => Map[String, Long],
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    withKernels(incoming).writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(graft.queries.Pipeline.budgetProbe(batch, fit()), id)
        ()
      }
      .start()

  final case class BudgetLedgerIn(seq: Long, doc_id: Long, source: String,
                                  n_tok: Long)
  final case class BudgetLedgerOut(doc_id: Long, source: String, n_tok: Long,
                                   admitted: Boolean, spent_after: Long)

  /** [[budgetLedger]]'s per-key fold: state is ONE long per source —
    * the tokens spent on admitted docs so far. A doc is admitted iff
    * the ledger is strictly under the budget BEFORE it (so the doc
    * that crosses the line is kept — q248's crossing-doc rule — and
    * admission is an arrival-order prefix: the ledger only grows on
    * admission, so once it reaches the budget nothing ever admits
    * again). Rows inside a microbatch fold in `seq` order — the
    * caller-supplied arrival stamp — so replays are deterministic.
    */
  final class BudgetLedgerProcessor(budgets: Map[String, Long])
      extends StatefulProcessor[String, BudgetLedgerIn, BudgetLedgerOut] {
    @transient private var spent: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      spent = getHandle.getValueState[Long](
        "spent", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(
        key: String, rows: Iterator[BudgetLedgerIn],
        timers: TimerValues): Iterator[BudgetLedgerOut] = {
      val budget = budgets.getOrElse(key, 0L)
      var s = if (spent.exists()) spent.get() else 0L
      val out = rows.toSeq.sortBy(_.seq).map { r =>
        val admit = s < budget
        if (admit) s += r.n_tok
        BudgetLedgerOut(r.doc_id, key, r.n_tok, admit, s)
      }
      spent.update(s)
      out.iterator
    }
  }

  /** EXACT streaming budget enforcement — the stateful complement of
    * [[budgetGate]] (round-18 verdict #4). The gate applies a fitted
    * QUALITY threshold and honestly over/under-shoots the token total
    * as the stream drifts from the fit; this ledger enforces the hard
    * per-source token budget EXACTLY in arrival order: state is one
    * running long per source (`transformWithState`, the q146/q174
    * cheapest-state discipline), a doc is admitted iff the tokens
    * already admitted for its source are under the budget, and the
    * crossing doc is kept (q248's rule, ranking replaced by arrival).
    * The two compose: production gates on quality first, then the
    * ledger caps the spend.
    *
    * Batch equivalence (spec-pinned): because admission is a prefix,
    * the verdict equals `cum_before < budget` where cum_before is the
    * running token sum over ALL prior arrivals — a plain per-source
    * running-sum window in batch — so a stream replay in arrival order
    * reproduces the batch frame row for row. Exactly-once across
    * restart comes from the checkpointed state store version (a
    * re-planned batch reprocesses against the LAST COMMITTED ledger,
    * never a half-updated one — the no-double-spend pin). 100 TB
    * shape: one shuffle to the source key, #sources longs of state,
    * output grain = input grain. Requires the RocksDB state store
    * provider (transformWithState's contract).
    *
    * Input columns: (seq, doc_id, source, text); `seq` is the
    * deterministic arrival stamp the fold orders by within a batch.
    */
  def budgetLedger(incoming: DataFrame,
                   budgets: Map[String, Long]): Dataset[BudgetLedgerOut] = {
    val s = incoming.sparkSession
    import s.implicits._
    incoming
      .select(col("seq"), col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .as[BudgetLedgerIn]
      .groupByKey(_.source)
      .transformWithState(new BudgetLedgerProcessor(budgets),
        TimeMode.None(), OutputMode.Append())
  }
}
