package graft

import graft.queries.Similarity.{SigBits, planeSql}
import graft.queries.TextAnalysis.{Top1Max, Top2Max}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Interpreted higher-order-function reference formulations of the graft
  * kernels. Main code always runs the kernels; the parity specs
  * (VectorExprSpec, AnnRecallSpec, TextKernelSpec) compare each kernel
  * against its reference here, bit-for-bit.
  */
object HofRefs {

  /** Dot product via zip_with + left-fold aggregate (interpreted HOF
    * reference formulation, used by specs to cross-check the native
    * expression bit-for-bit).
    */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  def l2NormHof(v: Column): Column = sqrt(dotHof(v, v))

  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (l2NormHof(a) * l2NormHof(b))

  /** Interpreted-HOF reference formulations of the SRP signature and
    * signature Hamming distance — the cross-check surface AnnRecallSpec
    * compares the graft_srpsig / graft_hamming kernels against. Only the
    * mixer in [[planeSql]] and the sequential left-fold order matter for
    * parity.
    */
  def srpSigHof(v: String): Column = expr(
    s"""transform(sequence(0, ${SigBits - 1}), p ->
       |  CASE WHEN aggregate(
       |    transform(sequence(0, size($v) - 1), i -> element_at($v, i + 1) *
       |      ${planeSql(s"p * size($v) + i")}),
       |    CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) > 0
       |  THEN 1 ELSE 0 END)""".stripMargin)

  def hammingHof(a: String, b: String): Column = expr(
    s"""aggregate(zip_with($a, $b,
       |  (x, y) -> CASE WHEN x = y THEN 0 ELSE 1 END), 0, (acc, z) -> acc + z)""".stripMargin)

  /** graft_pairs' reference: all ordered pairs (fields `a` < `b`) of a
    * sorted array (HigherOrderFunctions are CodegenFallback —
    * interpreted lambda dispatch per posting).
    */
  def sortedPairsHof(ids: Column): Column =
    flatten(transform(ids, (x, i) =>
      transform(slice(ids, i + lit(2), size(ids)),
        y => struct(x.as("a"), y.as("b")))))

  /** Word k-shingles of `t` as an array column (empty when the doc is
    * shorter than k).
    */
  private def shingles(t: Column, k: Int): Column =
    when(size(t) >= k,
      transform(sequence(lit(1), size(t) - (k - 1)),
        i => concat_ws(" ", slice(t, i, lit(k)))))
      .otherwise(typedLit(Seq.empty[String]))

  /** The interpreted-HOF formulation of Pipeline.repetitionProfile — the
    * parity witness the graft_repetition kernel is pinned against.
    */
  def repetitionProfileHof(text: Column): Column = {
    val t = split(text, " ")
    val n = size(t)
    def dupFrac(k: Int): Column = {
      val g = shingles(t, k)
      when(size(g) > 0,
        lit(1.0) - size(array_distinct(g)).cast("double") / size(g).cast("double"))
        .otherwise(lit(0.0))
    }
    struct(n.as("n_tok"),
      (size(array_distinct(t)).cast("double") / n.cast("double")).as("uniq_frac"),
      dupFrac(2).as("dup2_frac"), dupFrac(3).as("dup3_frac"))
  }

  /** The interpreted-HOF formulation of TextAnalysis.concentration — the
    * parity witness the graft_concentration kernel is pinned against.
    */
  def concentrationHof(text: Column): Column = {
    val t = split(text, " ")
    def topShare(arr: Column): Column =
      when(size(arr) === 0, lit(0.0)).otherwise(
        array_max(transform(array_distinct(arr),
          g => size(filter(arr, x => x === g)))).cast("double") /
          size(arr).cast("double"))
    val g2 = when(size(t) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => concat_ws(" ", element_at(t, i), element_at(t, i + 1))))
    val top1 = topShare(t)
    val top2 = topShare(g2)
    struct(
      size(t).cast("int").as("n_tokens"),
      top1.as("top1_frac"),
      top2.as("top2_frac"),
      (top1 <= Top1Max && top2 <= Top2Max).as("keep"))
  }

  /** q180's interpreted run-length fold over sort_array(split(text,
    * ' ')) — the graft_diversity kernel's parity pin. Emits
    * struct(n, ss, types) over the column named `text`.
    */
  def diversityHof: Column = expr(
    """aggregate(
      |  sort_array(split(text, ' ')),
      |  named_struct('prev', CAST(NULL AS STRING), 'run', 0L,
      |    'n', 0L, 'ss', 0L, 'types', 0L),
      |  (acc, t) -> named_struct(
      |    'prev', t,
      |    'run', CASE WHEN acc.prev IS NOT NULL AND t = acc.prev
      |      THEN acc.run + 1 ELSE 1L END,
      |    'n', acc.n + 1,
      |    'ss', acc.ss + CASE WHEN acc.prev IS NOT NULL AND t = acc.prev
      |      THEN acc.run * 2 + 1 ELSE 1L END,
      |    'types', acc.types + CASE WHEN acc.prev IS NOT NULL
      |      AND t = acc.prev THEN 0L ELSE 1L END),
      |  acc -> named_struct('n', acc.n, 'ss', acc.ss,
      |    'types', acc.types))""".stripMargin.replace("\n", " "))

  /** The interpreted-HOF form of TextAnalysis.docTvd — the graft_tvd_parts
    * kernel's parity pin.
    */
  def docTvdHof(text: Column, ref: Map[String, Double]): Column = {
    val refMap = typedLit(ref)
    // empty-split artifacts are NOT tokens: "a  b" must score like
    // "a b", or a whitespace-formatting change alone pages the drift
    // monitor (the same =!= "" rule every sibling kernel applies)
    val toks = filter(split(text, " "), t => t =!= "")
    val n = size(toks).cast("double")
    val dist = array_distinct(toks)
    val q = (t: Column) => coalesce(element_at(refMap, t), lit(0.0))
    val sumAbs = aggregate(dist, lit(0.0), (acc, t) =>
      acc + abs(size(filter(toks, x => x === t)).cast("double") / n - q(t)))
    val sumQ = aggregate(dist, lit(0.0), (acc, t) => acc + q(t))
    // TOTAL by definition: a NULL-text or zero-token doc is maximally
    // drifted (1.0), never NULL — a feed that starts shipping empty
    // payloads must make the monitor louder, not quieter (NULL tvd
    // would fall out of avg() and the > tau count both)
    when(text.isNull || n === 0.0, lit(1.0))
      .otherwise((sumAbs + (lit(1.0) - sumQ)) / 2)
  }
}
