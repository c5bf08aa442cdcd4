package graft.plans

import graft.functions.{CollectCapped, ConcentrationExpr, CosineSimilarity, DiversityExpr, DotProduct, GramMatrix, HammingDistance, Hash60, MinHashSig, MinHashSigH60, MisraGriesTopK, RepetitionExpr, Shingles3, Shingles3H60, ShinglesK, ShinglesKH60, SimHash, SortedContains, SortedPairsExpr, SpanWindowsExpr, TvdPartsExpr, VocabSum, SrpSignature, TopKByScore}
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** Session-extension entry point: registers the engine's native Catalyst
  * expressions so they are callable from both the Column API
  * (`call_function`) and SQL, plus the [[RewriteVectorHofs]] optimizer
  * rule. The kernels are mandatory — every operator has exactly one
  * (kernel) code path. [[graft.Sessions.local]] puts them on every repo
  * session with [[GraftExtensions.install]]; this class serves
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions` and
  * `.withExtensions` users.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(e.injectFunction)
    e.injectOptimizerRule(_ => RewriteVectorHofs)
  }
}

object GraftExtensions {

  private type Registration =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Install the kernels on a session built without the extension:
    * registers the same functions [[GraftExtensions#apply]] injects and
    * appends [[RewriteVectorHofs]] to `experimental.extraOptimizations`.
    * Idempotent — a no-op on a session that already has them, whether
    * from the extension or an earlier call.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(functions.head._1)) {
      functions.foreach { case (id, info, build) => registry.registerFunction(id, info, build) }
      if (!spark.experimental.extraOptimizations.contains(RewriteVectorHofs))
        spark.experimental.extraOptimizations ++= Seq(RewriteVectorHofs)
    }
  }

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  /** The int-literal parameter pattern shared by the sketch builders. */
  private def intLit(name: String, what: String, c: Expression): Int = c match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name $what must be an int literal, got $other")
  }

  /** Every kernel registration, shared by the extension and [[install]]. */
  private val functions: Seq[Registration] = {
    val regs = Seq.newBuilder[Registration]

    /** Register `name` with an arity gate: a wrong argument count from SQL
      * surfaces as a usage error naming the expected signature, never an
      * IndexOutOfBoundsException from the builder body.
      */
    def register(name: String, usage: String, arity: Int)(
        build: Seq[Expression] => Expression): Unit =
      regs += ((FunctionIdentifier(name), info(name, usage),
        (children: Seq[Expression]) =>
          if (children.length == arity) build(children)
          else throw new IllegalArgumentException(
            s"$name expects $arity argument(s) but got ${children.length}; usage: $usage")))

    register("graft_dot",
      "graft_dot(a, b) - sequential-fold dot product of two array<double>", 2)(
      c => DotProduct(c(0), c(1)))
    register("graft_cosine",
      "graft_cosine(a, b) - single-pass cosine similarity of two array<double>", 2)(
      c => CosineSimilarity(c(0), c(1)))
    register("graft_shingles3",
      "graft_shingles3(text) - distinct word 3-shingles of a string", 1)(
      c => Shingles3(c.head))
    register("graft_shingles",
      "graft_shingles(text, k) - distinct word k-shingles of a string", 2)(
      c => ShinglesK(c.head, intLit("graft_shingles", "k", c(1))))
    register("graft_minhash",
      "graft_minhash(shingles) - 32-permutation MinHash signature", 1)(
      c => MinHashSig(c.head))
    register("graft_shingles3_h60",
      "graft_shingles3_h60(text) - distinct word 3-shingles as 60-bit md5-prefix hashes", 1)(
      c => Shingles3H60(c.head))
    register("graft_span_windows",
      "graft_span_windows(text, span_tokens, anchor_mod) - winnowing-anchored " +
        "span windows as struct(i, h) with 60-bit window hashes", 3)(
      c => SpanWindowsExpr(c.head,
        intLit("graft_span_windows", "span_tokens", c(1)),
        intLit("graft_span_windows", "anchor_mod", c(2))))
    register("graft_vocab_sum",
      "graft_vocab_sum(toks, keys, vals, dflt) - sum of vocab.getOrElse(token, dflt) " +
        "over tokens; keys a SORTED array<string> literal, vals aligned array<bigint>", 4)(
      { c =>
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
        import org.apache.spark.unsafe.types.UTF8String
        def arr(what: String, x: Expression): ArrayData = x match {
          case Literal(a: ArrayData, _: ArrayType) => a
          case other => throw new IllegalArgumentException(
            s"graft_vocab_sum $what must be an array literal, got $other")
        }
        val keys = arr("keys", c(1)).toArray[UTF8String](StringType)
        val vals = arr("vals", c(2)).toLongArray()
        val dflt = c(3) match {
          case Literal(v: Long, LongType) => v
          case other => throw new IllegalArgumentException(
            s"graft_vocab_sum dflt must be a bigint literal, got $other")
        }
        require(keys.length == vals.length,
          s"graft_vocab_sum keys/vals length mismatch: ${keys.length} vs ${vals.length}")
        // the kernel binary-searches: a misordered literal would return
        // garbage silently — verify the caller contract once per plan
        require(keys.zip(keys.drop(1)).forall { case (a, b) => a.compareTo(b) < 0 },
          "graft_vocab_sum keys must be strictly ascending in UTF8 byte order")
        VocabSum(c.head, keys, vals, dflt)
      })
    register("graft_shingles_h60",
      "graft_shingles_h60(text, k) - distinct word k-shingles as 60-bit md5-prefix hashes", 2)(
      c => ShinglesKH60(c.head, intLit("graft_shingles_h60", "k", c(1))))
    register("graft_pairs",
      "graft_pairs(ids) - all ordered pairs struct(a, b) (i < j, row-major) of an array", 1)(
      c => SortedPairsExpr(c.head))
    register("graft_minhash_h60",
      "graft_minhash_h60(h60s) - 32-permutation MinHash signature over pre-hashed shingles", 1)(
      c => MinHashSigH60(c.head))
    register("graft_hash60",
      "graft_hash60(text) - 60-bit md5-prefix parity hash", 1)(
      c => Hash60(c.head))
    register("graft_repetition",
      "graft_repetition(text) - struct(n_tok, uniq_frac, dup2_frac, " +
        "dup3_frac): repetition-quality profile in one O(n) pass", 1)(
      c => RepetitionExpr(c.head))
    register("graft_concentration",
      "graft_concentration(text) - struct(n_tokens, top1_frac, top2_frac): " +
        "top token / top 2-gram instance shares in one O(n) pass", 1)(
      c => ConcentrationExpr(c.head))
    register("graft_diversity",
      "graft_diversity(text) - struct(n, ss, types): token count, " +
        "sum of squared multiplicities and distinct types in one O(n) pass", 1)(
      c => DiversityExpr(c.head))
    register("graft_tvd_parts",
      "graft_tvd_parts(text, keys, vals) - struct(n, sum_abs, sum_q): per-doc " +
        "TVD terms vs a reference model; keys a SORTED array<string> literal, " +
        "vals aligned array<double>", 3)(
      { c =>
        import org.apache.spark.sql.catalyst.util.ArrayData
        import org.apache.spark.sql.types.{ArrayType, StringType}
        import org.apache.spark.unsafe.types.UTF8String
        // SQL callers write array('a', …) — a foldable CreateArray, not
        // a Literal; accept any foldable array expression (the Column
        // API's typedLit stays the plain-Literal fast path)
        def arr(what: String, x: Expression): ArrayData = x match {
          case Literal(a: ArrayData, _: ArrayType) => a
          case f if f.foldable && f.dataType.isInstanceOf[ArrayType] =>
            f.eval() match {
              case a: ArrayData => a
              case other => throw new IllegalArgumentException(
                s"graft_tvd_parts $what folded to a non-array: $other")
            }
          case other => throw new IllegalArgumentException(
            s"graft_tvd_parts $what must be an array literal, got $other")
        }
        val keys = arr("keys", c(1)).toArray[UTF8String](StringType)
        val vals = arr("vals", c(2)).toDoubleArray()
        require(keys.length == vals.length,
          s"graft_tvd_parts keys/vals length mismatch: ${keys.length} vs ${vals.length}")
        // the kernel binary-searches: a misordered literal would return
        // garbage silently — verify the caller contract once per plan
        require(keys.zip(keys.drop(1)).forall { case (a, b) => a.compareTo(b) < 0 },
          "graft_tvd_parts keys must be strictly ascending in UTF8 byte order")
        TvdPartsExpr(c.head, keys, vals)
      })
    register("graft_simhash",
      "graft_simhash(text) - 32-bit frequency-weighted SimHash fingerprint", 1)(
      c => SimHash(c.head))
    register("graft_mg_candidates",
      "graft_mg_candidates(token, capacity) - Misra-Gries heavy-hitter candidate set", 2)(
      c => MisraGriesTopK(c.head, intLit("graft_mg_candidates", "capacity", c(1))))
    register("graft_topk",
      "graft_topk(score, id, k) - bounded top-k by (score DESC, id ASC), map-side combinable", 3)(
      c => TopKByScore(c(0), c(1), intLit("graft_topk", "k", c(2))))
    register("graft_gram",
      "graft_gram(vec) - exact upper-triangle gram matrix of array<bigint> vectors, row-major", 1)(
      c => GramMatrix(c.head))
    // Spark ships Bloom-filter expressions for its own runtime-filter
    // rewrites but does not register them in the public FunctionRegistry;
    // expose them — they are exactly the right primitive for broadcast-
    // cheap membership pre-filters (q100's decontamination prune).
    register("graft_bloom_agg",
      "graft_bloom_agg(xxhash64_col, n_items, n_bits) - Bloom filter (binary) of a long column", 3)(
      c => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        c(0), c(1), c(2)))
    register("graft_bloom_contains",
      "graft_bloom_contains(bloom, xxhash64_value) - membership probe; false = definitely absent", 2)(
      c => org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(c(0), c(1)))
    register("graft_collect_capped",
      "graft_collect_capped(e, cap) - the cap smallest elements ascending; " +
        "slice(sort_array(collect_list(e)), 1, cap) with O(cap) buffers", 2)(
      c => CollectCapped(c(0), intLit("graft_collect_capped", "cap", c(1))))
    register("graft_srpsig",
      "graft_srpsig(v, bits) - sign-random-projection sketch of an array<double>", 2)(
      c => SrpSignature(c.head, intLit("graft_srpsig", "bits", c(1))))
    register("graft_sorted_contains",
      "graft_sorted_contains(sorted_array_bigint, v) - binary-search membership " +
        "(caller guarantees ascending sort)", 2)(
      c => SortedContains(c(0), c(1)))
    register("graft_hamming",
      "graft_hamming(a, b) - Hamming distance between two array<int> signatures", 2)(
      c => HammingDistance(c(0), c(1)))
    regs.result()
  }
}
