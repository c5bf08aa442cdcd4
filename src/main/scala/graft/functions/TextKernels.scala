package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.DataType
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the native text-dedup expressions. Each is the
  * exact algorithm of the HOF formulation it replaces (and of the DuckDB
  * oracle SQL), just evaluated as straight-line Java instead of
  * per-element interpreted lambdas:
  *
  * - shingles3: whitespace tokens → distinct word 3-shingles in
  *   first-occurrence order (= split + transform/slice/concat_ws +
  *   array_distinct).
  * - hashModP: md5 hex → first 15 hex chars as a 60-bit integer → mod
  *   P=2^31-1 (= conv(substring(md5(x),1,15),16,10) % P).
  * - minhashSig: 32 permutations (a·h+b) mod P folded to their minima
  *   over a doc's shingle hashes (= 32 aggregate(..., least) HOFs).
  */
object TextKernels {

  val P: Long = ParityFns.P
  val NumHashes = 32

  /** Canonical permutation constants, shared with the DuckDB oracle
    * (interpolated as literals there).
    */
  val seeds: IndexedSeq[(Long, Long)] = (0 until NumHashes).map { j =>
    val a = (2654435761L * (2 * j + 1)) % P
    val b = (40503L * (j + 7) * 104729L) % P
    (if (a == 0) 1L else a, b)
  }
  private val seedA: Array[Long] = seeds.map(_._1).toArray
  private val seedB: Array[Long] = seeds.map(_._2).toArray

  private val md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of md5 as a long (60 bits), mod P. Equals the
    * column formulation `conv(substring(md5(x),1,15),16,10) % P`: 15 hex
    * digits are the first 7.5 bytes, i.e. the big-endian first-8-bytes
    * value shifted right one nibble.
    */
  def hashModP(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    (v >>> 4) % P
  }

  /** Distinct word 3-shingles in first-occurrence order. Tokenization is
    * `split(text, " ")` with Spark's limit=-1 semantics (trailing empty
    * tokens kept), so parity with the HOF path holds even on irregular
    * spacing.
    */
  def shingles3(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Distinct word k-shingles in first-occurrence order — the width-
    * generic form of [[shingles3]] (kept separate so the pinned 3-gram
    * hot path is untouched). Equals
    * `array_distinct(transform(sequence(..), i -> concat_ws(' ',
    * slice(toks, i, k))))` with Spark's split limit=-1 semantics.
    */
  def shinglesK(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (k <= 0 || toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + k - 1 < toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** First 15 hex chars of md5 as a long (60 bits) — the column
    * formulation `conv(substring(md5(x),1,15),16,10)` without the hex
    * round-trip (digest bytes → shift), ~3× cheaper per call.
    */
  def hash60(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Distinct word 3-shingles hashed to their 60-bit md5 prefix, in
    * first-occurrence order — [[shingles3]] ∘ [[hash60]] fused
    * (round-18 verdict #5, the q43/q41 constant factor): the separate
    * formulation materializes every distinct shingle as a UTF8String
    * array element, explodes the STRING stream, and md5-hashes each
    * row in a second expression pass; fused, the shingle string lives
    * only as a transient JVM String feeding the digest and the
    * exploded stream is pure longs. DEDUP IS ON THE STRING, not the
    * hash — the Jaccard/containment denominators are distinct-STRING
    * counts (both engines compute them before hashing), so a 2⁻⁶⁰
    * collision inside one doc must still contribute two array slots.
    * Result is bit-identical to `transform(shingles3(t), hash60)` by
    * construction (same tokenizer, same dedup, same digest bytes).
    */
  def shingles3H60(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 3) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + 2 < toks.length) {
      seen.add(toks(i) + " " + toks(i + 1) + " " + toks(i + 2))
      i += 1
    }
    val out = new Array[Long](seen.size())
    val d = md5.get()
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      d.reset()
      val h = d.digest(it.next()
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      out(j) = v >>> 4
      j += 1
    }
    new GenericArrayData(out)
  }

  /** MinHash signature folded over PRE-HASHED shingles (the
    * [[shingles3H60]] output): hashModP(s) ≡ hash60(s) % P, so the 32
    * permutation minima over `h60 % P` equal [[minhashSig]] over the
    * corresponding strings — one md5 pass per shingle feeds BOTH the
    * signature and the verification set, where the string formulation
    * digested every shingle twice (once in graft_minhash, once in the
    * hs transform).
    */
  def minhashSigH60(h60s: ArrayData): ArrayData = {
    val n = h60s.numElements()
    val mins = Array.fill[Long](NumHashes)(P)
    var i = 0
    while (i < n) {
      val h = h60s.getLong(i) % P
      var j = 0
      while (j < NumHashes) {
        val v = (seedA(j) * h + seedB(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Distinct word k-shingles hashed to their 60-bit md5 prefix, in
    * first-occurrence order — [[shinglesK]] ∘ [[hash60]] fused, the
    * k-gram generalization of [[shingles3H60]] (q110's source-overlap
    * index: the per-shingle shuffle key drops from a ~k·word-length
    * string to 8 bytes, and the shingle string lives only as a
    * transient feeding the digest). DEDUP IS ON THE STRING (distinct
    * counts are distinct-STRING counts; a 2⁻⁶⁰ collision still
    * contributes two slots), and the consumer's oracle hashes
    * IDENTICALLY, so engine/oracle parity is unconditional.
    */
  def shinglesKH60(text: UTF8String, k: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (k <= 0 || toks.length < k) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i + k - 1 < toks.length) {
      val sb = new java.lang.StringBuilder
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size())
    val d = md5.get()
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      d.reset()
      val h = d.digest(it.next()
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var v = 0L
      var b = 0
      while (b < 8) { v = (v << 8) | (h(b) & 0xffL); b += 1 }
      out(j) = v >>> 4
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing-anchored span windows of a doc, fused: for each 0-based
    * token position i in [0, n−spanTokens], if the anchor token's
    * 16-bit md5-prefix hash ≡ 0 (mod anchorMod), emit
    * struct(i, h = 60-bit md5-prefix hash of the spanTokens-token
    * window joined with ' '). Bit-identical to the HOF formulation it
    * replaced (filter over sequence + per-anchor md5(array_join(slice))),
    * which paid an INTERPRETED md5 eval per token position (filter is
    * CodegenFallback) on a corpus-grain scan stage (q123/q126/q247 span
    * index + spanGate); the DuckDB oracles keep that formulation. Docs
    * with fewer than spanTokens tokens return the empty array.
    */
  def spanWindows(text: UTF8String, spanTokens: Int, anchorMod: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    if (n < spanTokens) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](8)
    val d = md5.get()
    var i = 0
    while (i <= n - spanTokens) {
      d.reset()
      val ah = d.digest(toks(i)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // first 4 hex chars = first 2 digest bytes, as an unsigned int
      val h16 = ((ah(0) & 0xffL) << 8) | (ah(1) & 0xffL)
      if (h16 % anchorMod == 0) {
        val sb = new java.lang.StringBuilder
        var j = 0
        while (j < spanTokens) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        d.reset()
        val wh = d.digest(sb.toString
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var v = 0L
        var b = 0
        while (b < 8) { v = (v << 8) | (wh(b) & 0xffL); b += 1 }
        out.add(new GenericInternalRow(Array[Any](i, v >>> 4)))
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** q109's top-gram concentration — n_tokens plus the share of token
    * instances taken by the most frequent token and of 2-gram instances
    * taken by the most frequent 2-gram — as one straight-line pass:
    * struct(n_tokens INT, top1_frac DOUBLE, top2_frac DOUBLE). The HOF
    * formulation (transform(array_distinct(arr), g -> size(filter(arr,
    * x -> x = g)))) is O(distinct × n) per row AND interpreted (every
    * HigherOrderFunction is CodegenFallback); this is O(n) hash
    * counting. Value parity: max multiplicity equals the HOF's
    * max-over-distinct count; divisions are the same int→double casts
    * and one IEEE divide; bigrams are tok[i] + ' ' + tok[i+1]
    * (= concat_ws(' ', …) on non-null elements); tokenization is
    * split(text, " ") with limit=-1 semantics; n is never 0 (split
    * returns [""] on the empty string) but the 0-guard mirrors the
    * HOF's when(size = 0) branch anyway.
    */
  def concentration(text: UTF8String): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val cnt1 = new java.util.HashMap[String, Integer](n * 2)
    var max1 = 0
    var i = 0
    while (i < n) {
      val c = cnt1.merge(toks(i), 1, (a, b) => a + b)
      if (c > max1) max1 = c
      i += 1
    }
    val top1 = if (n == 0) 0.0 else max1.toDouble / n.toDouble
    var top2 = 0.0
    if (n >= 2) {
      val cnt2 = new java.util.HashMap[String, Integer](n * 2)
      var max2 = 0
      var j = 0
      while (j + 1 < n) {
        val c = cnt2.merge(toks(j) + " " + toks(j + 1), 1, (a, b) => a + b)
        if (c > max2) max2 = c
        j += 1
      }
      top2 = max2.toDouble / (n - 1).toDouble
    }
    new GenericInternalRow(Array[Any](n, top1, top2))
  }

  /** q96's within-document repetition profile — token count, unique-
    * token ratio, duplicated-bigram and duplicated-trigram fractions —
    * as one straight-line O(n) pass: struct(n_tok INT, uniq_frac
    * DOUBLE, dup2_frac DOUBLE, dup3_frac DOUBLE). The HOF formulation
    * (three `array_distinct ∘ transform(sequence…)` chains per row) is
    * interpreted (every HigherOrderFunction is CodegenFallback) and
    * materializes three shingle arrays per document; this hash-counts
    * in place. Value parity with the HOF form, term by term:
    * tokenization is split(text, " ") with limit=-1 semantics; distinct
    * counts are HashSet sizes (= size(array_distinct(…)) — same String
    * equality); k-gram strings are space-joins of adjacent tokens
    * (= concat_ws(' ', slice(t, i, k)) over non-null elements); each
    * fraction is the same int→double casts and one IEEE divide; for
    * n < k the HOF's `when(size(t) >= k, …).otherwise([])` branch
    * yields an empty array whose `when(size > 0)` guard then emits 0.0
    * — mirrored by the n-bound checks here. n is never 0 (split of ""
    * is [""]).
    */
  def repetition(text: UTF8String): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val uniq = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) { uniq.add(toks(i)); i += 1 }
    val uniqFrac = uniq.size.toDouble / n.toDouble
    var dup2 = 0.0
    if (n >= 2) {
      val g2 = new java.util.HashSet[String](n * 2)
      var j = 0
      while (j + 1 < n) { g2.add(toks(j) + " " + toks(j + 1)); j += 1 }
      dup2 = 1.0 - g2.size.toDouble / (n - 1).toDouble
    }
    var dup3 = 0.0
    if (n >= 3) {
      val g3 = new java.util.HashSet[String](n * 2)
      var j = 0
      while (j + 2 < n) {
        g3.add(toks(j) + " " + toks(j + 1) + " " + toks(j + 2)); j += 1
      }
      dup3 = 1.0 - g3.size.toDouble / (n - 2).toDouble
    }
    new GenericInternalRow(Array[Any](n, uniqFrac, dup2, dup3))
  }

  /** q180's lexical-diversity counts — token count, Σ multiplicity² and
    * distinct-type count — as one O(n) hash-count pass:
    * struct(n BIGINT, ss BIGINT, types BIGINT). The HOF formulation is
    * an interpreted run-length fold over sort_array(split(text, ' '))
    * (aggregate is CodegenFallback), paying O(n log n) sort + a
    * per-token interpreted 5-field struct rebuild. Value parity: a
    * token with multiplicity c contributes Σ_{k=1..c}(2k−1) = c² to the
    * fold's ss, 1 to types on its first run element and 1 to n per
    * instance — exactly the hash counts here; all-integer, so order is
    * immaterial. Tokenization is split(text, " ") with limit=-1
    * semantics (empty tokens kept, '' splits to ['']).
    */
  def diversity(text: UTF8String): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    val cnt = new java.util.HashMap[String, Integer](n * 2)
    var i = 0
    while (i < n) { cnt.merge(toks(i), 1, (a, b) => a + b); i += 1 }
    var ss = 0L
    val it = cnt.values().iterator()
    while (it.hasNext) { val c = it.next().toLong; ss += c * c }
    new GenericInternalRow(Array[Any](n.toLong, ss, cnt.size.toLong))
  }

  /** The per-doc TVD terms behind [[graft.queries.TextAnalysis.docTvd]]
    * (the streaming driftMonitor's scorer) — struct(n INT, sum_abs
    * DOUBLE, sum_q DOUBLE) in one O(n + d·log V) pass. The HOF
    * formulation is O(distinct × n) per row AND interpreted: for every
    * distinct token an interpreted `size(filter(toks, x = t))` rescan
    * of the whole token array, inside a CodegenFallback aggregate whose
    * per-term `element_at` is a linear map-literal scan. Bit parity
    * with that fold: tokens are split(text, " ") minus empties (the
    * `t <> ''` rule), distinct tokens iterate in FIRST-APPEARANCE order
    * (array_distinct's order — LinkedHashMap insertion order here), and
    * each term is the identical IEEE expression tree evaluated in the
    * identical sequential fold order: sum_abs += abs((double)count / n
    * − q(t)), sum_q += q(t), with q(t) = ref.getOrElse(t, 0.0) via
    * binary search over caller-sorted keys (the vocabSum contract).
    */
  def tvdParts(text: UTF8String, keys: Array[UTF8String],
               vals: Array[Double]): InternalRow = {
    val toks = text.toString.split(" ", -1)
    val counts = new java.util.LinkedHashMap[String, Integer](toks.length * 2)
    var n = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (!t.isEmpty) { counts.merge(t, 1, (a, b) => a + b); n += 1 }
      i += 1
    }
    val nD = n.toDouble
    var sumAbs = 0.0
    var sumQ = 0.0
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val t = UTF8String.fromString(e.getKey)
      var lo = 0
      var hi = keys.length - 1
      var hit = -1
      while (lo <= hi && hit < 0) {
        val mid = (lo + hi) >>> 1
        val c = keys(mid).compareTo(t)
        if (c == 0) hit = mid
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      val q = if (hit >= 0) vals(hit) else 0.0
      sumAbs += Math.abs(e.getValue.toDouble / nD - q)
      sumQ += q
    }
    new GenericInternalRow(Array[Any](n, sumAbs, sumQ))
  }

  /** All ordered pairs (out[idx] = struct(a = in[i], b = in[j]), i < j,
    * row-major) of an array — the in-bucket candidate generator, fused.
    * Bit-identical to the HOF formulation it replaces
    * (flatten(transform(ids, (x, i) => transform(slice(ids, i + 2,
    * size(ids)), y => struct(x, y))))): same pair set, same order, same
    * element references. The HOF chain is CodegenFallback in Spark
    * (every HigherOrderFunction is), so the dedup family's hottest
    * stage — bucket → k(k−1)/2 candidate pairs — paid per-posting
    * interpreted lambda dispatch plus O(k) intermediate slice/struct
    * array allocations; this kernel is one straight-line pass into one
    * exactly-sized output array. `elemType` makes it element-agnostic
    * (structs in the band buckets, bare longs in the membership legs).
    */
  def sortedPairs(ids: ArrayData, elemType: DataType): ArrayData = {
    val k = ids.numElements()
    if (k < 2) return new GenericArrayData(Array.empty[Any])
    val elems = new Array[Any](k)
    var i = 0
    while (i < k) { elems(i) = ids.get(i, elemType); i += 1 }
    val out = new Array[Any](k * (k - 1) / 2)
    var idx = 0
    i = 0
    while (i < k) {
      var j = i + 1
      while (j < k) {
        out(idx) = new GenericInternalRow(Array[Any](elems(i), elems(j)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Σ over a doc's tokens of vocab.getOrElse(token, dflt) — the
    * bounded-vocab fold behind surprisal (q118), DSIR weighting (q127)
    * and marker counting (vals = 1, dflt = 0: q60/q90/q113/q135 lang
    * and stopword gates), fused. The HOF formulation
    * (aggregate(toks, 0, (acc, t) -> acc + coalesce(element_at(m, t),
    * dflt))) is doubly interpreted: `aggregate` is CodegenFallback AND
    * element_at on a map literal is a LINEAR scan of ArrayBasedMapData
    * per token. Here: one codegen'd call, binary search per token.
    * CALLER CONTRACT: `keys` sorted ascending by UTF8String byte order
    * (the registry builder verifies once at plan build), `vals`
    * aligned with `keys`.
    */
  def vocabSum(toks: ArrayData, keys: Array[UTF8String],
               vals: Array[Long], dflt: Long): Long = {
    val n = toks.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i)
      var lo = 0
      var hi = keys.length - 1
      var hit = -1
      while (lo <= hi && hit < 0) {
        val mid = (lo + hi) >>> 1
        val c = keys(mid).compareTo(t)
        if (c == 0) hit = mid
        else if (c < 0) lo = mid + 1
        else hi = mid - 1
      }
      acc += (if (hit >= 0) vals(hit) else dflt)
      i += 1
    }
    acc
  }

  /** Binary-search membership in a SORTED-ascending long array (caller
    * contract — violations return garbage, not errors, exactly like
    * java.util.Arrays.binarySearch). The probe for bounded fitted sets
    * shipped as array literals (the q247 boilerplate line hashes):
    * array_contains is a linear scan per row — at a 10k-line artifact
    * that is 10k comparisons per document line, where this is 14.
    */
  def sortedContains(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                     v: Long): Boolean = {
    var lo = 0
    var hi = arr.numElements() - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val m = arr.getLong(mid)
      if (m == v) return true
      else if (m < v) lo = mid + 1
      else hi = mid - 1
    }
    false
  }

  /** First 8 hex chars of md5 as a long in [0, 2^32) — the column
    * formulation `conv(substring(md5(x),1,8),16,10)`.
    */
  def hash32(s: UTF8String): Long = {
    val d = md5.get()
    d.reset()
    val h = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < 4) { v = (v << 8) | (h(i) & 0xffL); i += 1 }
    v
  }

  /** SimHash fingerprint: per-token md5-based 32-bit hash, bit sums
    * weighted by token frequency, sign → bit. One pass per row — the
    * relational formulation needs two full-data shuffles ((doc, token)
    * and (doc, bit) group-bys); this needs none, which is the difference
    * at 100 TB. Integer bit-sums commute, so map iteration order cannot
    * change the result.
    */
  def simhash(text: UTF8String): Long = {
    val toks = text.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Long](toks.length * 2)
    var i = 0
    while (i < toks.length) { counts.merge(toks(i), 1L, _ + _); i += 1 }
    val acc = new Array[Long](32)
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val h = hash32(UTF8String.fromString(e.getKey))
      val cnt = e.getValue
      var j = 0
      while (j < 32) {
        if (((h >> j) & 1L) == 1L) acc(j) += cnt else acc(j) -= cnt
        j += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 32) { if (acc(j) > 0) out |= 1L << j; j += 1 }
    out
  }

  /** MinHash signature (32 longs) from a shingle array: min over
    * shingles of (a_j·hashModP(s) + b_j) mod P, init P — identical fold
    * result to the 32-aggregate HOF formulation.
    */
  def minhashSig(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val sig = Array.fill[Long](NumHashes)(P)
    var i = 0
    while (i < n) {
      val h = hashModP(shingles.getUTF8String(i))
      var j = 0
      while (j < NumHashes) {
        val v = (seedA(j) * h + seedB(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }
}
