package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document token kernels.
  *
  * The higher-order-function forms these replace (`transform`,
  * `array_min`, `array_distinct` compositions) are CORRECT but
  * interpreted: Spark evaluates the lambda per element through boxed
  * `InternalRow` plumbing, and a 32-hash MinHash signature costs
  * 32 lambda dispatches per token per doc. Profiled on the sf0.1
  * documents fixture, the signature + token-set stages of
  * `x4_minhash_lsh` burned ~9 s of summed task CPU on ~270k tokens —
  * ~100x the arithmetic's real cost. Each kernel here is ONE loop in
  * plain JVM code (the [[VecDot]] rationale applied to the token
  * pipelines), with eval and codegen sharing the same static kernel so
  * the two paths cannot drift.
  *
  * Bit-equivalence with the HOF forms is pinned by TokenKernelsSpec:
  *  - [[MinHashSig]] == `array(array_min(transform(w_i)) ...)` over
  *    `transform(array_distinct(toks), md5w % M)` — distinct is dropped
  *    because min() is idempotent under duplicates;
  *  - [[TokenXx64Set]] == `transform(array_distinct(toks), xxhash64)`
  *    (first-occurrence order; a null token hashes to the seed, which
  *    is what `xxhash64(null)` returns);
  *  - [[BigramHashPairs]] == `explode(adjacentPairs(toks))` followed by
  *    `xxhash64(l, r)` / `xxhash64(l)` (the multi-arg xxhash64 chains
  *    the per-value hash through the seed, nulls skipped).
  */
object TokenKernels {

  private val md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 4 md5 bytes as an unsigned 32-bit value — bit-identical to
    * [[PortableHash.md5wBytes]] but on a thread-cached digest (the
    * per-call `MessageDigest.getInstance` provider lookup is measurable
    * at hundreds of thousands of tokens). */
  private def md5w(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  // per-n affine coefficient arrays, computed once (PortableHash.a/b
  // re-run the SplitMix scramble per call)
  private val coeffCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def coeffs(n: Int): (Array[Long], Array[Long]) =
    coeffCache.computeIfAbsent(n,
      m => (Array.tabulate(m)(PortableHash.a), Array.tabulate(m)(PortableHash.b)))

  /** MinHash signature kernel: n affine mins over the md5 words of the
    * non-null tokens. No tokens -> array of n nulls (what
    * `array_min(transform([], ...))` yields per position). */
  def minhashSig(arr: ArrayData, n: Int): ArrayData = {
    val (as, bs) = coeffs(n)
    val mins = new Array[Long](n)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var any = false
    var j = 0
    val ne = arr.numElements()
    while (j < ne) {
      if (!arr.isNullAt(j)) {
        any = true
        val w = md5w(arr.getUTF8String(j).getBytes) % PortableHash.M
        var i = 0
        while (i < n) {
          val h = (as(i) * w + bs(i)) % PortableHash.P
          if (h < mins(i)) mins(i) = h
          i += 1
        }
      }
      j += 1
    }
    if (!any) new GenericArrayData(Array.fill[Any](n)(null))
    else new GenericArrayData(mins)
  }

  /** MinHash band buckets straight from the token array: the
    * [[minhashSig]] mins folded per band with the portable polynomial
    * (acc * 1000003 + h) mod 1e9+7 — one kernel instead of signature
    * materialization + interpreted `aggregate(slice(sig, ...))` per
    * band. No tokens -> all bands null (what the HOF fold yields when
    * every signature position is null). */
  def minhashBandBuckets(arr: ArrayData, numHashes: Int,
      bands: Int): ArrayData = {
    val sig = minhashSig(arr, numHashes)
    if (sig.isNullAt(0)) return new GenericArrayData(Array.fill[Any](bands)(null))
    val r = numHashes / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var acc = 0L
      var i = 0
      while (i < r) {
        acc = (acc * 1000003L + sig.getLong(b * r + i)) % 1000000007L
        i += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct tokens in first-occurrence order, xxhash64(seed 42) each.
    * A null token dedups like any value and hashes to the seed itself —
    * matching `transform(array_distinct(t), xxhash64)` exactly. */
  def tokenXx64Set(arr: ArrayData): ArrayData = {
    val ne = arr.numElements()
    val seen = new java.util.LinkedHashSet[UTF8String](Math.max(ne * 2, 8))
    var sawNull = false
    var nullPos = -1
    val order = new java.util.ArrayList[UTF8String](ne)
    var j = 0
    while (j < ne) {
      if (arr.isNullAt(j)) {
        if (!sawNull) { sawNull = true; nullPos = order.size(); order.add(null) }
      } else {
        val s = arr.getUTF8String(j)
        if (seen.add(s)) order.add(s)
      }
      j += 1
    }
    val out = new Array[Long](order.size())
    var i = 0
    while (i < out.length) {
      val s = order.get(i)
      out(i) = if (s == null) 42L
        else XxHash64Function.hash(s, StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val spaceSep = UTF8String.fromString(" ")

  /** Distinct n-gram xxhash64 set straight from the token array — ONE
    * fused loop replacing the interpreted shingle chain
    * `transform(array_distinct(transform(sequence(0, greatest(size-n,
    * 0)), i -> concat_ws(" ", slice(toks, i+1, n)))), xxhash64)`:
    * grams start at every index 0..max(ne-n, 0) (so a doc shorter than
    * n tokens yields ONE gram of all its tokens, and an empty array
    * yields one empty-string gram — matching `sequence(0, 0)` +
    * `slice`), `concat_ws` null-skipping included, distinct in
    * first-occurrence order, each gram hashed with xxhash64(seed 42)
    * over its UTF-8 bytes exactly as the builtin does. The HOF form
    * materialized every gram STRING through boxed lambda plumbing plus
    * an O(g^2)-ish array_distinct before hashing; this builds each gram
    * once and hashes it in place. */
  def ngramXx64Set(arr: ArrayData, n: Int): ArrayData = {
    val ne = arr.numElements()
    val upper = math.max(ne - n, 0)
    val seen = new java.util.LinkedHashSet[UTF8String](
      Math.max((upper + 1) * 2, 8))
    var i = 0
    while (i <= upper) {
      val m = math.min(i + n, ne) - i
      val parts = new Array[UTF8String](m)
      var j = 0
      while (j < m) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      seen.add(UTF8String.concatWs(spaceSep, parts: _*))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = XxHash64Function.hash(it.next(), StringType, 42L)
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Portable per-doc SimHash signature straight from the token array:
    * one fused loop replacing the whole tokenize -> explode ->
    * md5-hex -> conv(substring) -> exchange -> [[SimHashAgg]] pipeline
    * (profiled: the signature stage alone carried ~33 s of summed task
    * CPU at sf0.1, dominated by hex-string materialization + parsing).
    * Semantics are bit-identical to
    * `simhashPortable(tokenSets(...))` (SimHashAggSpec pins it):
    * tokens dedup first (`array_distinct`), each distinct token votes
    * the packed word `hi << 32 | lo` where lo/hi are md5 bytes [0,4)
    * and [4,8) big-endian (== `conv(substring(hex,1,8),16,10)` /
    * `conv(substring(hex,9,8),16,10)`), vote is +1 per set bit / -1
    * per clear bit, result bit j is 1 iff votes(j) > 0. A null token
    * dedups to one vote of raw-bits 0 (null md5 -> null packed -> the
    * agg's null-long raw-bits path). Empty array -> signature 0 (the
    * exploded form DROPS empty docs before the agg instead — callers
    * on `split()` output never see one: split yields >= 1 element). */
  def simhashMd5Sig(arr: ArrayData): Long = {
    val ne = arr.numElements()
    val seen = new java.util.HashSet[UTF8String](Math.max(ne * 2, 8))
    var sawNull = false
    val votes = new Array[Long](64)
    val md = md5Local.get()
    var j = 0
    while (j < ne) {
      if (arr.isNullAt(j)) {
        if (!sawNull) {
          sawNull = true
          var b = 0
          while (b < 64) { votes(b) -= 1L; b += 1 }
        }
      } else {
        val s = arr.getUTF8String(j)
        if (seen.add(s)) {
          md.reset()
          val d = md.digest(s.getBytes)
          val lo = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          val hi = ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
            ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
          val h = (hi << 32) | lo
          var b = 0
          while (b < 64) {
            votes(b) += (if (((h >>> b) & 1L) == 1L) 1L else -1L)
            b += 1
          }
        }
      }
      j += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0L) out |= (1L << b); b += 1 }
    out
  }

  private[graft] val stopwordArr: Array[String] = Array("the", "a",
    "an", "of", "to", "in", "and", "is", "it", "that")

  private def isStopword(s: String, a: Int, b: Int): Boolean = {
    val len = b - a
    if (len < 1 || len > 4) return false
    var k = 0
    while (k < stopwordArr.length) {
      val w = stopwordArr(k)
      if (w.length == len) {
        var j = 0
        var ok = true
        while (ok && j < len) {
          if (s.charAt(a + j) != w.charAt(j)) ok = false
          j += 1
        }
        if (ok) return true
      }
      k += 1
    }
    false
  }

  /** Quality-signal counts in ONE pass over the text:
    * (n_tok, n_stop, n_sym, n_char, n_distinct), replacing four
    * separate column scans — `size(split(t, " "))`,
    * `size(filter(split(...), isInCollection))` (interpreted lambda
    * per token), `size(regexp_extract_all(t, "[^A-Za-z0-9 ]"))`
    * (materializes an array of every symbol match just to count it),
    * and `size(array_distinct(split(...)))`. Semantics pinned to the
    * built-in forms (TextStatsSpec):
    *  - tokens are single-space splits, so n_tok = spaces + 1
    *    (split keeps empty segments, including trailing);
    *  - n_stop counts exact matches against [[stopwordArr]];
    *  - n_sym counts CODE POINTS outside [A-Za-z0-9 ] (Java regex
    *    iterates code points, as does DuckDB's regexp_extract_all);
    *  - n_char is the code-point count (= Spark `length`);
    *  - n_distinct counts distinct token strings (array_distinct
    *    equality). */
  def textQualityCounts(s: UTF8String): InternalRow = {
    val str = s.toString
    val n = str.length
    val seen = new java.util.HashSet[String]()
    var i = 0
    var nChar = 0L
    var nSym = 0L
    var spaces = 0L
    var nStop = 0L
    var tokStart = 0
    while (i < n) {
      val cp = str.codePointAt(i)
      nChar += 1
      if (cp == ' ') {
        spaces += 1
        if (isStopword(str, tokStart, i)) nStop += 1
        seen.add(str.substring(tokStart, i))
        tokStart = i + Character.charCount(cp)
      } else if (!((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')
          || (cp >= '0' && cp <= '9'))) {
        nSym += 1
      }
      i += Character.charCount(cp)
    }
    if (isStopword(str, tokStart, n)) nStop += 1
    seen.add(str.substring(tokStart, n))
    new GenericInternalRow(Array[Any](spaces + 1L, nStop, nSym, nChar,
      seen.size.toLong))
  }

  /** The normalized dedup key of x24 in one loop over the UTF-8 bytes:
    * equal to Spark's
    * `trim(regexp_replace(regexp_replace(lower(t), "[^a-z0-9 ]", ""),
    * " +", " "))`, the form the DuckDB oracle runs (NormKeySpec pins the
    * equality over every code point). ASCII `A-Z` is lowered and
    * `[a-z0-9]` kept; a run of `' '` becomes one PENDING space, written
    * only before the next kept character, so the collapse and the trim
    * fall out of the same loop; any other code point is dropped unless
    * its lowercase is ASCII `[a-z0-9]` (U+212A KELVIN SIGN -> `k`,
    * U+0130 -> `i`, which is what lower-then-strip leaves of its `i` +
    * U+0307). Ill-formed bytes become U+FFFD first (`makeValid`: a
    * validity scan, no copy for valid input), as they do for the builtin
    * `lower`, so they are dropped and never swallow a neighbouring ASCII
    * byte.
    *
    * Locale-free (the builtin follows the JVM's default locale, so a
    * Turkic one would turn `I` into a dropped dotless `i`) and ICU-free:
    * the builtin `lower` goes through ICU, whose case-map class pays a
    * ~1.8 s single-threaded static initializer on its first use in a
    * JVM, and then through two regex passes. */
  def normKey(s: UTF8String): UTF8String = {
    val v = s.makeValid()
    val n = v.numBytes()
    val out = new Array[Byte](n)
    var k = 0
    var pending = false
    var i = 0
    while (i < n) {
      val b = v.getByte(i)
      var c = -1
      var len = 1
      if (b >= 0) {
        if (b >= 'a' && b <= 'z' || b >= '0' && b <= '9') c = b
        else if (b >= 'A' && b <= 'Z') c = b + ('a' - 'A')
        else if (b == ' ') pending = k > 0
      } else {
        len = UTF8String.numBytesForFirstByte(b)
        val lc = Character.toLowerCase(v.codePointFrom(i))
        if (lc >= 'a' && lc <= 'z' || lc >= '0' && lc <= '9') c = lc
      }
      if (c >= 0) {
        if (pending) { out(k) = ' '; k += 1; pending = false }
        out(k) = c.toByte
        k += 1
      }
      i += len
    }
    UTF8String.fromBytes(out, 0, k)
  }

  /** All ordered index pairs (arr(i), arr(j)), i < j, of a long array —
    * one flat loop replacing the interpreted nested-lambda form
    * `flatten(transform(vs, (x, i) -> transform(slice(vs, i + 2, ...),
    * y -> struct(x, y))))` (HOFs never enter whole-stage codegen, and
    * the nested tree both boxes per element and serializes large into
    * every task — q51's wedge stage carried ~4.8 s of summed task
    * DESERIALIZATION from it). Output order matches the flattened
    * nested form: row-major by i then j. Null elements are kept as
    * null struct FIELDS, exactly where the lambda's struct(x, y) put
    * them. */
  def orderedPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val vals = new Array[Any](n)
    var i = 0
    while (i < n) {
      vals(i) = if (arr.isNullAt(i)) null else arr.getLong(i)
      i += 1
    }
    val out = new Array[Any](n * (n - 1) / 2)
    var k = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](vals(i), vals(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent (l, r) STRING pairs — one loop replacing the interpreted
    * `transform(sequence(1, size-1), i -> struct(element_at(i),
    * element_at(i+1)))` chain ([[graft.ops.BpeTrain.adjacentPairs]]):
    * same structs (null tokens kept as null fields), fewer than 2
    * tokens -> empty array. The HOF form paid a boxed lambda dispatch +
    * two interpreted element_at calls per pair. */
  def adjacentStrPairs(arr: ArrayData): ArrayData = {
    val ne = arr.numElements()
    if (ne < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](ne - 1)
    var i = 0
    var prev: AnyRef = if (arr.isNullAt(0)) null else arr.getUTF8String(0)
    while (i < ne - 1) {
      val cur: AnyRef =
        if (arr.isNullAt(i + 1)) null else arr.getUTF8String(i + 1)
      out(i) = new GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Per-document (tok, tf) pairs as ONE row-local fused loop — the
    * term-frequency map that `explode` + `groupBy(doc, tok)` computes
    * distributively. Term frequency is PER-DOCUMENT state and
    * documents are rows, so the groupBy form pays a corpus-sized
    * exchange (token rows, partially aggregated) for a fold the row
    * already contains; this kernel makes the first exchange of a
    * tf-idf pipeline the df/vocabulary one. Output is sorted by token
    * bytes ascending (deterministic under any input token order);
    * null tokens, if present, get their own trailing entry — exactly
    * the groups groupBy would produce. */
  def tokenTfPairs(arr: ArrayData): ArrayData = {
    val ne = arr.numElements()
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    var nulls = 0L
    var i = 0
    while (i < ne) {
      if (arr.isNullAt(i)) nulls += 1L
      else {
        val t = arr.getUTF8String(i)
        val c = m.get(t)
        if (c == null) m.put(t, Array(1L)) else c(0) += 1L
      }
      i += 1
    }
    val ks = new Array[UTF8String](m.size)
    m.keySet().toArray(ks)
    java.util.Arrays.sort(ks, new java.util.Comparator[UTF8String] {
      override def compare(a: UTF8String, b: UTF8String): Int =
        a.binaryCompare(b)
    })
    val out = new Array[Any](ks.length + (if (nulls > 0) 1 else 0))
    i = 0
    while (i < ks.length) {
      out(i) = new GenericInternalRow(Array[Any](ks(i), m.get(ks(i))(0)))
      i += 1
    }
    if (nulls > 0)
      out(ks.length) = new GenericInternalRow(Array[Any](null, nulls))
    new GenericArrayData(out)
  }

  /** Content-defined chunks of the space-split token stream: boundary
    * where the portable md5 word of the token (PortableHash.md5wBytes,
    * bit-identical to the Column `md5w`) % `mod` == 0, the boundary
    * token CLOSING its chunk — exactly p6's prefix-sum window
    * semantics — and each chunk emitted as the ' '-join of its tokens
    * (string_agg parity, empty tokens included). ONE fused loop: the
    * round-13 `aggregate()` Column fold this replaces rebuilt a
    * struct(chunks array, open string) accumulator per TOKEN through
    * interpreted lambda plumbing and went superlinear with corpus size
    * (ScaleSmoke 10x/50x: 4.4 s -> 38.3 s for 5x the tokens — GC churn,
    * not arithmetic). Split matches the builtin `split(text, ' ')`
    * (regex, limit -1: trailing empty tokens kept). */
  def cdcChunks(text: UTF8String, mod: Int): ArrayData = {
    val toks = text.split(spaceSep, -1)
    val out = new java.util.ArrayList[Any](toks.length / 8 + 4)
    var start = 0
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (java.lang.Math.floorMod(
          PortableHash.md5wBytes(t.getBytes), mod.toLong) == 0L) {
        out.add(UTF8String.concatWs(spaceSep,
          java.util.Arrays.copyOfRange(toks, start, i + 1): _*))
        start = i + 1
      }
      i += 1
    }
    if (start < toks.length)
      out.add(UTF8String.concatWs(spaceSep,
        java.util.Arrays.copyOfRange(toks, start, toks.length): _*))
    new GenericArrayData(out.toArray)
  }

  /** (k12, k1) hash pairs of adjacent tokens: k1 = xxhash64(l),
    * k12 = xxhash64(l, r). Fewer than 2 tokens -> empty array (the
    * adjacentPairs guard). Null tokens skip their hash step, exactly
    * like the null-skipping fold inside multi-arg xxhash64. */
  def bigramHashPairs(arr: ArrayData): ArrayData = {
    val ne = arr.numElements()
    if (ne < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](ne - 1)
    var i = 0
    while (i < ne - 1) {
      val lNull = arr.isNullAt(i)
      val rNull = arr.isNullAt(i + 1)
      val k1 = if (lNull) 42L
        else XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
      val k12 = if (rNull) k1
        else XxHash64Function.hash(arr.getUTF8String(i + 1), StringType, k1)
      out(i) = new GenericInternalRow(Array[Any](k12, k1))
      i += 1
    }
    new GenericArrayData(out)
  }
}

private[functions] trait TokenArrayExpression extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<string>, got ${other.sql}")
  }
}

/** `minhash_sig(tokens, n)` — the full n-hash portable MinHash
  * signature in one fused loop (ref pipeline X4, SURVEY §2.9). */
case class MinHashSig(child: Expression, numHashes: Int)
    extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.minhashSig(v.asInstanceOf[ArrayData], numHashes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.minhashSig($c, $numHashes);")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `minhash_band_buckets(tokens, n, bands)` — the per-band LSH bucket
  * values in one fused loop (signature mins + polynomial band fold). */
case class MinHashBandBuckets(child: Expression, numHashes: Int,
    bands: Int) extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.minhashBandBuckets(v.asInstanceOf[ArrayData], numHashes, bands)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.minhashBandBuckets($c, $numHashes, $bands);")
  override protected def withNewChildInternal(newChild: Expression): MinHashBandBuckets =
    copy(child = newChild)
}

/** `ngram_xx64_set(tokens, n)` — distinct n-gram shingles
  * (first-occurrence order) hashed to xxhash64 longs in one fused pass
  * (see [[TokenKernels.ngramXx64Set]]). */
case class NgramXx64Set(child: Expression, n: Int)
    extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.ngramXx64Set(v.asInstanceOf[ArrayData], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.ngramXx64Set($c, $n);")
  override protected def withNewChildInternal(newChild: Expression): NgramXx64Set =
    copy(child = newChild)
}

/** `token_xx64_set(tokens)` — distinct tokens (first-occurrence order)
  * hashed to xxhash64 longs in one pass. */
case class TokenXx64Set(child: Expression) extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.tokenXx64Set(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.tokenXx64Set($c);")
  override protected def withNewChildInternal(newChild: Expression): TokenXx64Set =
    copy(child = newChild)
}

/** `cdc_chunks(text, mod)` — content-defined chunks of the space-split
  * token stream in one fused loop (see [[TokenKernels.cdcChunks]]);
  * the P10 span-dedup chunker. */
case class CdcChunks(child: Expression, mod: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.cdcChunks(v.asInstanceOf[UTF8String], mod)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.cdcChunks($c, $mod);")
  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** `norm_key(text)` — x24's normalized dedup key in one fused pass
  * over the UTF-8 bytes (see [[TokenKernels.normKey]]). */
case class NormKey(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"norm_key requires string, got ${other.sql}")
  }
  override def dataType: DataType = StringType
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.normKey(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.normKey($c);")
  override protected def withNewChildInternal(newChild: Expression): NormKey =
    copy(child = newChild)
}

object NormKey {
  val injection: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) =
    (FunctionIdentifier("norm_key"),
      new ExpressionInfo(classOf[NormKey].getName, "norm_key"),
      { args =>
        require(args.length == 1, "norm_key takes 1 argument")
        NormKey(args.head)
      })
}

/** `text_quality_counts(text)` — the five quality-signal counts in one
  * fused pass (see [[TokenKernels.textQualityCounts]]). */
case class TextQualityCounts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"text_quality_counts requires string, got ${other.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_tok", LongType, nullable = false),
    StructField("n_stop", LongType, nullable = false),
    StructField("n_sym", LongType, nullable = false),
    StructField("n_char", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false)))
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.textQualityCounts(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.textQualityCounts($c);")
  override protected def withNewChildInternal(newChild: Expression): TextQualityCounts =
    copy(child = newChild)
}

/** `ordered_pairs(arr)` — all (arr(i), arr(j)) i < j pairs of a bigint
  * array as one fused loop (the kNN-graph wedge builder, q51). */
case class OrderedPairs(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"ordered_pairs requires array<bigint>, got ${other.sql}")
  }
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("u", LongType), StructField("w", LongType))),
    containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.orderedPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.orderedPairs($c);")
  override protected def withNewChildInternal(newChild: Expression): OrderedPairs =
    copy(child = newChild)
}

/** `simhash_md5_sig(tokens)` — the portable md5-plane SimHash
  * signature as ONE row-local fused loop: no explode, no exchange, no
  * hex parsing (see [[TokenKernels.simhashMd5Sig]]). */
case class SimHashMd5Sig(child: Expression) extends TokenArrayExpression {
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.simhashMd5Sig(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.simhashMd5Sig($c);")
  override protected def withNewChildInternal(newChild: Expression): SimHashMd5Sig =
    copy(child = newChild)
}

/** `adjacent_str_pairs(tokens)` — adjacent (l, r) string pairs as one
  * fused loop (see [[TokenKernels.adjacentStrPairs]]). */
case class AdjacentStrPairs(child: Expression) extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("l", StringType), StructField("r", StringType))),
    containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.adjacentStrPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.adjacentStrPairs($c);")
  override protected def withNewChildInternal(newChild: Expression): AdjacentStrPairs =
    copy(child = newChild)
}

/** `token_tf_pairs(tokens)` — the per-document (tok, tf) term-frequency
  * pairs as one fused row-local loop (see
  * [[TokenKernels.tokenTfPairs]]): replaces the corpus-sized
  * explode + groupBy(doc, tok) exchange in tf-idf-shaped pipelines. */
case class TokenTfPairs(child: Expression) extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("tok", StringType),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.tokenTfPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.tokenTfPairs($c);")
  override protected def withNewChildInternal(newChild: Expression): TokenTfPairs =
    copy(child = newChild)
}

/** `bigram_hash_pairs(tokens)` — adjacent-pair (k12, k1) xxhash64 keys
  * as one fused loop (t_bigram_lm / LM-scoring family). */
case class BigramHashPairs(child: Expression) extends TokenArrayExpression {
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("k12", LongType, nullable = false),
      StructField("k1", LongType, nullable = false))),
    containsNull = false)
  override protected def nullSafeEval(v: Any): Any =
    TokenKernels.bigramHashPairs(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenKernels.bigramHashPairs($c);")
  override protected def withNewChildInternal(newChild: Expression): BigramHashPairs =
    copy(child = newChild)
}

object TokenKernelFns {
  private def reg(spark: SparkSession, name: String, arity: Int,
      build: Seq[Expression] => Expression): Unit = {
    val id = FunctionIdentifier(name)
    if (!spark.sessionState.functionRegistry.functionExists(id))
      spark.sessionState.functionRegistry.registerFunction(
        id, new ExpressionInfo(getClass.getName, name),
        { args =>
          require(args.length == arity, s"$name takes $arity arguments")
          build(args)
        })
  }

  /** Column entry points; register on first use per session (the
    * [[VecDot.vecDot]] pattern). */
  def minhashSig(spark: SparkSession, toks: Column, n: Int): Column = {
    reg(spark, "minhash_sig", 2, args => MinHashSig(args.head,
      args(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"minhash_sig numHashes must be an int literal, got $other")
      }))
    org.apache.spark.sql.functions.call_function("minhash_sig", toks,
      org.apache.spark.sql.functions.lit(n))
  }

  def minhashBandBuckets(spark: SparkSession, toks: Column, n: Int,
      bands: Int): Column = {
    def intLit(e: Expression, what: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"minhash_band_buckets $what must be an int literal, got $other")
    }
    reg(spark, "minhash_band_buckets", 3, args => MinHashBandBuckets(
      args.head, intLit(args(1), "numHashes"), intLit(args(2), "bands")))
    org.apache.spark.sql.functions.call_function("minhash_band_buckets",
      toks, org.apache.spark.sql.functions.lit(n),
      org.apache.spark.sql.functions.lit(bands))
  }

  def tokenXx64Set(spark: SparkSession, toks: Column): Column = {
    reg(spark, "token_xx64_set", 1, args => TokenXx64Set(args.head))
    org.apache.spark.sql.functions.call_function("token_xx64_set", toks)
  }

  def ngramXx64Set(spark: SparkSession, toks: Column, n: Int): Column = {
    reg(spark, "ngram_xx64_set", 2, args => NgramXx64Set(args.head,
      args(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"ngram_xx64_set n must be an int literal, got $other")
      }))
    org.apache.spark.sql.functions.call_function("ngram_xx64_set", toks,
      org.apache.spark.sql.functions.lit(n))
  }

  def bigramHashPairs(spark: SparkSession, toks: Column): Column = {
    reg(spark, "bigram_hash_pairs", 1, args => BigramHashPairs(args.head))
    org.apache.spark.sql.functions.call_function("bigram_hash_pairs", toks)
  }

  def tokenTfPairs(spark: SparkSession, toks: Column): Column = {
    reg(spark, "token_tf_pairs", 1, args => TokenTfPairs(args.head))
    org.apache.spark.sql.functions.call_function("token_tf_pairs", toks)
  }

  def adjacentStrPairs(spark: SparkSession, toks: Column): Column = {
    reg(spark, "adjacent_str_pairs", 1, args => AdjacentStrPairs(args.head))
    org.apache.spark.sql.functions.call_function("adjacent_str_pairs", toks)
  }

  def simhashMd5Sig(spark: SparkSession, toks: Column): Column = {
    reg(spark, "simhash_md5_sig", 1, args => SimHashMd5Sig(args.head))
    org.apache.spark.sql.functions.call_function("simhash_md5_sig", toks)
  }

  def orderedPairs(spark: SparkSession, arr: Column): Column = {
    reg(spark, "ordered_pairs", 1, args => OrderedPairs(args.head))
    org.apache.spark.sql.functions.call_function("ordered_pairs", arr)
  }

  def normKey(spark: SparkSession, text: Column): Column = {
    val (id, info, build) = NormKey.injection
    if (!spark.sessionState.functionRegistry.functionExists(id))
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    org.apache.spark.sql.functions.call_function("norm_key", text)
  }

  def textQualityCounts(spark: SparkSession, text: Column): Column = {
    reg(spark, "text_quality_counts", 1, args => TextQualityCounts(args.head))
    org.apache.spark.sql.functions.call_function("text_quality_counts", text)
  }

  def cdcChunks(spark: SparkSession, text: Column, mod: Int = 16): Column = {
    reg(spark, "cdc_chunks", 2, args => CdcChunks(args.head,
      args(1) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"cdc_chunks mod must be an int literal, got $other")
      }))
    org.apache.spark.sql.functions.call_function("cdc_chunks", text,
      org.apache.spark.sql.functions.lit(mod))
  }
}
