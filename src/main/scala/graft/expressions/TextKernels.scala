package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen kernels for tokenization, shingling, and polynomial
  * fingerprints — the other half of the dedup family's per-row CPU
  * (signatures are [[SignatureKernels]]; this file is the text they
  * consume). The HOF spellings (`filter(split(...))`,
  * `zip_with`+`concat`+`array_distinct` chains, char-level `aggregate`
  * folds) all run interpreted; at round 5 the shingle construction feeding
  * q16/q18/q37/q38/q43/q48/q51-q53 was the single largest CPU block in the
  * bench. Each expression here is value-identical to the Column spelling
  * it replaces (parity-pinned by TextKernelsSpec, and — for the poly
  * hashes — by the q24/q45/q46 DuckDB oracles that mirror them).
  */
object TextKernels {

  /** Token byte-offsets (start, end) into `text`: maximal runs of
    * non-space bytes. Splitting on the 0x20 byte is UTF-8-safe (a space
    * never occurs inside a multibyte sequence), and empty runs are
    * dropped — exactly `filter(split(text, " "), _ <> "")` (regex " "
    * splits at every single space; consecutive spaces yield empties,
    * which the filter removes). */
  private def tokenSpans(text: UTF8String): java.util.ArrayList[Array[Int]] = {
    val n = text.numBytes()
    val spans = new java.util.ArrayList[Array[Int]]()
    var i = 0
    var start = -1
    while (i <= n) {
      if (i == n || text.getByte(i) == 0x20.toByte) {
        if (start >= 0) spans.add(Array(start, i))
        start = -1
      } else if (start < 0) start = i
      i += 1
    }
    spans
  }

  /** Tokens row kernel (the real one): see [[tokenSpans]]. */
  def tokenize(text: UTF8String): ArrayData = {
    val spans = tokenSpans(text)
    val out = new Array[AnyRef](spans.size())
    var k = 0
    while (k < spans.size()) {
      val s = spans.get(k)
      out(k) = copyRange(text, s(0), s(1))
      k += 1
    }
    new GenericArrayData(out)
  }

  private def copyRange(text: UTF8String, from: Int, until: Int): UTF8String = {
    val len = until - from
    val bytes = new Array[Byte](len)
    var i = 0
    while (i < len) { bytes(i) = text.getByte(from + i); i += 1 }
    UTF8String.fromBytes(bytes)
  }

  /** Shingle row kernel over a TOKEN ARRAY: windows of n consecutive
    * tokens joined with a single space, first-occurrence-distinct —
    * exactly `array_distinct(filter(fold of zip_with+concat, notNull))`.
    * Incomplete tail windows (fewer than n tokens) don't exist by
    * construction (the HOF form's null-filter). */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= m) {
      var len = n - 1 // separators
      var j = 0
      var hasNull = false
      while (j < n) {
        if (arr.isNullAt(i + j)) hasNull = true
        else len += arr.getUTF8String(i + j).numBytes()
        j += 1
      }
      // a null token nulls the whole concat in the HOF form, and the
      // filter drops it — skip the window
      if (!hasNull) {
        val bytes = new Array[Byte](len)
        var pos = 0
        j = 0
        while (j < n) {
          if (j > 0) { bytes(pos) = 0x20.toByte; pos += 1 }
          val t = arr.getUTF8String(i + j)
          val tb = t.numBytes()
          var b = 0
          while (b < tb) { bytes(pos) = t.getByte(b); pos += 1; b += 1 }
          j += 1
        }
        out.add(UTF8String.fromBytes(bytes))
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Positional (non-distinct) n-gram row kernel over a TOKEN ARRAY:
    * every window of n consecutive tokens joined with a single space,
    * in positional order, duplicates preserved — exactly the
    * `filter(fold of zip_with+concat, notNull)` HOF spelling
    * ([[graft.text.TextAnalysis.posNgramsHof]]): a null token nulls its
    * window's concat and the filter drops it; incomplete tail windows
    * null out the same way. This is the term generator of the tf-idf
    * staging (q60/q86/q158) and the diversity readout (q225) — the HOF
    * fold runs interpreted per row AND materializes n-1 intermediate
    * arrays; this is one fused byte-copy loop. */
  def posNgramsAll(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val nOut = if (m >= n) m - n + 1 else 0
    val out = new java.util.ArrayList[AnyRef](nOut)
    var i = 0
    while (i + n <= m) {
      var len = n - 1 // separators
      var j = 0
      var hasNull = false
      while (j < n) {
        if (arr.isNullAt(i + j)) hasNull = true
        else len += arr.getUTF8String(i + j).numBytes()
        j += 1
      }
      if (!hasNull) {
        val bytes = new Array[Byte](len)
        var pos = 0
        j = 0
        while (j < n) {
          if (j > 0) { bytes(pos) = 0x20.toByte; pos += 1 }
          val t = arr.getUTF8String(i + j)
          val tb = t.numBytes()
          var b = 0
          while (b < tb) { bytes(pos) = t.getByte(b); pos += 1; b += 1 }
          j += 1
        }
        out.add(UTF8String.fromBytes(bytes))
      }
      i += 1
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Order-sensitive token fingerprint row kernel:
    * h = (h*131 + charPolyHash(token)) mod 1e9+7 over the token array; a
    * null token contributes its transform's NULL, which the HOF
    * `aggregate`'s `+` poisons to NULL — mirrored here. */
  def tokenFingerprint(arr: ArrayData): java.lang.Long = {
    val m = arr.numElements()
    var h = 0L
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) return null
      h = (h * 131L + SignatureKernels.polyHash(arr.getUTF8String(i))) %
        SignatureKernels.PolyMod
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  /** Greedy left-to-right BPE merge row kernel: each adjacent (a, b)
    * occurrence collapses to one "a b" token, consuming both positions
    * (so "a a a" with pair (a, a) yields ["a a", "a"]). Tokens never
    * contain spaces (whitespace tokenization), so the merged spelling
    * cannot collide with an input token and re-trigger the match. */
  def bpeMerge(arr: ArrayData, a: UTF8String, b: UTF8String): ArrayData = {
    val n = arr.numElements()
    val out = new java.util.ArrayList[AnyRef](n)
    val merged = UTF8String.concat(a, UTF8String.fromString(" "), b)
    var i = 0
    while (i < n) {
      if (i + 1 < n && arr.getUTF8String(i).equals(a) &&
          arr.getUTF8String(i + 1).equals(b)) {
        out.add(merged)
        i += 2
      } else {
        out.add(arr.getUTF8String(i))
        i += 1
      }
    }
    new GenericArrayData(out.toArray(new Array[AnyRef](out.size())))
  }

  /** Threshold-banded Levenshtein row kernel (Ukkonen's band, public
    * algorithm): exact edit distance when ≤ `maxDist`, else `maxDist+1`.
    * The DP evaluates only the 2d+1-wide diagonal band — O(d·min(n,m))
    * vs the built-in's full O(n·m) table — and exits as soon as an
    * entire band row exceeds the threshold (for the dominant non-match
    * case that is after ~d+1 rows, regardless of string length).
    * Code-point semantics, matching the built-in `levenshtein` (and the
    * DuckDB oracle) on every string whose distance is within the
    * threshold — which is the only regime a `dist <= d` filter
    * observes. */
  def boundedLevenshtein(a: UTF8String, b: UTF8String, maxDist: Int): Long =
    boundedLevenshtein(a.toString.codePoints().toArray,
      b.toString.codePoints().toArray, maxDist)

  /** [[boundedLevenshtein]] over code-point arrays, for callers that
    * compare each string many times and decode it once. */
  def boundedLevenshtein(s: Array[Int], t: Array[Int], maxDist: Int): Long = {
    val n = s.length
    val m = t.length
    val inf = maxDist + 1
    if (math.abs(n - m) > maxDist) return inf.toLong
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= maxDist) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      cur(0) = if (i <= maxDist) i else inf
      var rowMin = cur(0)
      val from = math.max(1, i - maxDist)
      val to = math.min(m, i + maxDist)
      j = from
      while (j <= to) {
        val cost = if (s(i - 1) == t(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        if (prev(j) + 1 < v) v = prev(j) + 1
        if (cur(j - 1) + 1 < v) v = cur(j - 1) + 1
        cur(j) = if (v > inf) inf else v
        if (cur(j) < rowMin) rowMin = cur(j)
        j += 1
      }
      if (rowMin >= inf) return inf.toLong // whole band over threshold
      val tmp = prev; prev = cur; cur = tmp
      i += 1
    }
    math.min(prev(m), inf).toLong
  }

  /** Rolling codepoint k-gram poly hashes of `text`, positional: hs(i) =
    * [[SignatureKernels.polyHash]] of the k-codepoint substring starting
    * at position i (0-based), computed in ONE O(n) pass (drop the
    * leaving codepoint's 31^(k-1) term, shift, add the entering one) —
    * the shared front half of [[winnow]] and the char-grain dup-span
    * family. Texts shorter than k codepoints yield an empty array. */
  def charNgramHashes(text: UTF8String, k: Int): ArrayData =
    new GenericArrayData(rollingHashes(text, k))

  private def rollingHashes(text: UTF8String, k: Int): Array[Long] = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (n < k) return Array.empty[Long]
    val cps = new Array[Int](n)
    var ci = 0
    var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si)
      cps(ci) = cp; ci += 1; si += Character.charCount(cp)
    }
    val Mod = 1000000007L
    // pow = 31^(k-1) mod p
    var pow = 1L
    var t = 0
    while (t < k - 1) { pow = (pow * 31L) % Mod; t += 1 }
    val m = n - k + 1 // number of grams
    val hs = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < k) { h = (h * 31L + cps(i)) % Mod; i += 1 }
    hs(0) = h
    i = 1
    while (i < m) {
      val drop = (cps(i - 1) * pow) % Mod
      h = ((h - drop + Mod) % Mod * 31L + cps(i + k - 1)) % Mod
      hs(i) = h
      i += 1
    }
    hs
  }

  /** [[WinnowFingerprints]] row kernel: rolling k-gram poly hash +
    * monotonic-deque sliding minimum + distinct set, one pass over the
    * codepoints. Value-identical to hashing each codepoint substring
    * with [[SignatureKernels.polyHash]]. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    val s = text.toString
    val n = s.codePointCount(0, s.length)
    if (n < k + w - 1) return new GenericArrayData(Array.empty[Long])
    val hs = rollingHashes(text, k)
    val m = hs.length
    // sliding minimum over windows of w gram-hashes (indices in a
    // monotonic deque, front = current minimum)
    val selected = new java.util.HashSet[java.lang.Long]()
    val dq = new Array[Int](m)
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < m) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) selected.add(hs(dq(head)))
      i += 1
    }
    val out = new Array[Long](selected.size())
    val it = selected.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  def winnowOf(text: Column, k: Int, w: Int): Column =
    Bridge.column(WinnowFingerprints(Bridge.expression(text), k, w))

  def charNgramHashesOf(text: Column, k: Int): Column =
    Bridge.column(CharNgramHashesOf(Bridge.expression(text), k))

  // ------------------------------------------------------- Column surface --

  def tokensOf(text: Column): Column =
    Bridge.column(TokensOf(Bridge.expression(text)))

  def ngramShinglesOf(tk: Column, n: Int): Column =
    Bridge.column(NgramShinglesOf(Bridge.expression(tk), n))

  def posNgramsOf(tk: Column, n: Int): Column =
    Bridge.column(PosNgramsOf(Bridge.expression(tk), n))

  def charPolyHashOf(text: Column): Column =
    Bridge.column(CharPolyHash(Bridge.expression(text)))

  def tokenFingerprintOf(tk: Column): Column =
    Bridge.column(TokenFingerprintOf(Bridge.expression(tk)))

  def bpeMergeOf(tk: Column, a: String, b: String): Column =
    Bridge.column(BpeMergeTokens(Bridge.expression(tk), a, b))

  def boundedLevenshteinOf(a: Column, b: Column, maxDist: Int): Column =
    Bridge.column(BoundedLevenshtein(
      Bridge.expression(a), Bridge.expression(b), maxDist))
}

/** Threshold-banded Levenshtein distance of two string columns: exact
  * when ≤ maxDist, saturates at maxDist+1 — see
  * [[TextKernels.boundedLevenshtein]]. */
case class BoundedLevenshtein(left: Expression, right: Expression,
                              maxDist: Int) extends BinaryExpression {
  require(maxDist >= 0, "maxDist must be >= 0")
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires two string inputs, got $other")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_bounded_levenshtein"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.boundedLevenshtein(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.TextKernels" +
        s".boundedLevenshtein($a, $b, $maxDist);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BoundedLevenshtein =
    copy(left = newLeft, right = newRight)
}

/** Whitespace tokens of a string column (empties dropped). */
case class TokensOf(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(a: Any): Any =
    TextKernels.tokenize(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextKernels.tokenize($a);")

  override protected def withNewChildInternal(newChild: Expression): TokensOf =
    copy(child = newChild)
}

/** Distinct word n-gram shingles of a token-array column. */
case class NgramShinglesOf(child: Expression, n: Int)
    extends SignatureExpression {
  require(n >= 1, "shingle size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(a: Any): Any =
    TextKernels.shingles(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextKernels.shingles($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): NgramShinglesOf =
    copy(child = newChild)
}

/** Positional (non-distinct) n-grams of a token-array column. */
case class PosNgramsOf(child: Expression, n: Int)
    extends SignatureExpression {
  require(n >= 1, "n-gram size must be >= 1")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_pos_ngrams"

  override def nullSafeEval(a: Any): Any =
    TextKernels.posNgramsAll(a.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.TextKernels.posNgramsAll($a, $n);")

  override protected def withNewChildInternal(newChild: Expression): PosNgramsOf =
    copy(child = newChild)
}

/** Codepoint-level polynomial rolling hash of a string column —
  * [[graft.text.TextAnalysis.charPolyHash]] as one codegen'd loop. */
case class CharPolyHash(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_char_poly_hash"

  override def nullSafeEval(a: Any): Any =
    SignatureKernels.polyHash(a.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.expressions.SignatureKernels.polyHash($a);")

  override protected def withNewChildInternal(newChild: Expression): CharPolyHash =
    copy(child = newChild)
}

/** Order-sensitive polynomial fingerprint of a token-array column —
  * [[graft.text.TextAnalysis.tokenFingerprint]] as one codegen'd loop.
  * Nullable even for non-null input (a null ELEMENT poisons the fold,
  * mirroring the HOF aggregate). */
case class TokenFingerprintOf(child: Expression) extends SignatureExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "graft_token_fingerprint"

  override def nullSafeEval(a: Any): Any =
    TextKernels.tokenFingerprint(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tmp = ctx.freshName("fp")
    nullSafeCodeGen(ctx, ev, a =>
      s"""
         |java.lang.Long $tmp = graft.expressions.TextKernels.tokenFingerprint($a);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.longValue(); }
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): TokenFingerprintOf =
    copy(child = newChild)
}

/** One greedy BPE merge applied to a token-array column: adjacent
  * (a, b) occurrences collapse left-to-right into the "a b" token —
  * the tokenizer-training inner step, as a codegen'd scan instead of a
  * per-row interpreted fold. The pair rides as plan-time constants
  * (it comes from the driver's argmax over pair counts, a bounded
  * 1-row action — the IVF-centroid budget class). */
case class BpeMergeTokens(child: Expression, a: String, b: String)
    extends SignatureExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_merge"

  @transient private lazy val ua = UTF8String.fromString(a)
  @transient private lazy val ub = UTF8String.fromString(b)

  override def nullSafeEval(v: Any): Any =
    TextKernels.bpeMerge(v.asInstanceOf[ArrayData], ua, ub)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val refA = ctx.addReferenceObj("bpeA", ua, classOf[UTF8String].getName)
    val refB = ctx.addReferenceObj("bpeB", ub, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.bpeMerge($c, $refA, $refB);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeMergeTokens =
    copy(child = newChild)
}

/** Positional rolling codepoint k-gram poly hashes of a string column —
  * element i is `graft_char_poly_hash(substring(text, i+1, k))`, all m =
  * n−k+1 of them in ONE O(n) codegen pass instead of m O(k) substring
  * hashes (and with no m×k-char gram materialization at all) — the char
  * grain of the dup-span family's posting generator, where the word
  * grain is [[PosNgramsOf]]. Short texts (< k codepoints) yield an
  * empty array. */
case class CharNgramHashesOf(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, "char n-gram size must be >= 1")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_char_ngram_hashes"

  override def nullSafeEval(v: Any): Any =
    TextKernels.charNgramHashes(v.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.charNgramHashes($c, $k);")

  override protected def withNewChildInternal(
      newChild: Expression): CharNgramHashesOf = copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken,
  * SIGMOD'03) as ONE codegen pass — the q197 operator's hot loop
  * (k-gram poly hashes → sliding w-window minima → distinct selection)
  * without materializing a row per gram: the relational spelling
  * explodes |text| rows per document and windows over them (the
  * dominant cost of the corpus pass); this kernel rolls the k-gram
  * hash incrementally (h·31 ± codepoint mod 1e9+7 — value-identical to
  * `graft_char_poly_hash(substring(text, i, k))`, which is what keeps
  * the DuckDB oracle unchanged: the oracle still spells the relational
  * derivation, and the hash match IS the kernel's correctness proof),
  * keeps the w-window minimum with a monotonic deque (amortized O(1)
  * per position), and collects the distinct selections. Returns the
  * SORTED distinct fingerprints; documents shorter than k+w-1
  * codepoints return an empty array (no fully-populated window). */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 1 && w >= 1, "k and w must be positive")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${other.simpleString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(v: Any): Any =
    TextKernels.winnow(v.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expressions.TextKernels.winnow($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}
