package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing expressions for the dedup family.
  *
  * The declarative forms in [[graft.operators.Dedup]]
  * (`transform(sequence(...), substring...)` → `xxhash64` → 64×`array_min`)
  * pay per-element interpreted-lambda overhead plus a substring allocation
  * per shingle. These expressions do the same work in one tight loop over
  * the UTF-8 bytes — no intermediate string array, one virtual call per ROW
  * (the loop body is compiled JVM code, so CodegenFallback costs nothing
  * measurable here).
  *
  * Hash families: the QUERY PATH uses rolling polynomial hashes
  * (`graft_shingle_polyhashes` / `graft_token_polyhashes`, bases PolyBase1/2
  * mod 2^31-1) because the DuckDB correctness oracle can replay them in
  * plain SQL; XXH64(seed 42) variants (`graft_shingle_hashes` /
  * `graft_token_hashes`, matching Spark's `xxhash64` on ASCII) remain
  * registered for callers who prefer the avalanche family. Native and
  * declarative pipelines produce identical values on ASCII input (byte
  * windows == char windows). Verified by HashExpressionsSpec.
  */
object HashExpressions {

  private val SEED = 42L
  /** 2^31-1 — the shared modulus of every polynomial/affine hash here. */
  val P2n31: Long = 2147483647L
  private val P = P2n31 // matches DedupTwins.minhashFromHashes (test scope)
  /** Rolling-polynomial bases (Rabin-Karp). Kept SQL-expressible on purpose:
    * the DuckDB correctness oracle recomputes the identical hash with
    * `list_reduce` over character codes, which xxhash64 cannot do. */
  val PolyBase1 = 1000003L
  val PolyBase2 = 999983L
  /** 32-bit integer-hash mixing constant shared with
    * [[graft.operators.Sketches.keyHash]] and the generated oracle SQL. */
  val Mix = 73244475L

  /** JVM twin of [[graft.operators.Sketches.keyHash]]: affine step + two
    * xorshift-multiply rounds, all mod 2^31-1. Every op (wrap-free for
    * |key| < 2^31ish inputs) matches the Column form bit for bit. */
  def scrambleHash(key: Long, base: Long): Long = {
    val h0 = java.lang.Math.floorMod(key * base, P2n31)
    val h1 = java.lang.Math.floorMod((h0 ^ (h0 >> 16)) * Mix, P2n31)
    java.lang.Math.floorMod((h1 ^ (h1 >> 13)) * Mix, P2n31)
  }

  /** Bloom membership against a packed bit set: all k double-hashed
    * positions (Kirsch-Mitzenmacher, h1 + i*h2 mod m) set. Static helper so
    * generated code is one call — the words array rides in as a reference
    * object, NOT a codegen'd array literal (a 2048-element literal pushed
    * the generated filter past HotSpot's 8000-byte huge-method limit and
    * the whole stage ran interpreted). */
  def bloomContains(key: Long, words: Array[Long], m: Int, k: Int): Boolean = {
    val h1 = scrambleHash(key, PolyBase1)
    val h2 = scrambleHash(key, PolyBase2) | 1L
    var i = 0
    while (i < k) {
      val pos = java.lang.Math.floorMod(h1 + i * h2, m.toLong)
      if (((words((pos >> 6).toInt) >> (pos & 63)) & 1L) == 0L) return false
      i += 1
    }
    true
  }

  /** The seeded permutation coefficients (a_i, b_i) shared by the native
    * MinHashSigExpr, the declarative DedupTwins.minhashFromHashes (test
    * scope), and the generated DuckDB oracle SQL — single source of truth. */
  def minhashCoeffs(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(42)
    val pairs = Array.fill(numHashes)((math.abs(rnd.nextInt()).toLong % (P - 1) + 1,
                                       math.abs(rnd.nextInt()).toLong % P))
    (pairs.map(_._1), pairs.map(_._2))
  }

  // Static helpers invoked from generated code: whole-stage codegen emits a
  // direct call (no InternalRow boxing, no interpreted dispatch), and the
  // loop bodies below are JIT-compiled once for every call site.

  def shingleEval(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject; val off = s.getBaseOffset; val len = s.numBytes()
    if (len < n) {
      val h = java.lang.Math.floorMod(XXH64.hashUnsafeBytes(base, off, len, SEED), P)
      return new GenericArrayData(Array(h))
    }
    val seen = new java.util.HashSet[java.lang.Long](len * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val h = java.lang.Math.floorMod(XXH64.hashUnsafeBytes(base, off + i, n, SEED), P)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct character n-gram SHINGLE STRINGS in first-occurrence order —
    * the native twin of [[graft.operators.Dedup.shingleExpr]]'s
    * `array_distinct(transform(sequence(...), substring(...)))`, which
    * evaluates its lambda interpreted per window (O(len) boxed calls per
    * row dominated every shingle-exploding query's scan stage). Identical
    * output: `substring` windows are CHARACTER windows, so the ASCII fast
    * path slices bytes and the general path slices code points. */
  def shinglesEval(s: UTF8String, n: Int): ArrayData = {
    val nChars = s.numChars()
    if (nChars < n) return new GenericArrayData(Array[Any](s))
    val seen = new java.util.LinkedHashSet[UTF8String](nChars * 2)
    if (s.numBytes() == nChars) { // ASCII: char windows == byte windows,
      // and every shingle is a zero-copy view over one shared byte array
      val bytes = s.getBytes
      var i = 0
      while (i <= nChars - n) {
        seen.add(UTF8String.fromBytes(bytes, i, n)); i += 1
      }
    } else {
      var i = 0
      while (i <= nChars - n) { seen.add(s.substring(i, i + n)); i += 1 }
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }

  /** Consecutive word n-grams as STRINGS ("tok1 tok2 ..."), positions
    * preserved (duplicates kept, document order) — the native twin of
    * `transform(sequence(1, size(ts) - n + 1), i -> concat_ws(' ',
    * element_at(ts, i), ...))` over `filter(split(text, "\\s+"), != "")`
    * tokens, whose interpreted lambda dominated the bigram-universe
    * scans. Whitespace class matches Java regex \s (the six ASCII
    * whitespace chars), so tokens are identical to the declarative
    * split+filter; fewer than n tokens yields an empty array. */
  def wordNgramsEval(s: UTF8String, n: Int): ArrayData = {
    val base = s.getBaseObject; val off = s.getBaseOffset
    val len = s.numBytes()
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b
    // token boundaries as (startByte, endByte) pairs
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isSpace(s.getByte(i))) i += 1
      val st = i
      while (i < len && !isSpace(s.getByte(i))) i += 1
      if (i > st) { starts += st; ends += i }
    }
    val m = starts.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m)
    var g = 0
    while (g < m) {
      // bytes of tokens g..g+n-1 joined by single spaces
      var sz = n - 1; var j = g
      while (j < g + n) { sz += ends(j) - starts(j); j += 1 }
      val buf = new Array[Byte](sz)
      var pos = 0; j = g
      while (j < g + n) {
        if (j > g) { buf(pos) = ' '; pos += 1 }
        val tl = ends(j) - starts(j)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off + starts(j), buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, tl)
        pos += tl; j += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping `width`-token pseudo-lines (last line partial), each
    * joined by single spaces — the native twin of
    * `transform(sequence(0, floor((size(toks)-1)/width)),
    *   i -> array_join(slice(toks, i*width+1, width), ' '))` over
    * whitespace tokens. Zero tokens yields an empty array. */
  def tokenLinesEval(s: UTF8String, width: Int): ArrayData = {
    val base = s.getBaseObject; val off = s.getBaseOffset
    val len = s.numBytes()
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b
    val starts = new scala.collection.mutable.ArrayBuffer[Int]()
    val ends = new scala.collection.mutable.ArrayBuffer[Int]()
    var i = 0
    while (i < len) {
      while (i < len && isSpace(s.getByte(i))) i += 1
      val st = i
      while (i < len && !isSpace(s.getByte(i))) i += 1
      if (i > st) { starts += st; ends += i }
    }
    val nTok = starts.length
    if (nTok == 0) return new GenericArrayData(Array.empty[AnyRef])
    val nLines = (nTok - 1) / width + 1
    val out = new Array[AnyRef](nLines)
    var g = 0
    while (g < nLines) {
      val from = g * width
      val until = math.min(from + width, nTok)
      var sz = until - from - 1; var j = from
      while (j < until) { sz += ends(j) - starts(j); j += 1 }
      val buf = new Array[Byte](sz)
      var pos = 0; j = from
      while (j < until) {
        if (j > from) { buf(pos) = ' '; pos += 1 }
        val tl = ends(j) - starts(j)
        org.apache.spark.unsafe.Platform.copyMemory(
          base, off + starts(j), buf,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos, tl)
        pos += tl; j += 1
      }
      out(g) = UTF8String.fromBytes(buf)
      g += 1
    }
    new GenericArrayData(out)
  }

  def tokenEval(s: UTF8String): ArrayData = {
    val base = s.getBaseObject; val off = s.getBaseOffset; val len = s.numBytes()
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < len) {
      while (i < len && isSpace(s.getByte(i))) i += 1
      val start = i
      while (i < len && !isSpace(s.getByte(i))) i += 1
      if (i > start) out += XXH64.hashUnsafeBytes(base, off + start, i - start, SEED)
    }
    new GenericArrayData(out.toArray)
  }

  /** Distinct rolling-polynomial hashes of the n-byte windows:
    * h = fold((acc * B1 + byte) mod p). ASCII bytes coincide with the
    * `ascii(substring(...))` codes the declarative/DuckDB twins use. */
  def shinglePolyEval(s: UTF8String, n: Int): ArrayData = {
    val len = s.numBytes()
    def winHash(start: Int, w: Int): Long = {
      var h = 0L; var i = start
      while (i < start + w) { h = (h * PolyBase1 + (s.getByte(i) & 0xff)) % P; i += 1 }
      h
    }
    if (len < n) return new GenericArrayData(Array(winHash(0, len)))
    val seen = new java.util.HashSet[java.lang.Long](len * 2)
    val out = new scala.collection.mutable.ArrayBuffer[Long](len - n + 1)
    var i = 0
    while (i <= len - n) {
      val h = winHash(i, n)
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** 62-bit token hashes: two rolling polynomials (bases B1, B2) mod p,
    * combined as h1 * 2^31 + h2. Bits 62-63 are always zero, so the SimHash
    * majority vote leaves them unset — a 62-bit effective SimHash. */
  def tokenPolyEval(s: UTF8String): ArrayData = {
    val len = s.numBytes()
    def isSpace(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < len) {
      while (i < len && isSpace(s.getByte(i))) i += 1
      val start = i
      while (i < len && !isSpace(s.getByte(i))) i += 1
      if (i > start) {
        var h1 = 0L; var h2 = 0L; var j = start
        while (j < i) {
          val c = (s.getByte(j) & 0xff).toLong
          h1 = (h1 * PolyBase1 + c) % P
          h2 = (h2 * PolyBase2 + c) % P
          j += 1
        }
        out += h1 * 2147483648L + h2
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Positional token-n-gram window hashes: tokenize (same whitespace set
    * as [[tokenPolyEval]]), reduce each 62-bit token hash mod p, then fold
    * each n-token window as (acc * B2 + tok) mod p. Index i of the result
    * is the hash of tokens [i, i+n) — POSITIONS are preserved (no distinct):
    * the duplicated-span extractor needs to know WHERE a gram sits, not
    * just that it occurs. Documents shorter than n tokens yield an empty
    * array. acc < p = 2^31 and B2 < 2^20, so the fold stays under 2^52 —
    * safe in 64-bit ANSI arithmetic on both engines. */
  def gramPolyEval(s: UTF8String, n: Int): ArrayData = {
    val th = tokenPolyEval(s).toLongArray()
    val m = th.length - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L; var j = i
      while (j < i + n) { acc = (acc * PolyBase2 + th(j) % P) % P; j += 1 }
      out(i) = acc; i += 1
    }
    new GenericArrayData(out)
  }

  /** Distinct winnowed fingerprints of a document in one per-row pass —
    * the native twin of [[graft.operators.Winnowing.fingerprints]]'s
    * per-character explode + k `lead`s + sliding-window min (that form
    * shuffles and sorts |corpus|·len rows PER QUERY; this one never
    * leaves the scan stage — the shuffle-removal the operator's own
    * scaladoc called out as the scale shape, guide §2.4). Arithmetic is
    * IDENTICAL: k-gram hash = (Σ_j code(i+j)·31^(k−1−j)) mod p computed
    * with one mod on the unreduced polynomial sum (codes are code
    * points; k ≤ 9 keeps the sum under 2^63 even at U+10FFFF), window
    * min over `w` consecutive k-gram hashes, distinct. Documents
    * shorter than k + w − 1 characters yield an empty array (the
    * declarative form's filter). */
  def winnowEval(s: UTF8String, k: Int, w: Int, p: Long): ArrayData = {
    val cps = s.toString.codePoints.toArray
    val n = cps.length
    if (n < k + w - 1) return new GenericArrayData(Array.emptyLongArray)
    val m = n - k + 1 // number of complete k-grams
    val kh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L; var j = 0
      while (j < k) { acc = acc * 31L + cps(i + j); j += 1 }
      kh(i) = acc % p
      i += 1
    }
    // sliding min over w-wide windows (monotone deque, O(m))
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val dq = new Array[Int](m); var head = 0; var tail = 0 // index deque
    i = 0
    while (i < m) {
      while (tail > head && kh(dq(tail - 1)) >= kh(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(kh(dq(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator(); var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new GenericArrayData(out)
  }

  def minhashEval(hs: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val n = hs.numElements()
    val k = as.length
    val sig = Array.fill(k)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < k) {
        val v = (h * as(j) + bs(j)) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  def simhashEval(hs: ArrayData): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < 64) {
        if (((h >> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L; var j = 0
    while (j < 64) { if (votes(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** |set(a) ∩ set(b)| for two DISTINCT-element long arrays (shingle-hash
    * sets are distinct by construction). One hash set over the smaller
    * side, one membership scan over the larger — the tight-loop twin of
    * `size(array_intersect(a, b))`, which allocates boxed collections per
    * row and dominated the record-linkage candidate scoring. */
  /** Intersection size of two individually-SORTED long arrays by
    * two-pointer merge: zero allocation per call. The candidate-pair
    * scorer calls this once per pair (|L_b|·|R_b| times per block), so
    * per-call HashSet building dominated block scoring — sorting each
    * row's array ONCE before the join amortizes to nothing. */
  def interSizeSortedEval(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements(); val m = b.numElements()
    var i = 0; var j = 0; var out = 0
    while (i < n && j < m) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { out += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    out
  }

  def interSizeEval(a: ArrayData, b: ArrayData): Int = {
    val (small, big) = if (a.numElements() <= b.numElements()) (a, b) else (b, a)
    val n = small.numElements()
    val set = new java.util.HashSet[java.lang.Long](n * 2)
    var i = 0
    while (i < n) { set.add(small.getLong(i)); i += 1 }
    var out = 0; i = 0
    val m = big.numElements()
    while (i < m) { if (set.contains(big.getLong(i))) out += 1; i += 1 }
    out
  }

  /** LSH band hashes from a minhash signature: the signature splits into
    * `bands` equal slices and each slice folds with the same polynomial
    * the SQL form used — acc·1000003 + v mod 2³¹−1 — so the band keys
    * are bit-identical to
    * `aggregate(slice(sig, b·rows+1, rows), 0L, (acc, v) -> …)`. As in
    * that fold, a null element nulls its own band's hash only. */
  def bandHashesEval(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val rows = n / bands
    val out = new Array[Long](bands)
    var nullBands: Array[Boolean] = null
    var b = 0
    while (b < bands) {
      var acc = 0L
      var i = b * rows
      val end = i + rows
      while (i < end) {
        if (sig.isNullAt(i)) {
          if (nullBands == null) nullBands = new Array[Boolean](bands)
          nullBands(b) = true
          i = end
        } else {
          acc = (acc * 1000003L + sig.getLong(i)) % 2147483647L
          i += 1
        }
      }
      out(b) = acc
      b += 1
    }
    if (nullBands == null) new GenericArrayData(out)
    else new GenericArrayData(Array.tabulate[Any](bands)(b => if (nullBands(b)) null else out(b)))
  }

  /** Positions where two equal-length ARRAY<BIGINT> signatures agree —
    * native twin of `size(filter(zip_with(a, b, (p, q) -> p = q), v -> v))`
    * (unequal lengths: the zip_with tail compares against null, which the
    * filter drops — identical to stopping at the shorter length). A null
    * element compares as null there too, so it counts as a disagreement. */
  def sigAgreeEval(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c
  }

  /** EWMA weighted sum: element i (1-based, oldest first) of an
    * L-element history weighs 2^-(L-i+1); each term is the double
    * division CAST to DECIMAL(38,18) (java BigDecimal.valueOf ==
    * Spark's Cast(double->decimal) literal path, HALF_UP to scale 18).
    * The running add replays Spark's decimal-precision rule EXACTLY:
    * (38,18)+(38,18) promotes to precision 39, which allowPrecisionLoss
    * adjusts to DECIMAL(38,17) — so every intermediate sum rounds
    * HALF_UP to 17 fraction digits before the lambda's CAST back to
    * (38,18). Bit-identical to the `aggregate(zip_with(...))` fold it
    * replaces (spec-pinned, including that per-step rounding). A null
    * element nulls the whole fold, as in the SQL form: returns null. */
  def ewmaWsumEval(hist: ArrayData): Decimal = {
    val L = hist.numElements()
    var acc = java.math.BigDecimal.ZERO
    var i = 1
    while (i <= L) {
      if (hist.isNullAt(i - 1)) return null
      val term = java.math.BigDecimal
        .valueOf(hist.getDouble(i - 1) / (1L << (L - i + 1)).toDouble)
        .setScale(18, java.math.RoundingMode.HALF_UP)
      acc = acc.add(term)
        .setScale(17, java.math.RoundingMode.HALF_UP)
        .setScale(18, java.math.RoundingMode.UNNECESSARY)
      i += 1
    }
    Decimal(acc, 38, 18)
  }

  private val helper = "graft.plans.HashExpressions"

  /** Whether `e` is an array type whose elements may be null. */
  private def elementsNullable(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, containsNull) => containsNull
    case _ => false
  }

  /** Distinct XXH64 hashes of the n-byte windows of a string (the whole
    * string if shorter than n) — native twin of DedupTwins.shingleHashes
    * (test scope), already reduced mod 2^31-1. Codegen emits a direct
    * static call, so the surrounding projection stays in one
    * whole-stage-codegen span. */
  case class ShingleHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def prettyName: String = "graft_shingle_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      shingleEval(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.shingleEval($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct character n-gram shingle STRINGS (first-occurrence order) —
    * the native twin of Dedup.shingleExpr. See [[shinglesEval]]. */
  case class ShinglesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def prettyName: String = "graft_shingles"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      shinglesEval(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.shinglesEval($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Non-overlapping token pseudo-lines — see [[tokenLinesEval]]. */
  case class TokenLinesExpr(child: Expression, width: Int) extends UnaryExpression {
    require(width >= 1, "graft_token_lines: need width >= 1")
    override def prettyName: String = "graft_token_lines"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      tokenLinesEval(input.asInstanceOf[UTF8String], width)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.tokenLinesEval($c, $width);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Consecutive word n-gram strings — see [[wordNgramsEval]]. */
  case class WordNgramsExpr(child: Expression, n: Int) extends UnaryExpression {
    require(n >= 1, "graft_word_ngrams: need n >= 1")
    override def prettyName: String = "graft_word_ngrams"
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      wordNgramsEval(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.wordNgramsEval($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** XXH64 hashes of whitespace-delimited tokens (ASCII whitespace runs) —
    * native twin of `transform(filter(split(text,'\s+'), _ != ''), xxhash64)`. */
  case class TokenHashesExpr(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_token_hashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      tokenEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.tokenEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct rolling-polynomial shingle hashes — the oracle-checkable twin
    * of [[ShingleHashesExpr]] (see [[shinglePolyEval]]). */
  case class ShinglePolyHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def prettyName: String = "graft_shingle_polyhashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      shinglePolyEval(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.shinglePolyEval($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 62-bit two-polynomial token hashes — the oracle-checkable twin of
    * [[TokenHashesExpr]] (see [[tokenPolyEval]]). */
  case class TokenPolyHashesExpr(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_token_polyhashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      tokenPolyEval(input.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.tokenPolyEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Positional token-n-gram window hashes — see [[gramPolyEval]]. */
  case class GramPolyHashesExpr(child: Expression, n: Int) extends UnaryExpression {
    override def prettyName: String = "graft_gram_polyhashes"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      gramPolyEval(input.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.gramPolyEval($c, $n);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Distinct winnowed fingerprints (Schleimer et al. 2003) — see
    * [[winnowEval]]. */
  case class WinnowFpsExpr(child: Expression, k: Int, w: Int, p: Long)
      extends UnaryExpression {
    require(k >= 1 && k <= 9 && w >= 1,
      "graft_winnow_fps: need 1 <= k <= 9 (unreduced polynomial sum must fit a long) and w >= 1")
    override def prettyName: String = "graft_winnow_fps"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected STRING, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      winnowEval(input.asInstanceOf[UTF8String], k, w, p)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.winnowEval($c, $k, $w, ${p}L);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature from pre-reduced hashes: same seeded (a_i, b_i)
    * permutations as DedupTwins.minhashFromHashes (test scope), all minima
    * in one pass. The coefficient arrays ride into generated code as
    * reference objects. */
  case class MinHashSigExpr(child: Expression, numHashes: Int) extends UnaryExpression {
    override def prettyName: String = "graft_minhash_sig"
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<BIGINT>, got ${t.simpleString}")
    }
    private lazy val (as, bs) = minhashCoeffs(numHashes)
    override protected def nullSafeEval(input: Any): Any =
      minhashEval(input.asInstanceOf[ArrayData], as, bs)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val aRef = ctx.addReferenceObj("minhashAs", as, "long[]")
      val bRef = ctx.addReferenceObj("minhashBs", bs, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $helper.minhashEval($c, $aRef, $bRef);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** 64-bit SimHash from token hashes: per-bit majority vote, native twin
    * of Dedup.simhash's aggregate/zip_with form. */
  case class SimHash64Expr(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_simhash64"
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<BIGINT>, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      simhashEval(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.simhashEval($c);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** EWMA decimal weighted sum (see [[ewmaWsumEval]]). */
  case class EwmaWsumExpr(child: Expression) extends UnaryExpression {
    override def prettyName: String = "graft_ewma_wsum"
    override def dataType: DataType = DecimalType(38, 18)
    override def nullable: Boolean = child.nullable || elementsNullable(child)
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<DOUBLE>, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      ewmaWsumEval(input.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.ewmaWsumEval($c);" +
        (if (nullable) s" ${ev.isNull} = ${ev.value} == null;" else ""))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** LSH band hashes of a minhash signature (see [[bandHashesEval]]). */
  case class BandHashesExpr(child: Expression, bands: Int) extends UnaryExpression {
    require(bands >= 1, "graft_band_hashes: need bands >= 1")
    override def prettyName: String = "graft_band_hashes"
    override def dataType: DataType = ArrayType(LongType, elementsNullable(child))
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected ARRAY<BIGINT>, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      bandHashesEval(input.asInstanceOf[ArrayData], bands)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $helper.bandHashesEval($c, $bands);")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Signature agreement count (see [[sigAgreeEval]]). */
  case class SigAgreeExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def prettyName: String = "graft_sig_agree"
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected two ARRAY<BIGINT>, got ${l.simpleString} / ${r.simpleString}")
      }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      sigAgreeEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $helper.sigAgreeEval($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Intersection size of two distinct-element ARRAY<BIGINT> columns. */
  case class InterSizeExpr(left: Expression, right: Expression) extends BinaryExpression {
    override def prettyName: String = "graft_inter_size"
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected two ARRAY<BIGINT>, got ${l.simpleString} / ${r.simpleString}")
      }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      interSizeEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $helper.interSizeEval($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Intersection size of two SORTED distinct ARRAY<BIGINT> columns via
    * two-pointer merge (see [[interSizeSortedEval]]). Callers must
    * `sort_array` both inputs — done once per row before a pair join,
    * versus per-pair set building inside it. */
  case class InterSizeSortedExpr(left: Expression, right: Expression)
      extends BinaryExpression {
    override def prettyName: String = "graft_inter_size_sorted"
    override def dataType: DataType = IntegerType
    override def checkInputDataTypes(): TypeCheckResult =
      (left.dataType, right.dataType) match {
        case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
          TypeCheckResult.TypeCheckSuccess
        case (l, r) => TypeCheckResult.TypeCheckFailure(
          s"expected two ARRAY<BIGINT>, got ${l.simpleString} / ${r.simpleString}")
      }
    override protected def nullSafeEval(a: Any, b: Any): Any =
      interSizeSortedEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev,
        (a, b) => s"${ev.value} = $helper.interSizeSortedEval($a, $b);")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Packed-bitmap Bloom probe: key LONG → BOOLEAN, true iff all k
    * positions are set. The bit words are absorbed into the expression
    * object at resolution (arg 1 must be a foldable array literal), so
    * codegen stays a single static call. */
  case class BloomProbeExpr(child: Expression, words: Array[Long], m: Int, k: Int)
      extends UnaryExpression {
    override def prettyName: String = "graft_bloom_probe"
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case LongType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"expected BIGINT, got ${t.simpleString}")
    }
    override protected def nullSafeEval(input: Any): Any =
      bloomContains(input.asInstanceOf[Long], words, m, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val wRef = ctx.addReferenceObj("bloomWords", words, "long[]")
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = $helper.bloomContains($c, $wRef, $m, $k);")
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Name → builder for every hash-family function, shared by the
    * per-session [[register]] and the `spark.sql.extensions` plugin
    * ([[GraftExtensions]]). */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_shingle_hashes" -> (args => ShingleHashesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_shingles" -> (args => ShinglesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_token_hashes" -> (args => TokenHashesExpr(args(0))),
    "graft_word_ngrams" -> (args => WordNgramsExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_token_lines" -> (args => TokenLinesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_shingle_polyhashes" -> (args => ShinglePolyHashesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_token_polyhashes" -> (args => TokenPolyHashesExpr(args(0))),
    "graft_gram_polyhashes" -> (args => GramPolyHashesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_winnow_fps" -> (args => WinnowFpsExpr(args(0),
      args(1).eval(null).asInstanceOf[Int],
      args(2).eval(null).asInstanceOf[Int],
      args(3).eval(null).asInstanceOf[Long])),
    "graft_minhash_sig" -> (args => MinHashSigExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_simhash64" -> (args => SimHash64Expr(args(0))),
    "graft_ewma_wsum" -> (args => EwmaWsumExpr(args(0))),
    "graft_band_hashes" -> (args => BandHashesExpr(args(0),
      args(1).eval(null).asInstanceOf[Int])),
    "graft_sig_agree" -> (args => SigAgreeExpr(args(0), args(1))),
    "graft_inter_size" -> (args => InterSizeExpr(args(0), args(1))),
    "graft_inter_size_sorted" -> (args => InterSizeSortedExpr(args(0), args(1))),
    "graft_bloom_probe" -> (args => BloomProbeExpr(args(0),
      args(1).eval(null).asInstanceOf[ArrayData].toLongArray(),
      args(2).eval(null).asInstanceOf[Int],
      args(3).eval(null).asInstanceOf[Int])))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      reg.registerFunction(FunctionIdentifier(name),
        new ExpressionInfo(getClass.getName, name), builder)
    }
  }
}
