package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the text-dedup hot path.
  *
  * The higher-order-function formulations (`transform`+`slice`+
  * `concat_ws` for shingles; 128 `array_min(transform(...))` folds for
  * MinHash; 64 `aggregate` folds for SimHash) are interpreted
  * per-element per-lambda; at 5k docs they already cost tens of
  * seconds, at 100 TB they'd dominate the job. These expressions do
  * the same work in one compiled pass per row. They are
  * CodegenFallback (the body is already a tight JVM loop; the win is
  * escaping the interpreted expression-tree evaluation, not codegen
  * of string plumbing).
  *
  * Every hash is the portable 60-bit md5 hash ([[md5Hash60]]), which
  * any engine with md5 reproduces, so a DuckDB oracle replays each
  * signature, band key and fingerprint exactly.
  */
object TextExprs {
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** The input check of the hash expressions, which read their
    * child's elements as strings. */
  def stringArray(name: String, child: Expression): TypeCheckResult = child.dataType match {
    case ArrayType(_: StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$name requires array<string>, got ${t.simpleString}")
  }

  /** The portable 60-bit hash ([[graft.operators.Dedup.portableHash60]])
    * computed natively: integer value of the first 15 hex chars of md5
    * = the top 60 bits of the digest, nibble-folded. Identical to the
    * `conv(substring(md5(s),1,15),16,10)` column form, but one digest
    * call in a compiled loop instead of an interpreted per-element
    * lambda (the HOF `transform` formulation benchmarked 5× slower on
    * the simhash query).
    */
  // Oracle-robustness salt (empty by default — bit-identical to the
  // committed baseline). Prepended to every md5Hash60 input, matching
  // the salted duckHex60 and Dedup.portableHash60 forms.
  private val saltBytes: Array[Byte] =
    graft.config.PortableSalt.hashPrefix.getBytes("UTF-8")

  def md5Hash60(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    if (saltBytes.length != 0) d.update(saltBytes)
    val dig = d.digest(s.getBytes)
    var acc = 0L
    var i = 0
    while (i < 15) {
      val nib =
        if ((i & 1) == 0) (dig(i >> 1) >> 4) & 0xF
        else dig(i >> 1) & 0xF
      acc = (acc << 4) | nib
      i += 1
    }
    acc
  }
}

/** Distinct word n-gram shingles over a token array.
  * Matches `array_distinct(transform(sequence(0, max(len-n,0)),
  * i -> concat_ws(" ", slice(toks, i+1, n))))`: max(len-n+1, 1)
  * shingles, the tail one clamped when len < n; first-occurrence
  * dedup order.
  */
case class WordShinglesExpr(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {
  require(n >= 1)
  override def prettyName: String = "word_shingles"
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val len = toks.numElements()
    val count = math.max(len - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[UTF8String](count * 2)
    val space = UTF8String.fromString(" ")
    var i = 0
    while (i < count) {
      val hi = math.min(i + n, len)
      val parts = new Array[UTF8String](hi - i)
      var j = i
      while (j < hi) { parts(j - i) = toks.getUTF8String(j); j += 1 }
      seen.add(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator(); var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature: for each (a_k, b_k), min over shingles of
  * (a_k · (h(s) mod P) + b_k) mod P, with h = [[TextExprs.md5Hash60]].
  * One pass over the `array<string>` shingle array computes all K
  * signature rows. For the Mersenne prime 2^31 − 1 with coefficients
  * in [0, P] every operand is non-negative and below 2^62, so the
  * reductions fold bits ([[MinHashSignatureExpr.mod31]]) instead of
  * dividing; any other prime or coefficient takes `floorMod`.
  */
case class MinHashSignatureExpr(child: Expression, coeffs: Seq[(Long, Long)], prime: Long)
    extends UnaryExpression with CodegenFallback {
  import MinHashSignatureExpr._
  override def prettyName: String = "minhash_signature"
  override def checkInputDataTypes(): TypeCheckResult = TextExprs.stringArray(prettyName, child)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val as: Array[Long] = coeffs.map(_._1).toArray
  private val bs: Array[Long] = coeffs.map(_._2).toArray
  private val mersenne: Boolean =
    prime == P31 && (as ++ bs).forall(c => c >= 0 && c <= P31)

  override def nullSafeEval(input: Any): Any = {
    val shingles = input.asInstanceOf[ArrayData]
    val k = as.length
    val mins = Array.fill[Long](k)(Long.MaxValue)
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      val h = TextExprs.md5Hash60(shingles.getUTF8String(i))
      var j = 0
      if (mersenne) {
        val red = mod31(h)
        while (j < k) {
          val v = mod31(as(j) * red + bs(j))
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      } else {
        val red = java.lang.Math.floorMod(h, prime)
        while (j < k) {
          val v = java.lang.Math.floorMod(as(j) * red + bs(j), prime)
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignatureExpr {
  /** The Mersenne prime 2^31 − 1. */
  val P31: Long = 0x7FFFFFFFL

  /** `x mod P31` for 0 <= x < 2^63: 2^31 ≡ 1 (mod P31), so adding the
    * bits above 31 to the bits below keeps the residue; two folds
    * leave at most P31 + 3, and one subtraction finishes. */
  def mod31(x: Long): Long = {
    val y = (x & P31) + (x >>> 31)
    val z = (y & P31) + (y >>> 31)
    if (z >= P31) z - P31 else z
  }
}

/** LSH band keys of a MinHash signature: band j covers signature rows
  * [j·r, j·r + r), clipped to the signature's length (a null signature
  * has none). Its key is the slice's decimal values joined by "_"
  * (`concat_ws("_", slice.cast("array<string>"))`), a string any
  * engine can rebuild. One function serves [[BandKeysExpr]] and the
  * Dedup MinHash kernel, so both bucket documents identically.
  */
object BandKeys {
  private val Sep = UTF8String.fromString("_")

  /** Band `j`'s key. */
  def key(sig: Array[Long], j: Int, r: Int): UTF8String = {
    val from = math.min(j * r, sig.length)
    val to = math.min(from + r, sig.length)
    val parts = new Array[UTF8String](to - from)
    var i = from
    while (i < to) { parts(i - from) = UTF8String.fromString(java.lang.Long.toString(sig(i))); i += 1 }
    UTF8String.concatWs(Sep, parts: _*)
  }
}

/** `array<struct<band int, key string>>`: the [[BandKeys]] of every
  * band of a signature, in band order. Replaces a per-band
  * `struct(slice, cast, concat_ws)` expression tree with one loop; a
  * null signature gives every band the key of an empty slice, as that
  * tree did.
  */
case class BandKeysExpr(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback {
  require(bands >= 1 && rowsPerBand >= 1, s"bands=$bands and rowsPerBand=$rowsPerBand must be positive")
  override def prettyName: String = "band_keys"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("key", StringType, nullable = false))),
    containsNull = false)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val sig = if (v == null) Array.emptyLongArray else v.asInstanceOf[ArrayData].toLongArray()
    val out = new Array[Any](bands)
    var j = 0
    while (j < bands) {
      out(j) = org.apache.spark.sql.catalyst.InternalRow(j, BandKeys.key(sig, j, rowsPerBand))
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** SimHash over a token array: per bit of each token's
  * [[TextExprs.md5Hash60]], fold a +1/-1 counter over the low `nBits`
  * bits; sign bits packed MSB-first (bit nBits-1 of the hash first),
  * the fold order of the DuckDB oracle's replay
  * ([[graft.operators.Dedup.simhashPortable]]).
  */
case class SimHash64Expr(child: Expression, nBits: Int)
    extends UnaryExpression with CodegenFallback {
  require(nBits >= 1 && nBits <= 60)
  override def prettyName: String = "simhash64"
  override def checkInputDataTypes(): TypeCheckResult = TextExprs.stringArray(prettyName, child)
  override def dataType: DataType = LongType

  // Token distributions are Zipfian — memoize md5 results per
  // expression instance (one per task, single-threaded eval) with a
  // bounded map; >90% of occurrences hit the cache on natural text,
  // cutting the digest cost several-fold.
  @transient private lazy val md5Cache = new java.util.HashMap[String, java.lang.Long](1 << 12)

  private def hash(s: UTF8String): Long = {
    val key = s.toString
    val hit = md5Cache.get(key)
    if (hit != null) hit.longValue()
    else {
      if (md5Cache.size >= (1 << 16)) md5Cache.clear()
      val h = TextExprs.md5Hash60(s)
      md5Cache.put(key, h)
      h
    }
  }

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val counters = new Array[Int](nBits)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val h = hash(toks.getUTF8String(i))
      var b = 0
      while (b < nBits) {
        counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var packed = 0L
    // Fold order i = 0..nBits-1 with acc<<1|bit ⇒ bit for shift i ends
    // up at position nBits-1-i, same as the expression-tree version.
    var b = 0
    while (b < nBits) {
      packed = (packed << 1) | (if (counters(b) > 0) 1L else 0L)
      b += 1
    }
    packed
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Winnowing fingerprint selection (Schleimer et al. 2003, the MOSS
  * algorithm) over a token array: hash every `gramSize`-token window
  * with the portable md5-60 kernel, slide a window of `w` consecutive
  * gram hashes, select the MINIMUM hash per window (rightmost on
  * ties), and emit the hash at each DISTINCT selected position in
  * first-selection order — exactly the
  * `transform(windows, ...array_min/array_position...)` +
  * `array_distinct` column formulation, but as one O(grams·w) compiled
  * loop that computes each gram's digest ONCE.
  *
  * Why native: the HOF formulation captures the gram-hash array
  * inside the per-window lambda, and interpreted HOF evaluation
  * re-computes a lambda-captured array per window per reference —
  * md5-of-every-gram times windows times three references, a
  * multiplicative blow-up measured at >5 min/query on 5k docs. This
  * expression is the same shape fix as [[MinHashSignatureExpr]].
  *
  * Engine-portable: every emitted hash is the 60-bit md5 integer
  * ([[TextExprs.md5Hash60]]) of the space-joined gram, so a DuckDB
  * oracle replays the selection exactly. Output `array<bigint>`;
  * empty when the document has fewer than `gramSize + w - 1` tokens
  * (no complete hash window).
  */
case class WinnowingExpr(child: Expression, gramSize: Int, w: Int)
    extends UnaryExpression with CodegenFallback {
  require(gramSize >= 2, s"gramSize must be >= 2, got $gramSize")
  require(w >= 1, s"window w must be >= 1, got $w")
  override def prettyName: String = "winnowing_fingerprints"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private val emptyResult = new GenericArrayData(Array.emptyLongArray)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    val nGrams = math.max(n - (gramSize - 1), 0)
    val nWin = nGrams - (w - 1)
    if (nWin <= 0) return emptyResult
    // Every gram hashed exactly once.
    val hs = new Array[Long](nGrams)
    val space = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](gramSize)
    var i = 0
    while (i < nGrams) {
      var j = 0
      while (j < gramSize) { parts(j) = toks.getUTF8String(i + j); j += 1 }
      hs(i) = TextExprs.md5Hash60(UTF8String.concatWs(space, parts: _*))
      i += 1
    }
    // Rightmost-minimum per window; winnowing selections are
    // non-decreasing in position, so first-occurrence dedup
    // (= array_distinct on the position list) is a last-pos check.
    val out = new Array[Long](nWin)
    var m = 0
    var last = -1
    var wi = 0
    while (wi < nWin) {
      var minV = Long.MaxValue
      var minP = wi
      var j = wi
      val end = wi + w
      while (j < end) {
        if (hs(j) <= minV) { minV = hs(j); minP = j }
        j += 1
      }
      if (minP != last) { out(m) = hs(minP); m = m + 1; last = minP }
      wi += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Positioned gram hashes over a token array: chunk i covers tokens
  * [i·stride, i·stride + gramSize); emits
  * `array<struct<pos int, h bigint>>` with h = the portable 60-bit
  * md5 of the space-joined gram and pos = i. `stride = 1` gives the
  * overlapping-gram stream (substring dedup), `stride = gramSize`
  * the aligned-chunk stream (chunk dedup). Only complete grams are
  * emitted: count = floor((n − gramSize)/stride) + 1, zero when
  * n < gramSize.
  *
  * Native for the same reason as [[WinnowingExpr]]: the
  * `transform(indices, i -> …slice(toks, …)…)` formulation captures
  * the token array inside the lambda, and a lambda-captured computed
  * expression re-evaluates per element — the whole normalize+split
  * re-ran per gram, O(tokens²) per document. Here every token is
  * read once and every gram digested once.
  */
case class GramPosHashExpr(child: Expression, gramSize: Int, stride: Int)
    extends UnaryExpression with CodegenFallback {
  require(gramSize >= 1, s"gramSize must be >= 1, got $gramSize")
  require(stride >= 1, s"stride must be >= 1, got $stride")
  override def prettyName: String = "gram_pos_hash"
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("pos", IntegerType, nullable = false),
      StructField("h", LongType, nullable = false))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    if (n < gramSize) return new GenericArrayData(Array.empty[Any])
    val count = (n - gramSize) / stride + 1
    val out = new Array[Any](count)
    val space = UTF8String.fromString(" ")
    val parts = new Array[UTF8String](gramSize)
    var i = 0
    while (i < count) {
      val base = i * stride
      var j = 0
      while (j < gramSize) { parts(j) = toks.getUTF8String(base + j); j += 1 }
      out(i) = org.apache.spark.sql.catalyst.InternalRow(
        i, TextExprs.md5Hash60(UTF8String.concatWs(space, parts: _*)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hashed unigram+bigram linear-classifier logit of a token array —
  * the fastText-style featurize-and-score step in ONE compiled pass:
  * bucket `floorMod(md5_60("u:" + tok), numBuckets)` per token and
  * `floorMod(md5_60("b:" + t1 + " " + t2), numBuckets)` per adjacent
  * pair (the exact strings of the composable `concat`/
  * `portableHash60` formulation, so scores are bit-identical and
  * oracle-replayable), then sum the dense weight vector at those
  * buckets. The weight model is a constructor literal — the same
  * plan-literal treatment as PQ codebooks. Native because the
  * per-element interpreted chain (md5 → hex substring → base-16 conv
  * → cast, then a map/array lookup per feature) priced the featurize
  * fold in tens of seconds at sf0.1. Output
  * `struct<n_features bigint, logit_q bigint>`.
  */
case class ClassifierLogitExpr(child: Expression, weights: Seq[Long])
    extends UnaryExpression with CodegenFallback {
  require(weights.nonEmpty, "weights must be non-empty")
  override def prettyName: String = "classifier_logit"
  override def dataType: DataType = StructType(Seq(
    StructField("n_features", LongType, nullable = false),
    StructField("logit_q", LongType, nullable = false)))

  private val w: Array[Long] = weights.toArray
  private val nB: Long = w.length.toLong
  private val uPre = UTF8String.fromString("u:")
  private val bPre = UTF8String.fromString("b:")
  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any = {
    val toks = input.asInstanceOf[ArrayData]
    val n = toks.numElements()
    var logit = 0L
    var i = 0
    while (i < n) {
      logit += w(java.lang.Math.floorMod(
        TextExprs.md5Hash60(UTF8String.concat(uPre, toks.getUTF8String(i))), nB).toInt)
      i += 1
    }
    var j = 0
    while (j < n - 1) {
      logit += w(java.lang.Math.floorMod(
        TextExprs.md5Hash60(UTF8String.concat(
          bPre, toks.getUTF8String(j), space, toks.getUTF8String(j + 1))), nB).toInt)
      j += 1
    }
    org.apache.spark.sql.catalyst.InternalRow((n + math.max(n - 1, 0)).toLong, logit)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Spark's `lower()` of a UTF8_BINARY string, without its first-use
  * cost: `Lower` goes through `CollationAwareUTF8String`, whose static
  * initializer builds a title-case table that lowercasing never reads —
  * 1.36–1.45 s of thread CPU on the first call in a JVM, against 36 ms
  * for ICU's `UCharacter.toLowerCase` itself. Returns exactly what
  * `Lower` returns: a full-ASCII string lowercased byte-wise, any other
  * `UCharacter.toLowerCase` of its valid-UTF-8 form; with
  * `spark.sql.icu.caseMappings.enabled` off, `UTF8String.toLowerCase`
  * (the JDK mapping). The flag is read once per expression, as `Lower`
  * reads it.
  */
case class LowerUtf8(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lower_utf8"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a UTF8_BINARY string, got ${child.dataType.simpleString}")

  @transient private lazy val useICU: Boolean = SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)

  override def nullSafeEval(input: Any): Any = LowerUtf8.lower(input.asInstanceOf[UTF8String], useICU)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.LowerUtf8.lower($c, $useICU)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LowerUtf8 {
  def lower(s: UTF8String, icu: Boolean): UTF8String =
    if (!icu) s.toLowerCase
    else if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))
}
