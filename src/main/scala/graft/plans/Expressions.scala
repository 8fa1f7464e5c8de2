package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the engine's two hot scalar paths.
  *
  * Both were Scala UDFs first; a native `Expression` with `doGenCode`
  * removes the ScalaUDF eval wrapper (closure call, null-boxing,
  * try/catch per row) and keeps the operator inside the surrounding
  * whole-stage-codegen span. The generated code calls a static JVM
  * helper — same technique Spark's own regexp/json expressions use.
  */
case class StripDiacritics(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "strip_diacritics"

  override def nullSafeEval(input: Any): Any =
    UTF8String.fromString(
      graft.functions.Text.stripDiacritics(input.asInstanceOf[UTF8String].toString))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      "org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.functions.Text.stripDiacritics($c.toString()))")

  override protected def withNewChildInternal(newChild: Expression): StripDiacritics =
    copy(child = newChild)
}

/** 64-bit SimHash of a token array (see operators.Dedup.simhash — one
  * ±1 vote per bit per token occurrence; occurrence-weighting equals the
  * grouped-weight formulation). */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.SimHash64.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Hyperplane-sign LSH signature of a quantized (long) vector: bit b is
  * set when the projection onto deterministic pseudo-random plane
  * (planeOffset+b) is non-negative. Same plane formula as
  * operators.Similarity.planeRow; the expression replaces an
  * interpreted zip_with/aggregate pipeline (~8x512 boxed lambda evals
  * per row) with one tight JVM loop. */
case class HyperplaneSig(child: Expression, planeOffset: Int, nBits: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hyperplane_sig"

  override def nullSafeEval(input: Any): Any =
    HyperplaneSig.compute(input.asInstanceOf[ArrayData], planeOffset, nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.plans.HyperplaneSig.compute($c, $planeOffset, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSig =
    copy(child = newChild)
}

object HyperplaneSig {
  private val planeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Long]]()

  /** Well-mixed deterministic sign for (plane j, dim d) — murmur3 fmix32
    * finalizer over the packed key, so every bit of (j, d) avalanches
    * into the output bit. A multiplicative-parity hash here is a
    * correctness trap: (k * odd) mod 2^31 PRESERVES the parity of k, so
    * taking its low bit made the sign depend only on (j + d) % 2 —
    * every "plane" was ±one plane, every signature one of 2 values, and
    * the LSH band join silently degenerated to all-pairs. */
  def planeSign(j: Int, d: Int): Boolean = {
    var x = j * 0x9E3779B9 + d
    x ^= x >>> 16; x *= 0x85ebca6b
    x ^= x >>> 13; x *= 0xc2b2ae35
    x ^= x >>> 16
    (x & 1) == 0
  }

  /** ±1 signs of plane j over dims 1..dim (matches Similarity.planeRow). */
  def plane(j: Int, dim: Int): Array[Long] =
    planeCache.computeIfAbsent((j, dim), { case (jj, dd) =>
      Array.tabulate(dd) { i =>
        if (planeSign(jj, i + 1)) 1L else -1L
      }
    })

  def compute(v: ArrayData, offset: Int, bits: Int): Long = {
    val n = v.numElements()
    var sig = 0L
    var b = 0
    while (b < bits) {
      val p = plane(offset + b, n)
      var acc = 0L
      var i = 0
      while (i < n) { acc += p(i) * v.getLong(i); i += 1 }
      if (acc >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

object SimHash64 {
  /** Static helper invoked from generated code; operates directly on the
    * columnar ArrayData, no Seq materialization. */
  def compute(tokens: ArrayData): Long = {
    val votes = new Array[Long](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = graft.operators.Dedup.fnv64(tokens.getUTF8String(i).toString)
        var bit = 0
        while (bit < 64) {
          if (((h >>> bit) & 1L) == 1L) votes(bit) += 1 else votes(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (votes(bit) >= 0) out |= (1L << bit); bit += 1 }
    out
  }
}

/** Winnowing fingerprints (Schleimer et al., SIGMOD'03): Rabin-Karp
  * rolling hash over character k-grams (O(1) per position) + sliding
  * w-window minima via a monotonic deque (O(n) total), distinct, sorted.
  * The Column-level formulation (xxhash64 of substr per position +
  * array_min of slice per window) is O(n*(k+w)) in interpreted lambda
  * evals; this is one linear JVM pass. */
case class Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow"

  override def nullSafeEval(input: Any): Any =
    Winnow.compute(input.asInstanceOf[UTF8String].toString, k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.Winnow.compute($c.toString(), $k, $w)")

  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

object Winnow {
  /** murmur3 fmix64 — public-domain avalanche finalizer; spreads the
    * polynomial hash so window minima are uniform. */
  private def fmix64(x0: Long): Long = {
    var x = x0
    x ^= x >>> 33; x *= 0xff51afd7ed558ccdL
    x ^= x >>> 33; x *= 0xc4ceb9fe1a85ec53L
    x ^= x >>> 33; x
  }

  def compute(s: String, k: Int, w: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val n = s.length
    if (n == 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val kk = math.min(k, n)
    val m = n - kk + 1
    val B = 1000003L
    val hashes = new Array[Long](m)
    var h = 0L
    var i = 0
    while (i < kk) { h = h * B + s.charAt(i); i += 1 }
    var pow = 1L
    i = 1
    while (i < kk) { pow *= B; i += 1 }
    hashes(0) = fmix64(h)
    var p = 1
    while (p < m) {
      h = (h - s.charAt(p - 1) * pow) * B + s.charAt(p + kk - 1)
      hashes(p) = fmix64(h)
      p += 1
    }
    val ww = math.min(w, m)
    val out = new java.util.TreeSet[java.lang.Long]()
    val deque = new Array[Int](m)
    var head = 0
    var tail = 0
    var j = 0
    while (j < m) {
      while (tail > head && hashes(deque(tail - 1)) >= hashes(j)) tail -= 1
      deque(tail) = j
      tail += 1
      if (deque(head) <= j - ww) head += 1
      if (j >= ww - 1) out.add(hashes(deque(head)))
      j += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** Distinct word k-grams of a pre-normalized (single-space) string —
  * the shingle builder of the dedup family. Same semantics as the
  * sequence+slice+concat_ws Column formulation (windows shorter than k
  * keep their short gram; first-occurrence order), one JVM pass. */
case class WordKGrams(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_kgrams"

  override def nullSafeEval(input: Any): Any =
    WordKGrams.compute(input.asInstanceOf[UTF8String].toString, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordKGrams.compute($c.toString(), $k)")

  override protected def withNewChildInternal(newChild: Expression): WordKGrams =
    copy(child = newChild)
}

object WordKGrams {
  def compute(s: String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.split(" ", -1)
    val n = words.length
    val m = math.max(n - k + 1, 1)
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < m) {
      val end = math.min(i + k, n)
      seen.add(String.join(" ", java.util.Arrays.asList(words.slice(i, end): _*)))
      i += 1
    }
    val arr = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { arr(o) = UTF8String.fromString(it.next()); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** ALL word k-grams (duplicates preserved) of a pre-normalized string —
  * the frequency-analysis sibling of [[WordKGrams]] (whose distinct set
  * serves similarity). Returns EMPTY for texts shorter than k words:
  * a repetition/frequency consumer must not see a degenerate pseudo-gram.
  * Replaces the interpreted sequence+slice+concat_ws HOF chain with one
  * JVM pass under codegen. */
case class WordKGramsAll(child: Expression, k: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_kgrams_all"

  override def nullSafeEval(input: Any): Any =
    WordKGramsAll.compute(input.asInstanceOf[UTF8String].toString, k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.WordKGramsAll.compute($c.toString(), $k)")

  override protected def withNewChildInternal(newChild: Expression): WordKGramsAll =
    copy(child = newChild)
}

object WordKGramsAll {
  def compute(s: String, k: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val words = s.split(" ", -1)
    val n = words.length
    val m = n - k + 1
    if (m <= 0) return new org.apache.spark.sql.catalyst.util.GenericArrayData(new Array[AnyRef](0))
    val arr = new Array[AnyRef](m)
    var i = 0
    while (i < m) {
      val sb = new java.lang.StringBuilder(words(i))
      var j = 1
      while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
      arr(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(arr)
  }
}

/** 32-slot MinHash signature of a shingle array in ONE JVM loop:
  * h_i = (a_i*h + b_i) mod p with a_i = 2i+1, b_i = 12345i + 678,
  * p = 2^31 - 1, over base h = xxhash64(shingle) mod 2^31 — byte-for-byte
  * the formula of operators.Dedup.minhashSig. Replaces the
  * explode + 32-way min() aggregation signature stage (a full shuffle of
  * n·shingles rows) with a map-side scalar: the dominant cost of
  * MinHash-LSH disappears from the shuffle plan entirely. */
case class MinHashSig(child: Expression, nHashes: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    MinHashSig.compute(input.asInstanceOf[ArrayData], nHashes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.MinHashSig.compute($c, $nHashes)")

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  private final val P = 2147483647L // 2^31 - 1

  def compute(shingles: ArrayData, nHashes: Int): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val mins = new Array[Long](nHashes)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = shingles.numElements()
    var s = 0
    while (s < n) {
      if (!shingles.isNullAt(s)) {
        val u = shingles.getUTF8String(s)
        // Same base as Spark's xxhash64(col) (seed 42) folded into [0, 2^31).
        val h0 = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes(), 42L)
        val base = java.lang.Math.floorMod(h0, 2147483648L)
        var i = 0
        while (i < nHashes) {
          // base < 2^31, multiplier <= 2*nHashes-1: no 64-bit overflow.
          val hi = java.lang.Math.floorMod(base * (2L * i + 1L) + 12345L * i + 678L, P)
          if (hi < mins(i)) mins(i) = hi
          i += 1
        }
      }
      s += 1
    }
    // Empty set: the old min() aggregation produced NULLs; collapse to 0s
    // so the band key is still a valid (degenerate) bucket.
    var i = 0
    while (i < nHashes) { if (mins(i) == Long.MaxValue) mins(i) = 0L; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** Exact integer dot product of two long arrays (zip_with+aggregate was
  * the interpreted hot path of every cosine verify/rerank stage). */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "dot_long"

  override def nullSafeEval(l: Any, r: Any): Any =
    DotProductLong.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (l, r) => s"graft.plans.DotProductLong.compute($l, $r)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  def compute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }
}

/** Column builders + SQL registration for the native expressions. */
object NativeFunctions {

  def stripDiacritics(c: Column): Column =
    Bridge.column(StripDiacritics(Bridge.expression(c)))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))

  def hyperplaneSig(c: Column, planeOffset: Int, nBits: Int): Column =
    Bridge.column(HyperplaneSig(Bridge.expression(c), planeOffset, nBits))

  def dotLong(a: Column, b: Column): Column =
    Bridge.column(DotProductLong(Bridge.expression(a), Bridge.expression(b)))

  def winnow(c: Column, k: Int, w: Int): Column =
    Bridge.column(Winnow(Bridge.expression(c), k, w))

  def wordKGrams(c: Column, k: Int): Column =
    Bridge.column(WordKGrams(Bridge.expression(c), k))

  def wordKGramsAll(c: Column, k: Int): Column =
    Bridge.column(WordKGramsAll(Bridge.expression(c), k))

  def minhashSig(c: Column, nHashes: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(c), nHashes))

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[StripDiacritics].getName, null, name, usage, "")

  val registrations: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("strip_diacritics"),
      info("strip_diacritics", "strip_diacritics(str) - NFD-fold and drop combining marks"),
      (children: Seq[Expression]) => StripDiacritics(children.head)),
    (FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash fingerprint"),
      (children: Seq[Expression]) => SimHash64(children.head)),
  )

  /** Idempotent per-session SQL registration (`SELECT strip_diacritics(x)`). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    registrations.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
