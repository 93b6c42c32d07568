package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Seeded coefficient tables shared by the signature expressions. Generated
 * by a SplitMix64 stream from a fixed seed so signatures are deterministic
 * across runs/JVMs (the reference's dedup keys are likewise deterministic
 * functions of the record, classes/RecordManager.php:1296-1310).
 */
object SignatureCoefficients {
  def splitmix64(state: Long): (Long, Long) = {
    val z0 = state + 0x9E3779B97F4A7C15L
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z0, z ^ (z >>> 31))
  }

  /** k pairs (a odd, b) defining 64-bit linear permutations h(x) = a*x + b. */
  def linearPerms(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    var st = seed
    var i = 0
    while (i < k) {
      val (s1, va) = splitmix64(st)
      val (s2, vb) = splitmix64(s1)
      st = s2
      a(i) = va | 1L // odd => bijection on Z_2^64
      b(i) = vb
      i += 1
    }
    (a, b)
  }
}

/**
 * Batched MinHash: input = array<bigint> of (distinct) shingle hashes,
 * output = array<bigint> of k signature minima, computed in ONE pass over
 * the shingles (the reference computes all blocking keys for a record in
 * one place too, classes/RecordManager.php:1296-1310; here the "keys" are
 * the k permuted minima).
 *
 * A native Expression with codegen rather than a Scala UDF: no
 * serialization of the lambda, no Row boxing of the input array — the
 * generated Java hands the input's longs to `MinHashSignature.minima`,
 * the helper interpreted eval and the fused ProbeRowsFor also call.
 */
case class MinHashSignature(child: Expression, k: Int, seed: Long)
    extends UnaryExpression {

  private lazy val (coefA, coefB) = SignatureCoefficients.linearPerms(k, seed)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "minhash_signature"

  override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    MinHashSignature.minima(input.asInstanceOf[ArrayData].toLongArray(), coefA, coefB))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coefA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coefB, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(" +
        s"graft.functions.MinHashSignature.minima($c.toLongArray(), $aRef, $bRef));")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {
  /** The k minima of h(x) = a(j)*x + b(j) over xs (Long.MaxValue when xs
    * is empty). Called from generated code (static forwarder on the
    * companion class).
    *
    * The slot update is a branch-free signed min (no compare-and-store),
    * so the JIT can vectorize the sweep over the k slots; it keeps
    * exactly the minima of `if (v < sig(j)) sig(j) = v`. */
  def minima(xs: Array[Long], coefA: Array[Long], coefB: Array[Long]): Array[Long] = {
    val k = coefA.length
    val sig = new Array[Long](k)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < xs.length) {
      val h = xs(i)
      var j = 0
      while (j < k) {
        val v = coefA(j) * h + coefB(j)
        val m = sig(j)
        // all ones iff v < m: the sign of v - m, corrected where it overflows
        val d = v - m
        val lt = (d ^ ((v ^ m) & (d ^ v))) >> 63
        sig(j) = m ^ ((v ^ m) & lt)
        j += 1
      }
      i += 1
    }
    sig
  }
}

/**
 * LSH band hashes: input = the minhash signature (array<bigint>, length
 * b*r), output = array<bigint> of b band hashes, band i = mix of the r
 * signature values in rows [i*r, (i+1)*r) together with the band index (so
 * identical row-groups in different bands never collide). Exploding this
 * array yields the band table that the candidate self-join runs on
 * (the analog of the reference's sparse key indexes, dbscripts/mongo.js:2-4).
 */
case class LshBandHashes(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_band_hashes"

  override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    LshBandHashes.bandHashes(input.asInstanceOf[ArrayData].toLongArray(), bands, rowsPerBand))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(" +
        s"graft.functions.LshBandHashes.bandHashes($c.toLongArray(), $bands, $rowsPerBand));")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object LshBandHashes {
  /** One hash per band of `rowsPerBand` consecutive signature values.
    * Called from generated code (static forwarder on the companion class). */
  def bandHashes(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0x9E3779B97F4A7C15L * (b + 1)
      var r = 0
      while (r < rowsPerBand) {
        var z = sig(b * rowsPerBand + r) + 0x9E3779B97F4A7C15L * (r + 1)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        h = (h ^ z) * 0x94D049BB133111EBL
        r += 1
      }
      out(b) = h ^ (h >>> 31)
      b += 1
    }
    out
  }
}

/**
 * 64-bit SimHash: input = array<bigint> of token hashes (NOT distinct —
 * each occurrence votes), output = bigint. Bit b of the output is 1 iff
 * the sum over tokens of (+1 if bit b of the token hash is 1 else -1) is
 * positive. This is the verification-channel analog of the reference's
 * thresholded-similarity `matchRecords` (classes/RecordManager.php:1482-1623):
 * Hamming distance on SimHash ≈ cosine distance on token profiles.
 */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(SimHash64.simhash(input.asInstanceOf[ArrayData].toLongArray()))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SimHash64.simhash($c.toLongArray());")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private final val ByteOnes = 0x0101010101010101L

  /** Bit b is set iff more of xs have bit b set than clear. Called from
    * generated code (static forwarder on the companion class).
    *
    * SWAR vote: lane s accumulates (h >>> s) & 0x01..01, so byte k of
    * lane s counts bit 8k+s over the words seen. A byte holds at most
    * 255, so the lanes are flushed into 64 Int counts every 255 words.
    * "Votes for > votes against" is ones - (n - ones) > 0, i.e.
    * 2·ones > n. */
  def simhash(xs: Array[Long]): Long = {
    val n = xs.length
    val ones = new Array[Int](64)
    var i = 0
    while (i < n) {
      val end = if (n - i <= 255) n else i + 255
      var l0, l1, l2, l3, l4, l5, l6, l7 = 0L
      while (i < end) {
        val h = xs(i)
        l0 += h & ByteOnes
        l1 += (h >>> 1) & ByteOnes
        l2 += (h >>> 2) & ByteOnes
        l3 += (h >>> 3) & ByteOnes
        l4 += (h >>> 4) & ByteOnes
        l5 += (h >>> 5) & ByteOnes
        l6 += (h >>> 6) & ByteOnes
        l7 += (h >>> 7) & ByteOnes
        i += 1
      }
      flush(ones, l0, 0); flush(ones, l1, 1); flush(ones, l2, 2); flush(ones, l3, 3)
      flush(ones, l4, 4); flush(ones, l5, 5); flush(ones, l6, 6); flush(ones, l7, 7)
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (2L * ones(b) > n) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Adds the eight byte counts of `lane` (bit 8k+s in byte k) to `ones`. */
  private def flush(ones: Array[Int], lane: Long, s: Int): Unit = {
    var k = 0
    while (k < 8) {
      ones(8 * k + s) += ((lane >>> (8 * k)) & 0xFFL).toInt
      k += 1
    }
  }
}

/** Column-level entry points (the graft analog of functions._). */
object signatures {
  def minhashSignature(c: Column, k: Int, seed: Long): Column =
    Bridge.column(MinHashSignature(Bridge.expression(c), k, seed))

  def lshBandHashes(c: Column, bands: Int, rowsPerBand: Int): Column =
    Bridge.column(LshBandHashes(Bridge.expression(c), bands, rowsPerBand))

  def simhash64(c: Column): Column =
    Bridge.column(SimHash64(Bridge.expression(c)))
}
