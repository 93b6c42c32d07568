package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Fused probe-row generation: text → token hashes → shingles → MinHash →
 * LSH band keys, SimHash chunk keys and winnowed substring-anchor keys,
 * in ONE primitive pass per document, emitted as the ready-to-explode
 * (channel, bucket_key, tag) struct array.
 *
 * Why a single fused expression (round-6, guide §1.2 step 2): the
 * composed-builtin formulation (`DedupStages.probeRows` rounds 1–5)
 * LOOKED like one pass but planned as three — Catalyst's filter pushdown
 * re-expanded the `size(shingles) > 0` guard into a full
 * split→hash→shingle→distinct chain inside the scan Filter, and
 * CollapseProject duplicated the token-hash chain into each consumer
 * projection (sa + anchors). Common-subexpression elimination cannot
 * rescue lambda-bearing trees (`transform`). The probe scan is the bulk
 * of all pipeline compute, so the duplication was the dominant
 * scaling-leg cost.
 *
 * Shingles, MinHash, band mix, SimHash and winnowing are calls to the
 * kernels on the companions of ShingleHashes / MinHashSignature /
 * LshBandHashes / SimHash64 / WinnowAnchors — the code those primitive
 * expressions run — so their arithmetic exists once, pinned by
 * SignatureSpec's golden folds. MinHash runs over the raw shingle stream:
 * minima are duplicate-insensitive, so `array_distinct` was semantically
 * dead there. This expression's own work, which ProbeRowsSpec pins
 * against the builtin chain:
 *
 *  - token split: single-space byte walk ≡ `split(text, " ", -1)` (the
 *    0x20 byte never occurs inside a UTF-8 multibyte sequence; empties
 *    kept, `""` → one empty token — same as the regex split)
 *  - token hash: XXH64 over the token's UTF-8 bytes, seed 42
 *    ≡ `xxhash64(token)`
 *  - anchor distinct: first occurrence kept ≡ `array_distinct`
 *  - bucket keys: the same multi-arg xxhash64 fold (seed 42,
 *    int/int/long operand typing) as `probeTable`, so the persisted
 *    index and the fused scan stay key-compatible bit-for-bit
 *
 * Output rows: bands (channel "minhash_lsh", tag 0), then the 4 SimHash
 * chunks (tag = full simhash), then distinct anchors (channel
 * "substring", tag 0) — the exact rows the old generator emitted.
 *
 * Codegen: a single static helper call per row (no per-element lambda
 * dispatch, no intermediate UnsafeArrayData between stages); interpreted
 * eval shares the same helper.
 */
case class ProbeRowsFor(child: Expression, shingleN: Int, substrN: Int,
                        winnowW: Int, minhashK: Int, bands: Int,
                        rowsPerBand: Int, seed: Long)
    extends UnaryExpression {
  require(minhashK == bands * rowsPerBand, "minhashK must equal bands*rowsPerBand")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("channel", StringType, nullable = false),
    StructField("bucket_key", LongType, nullable = false),
    StructField("tag", LongType, nullable = false))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "probe_rows_for"

  @transient private lazy val coefs = SignatureCoefficients.linearPerms(minhashK, seed)

  override def nullSafeEval(input: Any): Any =
    ProbeRowsFor.evalRows(input.asInstanceOf[UTF8String], shingleN, substrN,
      winnowW, coefs._1, coefs._2, bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("mhA", coefs._1, "long[]")
    val bRef = ctx.addReferenceObj("mhB", coefs._2, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = graft.functions.ProbeRowsFor.evalRows(
         |  $c, $shingleN, $substrN, $winnowW, $aRef, $bRef, $bands, $rowsPerBand);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ProbeRowsFor {
  private val ChMinhash = UTF8String.fromString("minhash_lsh")
  private val ChSimhash = UTF8String.fromString("simhash")
  private val ChSubstring = UTF8String.fromString("substring")

  // called from generated code (static forwarder on the companion class)
  def evalRows(text: UTF8String, shingleN: Int, substrN: Int, winnowW: Int,
               coefA: Array[Long], coefB: Array[Long], bands: Int,
               rowsPerBand: Int): ArrayData = {
    // ---- tokens: split on the 0x20 byte (≡ split(text, " ", -1)), hash
    // each slice with XXH64 seed 42 (≡ xxhash64(token))
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nBytes = text.numBytes()
    var nTok = 1
    var i = 0
    while (i < nBytes) {
      if (org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) nTok += 1
      i += 1
    }
    val th = new Array[Long](nTok)
    var t = 0
    var start = 0
    i = 0
    while (i <= nBytes) {
      if (i == nBytes ||
          org.apache.spark.unsafe.Platform.getByte(base, off + i) == 0x20) {
        th(t) = XXH64.hashUnsafeBytes(base, off + start, i - start, 42L)
        t += 1
        start = i + 1
      }
      i += 1
    }

    // ---- signatures: the primitive expressions' kernels
    val sa = ShingleHashes.hashes(th, shingleN)
    val sim = SimHash64.simhash(sa)
    val bandHashes = LshBandHashes.bandHashes(
      MinHashSignature.minima(sa, coefA, coefB), bands, rowsPerBand)
    // first-occurrence anchor distinct (≡ array_distinct(...))
    val anchors = distinctInOrder(
      WinnowAnchors.anchors(ShingleHashes.hashes(th, substrN), winnowW))
    val nDistinct = anchors.length

    // ---- probe rows: band keys, simhash chunk keys, anchor keys — the
    // multi-arg xxhash64 fold (seed 42; int operands via hashInt, long
    // via hashLong) exactly as the builtin xxhash64(...) computes it
    val out = new Array[Any](bands + 4 + nDistinct)
    var o = 0
    val seed0 = XXH64.hashInt(0, 42L)
    var b = 0
    while (b < bands) {
      val key = XXH64.hashLong(bandHashes(b), XXH64.hashInt(b, seed0))
      out(o) = InternalRow(ChMinhash, key, 0L)
      o += 1
      b += 1
    }
    val seed1 = XXH64.hashInt(1, 42L)
    i = 0
    while (i < 4) {
      val chunk = (sim >>> (i * 16)) & 0xFFFFL
      val key = XXH64.hashLong(chunk, XXH64.hashInt(i, seed1))
      out(o) = InternalRow(ChSimhash, key, sim)
      o += 1
      i += 1
    }
    val seed2 = XXH64.hashInt(2, 42L)
    i = 0
    while (i < nDistinct) {
      out(o) = InternalRow(ChSubstring, XXH64.hashLong(anchors(i), seed2), 0L)
      o += 1
      i += 1
    }
    new GenericArrayData(out)
  }

  /** First-occurrence distinct of xs, in input order (≡ array_distinct):
    * linear probing over a primitive power-of-two table at most half
    * full, so no value is boxed. 0 marks an empty slot; the value 0
    * itself is tracked by a flag. */
  private[functions] def distinctInOrder(xs: Array[Long]): Array[Long] = {
    val n = xs.length
    val cap = Integer.highestOneBit(math.max(2, n) * 2 - 1) << 1
    val mask = cap - 1
    val shift = 64 - Integer.numberOfTrailingZeros(cap)
    val table = new Array[Long](cap)
    var seenZero = false
    val out = new Array[Long](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      val x = xs(i)
      if (x == 0L) {
        if (!seenZero) { seenZero = true; out(cnt) = x; cnt += 1 }
      } else {
        var slot = ((x * 0x9E3779B97F4A7C15L) >>> shift).toInt
        while (table(slot) != 0L && table(slot) != x) slot = (slot + 1) & mask
        if (table(slot) == 0L) { table(slot) = x; out(cnt) = x; cnt += 1 }
      }
      i += 1
    }
    if (cnt == n) out else java.util.Arrays.copyOf(out, cnt)
  }
}

object proberows {
  def probeRowsFor(text: Column, shingleN: Int, substrN: Int, winnowW: Int,
                   minhashK: Int, bands: Int, rowsPerBand: Int, seed: Long): Column =
    Bridge.column(ProbeRowsFor(Bridge.expression(text), shingleN, substrN,
      winnowW, minhashK, bands, rowsPerBand, seed))
}
