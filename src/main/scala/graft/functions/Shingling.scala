package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Word-shingle hashing: input = array<bigint> of token hashes, output =
 * array<bigint> of rolling n-gram combination hashes (one per window
 * position; documents shorter than n tokens yield a single shingle over
 * all their tokens so every non-empty document has a signature).
 *
 * This is the graft generalization of the reference's prefix-shingle
 * blocking key `createTitleKey` (classes/MetadataUtils.php:97-132): where
 * the reference takes ONE leading-words key per record, web-scale near-dup
 * detection takes ALL n-gram windows and summarizes them with MinHash.
 *
 * The combiner is an order-dependent splitmix64 chain, so shingle("a b c")
 * != shingle("c b a").
 */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, "shingle size must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    ShingleHashes.hashes(input.asInstanceOf[ArrayData].toLongArray(), n))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(" +
        s"graft.functions.ShingleHashes.hashes($c.toLongArray(), $n));")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleHashes {
  /** Rolling n-gram hashes over the token hashes `th`. Called from
    * generated code (static forwarder on the companion class). */
  def hashes(th: Array[Long], n: Int): Array[Long] = {
    val len = th.length
    if (len == 0) return Array.emptyLongArray
    val width = math.min(n, len)
    val m = len - width + 1
    val out = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = 0x2545F4914F6CDD1DL
      var j = 0
      while (j < width) {
        var z = th(i + j) + 0x9E3779B97F4A7C15L * (j + 1)
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        h = (h ^ z) * 0x94D049BB133111EBL
        j += 1
      }
      out(i) = h ^ (h >>> 31)
      i += 1
    }
    out
  }
}

/** Column helpers for the tokenize → hash → shingle chain (all codegen'd
  * built-ins except the custom expressions in this package). */
object TextColumns {
  /** PHP-explode-like tokenization on single spaces (the corpus contract:
    * single-space-separated tokens, no leading/trailing whitespace). */
  def tokens(text: Column): Column = split(text, " ")

  /** Per-token 64-bit hashes; seed fixed by xxhash64's default (42).
    * Deliberately the COMPOSED builtin chain, not a custom fused
    * expression: an A/B at 1.4M docs × 16 cores measured the codegen'd
    * split+transform+xxhash64 at 132 s end-to-end vs 145–151 s for a
    * hand-written single-pass byte-walk Expression — Spark's builtin
    * UTF8String split + word-at-a-time XXH64 beat the byte-at-a-time
    * custom loop, so the builtin stays. */
  def tokenHashes(text: Column): Column =
    transform(tokens(text), t => xxhash64(t))

  /** Rolling n-gram shingle hashes over the token stream. */
  def shingleHashes(tokenHashes: Column, n: Int): Column =
    Bridge.column(ShingleHashes(Bridge.expression(tokenHashes), n))

  /** Distinct shingle set used for signatures and exact-Jaccard verify. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingleHashes(tokenHashes(text), n))
}
