package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/**
 * Winnowing anchor selection (Schleimer, Wilkerson, Aiken: "Winnowing:
 * Local Algorithms for Document Fingerprinting", SIGMOD'03): from a
 * rolling sequence of window hashes, keep the minimum of every w-length
 * window (rightmost minimum on ties). Guarantee: any two documents
 * sharing a contiguous run of ≥ (windowLen + w - 1) tokens share at least
 * one selected anchor — which makes the anchor equi-join a complete
 * candidate generator for exact substring duplication above that length.
 *
 * This implements the north rule's "suffix-array pass for exact substring
 * duplicates" as a Spark-native equivalent: the suffix-array formulation
 * (global suffix sort + adjacent-rank LCP) needs a total order over all
 * corpus suffixes — a full-corpus range-partitioned sort; winnowed
 * anchors give the same detection guarantee with a hash-bucket join, the
 * primitive the rest of the pipeline already scales on.
 */
case class WinnowAnchors(child: Expression, w: Int)
    extends UnaryExpression {
  require(w >= 1, "winnow window must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "winnow_anchors"

  override def nullSafeEval(input: Any): Any = UnsafeArrayData.fromPrimitiveArray(
    WinnowAnchors.anchors(input.asInstanceOf[ArrayData].toLongArray(), w))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = ${classOf[UnsafeArrayData].getName}.fromPrimitiveArray(" +
        s"graft.functions.WinnowAnchors.anchors($c.toLongArray(), $w));")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowAnchors {
  /** The winnowed anchors of xs in window order (not distinct). Called
    * from generated code (static forwarder on the companion class).
    *
    * O(n): a monotone deque of indices whose values rise strictly from
    * front to back. A new index first pops every back entry whose value
    * is >= its own, so the front is always the window's rightmost
    * minimum — the tie rule of the per-window scan. */
  def anchors(xs: Array[Long], w: Int): Array[Long] = {
    val n = xs.length
    if (n == 0) return Array.emptyLongArray
    val out = new Array[Long](n)
    val dq = new Array[Int](n) // each index enters once: no wrap-around
    var head = 0
    var tail = 0
    var next = 0 // next index to enter the deque
    var cnt = 0
    var last = -1 // index of previously selected anchor
    var i = 0
    val lim = math.max(1, n - w + 1)
    while (i < lim) {
      val end = if (n - i <= w) n else i + w // min(i + w, n) without Int overflow
      while (next < end) {
        val v = xs(next)
        while (tail > head && xs(dq(tail - 1)) >= v) tail -= 1
        dq(tail) = next
        tail += 1
        next += 1
      }
      while (dq(head) < i) head += 1
      val m = dq(head)
      if (m != last) { out(cnt) = xs(m); cnt += 1; last = m }
      i += 1
    }
    java.util.Arrays.copyOf(out, cnt)
  }
}

object winnow {
  def winnowAnchors(c: Column, w: Int): Column =
    Bridge.column(WinnowAnchors(Bridge.expression(c), w))
}
