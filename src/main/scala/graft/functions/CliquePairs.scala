package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/**
 * Fused clique-pair expansion for the candidate stage: given a bucket's
 * members as aligned (ids, tags) long arrays — the two fields of one
 * collect_list(struct(doc_id, tag)) — produce every
 * unordered member pair, sorted so each pair is canonical, as
 * `array<struct<a: struct<u, t>, b: struct<u, t>>>`.
 *
 * Bit-for-bit replacement (CliquePairsSpec) for the composed chain
 *
 *   pairExpand(array_sort(zip_with(ids, tags, (u, t) => struct(u, t))))
 *
 * where pairExpand is flatten(transform(m, (x, i) => transform(
 * slice(m, i + 2, size(m)), y => struct(x as a, y as b)))): sort by
 * (u, t) ascending — array_sort's default struct ordering — then emit
 * (m[i], m[j]) for every i < j in that order. The composed form walks
 * FIVE lambda-bearing interpreted trees per bucket (zip_with, array_sort
 * comparator, two nested transforms, flatten) and allocates a sliced
 * array per member; lambda-bearing trees are also exempt from
 * common-subexpression elimination. This is one primitive sort + one
 * preallocated output array per bucket, with codegen via a static call.
 *
 * Contract: ids and tags MUST be the same length (fields of one struct
 * array are aligned by construction) — enforced with require, where
 * zip_with would have silently null-padded. Null arrays → null
 * (nullIntolerant); null ELEMENTS cannot occur (doc_id and tag are
 * non-null longs).
 * Output size is n(n-1)/2 — callers gate n at the bucket cap, exactly
 * as they did around the composed form.
 */
case class SortedCliquePairs(left: Expression, right: Expression)
    extends BinaryExpression {

  private val member = StructType(Seq(
    StructField("u", LongType, nullable = false),
    StructField("t", LongType, nullable = false)))

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("a", member, nullable = false),
    StructField("b", member, nullable = false))), containsNull = false)

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "sorted_clique_pairs"

  override def nullSafeEval(ids: Any, tags: Any): Any =
    SortedCliquePairs.pairs(ids.asInstanceOf[ArrayData], tags.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (idsC, tagsC) => {
      s"""
         |${ev.value} = graft.functions.SortedCliquePairs.pairs($idsC, $tagsC);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object SortedCliquePairs {
  /** Largest array the JVM allocates; 65535 members (DedupConfig's
    * bucketCap bound) give 2,147,385,345 pairs, under it. */
  val MaxPairs: Long = Int.MaxValue - 8L

  // called from generated code (static forwarder on the companion class)
  def pairs(ids: ArrayData, tags: ArrayData): ArrayData = {
    val n = ids.numElements()
    require(tags.numElements() == n,
      s"sorted_clique_pairs: ids ($n) and tags (${tags.numElements()}) must align")
    val u = ids.toLongArray()
    val t = tags.toLongArray()
    // sort member indices by (u, t) ascending — array_sort's default
    // ordering for struct<u: long, t: long>
    val idx = Array.range(0, n)
    // boxed sort on an index permutation: n is bucket-cap-bounded and the
    // comparator is two primitive compares
    val perm = idx.sortWith { (i, j) =>
      if (u(i) != u(j)) u(i) < u(j) else t(i) < t(j)
    }
    val members = new Array[InternalRow](n)
    var i = 0
    while (i < n) {
      val k = perm(i)
      members(i) = new GenericInternalRow(Array[Any](u(k), t(k)))
      i += 1
    }
    val nPairs = if (n < 2) 0L else n.toLong * (n - 1) / 2
    require(nPairs <= MaxPairs, s"sorted_clique_pairs: $n members give $nPairs pairs, " +
      s"over the $MaxPairs-element array bound (at most 65535 members fit)")
    val out = new Array[Any](nPairs.toInt)
    var o = 0
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        out(o) = new GenericInternalRow(Array[Any](members(i), members(j)))
        o += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object cliquepairs {
  def sortedCliquePairs(ids: Column, tags: Column): Column =
    Bridge.column(SortedCliquePairs(Bridge.expression(ids), Bridge.expression(tags)))
}
