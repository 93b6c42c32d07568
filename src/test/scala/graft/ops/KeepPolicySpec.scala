package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestSession

/** KeepPolicy contract: exactly one survivor per scored cluster, argmax by
  * (score desc, id asc), singleton pass-through, and a plan with no
  * windowed per-cluster sort (the skew-safety property the scaladoc
  * promises). */
class KeepPolicySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    ("u1", "a b c d"),       // cluster X, diversity 1000
    ("u2", "a a a a"),       // cluster X, diversity 250
    ("u3", "a b a b"),       // cluster X, diversity 500
    ("u4", "q r s t"),       // cluster Y, diversity 1000 (tie with u5)
    ("u5", "w x y z"),       // cluster Y, diversity 1000 (tie -> min id u4)
    ("u6", "lone wolf text"), // unclustered
    ("u7", null),            // cluster Z, null score
    ("u8", null)             // cluster Z, null score -> Z keeps none
  ).toDF("url", "text")

  private val clusters = Seq(
    ("u1", "u1"), ("u2", "u1"), ("u3", "u1"),
    ("u4", "u4"), ("u5", "u4"),
    ("u7", "u7"), ("u8", "u7")
  ).toDF("url", "cluster_id")

  private def run() = KeepPolicy.survivors(
    docs, clusters, KeepPolicy.diversityScore(col("text")))
    .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

  test("one survivor per cluster: max score wins, min id breaks ties") {
    val out = run()
    assert(out == Set(
      ("u1", "u1", 1L), ("u2", "u1", 0L), ("u3", "u1", 0L),
      ("u4", "u4", 1L), ("u5", "u4", 0L),
      ("u6", "u6", 1L),
      ("u7", "u7", 0L), ("u8", "u7", 0L)))
  }

  test("every cluster keeps exactly one; unclustered docs all survive") {
    val out = run().groupBy(_._2).view.mapValues(_.count(_._3 == 1L))
    // a cluster whose every score is null has no argmax and keeps none
    assert(out.toMap == Map("u1" -> 1, "u4" -> 1, "u6" -> 1, "u7" -> 0))
  }

  test("deterministic under repartitioning") {
    val a = run()
    val b = KeepPolicy.survivors(docs.repartition(5), clusters.repartition(3),
      KeepPolicy.diversityScore(col("text")))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(a == b)
  }

  test("plan discipline: no window sort, no cartesian/nested-loop join") {
    val plan = KeepPolicy.survivors(docs, clusters,
      KeepPolicy.diversityScore(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"windowed per-cluster sort in plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"unbounded join in plan:\n$plan")
  }
}
